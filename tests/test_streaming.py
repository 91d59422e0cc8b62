"""Structured Streaming tests: file-source ingest keyed into the
table's dedup, windowed aggregation, foreachBatch upsert — all with
availableNow triggers so they run to completion on the test fixtures.
"""

from __future__ import annotations

import pytest

from jobsity_data_pipeline_spark.streaming import stream as ST

CSV_HEADER = "region,origin_coord,destination_coord,datetime,datasource"
BATCH1 = [
    'Prague,"POINT (14.49 50.00)","POINT (14.43 50.04)",2018-05-28 09:03:40,funny_car',
    'Turin,"POINT (7.67 44.99)","POINT (7.72 45.06)",2018-05-28 10:54:04,baba_car',
    # duplicate of the first row inside the same batch
    'Prague,"POINT (14.49 50.00)","POINT (14.43 50.04)",2018-05-28 09:03:40,funny_car',
]
BATCH2 = [
    # replay of batch1 row (cross-batch duplicate) + one new trip
    'Prague,"POINT (14.49 50.00)","POINT (14.43 50.04)",2018-05-28 09:03:40,funny_car',
    'Prague,"POINT (14.30 50.10)","POINT (14.40 50.20)",2018-05-28 11:00:00,cheap_mobile',
]


def _write_csv(dirpath, name, rows):
    p = dirpath / name
    p.write_text("\n".join([CSV_HEADER] + rows))
    return p


@pytest.fixture()
def src_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    return d


def _stream_trips(spark, src_dir, tmp_path):
    """One availableNow run of the trips stream into ``tmp_path/hist``
    (checkpoint ``tmp_path/ckpt``); returns the finished query."""
    from jobsity_data_pipeline_spark.sources.snapshot import (
        start_snapshot_upsert,
    )

    trips = ST.read_trips_stream(spark, str(src_dir))
    q = start_snapshot_upsert(ST.dedup_stream(trips), str(tmp_path / "hist"),
                              str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert q.exception() is None
    return q


def _run_upsert(spark, src_dir, tmp_path):
    _stream_trips(spark, src_dir, tmp_path)
    return str(tmp_path / "hist")


def test_stream_dedup_and_upsert(spark, src_dir, tmp_path):
    from jobsity_data_pipeline_spark.sources.snapshot import read_latest

    _write_csv(src_dir, "b1.csv", BATCH1)
    hist = _run_upsert(spark, src_dir, tmp_path)
    got = read_latest(spark, hist)
    assert got.count() == 2  # in-batch duplicate dropped
    assert got.select("trip_key").distinct().count() == 2

    # second drop: replayed row skipped by hist anti-join, new row added
    _write_csv(src_dir, "b2.csv", BATCH2)
    hist = _run_upsert(spark, src_dir, tmp_path)
    got = read_latest(spark, hist)
    assert got.count() == 3
    assert got.select("trip_key").distinct().count() == 3


def _trip(region, ts):
    return f'{region},"POINT (14.49 50.00)","POINT (14.43 50.04)",{ts},funny_car'


EARLY_DROP = [_trip("Prague", "2018-05-28 09:03:40"),
              _trip("Turin", "2018-05-10 10:54:04")]


def test_stream_late_new_trip_lands(spark, src_dir, tmp_path):
    """A new trip weeks older than every landed one is inserted, as the
    batch path and ON CONFLICT DO NOTHING would."""
    from jobsity_data_pipeline_spark.sources.snapshot import read_latest

    _write_csv(src_dir, "b1.csv", EARLY_DROP)
    hist = _run_upsert(spark, src_dir, tmp_path)
    _write_csv(src_dir, "b2.csv", [_trip("Milan", "2018-05-01 08:00:00")])
    hist = _run_upsert(spark, src_dir, tmp_path)
    assert read_latest(spark, hist).count() == 3


def test_stream_late_resend_not_duplicated(spark, src_dir, tmp_path):
    """A late re-send of a landed trip is dropped by the table's
    anti-join, however far behind the stream it arrives."""
    from jobsity_data_pipeline_spark.sources.snapshot import read_latest

    _write_csv(src_dir, "b1.csv", EARLY_DROP)
    hist = _run_upsert(spark, src_dir, tmp_path)
    _write_csv(src_dir, "b2.csv", [EARLY_DROP[1]])
    hist = _run_upsert(spark, src_dir, tmp_path)
    got = read_latest(spark, hist)
    assert got.count() == 2
    assert got.select("trip_key").distinct().count() == 2


def test_stream_crash_replay_is_exactly_once(spark, src_dir, tmp_path):
    """A crash after the table commit but before the checkpoint commit
    (simulated by deleting the last commit log entry) replays that
    micro-batch on restart: its token is published, so the replay
    skips and the restart succeeds with the rows unchanged."""
    import os

    from jobsity_data_pipeline_spark.sources.snapshot import read_latest

    _write_csv(src_dir, "b1.csv", BATCH1)
    hist = _run_upsert(spark, src_dir, tmp_path)
    _write_csv(src_dir, "b2.csv", BATCH2)
    hist = _run_upsert(spark, src_dir, tmp_path)
    before = sorted(r.trip_key for r in read_latest(spark, hist).collect())
    commits = tmp_path / "ckpt" / "commits"
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    os.remove(commits / str(last))
    # the checksum sidecar too, or the restart trips over the stale
    # entry instead of replaying the batch
    os.remove(commits / f".{last}.crc")
    hist = _run_upsert(spark, src_dir, tmp_path)
    after = sorted(r.trip_key for r in read_latest(spark, hist).collect())
    assert after == before and len(after) == 3


def test_trips_stream_is_stateless_one_version_per_drop(spark, src_dir,
                                                        tmp_path):
    """The trips stream keeps no state store and publishes exactly one
    table version per drop (no watermark-advancing no-data batch)."""
    from jobsity_data_pipeline_spark.sources.snapshot import history

    drops = [BATCH1, BATCH2, EARLY_DROP]
    for i, rows in enumerate(drops):
        _write_csv(src_dir, f"b{i}.csv", rows)
        q = _stream_trips(spark, src_dir, tmp_path)
        assert ST.ingest_status(q)["n_state_operators"] == 0
    assert len(history(str(tmp_path / "hist"))) == len(drops)


def test_duplicate_only_drop_lists_no_empty_file(spark, src_dir, tmp_path):
    """A drop whose rows are all duplicates publishes its token as one
    version over the unchanged file list; no version lists a 0-row
    file. A table's first version still gets a typed file when empty."""
    import pyarrow.parquet as pq

    from jobsity_data_pipeline_spark.pipeline import trips as TP
    from jobsity_data_pipeline_spark.sources.snapshot import (
        history, latest_manifest, read_latest, upsert_batch,
    )

    _write_csv(src_dir, "b1.csv", BATCH1)
    hist = _run_upsert(spark, src_dir, tmp_path)
    files = latest_manifest(hist)["files"]
    _write_csv(src_dir, "b2.csv", BATCH1[:2])
    hist = _run_upsert(spark, src_dir, tmp_path)
    assert len(history(hist)) == 2
    assert latest_manifest(hist)["files"] == files
    assert all(pq.ParquetFile(f).metadata.num_rows > 0 for f in files)

    empty = str(tmp_path / "empty")
    trips = TP.with_trip_key(ST.read_trips_stream(spark, str(src_dir)))
    assert upsert_batch(spark.createDataFrame([], trips.schema), 0,
                        empty) == "published"
    assert read_latest(spark, empty).dtypes == trips.dtypes


def test_windowed_counts(spark, src_dir, tmp_path):
    _write_csv(src_dir, "b1.csv", BATCH1)
    trips = ST.read_trips_stream(spark, str(src_dir))
    # zero watermark delay so availableNow closes every window behind
    # the max event time (append mode only emits CLOSED windows)
    windowed = ST.windowed_trip_counts(trips, window="1 hour",
                                       watermark="0 seconds")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt2")
    q = (
        windowed.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.region, str(r.window_start)): r.n_trips
        for r in spark.read.parquet(out).collect()
    }
    # watermark lands at 10:54 -> the 09:00 window is closed and
    # emitted; the 10:00 window (Turin) is still open, hence absent
    assert got == {("Prague", "2018-05-28 09:00:00"): 2}


def test_stream_is_streaming(spark, src_dir):
    _write_csv(src_dir, "b1.csv", BATCH1)
    trips = ST.read_trips_stream(spark, str(src_dir))
    assert trips.isStreaming


def test_stateful_sessionize_stream(spark, src_dir, tmp_path):
    rows = [
        'Prague,"POINT (14.49 50.00)","POINT (14.43 50.04)",2018-05-28 09:00:00,funny_car',
        'Prague,"POINT (14.49 50.00)","POINT (14.43 50.04)",2018-05-28 09:10:00,funny_car',
        # > 30 min gap -> session closes, new one opens
        'Prague,"POINT (14.49 50.00)","POINT (14.43 50.04)",2018-05-28 11:00:00,funny_car',
        'Turin,"POINT (7.67 44.99)","POINT (7.72 45.06)",2018-05-28 09:05:00,baba_car',
    ]
    _write_csv(src_dir, "b1.csv", rows)
    trips = ST.read_trips_stream(spark, str(src_dir))
    sessions = ST.sessionize_stream(trips, watermark="0 seconds")
    out = str(tmp_path / "sess_out")
    q = (
        sessions.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    # the closed Prague session (09:00-09:10, 2 trips) must be emitted;
    # open sessions stay in state
    closed = {(r.region, str(r.session_start), str(r.session_end), r.n_trips)
              for r in got}
    assert ("Prague", "2018-05-28 09:00:00", "2018-05-28 09:10:00", 2) in closed


def test_parse_duration_seconds():
    assert ST.parse_duration_seconds("30 seconds") == 30
    assert ST.parse_duration_seconds("45 minutes") == 2700
    assert ST.parse_duration_seconds("2 hours") == 7200
    # the old substring heuristic mapped '130 minutes' to 1800s
    assert ST.parse_duration_seconds("130 minutes") == 7800
    with pytest.raises(ValueError):
        ST.parse_duration_seconds("a while")


def test_stream_stream_interval_join(spark, src_dir, tmp_path):
    rows = [
        'Prague,"POINT (14.49 50.00)","POINT (14.43 50.04)",2018-05-28 09:00:00,funny_car',
        # within 1h of the first -> chained
        'Prague,"POINT (14.30 50.10)","POINT (14.40 50.20)",2018-05-28 09:30:00,cheap_mobile',
        # 2h after the second -> NOT chained (horizon exceeded)
        'Prague,"POINT (14.31 50.11)","POINT (14.41 50.21)",2018-05-28 11:30:00,funny_car',
        'Turin,"POINT (7.67 44.99)","POINT (7.72 45.06)",2018-05-28 09:05:00,baba_car',
    ]
    _write_csv(src_dir, "b1.csv", rows)
    trips = ST.read_trips_stream(spark, str(src_dir))
    chains = ST.stream_trip_chains(trips, horizon="1 hour")
    out = str(tmp_path / "chain_out")
    q = (
        chains.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "chain_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [(r.region, str(r.first_time), str(r.next_time))
           for r in spark.read.parquet(out).collect()]
    assert got == [("Prague", "2018-05-28 09:00:00", "2018-05-28 09:30:00")]


def test_session_window_stream(spark, src_dir, tmp_path):
    rows = [
        'Prague,"POINT (14.49 50.00)","POINT (14.43 50.04)",2018-05-28 09:00:00,funny_car',
        'Prague,"POINT (14.49 50.00)","POINT (14.43 50.04)",2018-05-28 09:10:00,funny_car',
        # > 30 min gap -> second session (stays open past the watermark)
        'Prague,"POINT (14.49 50.00)","POINT (14.43 50.04)",2018-05-28 11:00:00,funny_car',
    ]
    _write_csv(src_dir, "b1.csv", rows)
    trips = ST.read_trips_stream(spark, str(src_dir))
    sessions = ST.session_window_stream(trips)
    out = str(tmp_path / "sw_out")
    q = (
        sessions.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.region, str(r.session_start), str(r.session_end), r.n_trips)
           for r in spark.read.parquet(out).collect()}
    # closed session: 09:00-09:10 merged (gap < 30m), window end = last + gap
    assert ("Prague", "2018-05-28 09:00:00", "2018-05-28 09:40:00", 2) in got


def test_enrich_stream_broadcast_join(spark, tmp_path):
    import os

    from jobsity_data_pipeline_spark.streaming.stream import enrich_stream

    src = tmp_path / "src"
    os.makedirs(src)
    (src / "a.csv").write_text(
        "region,origin_coord,destination_coord,datetime,datasource\n"
        "Prague,POINT (14.4 50.0),POINT (14.5 50.1),2018-05-28 09:03:40,funny_car\n"
        "Turin,POINT (7.6 45.0),POINT (7.7 45.1),2018-05-28 10:00:00,baba_car\n"
    )
    from jobsity_data_pipeline_spark.streaming.stream import read_trips_stream

    dim = spark.createDataFrame(
        [("Prague", "CZ"), ("Turin", "IT")], "region string, country string"
    )
    stream = read_trips_stream(spark, str(src))
    enriched = enrich_stream(stream, dim, "region")
    out = (
        enriched.writeStream.format("memory")
        .queryName("enriched_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(60)
    rows = {
        (r.region, r.country)
        for r in spark.sql("SELECT region, country FROM enriched_test").collect()
    }
    assert rows == {("Prague", "CZ"), ("Turin", "IT")}


def test_stream_stream_left_outer_emits_dead_ends(spark, src_dir, tmp_path):
    rows1 = [
        # has a successor 30 min later -> inner match
        'Prague,"POINT (14.49 50.00)","POINT (14.43 50.04)",2018-05-28 09:00:00,funny_car',
        'Prague,"POINT (14.30 50.10)","POINT (14.40 50.20)",2018-05-28 09:30:00,cheap_mobile',
        # dead end: no same-region trip within the 1h horizon
        'Turin,"POINT (7.67 44.99)","POINT (7.72 45.06)",2018-05-28 09:05:00,baba_car',
    ]
    _write_csv(src_dir, "b1.csv", rows1)
    trips = ST.read_trips_stream(spark, str(src_dir))
    chains = ST.stream_trip_chains(
        trips, horizon="1 hour", watermark="30 minutes", how="left_outer"
    )
    out = str(tmp_path / "lo_out")
    ckpt = str(tmp_path / "lo_ckpt")

    def run():
        q = (
            chains.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # a later batch far past every horizon advances the watermark so
    # the engine can PROVE the Turin trip has no successor and emit it
    _write_csv(src_dir, "b2.csv", [
        'Madrid,"POINT (-3.70 40.41)","POINT (-3.68 40.42)",2018-05-29 12:00:00,funny_car',
    ])
    run()
    got = spark.read.parquet(out).collect()
    matched = [(r.region, str(r.next_time))
               for r in got if r.next_key is not None]
    unmatched = sorted(r.region for r in got if r.next_key is None)
    assert matched == [("Prague", "2018-05-28 09:30:00")]
    # dead ends emitted with nulls once the watermark passed: the
    # matched Prague trip's successor (itself a dead end), the Turin
    # trip, and eventually Madrid stays pending (stream end)
    assert "Turin" in unmatched


def test_ingest_status_reports_progress(spark, tmp_path):
    """The push-style status surface (the reference's Spark-UI
    polling, programmatic): after an availableNow run it reports the
    final batch's throughput numbers; on a finished query it is
    inactive with no exception."""
    from jobsity_data_pipeline_spark.streaming.stream import (
        ingest_status, read_trips_stream, windowed_trip_counts,
        with_event_time,
    )

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        ("r1", "POINT (1 2)", "POINT (3 4)",
         "2024-01-01 10:00:00", "ds1", float(i))
        for i in range(20)
    ]
    spark.createDataFrame(
        rows,
        "region string, origin_coord string, destination_coord string, "
        "datetime string, datasource string, value double",
    ).coalesce(1).write.option("header", "true").mode(
        "overwrite"
    ).csv(str(src))

    stream = with_event_time(read_trips_stream(spark, str(src)))
    agg = windowed_trip_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("status_probe")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    st = ingest_status(q)
    assert st["query_id"]
    assert st["is_active"] is False
    assert st["exception"] is None
    assert st["batch_id"] is not None
    assert st["num_input_rows"] == 20
    assert st["sources"] and "FileStreamSource" in st["sources"][0]


def test_stream_bm25_postings_equals_batch_and_replays_idempotent(
    spark, tmp_path
):
    from jobsity_data_pipeline_spark.operators.textops import (
        bm25_postings, bm25_topk_from_postings,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import (
        latest_manifest, upsert_batch,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        bm25_from_index, stream_bm25_postings,
    )

    schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    texts = [
        "spark join stream vector spark join",
        "vector vector vector and nothing else",
        "plain words with none of the query terms at all",
        "join join join stream",
        "spark stream",
        "a longer body of filler words then one spark at the end",
    ]
    src = tmp_path / "docs"
    src.mkdir()
    for half in (0, 1):  # two files -> two micro-batches
        rows = [
            (i, t, "en", "test", len(t))
            for i, t in enumerate(texts)
            if i % 2 == half
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    table = str(tmp_path / "bm25_index")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_bm25_postings(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # 1) serving from the maintained index == the batch ranker's exact
    # output over the full corpus (same scoring helper, same rows)
    all_docs = spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in enumerate(texts)], schema
    )
    want = [
        tuple(r)
        for r in bm25_topk_from_postings(bm25_postings(all_docs)).collect()
    ]
    got = [tuple(r) for r in bm25_from_index(spark, table).collect()]
    assert got == want
    # docs 2 (no query terms) never scores; all others do
    scored_ids = {r[0] for r in got}
    assert scored_ids == {0, 1, 3, 4, 5}

    # 2) replaying an already-applied batch is a published no-op
    import pyspark.sql.functions as F

    v_before = latest_manifest(table)["version"]
    batch0 = bm25_postings(all_docs.where("doc_id % 2 = 0")).withColumn(
        "doc_key", F.col("doc_id").cast("string")
    )
    assert upsert_batch(batch0, 0, table, key="doc_key") == "skipped_duplicate"
    assert latest_manifest(table)["version"] == v_before


def test_stream_m4_upsert_equals_batch_and_merge_is_absorbing(
    spark, tmp_path
):
    """The streamed M4 state equals the batch archetypes over the
    union, and re-merging any batch's delta leaves the state
    unchanged (all four aggregates are absorbing merges — the
    replay-safety HLL gets from max and counts do not have)."""
    import datetime as dt

    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.relational11 import (
        m4_state_frame,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        m4_from_state, stream_m4_upsert,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=17 * i), i % 5,
         "view" if i % 3 else "purchase", round(1.0 + 2.3 * i, 2), "{}")
        for i in range(150)
    ]
    src = tmp_path / "events"
    for half in (0, 1):
        spark.createDataFrame(
            [r for i, r in enumerate(rows) if i % 2 == half], schema
        ).coalesce(1).write.mode("append").parquet(str(src))

    state = str(tmp_path / "m4_state")
    counts = str(tmp_path / "m4_counts")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_m4_upsert(stream, state, str(tmp_path / "ckpt"),
                         count_path=counts)
    q.awaitTermination(120)

    all_events = spark.createDataFrame(rows, schema)
    want = {
        (r.event_type, r.bucket):
        (r.min_cents, r.max_cents,
         r.first_k.c, r.last_k.c)
        for r in m4_state_frame(all_events).collect()
    }
    got = {
        (r.event_type, r.bucket):
        (r.min_cents, r.max_cents, r.first_cents, r.last_cents)
        for r in m4_from_state(spark, state).collect()
    }
    assert got == want

    # the FULL batch shape including n: counts ride the delta table
    want_n = {
        (r.event_type, r.bucket): r.n
        for r in all_events.groupBy(
            "event_type",
            F.expr("unix_micros(ts) div " + str(6 * 3_600_000_000))
            .alias("bucket"),
        ).agg(F.count("*").alias("n")).collect()
    }
    full = m4_from_state(spark, state, count_path=counts)
    assert {
        (r.event_type, r.bucket): r.n for r in full.collect()
    } == want_n
    assert {
        (r.event_type, r.bucket):
        (r.min_cents, r.max_cents, r.first_cents, r.last_cents)
        for r in full.collect()
    } == want

    # count replay is a no-op via the manifest batch token (the
    # non-absorbing half of the design): re-upserting batch 0's
    # deltas is skipped and n is unchanged
    from jobsity_data_pipeline_spark.sources.snapshot import upsert_batch

    fake = spark.createDataFrame(
        [("view", 0, 999, "0|0|view")],
        "event_type string, bucket long, n long, delta_key string",
    )
    assert upsert_batch(fake, 0, counts, key="delta_key") \
        == "skipped_duplicate"
    assert {
        (r.event_type, r.bucket): r.n
        for r in m4_from_state(spark, state, count_path=counts).collect()
    } == want_n

    # absorbing: re-merging batch 0's delta changes nothing
    from jobsity_data_pipeline_spark.sources.snapshot import read_latest

    delta0 = m4_state_frame(
        spark.createDataFrame(
            [r for i, r in enumerate(rows) if i % 2 == 0], schema
        )
    )
    merged = (
        read_latest(spark, state).unionByName(delta0)
        .groupBy("event_type", "bucket")
        .agg(
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
            F.min("first_k").alias("first_k"),
            F.max("last_k").alias("last_k"),
        )
    )
    re_got = {
        (r.event_type, r.bucket):
        (r.min_cents, r.max_cents, r.first_k.c, r.last_k.c)
        for r in merged.collect()
    }
    assert re_got == want


def test_stream_hdr_deltas_equals_batch_and_replays_idempotent(
    spark, tmp_path
):
    """The HDR sketch maintained as per-batch snapshot deltas serves
    the same quantiles as the batch operator over the union, and a
    replayed batch cannot double-count (manifest token idempotence —
    the property an absorbing-merge sketch gets for free and a
    count-merge must buy from the commit protocol)."""
    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.relational11 import (
        hdr_bucket_counts, hdr_quantiles_from_counts,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import (
        latest_manifest, upsert_batch,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        hdr_from_index, stream_hdr_deltas,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), i % 7,
         "view" if i % 2 == 0 else "purchase",
         round(0.5 + 3.7 * i, 2), "{}")
        for i in range(200)
    ]
    src = tmp_path / "events"
    for half in (0, 1):  # two files -> two micro-batches
        spark.createDataFrame(
            [r for i, r in enumerate(rows) if i % 2 == half], schema
        ).coalesce(1).write.mode("append").parquet(str(src))

    table = str(tmp_path / "hdr_idx")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_hdr_deltas(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    all_events = spark.createDataFrame(rows, schema)
    want = [
        tuple(r) for r in
        hdr_quantiles_from_counts(hdr_bucket_counts(all_events)).collect()
    ]
    got = [tuple(r) for r in hdr_from_index(spark, table).collect()]
    assert got == want

    # replaying batch 0's delta under its original token is a no-op:
    # the counts cannot double
    v = latest_manifest(table)["version"]
    b0 = hdr_bucket_counts(
        spark.createDataFrame(
            [r for i, r in enumerate(rows) if i % 2 == 0], schema
        )
    ).withColumn(
        "delta_key",
        F.concat_ws("|", F.col("bucket_id"), F.lit("0"),
                    F.col("event_type")),
    )
    assert upsert_batch(b0, 0, table, key="delta_key") \
        == "skipped_duplicate"
    assert latest_manifest(table)["version"] == v
    assert [tuple(r) for r in hdr_from_index(spark, table).collect()] \
        == want


def test_stream_cms_upsert_equals_batch_and_replays_idempotent(
    spark, tmp_path
):
    """Round-8 (verdict #3): the CMS counter matrix maintained as
    per-batch snapshot deltas serves the same point estimates as the
    batch kernel over the union, and a replayed batch cannot
    double-count (manifest token idempotence — counters are sums, the
    non-absorbing case, exactly like the HDR deltas)."""
    import datetime as dt

    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.textops import (
        cms_counts, cms_point_estimates,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import (
        latest_manifest, upsert_batch,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        cms_from_state, stream_cms_upsert,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    base = dt.datetime(2024, 1, 1)
    # zipf-ish: low user ids dominate, so heavy hitters exist
    rows = [
        (i, base + dt.timedelta(minutes=i), i % (1 + i % 11),
         "view", 1.0, "{}")
        for i in range(300)
    ]
    src = tmp_path / "events"
    for half in (0, 1):  # two files -> two micro-batches
        spark.createDataFrame(
            [r for i, r in enumerate(rows) if i % 2 == half], schema
        ).coalesce(1).write.mode("append").parquet(str(src))

    table = str(tmp_path / "cms_idx")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_cms_upsert(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    all_events = spark.createDataFrame(rows, schema)
    hitters = (
        all_events.groupBy("user_id")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "user_id")
        .limit(5)
    )
    want = {
        (r.user_id, r.exact_cnt): r.cms_est
        for r in cms_point_estimates(
            cms_counts(all_events), hitters
        ).collect()
    }
    got = {
        (r.user_id, r.exact_cnt): r.cms_est
        for r in cms_from_state(spark, table, hitters).collect()
    }
    assert got == want
    # every estimate upper-bounds its exact count (the CMS contract)
    assert all(est >= n for (_, n), est in got.items())

    # replaying batch 0's delta under its original token is a no-op
    v = latest_manifest(table)["version"]
    b0 = cms_counts(
        spark.createDataFrame(
            [r for i, r in enumerate(rows) if i % 2 == 0], schema
        )
    ).withColumn(
        "delta_key",
        F.concat_ws("|", F.col("r"), F.col("bucket"), F.lit("0")),
    )
    assert upsert_batch(b0, 0, table, key="delta_key") \
        == "skipped_duplicate"
    assert latest_manifest(table)["version"] == v
    assert {
        (r.user_id, r.exact_cnt): r.cms_est
        for r in cms_from_state(spark, table, hitters).collect()
    } == want


def test_bm25_index_persists_terms_and_rejects_mismatch(spark, tmp_path):
    import pytest

    from jobsity_data_pipeline_spark.operators.textops import (
        BM25_TERMS, bm25_postings, bm25_topk_from_postings,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import latest_manifest
    from jobsity_data_pipeline_spark.streaming.stream import (
        bm25_from_index, stream_bm25_postings,
    )

    schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    texts = ["alpha beta beta", "beta gamma", "delta delta alpha", "gamma"]
    src = tmp_path / "docs"
    spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in enumerate(texts)], schema
    ).coalesce(1).write.parquet(str(src))

    custom = ("alpha", "beta", "gamma", "delta")
    table = str(tmp_path / "idx")
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = stream_bm25_postings(stream, table, str(tmp_path / "ckpt"),
                             terms=custom)
    q.awaitTermination(120)

    # the term list rides the manifest and is the scoring default
    assert tuple(latest_manifest(table)["bm25_terms"]) == custom
    all_docs = spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in enumerate(texts)], schema
    )
    want = [
        tuple(r)
        for r in bm25_topk_from_postings(
            bm25_postings(all_docs, custom), terms=custom
        ).collect()
    ]
    assert [tuple(r) for r in bm25_from_index(spark, table).collect()] == want
    # explicit matching terms are accepted; a same-arity different list
    # (which would silently mis-score the positional tf columns) errors
    assert [
        tuple(r)
        for r in bm25_from_index(spark, table, terms=custom).collect()
    ] == want
    with pytest.raises(ValueError, match="was built with"):
        bm25_from_index(spark, table, terms=BM25_TERMS)


def test_stream_kmv_upsert_equals_batch_and_merge_is_absorbing(
    spark, tmp_path
):
    """The streamed KMV state serves the same per-type estimate as the
    batch events_kmv_distinct over the union of micro-batches, and
    re-merging a batch's delta leaves the state unchanged (bottom-k of
    the distinct union is an absorbing merge, the replay-safety class
    HLL registers and M4 extrema share)."""
    import datetime as dt

    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.relational5 import (
        events_kmv_distinct,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import read_latest
    from jobsity_data_pipeline_spark.streaming.stream import (
        kmv_from_state, stream_kmv_upsert,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    base = dt.datetime(2024, 1, 1)
    # overlapping users across batches: replay/dup safety must come
    # from the distinct-union merge, not from disjointness
    rows = [
        (i, base + dt.timedelta(minutes=i), (i * 7) % 211,
         "view" if i % 3 else "purchase", 1.0, "{}")
        for i in range(600)
    ]
    src = tmp_path / "events"
    for third in (0, 1, 2):
        spark.createDataFrame(
            [r for i, r in enumerate(rows) if i % 3 == third], schema
        ).coalesce(1).write.mode("append").parquet(str(src))

    state = str(tmp_path / "kmv_state")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_kmv_upsert(stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    sf_like = tmp_path / "sf"
    (sf_like / "events.parquet").parent.mkdir(exist_ok=True)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(sf_like / "events.parquet"))
    want = {
        r.event_type: r.kmv_est
        for r in events_kmv_distinct(spark, str(sf_like)).collect()
    }
    got = {
        r.event_type: r.kmv_est
        for r in kmv_from_state(spark, state).collect()
    }
    assert got == want

    # absorbing: re-merging the full state into itself changes nothing
    st = read_latest(spark, state)
    re_merged = (
        st.unionByName(st)
        .groupBy("event_type")
        .agg(
            F.slice(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("mins")))
                ), 1, 64,
            ).alias("mins")
        )
    )
    a = {r.event_type: list(r.mins) for r in st.collect()}
    b = {r.event_type: list(r.mins) for r in re_merged.collect()}
    assert a == b


def test_stream_moments_upsert_serves_batch_welch_bitexact(
    spark, tmp_path
):
    """Round-8: the Welch sufficient statistic maintained as per-batch
    integer moment deltas serves statistics BIT-IDENTICAL to the batch
    events_welch_ttest pipeline over the union (summed exact longs ->
    the shared welch_stats kernel), and a replayed batch cannot
    double-count (manifest token idempotence — moment sums are the
    non-absorbing case)."""
    import datetime as dt

    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.functions import money as M
    from jobsity_data_pipeline_spark.operators.relational12 import (
        welch_moments, welch_stats,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import (
        latest_manifest, upsert_batch,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        stream_moments_upsert, welch_from_state,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    base = dt.datetime(2024, 1, 1)
    types = ["view", "click", "purchase"]
    rows = [
        (i, base + dt.timedelta(minutes=i), i % 7, types[i % 3],
         round((i * 37 % 500) / 100 + i % 13, 2), "{}")
        for i in range(300)
    ]
    src = tmp_path / "events"
    for half in (0, 1):  # two files -> two micro-batches
        spark.createDataFrame(
            [r for i, r in enumerate(rows) if i % 2 == half], schema
        ).coalesce(1).write.mode("append").parquet(str(src))

    table = str(tmp_path / "moments")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_moments_upsert(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    all_events = spark.createDataFrame(rows, schema)
    want = welch_stats(
        welch_moments(
            all_events.select("event_type", M.cents("value").alias("vc"))
        )
    ).collect()
    got = welch_from_state(spark, table).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 3  # all pairs of the three types survive

    # replaying batch 0's delta under its original token is a no-op
    v = latest_manifest(table)["version"]
    b0 = welch_moments(
        spark.createDataFrame(
            [r for i, r in enumerate(rows) if i % 2 == 0], schema
        ).select("event_type", M.cents("value").alias("vc"))
    ).withColumn(
        "delta_key", F.concat_ws("|", F.col("event_type"), F.lit("0")),
    )
    assert upsert_batch(b0, 0, table, key="delta_key") \
        == "skipped_duplicate"
    assert latest_manifest(table)["version"] == v
    assert [tuple(r) for r in welch_from_state(spark, table).collect()] \
        == [tuple(r) for r in want]


def test_cms_probe_counts_empty_buckets_as_zero(spark):
    """Review-fix pin: probing a key the stream never saw returns the
    correct CMS estimate 0 (all its buckets empty -> min over zeros),
    and a key whose buckets are only PARTLY populated by collisions
    takes the zero branch of the min rather than a min over the
    populated subset — the left-join + coalesce contract."""
    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.textops import (
        cms_counts, cms_point_estimates,
    )

    ev = spark.createDataFrame(
        [(1, "view")] * 5 + [(2, "view")] * 3,
        "user_id long, event_type string",
    )
    cms = cms_counts(ev, "user_id", depth=4, width=256)
    probes = spark.createDataFrame(
        [(1,), (2,), (999_999,)], "user_id long"
    )
    got = {
        r.user_id: r.cms_est
        for r in cms_point_estimates(
            cms, probes, "user_id", depth=4, width=256
        ).collect()
    }
    assert set(got) == {1, 2, 999_999}, "absent key must not vanish"
    assert got[999_999] == 0
    # present keys keep the upper-bound contract
    assert got[1] >= 5 and got[2] >= 3


def test_stream_topk_upsert_equals_batch_and_merge_is_absorbing(
    spark, tmp_path
):
    """Round-9: the streamed per-group top-k state serves the SAME
    leaderboard as the batch grouped_topk kernel over the union of
    micro-batches (ranks, payloads, everything), and re-merging the
    full state into itself changes nothing (bottom-k of the distinct
    union is an absorbing merge, the KMV replay-safety class)."""
    import datetime as dt

    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.ranking import (
        grouped_topk,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import read_latest
    from jobsity_data_pipeline_spark.streaming.stream import (
        stream_topk_upsert, topk_from_state,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), i % 37,
         ("view", "purchase", "click")[i % 3],
         float((i * 731) % 997), "{}")
        for i in range(600)
    ]
    src = tmp_path / "events"
    for third in (0, 1, 2):
        spark.createDataFrame(
            [r for i, r in enumerate(rows) if i % 3 == third], schema
        ).coalesce(1).write.mode("append").parquet(str(src))

    state = str(tmp_path / "topk_state")
    order_cols = [-F.col("value"), F.col("event_id")]
    payload_cols = [F.col("event_id"), F.col("user_id"),
                    F.col("value")]
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_topk_upsert(
        stream, state, str(tmp_path / "ckpt"),
        ["event_type"], order_cols, payload_cols, k=5,
    )
    q.awaitTermination(120)

    batch = spark.createDataFrame(rows, schema)
    want = sorted(
        tuple(r) for r in grouped_topk(
            batch, ["event_type"], order_cols, payload_cols, 5,
            F.col("event_id"),
        ).collect()
    )
    got = sorted(
        tuple(r) for r in topk_from_state(spark, state).collect()
    )
    assert got == want and len(got) == 15

    # absorbing: re-merging the full state into itself changes nothing
    st = read_latest(spark, state)
    re_merged = (
        st.unionByName(st)
        .groupBy("event_type")
        .agg(
            F.slice(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("_tk")))
                ), 1, 5,
            ).alias("_tk")
        )
    )
    a = {r.event_type: list(r._tk) for r in st.collect()}
    b = {r.event_type: list(r._tk) for r in re_merged.collect()}
    assert a == b


def test_stream_bloom_upsert_equals_batch_and_merge_is_absorbing(
    spark, tmp_path
):
    """Round-9: the streamed Bloom word state equals a batch
    bloom_words over the union of micro-batches bit-for-bit, re-OR-ing
    the state into itself changes nothing (bit_or is absorbing), and
    a fact prune served from the state passes exactly the rows the
    batch-built prune passes."""
    import datetime as dt

    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.skew import (
        bloom_probe, bloom_prune, bloom_words,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import read_latest
    from jobsity_data_pipeline_spark.streaming.stream import (
        bloom_filter_from_state, stream_bloom_upsert,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), (i * 13) % 409,
         "view", 1.0, "{}")
        for i in range(600)
    ]
    src = tmp_path / "events"
    for third in (0, 1, 2):
        spark.createDataFrame(
            [r for i, r in enumerate(rows) if i % 3 == third], schema
        ).coalesce(1).write.mode("append").parquet(str(src))

    state = str(tmp_path / "bloom_state")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_bloom_upsert(stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    batch = spark.createDataFrame(rows, schema)
    want_words = {
        r.w: r.b for r in bloom_words(batch, "user_id").collect()
    }
    st = read_latest(spark, state)
    got_words = {r.w: r.b for r in st.collect()}
    assert got_words == want_words

    # absorbing: re-OR-ing the full state into itself changes nothing
    re_merged = (
        st.unionByName(st).groupBy("w")
        .agg(F.expr("bit_or(b)").alias("b"))
    )
    assert {r.w: r.b for r in re_merged.collect()} == got_words

    # prune served from the maintained state == batch-built prune
    fact = spark.range(1200).select(F.col("id").alias("k"))
    small = batch.select(F.col("user_id").alias("k2"))
    want = sorted(
        r.k for r in bloom_prune(fact, small, "k", "k2").collect()
    )
    bits = bloom_filter_from_state(spark, state)
    got = sorted(
        r.k for r in bloom_probe(fact, bits, "k").collect()
    )
    assert got == want
    # sanity: the filter passes every true member and prunes most
    members = {r[2] for r in rows}
    assert members.issubset(set(got))
    assert len(got) < 1200


def test_stream_classifier_counts_serves_batch_yield_bitexact(
    spark, tmp_path
):
    """Round-10: the document stream scored with the trained
    classifier's fixed weights and maintained as per-source counter
    deltas serves yield numbers BIT-IDENTICAL to the batch
    docs_classifier_yield over the union (summed exact integer
    counters -> the shared permille shape), and a replayed batch
    cannot double-count (manifest token idempotence — counters are
    the non-absorbing case)."""
    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.relational14 import (
        _qc_trained_weights, classifier_scored,
        classifier_source_counts, docs_classifier_yield,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import (
        latest_manifest, upsert_batch,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        classifier_yield_from_state, stream_classifier_counts,
    )

    schema = (
        "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    stop = "the and of to a in is it for on"
    rows = []
    for i in range(120):
        src_name = ["web", "wiki", "forum"][i % 3]
        if i % 4 == 0:
            text = "tiny doc"  # fails the gopher word-count rule
        else:
            # 55+ words, stopword-bearing, mostly alpha — passes
            text = (stop + " ") * 5 + " ".join(
                f"word{i}x{j}" for j in range(5 + i % 9)
            )
        rows.append((i, text, "en", src_name, len(text)))

    src = tmp_path / "docs"
    for half in (0, 1):  # two files -> two micro-batches
        spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 2 == half], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
    # the batch twin reads <dir>/documents.parquet
    sf_like = tmp_path / "sf"
    sf_like.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(sf_like / "documents.parquet"))

    w = _qc_trained_weights(spark, str(sf_like), rounds=4)
    table = str(tmp_path / "qc_counts")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_classifier_counts(stream, table, str(tmp_path / "ckpt"), w)
    q.awaitTermination(120)

    want = docs_classifier_yield(spark, str(sf_like), rounds=4).collect()
    got = classifier_yield_from_state(spark, table).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 3
    # the filter actually separates: some source keeps less than all
    assert any(r["keep_permille"] < 1000 for r in got)

    # replaying batch 0's delta under its original token is a no-op
    v = latest_manifest(table)["version"]
    b0 = classifier_source_counts(
        classifier_scored(
            spark.createDataFrame(
                [r for j, r in enumerate(rows) if j % 2 == 0], schema
            ), w)
    ).withColumn(
        "delta_key",
        F.concat_ws("|", F.lit("qc"), F.lit("0"), F.col("source")),
    )
    assert upsert_batch(b0, 0, table, key="delta_key") \
        == "skipped_duplicate"
    assert latest_manifest(table)["version"] == v
    assert [
        tuple(r)
        for r in classifier_yield_from_state(spark, table).collect()
    ] == [tuple(r) for r in want]


def test_stream_monthly_rev_serves_forecasts_bitexact(spark, tmp_path):
    """Round-10: monthly revenue maintained as per-batch integer-cent
    deltas serves every forecaster (SES / Holt / HW) BIT-IDENTICAL to
    its batch twin over the same orders — the corpus-free daily-run
    form of the forecast family — and a replayed batch cannot
    double-count (manifest token idempotence, sums are
    non-absorbing)."""
    import datetime as dt

    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.functions import money as M
    from jobsity_data_pipeline_spark.operators import relational14 as R14
    from jobsity_data_pipeline_spark.sources.snapshot import (
        latest_manifest, upsert_batch,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        forecast_from_state, monthly_rev_from_state,
        stream_monthly_rev_upsert,
    )

    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    )
    rows = [
        (i, i % 50, "F", round(100 + (i * 37 % 900) / 4, 2),
         dt.datetime(2023 + i % 3, 1 + i % 12, 1 + i % 28),
         "3-MEDIUM")
        for i in range(900)
    ]
    src = tmp_path / "orders"
    for third in (0, 1, 2):  # three files -> three micro-batches
        spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 3 == third], schema
        ).coalesce(1).write.mode("append").parquet(str(src))

    table = str(tmp_path / "monthly")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_monthly_rev_upsert(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # the served monthly frame equals the batch aggregate exactly
    batch = spark.createDataFrame(rows, schema)
    want_m = sorted(
        tuple(r) for r in batch.groupBy(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.month("o_orderdate").cast("long").alias("o_month"),
        ).agg(F.sum(M.cents("o_totalprice")).alias("rev_c")).collect()
    )
    got_m = sorted(
        tuple(r)
        for r in monthly_rev_from_state(spark, table).collect()
    )
    assert got_m == want_m

    # every forecaster served from state == its kernel over the batch
    months = sorted((int(y), int(m), int(c)) for y, m, c in want_m)
    for method, kernel in (
        ("ses", R14.ses_backtest), ("holt", R14.holt_backtest),
        ("holt_damped", R14.holt_damped_backtest),
        ("hw", R14.hw_backtest),
        ("theta", R14.theta_backtest),  # staged r13: same state
    ):
        got = [
            tuple(r)
            for r in forecast_from_state(spark, table, method=method)
            .collect()
        ]
        assert got == kernel(months), method

    # replaying batch 0's delta under its original token is a no-op
    v = latest_manifest(table)["version"]
    b0 = (
        spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 3 == 0], schema
        )
        .groupBy(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.month("o_orderdate").cast("long").alias("o_month"),
        )
        .agg(F.sum(M.cents("o_totalprice")).alias("rev_c"))
        .withColumn(
            "delta_key",
            F.concat_ws("|", F.lit("rev"), F.lit("0"),
                        F.col("o_year"), F.col("o_month")),
        )
    )
    assert upsert_batch(b0, 0, table, key="delta_key") \
        == "skipped_duplicate"
    assert latest_manifest(table)["version"] == v
    assert sorted(
        tuple(r)
        for r in monthly_rev_from_state(spark, table).collect()
    ) == want_m


def test_stream_cbloom_deletes_serve_surviving_key_filter(
    spark, tmp_path
):
    """Round-10: the counting-Bloom maintainer absorbs DELETES — after
    a stream of inserts and deletes the served packed filter is
    BIT-FOR-BIT the plain bloom_words build over the SURVIVING keys
    (counters track the multiset exactly), probing prunes like the
    batch filter, and a replayed batch cannot double-count."""
    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.skew import (
        bloom_bits_dense, bloom_pos_counts, bloom_probe, bloom_words,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import (
        latest_manifest, upsert_batch,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        cbloom_filter_from_state, stream_cbloom_upsert,
    )

    schema = "user_id long, s int"
    # batch 0: insert keys 0..199; batch 1: insert 200..299 and
    # DELETE the odd keys of batch 0
    b0 = [(k, 1) for k in range(200)]
    b1 = [(k, 1) for k in range(200, 300)] \
        + [(k, -1) for k in range(1, 200, 2)]
    src = tmp_path / "keys"
    for rows in (b0, b1):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))

    table = str(tmp_path / "cbloom")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_cbloom_upsert(
        stream, table, str(tmp_path / "ckpt"), key_col="user_id",
        sign_col="s")
    q.awaitTermination(120)

    survivors = [k for k in range(0, 200, 2)] + list(range(200, 300))
    want_bits = bloom_bits_dense(
        bloom_words(
            spark.createDataFrame([(k,) for k in survivors],
                                  "user_id long"),
            "user_id"),
        1 << 16,
    ).collect()[0][0]
    got = cbloom_filter_from_state(spark, table)
    assert got.collect()[0][0] == want_bits

    # probing through the served filter passes every survivor and
    # prunes most non-members (e.g. the deleted keys)
    fact = spark.range(0, 2000).select(
        F.col("id").alias("user_id"))
    passed = {
        r["user_id"]
        for r in bloom_probe(fact, got, "user_id").collect()
    }
    assert set(survivors).issubset(passed)
    assert len(passed) < 600  # deleted odd keys + far keys pruned

    # replaying batch 0's delta under its original token is a no-op
    v = latest_manifest(table)["version"]
    d0 = bloom_pos_counts(
        spark.createDataFrame(b0, schema), "user_id", sign_col="s"
    ).withColumn(
        "delta_key",
        F.concat_ws("|", F.lit("cb"), F.lit("0"), F.col("pos")),
    )
    assert upsert_batch(d0, 0, table, key="delta_key") \
        == "skipped_duplicate"
    assert latest_manifest(table)["version"] == v
    assert cbloom_filter_from_state(spark, table).collect()[0][0] \
        == want_bits


def test_stream_kanon_counts_serves_batch_audit_bitexact(spark, tmp_path):
    """Round-10: QI-class counters maintained as per-batch integer
    deltas serve the k-anonymity distribution BIT-IDENTICAL to the
    batch docs_k_anonymity over the union (summed exact class counts
    -> the shared kanon_dist kernel), and a replayed batch cannot
    double-count (manifest token idempotence — counters are the
    non-absorbing case)."""
    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.relational15 import (
        docs_k_anonymity, kanon_classes,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import (
        latest_manifest, upsert_batch,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        kanon_from_state, stream_kanon_counts,
    )

    schema = (
        "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    rows = [
        (i, "t", ["en", "de"][i % 2], ["web", "wiki", "forum"][i % 3],
         (i * 97) % 1200)
        for i in range(120)
    ]
    src = tmp_path / "docs"
    for half in (0, 1):  # two files -> two micro-batches
        spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 2 == half], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
    sf_like = tmp_path / "sf"
    sf_like.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(sf_like / "documents.parquet"))

    table = str(tmp_path / "kanon_counts")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_kanon_counts(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    want = [tuple(r)
            for r in docs_k_anonymity(spark, str(sf_like)).collect()]
    got = [tuple(r) for r in kanon_from_state(spark, table).collect()]
    assert got == want and got

    # replaying batch 0's delta under its original token is a no-op
    v = latest_manifest(table)["version"]
    b0 = kanon_classes(
        spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 2 == 0], schema
        )
    ).withColumn(
        "delta_key",
        F.concat_ws("|", F.lit("ka"), F.lit("0"), F.col("lang"),
                    F.col("source"), F.col("len_bucket")),
    )
    assert upsert_batch(b0, 0, table, key="delta_key") \
        == "skipped_duplicate"
    assert latest_manifest(table)["version"] == v
    assert [tuple(r) for r in kanon_from_state(spark, table).collect()] \
        == want

    # the SAME state serves the staged l-diversity audit too (shared
    # sufficient statistic): bit-identical to its batch twin
    from jobsity_data_pipeline_spark.operators.relational15 import (
        docs_l_diversity,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        ldiv_from_state,
    )

    want_l = [tuple(r) for r in
              docs_l_diversity(spark, str(sf_like)).collect()]
    assert [tuple(r) for r in ldiv_from_state(spark, table).collect()] \
        == want_l

    # ... and the staged Cramér's V association audit (third audit
    # from the one maintainer): bit-identical to its batch twin
    from jobsity_data_pipeline_spark.operators.relational16 import (
        docs_cramers_v,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        cramersv_from_state,
    )

    want_cv = [tuple(r) for r in
               docs_cramers_v(spark, str(sf_like)).collect()]
    assert [tuple(r)
            for r in cramersv_from_state(spark, table).collect()] \
        == want_cv and len(want_cv) == 1

    # ... and the staged Theil's U uncertainty coefficients (fourth
    # audit from the one maintainer): bit-identical to its batch twin
    from jobsity_data_pipeline_spark.operators.relational17 import (
        docs_theils_u,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        theilsu_from_state,
    )

    want_tu = [tuple(r) for r in
               docs_theils_u(spark, str(sf_like)).collect()]
    assert [tuple(r)
            for r in theilsu_from_state(spark, table).collect()] \
        == want_tu and len(want_tu) == 1

    # ... and the staged Goodman-Kruskal lambda (fifth audit from the
    # one maintainer): bit-identical to its batch twin
    from jobsity_data_pipeline_spark.operators.relational18 import (
        docs_gk_lambda,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        gk_from_state,
    )

    want_gk = [tuple(r) for r in
               docs_gk_lambda(spark, str(sf_like)).collect()]
    assert [tuple(r)
            for r in gk_from_state(spark, table).collect()] \
        == want_gk and len(want_gk) == 1


def test_stream_sourcelen_counts_serves_batch_ks_bitexact(
    spark, tmp_path
):
    """Round-10: (source, n_chars) counters maintained as per-batch
    integer deltas serve the pairwise KS drift table BIT-IDENTICAL to
    the batch docs_ks_source_drift over the union (summed exact counts
    -> the shared ks_from_counts kernel), and a replayed batch cannot
    double-count."""
    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.relational15 import (
        docs_ks_source_drift, ks_counts,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import (
        latest_manifest, upsert_batch,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        ks_from_state, stream_sourcelen_counts,
    )

    schema = (
        "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    # three sources with deliberately different length profiles
    rows = [
        (i, "t", "en", ["web", "wiki", "forum"][i % 3],
         [50 + i % 7, 400 + i % 11, 50 + i % 7][i % 3] + (i % 5))
        for i in range(150)
    ]
    src = tmp_path / "docs"
    for half in (0, 1):
        spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 2 == half], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
    sf_like = tmp_path / "sf"
    sf_like.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(sf_like / "documents.parquet"))

    table = str(tmp_path / "kl_counts")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_sourcelen_counts(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    want = [tuple(r)
            for r in docs_ks_source_drift(spark, str(sf_like)).collect()]
    got = [tuple(r) for r in ks_from_state(spark, table).collect()]
    assert got == want and len(got) == 3

    # the SAME state serves the staged Anderson-Darling audit too
    # (shared sufficient statistic): bit-identical to its batch twin
    from jobsity_data_pipeline_spark.operators.relational15 import (
        docs_ad_source_drift,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        ad_from_state,
    )

    want_ad = [tuple(r)
               for r in docs_ad_source_drift(
                   spark, str(sf_like)).collect()]
    assert [tuple(r) for r in ad_from_state(spark, table).collect()]         == want_ad

    # ... and the staged Jensen-Shannon divergence table (third
    # drift audit from the one maintainer): bit-identical to its
    # batch twin
    from jobsity_data_pipeline_spark.operators.relational17 import (
        docs_js_divergence,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        js_from_state,
    )

    want_js = [tuple(r) for r in
               docs_js_divergence(spark, str(sf_like)).collect()]
    assert [tuple(r) for r in js_from_state(spark, table).collect()] \
        == want_js and len(want_js) == 3

    # ... and the staged Cramér-von Mises drift table (fourth drift
    # audit from the one maintainer): bit-identical to its batch twin
    from jobsity_data_pipeline_spark.operators.relational18 import (
        docs_cvm_source_drift,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        cvm_from_state,
    )

    want_cvm = [tuple(r) for r in
                docs_cvm_source_drift(spark, str(sf_like)).collect()]
    assert [tuple(r) for r in cvm_from_state(spark, table).collect()] \
        == want_cvm and len(want_cvm) == 3

    # replaying batch 0's delta under its original token is a no-op
    v = latest_manifest(table)["version"]
    b0 = ks_counts(
        spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 2 == 0], schema
        )
    ).withColumn(
        "delta_key",
        F.concat_ws("|", F.lit("kl"), F.lit("0"), F.col("source"),
                    F.col("x")),
    )
    assert upsert_batch(b0, 0, table, key="delta_key") \
        == "skipped_duplicate"
    assert latest_manifest(table)["version"] == v
    assert [tuple(r) for r in ks_from_state(spark, table).collect()] \
        == want


def test_stream_daily_counts_serves_batch_acf_bitexact(spark, tmp_path):
    """Round-10: daily event counters maintained as per-batch integer
    deltas serve the ACF table BIT-IDENTICAL to batch events_acf over
    the union (summed exact daily counts -> the shared acf_from_daily
    kernel), and a replayed batch cannot double-count."""
    import datetime as dt

    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.relational15 import (
        daily_counts, events_acf,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import (
        latest_manifest, upsert_batch,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        acf_from_state, stream_daily_counts,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    base = dt.datetime(2024, 1, 1)
    # 60 days, deliberately bursty with some silent days
    rows = [
        (i, base + dt.timedelta(days=(i * 7) % 60, hours=i % 24),
         i % 5, "a", 1.0, "{}")
        for i in range(400)
    ]
    src = tmp_path / "events"
    for half in (0, 1):
        spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 2 == half], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
    sf_like = tmp_path / "sf"
    sf_like.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(sf_like / "events.parquet"))

    table = str(tmp_path / "dc_counts")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_daily_counts(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    want = [tuple(r) for r in events_acf(spark, str(sf_like)).collect()]
    got = [tuple(r) for r in acf_from_state(spark, table).collect()]
    assert got == want and len(got) == 7

    # the SAME state serves the staged Theil-Sen trend too (shared
    # sufficient statistic): bit-identical to its batch twin
    from jobsity_data_pipeline_spark.operators.relational15 import (
        events_trend_theilsen,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        theilsen_from_state,
    )

    want_ts = [tuple(r) for r in
               events_trend_theilsen(spark, str(sf_like)).collect()]
    assert [tuple(r)
            for r in theilsen_from_state(spark, table).collect()]         == want_ts

    # ... and the staged Mann-Kendall trend test (third audit from
    # the one maintainer): bit-identical to its batch twin
    from jobsity_data_pipeline_spark.operators.relational16 import (
        events_trend_mannkendall,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        mk_from_state,
    )

    want_mk = [tuple(r) for r in
               events_trend_mannkendall(spark, str(sf_like)).collect()]
    assert [tuple(r) for r in mk_from_state(spark, table).collect()] \
        == want_mk and len(want_mk) == 1

    # ... and the staged rank-autocorrelation table (fourth audit
    # from the one maintainer): bit-identical to its batch twin
    from jobsity_data_pipeline_spark.operators.relational17 import (
        events_spearman_acf,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        spearman_from_state,
    )

    want_sp = [tuple(r) for r in
               events_spearman_acf(spark, str(sf_like)).collect()]
    assert [tuple(r)
            for r in spearman_from_state(spark, table).collect()] \
        == want_sp and len(want_sp) == 7

    # ... and the staged Wald-Wolfowitz runs test (fifth audit from
    # the one maintainer): bit-identical to its batch twin
    from jobsity_data_pipeline_spark.operators.relational18 import (
        events_runs_test,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        runs_from_state,
    )

    want_rt = [tuple(r) for r in
               events_runs_test(spark, str(sf_like)).collect()]
    assert [tuple(r)
            for r in runs_from_state(spark, table).collect()] \
        == want_rt and len(want_rt) == 1

    # replaying batch 0's delta under its original token is a no-op
    v = latest_manifest(table)["version"]
    b0 = daily_counts(
        spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 2 == 0], schema
        )
    ).withColumn(
        "delta_key",
        F.concat_ws("|", F.lit("dc"), F.lit("0"), F.col("d")),
    )
    assert upsert_batch(b0, 0, table, key="delta_key") \
        == "skipped_duplicate"
    assert latest_manifest(table)["version"] == v
    assert [tuple(r) for r in acf_from_state(spark, table).collect()] \
        == want


def test_stream_digit_counts_serves_batch_benford_bitexact(
    spark, tmp_path
):
    """Round-10: Benford digit counters maintained as per-batch
    integer deltas serve the audit table BIT-IDENTICAL to batch
    events_benford over the union, and a replayed batch cannot
    double-count."""
    import datetime as dt

    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.relational15 import (
        benford_digit_counts, events_benford,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import (
        latest_manifest, upsert_batch,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        benford_from_state, stream_digit_counts,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base, i % 5, "a",
         round(((i * 37) % 900 + 1) * (10 ** (i % 3)) / 100, 2), "{}")
        for i in range(300)
    ]
    src = tmp_path / "events"
    for half in (0, 1):
        spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 2 == half], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
    sf_like = tmp_path / "sf"
    sf_like.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(sf_like / "events.parquet"))

    table = str(tmp_path / "bf_counts")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_digit_counts(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    want = [tuple(r)
            for r in events_benford(spark, str(sf_like)).collect()]
    got = [tuple(r) for r in benford_from_state(spark, table).collect()]
    assert got == want and len(got) == 9

    # ... and the staged Nigrini MAD conformity summary (second
    # Benford audit from the one maintainer): bit-identical to its
    # batch twin
    from jobsity_data_pipeline_spark.operators.relational17 import (
        events_benford_mad,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        benford_mad_from_state,
    )

    want_bm = [tuple(r) for r in
               events_benford_mad(spark, str(sf_like)).collect()]
    assert [tuple(r)
            for r in benford_mad_from_state(spark, table).collect()] \
        == want_bm and len(want_bm) == 1

    # replaying batch 0's delta under its original token is a no-op
    v = latest_manifest(table)["version"]
    b0 = benford_digit_counts(
        spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 2 == 0], schema
        )
    ).withColumn(
        "delta_key",
        F.concat_ws("|", F.lit("bf"), F.lit("0"), F.col("digit")),
    )
    assert upsert_batch(b0, 0, table, key="delta_key") \
        == "skipped_duplicate"
    assert latest_manifest(table)["version"] == v
    assert [tuple(r)
            for r in benford_from_state(spark, table).collect()] == want


def test_stream_lastship_serves_batch_km_bitexact(spark, tmp_path):
    """Round-10: per-order last-ship state maintained by ABSORBING
    max-merge serves the Kaplan-Meier table BIT-IDENTICAL to batch
    orders_survival_km over the union (shared km_table kernel,
    max-of-maxes == corpus max), and re-merging the full state into
    itself changes nothing (the absorbing replay-safety class)."""
    import datetime as dt

    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.relational15 import (
        orders_survival_km,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import read_latest
    from jobsity_data_pipeline_spark.streaming.stream import (
        km_from_state, stream_lastship_upsert,
    )

    o_schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string"
    )
    l_schema = (
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp"
    )
    base = dt.datetime(2024, 1, 1)
    orders = [
        (k, 1, ["F", "O", "P"][k % 3], 1.0,
         base + dt.timedelta(days=k % 9),
         # two priorities so the log-rank serve below has a pair
         # (the flat KM assertions ignore the priority column)
         ["1-URGENT", "2-HIGH"][k % 2])
        for k in range(40)
    ]
    lis = [
        (k % 40, 1, 1, i, 1.0, 1.0, 0.0, 0.0, "N", "O",
         base + dt.timedelta(days=3 + (k * 13 + i * 5) % 50))
        for k in range(80) for i in range(2)
    ]
    src = tmp_path / "li"
    for half in (0, 1):  # two files -> two micro-batches; orders'
        # line items deliberately SPAN batches so only the absorbing
        # max over both reproduces the per-order last ship
        spark.createDataFrame(
            [r for j, r in enumerate(lis) if j % 2 == half], l_schema
        ).coalesce(1).write.mode("append").parquet(str(src))
    sf_like = tmp_path / "sf"
    sf_like.mkdir()
    spark.createDataFrame(orders, o_schema).coalesce(1).write.parquet(
        str(sf_like / "orders.parquet"))
    spark.createDataFrame(lis, l_schema).coalesce(1).write.parquet(
        str(sf_like / "lineitem.parquet"))

    state = str(tmp_path / "lastship")
    stream = (
        spark.readStream.schema(l_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_lastship_upsert(stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    odf = spark.read.parquet(str(sf_like / "orders.parquet"))
    want = [tuple(r)
            for r in orders_survival_km(spark, str(sf_like)).collect()]
    got = [tuple(r) for r in km_from_state(spark, state, odf).collect()]
    assert got == want and got

    # absorbing: re-merging the full state into itself is a no-op
    st = read_latest(spark, state)
    re_merged = (
        st.unionByName(st).groupBy("l_orderkey")
        .agg(F.max("last_ship").alias("last_ship"))
    )
    a = sorted(tuple(r) for r in st.collect())
    b = sorted(tuple(r) for r in re_merged.collect())
    assert a == b

    # the SAME state serves the staged pairwise log-rank comparison
    # too (third survival audit from the one maintainer):
    # bit-identical to its batch twin
    from jobsity_data_pipeline_spark.operators.relational16 import (
        orders_logrank_priority,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        logrank_from_state,
    )

    want_lr = [tuple(r) for r in
               orders_logrank_priority(spark, str(sf_like)).collect()]
    assert [tuple(r)
            for r in logrank_from_state(spark, state, odf).collect()] \
        == want_lr and len(want_lr) == 1

    # ... and the staged Nelson-Aalen cumulative hazard (fourth
    # survival audit from the one maintainer): bit-identical to its
    # batch twin
    from jobsity_data_pipeline_spark.operators.relational17 import (
        orders_hazard_na,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        na_from_state,
    )

    want_na = [tuple(r) for r in
               orders_hazard_na(spark, str(sf_like)).collect()]
    assert [tuple(r)
            for r in na_from_state(spark, state, odf).collect()] \
        == want_na and want_na

    # ... and the staged restricted mean survival time (fifth
    # survival audit from the one maintainer): bit-identical to its
    # batch twin
    from jobsity_data_pipeline_spark.operators.relational18 import (
        orders_survival_rmst,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        rmst_from_state,
    )

    want_rm = [tuple(r) for r in
               orders_survival_rmst(spark, str(sf_like)).collect()]
    assert [tuple(r)
            for r in rmst_from_state(spark, state, odf).collect()] \
        == want_rm and len(want_rm) == 1


def test_stream_mw_counts_serves_batch_ranksum_bitexact(spark, tmp_path):
    """Round-10: value-cents counters maintained as per-batch integer
    deltas serve the Mann-Whitney table BIT-IDENTICAL to batch
    events_mannwhitney over the union (summed exact counts -> the
    shared mw_from_counts kernel), and a replayed batch cannot
    double-count."""
    import datetime as dt

    import pyspark.sql.functions as F

    from jobsity_data_pipeline_spark.operators.relational15 import (
        events_mannwhitney, mw_counts,
    )
    from jobsity_data_pipeline_spark.sources.snapshot import (
        latest_manifest, upsert_batch,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        mw_from_state, stream_mw_counts,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    base = dt.datetime(2024, 1, 1)
    types = ["view", "click", "purchase"]
    rows = [
        (i, base, i % 7, types[i % 3],
         round(((i * 37) % 200) / 100 + (i % 3) * 0.5, 2), "{}")
        for i in range(240)
    ]
    src = tmp_path / "events"
    for half in (0, 1):
        spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 2 == half], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
    sf_like = tmp_path / "sf"
    sf_like.mkdir()
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(sf_like / "events.parquet"))

    table = str(tmp_path / "mw_counts")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_mw_counts(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    want = [tuple(r)
            for r in events_mannwhitney(spark, str(sf_like)).collect()]
    got = [tuple(r) for r in mw_from_state(spark, table).collect()]
    assert got == want and len(got) == 3

    # replaying batch 0's delta under its original token is a no-op
    v = latest_manifest(table)["version"]
    b0 = mw_counts(
        spark.createDataFrame(
            [r for j, r in enumerate(rows) if j % 2 == 0], schema
        )
    ).withColumn(
        "delta_key",
        F.concat_ws("|", F.lit("mw"), F.lit("0"),
                    F.col("event_type"), F.col("vc")),
    )
    assert upsert_batch(b0, 0, table, key="delta_key") \
        == "skipped_duplicate"
    assert latest_manifest(table)["version"] == v
    assert [tuple(r) for r in mw_from_state(spark, table).collect()] \
        == want

    # the SAME state serves the staged Kruskal-Wallis k-sample test
    # too (shared sufficient statistic): bit-identical to its batch
    # twin
    from jobsity_data_pipeline_spark.operators.relational16 import (
        events_kruskalwallis,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        kw_from_state,
    )

    want_kw = [tuple(r) for r in
               events_kruskalwallis(spark, str(sf_like)).collect()]
    assert [tuple(r) for r in kw_from_state(spark, table).collect()] \
        == want_kw and len(want_kw) == 3

    # ... and the staged Cliff's delta effect sizes (third rank audit
    # from the one maintainer): bit-identical to its batch twin
    from jobsity_data_pipeline_spark.operators.relational18 import (
        events_cliffs_delta,
    )
    from jobsity_data_pipeline_spark.streaming.stream import (
        cliffs_from_state,
    )

    want_cd = [tuple(r) for r in
               events_cliffs_delta(spark, str(sf_like)).collect()]
    assert [tuple(r)
            for r in cliffs_from_state(spark, table).collect()] \
        == want_cd and len(want_cd) == 3


@pytest.mark.parametrize(
    "maintainer", ["stream_decayed_upsert", "stream_hll_upsert",
                   "stream_hdr_deltas", "stream_daily_counts"]
)
def test_fold_replay_after_crash_is_exactly_once(spark, tmp_path,
                                                 maintainer):
    """Run the maintainer to completion, drop the checkpoint's last
    commit entry (a crash after the state publish, before the commit
    log write) and run it again: the engine replays that batch id,
    and the fold must skip it. The decayed add-merge would count the
    batch twice; the HLL register max absorbs it but would still
    publish it as a second version."""
    import datetime as dt
    import os

    from jobsity_data_pipeline_spark.sources.snapshot import history

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    base = dt.datetime(2024, 1, 1)
    src = str(tmp_path / "events")
    for f in range(2):  # two files read one per trigger: batches 0, 1
        spark.createDataFrame(
            [(f * 100 + i, base + dt.timedelta(hours=f, minutes=i),
              (f * 7 + i) % 23, "ab"[i % 2], float(i % 11), "{}")
             for i in range(100)],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    start = getattr(ST, maintainer)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    def rows():
        return sorted(
            (r.asDict() for r in ST.sketch_state(spark, state).collect()),
            key=lambda r: sorted(r.items()),
        )

    start(stream, state, ckpt).awaitTermination(120)
    first = rows()
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    start(stream, state, ckpt).awaitTermination(120)

    assert rows() == first
    tokens = [h["batch"] for h in history(state)]
    assert len(tokens) == len(set(tokens)) == 2


def test_counter_sink_reads_no_prior_state(spark, tmp_path, monkeypatch):
    """A counter micro-batch is a blind append under its batch token:
    four micro-batches publish four versions without reading any
    prior data file, so a batch's cost does not grow with the number
    of batches before it (a keyed upsert anti-joins the whole delta
    history on every batch after the first)."""
    import datetime as dt

    from jobsity_data_pipeline_spark.operators.relational15 import (
        daily_counts,
    )
    from jobsity_data_pipeline_spark.sources import snapshot

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    base = dt.datetime(2024, 1, 1)
    src = str(tmp_path / "events")
    for f in range(4):  # four files read one per trigger: batches 0-3
        spark.createDataFrame(
            [(f * 100 + i, base + dt.timedelta(days=f, minutes=i),
              i % 23, "ab"[i % 2], float(i % 11), "{}")
             for i in range(50)],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    calls = []
    real = snapshot._read_files

    def spy(spark_, files):
        calls.append(list(files))
        return real(spark_, files)

    monkeypatch.setattr(snapshot, "_read_files", spy)
    table = str(tmp_path / "daily")
    ST.stream_daily_counts(
        stream, table, str(tmp_path / "ckpt")).awaitTermination(120)

    assert len(snapshot.history(table)) == 4
    assert calls == []
    want = sorted(tuple(r) for r in
                  daily_counts(spark.read.parquet(src)).collect())
    got = sorted(tuple(r) for r in
                 ST.sum_state(spark, table, ["d"], ["c"]).collect())
    assert got == want


@pytest.mark.parametrize("reader", [
    "hdr_from_index", "acf_from_state", "welch_from_state",
    "kmv_from_state", "m4_from_state",
])
def test_state_reader_on_missing_table_names_the_path(spark, tmp_path,
                                                      reader):
    """A reader pointed at a table nothing has published raises a
    ValueError naming that path, before Spark is asked to read it.
    For m4_from_state the archetype state exists and the count table
    is the missing one."""
    from jobsity_data_pipeline_spark.sources.snapshot import append_batch

    missing = str(tmp_path / "never_written")
    args = (spark, missing)
    if reader == "m4_from_state":
        state = str(tmp_path / "m4")
        append_batch(spark.createDataFrame(
            [("a", 0, 1, 2, (0, 0, 1), (1, 1, 2))],
            "event_type string, bucket long, min_cents long,"
            " max_cents long, first_k struct<us:long,id:long,c:long>,"
            " last_k struct<us:long,id:long,c:long>",
        ), 0, state)
        args = (spark, state, missing)
    with pytest.raises(ValueError, match="never_written"):
        getattr(ST, reader)(*args)
