"""Structured Streaming tests: file-source trips ingest keyed into
the table's dedup through the foreachBatch upsert sink, its push-style
status, and the streaming events rollup — all with availableNow
triggers so they run to completion on the test fixtures.
"""

from __future__ import annotations

import pytest

from jobsity_data_pipeline_spark.streaming import stream as ST
from tests.conftest import SF_SMOKE

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


def test_stream_is_streaming(spark, src_dir):
    _write_csv(src_dir, "b1.csv", BATCH1)
    trips = ST.read_trips_stream(spark, str(src_dir))
    assert trips.isStreaming


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


def test_ingest_status_reports_progress(spark, src_dir, tmp_path):
    """The push-style status surface (the reference's Spark-UI
    polling, programmatic): after an availableNow run of the trips
    sink it reports the final batch's numbers; on a finished query it
    is inactive with no exception, and the stream holds no state."""
    _write_csv(src_dir, "b1.csv", BATCH1)
    st = ST.ingest_status(_stream_trips(spark, src_dir, tmp_path))
    assert st["query_id"]
    assert st["is_active"] is False
    assert st["exception"] is None
    assert st["batch_id"] is not None
    assert st["num_input_rows"] == len(BATCH1)
    assert st["sources"] and "FileStreamSource" in st["sources"][0]
    assert st["n_state_operators"] == 0


def test_stream_events_hourly_timeout_stops_and_raises(spark, monkeypatch):
    """A run that does not finish in time raises TimeoutError naming
    the query, instead of returning the partial memory-sink table as
    the answer, and leaves no stream running and no sink view."""
    from pyspark.sql.streaming import StreamingQuery

    monkeypatch.setattr(StreamingQuery, "awaitTermination",
                        lambda self, timeout=None: False)
    with pytest.raises(TimeoutError, match="stream_events_hourly_"):
        ST.stream_events_hourly(spark, SF_SMOKE)
    assert spark.streams.active == []
    assert not [t.name for t in spark.catalog.listTables()
                if t.name.startswith("stream_events_hourly_")]


def test_stream_events_hourly_leaves_no_view(spark):
    """The memory-sink view each run registers is dropped before the
    answer is returned: repeated calls leave no
    ``stream_events_hourly_*`` table in the caller's catalog, and the
    returned frames still collect the rollup."""
    first = ST.stream_events_hourly(spark, SF_SMOKE)
    second = ST.stream_events_hourly(spark, SF_SMOKE)
    left = [t.name for t in spark.catalog.listTables()
            if t.name.startswith("stream_events_hourly_")]
    assert left == []
    rows = sorted(map(tuple, first.collect()))
    assert rows and rows == sorted(map(tuple, second.collect()))
