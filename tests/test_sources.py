"""Sink tests: partitioned hist store with partition pruning, readers,
clustered layouts and the manifest-based snapshot table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jobsity_data_pipeline_spark.pipeline import trips as TP
from jobsity_data_pipeline_spark.sources import writers as W


def _trips(spark):
    rows = [
        ("Prague", "POINT (14.49 50.00)", "POINT (14.43 50.04)",
         "2018-05-28 09:03:40", "funny_car"),
        ("Turin", "POINT (7.67 44.99)", "POINT (7.72 45.06)",
         "2018-06-02 10:54:04", "baba_car"),
    ]
    df = spark.createDataFrame(
        rows, "region string, origin_coord string, destination_coord string, "
              "datetime string, datasource string"
    )
    return TP.with_trip_key(df).withColumn(
        "trip_date", F.to_date(F.col("datetime").cast("timestamp"))
    )


def test_partitioned_hist_prunes(spark, tmp_path):
    hist = str(tmp_path / "hist")
    W.write_partitioned(_trips(spark), hist, ["region"])
    got = spark.read.parquet(hist)
    assert got.count() == 2

    # partition filter must prune to one directory, visible in the plan
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.where(F.col("region") == "Prague").explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [isnotnull(region" in plan
    assert got.where(F.col("region") == "Prague").count() == 1


def test_jsonl_roundtrip_with_explicit_schema(spark, tmp_path):
    from pyspark.sql import types as T

    from jobsity_data_pipeline_spark.sources import readers as R

    p = tmp_path / "events.jsonl"
    p.write_text(
        '{"event_id": 1, "event_type": "view", "value": 1.5}\n'
        '{"event_id": 2, "event_type": "click", "value": 2.5}\n'
        '{"event_id": 3, "event_type": "view"}\n'  # missing field -> null
        'not json at all\n'  # corrupt line -> permissive nulls
    )
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    got = R.read_json(spark, str(p), schema).collect()
    assert len(got) == 4
    by_id = {r.event_id: r for r in got if r.event_id is not None}
    assert by_id[1].value == 1.5
    assert by_id[3].value is None


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    import contextlib
    import io

    from jobsity_data_pipeline_spark.sources import readers as R

    p = str(tmp_path / "hist_orc")
    _trips(spark).write.mode("overwrite").orc(p)
    got = R.read_orc(spark, p)
    assert got.count() == 2
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.where(F.col("region") == "Prague").select("trip_key").explain("formatted")
    plan = buf.getvalue()
    # same pushdown + pruning contract as parquet
    assert "PushedFilters: [IsNotNull(region), EqualTo(region,Prague)]" in plan
    assert "ReadSchema: struct<region:string,trip_key:string>" in plan


def test_range_clustered_write_prunes_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from jobsity_data_pipeline_spark.sources.writers import write_range_clustered

    path = str(tmp_path / "clustered")
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    write_range_clustered(df, path, "k", n_files=8)
    back = spark.read.parquet(path)
    # disjoint per-file ranges: a point lookup draws rows from ONE file
    hit_files = (
        back.where(F.col("k") == 1234)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert hit_files == 1
    assert back.count() == 10_000


def test_csv_quarantine_splits_bad_rows(spark, tmp_path):
    import os

    from pyspark.sql import types as T

    from jobsity_data_pipeline_spark.sources.readers import (
        read_csv_with_quarantine,
    )

    src = tmp_path / "in"
    os.makedirs(src)
    (src / "a.csv").write_text(
        "region,n\n"
        "Prague,1\n"
        "BadRow,not_an_int\n"
        "Turin,2\n"
    )
    schema = T.StructType(
        [
            T.StructField("region", T.StringType()),
            T.StructField("n", T.IntegerType()),
        ]
    )
    good, bad = read_csv_with_quarantine(spark, str(src), schema)
    assert {(r.region, r.n) for r in good.collect()} == {
        ("Prague", 1),
        ("Turin", 2),
    }
    bad_rows = [r.raw_line for r in bad.collect()]
    assert bad_rows == ["BadRow,not_an_int"]


def test_zorder_write_prunes_both_dimensions(spark, tmp_path):
    import pyarrow.parquet as pq

    from jobsity_data_pipeline_spark.session import read_table
    from jobsity_data_pipeline_spark.sources.writers import (
        write_zorder_clustered,
    )
    from tests.conftest import SF_SMOKE

    ev = read_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "value"
    )
    path = str(tmp_path / "z")
    write_zorder_clustered(ev, path, "user_id", "value", n_files=8)

    # footer min/max spans per file: a mid-range point predicate on
    # EITHER column must exclude most files (Z-order gives both
    # columns locality; 1-D range clustering would leave one column
    # with full-span files everywhere)
    import glob
    import os

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    assert len(files) >= 4
    spans = []
    for f in files:
        md = pq.read_metadata(f)
        mins = {"user_id": [], "value": []}
        maxs = {"user_id": [], "value": []}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                name = c.path_in_schema
                if name in mins and c.statistics is not None:
                    mins[name].append(c.statistics.min)
                    maxs[name].append(c.statistics.max)
        spans.append({
            k: (min(mins[k]), max(maxs[k])) for k in mins if mins[k]
        })

    def hit_count(col, point):
        return sum(1 for s in spans if s[col][0] <= point <= s[col][1])

    med_u = ev.approxQuantile("user_id", [0.5], 0.0)[0]
    med_v = ev.approxQuantile("value", [0.5], 0.0)[0]
    # each dimension's point predicate prunes a meaningful share of
    # files (interleaving splits the leading bits between the dims)
    z_u, z_v = hit_count("user_id", med_u), hit_count("value", med_v)
    assert z_u < len(files)
    assert z_v < len(files)
    # the contrast that motivates Z-order: 1-D range clustering on
    # value leaves a user_id predicate scanning EVERY file
    from jobsity_data_pipeline_spark.sources.writers import (
        write_range_clustered,
    )

    path1d = str(tmp_path / "r")
    write_range_clustered(ev, path1d, "value", n_files=8)
    spans1d = []
    for f in sorted(glob.glob(os.path.join(path1d, "*.parquet"))):
        md = pq.read_metadata(f)
        lo = min(md.row_group(rg).column(1).statistics.min
                 for rg in range(md.num_row_groups))
        hi = max(md.row_group(rg).column(1).statistics.max
                 for rg in range(md.num_row_groups))
        spans1d.append((lo, hi))
    hits_1d_user = sum(1 for s in spans1d if s[0] <= med_u <= s[1])
    assert hits_1d_user == len(spans1d)  # no pruning at all
    assert z_u < hits_1d_user
    # nothing lost: row count preserved
    assert spark.read.parquet(path).count() == ev.count()


def test_snapshot_publish_and_read_latest(spark, tmp_path):
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    v1 = SN.publish_snapshot(df1, t, "init")
    df2 = spark.createDataFrame([(3, "c")], "k long, v string")
    v2 = SN.publish_snapshot(df2, t, "second")
    assert (v1, v2) == (1, 2)
    # reader resolves ONLY the newest manifest's files
    got = {tuple(r) for r in SN.read_latest(spark, t).collect()}
    assert got == {(3, "c")}


def test_snapshot_upsert_retry_is_exactly_once(spark, tmp_path):
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    b1 = spark.createDataFrame(
        [(1, "x"), (2, "y")], "trip_key long, v string"
    )
    assert SN.upsert_batch(b1, 0, t) == "published"
    # replay of the SAME batch id (crash-after-publish retry): no-op
    assert SN.upsert_batch(b1, 0, t) == "skipped_duplicate"
    # next batch: overlapping key 2 deduped, new key 3 appended
    b2 = spark.createDataFrame(
        [(2, "y2"), (3, "z")], "trip_key long, v string"
    )
    assert SN.upsert_batch(b2, 1, t) == "published"
    rows = {r.trip_key: r.v for r in SN.read_latest(spark, t).collect()}
    assert rows == {1: "x", 2: "y", 3: "z"}


def test_snapshot_streaming_upsert_exactly_once(spark, tmp_path):
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    src = tmp_path / "src"
    src.mkdir()
    schema = "trip_key long, v string"
    spark.createDataFrame(
        [(1, "a"), (2, "b")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [(2, "b_dup"), (3, "c")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    t = str(tmp_path / "tbl")
    q = SN.start_snapshot_upsert(stream, t, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    rows = {r.trip_key for r in SN.read_latest(spark, t).collect()}
    assert rows == {1, 2, 3}
    # key 2 kept exactly once (first writer wins, like ON CONFLICT DO NOTHING)
    vals = [r.v for r in SN.read_latest(spark, t).collect() if r.trip_key == 2]
    assert len(vals) == 1


def test_snapshot_time_travel_and_pruned_delete(spark, tmp_path):
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    # two publishes -> two data file sets with DISJOINT key ranges
    lo = spark.createDataFrame(
        [(i, "lo") for i in range(100)], "trip_key long, v string"
    ).coalesce(1)
    hi = spark.createDataFrame(
        [(i, "hi") for i in range(100, 200)], "trip_key long, v string"
    ).coalesce(1)
    assert SN.upsert_batch(lo, 0, t) == "published"
    assert SN.upsert_batch(hi, 1, t) == "published"

    stats = SN.delete_keys(spark, t, [5, 7])
    # footer pruning: only the low-range file set is rewritten
    assert stats["rows_deleted"] == 2
    assert stats["files_rewritten"] < stats["files_total"]

    now = {r.trip_key for r in SN.read_latest(spark, t).collect()}
    assert 5 not in now and 7 not in now and len(now) == 198

    # time travel: version 2 (pre-delete) still shows the deleted keys
    v2 = {r.trip_key for r in SN.read_version(spark, t, 2).collect()}
    assert 5 in v2 and len(v2) == 200


def test_snapshot_vacuum_sweeps_retired_and_orphans(spark, tmp_path):
    import os

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    a = spark.createDataFrame(
        [(i, "a") for i in range(10)], "trip_key long, v string"
    ).coalesce(1)
    b = spark.createDataFrame(
        [(i, "b") for i in range(10, 20)], "trip_key long, v string"
    ).coalesce(1)
    SN.upsert_batch(a, 0, t)
    SN.upsert_batch(b, 1, t)
    SN.delete_keys(spark, t, [1])  # v3 rewrites the first file set
    # simulate a crashed writer: data written, manifest never published
    orphan = SN._write_data(a, t)
    assert os.path.exists(orphan[0])

    # within the retention window the orphan is SPARED — it may belong
    # to an in-flight writer that has not yet renamed its manifest
    stats = SN.vacuum(t, keep_versions=1)
    assert os.path.exists(orphan[0])
    # past retention (0 = no writer can be active) it is swept
    stats = SN.vacuum(t, keep_versions=1, retention_seconds=0)
    assert stats["manifests_retired"] == 0  # already retired above
    assert not os.path.exists(orphan[0])
    # the surviving newest version still reads completely
    rows = {r.trip_key for r in SN.read_latest(spark, t).collect()}
    assert rows == set(range(20)) - {1}
    # retired versions are gone
    assert SN.read_version(spark, t, 1) is None


def test_snapshot_publish_is_put_if_absent(spark, tmp_path):
    """Two writers minting the same version must not lose a commit:
    the loser detects the occupied slot and republishes at the next
    version."""
    import json as _json
    import os

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    SN.publish_snapshot(df, t, "first")
    # squat on version 2 the way a racing writer would — note the slot
    # is per-version (token only in the body), so writers with
    # DIFFERENT tokens still contend for the same filename
    squat = os.path.join(t, "manifest-000002.json")
    with open(squat, "w") as f:
        _json.dump({"version": 2, "batch": "racer", "files": []}, f)
    v = SN.publish_snapshot(df, t, "second")
    assert v == 3  # retried past the occupied slot, nothing replaced
    with open(squat) as f:
        assert _json.load(f)["batch"] == "racer"  # survivor intact
    assert len(SN._manifests(t)) == 3


def test_snapshot_schema_evolution_add_column(spark, tmp_path):
    """A later batch may carry an added column: the latest version
    reads the merged schema (nulls for pre-evolution files), while
    time travel to the old version still shows the old schema."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    old = spark.createDataFrame([(1, "a")], "trip_key long, v string")
    assert SN.upsert_batch(old, 0, t) == "published"
    new = spark.createDataFrame(
        [(2, "b", 9.5)], "trip_key long, v string, score double"
    )
    assert SN.upsert_batch(new, 1, t) == "published"

    latest = SN.read_latest(spark, t)
    assert set(latest.columns) == {"trip_key", "v", "score"}
    rows = {r.trip_key: r for r in latest.collect()}
    assert rows[1].score is None and rows[2].score == 9.5

    v1 = SN.read_version(spark, t, 1)
    assert set(v1.columns) == {"trip_key", "v"}


def test_snapshot_compaction_preserves_history_and_idempotence(
    spark, tmp_path
):
    import os

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    for i in range(3):
        b = spark.createDataFrame(
            [(i * 10 + j, f"b{i}") for j in range(5)],
            "trip_key long, v string",
        ).coalesce(1)
        assert SN.upsert_batch(b, i, t) == "published"
    before = {tuple(r) for r in SN.read_latest(spark, t).collect()}
    n_files_before = len(SN.latest_manifest(t)["files"])
    assert n_files_before >= 3

    stats = SN.compact(spark, t, target_files=1)
    assert stats["files_before"] == n_files_before
    assert stats["files_after"] == 1
    assert stats["version"] == 4

    # same rows, fewer files
    after = {tuple(r) for r in SN.read_latest(spark, t).collect()}
    assert after == before
    # time travel across the compaction boundary: v3 (pre-compaction)
    # still reads from the original uncompacted files
    v3 = {tuple(r) for r in SN.read_version(spark, t, 3).collect()}
    assert v3 == before
    # batch-id idempotence survives compaction
    replay = spark.createDataFrame(
        [(999, "dup")], "trip_key long, v string"
    )
    assert SN.upsert_batch(replay, 1, t) == "skipped_duplicate"
    # and the compacted table keeps upserting normally
    assert SN.upsert_batch(replay, 7, t) == "published"
    assert 999 in {r.trip_key for r in SN.read_latest(spark, t).collect()}


def test_snapshot_upsert_dedups_within_batch(spark, tmp_path):
    """A batch carrying the same key twice publishes one row, like the
    reference's ON CONFLICT DO NOTHING drops intra-statement
    collisions."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    b = spark.createDataFrame(
        [(1, "x"), (1, "x_dup"), (2, "y")], "trip_key long, v string"
    )
    assert SN.upsert_batch(b, 0, t) == "published"
    rows = SN.read_latest(spark, t).collect()
    assert len(rows) == 2
    assert {r.trip_key for r in rows} == {1, 2}


def _find_duckdb_jdbc_jar():
    import glob
    import os

    roots = [
        os.path.expanduser("~/.cache/coursier"),
        os.path.expanduser("~/.m2"),
        "/opt",
    ]
    for root in roots:
        hits = glob.glob(
            os.path.join(root, "**", "duckdb_jdbc*.jar"), recursive=True
        )
        if hits:
            return hits[0]
    return None


def test_jdbc_sink_roundtrip_end_to_end(tmp_path):
    """The reference's JDBC load path (insert_postgres.py:14-24)
    executed for real: provision the staging table (create_objects.sql
    role), append via write_jdbc, read back via spark.read.jdbc.
    Driven against DuckDB's JDBC driver — same Spark JDBC code path as
    Postgres, different URL. Runs in a subprocess because the driver
    jar must be on the session classpath at JVM launch; skipped when no
    jar is present in the environment."""
    import subprocess
    import sys
    import textwrap

    import pytest

    jar = _find_duckdb_jdbc_jar()
    if jar is None:
        pytest.skip("no DuckDB JDBC driver jar in environment")

    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, "/root/repo")
        import duckdb
        db = r"{tmp_path}/stage.db"
        con = duckdb.connect(db)
        con.execute(
            "CREATE TABLE trips_staging ("
            "region VARCHAR, datasource VARCHAR, trip_key VARCHAR)"
        )
        con.close()
        from pyspark.sql import SparkSession
        from jobsity_data_pipeline_spark.sources.writers import write_jdbc
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.jars", r"{jar}")
            .config("spark.driver.extraClassPath", r"{jar}")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        df = spark.createDataFrame(
            [("Prague", "funny_car", "k1"), ("Turin", "baba_car", "k2")],
            "region string, datasource string, trip_key string",
        ).coalesce(1)
        url = "jdbc:duckdb:" + db
        props = {{"driver": "org.duckdb.DuckDBDriver"}}
        write_jdbc(df, url, "trips_staging", properties=props)
        back = spark.read.jdbc(url, "trips_staging", properties=props)
        rows = sorted(tuple(r) for r in back.collect())
        assert rows == [
            ("Prague", "funny_car", "k1"), ("Turin", "baba_car", "k2")
        ], rows
        print("JDBC_ROUNDTRIP_OK")
    """)
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300,
    )
    assert "JDBC_ROUNDTRIP_OK" in out.stdout, out.stderr[-2000:]


def test_upsert_recomputes_after_interleaved_commit(spark, tmp_path,
                                                    monkeypatch):
    """CAS loop: a commit that lands between upsert_batch's history
    read and its publish forces a recompute — the racer's files stay
    referenced AND its keys dedup the stale batch (no duplicate keys,
    no lost update)."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a")], "trip_key long, v string")
    assert SN.upsert_batch(base, 0, t) == "published"

    racer = spark.createDataFrame(
        [(2, "racer"), (3, "racer")], "trip_key long, v string"
    )
    racer_files = SN._write_data(racer, t)
    prior = SN.latest_manifest(t)["files"]

    real_publish = SN._publish
    fired = {"done": False}

    def race_then_publish(table_dir, files, token, extra=None,
                          expected_version=None):
        if not fired["done"] and token == "batch1":
            fired["done"] = True
            # interleaved writer commits key 2 first
            real_publish(table_dir, prior + racer_files, "racerbatch")
        return real_publish(table_dir, files, token, extra,
                            expected_version)

    monkeypatch.setattr(SN, "_publish", race_then_publish)
    # batch 1 carries key 2 (collides with the racer) and key 4 (new)
    b1 = spark.createDataFrame(
        [(2, "late"), (4, "new")], "trip_key long, v string"
    )
    assert SN.upsert_batch(b1, 1, t) == "published"

    rows = {r.trip_key: r.v for r in SN.read_latest(spark, t).collect()}
    # every writer's keys present exactly once; racer won key 2
    assert rows == {1: "a", 2: "racer", 3: "racer", 4: "new"}


@pytest.mark.parametrize("writer", [
    "delete_keys", "compact", "merge_into", "analyze", "set_constraint",
])
def test_cas_writer_recomputes_after_interleaved_commit(
        spark, tmp_path, monkeypatch, writer):
    """The same race for every other CAS writer: a commit that lands
    between the writer's manifest read and its first publish must
    fail the CAS, and the retry recomputes from the racer's version —
    the racer's files stay referenced (or, for a full rewrite, its
    rows survive) and the writer's result reflects the racer's
    version, not the stale one."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    schema = "trip_key long, v string"
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema)
    assert SN.upsert_batch(base, 0, t) == "published"
    man0 = SN.latest_manifest(t)
    prior = man0["files"]
    # two racer files, so a writer that rewrites the one holding key 10
    # must still keep the other by reference
    r10, r11 = (
        SN._write_data(
            spark.createDataFrame([(k, "racer")], schema).coalesce(1), t)
        for k in (10, 11)
    )
    racer_stats = {"trip_key": {**man0["stats"]["trip_key"],
                                **SN._file_stats(r10 + r11, "trip_key")}}

    real_publish = SN._publish
    raced = {}

    def race_then_publish(table_dir, files, token, extra=None,
                          expected_version=None):
        if not raced:
            raced["version"] = real_publish(
                table_dir, prior + r10 + r11, "racerbatch",
                extra={"stats": racer_stats},
            )
        return real_publish(table_dir, files, token, extra,
                            expected_version)

    monkeypatch.setattr(SN, "_publish", race_then_publish)
    want = {1: "a", 2: "b", 3: "c", 10: "racer", 11: "racer"}
    n_racer_files = len(prior) + 2
    if writer == "delete_keys":
        res = SN.delete_keys(spark, t, [1])
        assert res["files_total"] == n_racer_files
        del want[1]
        kept = r10 + r11
    elif writer == "compact":
        res = SN.compact(spark, t)
        assert res["files_before"] == n_racer_files
        kept = []  # every file is rewritten; the rows must survive
    elif writer == "merge_into":
        src = spark.createDataFrame([(10, "merged")], schema)
        res = SN.merge_into(src, 1, t)
        # key 10 exists only in the racer's version: matched, so an
        # update — the stale version would have inserted it
        assert res == {"status": "published", "deleted": 0,
                       "updated": 1, "inserted": 0}
        want[10] = "merged"
        kept = r11
    elif writer == "analyze":
        res = SN.analyze(t, ["v"])
        assert res["added"] == ["v"]
        assert set(r10 + r11) <= set(SN.latest_manifest(t)["stats"]["v"])
        kept = r10 + r11
    else:
        res = SN.set_constraint(spark, t, "key_pos", "trip_key > 0")
        assert res["constraints"] == {"key_pos": "trip_key > 0"}
        kept = r10 + r11

    assert raced, "the racer never fired"
    man = SN.latest_manifest(t)
    assert man["version"] == raced["version"] + 1
    assert set(kept) <= set(man["files"])
    rows = {r.trip_key: r.v for r in SN.read_latest(spark, t).collect()}
    assert rows == want
    assert SN.read_latest(spark, t).count() == len(want)


def test_manifest_scan_survives_concurrent_vacuum(spark, tmp_path,
                                                  monkeypatch):
    """A vacuum may unlink a retired manifest between the token scan's
    listdir and open — the scan must skip it (a retired version is
    never the latest), not crash the writer; half-written JSON bodies
    are likewise skipped."""
    import os

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    assert SN.publish_snapshot(df1, t, "init") == 1
    # half-written manifest (crash mid-json.dump before the CAS link
    # protocol existed / torn copy on a non-atomic store)
    with open(os.path.join(t, "manifest-000002.json"), "w") as f:
        f.write('{"version": 2, "batch"')
    # ghost entry: listed by listdir, unlinked before open
    real_listdir = os.listdir

    def ghost_listdir(path):
        names = list(real_listdir(path))
        if str(path) == t:
            names.append("manifest-000099.json")
        return names

    monkeypatch.setattr(SN.os, "listdir", ghost_listdir)
    ms = SN._manifests(t, with_tokens=True)
    assert [(v, tok) for v, tok, _ in ms] == [(1, "init")]


def test_manifest_stats_enable_footerless_pruning(spark, tmp_path,
                                                  monkeypatch):
    """Writers publish per-file [min,max] key stats in the manifest
    (paid once at write time); deletes and point reads then prune from
    the manifest ALONE — proven by poisoning the footer reader and
    watching a stats-covered delete/point-read never touch it."""
    import pyarrow.parquet

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    lo = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 11)], "trip_key long, v string"
    ).coalesce(1)
    hi = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100, 111)], "trip_key long, v string"
    ).coalesce(1)
    assert SN.upsert_batch(lo, 0, t) == "published"
    assert SN.upsert_batch(hi, 1, t) == "published"

    man = SN.latest_manifest(t)
    stats = man["stats"]["trip_key"]
    assert set(stats) == set(man["files"])  # every file covered

    # point read prunes to the one file whose range holds the value
    got = {tuple(r) for r in SN.read_point(spark, t, "trip_key", 105).collect()}
    assert got == {(105, "v105")}
    # a value outside every range resolves to None from the manifest
    assert SN.read_point(spark, t, "trip_key", 50) is None

    # with stats covering every file, neither delete nor read_point
    # may open a parquet footer
    def poisoned(*a, **k):
        raise AssertionError("footer read despite manifest stats")

    monkeypatch.setattr(pyarrow.parquet, "ParquetFile", poisoned)
    # _file_stats (for the rewritten files) legitimately reads footers
    # at WRITE time — only the pruning path is under test, so restore
    # for the post-rewrite stats computation
    real_file_stats = SN._file_stats
    calls = {"n": 0}

    def tracking_stats(files, key):
        calls["n"] += 1
        monkeypatch.undo()
        try:
            return real_file_stats(files, key)
        finally:
            monkeypatch.setattr(pyarrow.parquet, "ParquetFile", poisoned)

    monkeypatch.setattr(SN, "_file_stats", tracking_stats)
    res = SN.delete_keys(spark, t, [3], key="trip_key")
    assert res["files_rewritten"] == 1  # only the low-range file
    assert res["rows_deleted"] == 1
    assert calls["n"] == 1

    # post-delete: stats carried for the untouched file, fresh for the
    # rewritten one; point reads still correct
    monkeypatch.undo()
    man2 = SN.latest_manifest(t)
    assert set(man2["stats"]["trip_key"]) == set(man2["files"])
    assert SN.read_point(spark, t, "trip_key", 3) is None or \
        SN.read_point(spark, t, "trip_key", 3).count() == 0
    got = {tuple(r) for r in SN.read_point(spark, t, "trip_key", 7).collect()}
    assert got == {(7, "v7")}


def test_compact_recomputes_manifest_stats(spark, tmp_path):
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    for b, rng in enumerate((range(1, 11), range(100, 111))):
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in rng], "trip_key long, v string"
        ).coalesce(1)
        SN.upsert_batch(df, b, t)
    SN.compact(spark, t, target_files=1)
    man = SN.latest_manifest(t)
    assert len(man["files"]) == 1
    stats = man["stats"]["trip_key"]
    assert set(stats) == set(man["files"])
    [(lo, hi)] = [tuple(v) for v in stats.values()]
    assert (lo, hi) == (1, 110)
    got = {r.trip_key for r in SN.read_point(spark, t, "trip_key", 9).collect()}
    assert got == {9}


def test_change_feed_appends_fast_path_and_delete_fallback(
        spark, tmp_path, monkeypatch):
    """CDC between versions: an appends-only range reads ONLY the new
    files (O(delta), no join, old version untouched); a range crossing
    a delete falls back to keyed anti-joins and emits delete rows."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "trip_key long, v string"
    ).coalesce(1)
    b1 = spark.createDataFrame(
        [(2, "dup"), (3, "c")], "trip_key long, v string"
    ).coalesce(1)
    assert SN.upsert_batch(b0, 0, t) == "published"   # v1
    assert SN.upsert_batch(b1, 1, t) == "published"   # v2

    read_paths: list[str] = []
    real_read = SN._read_files

    def tracking(spark_, files):
        read_paths.extend(files)
        return real_read(spark_, files)

    monkeypatch.setattr(SN, "_read_files", tracking)
    feed = SN.change_feed(spark, t, 1, 2)
    got = {(r.trip_key, r.v, r._change_type) for r in feed.collect()}
    # only key 3 is new (2 was deduped away by the upsert)
    assert got == {(3, "c", "insert")}
    # fast path: none of v1's files were read
    v1_files = set(SN._manifest_at(t, 1)["files"])
    assert not (set(read_paths) & v1_files)
    monkeypatch.undo()

    # same-version feed: no change
    assert SN.change_feed(spark, t, 2, 2) is None

    # cross a delete boundary: key 1 removed -> delete row emitted
    SN.delete_keys(spark, t, [1], key="trip_key")     # v3
    feed2 = SN.change_feed(spark, t, 1, 3, key="trip_key")
    got2 = {(r.trip_key, r._change_type) for r in feed2.collect()}
    assert got2 == {(3, "insert"), (1, "delete")}

    # to_version=None resolves the latest
    feed3 = SN.change_feed(spark, t, 2, key="trip_key")
    got3 = {(r.trip_key, r._change_type) for r in feed3.collect()}
    assert got3 == {(1, "delete")}


def test_change_feed_drives_incremental_view_under_deletes(spark, tmp_path):
    """CDC + signed merge: the aggregate view maintained through
    change_feed equals a full recompute over the current table even
    across a delete — the O(delta) answer to the reference's full
    REFRESH MATERIALIZED VIEW when rows can also disappear."""
    from jobsity_data_pipeline_spark.operators import incremental as INC
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    schema = "event_id long, event_type string, ts timestamp, value double"
    rows1 = [
        (1, "view", "2024-01-01 10:05:00", 1.0),
        (2, "view", "2024-01-01 10:25:00", 3.0),
        (3, "buy", "2024-01-01 11:00:00", 10.0),
    ]
    rows2 = [
        (4, "view", "2024-01-01 10:50:00", 5.0),
        (5, "buy", "2024-01-01 11:30:00", 20.0),
    ]

    def df(rows):
        from pyspark.sql import functions as F

        return spark.createDataFrame(
            [(i, e, ts, v) for i, e, ts, v in rows],
            "event_id long, event_type string, ts string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    assert SN.upsert_batch(df(rows1), 0, t, key="event_id") == "published"
    state = INC.hourly_partials(SN.read_version(spark, t, 1))

    SN.upsert_batch(df(rows2), 1, t, key="event_id")        # v2: appends
    SN.delete_keys(spark, t, [2], key="event_id")           # v3: delete

    feed = SN.change_feed(spark, t, 1, key="event_id")
    state = INC.merge_feed(state, feed)

    got = {
        (r.event_type, str(r.h), r.cnt, r.sum_value)
        for r in state.collect()
    }
    want = {
        (r.event_type, str(r.h), r.cnt, r.sum_value)
        for r in INC.hourly_partials(SN.read_latest(spark, t)).collect()
    }
    assert got == want
    # the deleted row's group shrank, not vanished
    assert any(e == "view" and c == 2 for e, _h, c, _s in got)


def test_consume_changes_cursor_loop(spark, tmp_path):
    """Poll-based CDC consumer: first consume = full content as
    inserts; commit advances the cursor; caught-up consume returns
    None; an uncommitted consume (crash mid-apply) re-delivers the
    same range; independent consumers keep independent cursors."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    cur = str(tmp_path / "cursors")
    b0 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "trip_key long, v string"
    ).coalesce(1)
    SN.upsert_batch(b0, 0, t)

    feed, v = SN.consume_changes(spark, t, cur)
    assert v == 1
    assert {(r.trip_key, r._change_type) for r in feed.collect()} == {
        (1, "insert"), (2, "insert")
    }
    # crash before commit: the SAME range is re-delivered
    feed2, v2 = SN.consume_changes(spark, t, cur)
    assert v2 == 1 and feed2 is not None
    SN.commit_cursor(cur, "default", v)

    # caught up
    feed3, v3 = SN.consume_changes(spark, t, cur)
    assert feed3 is None and v3 == 1

    # a new append shows only the delta
    b1 = spark.createDataFrame([(3, "c")], "trip_key long, v string")
    SN.upsert_batch(b1, 1, t)
    feed4, v4 = SN.consume_changes(spark, t, cur)
    assert v4 == 2
    assert {(r.trip_key, r._change_type) for r in feed4.collect()} == {
        (3, "insert")
    }
    SN.commit_cursor(cur, "default", v4)

    # an independent consumer starts from scratch (full content)
    feedx, vx = SN.consume_changes(spark, t, cur, consumer="replica")
    assert vx == 2
    assert {r.trip_key for r in feedx.collect()} == {1, 2, 3}


def test_refresh_view_effectively_once_across_crash(spark, tmp_path,
                                                    monkeypatch):
    """Incremental materialized view over the snapshot table: refresh
    steps track the base version, deletes propagate, a crash between
    state write and cursor commit re-applies the SAME feed to the SAME
    old state (never double-applied), and the final view equals a full
    recompute."""
    import os

    from jobsity_data_pipeline_spark.operators import incremental as INC
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    vd = str(tmp_path / "view")

    def df(rows):
        return spark.createDataFrame(
            rows, "event_id long, event_type string, ts string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    SN.upsert_batch(df([
        (1, "view", "2024-01-01 10:05:00", 1.0),
        (2, "view", "2024-01-01 10:25:00", 3.0),
        (3, "buy", "2024-01-01 11:00:00", 10.0),
    ]), 0, t, key="event_id")

    r1 = INC.refresh_view(spark, t, vd, key="event_id")
    assert r1 == {"refreshed": True, "version": 1,
                  "state": os.path.join(vd, "state-v000001")}
    # caught up: no-op
    assert INC.refresh_view(spark, t, vd, key="event_id")["refreshed"] \
        is False

    # append + delete, then refresh
    SN.upsert_batch(df([(4, "view", "2024-01-01 10:50:00", 5.0)]),
                    1, t, key="event_id")
    SN.delete_keys(spark, t, [2], key="event_id")

    # crash simulation: first attempt dies AFTER writing state, BEFORE
    # the cursor commit
    real_replace = os.replace
    boom = {"armed": True}

    def crashing_replace(src, dst):
        if boom["armed"] and dst.endswith("cursor.json"):
            boom["armed"] = False
            raise RuntimeError("crash before cursor commit")
        return real_replace(src, dst)

    monkeypatch.setattr(INC.os, "replace", crashing_replace)
    import pytest

    with pytest.raises(RuntimeError):
        INC.refresh_view(spark, t, vd, key="event_id")
    # retry succeeds and is NOT a double-apply
    r2 = INC.refresh_view(spark, t, vd, key="event_id")
    assert r2["refreshed"] and r2["version"] == 3

    got = {
        (r.event_type, str(r.h), r.cnt, r.avg_value)
        for r in INC.read_current_view(spark, vd).collect()
    }
    want = {
        (r.event_type, str(r.h), r.cnt, r.avg_value)
        for r in INC.read_view(
            INC.hourly_partials(SN.read_latest(spark, t))
        ).collect()
    }
    assert got == want


def test_stats_survive_alternating_write_keys(spark, tmp_path):
    """A table written under several keys (the mutable LSH flow:
    upserts on band_key, deletes on doc_id) must keep BOTH keys'
    data-skipping stats across publishes — replacing the manifest
    stats dict with a single-key map would silently drop the other
    key's index."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    df1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "ka long, kb long, v string"
    ).coalesce(1)
    SN.upsert_batch(df1, 0, t, key="ka")
    df2 = spark.createDataFrame(
        [(3, 30, "c")], "ka long, kb long, v string"
    ).coalesce(1)
    SN.upsert_batch(df2, 1, t, key="kb")
    man = SN.latest_manifest(t)
    assert set(man["stats"]) == {"ka", "kb"}
    # the ka map still covers the first batch's files
    assert any(p in man["stats"]["ka"] for p in man["files"])
    # a delete on ka keeps kb's surviving entries
    SN.delete_keys(spark, t, [1], key="ka")
    man2 = SN.latest_manifest(t)
    assert "kb" in man2["stats"] and man2["stats"]["kb"]


def test_noop_delete_publishes_no_version(spark, tmp_path):
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    df1 = spark.createDataFrame(
        [(1, "a")], "trip_key long, v string"
    ).coalesce(1)
    SN.upsert_batch(df1, 0, t)
    v = SN.latest_manifest(t)["version"]
    res = SN.delete_keys(spark, t, [999])  # outside every file's range
    assert res == {"files_total": 1, "files_rewritten": 0,
                   "rows_deleted": 0}
    assert SN.latest_manifest(t)["version"] == v  # no manifest churn


def test_change_feed_raises_on_vacuumed_cursor(spark, tmp_path):
    import pytest

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    for b in range(4):
        df = spark.createDataFrame(
            [(b, f"v{b}")], "trip_key long, v string"
        ).coalesce(1)
        SN.upsert_batch(df, b, t)
    SN.vacuum(t, keep_versions=1, retention_seconds=0)
    with pytest.raises(ValueError, match="unresolvable"):
        SN.change_feed(spark, t, 1)


def test_refresh_view_rebuilds_after_vacuum_and_prunes_states(
        spark, tmp_path):
    """Vacuumed history: the view must FULL-REBUILD from the pinned
    version (never silently skip the hole), and superseded state
    directories are removed after each commit."""
    import os

    from jobsity_data_pipeline_spark.operators import incremental as INC
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    vd = str(tmp_path / "view")

    def df(rows):
        return spark.createDataFrame(
            rows, "event_id long, event_type string, ts string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    SN.upsert_batch(df([(1, "view", "2024-01-01 10:05:00", 1.0)]),
                    0, t, key="event_id")
    assert INC.refresh_view(spark, t, vd, key="event_id")["refreshed"]

    for b, v in ((1, 2.0), (2, 4.0), (3, 8.0)):
        SN.upsert_batch(
            df([(10 + b, "buy", "2024-01-01 11:05:00", v)]),
            b, t, key="event_id",
        )
    SN.vacuum(t, keep_versions=1, retention_seconds=0)

    r = INC.refresh_view(spark, t, vd, key="event_id")
    assert r["refreshed"] and r["version"] == 4
    got = {
        (x.event_type, x.cnt, x.avg_value)
        for x in INC.read_current_view(spark, vd).collect()
    }
    want = {
        (x.event_type, x.cnt, x.avg_value)
        for x in INC.read_view(
            INC.hourly_partials(SN.read_latest(spark, t))
        ).collect()
    }
    assert got == want  # full rebuild, no skipped hole, no double-count
    # only the committed state directory survives
    states = [n for n in os.listdir(vd) if n.startswith("state-v")]
    assert states == ["state-v000004"]


def test_refresh_view_emptied_table_after_vacuum(spark, tmp_path):
    """An emptied base table is a real state, not absence: when vacuum
    forces a full rebuild and the pinned version has no files, the
    view must commit EMPTY rather than serve stale pre-delete rows
    forever."""
    from jobsity_data_pipeline_spark.operators import incremental as INC
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    vd = str(tmp_path / "view")
    df = spark.createDataFrame(
        [(1, "view", "2024-01-01 10:05:00", 1.0),
         (2, "buy", "2024-01-01 11:05:00", 2.0)],
        "event_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    SN.upsert_batch(df, 0, t, key="event_id")
    assert INC.refresh_view(spark, t, vd, key="event_id")["refreshed"]
    assert INC.read_current_view(spark, vd).count() == 2

    SN.delete_keys(spark, t, [1, 2], key="event_id")  # table emptied
    SN.vacuum(t, keep_versions=1, retention_seconds=0)

    r = INC.refresh_view(spark, t, vd, key="event_id")
    assert r["refreshed"]
    assert INC.read_current_view(spark, vd).count() == 0


def test_delete_keys_dataframe_path_prunes_and_matches_list(spark, tmp_path):
    """Round-5: delete_keys accepts the key set as a DataFrame — file
    pruning happens via a broadcast range-join (only hit file PATHS
    reach the driver) and the delete is a left-anti join. Must prune
    identically to the list path and leave the same table."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tdf")
    lo = spark.createDataFrame(
        [(i, "lo") for i in range(100)], "trip_key long, v string"
    ).coalesce(1)
    hi = spark.createDataFrame(
        [(i, "hi") for i in range(100, 200)], "trip_key long, v string"
    ).coalesce(1)
    assert SN.upsert_batch(lo, 0, t) == "published"
    assert SN.upsert_batch(hi, 1, t) == "published"

    keys_df = spark.createDataFrame([(5,), (7,)], "trip_key long")
    stats = SN.delete_keys(spark, t, keys_df)
    assert stats["rows_deleted"] == 2
    # range pruning held: the high-range file set was never rewritten
    assert stats["files_rewritten"] < stats["files_total"]
    now = {r.trip_key for r in SN.read_latest(spark, t).collect()}
    assert 5 not in now and 7 not in now and len(now) == 198

    # keys outside every range: no-op, no new version
    before = SN.latest_manifest(t)["version"]
    res = SN.delete_keys(
        spark, t, spark.createDataFrame([(999,)], "trip_key long")
    )
    assert res["rows_rewritten" if "rows_rewritten" in res else "rows_deleted"] == 0
    assert res["files_rewritten"] == 0
    assert SN.latest_manifest(t)["version"] == before


def test_delete_keys_row_group_gap_is_not_a_hit(spark, tmp_path):
    """ADVICE r4: the manifest's per-file [min,max] bridges the gap
    between row groups; a key falling in that gap must be confirmed
    against the per-row-group footer ranges and classed a MISS (no
    rewrite, no manifest churn)."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tgap")
    # one file, two row groups with a [10..89] gap between them
    df = spark.createDataFrame(
        [(i, "x") for i in list(range(10)) + list(range(90, 100))],
        "trip_key long, v string",
    ).coalesce(1).sortWithinPartitions("trip_key")
    assert SN.upsert_batch(df, 0, t) == "published"
    # force two row groups by rewriting with a tiny row-group size
    import pyarrow.parquet as pq
    import pyarrow as pa

    man = SN.latest_manifest(t)
    [path] = man["files"]
    tbl = pq.read_table(path)
    pq.write_table(tbl, path, row_group_size=10)
    meta = pq.ParquetFile(path)
    assert meta.metadata.num_row_groups == 2

    before = man["version"]
    # in the inter-row-group gap; footer_confirm opts into the
    # row-group-granularity check (default stays manifest-only)
    res = SN.delete_keys(spark, t, [50], footer_confirm=True)
    assert res["rows_deleted"] == 0
    assert res["files_rewritten"] == 0, (
        "gap key must be footer-confirmed as a miss, not rewritten"
    )
    assert SN.latest_manifest(t)["version"] == before
    # same through the DataFrame path
    res2 = SN.delete_keys(
        spark, t, spark.createDataFrame([(50,)], "trip_key long"),
        footer_confirm=True,
    )
    assert res2["files_rewritten"] == 0
    assert SN.latest_manifest(t)["version"] == before


def test_merge_into_updates_and_cdc_sees_them(spark, tmp_path):
    """Tables that cannot re-key get UPDATE semantics via merge_into's
    content hash: a content-aware change_feed surfaces a replaced key
    as delete(old) + insert(new) beside a plain insert, an unchanged
    re-emit emits nothing, and the key-only feed hides the update."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "trep")
    v1 = spark.createDataFrame(
        [(1, "alpha"), (2, "bravo")], "trip_key long, v string"
    )
    assert SN.merge_into(v1, 0, t)["status"] == "published"
    v_pre = SN.latest_manifest(t)["version"]

    # key 1 changes content, key 2 re-emits unchanged, key 3 is new
    v2 = spark.createDataFrame(
        [(1, "ALPHA2"), (2, "bravo"), (3, "charlie")],
        "trip_key long, v string",
    )
    res = SN.merge_into(v2, 1, t)
    assert (res["deleted"], res["updated"], res["inserted"]) == (0, 1, 1)
    # one version for the update: no published version lacks key 1
    assert SN.latest_manifest(t)["version"] == v_pre + 1
    now = {r.trip_key: r.v for r in SN.read_latest(spark, t).collect()}
    assert now == {1: "ALPHA2", 2: "bravo", 3: "charlie"}

    feed = SN.change_feed(
        spark, t, v_pre, key="trip_key", content_col="_chash"
    )
    got = {(r.trip_key, r.v, r._change_type) for r in feed.collect()}
    assert got == {
        (1, "alpha", "delete"),
        (1, "ALPHA2", "insert"),
        (3, "charlie", "insert"),
    }
    # the key-only feed (old premise) would have hidden the update
    keyed = SN.change_feed(spark, t, v_pre, key="trip_key")
    kg = {(r.trip_key, r._change_type) for r in keyed.collect()}
    assert (1, "insert") not in kg and (1, "delete") not in kg


def test_merge_into_three_clauses_single_commit(spark, tmp_path):
    """Delta-style MERGE: delete / update / insert clauses resolve in
    ONE published version; identical re-emits are no-ops without
    manifest churn; replay of an applied batch is skipped."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tmerge")
    base = spark.createDataFrame(
        [(1, "alpha", 10), (2, "bravo", 20), (3, "charlie", 30)],
        "trip_key long, v string, qty long",
    )
    # history built WITHOUT stored hashes (plain upsert path)
    assert SN.upsert_batch(base, 0, t) == "published"
    v0 = SN.latest_manifest(t)["version"]

    src = spark.createDataFrame(
        [
            (1, "alpha", 0),      # matched, qty=0 -> delete clause
            (2, "BRAVO2", 25),    # matched, changed -> update
            (3, "charlie", 30),   # matched, identical -> no-op
            (4, "delta", 40),     # not matched -> insert
        ],
        "trip_key long, v string, qty long",
    )
    res = SN.merge_into(src, 1, t, when_matched_delete="qty = 0")
    assert res == {"status": "published", "deleted": 1, "updated": 1,
                   "inserted": 1}
    # ONE atomic version for the whole merge
    assert SN.latest_manifest(t)["version"] == v0 + 1
    now = {r.trip_key: (r.v, r.qty)
           for r in SN.read_latest(spark, t).drop("_chash").collect()}
    assert now == {2: ("BRAVO2", 25), 3: ("charlie", 30),
                   4: ("delta", 40)}

    # replay of the same batch id: full no-op
    assert SN.merge_into(src, 1, t, when_matched_delete="qty = 0")[
        "status"] == "skipped_duplicate"
    assert SN.latest_manifest(t)["version"] == v0 + 1

    # identical source under a NEW batch id: noop, zero churn
    cur = spark.createDataFrame(
        [(2, "BRAVO2", 25), (3, "charlie", 30), (4, "delta", 40)],
        "trip_key long, v string, qty long",
    )
    assert SN.merge_into(cur, 2, t)["status"] == "noop"
    assert SN.latest_manifest(t)["version"] == v0 + 1


def test_merge_into_clause_toggles_and_cdc(spark, tmp_path):
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tmerge2")
    # merge into a missing table: insert-only bootstrap
    src0 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "trip_key long, v string"
    )
    res = SN.merge_into(src0, 0, t)
    assert res["status"] == "published" and res["inserted"] == 2
    v_pre = SN.latest_manifest(t)["version"]

    # insert disabled: unmatched rows are ignored, updates still land
    src1 = spark.createDataFrame(
        [(1, "A2"), (9, "ghost")], "trip_key long, v string"
    )
    res = SN.merge_into(src1, 1, t, when_not_matched_insert=False)
    assert res == {"status": "published", "deleted": 0, "updated": 1,
                   "inserted": 0}
    now = {r.trip_key: r.v
           for r in SN.read_latest(spark, t).drop("_chash").collect()}
    assert now == {1: "A2", 2: "b"}

    # update disabled: changed rows are left alone; delete still fires
    src2 = spark.createDataFrame(
        [(1, "A3"), (2, "b")], "trip_key long, v string"
    )
    res = SN.merge_into(src2, 2, t, when_matched_update=False,
                        when_matched_delete="v = 'b'")
    assert res == {"status": "published", "deleted": 1, "updated": 0,
                   "inserted": 0}
    now = {r.trip_key: r.v
           for r in SN.read_latest(spark, t).drop("_chash").collect()}
    assert now == {1: "A2"}

    # CDC: the update published hashes, so a content-aware feed shows
    # the round-1 replacement as delete(old)+insert(new)
    feed = SN.change_feed(spark, t, v_pre, key="trip_key",
                          content_col="_chash")
    got = {(r.trip_key, r.v, r._change_type) for r in feed.collect()}
    assert (1, "a", "delete") in got and (1, "A2", "insert") in got


def test_merge_into_null_predicate_and_tombstones(spark, tmp_path):
    """Review findings, round 6: a NULL delete-predicate result falls
    through to the update clause (not silently dropped), and a
    predicate-gated insert clause keeps out-of-order CDC tombstones
    from being resurrected as live rows."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tnullpred")
    base = spark.createDataFrame(
        [(1, "a", "u"), (2, "b", "u")], "trip_key long, v string, op string"
    )
    assert SN.upsert_batch(base, 0, t) == "published"

    src = spark.createDataFrame(
        [
            (1, "A2", None),   # matched, changed, op NULL -> update
            (2, "b", "d"),     # matched tombstone -> delete
            (3, "c", "d"),     # UNMATCHED tombstone -> must NOT insert
            (4, "dd", "u"),    # unmatched insert
        ],
        "trip_key long, v string, op string",
    )
    res = SN.merge_into(
        src, 1, t,
        when_matched_delete="op = 'd'",
        when_not_matched_insert="op IS NULL OR op <> 'd'",
    )
    assert res == {"status": "published", "deleted": 1, "updated": 1,
                   "inserted": 1}
    now = {r.trip_key: r.v for r in SN.read_latest(spark, t)
           .drop("_chash", "op").collect()}
    assert now == {1: "A2", 4: "dd"}


def test_manifest_extras_survive_compact_and_merge(spark, tmp_path):
    """Caller metadata published in a manifest (the BM25 term list
    pattern) must ride through every republishing writer — compact,
    delete, merge — or readers silently fall back to defaults."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "textras")
    rows = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "trip_key long, v string"
    )
    assert SN.upsert_batch(rows, 0, t, extra={"bm25_terms": ["x", "y"]}) \
        == "published"
    assert SN.latest_manifest(t)["bm25_terms"] == ["x", "y"]

    SN.compact(spark, t, target_files=1)
    assert SN.latest_manifest(t)["bm25_terms"] == ["x", "y"]

    SN.delete_keys(spark, t, [3], key="trip_key")
    assert SN.latest_manifest(t)["bm25_terms"] == ["x", "y"]

    src = spark.createDataFrame([(5, "V5")], "trip_key long, v string")
    assert SN.merge_into(src, 7, t)["status"] == "published"
    assert SN.latest_manifest(t)["bm25_terms"] == ["x", "y"]

    # a later upsert keeps it too (carry-forward, not caller-supplied)
    more = spark.createDataFrame([(99, "z")], "trip_key long, v string")
    assert SN.upsert_batch(more, 8, t) == "published"
    assert SN.latest_manifest(t)["bm25_terms"] == ["x", "y"]


def test_streaming_merge_applies_cdc_ops(spark, tmp_path):
    """start_snapshot_merge drives merge_into per micro-batch: an
    op-tagged CDC feed upserts and deletes with exactly-once batch
    semantics, one manifest version per non-noop batch."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    schema = "trip_key long, v string, op string"
    src = tmp_path / "feed"
    # batch 1: initial inserts; batch 2: update key 1, delete key 2,
    # insert key 3 (maxFilesPerTrigger=1 -> one file per micro-batch)
    spark.createDataFrame(
        [(1, "a", "u"), (2, "b", "u")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [(1, "A2", "u"), (2, "b", "d"), (3, "c", "u")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    t = str(tmp_path / "tbl")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = SN.start_snapshot_merge(
        stream, t, str(tmp_path / "ckpt"),
        when_matched_delete="op = 'd'",
    )
    q.awaitTermination(120)
    now = {r.trip_key: r.v for r in SN.read_latest(spark, t)
           .drop("_chash", "op").collect()}
    assert now == {1: "A2", 3: "c"}

    # restart over the same files: checkpoint + batch tokens make the
    # replay a full no-op
    v = SN.latest_manifest(t)["version"]
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q2 = SN.start_snapshot_merge(
        stream2, t, str(tmp_path / "ckpt"),
        when_matched_delete="op = 'd'",
    )
    q2.awaitTermination(120)
    assert SN.latest_manifest(t)["version"] == v


def test_merge_into_hash_is_total_over_nulls(spark, tmp_path):
    """The content hash must encode nulls explicitly (to_json omits
    null fields): null -> '' IS a content change, and a null column
    still contributes to the hash so two rows differing only in which
    column is null hash differently."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tnull")
    schema = "trip_key long, a string, b string"
    v1 = spark.createDataFrame([(1, None, "x"), (2, "x", None)], schema)
    assert SN.merge_into(v1, 0, t)["status"] == "published"
    h = {r.trip_key: r._chash for r in SN.read_latest(spark, t).collect()}
    # (null,'x') vs ('x',null): same non-null field set under to_json,
    # distinct under the null-total encoding
    assert h[1] != h[2]

    # null -> empty string on key 1 must register as a replacement
    v_pre = SN.latest_manifest(t)["version"]
    v2 = spark.createDataFrame([(1, "", "x"), (2, "x", None)], schema)
    assert SN.merge_into(v2, 1, t)["updated"] == 1
    feed = SN.change_feed(spark, t, v_pre, key="trip_key",
                          content_col="_chash")
    got = {(r.trip_key, r.a, r._change_type) for r in feed.collect()}
    assert got == {(1, None, "delete"), (1, "", "insert")}


def test_content_hash_is_injective_across_columns(spark, tmp_path):
    """A '<flag>:<value>' \\x1f-joined encoding is not injective —
    (a='x\\x1f1:y', b='z') and (a='x', b='y\\x1fz') encode identically,
    so that real content change would hash equal and merge_into would
    drop it as a no-op. The length-prefixed encoding must register it
    as a replacement."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tinj")
    schema = "trip_key long, a string, b string"
    v1 = spark.createDataFrame([(1, "x\x1f1:y", "z")], schema)
    assert SN.merge_into(v1, 0, t)["status"] == "published"
    v_pre = SN.latest_manifest(t)["version"]
    v2 = spark.createDataFrame([(1, "x", "y\x1fz")], schema)
    assert SN.merge_into(v2, 1, t)["updated"] == 1
    feed = SN.change_feed(spark, t, v_pre, key="trip_key",
                          content_col="_chash")
    assert feed is not None
    got = {(r.trip_key, r.a, r.b, r._change_type) for r in feed.collect()}
    assert got == {(1, "x\x1f1:y", "z", "delete"),
                   (1, "x", "y\x1fz", "insert")}


def test_change_feed_no_phantom_cdc_across_unmarked_merge(spark, tmp_path):
    """A merge over history that stores no content hash (plain
    upsert_batch files) rewrites the untouched rows of a hit file WITH
    computed hashes, while an un-hit file keeps none. A content-aware
    feed spanning that merge must compare stored-or-computed hashes on
    both sides, so untouched keys — co-located with the changed key
    or not — emit nothing."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tmix")
    schema = "trip_key long, a string, b string"
    # file A: keys 1+2 co-located; file B: key 3 (stays un-hit)
    fa = spark.createDataFrame(
        [(1, "alpha", "x"), (2, "bravo", "y")], schema
    ).coalesce(1)
    assert SN.upsert_batch(fa, 0, t) == "published"
    fb = spark.createDataFrame([(3, "charlie", "z")], schema).coalesce(1)
    assert SN.upsert_batch(fb, 1, t) == "published"
    v0 = SN.latest_manifest(t)["version"]

    upd = spark.createDataFrame(
        [(1, "ALPHA2", "x"), (2, "bravo", "y"), (3, "charlie", "z")],
        schema,
    )
    res = SN.merge_into(upd, 2, t, key="trip_key")
    assert (res["deleted"], res["updated"], res["inserted"]) == (0, 1, 0)

    feed = SN.change_feed(spark, t, v0, key="trip_key",
                          content_col="_chash")
    got = {(r.trip_key, r.a, r._change_type) for r in feed.collect()}
    assert got == {(1, "alpha", "delete"), (1, "ALPHA2", "insert")}, (
        "phantom delete+insert for an untouched key across a merge"
    )


def test_merge_into_bootstrap_insert_predicate_noop(spark, tmp_path):
    """A merge against a not-yet-created table whose insert predicate
    filters every source row must return noop WITHOUT publishing an
    empty version (round-6 ADVICE: it published churn + token)."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tboot")
    src = spark.createDataFrame(
        [(1, "d"), (2, "d")], "trip_key long, op string"
    )
    res = SN.merge_into(src, 0, t, key="trip_key",
                        when_not_matched_insert="op <> 'd'")
    assert res == {"status": "noop", "deleted": 0, "updated": 0,
                   "inserted": 0}
    assert SN.latest_manifest(t) is None
    # replaying the SAME batch id later with surviving rows still works
    # (noop recorded no token)
    src2 = spark.createDataFrame(
        [(1, "i"), (2, "d")], "trip_key long, op string"
    )
    res = SN.merge_into(src2, 0, t, key="trip_key",
                        when_not_matched_insert="op <> 'd'")
    assert res["status"] == "published" and res["inserted"] == 1


def test_merge_into_survives_add_column(spark, tmp_path):
    """Add-column evolution against the content-hash writer: history
    files that predate the column must be null-backfilled for the
    recomputed-hash comparison (round-7 review finding: the recompute
    expression referenced the batch's column list and crashed on an
    unresolved column). Stored hashes cover the OLD column list, so
    every re-emitted old key registers exactly one replacement — the
    documented one-time add-column wave, the correct CDC signal for
    'the row's declared content schema changed'."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tevo")
    v1 = spark.createDataFrame([(1, "alpha"), (2, "bravo")],
                               "trip_key long, a string")
    assert SN.merge_into(v1, 0, t)["status"] == "published"

    # evolved batch: adds column b (old keys re-emit as one documented
    # replacement wave), key 3 is new
    v2 = spark.createDataFrame(
        [(1, "alpha", None), (2, "bravo", "x"), (3, "charlie", "y")],
        "trip_key long, a string, b string",
    )
    v_pre = SN.latest_manifest(t)["version"]
    res = SN.merge_into(v2, 1, t)
    assert (res["updated"], res["inserted"]) == (2, 1)
    got = {r.trip_key: (r.a, r.b)
           for r in SN.read_latest(spark, t).collect()}
    assert got == {1: ("alpha", None), 2: ("bravo", "x"),
                   3: ("charlie", "y")}
    feed = SN.change_feed(spark, t, v_pre, key="trip_key",
                          content_col="_chash")
    ch = {(r.trip_key, r._change_type) for r in feed.collect()}
    assert {(1, "delete"), (1, "insert"), (2, "delete"), (2, "insert"),
            (3, "insert")} <= ch
    # the wave happens ONCE: an identical re-emit under the evolved
    # schema is a pure no-op
    v_now = SN.latest_manifest(t)["version"]
    assert SN.merge_into(v2, 2, t)["status"] == "noop"
    feed2 = SN.change_feed(spark, t, v_now, key="trip_key",
                           content_col="_chash")
    assert feed2 is None or feed2.count() == 0

    # same evolution through merge_into on a plain-upsert history: no
    # stored hashes exist, so BOTH sides recompute over the evolved
    # column list (absent == null) and the add-column wave vanishes —
    # only key 2's real content change updates
    t2 = str(tmp_path / "tevo2")
    assert SN.upsert_batch(v1, 0, t2) == "published"
    res = SN.merge_into(v2, 1, t2, key="trip_key")
    assert res["status"] == "published"
    assert (res["deleted"], res["updated"], res["inserted"]) == (0, 1, 1)
    got = {r.trip_key: (r.a, r.b)
           for r in SN.read_latest(spark, t2).collect()}
    assert got == {1: ("alpha", None), 2: ("bravo", "x"),
                   3: ("charlie", "y")}
    assert SN.merge_into(v2, 2, t2, key="trip_key")["status"] == "noop"


def test_compact_cluster_by_restores_data_skipping(spark, tmp_path,
                                                   monkeypatch):
    """Round-9: interleaved appends overlap every file's key range, so
    a point read must open all of them; compact(cluster_by=...)
    re-clusters during maintenance and the manifest stats tighten back
    to an O(1)-file point read — proven manifest-ALONE by poisoning
    the footer reader for the read path (the
    test_manifest_stats_enable_footerless_pruning pattern)."""
    import pyarrow.parquet

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    # four appends, each spanning the WHOLE key range (worst-case
    # interleaving: every file's [min,max] covers every key)
    for b in range(4):
        df = spark.createDataFrame(
            [(i, f"v{b}_{i}") for i in range(b, 400, 4)],
            "trip_key long, v string",
        ).coalesce(1)
        assert SN.upsert_batch(df, b, t) == "published"

    man = SN.latest_manifest(t)
    assert len(man["files"]) == 4
    hit, _ = SN._prune_by_stats(
        man["stats"]["trip_key"], man["files"], [200])
    assert len(hit) == 4  # degraded: every file may hold key 200

    res = SN.compact(spark, t, target_files=4, cluster_by="trip_key")
    assert res["files_after"] == 4

    man2 = SN.latest_manifest(t)
    hit2, clear2 = SN._prune_by_stats(
        man2["stats"]["trip_key"], man2["files"], [200])
    assert len(hit2) == 1  # re-clustered: disjoint ranges, O(1) files
    assert len(clear2) == 3

    # the point read itself runs footerless off the manifest stats
    def poisoned(*a, **k):
        raise AssertionError("footer read despite manifest stats")

    monkeypatch.setattr(pyarrow.parquet, "ParquetFile", poisoned)
    got = {
        tuple(r)
        for r in SN.read_point(spark, t, "trip_key", 200).collect()
    }
    assert got == {(200, "v0_200")}
    monkeypatch.undo()

    # row content is unchanged by the clustered rewrite
    assert SN.read_latest(spark, t).count() == 400


def test_compact_zorder_multi_column_prunes_both_keys(spark, tmp_path):
    """Round-10: compact(cluster_by=[a, b]) runs the Z-order layout —
    after maintenance the manifest stats prune point reads on EITHER
    column to a strict subset of the files, where the degraded
    interleaved layout had every file hit on both; both columns join
    the tracked stats set and rows are unchanged."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    # four appends, each spanning the WHOLE range of BOTH keys
    for b in range(4):
        df = spark.createDataFrame(
            [(i % 20, i // 20, f"v{b}_{i}")
             for i in range(b, 400, 4)],
            "ka long, kb long, v string",
        ).coalesce(1)
        assert SN.upsert_batch(df, b, t, key="v") == "published"

    man = SN.latest_manifest(t)
    assert len(man["files"]) == 4
    hit_a, _ = SN._prune_by_stats(
        man["stats"].get("ka", {}), man["files"], [7])
    assert len(hit_a) == 4  # degraded (or untracked): all files hit

    res = SN.compact(spark, t, target_files=4, cluster_by=["ka", "kb"])
    assert res["files_after"] == 4

    man2 = SN.latest_manifest(t)
    assert set(man2["stats"]) >= {"ka", "kb"}
    hit_a2, _ = SN._prune_by_stats(
        man2["stats"]["ka"], man2["files"], [7])
    hit_b2, _ = SN._prune_by_stats(
        man2["stats"]["kb"], man2["files"], [13])
    # z-order quadrants: a point on either dimension prunes files
    assert len(hit_a2) < 4 and len(hit_b2) < 4
    # row content is unchanged by the clustered rewrite
    assert SN.read_latest(spark, t).count() == 400
    assert SN.read_latest(spark, t).where("ka = 7").count() == 20


def test_compact_bin_packing_rewrites_only_small_files(spark, tmp_path):
    """Round-9: compact(only_smaller_than=...) is the Delta-OPTIMIZE
    bin-packer — the big file keeps its PATH (no rewrite, stats entry
    carried verbatim), the small append tail merges, rows and point
    reads survive, and a second pass is a no-op when nothing is left
    to pack."""
    import os

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    big = spark.createDataFrame(
        [(i, "x" * 64) for i in range(5000)], "trip_key long, v string"
    ).coalesce(1)
    assert SN.upsert_batch(big, 0, t) == "published"
    for b in (1, 2, 3):
        small = spark.createDataFrame(
            [(10_000 + b * 10 + i, "y") for i in range(5)],
            "trip_key long, v string",
        ).coalesce(1)
        assert SN.upsert_batch(small, b, t) == "published"

    man = SN.latest_manifest(t)
    assert len(man["files"]) == 4
    sizes = sorted(os.path.getsize(p) for p in man["files"])
    threshold = sizes[-1]  # everything but the big file is "small"
    big_path = max(man["files"], key=os.path.getsize)
    big_stats = man["stats"]["trip_key"][big_path]

    res = SN.compact(spark, t, target_files=1,
                     only_smaller_than=threshold)
    assert res["files_after"] == 2  # big file + one packed file

    man2 = SN.latest_manifest(t)
    assert big_path in man2["files"]  # untouched, same path
    assert man2["stats"]["trip_key"][big_path] == big_stats  # carried
    assert SN.read_latest(spark, t).count() == 5015
    got = {tuple(r)
           for r in SN.read_point(spark, t, "trip_key", 10011).collect()}
    assert got == {(10011, "y")}

    # second pass: one small file left at most -> no-op, same version
    res2 = SN.compact(spark, t, target_files=1,
                      only_smaller_than=threshold)
    assert res2["version"] == man2["version"]
    assert res2["files_after"] == len(man2["files"])


def test_read_jsonl_with_quarantine(spark, tmp_path):
    """Valid JSONL rows parse typed; syntactically broken lines land
    in the quarantine with their raw text — nothing silently dropped
    or nulled (the CSV quarantine contract for JSON lines)."""
    import pyspark.sql.types as T

    from jobsity_data_pipeline_spark.sources.readers import (
        read_jsonl_with_quarantine,
    )

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "name": "a"}\n'
        '{"id": 2, "name": "b"}\n'
        'not json at all\n'
        '{"id": 3, "name": "c"\n'  # truncated object
    )
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    good, bad = read_jsonl_with_quarantine(spark, str(p), schema)
    assert sorted(tuple(r) for r in good.collect()) == [
        (1, "a"), (2, "b"),
    ]
    bad_lines = sorted(r.raw_line for r in bad.collect())
    assert len(bad_lines) == 2
    assert any("not json" in b for b in bad_lines)


def test_restore_republishes_old_version_metadata_only(spark, tmp_path):
    """Round-10: snapshot.restore rolls the LATEST view back to a prior
    version as a NEW commit — no data copied, in-between versions stay
    time-travelable, batch-id idempotence survives, the stats map
    rides along, and appends continue on top; restoring an unknown or
    vacuumed version fails loudly."""
    import pytest

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    for b in range(3):  # v1..v3
        df = spark.createDataFrame(
            [(b * 10 + i, f"v{b}_{i}") for i in range(5)],
            "trip_key long, v string",
        ).coalesce(1)
        assert SN.upsert_batch(df, b, t) == "published"
    v1_rows = {tuple(r) for r in SN.read_version(spark, t, 1).collect()}
    v1_stats = SN._manifest_at(t, 1).get("stats")
    assert SN.read_latest(spark, t).count() == 15

    res = SN.restore(t, 1)
    assert res["restored_from"] == 1 and res["version"] == 4

    # latest view == v1, no data was rewritten (same file paths)
    assert {tuple(r) for r in SN.read_latest(spark, t).collect()} \
        == v1_rows
    man4 = SN.latest_manifest(t)
    assert man4["files"] == SN._manifest_at(t, 1)["files"]
    assert man4.get("stats") == v1_stats
    # in-between history stays time-travelable
    assert SN.read_version(spark, t, 3).count() == 15
    # batch idempotence: the rolled-back batches' tokens still skip
    replay = spark.createDataFrame(
        [(10, "dup")], "trip_key long, v string")
    assert SN.upsert_batch(replay, 1, t) == "skipped_duplicate"
    # and new appends land on top of the restored view
    df3 = spark.createDataFrame(
        [(90, "new")], "trip_key long, v string").coalesce(1)
    assert SN.upsert_batch(df3, 99, t) == "published"
    assert SN.read_latest(spark, t).count() == 6

    with pytest.raises(ValueError, match="no version 42"):
        SN.restore(t, 42)

    # vacuumed target: retire v1-v3's unreferenced data, then restore
    SN.restore(t, 4)  # latest references only v1's files again... keep
    SN.vacuum(t, keep_versions=2, retention_seconds=0.0)
    # v2's extra data dirs are gone; restoring v3 must fail loudly
    with pytest.raises(ValueError, match="vacuumed|no version"):
        SN.restore(t, 3)


def test_change_feed_across_restore_emits_rollback_deletes(
    spark, tmp_path
):
    """Round-10: a restore is a real commit, so the CDC surface must
    describe it — the feed across the restore boundary emits DELETEs
    for exactly the rows the rollback removed, and downstream
    incremental consumers converge without rescanning the table."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    for b in range(3):  # v1: keys 0-4, v2: +10-14, v3: +20-24
        df = spark.createDataFrame(
            [(b * 10 + i, f"v{b}_{i}") for i in range(5)],
            "trip_key long, v string",
        ).coalesce(1)
        assert SN.upsert_batch(df, b, t) == "published"

    assert SN.restore(t, 1)["version"] == 4
    feed = SN.change_feed(spark, t, from_version=3, to_version=4)
    rows = {(r["trip_key"], r["_change_type"]) for r in feed.collect()}
    want_deleted = {(k, "delete") for k in
                    list(range(10, 15)) + list(range(20, 25))}
    assert rows == want_deleted  # no phantom inserts, all rollbacks


def test_clone_table_zero_copy_divergence_and_vacuum_safety(
    spark, tmp_path
):
    """Round-10: shallow clone publishes the source's file list as a
    fresh table — reads match the source without copying data, the
    clone diverges independently, the clone's vacuum never touches
    source files, and cloning into an existing table refuses."""
    import pytest

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    src = str(tmp_path / "src")
    for b in range(2):
        df = spark.createDataFrame(
            [(b * 10 + i, f"v{b}_{i}") for i in range(5)],
            "trip_key long, v string",
        ).coalesce(1)
        assert SN.upsert_batch(df, b, src) == "published"
    src_rows = {tuple(r) for r in SN.read_latest(spark, src).collect()}

    dst = str(tmp_path / "dst")
    res = SN.clone_table(src, dst)
    assert res["version"] == 1 and res["source_version"] == 2
    assert {tuple(r) for r in SN.read_latest(spark, dst).collect()} \
        == src_rows
    # provenance + stats carried
    man = SN.latest_manifest(dst)
    assert man["cloned_from"]["version"] == 2
    assert man.get("stats") == SN.latest_manifest(src).get("stats")

    # divergence: appends to the clone never touch the source
    add = spark.createDataFrame(
        [(99, "clone_only")], "trip_key long, v string").coalesce(1)
    assert SN.upsert_batch(add, 7, dst) == "published"
    assert SN.read_latest(spark, dst).count() == 11
    assert {tuple(r) for r in SN.read_latest(spark, src).collect()} \
        == src_rows

    # vacuum on the clone sweeps only its OWN data dirs: after the
    # clone compacts (stops referencing source files), a
    # zero-retention vacuum must leave the source fully readable
    SN.compact(spark, dst, target_files=1)
    SN.vacuum(dst, keep_versions=1, retention_seconds=0.0)
    assert SN.read_latest(spark, dst).count() == 11
    assert {tuple(r) for r in SN.read_latest(spark, src).collect()} \
        == src_rows

    with pytest.raises(ValueError, match="already a snapshot table"):
        SN.clone_table(src, dst)
    with pytest.raises(ValueError, match="no published data"):
        SN.clone_table(str(tmp_path / "empty"), str(tmp_path / "d2"))


def test_analyze_retrofits_data_skipping_without_rewrite(
    spark, tmp_path, monkeypatch
):
    """Round-10: snapshot.analyze publishes [min, max] stats for a new
    query column by reading footers ONCE — same file list (no data
    rewritten), point reads on the new key then prune from the
    manifest alone (poisoned-footer proof), and a key with unusable
    footer stats is skipped, not half-published."""
    import pyarrow.parquet

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    # four appends, DISJOINT ranges on a column the writer never
    # tracked (value) — analyze can expose the natural clustering
    for b in range(4):
        df = spark.createDataFrame(
            [(b * 100 + i, b * 1000 + i, f"v{b}_{i}")
             for i in range(50)],
            "trip_key long, value long, v string",
        ).coalesce(1)
        assert SN.upsert_batch(df, b, t) == "published"

    man = SN.latest_manifest(t)
    assert "value" not in man.get("stats", {})

    res = SN.analyze(t, ["value", "no_such_col"])
    assert res["added"] == ["value"]
    assert res["skipped"] == ["no_such_col"]
    man2 = SN.latest_manifest(t)
    assert man2["files"] == man["files"]  # zero rewrite
    hit, clear = SN._prune_by_stats(
        man2["stats"]["value"], man2["files"], [2025])
    assert len(hit) == 1 and len(clear) == 3

    # the point read itself runs footerless off the new stats
    def poisoned(*a, **k):
        raise AssertionError("footer read despite manifest stats")

    monkeypatch.setattr(pyarrow.parquet, "ParquetFile", poisoned)
    got = {tuple(r)
           for r in SN.read_point(spark, t, "value", 2025).collect()}
    assert got == {(225, 2025, "v2_25")}
    monkeypatch.undo()

    # idempotent maintenance: analyzing again re-publishes the same
    # numbers (and prior stats keys are carried)
    res2 = SN.analyze(t, ["value"])
    assert res2["added"] == ["value"]
    man3 = SN.latest_manifest(t)
    assert man3["stats"]["value"] == man2["stats"]["value"]
    assert set(man3["stats"]) >= set(man2["stats"])


def test_history_and_read_asof(spark, tmp_path):
    """Round-10: every publish stamps its own commit wall-clock;
    history() reports it ascending and read_asof() resolves the
    latest version at-or-before a timestamp — including across a
    restore, whose manifest gets a FRESH stamp (the stale one is
    stripped from carried extras) so the as-of view stays monotone."""
    import datetime as dt
    import json as js
    import time

    from jobsity_data_pipeline_spark.sources.snapshot import (
        history, publish_snapshot, read_asof, restore,
    )

    table = str(tmp_path / "t")
    publish_snapshot(
        spark.createDataFrame([(1, "a")], "id long, v string"), table, "b1"
    )
    t_between = time.time()
    time.sleep(0.05)
    publish_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        table, "b2",
    )

    h = history(table)
    assert [x["version"] for x in h] == [1, 2]
    assert h[0]["committed_at"] <= h[1]["committed_at"]
    assert [x["batch"] for x in h] == ["b1", "b2"]

    # between the two commits -> v1; now -> v2; before v1 -> None
    assert read_asof(spark, table, t_between).count() == 1
    assert read_asof(spark, table, time.time()).count() == 2
    assert read_asof(spark, table, h[0]["committed_at"] - 10) is None
    # datetime form accepted
    assert read_asof(spark, table, dt.datetime.now()).count() == 2

    # restore(1) publishes v3 with a FRESH stamp, not v1's
    time.sleep(0.05)
    restore(table, 1)
    h = history(table)
    assert [x["version"] for x in h] == [1, 2, 3]
    assert h[2]["committed_at"] > h[1]["committed_at"]
    # as-of now sees the restored (1-row) list; as-of t_between still v1
    assert read_asof(spark, table, time.time()).count() == 1
    assert read_asof(spark, table, t_between).count() == 1

    # legacy manifests without the stamp fall back to file mtime
    mpath = f"{table}/manifest-000002.json"
    with open(mpath) as f:
        man = js.load(f)
    man.pop("committed_at")
    with open(mpath, "w") as f:
        js.dump(man, f)
    h = history(table)
    assert h[1]["committed_at"] > 0
    assert read_asof(spark, table, time.time()).count() == 1


def test_check_constraints_enforced_on_ingest(spark, tmp_path):
    """Round-10: Delta-style table CHECK constraints — persisted in
    the manifest, validated against existing data on ADD, enforced on
    every ingest path BEFORE any data write (violating batches leave
    no version and may retry under the same id), NULL passes (SQL
    CHECK semantics), carried across commits, and droppable."""
    import pytest as _pt

    from jobsity_data_pipeline_spark.sources.snapshot import (
        append_batch, drop_constraint, latest_manifest, merge_into,
        read_latest, set_constraint, upsert_batch,
    )

    schema = "id long, v string, price double"
    table = str(tmp_path / "t")
    upsert_batch(
        spark.createDataFrame([(1, "a", 5.0), (2, "b", 0.0)], schema),
        0, table, key="id",
    )
    r = set_constraint(spark, table, "price_nonneg", "price >= 0")
    assert r["constraints"] == {"price_nonneg": "price >= 0"}
    v_before = latest_manifest(table)["version"]

    # violating batch: loud error naming the constraint, no publish
    with _pt.raises(ValueError, match="price_nonneg"):
        upsert_batch(
            spark.createDataFrame([(3, "c", -1.0)], schema),
            1, table, key="id",
        )
    assert latest_manifest(table)["version"] == v_before

    # the failed batch id is NOT burned: a corrected retry publishes
    assert upsert_batch(
        spark.createDataFrame([(3, "c", 1.0)], schema),
        1, table, key="id",
    ) == "published"
    # NULL passes a CHECK (SQL semantics)
    assert upsert_batch(
        spark.createDataFrame([(4, "d", None)], schema),
        2, table, key="id",
    ) == "published"
    assert read_latest(spark, table).count() == 4
    # constraints carried forward across ingest commits
    assert latest_manifest(table)["constraints"] == {
        "price_nonneg": "price >= 0"
    }

    # merge_into validates its source too
    with _pt.raises(ValueError, match="price_nonneg"):
        merge_into(
            spark.createDataFrame([(9, "x", -2.0)], schema),
            3, table, key="id",
        )

    # adding a constraint the EXISTING data violates fails loudly
    with _pt.raises(ValueError, match="v_short"):
        set_constraint(spark, table, "v_short", "length(v) > 5")
    v_ins = latest_manifest(table)["version"]

    # append_batch enforces them too: no publish, batch id not burned
    with _pt.raises(ValueError, match="price_nonneg"):
        append_batch(
            spark.createDataFrame([(6, "f", -4.0)], schema), 5, table)
    assert latest_manifest(table)["version"] == v_ins
    assert append_batch(
        spark.createDataFrame([(6, "f", 4.0)], schema), 5, table,
    ) == "published"
    assert read_latest(spark, table).count() == 5

    # dropped -> the same violating batch now lands
    drop_constraint(table, "price_nonneg")
    assert upsert_batch(
        spark.createDataFrame([(5, "e", -9.0)], schema),
        4, table, key="id",
    ) == "published"
    with _pt.raises(ValueError, match="no constraint"):
        drop_constraint(table, "nope")


def test_maintain_chains_compact_analyze_vacuum(spark, tmp_path):
    """Round-10: maintain() is policy over the three primitives —
    bin-pack compaction only past the small-file threshold, analyze
    only for keys with missing stats coverage, vacuum only opt-in —
    and a freshly maintained table is a no-op on the next run."""
    from jobsity_data_pipeline_spark.sources.snapshot import (
        latest_manifest, maintain, read_latest, upsert_batch,
    )

    table = str(tmp_path / "t")
    # four streaming-style small appends -> four small files
    for b in range(4):
        upsert_batch(
            spark.createDataFrame(
                [(b * 10 + i, f"v{b}", float(i)) for i in range(5)],
                "id long, v string, price double",
            ),
            b, table, key="id",
        )
    assert len(latest_manifest(table)["files"]) == 4

    r = maintain(spark, table, analyze_keys=["price"])
    assert r["compact"]["files_after"] < r["compact"]["files_before"]
    assert r["analyze"]["added"] == ["price"]
    assert r["vacuum"] is None  # opt-in only
    assert read_latest(spark, table).count() == 20
    man = latest_manifest(table)
    # every live file has a price stats entry after analyze
    assert set(man["files"]) <= set(man["stats"]["price"])

    # steady state: nothing small, stats covered -> full no-op
    r2 = maintain(spark, table, analyze_keys=["price"])
    assert r2 == {"compact": None, "analyze": None, "vacuum": None}

    # vacuum is opt-in and reports
    r3 = maintain(spark, table, analyze_keys=["price"],
                  vacuum_old=True, keep_versions=1,
                  retention_seconds=0.0)
    assert r3["vacuum"]["manifests_retired"] >= 1
    assert read_latest(spark, table).count() == 20


def test_constraint_added_mid_upsert_gates_the_retry(
    spark, tmp_path, monkeypatch
):
    """Round-10 race close: a set_constraint that lands between a
    writer's validation and its (CAS-failed) publish must gate the
    RETRY of that same batch — enforcement re-runs on any attempt
    where the manifest's constraint set changed, so the interleaved
    constraint can never be bypassed by in-flight writers."""
    import pytest as _pt

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    table = str(tmp_path / "t")
    SN.upsert_batch(
        spark.createDataFrame([(1, 2.0)], "id long, price double"),
        0, table, key="id",
    )

    real_publish = SN._publish
    fired = {"done": False}

    def racing_publish(*args, **kwargs):
        if not fired["done"]:
            fired["done"] = True
            # the interleaved committer: adds the constraint with the
            # REAL publish, then forces the in-flight writer's CAS to
            # fail exactly as a lost race would
            monkeypatch.setattr(SN, "_publish", real_publish)
            SN.set_constraint(spark, table, "price_nonneg", "price >= 0")
            return -1
        return real_publish(*args, **kwargs)

    monkeypatch.setattr(SN, "_publish", racing_publish)
    with _pt.raises(ValueError, match="price_nonneg"):
        SN.upsert_batch(
            spark.createDataFrame([(2, -5.0)], "id long, price double"),
            1, table, key="id",
        )
    # nothing violating was published, and the constraint stands
    man = SN.latest_manifest(table)
    assert man["constraints"] == {"price_nonneg": "price >= 0"}
    assert SN.read_latest(spark, table).where("price < 0").count() == 0


def test_maintain_tolerates_files_missing_on_disk(spark, tmp_path):
    """Round-11 (ADVICE low): maintain()'s small-file scan must skip
    manifest-listed paths that vanished (e.g. a concurrent vacuum)
    instead of crashing the nightly job with FileNotFoundError."""
    import os as _os

    from jobsity_data_pipeline_spark.sources.snapshot import (
        latest_manifest, maintain, upsert_batch,
    )

    table = str(tmp_path / "tmiss")
    for b in range(3):
        upsert_batch(
            spark.createDataFrame([(b, "x")], "trip_key long, v string"),
            b, table,
        )
    man = latest_manifest(table)
    # simulate a concurrent vacuum removing one live file
    _os.remove(man["files"][0])
    report = maintain(spark, table, min_small_files=3)
    # missing file counted as not-small -> only 2 small remain -> no
    # compact (and, critically, no crash)
    assert report["compact"] is None


def test_source_vacuum_protects_clone_referenced_files(spark, tmp_path):
    """Round-11 (r10 verdict task 7): clone_table registers itself in
    the SOURCE (_clones sidecar), and vacuum on the source SKIPS data
    dirs a live clone still references — with a warning naming the
    clone — instead of silently corrupting the clone's reads. force
    deletes anyway; a diverged clone's stale registration is GC'd."""
    import warnings as _w

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(5)], "trip_key long, v string"
    ).coalesce(1)
    assert SN.upsert_batch(df, 0, src) == "published"
    dst = str(tmp_path / "dst")
    SN.clone_table(src, dst)
    clone_rows = {tuple(r) for r in SN.read_latest(spark, dst).collect()}

    # source moves on: a compact republishes its data elsewhere, so
    # the original data dir is unreferenced BY THE SOURCE but still
    # referenced by the clone
    SN.compact(spark, src, target_files=1)
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        rep = SN.vacuum(src, keep_versions=1, retention_seconds=0.0)
    assert rep["skipped_clone_referenced"] >= 1
    assert any("shallow clone" in str(c.message) for c in caught)
    # the clone still reads its full snapshot
    assert {tuple(r) for r in SN.read_latest(spark, dst).collect()} \
        == clone_rows

    # the clone re-publishes (compact) -> stops referencing source
    # files -> the next source vacuum GC's the registration and
    # removes the dir with no warning
    SN.compact(spark, dst, target_files=1)
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        rep2 = SN.vacuum(src, keep_versions=1, retention_seconds=0.0)
    assert rep2["skipped_clone_referenced"] == 0
    assert not any("shallow clone" in str(c.message) for c in caught)
    assert SN.read_latest(spark, dst).count() == 5
    assert SN.read_latest(spark, src).count() == 5


def test_source_vacuum_force_overrides_clone_protection(spark, tmp_path):
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(4)], "trip_key long, v string"
    ).coalesce(1)
    assert SN.upsert_batch(df, 0, src) == "published"
    SN.clone_table(src, str(tmp_path / "dst"))
    SN.compact(spark, src, target_files=1)
    rep = SN.vacuum(src, keep_versions=1, retention_seconds=0.0,
                    force=True)
    assert rep["skipped_clone_referenced"] == 0
    assert rep["files_removed"] >= 1
    # the source itself remains fully readable
    assert SN.read_latest(spark, src).count() == 4
