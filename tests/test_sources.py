"""Source and sink tests: the CSV quarantine reader, the JDBC sink and
the manifest-based snapshot table."""

from __future__ import annotations

import pytest


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


def test_snapshot_publish_and_read_latest(spark, tmp_path):
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    v1 = SN._publish(t, SN._write_data(df1, t), "init", None, 0)
    df2 = spark.createDataFrame([(3, "c")], "k long, v string")
    v2 = SN._publish(t, SN._write_data(df2, t), "second", None, 1)
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
    SN.compact(spark, t)  # v3 rewrites both file sets into one
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
    assert rows == set(range(20))
    # retired versions are gone
    assert [h["version"] for h in SN.history(t)] == [3]


@pytest.mark.parametrize("keep", [0, -1])
def test_vacuum_rejects_keep_versions_below_one(spark, tmp_path, keep):
    """keep_versions < 1 is an error, not a silent wrong retire:
    ms[:-0] retires nothing and ms[:1] the OLDEST version, and both
    used to report success. maintain() checks it before its compact
    step (four small files would otherwise compact) commits."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    for b in range(4):
        SN.upsert_batch(spark.createDataFrame(
            [(b, "v")], "trip_key long, v string"), b, t)
    with pytest.raises(ValueError, match=f"keep_versions.*got {keep}"):
        SN.vacuum(t, keep_versions=keep, retention_seconds=0)
    with pytest.raises(ValueError, match=f"keep_versions.*got {keep}"):
        SN.maintain(spark, t, keep_versions=keep, retention_seconds=0,
                    vacuum_old=True)
    assert [h["version"] for h in SN.history(t)] == [1, 2, 3, 4]


def test_snapshot_publish_is_put_if_absent(spark, tmp_path, monkeypatch):
    """Two writers minting the same version must not lose a commit:
    the loser detects the occupied slot and republishes at the next
    version."""
    import json as _json
    import os

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    schema = "trip_key long, v string"
    assert SN.upsert_batch(
        spark.createDataFrame([(1, "a")], schema), 0, t) == "published"
    v1_files = SN.latest_manifest(t)["files"]
    squat = os.path.join(t, "manifest-000002.json")
    squat_body = {"version": 2, "batch": "racer", "files": v1_files}
    real_link = os.link

    def squat_then_link(src, dst):
        # squat on version 2 between the publish's listing and its link,
        # the way a racing writer would — the slot is per-version (token
        # only in the body), so writers with DIFFERENT tokens still
        # contend for the same filename
        if dst == squat and not os.path.exists(squat):
            with open(squat, "w") as f:
                _json.dump(squat_body, f)
        return real_link(src, dst)

    monkeypatch.setattr(SN.os, "link", squat_then_link)
    # one attempt: the taken slot is reported, nothing is replaced
    files = SN._write_data(spark.createDataFrame([(9, "z")], schema), t)
    assert SN._publish(t, files, "second", None, 1) == -1
    with open(squat) as f:
        assert _json.load(f) == squat_body  # survivor intact
    os.remove(squat)
    # through the commit loop: the loser re-reads and lands at v3
    assert SN.upsert_batch(
        spark.createDataFrame([(2, "b")], schema), 1, t) == "published"
    with open(squat) as f:
        assert _json.load(f) == squat_body
    assert [v for v, _, _ in SN._manifests(t)] == [1, 2, 3]
    assert SN.latest_manifest(t)["batch"] == "batch1"
    rows = {r.trip_key for r in SN.read_latest(spark, t).collect()}
    assert rows == {1, 2}


def test_snapshot_schema_evolution_add_column(spark, tmp_path):
    """A later batch may carry an added column: the latest version
    reads the merged schema (nulls for pre-evolution files)."""
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
    # the manifest's schema widened in place: old columns first
    assert _manifest_columns(SN.latest_manifest(t)) == [
        "trip_key", "v", "score"]


def _manifest_columns(man):
    import json

    return [f["name"] for f in json.loads(man["schema"])["fields"]]


def _legacy_table(spark, t, rows, schema="trip_key long, v string"):
    """A table as written before manifests carried a schema: one
    snappy data file set with Spark's default v1 pages and a manifest
    without a ``schema`` field."""
    import os

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    d = os.path.join(t, "data-legacy")
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.option("compression", "snappy").parquet(d)
    files = [os.path.join(d, n) for n in sorted(os.listdir(d))
             if n.endswith(".parquet")]
    assert SN._publish(t, files, "legacy", None, 0) == 1
    assert "schema" not in SN.latest_manifest(t)


def test_upsert_rejects_conflicting_column_type(spark, tmp_path):
    """A batch whose column type conflicts with the table's is refused
    before anything is written: publishing it would leave a version
    whose files no read can merge."""
    import os

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    t = str(tmp_path / "tbl")
    ok = spark.createDataFrame([(1, "a")], "trip_key long, v string")
    assert SN.upsert_batch(ok, 0, t) == "published"
    before = (SN.history(t), sorted(os.listdir(t)))
    bad = spark.createDataFrame([(2, 5)], "trip_key long, v long")
    with pytest.raises(ValueError, match=r"'v' is string .* bigint"):
        SN.upsert_batch(bad, 1, t)
    assert (SN.history(t), sorted(os.listdir(t))) == before
    assert [tuple(r) for r in SN.read_latest(spark, t).collect()] == [
        (1, "a")]


def test_reads_run_no_schema_job(spark, tmp_path, monkeypatch):
    """Reads take the schema from the manifest: read_latest, read_point
    and upsert_batch's read of the prior files launch no Spark job
    before their action. A manifest without the field still reads
    (inferred once), its next upsert publishes the field, and analyze
    and compact carry it."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    sc = spark.sparkContext

    def jobs_in(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sc.statusTracker().getJobIdsForGroup(group)

    t = str(tmp_path / "tbl")
    schema = "trip_key long, v string"
    for b, rows in enumerate(([(1, "a")], [(2, "b")])):
        SN.upsert_batch(spark.createDataFrame(rows, schema), b, t)
    assert jobs_in("read-latest", lambda: SN.read_latest(spark, t)) == []
    assert jobs_in("read-point",
                   lambda: SN.read_point(spark, t, "trip_key", 2)) == []

    before_write = []
    real_write = SN._write_data

    def write_data(df, table_dir):
        before_write.append(list(sc.statusTracker().getJobIdsForGroup(
            "upsert")))
        return real_write(df, table_dir)

    monkeypatch.setattr(SN, "_write_data", write_data)
    batch = spark.createDataFrame([(3, "c")], schema)
    jobs_in("upsert", lambda: SN.upsert_batch(batch, 2, t))
    assert before_write == [[]]
    monkeypatch.undo()

    legacy = str(tmp_path / "legacy")
    _legacy_table(spark, legacy, [(1, "a")])
    assert [tuple(r) for r in SN.read_latest(spark, legacy).collect()] \
        == [(1, "a")]
    SN.upsert_batch(spark.createDataFrame([(2, "b")], schema), 0, legacy)
    assert _manifest_columns(SN.latest_manifest(legacy)) == ["trip_key", "v"]
    SN.analyze(legacy, ["v"])
    assert SN.history(legacy)[-1]["batch"].startswith("analyze-")
    assert _manifest_columns(SN.latest_manifest(legacy)) == ["trip_key", "v"]
    SN.compact(spark, legacy, target_files=1)
    man = SN.latest_manifest(legacy)
    assert len(man["files"]) == 1
    assert _manifest_columns(man) == ["trip_key", "v"]
    assert sorted(map(tuple, SN.read_latest(spark, legacy).collect())) == [
        (1, "a"), (2, "b")]


def test_data_files_are_zstd_and_mixed_codecs_read(spark, tmp_path):
    """Every data file the table writes is zstd parquet with v2 pages,
    and a version that keeps earlier snappy v1 files next to new zstd
    v2 ones reads all their rows, by read_latest and by read_point. On
    a trips-shaped table the high-cardinality strings are
    DELTA_BYTE_ARRAY, an encoding only v2 pages use."""
    import pyarrow.parquet as pq

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    def chunks(files):
        for f in files:
            meta = pq.ParquetFile(f).metadata
            for rg in range(meta.num_row_groups):
                for c in range(meta.num_columns):
                    yield meta.row_group(rg).column(c)

    def codecs(files):
        return {ch.compression for ch in chunks(files)}

    def delta_columns(files):
        return {ch.path_in_schema for ch in chunks(files)
                if "DELTA_BYTE_ARRAY" in ch.encodings}

    trips = [
        (f"r{i % 3}", f"POINT ({i}.25 45.{i})", f"POINT ({i}.75 44.{i})",
         f"2018-05-{i:02d} 0{i}:{i:02d}:00", f"ds{i % 2}", f"{i * 40503:08x}")
        for i in range(1, 7)
    ]
    for name, schema, rows, delta in (
        ("kv", "trip_key long, v string", [(1, "a"), (2, "b"), (3, "c")],
         set()),
        ("trips", "region string, origin_coord string, "
         "destination_coord string, datetime string, datasource string, "
         "trip_key string", trips, {"trip_key", "origin_coord", "datetime"}),
    ):
        t = str(tmp_path / name)
        _legacy_table(spark, t, rows[:2], schema)
        snappy = SN.latest_manifest(t)["files"]
        assert codecs(snappy) == {"SNAPPY"}
        assert delta_columns(snappy) == set()
        SN.upsert_batch(spark.createDataFrame(rows[1:], schema), 0, t)
        files = SN.latest_manifest(t)["files"]
        new = [f for f in files if f not in snappy]
        assert len(files) > len(new) > 0
        assert codecs(new) == {"ZSTD"}
        assert delta_columns(new) >= delta
        assert sorted(map(tuple, SN.read_latest(spark, t).collect())) == \
            sorted(rows)
        key_at = [c.split()[0] for c in schema.split(",")].index("trip_key")
        for r in (rows[0], rows[-1]):  # one row of each file set
            assert [tuple(x) for x in SN.read_point(
                spark, t, "trip_key", r[key_at]).collect()] == [r]

        SN.compact(spark, t, target_files=1)
        [compacted] = SN.latest_manifest(t)["files"]
        assert codecs([compacted]) == {"ZSTD"}
        assert delta_columns([compacted]) >= delta
        assert sorted(map(tuple, SN.read_latest(spark, t).collect())) == \
            sorted(rows)


def _assert_table_layout(t):
    """Every file of the latest version lists its columns in the
    manifest schema's order and holds its rows sorted by them."""
    import pyarrow.parquet as pq

    from jobsity_data_pipeline_spark.sources import snapshot as SN

    man = SN.latest_manifest(t)
    cols = _manifest_columns(man)
    for f in man["files"]:
        data = pq.ParquetFile(f).read()
        assert data.column_names == cols, f
        got = list(zip(*(data.column(c).to_pylist() for c in cols)))
        assert got == sorted(got), f


def test_every_written_file_set_has_the_table_layout(spark, tmp_path):
    """A first version, an anti-join version, a stream drop and a
    compaction without a cluster key all write their files in the
    table's column order, rows sorted by those columns. The anti-join
    puts the key first; the files must not."""
    from jobsity_data_pipeline_spark.sources import snapshot as SN

    schema = "region string, v string, trip_key long"

    def rows(keys):
        return [(f"r{k % 3}", f"v{k * 7 % 10}", k) for k in keys]

    t = str(tmp_path / "tbl")
    # batch ids clear of the stream's micro-batch 0, which shares the
    # token space
    assert SN.upsert_batch(spark.createDataFrame(
        rows(range(40, 0, -1)), schema), 10, t) == "published"
    _assert_table_layout(t)
    assert SN.upsert_batch(spark.createDataFrame(
        rows(range(60, 20, -1)), schema), 11, t) == "published"
    _assert_table_layout(t)

    src = str(tmp_path / "src")
    spark.createDataFrame(rows(range(80, 50, -1)), schema).coalesce(1) \
        .write.parquet(src)
    q = SN.start_snapshot_upsert(spark.readStream.schema(schema).parquet(src),
                                 t, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert [h["batch"] for h in SN.history(t)] == [
        "batch10", "batch11", "batch0"]
    _assert_table_layout(t)

    SN.compact(spark, t, target_files=2)
    assert len(SN.latest_manifest(t)["files"]) == 2
    _assert_table_layout(t)
    assert sorted(r.trip_key for r in SN.read_latest(spark, t).collect()) \
        == list(range(1, 81))


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
            real_publish(table_dir, prior + racer_files, "racerbatch",
                         None, expected_version=1)
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


@pytest.mark.parametrize("writer", ["compact", "analyze"])
def test_cas_writer_recomputes_after_interleaved_commit(
        spark, tmp_path, monkeypatch, writer):
    """The same race for the maintenance writers: a commit that lands
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
    # two racer files, so a writer must keep (or, for a full rewrite,
    # carry the rows of) both
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
                expected_version=man0["version"],
            )
        return real_publish(table_dir, files, token, extra,
                            expected_version)

    monkeypatch.setattr(SN, "_publish", race_then_publish)
    want = {1: "a", 2: "b", 3: "c", 10: "racer", 11: "racer"}
    n_racer_files = len(prior) + 2
    if writer == "compact":
        res = SN.compact(spark, t)
        assert res["files_before"] == n_racer_files
        kept = []  # every file is rewritten; the rows must survive
    else:
        res = SN.analyze(t, ["v"])
        assert res["added"] == ["v"]
        assert set(r10 + r11) <= set(SN.latest_manifest(t)["stats"]["v"])
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
    assert SN.upsert_batch(df1, 0, t, key="k") == "published"
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
    assert [(v, tok) for v, tok, _ in ms] == [(1, "batch0")]


def test_manifest_stats_enable_footerless_pruning(spark, tmp_path,
                                                  monkeypatch):
    """Writers publish per-file [min,max] key stats in the manifest
    (paid once at write time); point reads then prune from the
    manifest ALONE — proven by poisoning the footer reader and
    watching a stats-covered point read never touch it."""
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

    # with stats covering every file, read_point may not open a
    # parquet footer on the driver
    def poisoned(*a, **k):
        raise AssertionError("footer read despite manifest stats")

    monkeypatch.setattr(pyarrow.parquet, "ParquetFile", poisoned)
    got = {tuple(r) for r in SN.read_point(spark, t, "trip_key", 7).collect()}
    assert got == {(7, "v7")}
    assert SN.read_point(spark, t, "trip_key", 50) is None
    monkeypatch.undo()


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


def test_stats_survive_alternating_write_keys(spark, tmp_path):
    """A table written under several keys (upserts on ka, then on kb)
    must keep BOTH keys' data-skipping stats across publishes —
    replacing the manifest stats dict with a single-key map would
    silently drop the other key's index."""
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
    # a compaction re-derives both keys' entries for its new file
    SN.compact(spark, t, target_files=1)
    man2 = SN.latest_manifest(t)
    assert set(man2["stats"]) == {"ka", "kb"}
    assert all(set(man2["stats"][k]) == set(man2["files"])
               for k in ("ka", "kb"))


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
    """Every publish stamps its own commit wall-clock; history()
    reports it ascending with each version's batch token, and falls
    back to the manifest's mtime where the stamp is missing."""
    import json as js
    import os
    import time

    from jobsity_data_pipeline_spark.sources.snapshot import (
        history, upsert_batch,
    )

    table = str(tmp_path / "t")
    schema = "trip_key long, v string"
    upsert_batch(spark.createDataFrame([(1, "a")], schema), 0, table)
    time.sleep(0.05)
    upsert_batch(spark.createDataFrame([(1, "a"), (2, "b")], schema), 1,
                 table)

    h = history(table)
    assert [x["version"] for x in h] == [1, 2]
    assert h[0]["committed_at"] < h[1]["committed_at"]
    assert [x["batch"] for x in h] == ["batch0", "batch1"]
    assert 1 <= h[0]["n_files"] < h[1]["n_files"]

    # legacy manifests without the stamp fall back to file mtime
    mpath = f"{table}/manifest-000002.json"
    with open(mpath) as f:
        man = js.load(f)
    man.pop("committed_at")
    with open(mpath, "w") as f:
        js.dump(man, f)
    h = history(table)
    assert h[1]["committed_at"] == pytest.approx(os.path.getmtime(mpath))


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


def test_snapshot_has_no_test_only_surface():
    """Every top-level def of sources/snapshot.py and
    streaming/stream.py is reached from code outside the tests. The
    scan parses, with ast, the package's modules plus
    __spark_entry__.py, bench.py and tripsbench/*.py; a name is
    referenced where it appears as an ast.Name, an
    ast.Attribute's attribute or an import alias (strings and
    docstrings do not count). Module-level code and the entry scripts
    are roots; a package def is live once a live context references
    it."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    pkg = root / "jobsity_data_pipeline_spark"
    paths = [*pkg.rglob("*.py"), root / "__spark_entry__.py",
             root / "bench.py", *(root / "tripsbench").glob("*.py")]

    def names(node):
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
        return out

    defs = {}  # (path, name) -> names its body references
    live_names = set()
    for path in paths:
        for node in ast.parse(path.read_text()).body:
            if pkg in path.parents and isinstance(
                    node, (ast.FunctionDef, ast.ClassDef)):
                defs[(path, node.name)] = names(node)
            else:
                live_names |= names(node)
    live = set()
    grew = True
    while grew:
        grew = False
        for key, refs in defs.items():
            if key not in live and key[1] in live_names:
                live.add(key)
                live_names |= refs
                grew = True
    for scanned in (pkg / "sources" / "snapshot.py",
                    pkg / "streaming" / "stream.py"):
        dead = sorted(n for (p, n) in defs
                      if p == scanned and (p, n) not in live)
        assert dead == [], f"{scanned.name} defs only tests reach: {dead}"
