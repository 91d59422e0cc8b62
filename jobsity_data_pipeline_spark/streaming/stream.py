"""Structured Streaming ingest of trips CSV drops.

The reference's ingest is a batch cron job (Makefile `all`), with the
README noting Spark UI as the non-polling status channel. Re-expressed
for streams: a file-source readStream is keyed with the batch
pipeline's trip_key and feeds snapshot.start_snapshot_upsert, whose
upsert_batch anti-join against the whole table is the one dedup — the
staging->hist ON CONFLICT DO NOTHING semantics, late arrivals
included, with no stream state. Progress (StreamingQuery.status /
lastProgress) replaces UI polling (ingest_status). stream_events_hourly
is the registered query that runs the events hourly rollup on the
streaming engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import money as M
from ..pipeline.trips import TRIPS_SCHEMA, with_trip_key


def read_trips_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of trips CSV drops (the S3-landing pattern the
    reference sketches with Lambda+EMR)."""
    return (
        spark.readStream.option("header", "true")
        .schema(TRIPS_SCHEMA)
        .csv(path)
    )


def dedup_stream(trips: DataFrame) -> DataFrame:
    """Key the trips stream with trip_key (populate_postgres.sql:10-13).
    This keys rows and holds no state; the table dedups them —
    upsert_batch drops in-batch duplicates and anti-joins the rest
    against the full history (ON CONFLICT DO NOTHING, however late a
    duplicate arrives)."""
    return with_trip_key(trips)


_STREAM_QUERY_SEQ = [0]


def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of relational.events_hourly, run to
    completion over the events parquet via availableNow + memory sink —
    the streaming engine's answer hash-matches the batch SQL oracle.
    A run that does not finish within 300 s is stopped and raises
    TimeoutError. The call sets the session time zone to UTC, as
    session.get_spark and session.read_table do: the hour buckets
    are UTC hours.

    Complete-mode + memory sink is the test harness; a deployment swaps
    in update mode + a real sink with a watermark. The aggregation
    itself (tumbling hour window per type) is identical streaming or
    batch — that is the point of the declarative plan.
    """
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The generator has shipped ts as TIMESTAMP(NANOS) (surfaced as a
    # nano-long under nanosAsLong) and as micros TIMESTAMP_NTZ; probe
    # the file's batch schema and normalize to session-UTC TIMESTAMP
    # the same way session.read_table does.
    ts_kind = dict(
        spark.read.parquet(f"{sf_dir}/events.parquet").dtypes
    )["ts"]
    if ts_kind == "bigint":
        ts_field, ts_fix = (
            T.LongType(),
            F.timestamp_micros(F.expr("ts div 1000")),
        )
    else:
        ts_field, ts_fix = (
            T.TimestampNTZType(),
            F.col("ts").cast("timestamp"),
        )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_field),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    # file-stream sources want a directory: stream the sf dir with a
    # glob filter selecting only the events table file(s)
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", ts_fix)
    )
    agg = (
        src.groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"),
             (F.sum(M.cents("value")) / 100.0).alias("total_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    _STREAM_QUERY_SEQ[0] += 1
    name = f"stream_events_hourly_{_STREAM_QUERY_SEQ[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            # a timed-out run holds a partial table: never return it
            # as the answer, and do not leave the query running
            q.stop()
            raise TimeoutError(f"{name}: did not finish within 300 s")
        return spark.table(name)
    finally:
        # the returned frame keeps the sink's rows; dropping the view
        # leaves no table behind in the caller's catalog
        spark.catalog.dropTempView(name)


def ingest_status(query) -> dict:
    """Push-style ingest status for a streaming query — the engine's
    answer to the reference README's "watch the Spark UI on :8100"
    polling loop (the UI itself stays available via SPARK_UI_ENABLED
    in session.py; this surfaces the same numbers programmatically
    for health checks and alerting).

    Reads the engine's own progress events (StreamingQuery.status /
    lastProgress) — no job is launched, no state is touched, safe to
    call at any cadence (status/exception are each fetched once per
    call). Returns a stable plain-dict schema whether or not a batch
    has completed yet. Multi-source and multi-stateful queries report
    ALL sources and the SUM over every state operator — an alert on
    state_rows_total must see unbounded growth in any of them.
    """
    p = query.lastProgress or {}
    status = query.status
    exc = query.exception()
    sources = p.get("sources") or []
    states = p.get("stateOperators") or []

    def _ssum(field):
        vals = [s.get(field) for s in states if s.get(field) is not None]
        return sum(vals) if vals else None

    return {
        "query_id": str(query.id),
        "is_active": query.isActive,
        "is_data_available": status.get("isDataAvailable"),
        "is_trigger_active": status.get("isTriggerActive"),
        "message": status.get("message"),
        "batch_id": p.get("batchId"),
        "num_input_rows": p.get("numInputRows"),
        "input_rows_per_second": p.get("inputRowsPerSecond"),
        "processed_rows_per_second": p.get("processedRowsPerSecond"),
        "batch_duration_ms": p.get("batchDuration"),
        "sources": [s.get("description") for s in sources],
        "n_state_operators": len(states),
        "state_rows_total": _ssum("numRowsTotal"),
        "state_rows_updated": _ssum("numRowsUpdated"),
        "watermark": (p.get("eventTime") or {}).get("watermark"),
        "exception": exc.desc if exc else None,
    }
