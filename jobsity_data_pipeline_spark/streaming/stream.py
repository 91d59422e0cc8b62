"""Structured Streaming twin of the batch trips pipeline.

The reference's ingest is a batch cron job (Makefile `all`), with the
README noting Spark UI as the non-polling status channel. Re-expressed
for streams: a file-source readStream is keyed with the batch
pipeline's trip_key and feeds foreachBatch -> snapshot.upsert_batch,
whose anti-join against the whole table is the one dedup — the
staging->hist ON CONFLICT DO NOTHING semantics, late arrivals
included, with no stream state. Windowed aggregations run as
declarative streaming plans. Progress (StreamingQuery.status /
lastProgress) replaces UI polling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import money as M
from ..pipeline.trips import TRIPS_SCHEMA, with_trip_key
from ..sources.snapshot import (
    append_batch, fold_batch, read_latest, start_batch_stream, upsert_batch,
)


def read_trips_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of trips CSV drops (the S3-landing pattern the
    reference sketches with Lambda+EMR)."""
    return (
        spark.readStream.option("header", "true")
        .schema(TRIPS_SCHEMA)
        .csv(path)
    )


def with_event_time(trips: DataFrame) -> DataFrame:
    return trips.withColumn("event_time", F.col("datetime").cast("timestamp"))


def dedup_stream(trips: DataFrame) -> DataFrame:
    """Key the trips stream with trip_key (populate_postgres.sql:10-13).
    This keys rows and holds no state; the table dedups them —
    upsert_batch drops in-batch duplicates and anti-joins the rest
    against the full history (ON CONFLICT DO NOTHING, however late a
    duplicate arrives)."""
    return with_trip_key(trips)


def windowed_trip_counts(trips: DataFrame, window: str = "1 hour",
                         watermark: str = "1 day") -> DataFrame:
    """Tumbling-window trip counts per region with late-data handling —
    the streaming twin of the weekly_avg materialized view."""
    return (
        with_event_time(trips)
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), F.col("region"))
        .agg(F.count("*").alias("n_trips"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "region",
            "n_trips",
        )
    )


_STREAM_QUERY_SEQ = [0]


def parse_duration_seconds(duration: str) -> int:
    """Parse a Spark-style duration string ('30 minutes', '45 seconds',
    '2 hours') into seconds. Strict: anything else raises."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*(second|minute|hour)s?\s*", duration)
    if not m:
        raise ValueError(f"unparseable duration: {duration!r}")
    return int(m.group(1)) * {"second": 1, "minute": 60, "hour": 3600}[m.group(2)]


def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of relational.events_hourly, run to
    completion over the events parquet via availableNow + memory sink —
    the streaming engine's answer hash-matches the batch SQL oracle.

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
    q.awaitTermination(300)
    return spark.table(name)


def session_window_stream(trips: DataFrame, gap: str = "30 minutes",
                          watermark: str = "0 seconds") -> DataFrame:
    """Built-in session windows on a STREAM: the declarative
    alternative to the applyInPandasWithState sessionizer for the
    common gap-merge case (custom state logic only pays off once the
    semantics leave what session_window expresses). Append mode emits a
    session once the watermark passes its close."""
    return (
        with_event_time(trips)
        .withWatermark("event_time", watermark)
        .groupBy(F.session_window(F.col("event_time"), gap), F.col("region"))
        .agg(F.count("*").alias("n_trips"))
        .select(
            "region",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_trips",
        )
    )


def stream_trip_chains(trips: DataFrame, horizon: str = "1 hour",
                       watermark: str = "2 hours",
                       how: str = "inner") -> DataFrame:
    """Stream-stream self-join: pairs of same-region trips where the
    second starts within ``horizon`` of the first — chained-trip
    detection as Structured Streaming's interval join.

    Both sides carry a watermark and the join condition includes the
    time-range predicate, so the state store only retains ``horizon``
    (+ watermark delay) worth of rows per side — the bounded-state
    contract stream-stream joins require. Inner-join results emit as
    soon as both rows arrive; the watermark only bounds eviction.

    ``how="left_outer"`` adds dead-end detection: a first trip with NO
    chained successor emits (with null next_*) only once the watermark
    passes its join horizon — the engine must prove no match can still
    arrive. Outer rows therefore trail the inner ones by the watermark
    delay; a stream that simply stops strands the last horizon's
    unmatched rows until new data (or an empty batch in availableNow
    replay) advances the watermark.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"stream_trip_chains supports inner|left_outer, got {how!r}")
    horizon_s = parse_duration_seconds(horizon)
    base = with_trip_key(with_event_time(trips))
    a = base.withWatermark("event_time", watermark).select(
        "region",
        F.col("event_time").alias("first_time"),
        F.col("trip_key").alias("first_key"),
    )
    b = base.withWatermark("event_time", watermark).select(
        F.col("region").alias("region_b"),
        F.col("event_time").alias("next_time"),
        F.col("trip_key").alias("next_key"),
    )
    return (
        a.join(
            b,
            (F.col("region") == F.col("region_b"))
            & (F.col("next_time") > F.col("first_time"))
            & (
                F.col("next_time")
                <= F.col("first_time") + F.expr(f"INTERVAL {horizon_s} SECONDS")
            ),
            how,
        )
        .select("region", "first_key", "next_key", "first_time", "next_time")
    )


def sessionize_stream(trips: DataFrame, gap: str = "30 minutes",
                      watermark: str = "1 hour") -> DataFrame:
    """Custom stateful streaming operator: gap-based session windows per
    region via ``applyInPandasWithState`` — the escape hatch for
    semantics Spark's built-in windowed aggs can't express.

    State per key is one open session (start, end, count); an event
    extends the session if within ``gap`` of its end, else the closed
    session is emitted and a new one opens. Watermarked event time
    bounds state: on timeout the open session flushes and state clears
    — so memory is O(active keys), not O(stream).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    gap_s = parse_duration_seconds(gap)

    out_schema = T.StructType([
        T.StructField("region", T.StringType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_trips", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ])

    def fn(key, pdfs, state: GroupState):
        import datetime as dt

        import pandas as pd

        (region,) = key
        if state.hasTimedOut:
            if state.exists:
                s, e, n = state.get
                state.remove()
                yield pd.DataFrame(
                    {"region": [region],
                     "session_start": [dt.datetime.utcfromtimestamp(s / 1e6)],
                     "session_end": [dt.datetime.utcfromtimestamp(e / 1e6)],
                     "n_trips": [n]}
                )
            return
        ts_all = []
        for pdf in pdfs:
            ts_all.extend(
                int(t.value // 1000) for t in pd.to_datetime(pdf["event_time"])
            )
        ts_all.sort()
        if state.exists:
            s, e, n = state.get
        else:
            s, e, n = ts_all[0], ts_all[0], 0
        closed = []
        for t in ts_all:
            if t - e > gap_s * 1_000_000:
                closed.append((s, e, n))
                s, e, n = t, t, 1
            else:
                e = max(e, t)
                n += 1
        state.update((s, e, n))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + gap_s * 1000)
        if closed:
            yield pd.DataFrame(
                {"region": [region] * len(closed),
                 "session_start": [dt.datetime.utcfromtimestamp(a / 1e6) for a, _, _ in closed],
                 "session_end": [dt.datetime.utcfromtimestamp(b / 1e6) for _, b, _ in closed],
                 "n_trips": [n_ for _, _, n_ in closed]}
            )

    evt = with_event_time(trips).withWatermark("event_time", watermark)
    return evt.groupBy("region").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def enrich_stream(stream_df: DataFrame, dim: DataFrame,
                  key: str, how: str = "left") -> DataFrame:
    """Stream-static enrichment: join each micro-batch against a static
    dimension with an explicit broadcast hint — the streaming twin of
    the batch events_enriched operator. Stream-static joins are
    stateless (the dim is re-resolved per micro-batch, so slowly-
    changing dims pick up updates on the next trigger) and the
    broadcast keeps the stream side shuffle-free, which is the only
    sane plan when the stream runs forever."""
    return stream_df.join(F.broadcast(dim), on=key, how=how)


def stream_hll_upsert(events: DataFrame, state_path: str, checkpoint: str):
    """Maintain a HyperLogLog distinct-user sketch per event_type over
    a stream: each micro-batch computes its own register maxima and
    max-merges them into the parquet state table — O(groups × 256)
    state regardless of stream volume. The fold commits under its
    batch token (snapshot.fold_batch), so a replayed batch is skipped.

    The batch twin (operators/relational7.py:events_hll_distinct) reads
    the same register layout; tests prove stream-maintained state
    equals the batch registers over the union of all micro-batches.

    State lives in a snapshot table (manifest protocol), not a bare
    overwrite-mode parquet dir: overwrite deletes the target before
    writing, so a crash mid-rewrite would lose ALL accumulated
    registers while checkpoint replay only re-runs the last batch.
    Each merged state publishes as a new atomic manifest version.
    Read it with sketch_state (below) / snapshot.read_latest.
    """
    from ..operators.relational7 import hll_registers

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        delta = hll_registers(batch_df, "user_id", ["event_type"])
        fold_batch(
            batch_df.sparkSession, state_path, f"hllbatch{batch_id}",
            lambda state: (
                delta if state is None else state.unionByName(delta)
            ).groupBy("event_type", "reg").agg(F.max("mx").alias("mx")),
        )

    return start_batch_stream(events, checkpoint, _merge)


def sketch_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The latest published state of a manifest-protocol maintainer
    (a sketch fold or an append-only delta table); raises if nothing
    has ever been written."""
    st = read_latest(spark, state_path)
    if st is None:
        raise ValueError(f"no published sketch state at {state_path}")
    return st


def sum_state(spark: SparkSession, table_dir: str, keys: list[str],
              sums: list[str]) -> DataFrame:
    """Additive state read back: the per-batch deltas of a counter
    maintainer sum-merged per ``keys``, recovering the exact corpus
    counters. Groups on data columns only, so extra columns of older
    delta files never split a group."""
    return sketch_state(spark, table_dir).groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sums]
    )


def _append_stream(stream: DataFrame, table_dir: str, checkpoint: str,
                   delta):
    """The counter-maintainer sink: append ``delta(batch)`` for every
    non-empty micro-batch under its batch token (snapshot.append_batch),
    so a replayed batch is never counted twice and no prior delta is
    read."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_batch(delta(batch_df), batch_id, table_dir)

    return start_batch_stream(stream, checkpoint, _apply)


def stream_decayed_upsert(events: DataFrame, state_path: str,
                          checkpoint: str, half_life_h: int = 6):
    """Maintain exponentially time-decayed per-type counters over a
    stream: each micro-batch folds its own partial decayed sums (taken
    at the batch's max timestamp), then the state merge rescales every
    row to the newest reference instant and adds — decayed sums at a
    common reference are mergeable by plain addition, so state stays
    O(n_event_types) regardless of stream volume.

    The batch twin (operators/relational8.events_decayed_value)
    computes the same definition in one pass; tests prove the
    stream-maintained state equals the batch answer over the union of
    all micro-batches. The fold commits under its batch token
    (snapshot.fold_batch), so a replayed batch is never added twice.
    The state itself lives in a snapshot table
    (atomic manifest publishes — a crash mid-rewrite cannot lose the
    accumulated state the way overwrite-mode parquet can); read it
    with sketch_state / snapshot.read_latest.
    """
    ln2 = 0.6931471805599453
    hl_us = float(half_life_h) * 3_600_000_000.0

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ref = batch_df.agg(F.max(F.unix_micros("ts")).alias("ref_us"))
        wgt = F.exp(
            F.lit(-ln2)
            * (F.col("ref_us") - F.unix_micros(F.col("ts")))
            / F.lit(hl_us)
        )
        delta = (
            batch_df.crossJoin(F.broadcast(ref))
            .groupBy("event_type")
            .agg(
                F.max("ref_us").alias("ref_us"),
                F.count("*").alias("n"),
                F.sum(wgt).alias("dcount"),
                F.sum(wgt * F.col("value")).alias("dvalue"),
            )
        )

        def fold(state):
            if state is None:
                return delta
            u = state.unionByName(delta)
            # ONE corpus-wide reference instant (not per-type): a batch
            # missing some event_type must still advance that type's
            # reference, or state rows stop being cross-type comparable
            # and drift from the batch twin events_decayed_value.
            gref = u.agg(F.max("ref_us").alias("new_ref"))
            scale = F.exp(
                F.lit(-ln2)
                * (F.col("new_ref") - F.col("ref_us"))
                / F.lit(hl_us)
            )
            return (
                u.crossJoin(F.broadcast(gref))
                .groupBy("event_type")
                .agg(
                    F.max("new_ref").alias("ref_us"),
                    F.sum("n").alias("n"),
                    F.sum(F.col("dcount") * scale).alias("dcount"),
                    F.sum(F.col("dvalue") * scale).alias("dvalue"),
                )
            )

        fold_batch(batch_df.sparkSession, state_path,
                   f"decayedbatch{batch_id}", fold)

    return start_batch_stream(events, checkpoint, _merge)


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


def stream_bm25_postings(docs: DataFrame, table_dir: str, checkpoint: str,
                         terms: tuple[str, ...] | None = None):
    """Incremental BM25 postings-index maintenance on a document
    stream: each micro-batch computes its docs' postings rows
    (operators/textops.bm25_postings — the exact frame the batch
    ranker checkpoints) and appends ONLY new doc_ids to a snapshot
    table, making the docstring promise of docs_bm25_topk literal:
    the inverted index is persisted once and kept current at delta
    cost, never re-derived per query.

    Per-batch cost is O(batch) (prior data files re-used by reference
    in the new manifest), crash replay is exactly-once via the
    manifest protocol's batch-id idempotence, and the index is
    queryable at any time (bm25_from_index below). PRECONDITION:
    append-only stream with immutable doc bodies — the idempotence
    key is doc_id, so a re-emitted doc_id keeps its FIRST postings
    row.

    Corpus stats (n_docs, total_dl, df) are NOT maintained as state:
    they are one broadcast-size aggregate over the postings table at
    query time, which keeps the maintained state a pure per-doc fact
    table (no read-modify-write races, max-merge or rescale logic).

    The term list is published in every manifest (``bm25_terms``): tf
    columns are positional (tf_0..tf_{n-1}), so a reader must score
    with the SAME terms the index was built with — bm25_from_index
    validates against the persisted list and errors on mismatch
    instead of silently mis-scoring.
    """
    from ..operators.textops import BM25_TERMS, bm25_postings

    terms = BM25_TERMS if terms is None else tuple(terms)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        rows = bm25_postings(batch_df, terms).withColumn(
            "doc_key", F.col("doc_id").cast("string")
        )
        upsert_batch(rows, batch_id, table_dir, key="doc_key",
                     extra={"bm25_terms": list(terms)})

    return start_batch_stream(docs, checkpoint, _merge)


def stream_m4_upsert(events: DataFrame, state_path: str, checkpoint: str,
                     count_path: str | None = None):
    """Maintain the M4 downsample state over a stream: per micro-batch
    compute the per-(type, bucket) archetypes and merge into the
    parquet state table: min/max on the value, min/max on the
    (micros, event_id, cents) selection struct. The fold commits under
    its batch token (snapshot.fold_batch), so a replayed batch is
    skipped.

    The row COUNT is the one aggregate M4 does not keep: pass
    ``count_path`` and each batch ALSO appends its per-(type, bucket)
    counts as DELTAS to a second snapshot table (snapshot.append_batch).
    Each write commits under the batch token, so a crash between them
    replays into exactly-once for both.
    m4_from_state sums the deltas back in and serves the batch
    operator's FULL shape including n.

    State size is O(types x buckets) (+ O(batches x types x buckets)
    count deltas; snapshot.compact reclaims file count).

    The state lives in a snapshot TABLE (manifest protocol), not a
    bare parquet dir: ``mode("overwrite")`` deletes the target before
    writing, so a crash mid-rewrite would lose ALL accumulated state
    while checkpoint replay only re-runs the last batch. Publishing
    each merged state as a new manifest version keeps the previous
    version readable until the new one commits atomically.
    """
    from ..operators.relational11 import M4_BUCKET_HOURS, m4_state_frame

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if count_path is not None:
            us_per_bucket = M4_BUCKET_HOURS * 3_600_000_000
            cnt = batch_df.select(
                "event_type",
                F.expr(f"unix_micros(ts) div {us_per_bucket}")
                .alias("bucket"),
            ).groupBy("event_type", "bucket").agg(F.count("*").alias("n"))
            append_batch(cnt, batch_id, count_path)
        delta = m4_state_frame(batch_df)
        fold_batch(
            batch_df.sparkSession, state_path, f"m4batch{batch_id}",
            lambda state: (
                delta if state is None else state.unionByName(delta)
            ).groupBy("event_type", "bucket").agg(
                F.min("min_cents").alias("min_cents"),
                F.max("max_cents").alias("max_cents"),
                F.min("first_k").alias("first_k"),
                F.max("last_k").alias("last_k"),
            ),
        )

    return start_batch_stream(events, checkpoint, _merge)


def m4_from_state(spark: SparkSession, state_path: str,
                  count_path: str | None = None) -> DataFrame:
    """The maintained M4 archetypes in the batch operator's column
    shape: (event_type, bucket[, n], min/max/first/last cents). ``n``
    rides along when the maintainer was given a ``count_path`` —
    sum-merged from the per-batch deltas, identical to the batch
    count by construction."""
    st = sketch_state(spark, state_path)
    cols = [
        "event_type", "bucket", "min_cents", "max_cents",
        F.col("first_k").getField("c").alias("first_cents"),
        F.col("last_k").getField("c").alias("last_cents"),
    ]
    if count_path is None:
        return st.select(*cols)

    n = sum_state(spark, count_path, ["event_type", "bucket"], ["n"])
    # LEFT join: archetypes accumulated before count maintenance was
    # enabled have no deltas — they surface with n null rather than
    # silently vanishing from the served output
    return st.join(n, ["event_type", "bucket"], "left").select(
        "event_type", "bucket", "n", *cols[2:]
    )


def stream_hdr_deltas(events: DataFrame, table_dir: str,
                      checkpoint: str):
    """Maintain the HDR value-quantile sketch over a stream as
    APPEND-ONLY DELTAS in a snapshot table: each micro-batch appends
    its own (event_type, bucket_id, cnt) rows. Counts are NOT an
    absorbing merge like stream_hll_upsert's register maxima — a
    replayed count-merge would double-count — so the stream appends
    under its batch token (snapshot.append_batch) and the read side
    sums the deltas (hdr_from_index). State grows
    O(batches x buckets x types), a few hundred rows per batch
    regardless of stream volume; snapshot.compact reclaims file count
    when wanted.
    """
    from ..operators.relational11 import hdr_bucket_counts

    return _append_stream(events, table_dir, checkpoint, hdr_bucket_counts)


def hdr_from_index(spark: SparkSession, table_dir: str) -> DataFrame:
    """Quantiles served FROM the maintained delta table: sum-merge the
    per-batch bucket counts, then the shared read kernel — identical
    arithmetic to the batch events_hdr_quantiles by construction."""
    from ..operators.relational11 import hdr_quantiles_from_counts

    return hdr_quantiles_from_counts(
        sum_state(spark, table_dir, ["event_type", "bucket_id"], ["cnt"])
    )


def stream_cms_upsert(events: DataFrame, table_dir: str,
                      checkpoint: str, key_col: str = "user_id",
                      depth: int = 4, width: int = 256):
    """Maintain the count-min-sketch counter matrix over a stream as
    APPEND-ONLY DELTAS in a snapshot table: each micro-batch appends
    its own (r, bucket, cnt) rows. CMS counters are SUMS —
    non-absorbing, a replayed count-merge would double-count — so, as
    in stream_hdr_deltas, the stream appends under its batch token and
    the read side sums the deltas (cms_from_state). State grows
    O(batches x depth x width) — a few hundred rows per batch
    regardless of stream volume; snapshot.compact reclaims file count
    when wanted. The matrix expression is textops.cms_counts, shared
    with the batch events_count_min_sketch, so index-served estimates
    match the batch operator value-for-value."""
    from ..operators.textops import cms_counts

    return _append_stream(
        events, table_dir, checkpoint,
        lambda b: cms_counts(b, key_col, depth, width),
    )


def cms_from_state(spark: SparkSession, table_dir: str,
                   keys: DataFrame, key_col: str = "user_id",
                   depth: int = 4, width: int = 256) -> DataFrame:
    """CMS point estimates served FROM the maintained delta table:
    sum-merge the per-batch counters, then the shared probe kernel
    (textops.cms_point_estimates) — identical arithmetic to the batch
    events_count_min_sketch by construction."""
    from ..operators.textops import cms_point_estimates

    merged = sum_state(spark, table_dir, ["r", "bucket"], ["cnt"])
    return cms_point_estimates(merged, keys, key_col, depth, width)


def stream_moments_upsert(events: DataFrame, table_dir: str,
                          checkpoint: str, value_col: str = "value"):
    """Maintain the Welch sufficient statistic (per-type n, Σv, Σv²
    over exact integer cents) over a stream as APPEND-ONLY DELTAS in
    a snapshot table. Moment sums are SUMS — non-absorbing, a
    replayed merge would double-count — so the stream appends under
    its batch token; the read side sums the deltas. The per-batch
    reduction is the SAME welch_moments kernel the batch
    events_welch_ttest uses, and summed integer deltas reproduce the
    batch operator's exact longs — so welch_from_state serves
    statistics bit-identical to the batch twin, something the old
    avg/var_samp moment form could never promise (engine-internal
    Welford merge order). State grows O(batches x types); compaction
    via snapshot.compact when wanted."""
    from ..operators.relational12 import welch_moments

    return _append_stream(
        events, table_dir, checkpoint,
        lambda b: welch_moments(
            b.select("event_type", M.cents(value_col).alias("vc"))),
    )


def welch_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """Pairwise Welch t-tests served FROM the maintained moment-delta
    table: sum-merge the per-batch integer moment deltas (recovering
    the exact corpus sums), then the shared welch_stats kernel —
    bit-identical to batch events_welch_ttest over the same rows by
    construction."""
    from ..operators.relational12 import welch_stats

    return welch_stats(
        sum_state(spark, table_dir, ["event_type"], ["n", "sv", "svv"])
    )


def stream_classifier_counts(docs: DataFrame, table_dir: str,
                             checkpoint: str, weights: list):
    """Score a DOCUMENT STREAM with the trained quality classifier's
    fixed weight vector and maintain per-source curation counters
    (n_docs, n_keep, n_agree) as APPEND-ONLY DELTAS in a snapshot
    table — the production serve path of docs_quality_classifier:
    train once (6 floats of model state, relational14's
    _qc_trained_weights memo), then filter the firehose with a
    stateless codegen scorer and keep the mixture owner's yield
    numbers live without ever rescanning the corpus.

    Counters are SUMS — non-absorbing, a replayed count-merge would
    double-count — so the stream appends under its batch token; the
    read side sums the deltas (classifier_yield_from_state). The per-batch
    scoring is the SAME classifier_scored / classifier_source_counts
    kernels the batch docs_classifier_yield uses (per-doc features
    are batch-local by construction — a document's score depends only
    on its own text), so summed integer deltas reproduce the batch
    counters exactly. State grows O(batches x sources);
    snapshot.compact reclaims file count when wanted."""
    from ..operators.relational14 import (
        classifier_scored, classifier_source_counts,
    )

    w = list(weights)
    return _append_stream(
        docs, table_dir, checkpoint,
        lambda b: classifier_source_counts(classifier_scored(b, w)),
    )


def classifier_yield_from_state(spark: SparkSession,
                                table_dir: str) -> DataFrame:
    """Per-source curation yield served FROM the maintained counter
    deltas: sum-merge the per-batch integer counters (recovering the
    exact corpus counters), then the shared permille shape — output
    bit-identical to batch docs_classifier_yield over the same corpus
    at the same weights, without touching a single document."""
    from ..operators.relational14 import classifier_yield_from_counts

    return classifier_yield_from_counts(sum_state(
        spark, table_dir, ["source"], ["n_docs", "n_keep", "n_agree"]
    ))


def stream_monthly_rev_upsert(orders: DataFrame, table_dir: str,
                              checkpoint: str,
                              date_col: str = "o_orderdate",
                              amount_col: str = "o_totalprice"):
    """Maintain the forecaster family's monthly revenue frame over an
    ORDER STREAM as APPEND-ONLY DELTAS in a snapshot table: each
    micro-batch appends its own (o_year, o_month, rev_c) partial sums.
    Revenue sums are SUMS — non-absorbing, a replayed merge would
    double-count — so the stream appends under its batch token; the
    read side sum-merges (monthly_rev_from_state) and recovers the
    batch _monthly_rev aggregate's exact integer cents, so every
    forecaster served from state (forecast_from_state) is
    bit-identical to its batch twin. State grows O(batches × months)
    — a few rows per batch regardless of stream volume;
    snapshot.compact reclaims file count."""
    return _append_stream(
        orders, table_dir, checkpoint,
        lambda b: b.groupBy(
            F.year(date_col).cast("long").alias("o_year"),
            F.month(date_col).cast("long").alias("o_month"),
        ).agg(F.sum(M.cents(amount_col)).alias("rev_c")),
    )


def monthly_rev_from_state(spark: SparkSession,
                           table_dir: str) -> DataFrame:
    """The calendar-bounded monthly revenue frame recovered from the
    maintained deltas — exact integer cents, identical to the batch
    _monthly_rev aggregate over the same orders."""
    return sum_state(spark, table_dir, ["o_year", "o_month"], ["rev_c"])


def forecast_from_state(spark: SparkSession, table_dir: str,
                        method: str = "ses", **params) -> DataFrame:
    """A forecaster backtest served FROM the maintained monthly state
    — the corpus-free daily-run form of the orders_forecast_* family:
    the state is O(months) rows however big the order stream was, and
    the recurrence is the SAME pure-Python kernel
    (ses_backtest / holt_backtest / hw_backtest, relational14) over
    the sum-merged months, so the served backtest is bit-identical to
    the batch operator over the same orders (proven in tests).
    ``params`` pass through to the kernel (alpha_num, ...)."""
    from ..operators.relational14 import (
        FORECAST_SCHEMA, collect_months, holt_backtest,
        holt_damped_backtest, hw_backtest, ses_backtest,
        theta_backtest,
    )

    kernels = {
        "ses": ses_backtest, "holt": holt_backtest,
        "holt_damped": holt_damped_backtest, "hw": hw_backtest,
        "theta": theta_backtest,
    }
    if method not in kernels:
        raise ValueError(
            f"forecast_from_state: method must be one of "
            f"{sorted(kernels)}, got {method!r}")
    months = collect_months(
        monthly_rev_from_state(spark, table_dir),
        f"forecast_from_state[{method}]")
    return spark.createDataFrame(
        kernels[method](months, **params), FORECAST_SCHEMA
    ).orderBy("o_year", "o_month")


def stream_kmv_upsert(events: DataFrame, state_path: str,
                      checkpoint: str, k: int = 64):
    """Maintain the KMV (k-minimum-values) distinct-user sketch per
    event_type over a stream — the deterministic (md5, no RNG)
    alternative to stream_hll_upsert when estimates must reproduce
    across engines/runs. Each micro-batch reduces to its per-type
    bottom-k distinct hashes; the state merge is bottom-k of the
    DISTINCT union (min-k of a union = min-k of the per-side min-k's).
    The fold commits under its batch token (snapshot.fold_batch), so a
    replayed batch is skipped. State is O(types x k) regardless of
    stream volume, on the manifest protocol (atomic versions; crash
    mid-rewrite cannot lose accumulated state). Read with
    kmv_from_state; the estimator and hash match the batch twin
    events_kmv_distinct
    (operators/relational5.py) value-for-value. (The state is the
    textbook value-distinct hash set; it diverges from the batch
    twin's per-USER distinct only if two users collide in the 32-bit
    hash prefix — in which case the sketch, an estimator with ~1/sqrt(k)
    error by design, counts the pair once.)"""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hv = (
            F.conv(
                F.substring(
                    F.md5(F.col("user_id").cast("string")), 1, 8
                ), 16, 10,
            ).cast("double")
            / F.lit(4294967296.0)
        )
        delta = (
            batch_df.select("event_type", hv.alias("hv"))
            .groupBy("event_type")
            .agg(
                F.slice(
                    F.array_sort(
                        F.array_distinct(F.collect_list("hv"))
                    ), 1, k,
                ).alias("mins")
            )
        )
        fold_batch(
            batch_df.sparkSession, state_path, f"kmvbatch{batch_id}",
            lambda state: (
                delta if state is None else state.unionByName(delta)
            ).groupBy("event_type").agg(
                F.slice(
                    F.array_sort(F.array_distinct(
                        F.flatten(F.collect_list("mins")))),
                    1, k,
                ).alias("mins")
            ),
        )

    return start_batch_stream(events, checkpoint, _merge)


def kmv_from_state(spark: SparkSession, state_path: str,
                   k: int = 64) -> DataFrame:
    """Distinct-count estimates served from the maintained KMV state:
    (k-1)/h_k, or the exact member count while the sketch still holds
    every distinct hash (m < k) — the batch twin's estimator."""
    st = sketch_state(spark, state_path)
    est = F.when(
        F.size("mins") < k, F.size("mins").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) / F.element_at("mins", F.size("mins"))
    )
    return st.select("event_type", F.round(est, 2).alias("kmv_est"))


def stream_bloom_upsert(events: DataFrame, state_path: str,
                        checkpoint: str, key_col: str = "user_id",
                        m_bits: int = 1 << 16, k_hashes: int = 3):
    """Maintain the packed Bloom bitset (operators/skew.py's
    bloom_words form: per 64-bit word index, the OR of its set bits)
    over a stream — the join-pruning filter kept CURRENT as data
    arrives, so a nightly bloom_pruned_join never rebuilds the build
    side's bitset from scratch. The state merge is per-word
    ``bit_or``; the fold commits under its batch token
    (snapshot.fold_batch), so a replayed batch is skipped. State is
    <= m_bits/64 rows regardless of stream volume, on the manifest
    protocol. Serve with bloom_filter_from_state + skew.bloom_probe;
    bits are IDENTICAL to a batch bloom_words over the union by the
    OR-algebra. NOTE: Bloom BITS only absorb inserts — for a
    delete-bearing build side use the counting sibling
    (stream_cbloom_upsert), which tracks per-position counters and
    serves the identical packed filter over the surviving keys."""
    from ..operators.skew import bloom_words

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = bloom_words(batch_df, key_col, m_bits, k_hashes)
        fold_batch(
            batch_df.sparkSession, state_path, f"bloombatch{batch_id}",
            lambda state: (
                delta if state is None else state.unionByName(delta)
            ).groupBy("w").agg(F.expr("bit_or(b)").alias("b")),
        )

    return start_batch_stream(events, checkpoint, _merge)


def bloom_filter_from_state(spark: SparkSession, state_path: str,
                            m_bits: int = 1 << 16) -> DataFrame:
    """The maintained Bloom bitset as the dense 1-row array<long>
    frame skew.bloom_probe consumes — prune a fact scan against a
    STREAM-MAINTAINED filter without touching the build corpus."""
    from ..operators.skew import bloom_bits_dense

    return bloom_bits_dense(sketch_state(spark, state_path), m_bits)


def stream_cbloom_upsert(keys: DataFrame, table_dir: str,
                         checkpoint: str, key_col: str = "user_id",
                         sign_col: str | None = None,
                         m_bits: int = 1 << 16, k_hashes: int = 3):
    """COUNTING-Bloom maintainer — the delete-capable sibling of
    stream_bloom_upsert: each micro-batch appends signed per-position
    counter deltas (skew.bloom_pos_counts: +1 per hash position for
    an insert, −1 for a delete via the ±1 ``sign_col``; feed it from
    a CDC/change feed — deleting a never-inserted key corrupts any
    counting filter, the standard caveat). Counters are SUMS —
    non-absorbing, a replayed merge would double-count — so the
    stream appends under its batch token; the read side sum-merges
    and keeps positions with cnt > 0, which are BIT-FOR-BIT the plain
    bloom positions over the SURVIVING key multiset — so the served
    filter never degrades as deletes accumulate and needs no rebuild.
    State grows O(batches × touched positions), bounded by m_bits per
    batch; snapshot.compact reclaims file count."""
    from ..operators.skew import bloom_pos_counts

    return _append_stream(
        keys, table_dir, checkpoint,
        lambda b: bloom_pos_counts(
            b, key_col, m_bits, k_hashes, sign_col=sign_col),
    )


def cbloom_filter_from_state(spark: SparkSession, table_dir: str,
                             m_bits: int = 1 << 16) -> DataFrame:
    """The maintained counting-Bloom filter served as the dense 1-row
    array<long> frame skew.bloom_probe consumes: sum-merge the
    per-batch counter deltas, keep positions with cnt > 0, pack — the
    filter over exactly the keys whose inserts outnumber their
    deletes, identical to a from-scratch bloom_words build over the
    surviving multiset."""
    from ..operators.skew import (
        bloom_bits_dense, bloom_words_from_counts,
    )

    counts = sum_state(spark, table_dir, ["pos"], ["cnt"])
    return bloom_bits_dense(bloom_words_from_counts(counts), m_bits)


def stream_topk_upsert(events: DataFrame, state_path: str,
                       checkpoint: str, group_cols: list[str],
                       order_cols: list, payload_cols: list,
                       k: int = 10):
    """Maintain per-group top-k state over a stream — the streaming
    twin of the batch ``grouped_topk`` kernel (operators/ranking.py),
    completing the sketch-maintainer family: leaderboards served from
    maintained state instead of a corpus rank per query.

    Per micro-batch the input reduces to its per-group bottom-k
    struct array (the grouped_topk item layout: ascending
    ``order_cols`` fields, payload nested so it never decides
    placement); the state merge is bottom-k of the DISTINCT union,
    exactly like stream_kmv_upsert's (min-k of a union = min-k of the
    per-side min-k's). The fold commits under its batch token
    (snapshot.fold_batch), so a replayed batch is skipped. The
    distinct leans on grouped_topk's documented contract that
    ``order_cols`` end with a unique id: full-struct distinctness
    then equals row identity, so two legitimately tied rows never
    share a struct. State is
    O(groups x k) regardless of stream volume, on the manifest
    protocol. Read with topk_from_state — ranks match the batch
    ``grouped_topk`` over the unioned corpus value-for-value."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        item = F.struct(
            *[c.alias(f"_o{i}") for i, c in enumerate(order_cols)],
            F.struct(*payload_cols).alias("_p"),
        )
        delta = batch_df.groupBy(*group_cols).agg(
            F.slice(
                F.array_sort(F.array_distinct(F.collect_list(item))),
                1, k,
            ).alias("_tk")
        )
        fold_batch(
            batch_df.sparkSession, state_path, f"topkbatch{batch_id}",
            lambda state: (
                delta if state is None else state.unionByName(delta)
            ).groupBy(*group_cols).agg(
                F.slice(
                    F.array_sort(F.array_distinct(
                        F.flatten(F.collect_list("_tk")))),
                    1, k,
                ).alias("_tk")
            ),
        )

    return start_batch_stream(events, checkpoint, _merge)


def topk_from_state(spark: SparkSession, state_path: str,
                    rank_col: str = "rnk") -> DataFrame:
    """Per-group leaderboard served from the maintained top-k state:
    the grouped_topk output shape (group cols + payload cols +
    1-based rank), bit-identical to the batch kernel over the same
    rows by the bottom-k merge argument on stream_topk_upsert."""
    st = sketch_state(spark, state_path)
    group_cols = [c for c in st.columns if c != "_tk"]
    return st.select(
        *group_cols, F.posexplode("_tk").alias("_pos", "_it")
    ).select(
        *group_cols,
        F.col("_it._p.*"),
        (F.col("_pos") + 1).cast("long").alias(rank_col),
    )


def kmv_overlap_from_state(spark: SparkSession, state_path: str,
                           k: int = 64) -> DataFrame:
    """Pairwise audience-overlap estimates served FROM the maintained
    KMV state: the kmv_pair_overlap set algebra
    (operators/relational14.py) over the streamed sketches — union /
    intersection / Jaccard per type pair answered from O(types x k)
    state without ever touching the corpus, the daily-run form of
    events_type_overlap_kmv. Identical numbers to the batch sketches
    by construction (same md5 bottom-k, same estimator; the only
    divergence class is the 32-bit hash-prefix collision note on
    stream_kmv_upsert, where the streamed state is value-distinct
    BEFORE truncation)."""
    from ..operators.relational14 import kmv_pair_overlap

    return kmv_pair_overlap(sketch_state(spark, state_path), k=k)


def bm25_from_index(spark: SparkSession, table_dir: str,
                    k: int | None = None,
                    terms: tuple[str, ...] | None = None) -> DataFrame:
    """BM25 top-k served FROM the maintained postings index — the
    query-time half of stream_bm25_postings, byte-identical to the
    batch ranker on the same corpus (proven in tests) because both
    call textops.bm25_topk_from_postings on the same rows.

    Term binding: the authoritative term list is the one persisted in
    the index manifest (tf columns are positional, so scoring with a
    different same-arity list would be silently wrong). A caller-
    supplied ``terms`` is validated against it; a legacy index with no
    persisted list falls back to the caller's terms or BM25_TERMS.
    Terms and rows resolve from ONE manifest snapshot — resolving
    twice could pair a stale term list with newer postings if a
    publish lands between the two reads."""
    from ..operators.textops import (
        BM25_TERMS, BM25_TOPK, bm25_topk_from_postings,
    )
    from ..sources.snapshot import _read_files, latest_manifest

    man = latest_manifest(table_dir)
    if man is None or not man["files"]:
        raise ValueError(f"no published postings index at {table_dir}")
    per_doc = _read_files(spark, man["files"])
    persisted = man.get("bm25_terms")
    if persisted is not None:
        persisted = tuple(persisted)
        if terms is not None and tuple(terms) != persisted:
            raise ValueError(
                f"bm25_from_index: index at {table_dir} was built with "
                f"terms {persisted}, query asked for {tuple(terms)}"
            )
        use_terms = persisted
    else:
        use_terms = BM25_TERMS if terms is None else tuple(terms)
    return bm25_topk_from_postings(
        per_doc.drop("doc_key"), terms=use_terms,
        k=BM25_TOPK if k is None else k,
    )


def stream_kanon_counts(docs: DataFrame, table_dir: str,
                        checkpoint: str,
                        bucket_chars: int | None = None):
    """Maintain the k-anonymity audit's quasi-identifier class counts
    over a DOCUMENT STREAM — the privacy review kept current as a
    corpus grows, without rescanning it: per micro-batch the input
    reduces to its (lang, source, len_bucket) class counts (the
    shared relational15.kanon_classes kernel), appended as integer
    deltas on the snapshot protocol.

    Counters are SUMS — non-absorbing, a replayed count-merge would
    double-count — so the stream appends under its batch token; the
    read side (kanon_from_state) sum-merges per class, recovering the
    exact corpus class sizes, then runs the shared kanon_dist kernel
    — output bit-identical to batch docs_k_anonymity over the same
    documents. State grows O(batches x classes); snapshot.compact
    reclaims file count when wanted."""
    from ..operators.relational15 import KANON_BUCKET_CHARS, kanon_classes

    bc = KANON_BUCKET_CHARS if bucket_chars is None else int(bucket_chars)

    return _append_stream(docs, table_dir, checkpoint,
                          lambda b: kanon_classes(b, bc))


def kanon_from_state(spark: SparkSession, table_dir: str,
                     risk_k: int | None = None) -> DataFrame:
    """The k-anonymity distribution served FROM the maintained class
    counters: sum-merge the per-batch integer deltas (recovering the
    exact per-class k), then the shared kanon_dist kernel — output
    bit-identical to batch docs_k_anonymity over the same corpus
    without touching a single document."""
    from ..operators.relational15 import KANON_RISK_K, kanon_dist

    classes = sum_state(
        spark, table_dir, ["lang", "source", "len_bucket"], ["k"])
    return kanon_dist(
        classes, KANON_RISK_K if risk_k is None else int(risk_k)
    )


def stream_sourcelen_counts(docs: DataFrame, table_dir: str,
                            checkpoint: str):
    """Maintain the (source, n_chars) count table over a DOCUMENT
    STREAM — the sufficient statistic of the KS source-drift audit
    (relational15.ks_counts), so the drift monitor runs daily from
    O(sources x distinct-lengths) state instead of a corpus scan.

    Counters are SUMS (non-absorbing): the stream appends under its
    batch token; the read side (ks_from_state) sum-merges and runs
    the shared ks_from_counts kernel — output bit-identical to batch
    docs_ks_source_drift over the same documents."""
    from ..operators.relational15 import ks_counts

    return _append_stream(docs, table_dir, checkpoint, ks_counts)


def ks_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """The pairwise KS drift table served FROM the maintained
    (source, n_chars) counters: sum-merge the per-batch deltas
    (recovering the exact count table), then the shared
    ks_from_counts kernel — bit-identical to batch
    docs_ks_source_drift over the same corpus, corpus-free."""
    from ..operators.relational15 import ks_from_counts

    return ks_from_counts(
        sum_state(spark, table_dir, ["source", "x"], ["c"])
    )


def ad_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """The pairwise Anderson–Darling drift table served FROM the SAME
    maintained (source, n_chars) counters as ks_from_state — the two
    audits share one sufficient statistic, so one stream maintainer
    serves both. Sum-merge the per-batch deltas, then the shared
    ad_from_counts kernel — bit-identical to batch
    docs_ad_source_drift over the same corpus, corpus-free."""
    from ..operators.relational15 import ad_from_counts

    return ad_from_counts(
        sum_state(spark, table_dir, ["source", "x"], ["c"])
    )


def stream_daily_counts(events: DataFrame, table_dir: str,
                        checkpoint: str):
    """Maintain the daily event-count series over an EVENT STREAM —
    the sufficient statistic of the ACF periodicity audit
    (relational15.daily_counts), so "is traffic weekly-periodic" is
    answered from O(span-days) state instead of a corpus scan.

    Counters are SUMS (non-absorbing): the stream appends under its
    batch token; the read side (acf_from_state) sum-merges per day
    and runs the shared acf_from_daily kernel — output bit-identical
    to batch events_acf over the same events."""
    from ..operators.relational15 import daily_counts

    return _append_stream(events, table_dir, checkpoint, daily_counts)


def ldiv_from_state(spark: SparkSession, table_dir: str,
                    risk_l: int | None = None) -> DataFrame:
    """The l-diversity distribution served FROM the SAME maintained
    class counters as kanon_from_state — one maintainer
    (stream_kanon_counts), two privacy audits. Sum-merge the
    per-batch deltas (recovering the exact per-class k), then the
    shared ldiv_dist kernel — bit-identical to batch
    docs_l_diversity over the same corpus, corpus-free."""
    from ..operators.relational15 import LDIV_RISK_L, ldiv_dist

    classes = sum_state(
        spark, table_dir, ["lang", "source", "len_bucket"], ["k"])
    return ldiv_dist(
        classes, LDIV_RISK_L if risk_l is None else int(risk_l)
    )


def mk_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """The Mann–Kendall trend test served FROM the SAME maintained
    daily counters as acf_from_state / theilsen_from_state — one
    stream maintainer (stream_daily_counts), three audits. Sum-merge
    the per-batch deltas, then the shared mannkendall_from_daily
    kernel — bit-identical to batch events_trend_mannkendall over
    the same events, corpus-free."""
    from ..operators.relational16 import mannkendall_from_daily

    return mannkendall_from_daily(
        spark, sum_state(spark, table_dir, ["d"], ["c"])
    )


def kw_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """The Kruskal–Wallis H test served FROM the SAME maintained
    value-count state as mw_from_state — one stream maintainer
    (stream_mw_counts), two rank tests. Sum-merge the per-batch
    deltas and run the shared kw_from_counts kernel — bit-identical
    to batch events_kruskalwallis over the same corpus,
    corpus-free."""
    from ..operators.relational16 import kw_from_counts

    return kw_from_counts(
        sum_state(spark, table_dir, ["event_type", "vc"], ["c"])
    )


def cramersv_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """Cramér's V lang×source association served FROM the SAME
    maintained quasi-identifier class counters as kanon_from_state /
    ldiv_from_state — one stream maintainer (stream_kanon_counts),
    three audits. Sum-merge the per-batch deltas (recovering the
    exact per-class k), then the shared cramers_from_classes kernel
    — bit-identical to batch docs_cramers_v over the same corpus,
    corpus-free."""
    from ..operators.relational16 import cramers_from_classes

    return cramers_from_classes(
        sum_state(spark, table_dir, ["lang", "source", "len_bucket"], ["k"])
    )


def benford_mad_from_state(spark: SparkSession,
                           table_dir: str) -> DataFrame:
    """The Nigrini MAD conformity summary served FROM the SAME
    maintained digit counters as benford_from_state — one stream
    maintainer (stream_digit_counts), TWO Benford audits. Sum-merge
    the per-batch deltas, then the shared benford_mad_from_counts
    kernel — bit-identical to batch events_benford_mad over the same
    corpus, corpus-free."""
    from ..operators.relational17 import benford_mad_from_counts

    return benford_mad_from_counts(
        spark,
        sum_state(spark, table_dir, ["digit"], ["observed"]),
    )


def js_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """The pairwise Jensen–Shannon divergence table served FROM the
    SAME maintained (source, n_chars) counters as ks_from_state /
    ad_from_state — one stream maintainer (stream_sourcelen_counts),
    THREE drift audits. Sum-merge the per-batch deltas, then the
    shared js_from_counts kernel — bit-identical to batch
    docs_js_divergence over the same corpus, corpus-free."""
    from ..operators.relational17 import js_from_counts

    return js_from_counts(
        sum_state(spark, table_dir, ["source", "x"], ["c"])
    )


def theilsu_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """Theil's uncertainty coefficients served FROM the SAME
    maintained quasi-identifier class counters as kanon_from_state /
    ldiv_from_state / cramersv_from_state — one stream maintainer
    (stream_kanon_counts), FOUR audits. Sum-merge the per-batch
    deltas, then the shared theilsu_from_classes kernel —
    bit-identical to batch docs_theils_u over the same corpus,
    corpus-free."""
    from ..operators.relational17 import theilsu_from_classes

    return theilsu_from_classes(
        sum_state(spark, table_dir, ["lang", "source", "len_bucket"], ["k"])
    )


def spearman_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """The rank-autocorrelation table served FROM the SAME maintained
    daily counters as acf_from_state / theilsen_from_state /
    mk_from_state — one stream maintainer (stream_daily_counts), FOUR
    audits. Sum-merge the per-batch deltas, then the shared
    spearman_acf_from_daily kernel — bit-identical to batch
    events_spearman_acf over the same events, corpus-free."""
    from ..operators.relational17 import spearman_acf_from_daily

    return spearman_acf_from_daily(
        spark, sum_state(spark, table_dir, ["d"], ["c"])
    )


def theilsen_from_state(spark: SparkSession,
                        table_dir: str) -> DataFrame:
    """The Theil-Sen robust daily-count trend served FROM the SAME
    maintained daily counters as acf_from_state — one stream
    maintainer (stream_daily_counts), two audits. Sum-merge the
    per-batch deltas, then the shared theilsen_from_daily kernel —
    bit-identical to batch events_trend_theilsen over the same
    events, corpus-free."""
    from ..operators.relational15 import theilsen_from_daily

    return theilsen_from_daily(
        spark, sum_state(spark, table_dir, ["d"], ["c"])
    )


def acf_from_state(spark: SparkSession, table_dir: str,
                   max_lag: int | None = None) -> DataFrame:
    """The daily-count autocorrelation table served FROM the
    maintained counters: sum-merge the per-batch deltas (recovering
    the exact daily series) and run the shared acf_from_daily kernel
    — bit-identical to batch events_acf over the same corpus,
    corpus-free."""
    from ..operators.relational15 import ACF_MAX_LAG, acf_from_daily

    return acf_from_daily(
        spark, sum_state(spark, table_dir, ["d"], ["c"]),
        ACF_MAX_LAG if max_lag is None else int(max_lag),
    )


def stream_digit_counts(events: DataFrame, table_dir: str,
                        checkpoint: str):
    """Maintain the Benford first-digit counters over an EVENT STREAM
    (relational15.benford_digit_counts) — the fabricated-data screen
    kept current from at most 9 counter rows per batch. Counters are
    SUMS (non-absorbing): the stream appends under its batch token;
    serve with benford_from_state, bit-identical to batch
    events_benford."""
    from ..operators.relational15 import benford_digit_counts

    return _append_stream(events, table_dir, checkpoint,
                          benford_digit_counts)


def benford_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """The Benford audit table served FROM the maintained digit
    counters: sum-merge the per-batch deltas and run the shared
    benford_from_counts kernel — bit-identical to batch
    events_benford over the same corpus, corpus-free."""
    from ..operators.relational15 import benford_from_counts

    return benford_from_counts(
        spark,
        sum_state(spark, table_dir, ["digit"], ["observed"]),
    )


def stream_lastship_upsert(lineitems: DataFrame, state_path: str,
                           checkpoint: str):
    """Maintain per-order last-ship dates over a LINE-ITEM STREAM —
    the sufficient statistic of the Kaplan–Meier fulfilment survival
    audit (relational15.lastship_counts), so the curve is served from
    one compact row per order instead of re-scanning the (much wider
    and many-times-larger) line-item corpus.

    The state merge is per-order MAX; the fold commits under its batch
    token (snapshot.fold_batch), so a replayed batch is skipped.
    Serve with km_from_state; the table is
    bit-identical to batch orders_survival_km because both run the
    shared km_table kernel and max-of-maxes equals the corpus max."""
    from ..operators.relational15 import lastship_counts

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = lastship_counts(batch_df)
        fold_batch(
            batch_df.sparkSession, state_path, f"lastshipbatch{batch_id}",
            lambda state: (
                delta if state is None else state.unionByName(delta)
            ).groupBy("l_orderkey").agg(
                F.max("last_ship").alias("last_ship")
            ),
        )

    return start_batch_stream(lineitems, checkpoint, _merge)


def km_from_state(spark: SparkSession, state_path: str,
                  orders: DataFrame) -> DataFrame:
    """The Kaplan–Meier survival table served FROM the maintained
    per-order last-ship state joined against the orders dimension —
    bit-identical to batch orders_survival_km over the same data
    (shared km_table kernel), without touching a single line item."""
    from ..operators.relational15 import km_table

    return km_table(spark, orders, sketch_state(spark, state_path))


def logrank_from_state(spark: SparkSession, state_path: str,
                       orders: DataFrame) -> DataFrame:
    """The pairwise log-rank survival comparison served FROM the SAME
    maintained per-order last-ship state as km_from_state — one
    absorbing-merge maintainer (stream_lastship_upsert), three
    survival audits (flat KM, stratified KM, log-rank). Joined
    against the orders dimension and reduced by the shared
    surv_removals + logrank_pairs kernels — bit-identical to batch
    orders_logrank_priority over the same data, without touching a
    single line item."""
    from ..operators.relational16 import logrank_pairs, surv_removals

    return logrank_pairs(surv_removals(
        orders, sketch_state(spark, state_path), "o_orderpriority"))


def na_from_state(spark: SparkSession, state_path: str,
                  orders: DataFrame) -> DataFrame:
    """The Nelson–Aalen cumulative hazard served FROM the SAME
    maintained per-order last-ship state as km_from_state /
    logrank_from_state — one absorbing-merge maintainer
    (stream_lastship_upsert), FOUR survival audits. Joined against
    the orders dimension and reduced by the shared surv_removals +
    na_table kernels — bit-identical to batch orders_hazard_na over
    the same data, without touching a single line item."""
    from ..operators.relational16 import surv_removals
    from ..operators.relational17 import na_table

    st = sketch_state(spark, state_path)
    per = (
        surv_removals(orders, st, "o_orderpriority")
        .groupBy("t")
        .agg(F.sum("rem").alias("rem"), F.sum("d").alias("d"))
    )
    return na_table(per)


def stream_mw_counts(events: DataFrame, table_dir: str,
                     checkpoint: str):
    """Maintain the (event_type, value-cents) count table over an
    EVENT STREAM — the sufficient statistic of the Mann–Whitney
    rank-sum test (relational15.mw_counts), completing the pattern:
    the nonparametric test family is served from state exactly like
    the parametric one (stream_moments_upsert).

    Counters are SUMS (non-absorbing): the stream appends under its
    batch token; serve with mw_from_state, bit-identical to batch
    events_mannwhitney. State grows O(batches x types x distinct
    cents values); snapshot.compact reclaims file count."""
    from ..operators.relational15 import mw_counts

    return _append_stream(events, table_dir, checkpoint, mw_counts)


def mw_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """Pairwise Mann–Whitney statistics served FROM the maintained
    value-count state: sum-merge the per-batch deltas and run the
    shared mw_from_counts kernel — bit-identical to batch
    events_mannwhitney over the same corpus, corpus-free."""
    from ..operators.relational15 import mw_from_counts

    return mw_from_counts(
        sum_state(spark, table_dir, ["event_type", "vc"], ["c"])
    )


def cliffs_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """Pairwise Cliff's delta effect sizes served FROM the SAME
    maintained value-count state as mw_from_state / kw_from_state —
    one stream maintainer (stream_mw_counts), THREE rank audits.
    Sum-merge the per-batch deltas and run the shared
    cliffs_from_counts kernel — bit-identical to batch
    events_cliffs_delta over the same corpus, corpus-free."""
    from ..operators.relational18 import cliffs_from_counts

    return cliffs_from_counts(
        sum_state(spark, table_dir, ["event_type", "vc"], ["c"])
    )


def gk_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """Goodman–Kruskal lambda served FROM the SAME maintained
    quasi-identifier class counters as kanon_from_state /
    ldiv_from_state / cramersv_from_state / theilsu_from_state — one
    stream maintainer (stream_kanon_counts), FIVE audits. Sum-merge
    the per-batch deltas (recovering the exact per-class k), then the
    shared gk_lambda_from_classes kernel — bit-identical to batch
    docs_gk_lambda over the same corpus, corpus-free."""
    from ..operators.relational18 import gk_lambda_from_classes

    return gk_lambda_from_classes(
        sum_state(spark, table_dir, ["lang", "source", "len_bucket"], ["k"])
    )


def runs_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """The Wald–Wolfowitz runs test served FROM the SAME maintained
    daily counters as acf_from_state / theilsen_from_state /
    mk_from_state / spearman_from_state — one stream maintainer
    (stream_daily_counts), FIVE daily-series audits. Sum-merge the
    per-batch deltas, then the shared runs_from_daily kernel —
    bit-identical to batch events_runs_test over the same events,
    corpus-free."""
    from ..operators.relational18 import runs_from_daily

    return runs_from_daily(
        spark, sum_state(spark, table_dir, ["d"], ["c"])
    )


def cvm_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """The pairwise Cramér–von Mises drift table served FROM the SAME
    maintained (source, n_chars) counters as ks_from_state /
    ad_from_state / js_from_state — one stream maintainer
    (stream_sourcelen_counts), FOUR drift audits. Sum-merge the
    per-batch deltas, then the shared cvm_from_counts kernel —
    bit-identical to batch docs_cvm_source_drift over the same
    corpus, corpus-free."""
    from ..operators.relational18 import cvm_from_counts

    return cvm_from_counts(
        sum_state(spark, table_dir, ["source", "x"], ["c"])
    )


def rmst_from_state(spark: SparkSession, state_path: str,
                    orders: DataFrame) -> DataFrame:
    """Restricted mean survival time served FROM the SAME maintained
    per-order last-ship state as km_from_state / logrank_from_state /
    na_from_state — one absorbing-merge maintainer
    (stream_lastship_upsert), FIVE survival audits. Joined against
    the orders dimension, reduced by the shared km_table kernel, and
    summarized by rmst_from_curve — bit-identical to batch
    orders_survival_rmst over the same data, without touching a
    single line item."""
    from ..operators.relational15 import km_table
    from ..operators.relational18 import rmst_from_curve

    return rmst_from_curve(
        km_table(spark, orders, sketch_state(spark, state_path)))
