"""Round-6 wave — the operators extending the warehouse and
training-data surface, each with an exact DuckDB oracle twin:

- orders_scd2: Slowly-Changing-Dimension Type-2 build (Kimball) from
  the order history — per customer, the effective-dated version chain
  of o_orderpriority with from/to timestamps and an is_current flag.
  The reference pipeline's Postgres sink stores only latest state
  (populate_postgres.sql upserts); SCD2 is what a warehouse user adds
  the day they ask "what was it before?".
- events_m4_downsample: M4 time-series downsampling (Jugel et al.,
  VLDB 2014): per (event_type, time bucket) the min/max/first/last
  values — the error-free form for line-chart rendering at any zoom,
  and THE standard pre-aggregation a 100 TB events table serves
  dashboards from.
- events_hdr_quantiles: HDR-histogram quantiles — log2 buckets with
  2-bit linear subdivision over integer cents, a mergeable sketch
  with bounded relative error computed entirely in integer
  arithmetic (no float log, so bucket assignment can never sit on an
  engine-dependent rounding boundary).
- docs_group_split: leakage-free train/val/test assignment — splits
  are assigned per NEAR-DUP CLUSTER (MinHash-LSH connected
  components, the docs_dedup_clusters graph), not per document, so
  two near-duplicate documents can never straddle train and test.
  The eval-contamination guard every LLM data pipeline needs and a
  doc-hash split silently lacks.
- emb_hard_negatives: hard-negative mining for contrastive training
  (e.g. DPR, Karpukhin et al. 2020): per query vector, the top-k
  most similar vectors with a DIFFERENT label — the "close but
  wrong" examples a retriever is trained against.
- lineitem_scd2_asof: point-in-time consumption of the SCD2
  dimension via the union + last-non-null-window as-of shape (no
  range-explosion join).
- orders_forecast_snaive: the seasonal-naive forecasting baseline as
  a backtest — same-month-last-year revenue, APE permille, exact
  integer cents, month-of-year-partitioned lags.
- events_hopping_counts: sliding windows via the built-in
  F.window(ts, size, slide) — each event in exactly size/slide
  windows, epoch-aligned arithmetic replayed by the oracle.
- emb_kcenter_sample: Gonzalez farthest-point diverse subset
  selection with the covering-radius certificate (incremental
  one-new-centroid rounds, engine-exact kmeans distance kernel).
- hdr_bucket_counts / hdr_quantiles_from_counts split the HDR
  sketch into a mergeable-build half and a read half.

Scale notes (100 TB):
- orders_scd2 windows partition on o_custkey — billions of small
  partitions, no global or low-cardinality sort anywhere.
- events_m4_downsample is one map-side-combined groupBy on
  (event_type, bucket); min/max/first/last are partial-aggregable.
- events_hdr_quantiles is the same single groupBy; the only window
  runs over <= ~260 bucket rows per type (the sketch size, a
  constant independent of data volume).
- docs_group_split reuses the banded LSH + connected-components
  chain (bucket-key shuffles only) and adds one hash-bucket groupBy.
- emb_hard_negatives broadcasts only the n_queries query vectors;
  the per-query top-k window ranks each query's candidate list
  independently (same shape as emb_cosine_topk; for huge query sets
  use the GEMM prefilter of emb_near_dup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import money as M
from ..session import ensure_parallelism, read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return ensure_parallelism(spark, read_table(spark, sf_dir, name))


def orders_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension rows from the order event history: one row
    per (customer, contiguous run of equal o_orderpriority), ordered
    by (o_orderdate, o_orderkey), with effective_from = first order
    ts of the run, effective_to = start of the next run (NULL while
    current), version = 1-based run index, is_current on the last run.

    Plan: two windows, both partitioned by o_custkey (fact-table key
    cardinality — parallel at any scale): lag() marks run starts, a
    running count of starts numbers the versions, and one groupBy
    (o_custkey, version) collapses each run; lead() over the
    collapsed rows (tiny per-customer frames) dates the successor.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    marked = o.withColumn(
        "_new_run",
        (
            F.lag("o_orderpriority").over(w).isNull()
            | (F.lag("o_orderpriority").over(w) != F.col("o_orderpriority"))
        ).cast("long"),
    ).withColumn("version", F.sum("_new_run").over(w))
    runs = marked.groupBy("o_custkey", "version").agg(
        # all rows of a run share one priority by construction; min()
        # keeps the aggregate order-insensitive anyway
        F.min("o_orderpriority").alias("priority"),
        F.min("o_orderdate").alias("effective_from"),
        F.count("*").alias("n_orders"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("version")
    return runs.select(
        "o_custkey",
        "version",
        "priority",
        "effective_from",
        F.lead("effective_from").over(w2).alias("effective_to"),
        "n_orders",
        F.lead("effective_from").over(w2).isNull().alias("is_current"),
    )


def lineitem_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time consumption of the SCD2 dimension — the query a
    warehouse runs the day after it builds orders_scd2: each lineitem
    is attributed to the priority REGIME in effect for its customer
    when it shipped (effective_from <= l_shipdate < effective_to),
    then rolled up per regime (items, exact quantity cents, half-up
    revenue cents).

    The as-of match is NOT a range-explosion join: dimension-change
    rows and fact rows union into one per-customer stream, and a
    single last-non-null window (ordered by ts, with dim rows before
    facts at equal ts and same-ts dim changes resolved by version)
    carries each regime forward onto the facts — the
    events_asof_view_purchase shape, one window partitioned on the
    high-cardinality customer key. At equal timestamps the HIGHEST
    version wins, matching interval semantics (a zero-length run
    [d, d) is superseded by the run starting at d).
    """
    dim = orders_scd2(spark, sf_dir).select(
        "o_custkey", "version", "priority",
        F.col("effective_from").alias("ts"),
    )
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    fact = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_custkey",
        F.col("l_shipdate").alias("ts"),
        (M.cents("l_extendedprice")
         * (100 - M.cents("l_discount"))).alias("rev_e4"),
        M.cents("l_quantity").alias("qty_c"),
    )
    big = F.lit(2**63 - 1).cast("long")
    u = dim.select(
        "o_custkey", "ts", F.lit(0).alias("kind"), "version", "priority",
        F.lit(None).cast("long").alias("rev_e4"),
        F.lit(None).cast("long").alias("qty_c"),
    ).unionByName(fact.select(
        "o_custkey", "ts", F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("version"),
        F.lit(None).cast("string").alias("priority"),
        "rev_e4", "qty_c",
    ))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("ts", "kind", F.coalesce(F.col("version"), big))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = u.withColumn("regime", F.last("priority", ignorenulls=True).over(w))
    return (
        r.where(F.col("kind") == 1)
        .groupBy(F.col("regime").alias("priority"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum("qty_c").alias("qty_c"),
            F.expr("(2 * sum(rev_e4) + 100) div 200").alias(
                "revenue_cents"
            ),
        )
        .orderBy("priority")
    )


M4_BUCKET_HOURS = 6


def events_m4_downsample(spark: SparkSession, sf_dir: str,
                         bucket_hours: int = M4_BUCKET_HOURS) -> DataFrame:
    """M4 downsampling per (event_type, ``bucket_hours`` time bucket):
    row count plus the four archetype values — min/max by value,
    first/last by (ts, event_id). Values are exact integer cents; the
    first/last selection key is (unix micros, event_id), so every
    aggregate is engine-exact and deterministic under ties.

    One partial-aggregable groupBy; at 100 TB the output is
    |types| x |buckets| rows regardless of input volume — the whole
    point of M4 as a rendering pre-aggregation.
    """
    e = _t(spark, sf_dir, "events")
    tkey = F.struct(
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("id"),
        M.cents("value").alias("c"),
    )
    us_per_bucket = bucket_hours * 3_600_000_000
    return (
        e.select(
            "event_type",
            # integer div, NOT float `/`+cast: DuckDB rounds double->int
            # casts while Spark truncates, so only `div`//`//` agree
            F.expr(f"unix_micros(ts) div {us_per_bucket}").alias("bucket"),
            M.cents("value").alias("c"),
            tkey.alias("tk"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("c").alias("min_cents"),
            F.max("c").alias("max_cents"),
            F.min("tk").getField("c").alias("first_cents"),
            F.max("tk").getField("c").alias("last_cents"),
        )
        .orderBy("event_type", "bucket")
    )


HOP_SIZE_HOURS = 6
HOP_SLIDE_HOURS = 3


def events_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregate via Spark's built-in
    ``F.window(ts, size, slide)`` — the declarative form Structured
    Streaming shares, here over the batch table: 6-hour windows every
    3 hours, so each event lands in exactly size/slide = 2 windows.
    Counts and exact integer cents per (window start, event_type).

    Plan: window() explodes each row into its 2 member windows and
    the rest is one partial-aggregable groupBy — output is
    |types| x |window starts| regardless of corpus size. The oracle
    replays the epoch-aligned window arithmetic in integer
    microseconds (Spark's windows are epoch-origin-aligned).
    """
    e = _t(spark, sf_dir, "events")
    w = F.window(
        "ts", f"{HOP_SIZE_HOURS} hours", f"{HOP_SLIDE_HOURS} hours"
    )
    return (
        e.groupBy(
            w.getField("start").alias("window_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(M.cents("value")).alias("value_c"),
        )
        .orderBy("window_start", "event_type")
    )


HDR_SUB_BITS = 2  # 4 linear sub-buckets per power of two: rel err <= 1/8
HDR_QUANTILES = (500, 900, 990)  # permille


def events_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram quantile estimates per event_type: values (in
    exact integer cents, c >= 1) land in log2 buckets subdivided into
    4 linear sub-buckets — bucket_id = (bitlen(c)-1)*4 + ((c-2^(bitlen
    -1))*4) div 2^(bitlen-1) — all integer arithmetic, so unlike a
    base-gamma DDSketch there is no float log whose last ulp could
    flip a boundary value between engines. The estimate for quantile
    q is the upper bound of the first bucket whose cumulative count
    reaches ceil(q*n/1000); max relative error is 2^-(SUB_BITS+1).

    The sketch is mergeable (bucket counts are sums), built by one
    map-side-combined groupBy on (event_type, bucket_id); the
    cumulative scan runs over <= ~260 bucket rows per type — a
    constant-size frame at any corpus size, NOT the per-type
    full-fact window this repo's round-5 rewrites removed.
    """
    return hdr_quantiles_from_counts(
        hdr_bucket_counts(_t(spark, sf_dir, "events"))
    )


def hdr_bucket_counts(events: DataFrame) -> DataFrame:
    """The mergeable half of the HDR sketch: (event_type, bucket_id,
    cnt) from an events frame — counts sum-merge across any split of
    the data."""
    c = M.cents("value")
    # all-integer bucket math (shared verbatim with the oracle):
    #   c      = round(value*100)            -- exact cents
    #   bitlen = length(bin(c))              -- floor(log2 c) + 1
    #   base   = 1 << (bitlen-1)
    #   sub    = ((c-base)*4) div base       -- 0..3 linear sub-bucket
    bucket = F.expr(
        "(length(bin(CAST(round(value * 100, 0) AS BIGINT))) - 1) * 4"
        " + ((CAST(round(value * 100, 0) AS BIGINT)"
        "     - shiftleft(CAST(1 AS BIGINT),"
        "                 length(bin(CAST(round(value * 100, 0) AS BIGINT)))"
        "                 - 1)) * 4)"
        "   div shiftleft(CAST(1 AS BIGINT),"
        "                 length(bin(CAST(round(value * 100, 0) AS BIGINT)))"
        "                 - 1)"
    ).cast("long").alias("bucket_id")
    return (
        events.where(c >= 1)
        .select("event_type", bucket)
        .groupBy("event_type", "bucket_id")
        .agg(F.count("*").alias("cnt"))
    )


def hdr_quantiles_from_counts(counts: DataFrame) -> DataFrame:
    """The read half: quantile estimates from a (event_type,
    bucket_id, cnt) frame — identical arithmetic whether the counts
    came from one batch scan or a maintained sketch table."""
    spark = counts.sparkSession
    wb = (
        Window.partitionBy("event_type")
        .orderBy("bucket_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("cum", F.sum("cnt").over(wb)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("event_type"))
    )
    # nominal upper bound, monotone in bucket_id; ceil-div keeps tiny
    # bases (1, 2) covered: ub = bbase + ceil((bsub+1)*bbase/4) - 1
    ub = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(bucket_id div 4 AS INT))"
        " + ((bucket_id % 4 + 1)"
        "    * shiftleft(CAST(1 AS BIGINT), CAST(bucket_id div 4 AS INT))"
        "    + 3) div 4 - 1"
    )
    qs = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(q).cast("long") for q in HDR_QUANTILES])
        ).alias("q_permille")
    )
    hit = (
        cum.join(F.broadcast(qs))
        .where(
            F.col("cum") * 1000
            >= F.col("q_permille") * F.col("n")
        )
        .groupBy("event_type", "q_permille")
        .agg(F.min(ub).alias("est_cents"), F.max("n").alias("n"))
    )
    return hit.orderBy("event_type", "q_permille")


def docs_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free 80/10/10 split accounting: every document is
    assigned to train/val/test by the hash of its NEAR-DUP CLUSTER id
    (MinHash-LSH connected components; singletons cluster as
    themselves), so a duplicate pair can never straddle two splits —
    the eval-decontamination guarantee a per-document hash split
    (docs_train_val_test) does not give. Returns per split: document
    count, cluster count, and how many of its documents sit in
    multi-document clusters (the rows that WOULD be leak risks under
    a doc-level split).

    Plan: the banded-LSH + CC chain of docs_dedup_clusters (bucket-key
    shuffles, diameter-bounded label propagation), one left join to
    pull singletons through, one hash-bucket groupBy. The unit test
    asserts zero clusters straddle splits here while the doc-hash
    split does leak on the same corpus.
    """
    from .dedup import docs_dedup_clusters
    from .relational4 import _hash_bucket

    d = _t(spark, sf_dir, "documents").select("doc_id")
    cc = docs_dedup_clusters(spark, sf_dir)
    cl = d.join(cc, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    b = _hash_bucket(F.col("cluster_id"))
    split = (
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    a = cl.select("doc_id", "cluster_id", split.alias("split"))
    sizes = a.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return (
        a.join(sizes, "cluster_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum((F.col("sz") > 1).cast("long")).alias("n_multi_docs"),
        )
        .orderBy("split")
    )


def orders_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the standard forecasting
    baseline every demand-planning deployment starts from (and the
    yardstick fancier models must beat): predicted monthly revenue =
    the same calendar month one year earlier, scored as half-up
    absolute-percentage-error permille per month. All money flows as
    exact integer cents.

    The lag runs in a window partitioned by MONTH-OF-YEAR ordered by
    year (12 partitions of ~|years| rows over the month aggregate) —
    same-month-last-year needs no global sort and no lag(12) over a
    single ordered stream.
    """
    o = _t(spark, sf_dir, "orders")
    m = (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.month("o_orderdate").cast("long").alias("o_month"),
        )
        .agg(F.sum(M.cents("o_totalprice")).alias("rev_c"))
    )
    w = Window.partitionBy("o_month").orderBy("o_year")
    return (
        m.withColumn("forecast_c", F.lag("rev_c").over(w))
        .where(F.col("forecast_c").isNotNull())
        .select(
            "o_year", "o_month", "rev_c", "forecast_c",
            F.expr(
                "(2 * 1000 * abs(rev_c - forecast_c) + rev_c)"
                " div (2 * rev_c)"
            ).alias("ape_permille"),
        )
        .orderBy("o_year", "o_month")
    )


def emb_kcenter_sample(spark: SparkSession, sf_dir: str,
                       k: int = 8) -> DataFrame:
    """Farthest-point (Gonzalez k-center) diverse subset selection —
    the coreset/curation sampler that maximizes coverage: start from
    the lowest vec_id, then k-1 times add the vector farthest from
    the chosen set (max-min distance, ties to the lower id). The
    picked d6 column IS the covering radius achieved before each
    addition — the classic 2-approximation certificate.

    Engine-exact by the kmeans convention: chosen vectors act as
    6-dp-rounded centroids and distances are integer micro-units via
    the shared pq_code_distances kernel, so the selection replays
    round for round in a SQL oracle. Each round scores the corpus
    against ONLY the newly chosen vector (one scan of the pinned
    coordinate frame) and keeps a running min. The per-round argmax
    is O(1) state — (vec_id, mind6), two longs — so it crosses to the
    DRIVER (head() on the deterministic desc-mind6/asc-id take-1, the
    docs_bpe_encode bounded-state posture) and re-enters the next
    round as literals: the chosen vector is selected by a pushed-down
    id FILTER on the pinned frame instead of a broadcast join, and
    already-chosen ids are excluded by an isin over <= k literals
    instead of a broadcast anti-join. Integer micro-unit distances
    make the hand-off exact by construction; the former per-round
    eager 1-row checkpoint (and its scheduler job) is gone.
    """
    from .kmeans import pq_code_distances

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # materialize the exploded coordinates once: every round's scoring
    # pass and every pick->centroid projection reference this frame
    x = e.select(
        "vec_id", F.posexplode("v").alias("pos", "x")
    ).localCheckpoint()

    def cent_of(vid: int, code: int) -> DataFrame:
        return x.where(F.col("vec_id") == F.lit(vid)).select(
            F.lit(0).alias("subspace"), F.lit(code).alias("code"),
            "pos", F.round("x", 6).alias("c"),
        )

    seed_row = e.orderBy("vec_id").limit(1).head()
    if seed_row is None:
        # empty corpus: no seed to start from — empty frame, same
        # schema (the old anti-join form's graceful degradation; r13
        # ADVICE guard)
        return spark.createDataFrame(
            [], "pick_rank long, vec_id long, d6 long"
        )
    seed_id = int(seed_row["vec_id"])
    picked = [(0, seed_id, None)]  # (pick_rank, vec_id, d6)
    mind = pq_code_distances(x, cent_of(seed_id, 0), ["vec_id"]).select(
        "vec_id", F.col("d6").alias("mind6")
    ).localCheckpoint(eager=False)
    for r in range(1, k):
        ids = [vid for _, vid, _ in picked]
        row = (
            mind.where(~F.col("vec_id").isin(ids))
            .orderBy(F.desc("mind6"), "vec_id")
            .limit(1)
            .head()
        )
        if row is None:
            # k exceeds the corpus size: every vector is already
            # picked — degrade to fewer rows like the old anti-join
            # form instead of raising TypeError (r13 ADVICE guard)
            break
        picked.append((r, int(row["vec_id"]), int(row["mind6"])))
        if r == k - 1:
            break
        dnew = pq_code_distances(
            x, cent_of(int(row["vec_id"]), r), ["vec_id"]
        ).select("vec_id", F.col("d6").alias("dnew"))
        mind = (
            mind.join(dnew, "vec_id")
            .select("vec_id", F.least("mind6", "dnew").alias("mind6"))
            .localCheckpoint(eager=False)
        )
    picks = spark.createDataFrame(
        picked, "pick_rank long, vec_id long, d6 long"
    )
    return picks.orderBy("pick_rank")


def parts_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC–XYZ inventory classification — the planner's 3x3 matrix:
    ABC ranks parts by revenue contribution (A = parts inside the
    first 80% of cumulative revenue, B to 95%, else C) and XYZ grades
    demand regularity by the coefficient of variation of monthly
    shipped quantity (X: CV <= 0.5, Y: CV <= 1.0, else Z — the
    classical 0.1/0.25 cut-offs assume dense monthly series; this
    sparse synthetic order stream sits higher, documented here).
    Returns per (abc, xyz) cell: part count and revenue share.

    Exactness: revenue accumulates in 1e-4 units; the cumulative-
    share thresholds cross-multiply (5*cum <= 4*tot, 20*cum <=
    19*tot); CV thresholds square and cross-multiply to integers
    (CV^2 = (M*s2 - s1^2)/s1^2, so X is 4*(M*s2 - s1^2) <= s1^2) —
    no float division anywhere.

    Scale: the per-part cumulative revenue uses
    ranking.distributed_cumsum (value-range blocks + broadcast
    offsets — no global-orderBy window over the part frame, which at
    100 TB is the catalog cardinality); everything else is
    partial-agg groupBys and one 9-row rollup.
    """
    from .ranking import distributed_cumsum

    li = _t(spark, sf_dir, "lineitem")
    rev = (M.cents("l_extendedprice")
           * (100 - M.cents("l_discount"))).alias("rev_e4")
    pr = li.select("l_partkey", rev).groupBy("l_partkey").agg(
        F.sum("rev_e4").alias("rev")
    )
    pm = (
        li.select(
            "l_partkey",
            F.date_trunc("month", "l_shipdate").alias("mth"),
            M.cents("l_quantity").alias("qc"),
        )
        .groupBy("l_partkey", "mth")
        .agg(F.sum("qc").alias("qc"))
    )
    px = pm.groupBy("l_partkey").agg(
        F.count("*").alias("m"),
        F.sum("qc").alias("s1"),
        F.sum(F.col("qc") * F.col("qc")).alias("s2"),
    )
    cum = distributed_cumsum(
        pr, "rev", "rev", ["l_partkey"], descending=True, out_col="cum"
    )
    tot = pr.agg(F.sum("rev").alias("tot"))
    cls = (
        cum.crossJoin(F.broadcast(tot))
        .join(px, "l_partkey")
        .select(
            "l_partkey", "rev", "tot",
            F.when(5 * F.col("cum") <= 4 * F.col("tot"), "A")
            .when(20 * F.col("cum") <= 19 * F.col("tot"), "B")
            .otherwise("C").alias("abc"),
            F.when(
                4 * (F.col("m") * F.col("s2") - F.col("s1") * F.col("s1"))
                <= F.col("s1") * F.col("s1"), "X")
            .when(
                F.col("m") * F.col("s2") - F.col("s1") * F.col("s1")
                <= F.col("s1") * F.col("s1"), "Y")
            .otherwise("Z").alias("xyz"),
        )
    )
    return (
        cls.groupBy("abc", "xyz")
        .agg(
            F.count("*").alias("n_parts"),
            F.expr(
                "(2 * 1000 * sum(rev) + max(tot)) div (2 * max(tot))"
            ).alias("rev_share_permille"),
        )
        .orderBy("abc", "xyz")
    )


PC_ROUNDS = 5
PC_COMPONENTS = 4
# the multi-component loop pays rounds x components corpus passes, so its
# default round count is lower; both are fixed-round REPLAYABLE ascent
# steps, not convergence claims (see the docstrings)
PCS_ROUNDS = 3


# per-(app, corpus) memo of the pinned centered frame — shared by
# emb_top_pc and emb_top_pcs so a suite/bench run pays the centering
# scan and the total-variance pass ONCE per corpus instead of once per
# PCA query (the _ivf_assigned_and_probes / PQ-codebook convention).
# Entries are localCheckpointed frames owned by the keyed session.
# Bounded: the pinned frame is CORPUS-SIZED, so the memo evicts
# oldest-first past _CENTERED_CACHE_MAX entries — dropping the dict
# reference releases the checkpoint RDD to the ContextCleaner (the
# emb_top_pcs prior-residual pattern), so a long-lived multi-corpus
# session never accumulates unbounded executor storage.
_CENTERED_CACHE: dict = {}
_CENTERED_CACHE_MAX = 2


def _centered_shared(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int, DataFrame]:
    """(xc, mean, dim, total_var) with xc pinned and total_var a
    pinned 1-row frame, memoized per (applicationId, sf_dir).
    Bit-identical to the recompute path — every cross-round quantity
    is 6-dp rounded after normalization (cache-invariance is
    unit-tested on both operators), so serving the suite's PCA
    queries from one shared pin changes no output. The key carries a
    data fingerprint (session.corpus_fingerprint: mtimes + bytes of
    the embeddings parquet), so regenerating the corpus under a
    long-lived application invalidates the pin instead of serving
    stale data."""
    from ..session import corpus_fingerprint

    ck = (spark.sparkContext.applicationId, sf_dir,
          corpus_fingerprint(sf_dir, "embeddings"))
    if ck not in _CENTERED_CACHE:
        xc, mean, dim = _centered_arrays(spark, sf_dir, cache=True)
        tv = _total_var(xc).localCheckpoint()
        while len(_CENTERED_CACHE) >= _CENTERED_CACHE_MAX:
            _CENTERED_CACHE.pop(next(iter(_CENTERED_CACHE)))
        _CENTERED_CACHE[ck] = (xc, mean, dim, tv)
    return _CENTERED_CACHE[ck]


def _centered_arrays(spark: SparkSession, sf_dir: str,
                     cache: bool) -> tuple[DataFrame, DataFrame, int]:
    """(xc, mean, dim): the 6-dp-mean-centered embeddings in ARRAY
    form — (vec_id, v: array<double>) — plus the (pos, m) mean frame.
    Array form keeps the per-row dot products of the power iteration
    INLINE (a bounded 64-element fold, the sanctioned HOF case), so a
    round needs no corpus-keyed join at all. ``cache`` picks the
    reuse strategy — see emb_top_pc's docstring for the tradeoff."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    x = e.select("vec_id", F.posexplode("v").alias("pos", "x"))
    dim = len(e.select("v").head()[0])
    mean = x.groupBy("pos").agg(F.round(F.avg("x"), 6).alias("m"))
    marr = _as_array(mean, "m")
    xc = e.crossJoin(F.broadcast(marr)).select(
        "vec_id",
        F.zip_with("v", "arr", lambda a, b: a - b).alias("v"),
    )
    if cache:
        xc = xc.localCheckpoint()
    return xc, mean, dim


def _as_array(frame: DataFrame, col: str) -> DataFrame:
    """(pos, col) frame -> 1-row pos-ordered array<double> named
    ``arr`` (broadcast at every use: dim doubles)."""
    return frame.agg(
        F.array_sort(F.collect_list(F.struct("pos", col))).alias("ps")
    ).select(
        F.transform("ps", lambda s: s.getField(col)).alias("arr")
    )


def _total_var(xc: DataFrame) -> DataFrame:
    """1-row total variance of the centered array frame: per-pos
    sum-of-squares partial aggregates (the exploded form's exact
    aggregation tree, so tv matches the oracle's flat sum to the
    same last-ulp class), then the 64-row total."""
    return (
        xc.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum(F.col("x") * F.col("x")).alias("q"))
        .agg(F.sum("q").alias("tv"))
    )


def _row_score(vcol, barr):
    """round(<v, b>, 6) as an inline left-to-right fold over the
    bounded per-row array — the engine-exact per-row score, with no
    join: the 6-dp rounding absorbs summation-order differences vs
    the oracle's group-sum exactly as it does between partitions."""
    return F.round(
        F.aggregate(
            F.zip_with(vcol, barr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _dir_lit(arr: list) -> "F.Column":
    """A collected unit direction re-embedded as a literal
    array<double> — the exact IEEE doubles the in-plan 6-dp rounding
    produced, so every expression consuming it computes bit-identically
    to the former broadcast-1-row-frame form."""
    return F.array(*[F.lit(float(x)) for x in arr])


def _start_dir(spark: SparkSession, dim: int) -> list:
    """The deterministic unit start vector as driver-side doubles:
    round(1/sqrt(dim), 6) evaluated IN-PLAN on a 1-row frame so the
    value carries F.round's half-up semantics (python round is
    half-even — the documented parity trap), then replicated dim
    times."""
    v0 = spark.range(1).select(
        F.round(F.lit(1.0) / F.sqrt(F.lit(float(dim))), 6).alias("b")
    ).head()["b"]
    return [float(v0)] * dim


def _power_rounds(xc: DataFrame, b0: list, rounds: int) -> tuple:
    """``rounds`` power-iteration ascent steps on the centered array
    frame: per-row score (6-dp inline fold) -> per-pos weighted sum
    -> normalize FIRST, then round to 6 dp. The whole round state is
    O(dim) — 64 loading doubles plus the ||w|| eigenvalue estimate —
    so it crosses to the DRIVER once per round (head() on the 1-row
    aggregate) and re-enters the next round's plan as a literal array
    (the docs_bpe_encode bounded-state posture: the merge table there,
    the direction vector here — never anything corpus-sized). A round
    costs exactly one corpus pass + one bounded aggregation pipeline
    (the only shuffle is the 64-row per-pos partial aggregate, no
    corpus-keyed join), and the literal hand-off replaces the former
    per-round broadcast-exchange future + lazy 1-row checkpoint —
    measured 3 scheduler jobs per round down to 1, emb_top_pcs
    9.7s -> see OPTIMIZATION_r13.md. Values are bit-identical to the
    broadcast form: head() returns the exact IEEE doubles the in-plan
    F.round produced, and literals reproduce them exactly.
    Returns (arr: list of dim doubles, nrm: float)."""
    if rounds < 1:
        # rounds=0 would return nrm=None and downstream F.lit(None)
        # arithmetic would silently emit null eigenvalue columns where
        # the old broadcast form raised — fail loudly instead (r13
        # ADVICE)
        raise ValueError(f"_power_rounds needs rounds >= 1, got {rounds}")
    cur, nrm = list(b0), None
    for _ in range(rounds):
        row = (
            xc.select(
                "v",
                _row_score(F.col("v"), _dir_lit(cur)).alias("s"),
            )
            .select(F.posexplode("v").alias("pos", "x"), "s")
            .groupBy("pos")
            .agg(F.sum(F.col("x") * F.col("s")).alias("w"))
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "w"))
                ).alias("pw")
            )
            .select(
                F.transform("pw", lambda s: s.getField("w")).alias("warr")
            )
            .select(
                "warr",
                F.sqrt(
                    F.aggregate(
                        "warr", F.lit(0.0), lambda acc, x: acc + x * x
                    )
                ).alias("nrm"),
            )
            .select(
                F.transform(
                    "warr", lambda x: F.round(x / F.col("nrm"), 6)
                ).alias("arr"),
                "nrm",
            )
            .head()
        )
        cur = [float(x) for x in row["arr"]]
        nrm = float(row["nrm"])
    return cur, nrm


def emb_top_pc(spark: SparkSession, sf_dir: str,
               rounds: int = PC_ROUNDS,
               cache_centered: bool = False) -> DataFrame:
    """Top principal component of the (mean-centered) embedding
    corpus by fixed-round power iteration — the dimensionality-
    reduction family's entry point (PCA whitening, variance
    diagnostics, anisotropy checks all start here). Returns one row
    per coordinate: (pos, loading) of the unit dominant eigenvector,
    plus the final Rayleigh-quotient eigenvalue and its share of
    total variance (both integer micro-units, constant across rows).

    Engine-exact by the kmeans convention: a deterministic uniform
    start vector, and after every round the new direction is
    NORMALIZED FIRST and then rounded to 6 dp, so every quantity the
    next round consumes is O(1) magnitude where a last-ulp group-sum
    difference between engines sits ~6 orders below the rounding
    step. Fixed round count (not a convergence test) is what makes
    the whole iteration unroll into a SQL-replayable plan —
    emb_kmeans_fit_exact's trick, applied to linear algebra.

    Convergence is the textbook (lambda2/lambda1)^rounds: the default
    5 rounds suit a spectrum with a real dominant direction; a flat
    near-isotropic corpus (this repo's synthetic embeddings have
    lambda2/lambda1 ~ 0.93) needs ~30 rounds for cos > 0.95 to the
    true eigenvector — the unit test pins both regimes. Every round
    is a fixed, replayable ascent step either way: the Rayleigh
    quotient is monotonically non-decreasing.

    Scale: each round is one corpus scan — the 64-double direction
    enters the scan as a LITERAL array (collected to the driver once
    per round: O(dim) state, the docs_bpe_encode bounded-state
    posture), per-row scores s_i = <b, v_i - mean> are an inline fold,
    a posexplode groupBy(pos) partial-agg reduces
    w = sum_i s_i (v_i - mean), and only 64 doubles shuffle. Nothing
    corpus-sized ever approaches the driver. Identical at 500 rows
    and 100 TB.

    ``cache_centered`` is the reuse-strategy choice for the centered
    exploded corpus each round consumes twice:

    - False (default — the raw-table-scan posture): recompute from
      the parquet scan per use. The scan is column-pruned and the
      centering is one broadcast join, so each recompute is a cheap
      map-side pipeline; nothing corpus-sized is ever copied.
    - True: pin the N x dim centered frame with localCheckpoint —
      served from the per-(app, corpus) SHARED memo
      (_centered_shared), so emb_top_pc and emb_top_pcs in one
      session split a single centering + total-variance pass. Right
      when the input is already an expensive upstream pipeline
      (filters, joins) worth paying for once — but at 100 TB it is a
      corpus-sized copy on executor-local disk with NON-reliable
      lineage truncation (an executor loss kills the job instead of
      recomputing), so the default stays recompute for raw scans.

    Both paths produce identical results (unit-tested at several
    round counts): every cross-round quantity is rounded to 6 dp
    after normalization, so last-ulp aggregation-order differences
    between computations sit ~6 orders below the rounding step.
    """
    if cache_centered:
        # the shared per-(app, corpus) pin — also reused by
        # emb_top_pcs, so the suite centers the corpus once
        xc, mean, dim, total_var = _centered_shared(spark, sf_dir)
    else:
        xc, mean, dim = _centered_arrays(spark, sf_dir, cache=False)
        total_var = _total_var(xc)
    # deterministic unit start: 1/sqrt(dim) rounded to 6 dp IN-PLAN
    # (F.round is half-up like the oracle's; python round is half-even)
    b0 = _start_dir(spark, dim)
    arr, nrm = _power_rounds(xc, b0, rounds)
    return (
        total_var.select(
            F.posexplode(_dir_lit(arr)).alias("pos", "loading"),
            F.round(F.lit(nrm) * 1e6, 0).cast("long").alias(
                "eigenvalue_e6"
            ),
            # share of total variance: lambda / (tv / n_rows) ... both
            # sides scale by n, so lambda*n/tv — report lambda/tv in
            # micro-units (corpus-size-free comparisons use the ratio)
            F.round(F.lit(nrm) / F.col("tv") * 1e6, 0).cast("long")
            .alias("ev_share_e6"),
        )
        .orderBy("pos")
    )


def emb_top_pcs(spark: SparkSession, sf_dir: str,
                components: int = PC_COMPONENTS,
                rounds: int = PCS_ROUNDS,
                cache_centered: bool = True) -> DataFrame:
    """Top-m principal components by DEFLATION — the whitening /
    anisotropy-correction form emb_top_pc stops short of: after
    extracting b_1, power-iterate on x - (x . b_1) b_1, and so on,
    so component j is the dominant direction of the residual after
    removing components 1..j-1. Returns one row per (component, pos)
    with the loading, the component's Rayleigh eigenvalue estimate
    and its share of the ORIGINAL total variance (micro-units).

    Engine-exact by construction: each component runs the same
    normalize-then-round power iteration as emb_top_pc (6-dp scores,
    6-dp unit loadings), and the deflation step is POINTWISE double
    arithmetic over already-rounded quantities — x' = x - s * b with
    s a 6-dp per-row scalar and b a 6-dp loading — which both engines
    evaluate bit-identically (no aggregation order involved), so the
    oracle unrolls component-for-component with zero drift.

    Orthogonality is approximate at small round counts exactly as
    convergence is (deflation removes the ESTIMATED direction); the
    unit test checks |b_i . b_j| at 30 rounds against NumPy's eigh
    on the same centered data.

    Scale: component j costs (rounds + 1) corpus scans — the same
    per-round literal-direction shape as emb_top_pc (O(dim) driver
    state per round, nothing corpus-sized near the driver) plus ONE
    deflation pass producing the next residual frame, which the lazy
    pin fuses into the next component's first round. ``cache_centered``
    carries emb_top_pc's cache-vs-recompute posture, but the DEFAULT
    flips to pinned here: unlike the single-component operator (whose
    centered frame a recompute posture re-derives ~12 times at
    map-side cost), the multi-component loop consumes each frame
    2 x rounds times AND chains residual on residual, so recompute
    compounds geometrically across components (measured 2.3x the
    whole suite's budget at sf0.1). Pinning strategy per posture:
    localCheckpoint when True (fast, executor-local; a lost executor
    kills the job), else persist(MEMORY_AND_DISK) for the residuals
    (retained lineage recomputes on executor loss — the reliable
    100 TB choice, at materialization cost). Both paths agree
    bit-for-bit (unit-tested).
    """
    if cache_centered:
        xc, mean, dim, total_var = _centered_shared(spark, sf_dir)
    else:
        xc, mean, dim = _centered_arrays(spark, sf_dir, cache=False)
        total_var = _total_var(xc)
    b0 = _start_dir(spark, dim)
    outs = []  # driver-side (component, arr, nrm) — O(m * dim) state
    prev_residual = None  # the persisted residual one deflation behind
    for comp in range(1, components + 1):
        arr, nrm = _power_rounds(xc, b0, rounds)
        outs.append((comp, arr, nrm))
        if comp < components:
            # deflate: subtract the found direction's projection —
            # one corpus scan (inline 6-dp score against the LITERAL
            # direction, pointwise update on 6-dp inputs), no join
            darr = _dir_lit(arr)
            xc = (
                xc.select(
                    "vec_id", "v",
                    _row_score(F.col("v"), darr).alias("s"),
                )
                .select(
                    "vec_id",
                    F.zip_with(
                        "v", darr, lambda a, c: a - F.col("s") * c
                    ).alias("v"),
                )
            )
            if cache_centered:
                # lazy checkpoint: the next component's first power
                # round materializes the residual as a side effect of
                # its own corpus pass (one pass instead of the former
                # eager write + re-read); lineage truncates at
                # materialization and the PRIOR checkpoint's RDD drops
                # its last reference for the ContextCleaner
                xc = xc.localCheckpoint(eager=False)
            else:
                from pyspark import StorageLevel

                xc = xc.persist(StorageLevel.MEMORY_AND_DISK)
                # persist() is lazy: materialize NOW (count computes
                # exactly the partitions being cached — later
                # consumers read the cache, so total corpus passes
                # are unchanged), then release the residual this one
                # was derived from. Without the release,
                # components - 1 corpus-sized frames stay pinned in
                # the storage layer for the session's lifetime
                # (round-7 ADVICE); only the LIVE residual stays
                # cached.
                xc.count()
                if prev_residual is not None:
                    prev_residual.unpersist()
                prev_residual = xc
    frames = [
        total_var.select(
            F.lit(comp).alias("component"),
            F.posexplode(_dir_lit(arr)).alias("pos", "loading"),
            F.round(F.lit(nrm) * 1e6, 0).cast("long")
            .alias("eigenvalue_e6"),
            F.round(F.lit(nrm) / F.col("tv") * 1e6, 0).cast("long")
            .alias("ev_share_e6"),
        )
        for comp, arr, nrm in outs
    ]
    all_b = frames[0]
    for o in frames[1:]:
        all_b = all_b.unionByName(o)
    return all_b.orderBy("component", "pos")


def emb_hard_negatives(spark: SparkSession, sf_dir: str,
                       n_queries: int = 8, k: int = 5) -> DataFrame:
    """Hard-negative mining: for each query vector (vec_id <
    n_queries), the k nearest vectors by cosine whose label DIFFERS
    from the query's — the highest-similarity wrong-class examples
    contrastive retrievers train against (DPR-style in-batch
    negatives upgraded to mined ones).

    Same exact-scoring shape as emb_cosine_topk (broadcast query set,
    JVM fold dot products, 6-dp rounded ranking with id tie-break);
    the label inequality is part of the join predicate, so excluded
    same-class rows are never scored. Ranking goes through the shared
    mergeable ``grouped_topk`` kernel (salted two-stage bottom-k, no
    window) — a per-qid ``row_number`` would sort a corpus-sized
    frame in one task per query at 100 TB.
    """
    from ..functions.vectors import dot, norm

    from .ranking import grouped_topk
    from .similarity import _emb

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("label").alias("q_label"),
    )
    nn = norm(F.col("qv")) * norm(F.col("v"))
    cos = F.when(nn > 0, dot(F.col("qv"), F.col("v")) / nn).otherwise(
        F.lit(0.0)
    )
    scored = emb.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("qid"))
        & (F.col("label") != F.col("q_label")),
    ).select(
        "qid",
        "q_label",
        F.col("vec_id").alias("nid"),
        F.col("label").alias("n_label"),
        F.round(cos, 6).alias("cos6"),
        F.round(cos, 4).alias("cos"),
    )
    return (
        grouped_topk(
            scored,
            ["qid"],
            [-F.col("cos6"), F.col("nid")],
            [F.col("q_label"), F.col("nid"), F.col("n_label"), F.col("cos")],
            k,
            F.col("nid"),
        )
        .select("qid", "q_label", "nid", "n_label", "cos", "rnk")
        .orderBy("qid", "rnk")
    )
