"""Round-7 wave — analytics additions, each with an exact DuckDB
oracle twin:

- events_welch_ttest: Welch's unequal-variance t-test between every
  pair of event types' value distributions — the A/B-testing
  primitive a product-analytics warehouse serves constantly. One
  partial-agg pass to per-type moments, then a tiny self-join; the
  statistic itself is computed on |types|^2 rows.
- orders_open_backlog: the order-fulfillment backlog timeline — per
  day, how many orders have been placed but not yet fully shipped.
  The interval-count problem (events_concurrency's shape) on the
  orders/lineitem join: +1/-1 boundary deltas, one groupBy(day), and
  a running sum over the bounded per-day aggregate.
- customer_interpurchase_gaps: per-segment inter-purchase cadence —
  lag over the o_custkey-partitioned order stream (high-cardinality
  windows only), exact integer day statistics.
- emb_knn_classify: leave-one-out k-NN label agreement — the
  embedding/label QA eval; broadcast eval set, grouped_topk ranking
  (no per-qid window), window-free struct-argmax majority vote.
- events_dau_mau: DAU/MAU stickiness served from the mergeable daily
  HLL register table (trailing merge via calendar-bounded explode).
- events_type_cooccurrence: audience-overlap Jaccard between event
  types — user-keyed self-equi-join, |types|^2 aggregate.

Reference parity note: the reference pipeline (119 lines of
Postgres SQL/loader) has no statistics or backlog surface; these
extend the warehouse the way its weekly-average view
(create_objects.sql:24-38) extends raw trips — pre-aggregated
decision tables over the fact stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_parallelism, read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return ensure_parallelism(spark, read_table(spark, sf_dir, name))


def welch_moments(typed_vc: DataFrame) -> DataFrame:
    """(event_type, vc) rows -> the MERGEABLE sufficient statistic
    per type: n, Σvc, Σvc² as exact integer sums. Order-independent
    longs, so partial aggregation, cross-run merges, and per-batch
    deltas all compose — summing two moment frames IS the moment
    frame of the union.

    Exactness bound: the long sums stay exact while
    n · max(vc)² < 2^63 per type — at |vc| ≤ 6e4 cents that is
    ~2.6e9 rows per type per accumulation; beyond it, under ANSI
    mode (the Spark 4 default) the sum FAILS LOUDLY rather than
    wrapping, and the remedy is sharding the moment accumulation
    (moment frames add) or scaling vc's unit down. DuckDB's HUGEINT
    sums never wrap, so a wrapped long could only ever show up as a
    parity break, not a silent agreement."""
    return typed_vc.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("vc").alias("sv"),
        F.sum(F.col("vc") * F.col("vc")).alias("svv"),
    )


def welch_stats(st: DataFrame) -> DataFrame:
    """Pairwise Welch statistics from a (event_type, n, sv, svv)
    moment frame — the kernel of the batch operator, so statistics
    served from summed moment frames match it value-for-value. Mean
    and sample variance come from the integer sums via identical
    IEEE double expressions in both engines
    (var = (n·Σv² − (Σv)²)/(n·(n−1)), computed in doubles since
    (Σv)² overflows BIGINT at corpus scale); outputs are rounded
    (4 dp t, 2 dp df, 6 dp mean gap) so last-ulp noise sits below
    the reported precision.

    Degenerate pairs are FILTERED, not emitted as silent NULL rows
    (round-7 ADVICE): n = 1 gives an undefined sample variance, and
    two zero-variance types make se2 = 0 — both drop via ``n >= 2``
    and ``se2 > 0`` guards, in Spark and oracle lockstep."""
    def _moment_cols(side: str) -> list:
        nd = F.col(f"n{side}").cast("double")
        svd = F.col(f"sv{side}").cast("double")
        svvd = F.col(f"svv{side}").cast("double")
        m = svd / nd
        v = (nd * svvd - svd * svd) / (nd * (nd - F.lit(1.0)))
        return [m.alias(f"m{side}"), v.alias(f"v{side}")]

    a = st.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("sv").alias("sva"),
        F.col("svv").alias("svva"),
    )
    b = st.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("sv").alias("svb"),
        F.col("svv").alias("svvb"),
    )
    j = (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .select("type_a", "type_b", "na", "nb",
                *_moment_cols("a"), *_moment_cols("b"))
    )
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    dfw = (se2 * se2) / (
        (F.col("va") / F.col("na")) * (F.col("va") / F.col("na"))
        / (F.col("na") - 1)
        + (F.col("vb") / F.col("nb")) * (F.col("vb") / F.col("nb"))
        / (F.col("nb") - 1)
    )
    return (
        j.where((F.col("na") >= 2) & (F.col("nb") >= 2) & (se2 > 0))
        .select(
            "type_a",
            "type_b",
            "na",
            "nb",
            F.round((F.col("ma") - F.col("mb")) / 100.0, 6)
            .alias("mean_diff"),
            F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2), 4)
            .alias("t_stat"),
            F.round(dfw, 2).alias("df"),
        )
        .orderBy("type_a", "type_b")
    )


def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-test (unequal variances) between every ordered pair
    of event types' ``value`` distributions: t statistic and the
    Welch-Satterthwaite degrees of freedom, plus the mean difference.

    Plan: ONE partial-aggregable scan reduces the corpus to
    |types| moment rows — exact integer cents sums (n, Σv, Σv²), the
    welch_moments kernel (t and the Satterthwaite df are
    scale-invariant, so cents give the same statistics as dollars;
    the mean gap divides back — the orders_price_corr convention
    that keeps raw 2-dp money doubles out of float accumulations).
    The pairwise statistics are a broadcast self-join on that tiny
    frame (welch_stats) — at 100 TB the corpus is read once and
    everything pairwise happens on |types|^2 rows. The integer-sum
    moment form (round 8, was avg/var_samp) is what makes the
    statistic SERVABLE from summed partial state: per-batch deltas
    reproduce the exact same longs, so welch_stats over their sum
    matches this operator bit-for-bit."""
    from ..functions import money as M

    e = _t(spark, sf_dir, "events")
    st = welch_moments(
        e.select("event_type", M.cents("value").alias("vc")))
    return welch_stats(st)


def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-backlog timeline: for every day on which the
    backlog changes, the number of orders opened that day, fully
    shipped that day, and the running count of open orders (placed,
    not yet past their last line's ship date — half-open: an order
    counts as open ON its last ship day and not after).

    Scale shape: per-order bounds are one partial-agg over lineitem
    joined (shuffle on the order key, the natural co-partition) with
    orders; each order then contributes two boundary DELTAS (+1 at
    open, -1 the day after close) so the corpus reduces to a
    per-day aggregate bounded by the calendar, and the running sum
    is a window over that BOUNDED aggregate (the HDR-bucket
    precedent), never a corpus-sized frame."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("open_day")
    )
    li = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("close_day")
    )
    spans = o.join(
        li, F.col("o_orderkey") == F.col("l_orderkey"), "inner"
    ).select("open_day", "close_day")
    deltas = (
        spans.select(
            F.col("open_day").alias("day"),
            F.lit(1).alias("d"),
            F.lit(1).alias("opened"),
            F.lit(0).alias("closed"),
        )
        .unionByName(
            spans.select(
                F.date_add("close_day", 1).alias("day"),
                F.lit(-1).alias("d"),
                F.lit(0).alias("opened"),
                F.lit(0).alias("closed"),
            )
        )
        .unionByName(
            spans.select(
                F.col("close_day").alias("day"),
                F.lit(0).alias("d"),
                F.lit(0).alias("opened"),
                F.lit(1).alias("closed"),
            )
        )
    )
    per_day = deltas.groupBy("day").agg(
        F.sum("d").alias("net"),
        F.sum("opened").alias("opened"),
        F.sum("closed").alias("closed"),
    )
    from pyspark.sql import Window

    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per_day.withColumn("open_backlog", F.sum("net").over(w))
        .select("day", "opened", "closed", "open_backlog")
        .orderBy("day")
    )


def customer_interpurchase_gaps(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Inter-purchase cadence per market segment: each customer's
    gaps between consecutive orders (lag over the per-customer order
    stream — o_custkey-partitioned, the SCD2 window discipline: high
    key cardinality, never a global or low-cardinality sort), rolled
    up per segment as exact integer day statistics plus the count of
    repeat customers. The replenishment-model input every retention
    team asks the warehouse for."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("d")
    gaps = (
        o.withColumn("prev_d", F.lag("d").over(w))
        .where(F.col("prev_d").isNotNull())
        .select("o_custkey", F.datediff("d", "prev_d").alias("gap_days"))
    )
    per_cust = gaps.groupBy("o_custkey").agg(
        F.count("*").alias("n_gaps"),
        F.sum("gap_days").alias("gap_sum"),
        F.max("gap_days").alias("gap_max"),
    )
    return (
        per_cust.join(
            c, F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("repeat_customers"),
            F.sum("n_gaps").alias("n_gaps"),
            # half-up integer mean gap in days via BIGINT div
            F.expr(
                "(2 * sum(gap_sum) + sum(n_gaps)) div (2 * sum(n_gaps))"
            ).alias("mean_gap_days"),
            F.max("gap_max").cast("long").alias("max_gap_days"),
        )
        .orderBy("c_mktsegment")
    )


def emb_knn_classify(spark: SparkSession, sf_dir: str,
                     k: int = 3, n_eval: int = 64) -> DataFrame:
    """Leave-one-out k-NN label agreement — the embedding-quality
    eval a training pipeline runs before trusting labels or vectors:
    for each of the first ``n_eval`` vectors, the majority label of
    its k nearest OTHER vectors by cosine (ties broken toward the
    smaller label, neighbor order by the 6-dp score with id
    tie-break), reported per true label as agreement counts and
    integer permille accuracy.

    Plan: the eval set broadcasts against the corpus (the
    emb_cosine_topk scoring shape), ranking goes through the
    mergeable grouped_topk kernel (no per-qid window anywhere), and
    the k-row neighbor lists vote in one tiny aggregate."""
    from ..functions.vectors import dot, norm

    from .ranking import grouped_topk
    from .similarity import _emb

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < n_eval).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("label").alias("true_label"),
    )
    nn = norm(F.col("qv")) * norm(F.col("v"))
    cos = F.when(nn > 0, dot(F.col("qv"), F.col("v")) / nn).otherwise(
        F.lit(0.0)
    )
    scored = emb.join(
        F.broadcast(q), F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        "true_label",
        F.col("vec_id").alias("nid"),
        F.col("label").alias("n_label"),
        F.round(cos, 6).alias("cos6"),
    )
    topk = grouped_topk(
        scored,
        ["qid"],
        [-F.col("cos6"), F.col("nid")],
        [F.col("true_label"), F.col("n_label")],
        k,
        F.col("nid"),
    )
    votes = topk.groupBy("qid", "true_label", "n_label").agg(
        F.count("*").alias("v")
    )
    # majority vote, ties toward the smaller label, as a window-free
    # struct argmax (max votes, then max negated label == min label) —
    # keeps the package's zero-qid-window invariant intact
    pred = (
        votes.groupBy("qid", "true_label")
        .agg(
            F.max(
                F.struct(
                    F.col("v"),
                    (-F.col("n_label")).alias("neg_label"),
                )
            ).alias("mx")
        )
        .select(
            "qid", "true_label",
            (-F.col("mx").getField("neg_label")).alias("pred_label"),
        )
    )
    return (
        pred.groupBy("true_label")
        .agg(
            F.count("*").alias("n_eval"),
            F.sum(
                (F.col("pred_label") == F.col("true_label"))
                .cast("long")
            ).alias("n_correct"),
        )
        .select(
            "true_label", "n_eval", "n_correct",
            F.expr("(2 * 1000 * n_correct + n_eval) div (2 * n_eval)")
            .alias("acc_pm"),
        )
        .orderBy("true_label")
    )


def events_dau_mau(spark: SparkSession, sf_dir: str,
                   window_days: int = 30) -> DataFrame:
    """DAU/MAU stickiness per day — the engagement ratio every product
    dashboard serves — computed ENTIRELY from the mergeable daily HLL
    sketch table (relational7.hll_registers): DAU is the day's own
    register estimate, MAU merges the trailing ``window_days`` days'
    registers by max, and a trailing DISTINCT never re-touches the
    fact table. countDistinct cannot do this: exact distincts don't
    re-aggregate, which is why the sketch table is the 100 TB plan.

    Scale shape: one fact scan builds the (day, reg, mx) table
    (bounded: |days| x 256 regardless of corpus); the trailing merge
    EXPLODES each register row to the <= window_days days it serves
    (calendar-bounded fan-out on the aggregate, the inverse of a
    range join — no BroadcastNestedLoopJoin over the register table),
    semi-joins back to observed days, and max-merges. Stickiness is
    the rounded ratio of the two rounded estimates (pointwise,
    engine-identical).

    Fan-out bound: the explode produces at most
    |days| x 256 x window_days contribution rows — CORPUS-INDEPENDENT
    (it scales with the calendar and the register width, never with
    row count), so a decade of data at any SF is ~3650 x 256 x 30 ≈
    28M rows through one hash aggregate. ``window_days`` is a linear
    multiplier on that frame: a 365-day trailing window on a
    multi-year table is ~12x this default — still calendar-bounded,
    but size the shuffle partitions for |days| x 256 x window rows
    before raising it."""
    from .relational7 import hll_estimate, hll_registers

    ev = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = hll_registers(ev, "user_id", ["d"])
    dau = hll_estimate(daily, ["d"]).select(
        F.col("d").alias("day"), F.round("raw_est", 4).alias("dau_est")
    )
    contrib = daily.select(
        F.explode(
            F.expr(f"sequence(d, date_add(d, {window_days - 1}),"
                   " interval 1 day)")
        ).alias("day"),
        "reg",
        "mx",
    )
    spine = daily.select(F.col("d").alias("day")).distinct()
    merged = (
        contrib.join(spine, "day", "left_semi")
        .groupBy("day", "reg")
        .agg(F.max("mx").alias("mx"))
    )
    mau = hll_estimate(merged, ["day"]).select(
        "day", F.round("raw_est", 4).alias("mau_est")
    )
    return (
        dau.join(mau, "day")
        .select(
            "day", "dau_est", "mau_est",
            F.round(F.col("dau_est") / F.col("mau_est"), 4)
            .alias("stickiness"),
        )
        .orderBy("day")
    )


def events_type_cooccurrence(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Behavioral overlap between event types: for every type pair,
    how many users did both, with the Jaccard of the two user sets in
    half-up integer permille — the audience-overlap matrix behind
    cross-sell and funnel design.

    Plan: one distinct over (user, type) — the only corpus-sized
    shuffle — then a self-equi-join ON THE USER KEY (fan-out bounded
    by |types| per user, linear in users, never a cartesian) and a
    |types|^2 aggregate; per-type set sizes join back broadcast."""
    e = _t(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    co = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("co_users"))
    )
    sizes = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    sa = sizes.select(F.col("event_type").alias("type_a"),
                      F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"),
                      F.col("n").alias("nb"))
    return (
        co.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a", "type_b", "na", "nb", "co_users",
            F.expr(
                "(2 * 1000 * co_users + (na + nb - co_users))"
                " div (2 * (na + nb - co_users))"
            ).alias("jaccard_pm"),
        )
        .orderBy("type_a", "type_b")
    )
