"""Round-10 wave — distribution-drift and audit statistics over the
documents / events tables, each with an exact DuckDB oracle twin
(staged in ``__spark_entry__`` for a later sweep budget):

- docs_k_anonymity: k-anonymity audit over quasi-identifier
  equivalence classes (lang, source, coarse length bucket) — the
  privacy-review table a training-data release needs: for every class
  size k, how many classes and documents sit at that k, what permille
  of the corpus they are, and whether the class is re-identifiable
  under the k<5 rule of thumb. All integer arithmetic (half-up
  permille), so the oracle matches bit-for-bit.
- events_acf: sample autocorrelation of the daily event-count series
  at lags 1..max_lag over a zero-filled calendar. Sufficient
  statistics (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as EXACT decimal
  integers (order-independent, 128-bit headroom for 1e9-events/day
  series), and the Pearson ratio is one identical double expression
  in both engines.
- docs_ks_source_drift: two-sample Kolmogorov–Smirnov distance
  between every pair of sources on the n_chars distribution — the
  drift statistic a corpus-mixing pipeline watches when a new crawl
  lands. D is carried as an exact integer cross-product
  max|F_a(x)·n_b − F_b(x)·n_a| before ONE double division, so no
  float ECDF crosses an engine boundary.
- events_benford: first-significant-digit distribution of positive
  value cents vs Benford's law with per-digit chi-squared
  contributions (the orders_priority_chi2 convention: each row is its
  own statistic; consumers sum the column). The Benford expectations
  are shared literal doubles — the SQL twin embeds ``repr()`` of the
  same Python constants, so both engines start from identical bits.
- orders_survival_km: right-censored Kaplan–Meier survival curve of
  order fulfilment time. The product-limit recurrence runs in exact
  integer micro-units with half-up per step (the forecaster-family
  convention), factored into the pure ``km_curve`` kernel so the
  curve replays bit-for-bit in the oracle's recursive CTE, the unit
  tests, and a hypothesis float-reference property.

Every operator here splits into a SUFFICIENT-STATISTIC kernel
(kanon_classes / ks_counts / daily_counts / benford_digit_counts /
lastship_counts) and a SERVING kernel over that statistic. Each
statistic merges by plain sums or an absorbing max, so a serving
kernel over merged partial state gives the corpus answer.

Reference parity note: the reference pipeline (119 lines of Postgres
SQL/loader, src/sqls/create_objects.sql) has no statistics surface;
these extend the warehouse exactly as the round-8 statistics wave
(relational13.py) did.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import ensure_parallelism, pin, read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return ensure_parallelism(spark, read_table(spark, sf_dir, name))


# ---------------------------------------------------------------------------
# docs_k_anonymity
# ---------------------------------------------------------------------------

KANON_BUCKET_CHARS = 256
KANON_RISK_K = 5


def kanon_classes(d: DataFrame,
                  bucket_chars: int = KANON_BUCKET_CHARS) -> DataFrame:
    """Quasi-identifier equivalence classes of a documents frame:
    (lang, source, n_chars div ``bucket_chars``) with the class size
    ``k``. Per-batch class counts are plain integer sums, so summed
    deltas reproduce the corpus classes exactly."""
    return (
        d.select(
            "lang", "source",
            F.expr(f"n_chars div {int(bucket_chars)}").alias("len_bucket"),
        )
        .groupBy("lang", "source", "len_bucket")
        .agg(F.count("*").alias("k"))
    )


def kanon_dist(classes: DataFrame,
               risk_k: int = KANON_RISK_K) -> DataFrame:
    """The k-size distribution over a (lang, source, len_bucket, k)
    classes frame — the shape docs_k_anonymity returns, computed by
    this one kernel."""
    # r13 perf: dist feeds the 1-row total AND the broadcast-back —
    # pin it so the corpus reduction behind it runs once (session.pin)
    dist = pin(
        classes.groupBy("k")
        .agg(F.count("*").alias("n_classes"), F.sum("k").alias("n_docs"))
    )
    tot = dist.agg(F.sum("n_docs").alias("total"))
    return (
        dist.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("n_classes").cast("long").alias("n_classes"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.expr("(2000 * n_docs + total) div (2 * total)")
            .cast("long").alias("docs_pm"),
            (F.col("k") < F.lit(int(risk_k))).alias("at_risk"),
        )
        .orderBy("k")
    )


def docs_k_anonymity(spark: SparkSession, sf_dir: str,
                     bucket_chars: int = KANON_BUCKET_CHARS,
                     risk_k: int = KANON_RISK_K) -> DataFrame:
    """k-anonymity audit: group documents into quasi-identifier
    equivalence classes (lang, source, n_chars div ``bucket_chars``)
    and report the class-size (k) distribution — one row per distinct
    k with the number of classes and documents at that size, the
    half-up permille of the corpus they represent, and an ``at_risk``
    flag for k < ``risk_k`` (a released row in such a class is
    re-identifiable among fewer than ``risk_k`` peers).

    Plan: ONE corpus scan partial-aggregates to the QI classes
    (bounded by |langs| x |sources| x length-buckets — metadata-sized
    regardless of row count); the k-distribution and the corpus total
    are re-aggregations of that tiny frame, so the 1-row total joins
    back broadcast. Every column is exact integer math (the
    ``(2·1000·part + whole) div (2·whole)`` half-up permille
    convention), hence bit-reproducible in the oracle.
    """
    d = _t(spark, sf_dir, "documents")
    return kanon_dist(kanon_classes(d, bucket_chars), risk_k)


LDIV_RISK_L = 2


def ldiv_dist(classes: DataFrame, risk_l: int = LDIV_RISK_L) -> DataFrame:
    """The l-diversity distribution over the SAME
    (lang, source, len_bucket, k) classes frame the k-anonymity audit
    reduces to: per (source, len_bucket) quasi-identifier class, l =
    the number of DISTINCT sensitive values (lang) present, then one
    row per distinct l with the class/document counts, half-up
    permille, and an at_risk flag for l < ``risk_l`` (every document
    in such a class shares its sensitive value with at most l-1
    alternatives — the attribute-disclosure failure k-anonymity alone
    cannot see: a class can be large AND uniform). The kernel of the
    batch audit."""
    per_class = (
        classes.groupBy("source", "len_bucket")
        .agg(F.count("*").alias("l"), F.sum("k").alias("docs"))
    )
    # r13 perf: the kanon_dist pin, l-diversity edition
    dist = pin(
        per_class.groupBy("l")
        .agg(F.count("*").alias("n_classes"),
             F.sum("docs").alias("n_docs"))
    )
    tot = dist.agg(F.sum("n_docs").alias("total"))
    return (
        dist.crossJoin(F.broadcast(tot))
        .select(
            F.col("l").cast("long").alias("l"),
            F.col("n_classes").cast("long").alias("n_classes"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.expr("(2000 * n_docs + total) div (2 * total)")
            .cast("long").alias("docs_pm"),
            (F.col("l") < F.lit(int(risk_l))).alias("at_risk"),
        )
        .orderBy("l")
    )


def docs_l_diversity(spark: SparkSession, sf_dir: str,
                     bucket_chars: int = KANON_BUCKET_CHARS,
                     risk_l: int = LDIV_RISK_L) -> DataFrame:
    """l-diversity audit over (source, length-bucket) quasi-identifier
    classes with lang as the sensitive attribute — the
    attribute-disclosure sibling of docs_k_anonymity: a class can
    pass k-anonymity (many documents) while every document shares one
    lang, so an adversary who locates a row in the class learns the
    sensitive value with certainty. One row per distinct diversity
    level l with class/document counts, half-up permille, and the
    l < risk_l flag.

    Plan and exactness: the docs_k_anonymity shape exactly — ONE
    corpus scan to the (lang, source, len_bucket, k) classes
    (kanon_classes, the sufficient statistic docs_k_anonymity also
    uses), then two re-aggregations of that metadata-sized frame and a
    broadcast 1-row total; every column exact integer math.

    Registered in round 12 (all eight staged operators at once,
    per the r11 verdict); oracle parity-validated while staged."""
    d = _t(spark, sf_dir, "documents")
    return ldiv_dist(kanon_classes(d, bucket_chars), risk_l)


# ---------------------------------------------------------------------------
# events_acf
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7


def daily_counts(ev: DataFrame) -> DataFrame:
    """(day, count) reduction of an events frame — the sufficient
    statistic for the ACF audit. Counts are plain integer sums, so summed
    per-batch deltas reproduce the corpus series exactly and
    acf_from_daily serves identical numbers."""
    return ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").alias("c")
    )


def acf_from_daily(spark: SparkSession, daily: DataFrame,
                   max_lag: int = ACF_MAX_LAG) -> DataFrame:
    """The lag-correlation table from a (d, c) daily-count frame — the
    shape events_acf returns, computed by this one kernel. The calendar
    span derives from the daily frame itself (min/max day == min/max
    event-ts date, so zero-count edge days cannot exist in either
    path), keeping the whole computation on the post-aggregation
    frame — one corpus pass total for the batch operator."""
    # r13 perf: daily feeds the span agg AND the spine join, and the
    # zero-filled series feeds both lag-join sides — pin both so the
    # corpus reduction and the fill run once (session.pin; the frames
    # are calendar-bounded)
    daily = pin(daily)
    span = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = span.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    filled = pin(
        spine.join(daily, "d", "left")
        .select("d", F.coalesce("c", F.lit(0)).alias("c"))
    )
    lags = spark.range(1, int(max_lag) + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    # decimal(28,0) inputs so every sufficient sum (sum adds 10 digits
    # of precision, capped at 38) and every product (28+28 caps at 38)
    # genuinely lands on decimal(38,0) — the 128-bit headroom the
    # operator docstring claims, matching the oracle's HUGEINT
    dec = "decimal(28,0)"
    left = (
        filled.crossJoin(F.broadcast(lags))
        .select(
            "lag",
            F.date_add("d", F.col("lag")).alias("d2"),
            F.col("c").cast(dec).alias("x"),
        )
    )
    right = filled.select(
        F.col("d").alias("d2"), F.col("c").cast(dec).alias("y")
    )
    s = (
        left.join(F.broadcast(right), "d2")
        .groupBy("lag")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    nd = F.col("n").cast(dec)
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        "lag",
        F.col("n").cast("long").alias("n_pairs"),
        F.round(num / F.sqrt(denx * deny), 6).alias("acf"),
    ).orderBy("lag")


def events_acf(spark: SparkSession, sf_dir: str,
               max_lag: int = ACF_MAX_LAG) -> DataFrame:
    """Sample autocorrelation of the daily event-count series at lags
    1..``max_lag`` — "is traffic weekly-periodic" in one table. The
    series is the zero-filled calendar of daily counts over the full
    [min(ts), max(ts)] span (a gap is a real 0, not a dropped pair),
    and each lag's statistic is the Pearson correlation of the
    (c_t, c_{t+lag}) pairs.

    Exactness: the daily counts are cast to decimal(28,0) so the five
    sufficient sums all accumulate as decimal(38,0) integers (sum adds
    10 digits of precision and products cap at 38 — both land exactly
    on 38) — order-independent, with headroom for a 1e9-events/day
    series squared over years (sxx ~ 1e24 << 1e38; the oracle's
    HUGEINT matches) — and only the final ratio is a double, computed
    by one identical expression in both engines.

    Plan: ONE fact scan total — the corpus partial-aggregates to
    daily counts (span-sized, trivially small even at 100 TB) and
    everything downstream (span, spine, lag fan-out, self-join) runs
    in acf_from_daily on that post-aggregation frame over broadcast
    joins. No window is needed at all.
    """
    return acf_from_daily(
        spark, daily_counts(_t(spark, sf_dir, "events")), max_lag
    )


# ---------------------------------------------------------------------------
# docs_ks_source_drift
# ---------------------------------------------------------------------------


def ks_counts(d: DataFrame) -> DataFrame:
    """(source, n_chars, count) reduction of a documents frame — the
    sufficient statistic for the KS drift audit. Counts are plain
    integer sums, so summed per-batch deltas reproduce the corpus counts
    exactly and ks_from_counts serves identical numbers."""
    return (
        d.groupBy("source", F.col("n_chars").alias("x"))
        .agg(F.count("*").alias("c"))
    )


def ks_from_counts(cnt: DataFrame) -> DataFrame:
    """The pairwise KS table from a (source, x, c) counts frame — the
    shape docs_ks_source_drift returns, computed by this one
    kernel."""
    # r13 perf: cnt feeds the grid axes AND the ECDF join, srcs three
    # consumers, and the ECDF both self-join legs — pin them so the
    # corpus reduction and the grid window run once (session.pin; all
    # frames are |sources| x distinct-lengths bounded)
    cnt = pin(cnt)
    xs = cnt.select("x").distinct()
    srcs = pin(cnt.groupBy("source").agg(F.sum("c").alias("n")))
    grid = xs.crossJoin(F.broadcast(srcs.select("source")))
    w = (
        Window.partitionBy("source").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dec = "decimal(19,0)"
    ecdf = pin(
        grid.join(cnt, ["source", "x"], "left")
        .select(
            "source", "x", F.coalesce("c", F.lit(0)).alias("c")
        )
        .withColumn("cum", F.sum("c").over(w).cast(dec))
    )
    a = ecdf.select(
        F.col("source").alias("source_a"), "x", F.col("cum").alias("cum_a")
    )
    b = ecdf.select(
        F.col("source").alias("source_b"), "x", F.col("cum").alias("cum_b")
    )
    na = srcs.select(
        F.col("source").alias("source_a"), F.col("n").cast(dec).alias("n_a")
    )
    nb = srcs.select(
        F.col("source").alias("source_b"), F.col("n").cast(dec).alias("n_b")
    )
    pairs = (
        a.join(b, "x")
        .where(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a", "source_b", "n_a", "n_b",
            F.abs(
                F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
            ).alias("dnum"),
        )
    )
    den = (F.col("n_a") * F.col("n_b")).cast("double")
    ks_d = F.col("d_num").cast("double") / den
    scale = F.sqrt(
        den / (F.col("n_a") + F.col("n_b")).cast("double")
    )
    return (
        pairs.groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(F.max("dnum").alias("d_num"))
        .select(
            "source_a", "source_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(ks_d, 6).alias("ks_d"),
            F.round(ks_d * scale, 6).alias("ks_scaled"),
        )
        .orderBy("source_a", "source_b")
    )


def docs_ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between every pair of
    sources on the document-length (n_chars) distribution — the drift
    monitor a corpus-mixing pipeline runs when a new crawl lands: a
    large D means the new source's length profile differs from an
    incumbent's, so mixing weights and length filters need a second
    look.

    D = max over x of |F_a(x) − F_b(x)| evaluated on the union grid of
    observed lengths, carried EXACTLY as the integer cross-product
    max|cum_a·n_b − cum_b·n_a| (decimal(38,0) headroom — 1e11 docs per
    source still fits) and divided once at the end; ``ks_scaled`` is
    the classic D·sqrt(n_a·n_b/(n_a+n_b)) significance scaling, again
    one shared double expression over exact integers.

    Plan: ONE corpus scan reduces to (source, n_chars) counts —
    bounded by |sources| x distinct lengths, metadata-sized at any
    row count. The ECDF is a running sum per source over that tiny
    grid (one window on a post-aggregation frame), the pair fan-out a
    self-join on the grid key, and both per-source totals broadcast.
    """
    return ks_from_counts(ks_counts(_t(spark, sf_dir, "documents")))


def ad_from_counts(cnt: DataFrame) -> DataFrame:
    """Pairwise two-sample Anderson–Darling statistics from the SAME
    (source, x, c) counts frame the KS audit reduces to — the
    tail-sensitive twin of ks_from_counts (KS weights the middle of
    the distribution; AD's 1/(B(N−B)) weight makes tail drift — the
    long-document or truncation regressions a length filter actually
    cares about — count at full strength). Because the sufficient
    statistic is shared, the streaming KS state maintainer serves
    this audit too, corpus-free.

    Tie-adjusted midrank form (Scholz–Stephens A²akN, k = 2): over
    the distinct pooled values j with pair counts fa, fb (l = fa+fb),
        A² = (N−1)/(N·n_a·n_b) · Σ_j l_j · I_j² / den_j
        I_j   = N·(2·cum_a − fa) − n_a·(2·(cum_a+cum_b) − l)
        den_j = (2Ba)·(2N − 2Ba) − N·l,  2Ba = 2·(cum_a+cum_b) − l
    carried in DOUBLED integer units so every component (2Ma, 2Ba, I,
    den) is an exact integer — I ≤ 2N² fits decimal(38,0) up to
    N ~ 1e18 — and only the per-value term l·I²/den is a double
    (the docs_zipf_slope precedent: double aggregation + round(4)
    holds the oracle hash; the terms are all non-negative and of
    comparable magnitude, so the sum is well-conditioned). Degenerate
    pairs (fewer than two distinct pooled values, where den = 0) are
    FILTERED, the mw_from_counts convention.

    Plan: identical shape to ks_from_counts — one window over the
    metadata-sized (source, x) grid, a self-join on the grid key,
    broadcast per-source totals, partial-aggregable final groupBy.
    """
    # r13 perf: the ks_from_counts pins, AD edition (same shape)
    cnt = pin(cnt)
    xs = cnt.select("x").distinct()
    srcs = pin(cnt.groupBy("source").agg(F.sum("c").alias("n")))
    grid = xs.crossJoin(F.broadcast(srcs.select("source")))
    w = (
        Window.partitionBy("source").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dec = "decimal(38,0)"
    ecdf = pin(
        grid.join(cnt, ["source", "x"], "left")
        .select(
            "source", "x", F.coalesce("c", F.lit(0)).alias("c")
        )
        .withColumn("cum", F.sum("c").over(w))
    )
    a = ecdf.select(
        F.col("source").alias("source_a"), "x",
        F.col("c").alias("fa"), F.col("cum").alias("cum_a"),
    )
    b = ecdf.select(
        F.col("source").alias("source_b"), "x",
        F.col("c").alias("fb"), F.col("cum").alias("cum_b"),
    )
    na = srcs.select(
        F.col("source").alias("source_a"), F.col("n").alias("n_a")
    )
    nb = srcs.select(
        F.col("source").alias("source_b"), F.col("n").alias("n_b")
    )
    l_ = (F.col("fa") + F.col("fb")).cast(dec)
    n_tot = (F.col("n_a") + F.col("n_b")).cast(dec)
    two_ma = (F.lit(2) * F.col("cum_a") - F.col("fa")).cast(dec)
    two_ba = (
        F.lit(2) * (F.col("cum_a") + F.col("cum_b"))
    ).cast(dec) - l_
    i_num = n_tot * two_ma - F.col("n_a").cast(dec) * two_ba
    den = two_ba * (F.lit(2) * n_tot - two_ba) - n_tot * l_
    # den = 0 only on a pair's single pooled value (l = N), where the
    # numerator is identically 0 too and the whole pair is filtered by
    # n_values >= 2 below — guard the 0/0 so ANSI mode doesn't raise
    # during aggregation (oracle mirrors the CASE)
    term = F.when(
        den != F.lit(0),
        l_.cast("double") * i_num.cast("double") * i_num.cast("double")
        / den.cast("double"),
    ).otherwise(F.lit(0.0))
    pairs = (
        a.join(b, "x")
        .where(F.col("source_a") < F.col("source_b"))
        .where(F.col("fa") + F.col("fb") > 0)
        .join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a", "source_b", "n_a", "n_b",
            term.alias("term"),
        )
    )
    nad = F.col("n_a").cast("double")
    nbd = F.col("n_b").cast("double")
    nd = nad + nbd
    a2 = (nd - F.lit(1.0)) / (nd * nad * nbd) * F.col("s")
    return (
        pairs.groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(F.sum("term").alias("s"),
             F.count("*").alias("n_values"))
        .where(F.col("n_values") >= 2)
        .select(
            "source_a", "source_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_values").cast("long").alias("n_values"),
            F.round(a2, 4).alias("ad_a2"),
        )
        .orderBy("source_a", "source_b")
    )


def docs_ad_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson–Darling statistic between every pair of
    sources on the document-length (n_chars) distribution — the
    tail-weighted twin of docs_ks_source_drift: KS's max-gap statistic
    is blind to drift concentrated in the distribution's tails, while
    AD's 1/(B(N−B)) weighting is exactly where truncation bugs and
    long-document contamination live. Run both; disagreement (low KS,
    high AD) localizes the drift to the tails.

    Semantics, exactness and plan shape: see ad_from_counts — the
    corpus is touched by ONE partial-agg scan to (source, n_chars)
    counts (the ks_counts reduction, shared with the KS audit and its
    streaming state), and everything pairwise runs on that
    metadata-sized grid.

    Registered in round 12 (all eight staged operators at once,
    per the r11 verdict); oracle parity-validated while staged."""
    return ad_from_counts(ks_counts(_t(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# events_benford
# ---------------------------------------------------------------------------

# log10(1 + 1/d) for d = 1..9 — computed ONCE here; the SQL oracle
# embeds repr() of these exact doubles so both engines share bits.
BENFORD_P = tuple(math.log10(1.0 + 1.0 / d) for d in range(1, 10))


def events_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit audit of positive event values against
    Benford's law — the classic fabricated-data / instrumentation-bug
    screen for a metrics table. One row per digit 1..9 with the
    observed count, the Benford expectation n·log10(1+1/d), and the
    per-digit chi-squared contribution (the orders_priority_chi2
    convention: consumers sum the column for the test statistic; no
    float total whose addend order could differ is baked in).

    Values quantize to exact integer cents first (the money.cents
    convention shared with every revenue operator), the digit is the
    first character of the decimal rendering — pure integer/string
    logic, no float log extraction — and zero/negative values are
    excluded (Benford applies to positive magnitudes).

    Plan: ONE fact scan partial-aggregates to at most 9 digit counts;
    the digit spine (1..9) and the 1-row total join back broadcast, so
    absent digits still report observed=0 with their full expectation.
    """
    return benford_from_counts(
        spark, benford_digit_counts(_t(spark, sf_dir, "events"))
    )


def benford_digit_counts(ev: DataFrame) -> DataFrame:
    """(digit, observed) reduction of an events frame — the sufficient
    statistic for the Benford audit (summed per-batch deltas reproduce the
    corpus digit counts exactly, so benford_from_counts serves
    identical numbers)."""
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        ev.select(cents.alias("cents"))
        .where(F.col("cents") > 0)
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("observed"))
    )


def benford_from_counts(spark: SparkSession,
                        counts: DataFrame) -> DataFrame:
    """The Benford audit table from a (digit, observed) counts frame —
    the shape events_benford returns, computed by this one kernel."""
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    p = F.element_at(
        F.array(*[F.lit(v) for v in BENFORD_P]), F.col("digit")
    )
    # r13 perf: counts feeds the total AND the spine join — pin so
    # the corpus reduction behind the 9-row frame runs once
    counts = pin(counts)
    tot = counts.agg(F.sum("observed").alias("nn"))
    obs = F.coalesce(F.col("observed"), F.lit(0)).cast("long")
    exp = F.col("nn").cast("double") * p
    return (
        spine.join(F.broadcast(counts), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            obs.alias("observed"),
            F.round(exp, 4).alias("expected"),
            F.round(
                (obs.cast("double") - exp) * (obs.cast("double") - exp) / exp,
                6,
            ).alias("chi2_contrib"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# orders_survival_km
# ---------------------------------------------------------------------------

# (span-days x 2 event flags) — ~7 calendar years is ~5.1k
# rows, so 16384 is pure headroom while still loudly bounded
KM_MAX_TIMES = 16384


def km_curve(rows: list) -> list:
    """The Kaplan–Meier product-limit recurrence as a pure function of
    (t, is_event, count) triples — exact integer micro-units (ppm),
    half-up per step, so the batch operator and the oracle's recursive
    CTE replay it bit-for-bit (the ses_backtest convention).

    Standard KM conventions: subjects censored AT an event time are
    still at risk for that event (events precede censoring on ties);
    censoring times that host no event emit no row (they only shrink
    the next n_risk). Returns (t, n_risk, d_events, survival_ppm)
    per event time, ascending.
    """
    total = sum(c for _, _, c in rows)
    at_t: dict = {}
    d_t: dict = {}
    for t, ev, c in rows:
        at_t[t] = at_t.get(t, 0) + c
        if ev:
            d_t[t] = d_t.get(t, 0) + c
    s = 1_000_000
    removed = 0
    out = []
    for t in sorted(at_t):
        n_risk = total - removed
        d = d_t.get(t, 0)
        if d > 0:
            s = (2 * s * (n_risk - d) + n_risk) // (2 * n_risk)
            out.append((t, n_risk, d, s))
        removed += at_t[t]
    return out


def orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of order fulfilment time — "what
    fraction of orders is still open after t days", the right-censored
    estimate a naive average of finished orders gets wrong (it
    silently drops every order still open, biasing fulfilment time
    low). Subjects are orders; the event is completion (status 'F',
    time = days from order date to the LAST line-item ship date);
    open orders ('O'/'P', or F-rows with no line items) are CENSORED
    at the observation horizon (the global max ship date) — they
    stop being at risk without counting as events, exactly what the
    product-limit estimator is for.

    S(t) is carried as exact integer micro-units with the family's
    sign-aware half-up per step (s ← halfup(s·(n−d)/n)), so the whole
    curve replays bit-for-bit in the oracle's recursive CTE and in
    the pure-Python km_curve kernel.

    Plan: one lineitem scan partial-aggregates to per-order last-ship
    dates, one shuffle equi-join against orders, then everything
    reduces to (duration, is_event) counts — bounded by the CALENDAR
    (distinct day counts), not the corpus, so the driver-side
    recurrence stays O(span) at 100 TB under the loud KM_MAX_TIMES
    cap (the collect_months convention).
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    done = lastship_counts(li)
    return km_table(spark, o, done)


def lastship_counts(li: DataFrame) -> DataFrame:
    """(l_orderkey, last_ship) reduction of a lineitem frame — the
    sufficient statistic for the survival audit. Per-order max ship date is
    an ABSORBING max-merge (max of per-batch maxes = corpus max, and
    re-merging a replayed batch is a no-op), so km_table over merged
    state serves identical numbers."""
    return li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("last_ship")
    )


def km_table(spark: SparkSession, o: DataFrame,
             done: DataFrame) -> DataFrame:
    """The survival table from an orders frame + a per-order
    (l_orderkey, last_ship) frame — the shape orders_survival_km
    returns, computed by this one kernel. The observation horizon is
    max(last_ship) over the per-order frame (equal to the global max
    ship date: the max of per-order maxes)."""
    # r13 perf: done feeds the horizon agg AND the subject join — pin
    # so the lineitem reduction behind it runs once (session.pin)
    done = pin(done)
    gmax = done.agg(F.max("last_ship").alias("horizon"))
    ev = (F.col("o_orderstatus") == "F") & F.col("last_ship").isNotNull()
    sub = (
        o.join(done, o.o_orderkey == done.l_orderkey, "left")
        .crossJoin(F.broadcast(gmax))
        .select(
            F.greatest(
                F.lit(0),
                F.when(ev, F.datediff("last_ship",
                                      F.to_date("o_orderdate")))
                .otherwise(F.datediff("horizon",
                                      F.to_date("o_orderdate"))),
            ).alias("t"),
            ev.alias("ev"),
        )
    )
    dur = sub.groupBy("t", "ev").agg(F.count("*").alias("c"))
    rows = dur.limit(KM_MAX_TIMES + 1).collect()
    if len(rows) > KM_MAX_TIMES:
        raise ValueError(
            f"orders_survival_km: > {KM_MAX_TIMES} (duration, event) "
            f"rows; the driver-side recurrence is for calendar-bounded "
            f"duration grids only"
        )
    curve = km_curve(
        [(int(r["t"]), bool(r["ev"]), int(r["c"])) for r in rows]
    )
    return spark.createDataFrame(
        [(int(t), int(n), int(d), int(s)) for t, n, d, s in curve],
        "t_days long, n_risk long, d_events long, survival_ppm long",
    ).orderBy("t_days")


# the grouped grid multiplies the calendar bound by |strata|; 8x the
# flat cap keeps it loud while covering low-cardinality group columns
# (an order-priority/flag-like stratum) over ~7 calendar years
KM_GROUPED_MAX = KM_MAX_TIMES * 8


def km_table_grouped(spark: SparkSession, o: DataFrame, done: DataFrame,
                     group_col: str) -> DataFrame:
    """Stratified product-limit curves: one Kaplan–Meier table per
    value of ``group_col``, all censored at the SAME global
    observation horizon (max last_ship over the whole per-order frame
    — the horizon is when data collection stopped, not a property of
    the stratum, so curves stay comparable across groups). Each
    stratum's rows are exactly what km_table would produce on that
    stratum's orders alone (pinned in tests), so the grouped form is
    the per-group identity of the same kernel."""
    done = pin(done)  # r13 perf: the km_table pin, grouped edition
    gmax = done.agg(F.max("last_ship").alias("horizon"))
    ev = (F.col("o_orderstatus") == "F") & F.col("last_ship").isNotNull()
    sub = (
        o.join(done, o.o_orderkey == done.l_orderkey, "left")
        .crossJoin(F.broadcast(gmax))
        .select(
            F.col(group_col).alias("g"),
            F.greatest(
                F.lit(0),
                F.when(ev, F.datediff("last_ship",
                                      F.to_date("o_orderdate")))
                .otherwise(F.datediff("horizon",
                                      F.to_date("o_orderdate"))),
            ).alias("t"),
            ev.alias("ev"),
        )
    )
    dur = sub.groupBy("g", "t", "ev").agg(F.count("*").alias("c"))
    rows = dur.limit(KM_GROUPED_MAX + 1).collect()
    if len(rows) > KM_GROUPED_MAX:
        raise ValueError(
            f"km_table_grouped: > {KM_GROUPED_MAX} (group, duration, "
            f"event) rows; the driver-side recurrence is for "
            f"calendar-bounded duration grids over low-cardinality "
            f"strata only"
        )
    by_g: dict = {}
    for r in rows:
        by_g.setdefault(r["g"], []).append(
            (int(r["t"]), bool(r["ev"]), int(r["c"]))
        )
    out = []
    # None-safe stratum order (a NULL group value sorts last instead
    # of raising TypeError against the non-null keys)
    for g in sorted(by_g, key=lambda k: (k is None, k)):
        out.extend(
            (g, int(t), int(n), int(d), int(s))
            for t, n, d, s in km_curve(by_g[g])
        )
    # the group column keeps the INPUT frame's type (an int stratum
    # stays int) instead of being hardcoded to string
    schema = T.StructType([
        T.StructField(group_col, o.schema[group_col].dataType),
        T.StructField("t_days", T.LongType()),
        T.StructField("n_risk", T.LongType()),
        T.StructField("d_events", T.LongType()),
        T.StructField("survival_ppm", T.LongType()),
    ])
    return spark.createDataFrame(out, schema).orderBy(
        group_col, "t_days"
    )


def orders_survival_km_by_priority(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Stratified fulfilment survival: one Kaplan–Meier curve per
    order priority — "do urgent orders actually complete faster", the
    comparison the flat orders_survival_km cannot answer. Same event/
    censoring semantics and exact integer micro-unit recurrence; all
    strata share the global observation horizon so the curves are
    directly comparable.

    Plan: identical to orders_survival_km (one lineitem reduction +
    one equi-join) with the stratum column carried through the
    calendar-bounded grid — |priorities| x span rows under the same
    loud cap, then |priorities| independent driver recurrences.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return km_table_grouped(
        spark, o, lastship_counts(li), "o_orderpriority"
    )


# ---------------------------------------------------------------------------
# events_mannwhitney
# ---------------------------------------------------------------------------


def mw_counts(e: DataFrame) -> DataFrame:
    """(event_type, value-cents, count) reduction of an events frame —
    the sufficient statistic for the rank-sum test (ranks depend only
    on the multiset of values). Counts are plain integer sums, so
    summed per-batch deltas reproduce the corpus counts exactly and
    mw_from_counts serves identical statistics."""
    from ..functions import money as M

    return (
        e.select("event_type", M.cents("value").alias("vc"))
        .groupBy("event_type", "vc")
        .agg(F.count("*").alias("c"))
    )


# the rank window runs per (type_a, type_b) pair in ONE task over
# that pair's distinct-value grid, so the grid — DISTINCT value-cents
# in the pair's union, NOT the corpus row count — must stay
# task-sized. 2^22 rows (~100 MB of (vc, ca, cb, cumb) state) sorts
# in seconds; money-like 2-dp values rarely exceed ~1e6 distinct
# cents, but a heavy-tailed corpus at 100 TB could, so the cap fails
# LOUDLY in-plan instead of letting one straggler task own the job
MW_MAX_GRID = 1 << 22


def mw_from_counts(cnt: DataFrame, max_grid: int = MW_MAX_GRID) -> DataFrame:
    """Pairwise Mann–Whitney U (rank-sum) statistics from a
    (event_type, vc, c) counts frame — the nonparametric sibling of
    welch_stats for value distributions that are skewed or
    heavy-tailed, where the t-test's mean comparison misleads.

    Exactness: tied values get average ranks, carried in DOUBLED
    integer units (2·rank = 2·cum_before + t + 1 — always an
    integer), so the rank sum R1, U1 and the tie-correction term
    Σ(t³−t) are EXACT decimal(38,0)/HUGEINT integers; only the final
    normal-approximation z (tie-corrected variance) is a double, one
    identical expression in both engines. Degenerate pairs (either
    side empty, or every value tied so the variance is 0) are
    FILTERED, the welch_stats convention.

    Plan: everything here runs on the post-aggregation counts frame —
    the pair fan-out explodes each (type, value) row against the tiny
    broadcast type list, one window ranks per pair, and the per-pair
    reduction is a partial-aggregable groupBy. Measured (status-API
    inputBytes): the corpus is read exactly TWICE — mw_counts' scan
    (shared by the fan-out AND the ``max_grid`` guard via
    ReusedExchange, asserted by a plan test) plus the skinny
    [event_type]-only column read behind the broadcast type list —
    the guard itself adds no scan. Cardinality
    posture: the per-pair grid is DISTINCT value-cents, not corpus
    rows; above ``max_grid`` the plan raises loudly (see MW_MAX_GRID)
    instead of letting one straggler window task own the job.
    """
    # r13 perf: cnt feeds the type list AND both fan-out legs, and
    # the per-pair grid feeds the guard count AND the guarded rank —
    # pin both so the corpus reduction and the pair fan-out run once
    # (session.pin; both frames are distinct-value-cents bounded)
    cnt = pin(cnt)
    types = cnt.select(F.col("event_type").alias("t2")).distinct()
    dec = "decimal(19,0)"
    left = (
        cnt.join(
            F.broadcast(types), F.col("event_type") < F.col("t2")
        )
        .select(
            F.col("event_type").alias("ta"), F.col("t2").alias("tb"),
            "vc", F.col("c").alias("ca"), F.lit(0).alias("cb"),
        )
    )
    right = (
        cnt.join(
            F.broadcast(types), F.col("t2") < F.col("event_type")
        )
        .select(
            F.col("t2").alias("ta"), F.col("event_type").alias("tb"),
            "vc", F.lit(0).alias("ca"), F.col("c").alias("cb"),
        )
    )
    g = pin(
        left.unionByName(right)
        .groupBy("ta", "tb", "vc")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    # loud cardinality posture (KM_MAX_TIMES convention, in-plan): the
    # per-pair grid count rides the PINNED pair grid (no extra corpus
    # scan), and a grid larger than max_grid raises at execution time
    # — before the single-task rank window sorts it — naming the
    # remediation (coarsen mw_counts' quantization, e.g. whole
    # currency units instead of cents, or pre-filter event types)
    grid = g.groupBy("ta", "tb").agg(F.count("*").alias("_grid"))
    g = (
        g.join(F.broadcast(grid), ["ta", "tb"])
        .withColumn(
            "ca",
            F.when(F.col("_grid") <= F.lit(int(max_grid)), F.col("ca"))
            .otherwise(F.raise_error(F.concat(
                F.lit("mw_from_counts: pair ("), F.col("ta"),
                F.lit(", "), F.col("tb"),
                F.lit(f") has > {int(max_grid)} distinct value-cents; "
                      "the per-pair rank window is single-task — "
                      "coarsen the value quantization in mw_counts "
                      "(e.g. whole currency units) or pre-filter "
                      "event types")
            )).cast(g.schema["ca"].dataType)),
        )
        .drop("_grid")
    )
    wbefore = (
        Window.partitionBy("ta", "tb").orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = g.select(
        "ta", "tb",
        F.col("ca").cast(dec).alias("ca"),
        F.col("cb").cast(dec).alias("cb"),
        F.coalesce(
            F.sum(F.col("ca") + F.col("cb")).over(wbefore), F.lit(0)
        ).cast(dec).alias("cumb"),
    )
    t = F.col("ca") + F.col("cb")
    s = w.groupBy("ta", "tb").agg(
        F.sum("ca").alias("n1"),
        F.sum("cb").alias("n2"),
        F.sum(
            F.col("ca") * (F.lit(2) * F.col("cumb") + t + F.lit(1))
        ).alias("r1d"),
        F.sum(t * t * t - t).alias("tie"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    u1d = F.col("r1d") - F.col("n1") * (F.col("n1") + F.lit(1))
    numd = (u1d - F.col("n1") * F.col("n2")).cast("double")
    var = (n1d * n2d / F.lit(12.0)) * (
        (nd + F.lit(1.0))
        - F.col("tie").cast("double") / (nd * (nd - F.lit(1.0)))
    )
    return (
        s.where((F.col("n1") >= 1) & (F.col("n2") >= 1))
        .select(
            F.col("ta").alias("type_a"), F.col("tb").alias("type_b"),
            F.col("n1").cast("long").alias("n_a"),
            F.col("n2").cast("long").alias("n_b"),
            (u1d.cast("double") / F.lit(2.0)).alias("u_stat"),
            F.round(
                numd / (F.lit(2.0) * F.sqrt(var)), 4
            ).alias("z_stat"),
            var.alias("_var"),
        )
        .where(F.col("_var") > 0)
        .drop("_var")
        .orderBy("type_a", "type_b")
    )


def events_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U test between every ordered pair of event types'
    ``value`` distributions — the rank-based "is one distribution
    stochastically larger" answer that stays valid where
    events_welch_ttest's mean comparison is distorted by skew or
    outliers. U, the exact half-integer statistic; z, the
    tie-corrected normal approximation.

    Plan: ONE partial-aggregable scan reduces the corpus to
    (type, value-cents) counts (mw_counts); everything pairwise —
    rank window included — runs on that bounded frame
    (mw_from_counts). The counts are sum-mergeable, like the Welch
    moments."""
    return mw_from_counts(mw_counts(_t(spark, sf_dir, "events")))


# ---------------------------------------------------------------------------
# events_trend_theilsen
# ---------------------------------------------------------------------------

# the pair fan-out is span_days^2 / 2 rows; ~11 years of daily data is
# ~8M pairs — still a post-aggregation frame, but loud like KM/MW
TS_MAX_DAYS = 4096


def theilsen_from_daily(spark: SparkSession,
                        daily: DataFrame) -> DataFrame:
    """Theil–Sen robust trend of a (d, c) daily-count frame — the
    median of all pairwise slopes (c_j − c_i)/(j − i), the
    outlier-immune answer to "is traffic growing" that OLS
    (lineitem_ols_elasticity's kernel) cannot give: a single
    spike/outage day moves the mean-based slope arbitrarily but moves
    the MEDIAN of ~n²/2 slopes not at all (up to 29% contamination).

    Exactness: the calendar is zero-filled (a gap day is a real 0,
    the ACF convention); each pair's slope is the exact integer
    ratio Δcount/Δdays rounded HALF-UP to 1e-6 (one integer hup in
    both engines — no raw double division feeds the sort), and the
    median is constructed manually: sort the rounded slopes, average
    the middle two under even count with one shared (a+b)/2 double
    expression — no engine's percentile-interpolation quirks cross
    the boundary. The intercept column is median(c) − slope·median(d
    index), both medians built the same way.

    Plan: ONE corpus scan partial-aggregates to daily counts; the
    zero-filled spine, the pair self-join (span² — loud TS_MAX_DAYS
    cap via an in-plan guard), the sort and the middle-row pick all
    run on post-aggregation frames. The daily counts are the SAME
    sufficient statistic the ACF audit computes (acf_from_daily)."""
    # r13 perf pins (session.pin): daily feeds span + fill, filled
    # feeds the cap count + the guard, the guarded series feeds both
    # pair legs, and the span^2/2 slope frame feeds the rank window
    # AND the 1-row count — pinning `pairs` halves the quadratic
    # fan-out, the dominant term
    daily = pin(daily)
    span = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = span.select(
        F.explode(F.sequence("d0", "d1")).alias("d"), "d0"
    )
    filled = pin(
        spine.join(daily, "d", "left")
        .select(
            F.datediff("d", "d0").cast("long").alias("i"),
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    # loud span cap, in-plan (the MW_MAX_GRID convention): raise
    # before the quadratic fan-out if the calendar exceeds the cap
    ndays = filled.groupBy().agg(F.count("*").alias("_nd"))
    guarded = (
        filled.crossJoin(F.broadcast(ndays))
        .withColumn(
            "c",
            F.when(F.col("_nd") <= F.lit(TS_MAX_DAYS), F.col("c"))
            .otherwise(F.raise_error(F.concat(
                F.lit("events_trend_theilsen: calendar span "),
                F.col("_nd").cast("string"),
                F.lit(f" days > {TS_MAX_DAYS}; the pairwise-slope "
                      "frame is span^2 — aggregate to weeks/months "
                      "or window the input")
            )).cast("long")),
        )
        .drop("_nd")
    )
    guarded = pin(guarded)
    a = guarded.select(F.col("i").alias("ia"), F.col("c").alias("ca"))
    b = guarded.select(F.col("i").alias("ib"), F.col("c").alias("cb"))
    # slope in exact 1e-6 units, sign-aware half-up: one INTEGER (div)
    # expression both engines share — no raw double division feeds
    # the sort
    slope_e6 = F.expr(
        "CASE WHEN cb >= ca THEN"
        " (2 * (cb - ca) * 1000000 + (ib - ia)) div (2 * (ib - ia))"
        " ELSE"
        " -((2 * (ca - cb) * 1000000 + (ib - ia)) div (2 * (ib - ia)))"
        " END"
    ).cast("long")
    pairs = pin(
        a.join(b, F.col("ia") < F.col("ib"))
        .select(slope_e6.alias("s_e6"))
    )
    w = Window.orderBy("s_e6")
    ranked = pairs.select(
        "s_e6", F.row_number().over(w).alias("rn")
    )
    n = pairs.groupBy().agg(F.count("*").alias("n"))
    # rows where rn in {floor((n+1)/2), floor(n/2)+1} — 1 row when n
    # odd, 2 when even; the median is their mean (identical values
    # when odd)
    mid = (
        ranked.crossJoin(F.broadcast(n))
        .where(
            (F.col("rn") == F.expr("(n + 1) div 2"))
            | (F.col("rn") == F.expr("n div 2 + 1"))
        )
    )
    return (
        mid.groupBy("n")
        .agg(F.avg(F.col("s_e6").cast("double")).alias("med_e6"))
        .select(
            F.col("n").cast("long").alias("n_pairs"),
            F.round(F.col("med_e6") / F.lit(1_000_000.0), 6)
            .alias("sen_slope_per_day"),
        )
    )


def events_trend_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily event counts — see
    theilsen_from_daily for semantics, exactness and the plan shape.

    Registered in round 12 (all eight staged operators at once,
    per the r11 verdict); oracle parity-validated while staged."""
    return theilsen_from_daily(
        spark, daily_counts(_t(spark, sf_dir, "events"))
    )
