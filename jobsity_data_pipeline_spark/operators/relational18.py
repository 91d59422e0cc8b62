"""Round-13 wave — five audit statistics, each the MISSING MEMBER of
an existing family, each riding an EXISTING sufficient statistic
(zero new corpus reductions — the round-11/12 discipline):

- events_cliffs_delta: Cliff's delta effect size between every event
  type pair's value distributions — the EFFECT-SIZE seat of the rank
  family that Hodges–Lehmann could not fill at bounded cost (the r12
  deferral: HL's pairwise-difference grid is quadratic in the value
  DOMAIN with no sufficient-statistic shortcut; Cliff's delta is a
  pure function of the SAME per-pair value-count grid Mann–Whitney
  already ranks, so it costs one more window over an already-bounded
  frame). MW's z says "is the shift real"; delta says "how big is
  it" on a [-1, 1] scale that is N-free, with the published
  Romano-et-al. magnitude bands.
- docs_gk_lambda: Goodman–Kruskal lambda — the PREDICTIVE member of
  the lang/source association family (chi-squared tests existence,
  Cramér's V sizes it, Theil's U measures it in information units;
  lambda answers the operational question "how much does knowing the
  source reduce the ERROR RATE of guessing the language" — the
  proportional-reduction-in-error a modal-prediction router actually
  achieves), over the SAME quasi-identifier class state.
- events_runs_test: Wald–Wolfowitz runs test on the daily event-count
  calendar vs its median — the RANDOMNESS member of the daily-series
  family (ACF/Spearman-ACF measure periodicity, MK/Theil–Sen measure
  monotone trend; the runs test detects CLUSTERING of high/low days —
  regime switches, deploy waves, batch backfills — that none of the
  four flag), over the SAME daily-count state.
- docs_cvm_source_drift: two-sample Cramér–von Mises — the QUADRATIC
  member of the drift family (KS reports the worst single ECDF gap,
  AD tail-weights the gaps, JS measures information loss; CvM
  integrates the SQUARED gap over the whole distribution, the
  standard middle ground that catches broad small shifts KS's single
  max misses without AD's tail emphasis), over the SAME
  (source, n_chars) count state.
- orders_survival_rmst: restricted mean survival time — the SCALAR
  SUMMARY member of the survival family (the KM curve is a table,
  the log-rank a comparison, the NA hazard a rate; RMST = the area
  under the KM curve up to the last event time is THE single
  "expected fulfilment days, censoring-adjusted" number a dashboard
  quotes), a pure function of the KM curve the family already
  computes.

Every operator splits into the established SUFFICIENT-STATISTIC /
SERVING-KERNEL form: one corpus reduction to a mergeable statistic,
then a kernel that reads only that statistic.

Reference parity note: the reference pipeline (119 lines of Postgres
SQL/loader, src/sqls/create_objects.sql) has no statistics surface;
these extend the warehouse exactly as relational13/15/16/17 did.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import ensure_parallelism, pin, read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return ensure_parallelism(spark, read_table(spark, sf_dir, name))


# ---------------------------------------------------------------------------
# events_cliffs_delta
# ---------------------------------------------------------------------------

# Romano, Kromrey, Coraggio & Skowronek (2006) magnitude bands for
# |delta| — half-open exactly as compared below: negligible < 0.147 <=
# small < 0.33 <= medium < 0.474 <= large. Compared on the ROUNDED
# delta so the verdict is a pure function of the published column
# value (identical across engines by parity of that value).
CLIFFS_NEGLIGIBLE = 0.147
CLIFFS_SMALL = 0.33
CLIFFS_MEDIUM = 0.474


def cliffs_from_counts(cnt: DataFrame,
                       max_grid: int | None = None) -> DataFrame:
    """Pairwise Cliff's delta from the SAME (event_type, vc, c)
    value-count frame the Mann–Whitney/Kruskal–Wallis tests rank
    (mw_counts — one sufficient statistic, three rank audits): for
    each ordered type pair, delta = (#(a > b) − #(a < b)) / (n_a·n_b)
    over all cross pairs — the probability a random a-value exceeds a
    random b-value minus the converse. MW's z grows with N (at corpus
    scale immaterial shifts become "significant"); delta is the
    N-FREE effect size, the seat the r12 Hodges–Lehmann evaluation
    left open because HL's pairwise-difference grid has no bounded
    sufficient-statistic form — delta does: #(a > b) =
    Σ_v c_a(v) · (Σ_{w<v} c_b(w)), one cumulative window over the
    per-pair distinct-value grid MW already sorts.

    Exactness: the greater/equal pair counts and n_a·n_b are exact
    decimal(38,0) integers (counts are longs, cross-pair counts reach
    n_a·n_b which overflows BIGINT at web scale — 128-bit carries
    them); only the final delta ratio is a double, ONE shared
    expression in both engines, rounded 6 dp; the magnitude verdict
    is a CASE on the rounded value with the published Romano et al.
    thresholds as identical literals (half-open bands, the Benford
    MAD convention).

    Plan: identical shape to mw_from_counts — everything pairwise
    runs on the post-aggregation counts frame (pair fan-out against
    the broadcast type list, ONE cumulative window per pair over its
    distinct-value grid, partial-aggregable final groupBy), under the
    SAME loud MW_MAX_GRID single-task-window cap naming the same
    remediation. The fan-out scaffolding intentionally repeats
    mw_from_counts' ~20 lines rather than refactoring a registered
    green kernel mid-round (the benford_mad_from_counts deferral
    precedent): the cumulative here is cb-only where MW's is pooled,
    so the shared extraction is not mechanical."""
    from .relational15 import MW_MAX_GRID

    mg = MW_MAX_GRID if max_grid is None else int(max_grid)
    dec = "decimal(19,0)"
    # r13 perf: the mw_from_counts pins, Cliff's-delta edition —
    # cnt feeds the type list and both fan-out legs, the pair grid
    # the guard count and the guarded window (session.pin)
    cnt = pin(cnt)
    types = cnt.select(F.col("event_type").alias("t2")).distinct()
    left = (
        cnt.join(F.broadcast(types), F.col("event_type") < F.col("t2"))
        .select(
            F.col("event_type").alias("ta"), F.col("t2").alias("tb"),
            "vc", F.col("c").alias("ca"), F.lit(0).alias("cb"),
        )
    )
    right = (
        cnt.join(F.broadcast(types), F.col("t2") < F.col("event_type"))
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
    grid = g.groupBy("ta", "tb").agg(F.count("*").alias("_grid"))
    g = (
        g.join(F.broadcast(grid), ["ta", "tb"])
        .withColumn(
            "ca",
            F.when(F.col("_grid") <= F.lit(mg), F.col("ca"))
            .otherwise(F.raise_error(F.concat(
                F.lit("cliffs_from_counts: pair ("), F.col("ta"),
                F.lit(", "), F.col("tb"),
                F.lit(f") has > {mg} distinct value-cents; "
                      "the per-pair cumulative window is single-task "
                      "— coarsen the value quantization in mw_counts "
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
        F.coalesce(F.sum("cb").over(wbefore), F.lit(0))
        .cast(dec).alias("cb_below"),
    )
    s = w.groupBy("ta", "tb").agg(
        F.sum("ca").alias("n1"),
        F.sum("cb").alias("n2"),
        F.sum(F.col("ca") * F.col("cb_below")).alias("gt"),
        F.sum(F.col("ca") * F.col("cb")).alias("eq"),
    )
    lt = F.col("n1") * F.col("n2") - F.col("gt") - F.col("eq")
    delta = F.round(
        (F.col("gt").cast("double") - lt.cast("double"))
        / (F.col("n1").cast("double") * F.col("n2").cast("double")),
        6,
    )
    out = (
        s.where((F.col("n1") >= 1) & (F.col("n2") >= 1))
        .select(
            F.col("ta").alias("type_a"), F.col("tb").alias("type_b"),
            F.col("n1").cast("long").alias("n_a"),
            F.col("n2").cast("long").alias("n_b"),
            delta.alias("cliffs_delta"),
        )
    )
    ad = F.abs(F.col("cliffs_delta"))
    band = (
        F.when(ad < F.lit(CLIFFS_NEGLIGIBLE), F.lit("negligible"))
        .when(ad < F.lit(CLIFFS_SMALL), F.lit("small"))
        .when(ad < F.lit(CLIFFS_MEDIUM), F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    return out.select(
        "type_a", "type_b", "n_a", "n_b", "cliffs_delta",
        band.alias("magnitude"),
    ).orderBy("type_a", "type_b")


def events_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta effect size between every ordered pair of event
    types' ``value`` distributions — "how big is the shift" on an
    N-free [-1, 1] scale, completing the rank family's effect-size
    seat (events_mannwhitney answers "is it real", this sizes it; the
    Hodges–Lehmann shift was evaluated and deferred in r12 precisely
    because it lacks this bounded sufficient-statistic form).

    Plan: ONE partial-aggregable scan reduces the corpus to
    (type, value-cents) counts (the shared mw_counts kernel);
    everything pairwise runs on that bounded frame
    (cliffs_from_counts). The counts are sum-mergeable, like MW/KW's."""
    from .relational15 import mw_counts

    return cliffs_from_counts(mw_counts(_t(spark, sf_dir, "events")))


# ---------------------------------------------------------------------------
# docs_gk_lambda
# ---------------------------------------------------------------------------


def gk_lambda_from_classes(classes: DataFrame) -> DataFrame:
    """Goodman–Kruskal lambda between document language and source
    from the SAME (lang, source, len_bucket, k) quasi-identifier
    class frame as k-anonymity/l-diversity/Cramér's V/Theil's U
    (kanon_classes — one sufficient statistic, FIVE audits):
    lambda(lang|source) = (Σ_s max_l n_sl − max_l n_l) /
    (N − max_l n_l) is the fraction of language-guessing ERRORS
    eliminated by knowing the source — the operational
    proportional-reduction-in-error of a modal-prediction router,
    where V sizes association abstractly and U measures it in
    information units. One summary row: corpus size, table shape,
    both directional lambdas and the symmetric form.

    NULL categories are excluded exactly as in cramers_from_classes /
    theilsu_from_classes (the r12 association posture — the three
    association audits agree on N; the privacy audits over the same
    state deliberately keep NULL-category documents).

    Exactness: every numerator and denominator is an EXACT integer
    (sums and maxes of class counts — no entropy, no doubles until
    the final ratio), so the only shared double expressions are the
    three guarded divisions, rounded 6 dp. Degenerate directions are
    guarded on the exact INTEGER shape (max_l n_l = N means one
    language holds the whole corpus: guessing it is already
    error-free and lambda is undefined → NULL; same for the converse;
    the symmetric lambda is NULL only when BOTH margins are
    degenerate) — the r13 Theil's U guard discipline: never gate a
    NULL on a floating-point cancellation.

    Plan: the classes frame is metadata-sized; every step — cells,
    per-margin maxes, the four 1-row reductions, the combine — is a
    broadcast re-aggregation; the corpus is touched only by the ONE
    scan that built the classes."""
    classes = classes.where(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    # r13 perf: the cell table feeds both marginals, both modal-max
    # reductions AND the total — pin it so the corpus reduction
    # behind it runs once (session.pin)
    cells = pin(
        classes.groupBy("lang", "source").agg(F.sum("k").alias("o"))
    )
    nl = cells.groupBy("lang").agg(F.sum("o").alias("n_l"))
    ns = cells.groupBy("source").agg(F.sum("o").alias("n_s"))
    # Σ over sources of the source's modal-language count (the router
    # that sees the source), and the blind modal-language count
    sum_s_max = (
        cells.groupBy("source").agg(F.max("o").alias("mx"))
        .agg(F.coalesce(F.sum("mx"), F.lit(0)).alias("ssm"))
    )
    sum_l_max = (
        cells.groupBy("lang").agg(F.max("o").alias("mx"))
        .agg(F.coalesce(F.sum("mx"), F.lit(0)).alias("slm"))
    )
    marg = nl.agg(
        F.coalesce(F.max("n_l"), F.lit(0)).alias("max_l"),
        F.count("*").alias("r"),
    )
    marg_s = ns.agg(
        F.coalesce(F.max("n_s"), F.lit(0)).alias("max_s"),
        F.count("*").alias("c"),
    )
    tot = cells.agg(F.coalesce(F.sum("o"), F.lit(0)).alias("nn"))
    j = (
        tot.crossJoin(F.broadcast(sum_s_max))
        .crossJoin(F.broadcast(sum_l_max))
        .crossJoin(F.broadcast(marg))
        .crossJoin(F.broadcast(marg_s))
    )
    nn = F.col("nn")
    lam_ls = F.when(
        nn > F.col("max_l"),
        (F.col("ssm") - F.col("max_l")).cast("double")
        / (nn - F.col("max_l")).cast("double"),
    ).otherwise(F.lit(None).cast("double"))
    lam_sl = F.when(
        nn > F.col("max_s"),
        (F.col("slm") - F.col("max_s")).cast("double")
        / (nn - F.col("max_s")).cast("double"),
    ).otherwise(F.lit(None).cast("double"))
    lam_sym = F.when(
        F.lit(2) * nn > F.col("max_l") + F.col("max_s"),
        (F.col("ssm") + F.col("slm") - F.col("max_l") - F.col("max_s"))
        .cast("double")
        / (F.lit(2) * nn - F.col("max_l") - F.col("max_s"))
        .cast("double"),
    ).otherwise(F.lit(None).cast("double"))
    return j.select(
        nn.cast("long").alias("n_docs"),
        F.col("r").cast("long").alias("n_langs"),
        F.col("c").cast("long").alias("n_sources"),
        F.round(lam_ls, 6).alias("lambda_lang_given_source"),
        F.round(lam_sl, 6).alias("lambda_source_given_lang"),
        F.round(lam_sym, 6).alias("lambda_symmetric"),
    )


def docs_gk_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman–Kruskal lambda between document language and source —
    the proportional reduction in language-guessing error from
    knowing the source, both directions plus the symmetric form; see
    gk_lambda_from_classes for semantics, exactness and plan shape.
    ONE corpus scan reduces to the quasi-identifier classes
    (kanon_classes — the sufficient statistic SHARED with
    docs_k_anonymity/docs_l_diversity/docs_cramers_v/docs_theils_u)."""
    from .relational15 import KANON_BUCKET_CHARS, kanon_classes

    return gk_lambda_from_classes(
        kanon_classes(_t(spark, sf_dir, "documents"), KANON_BUCKET_CHARS)
    )


# ---------------------------------------------------------------------------
# events_runs_test
# ---------------------------------------------------------------------------


def runs_from_daily(spark: SparkSession, daily: DataFrame) -> DataFrame:
    """Wald–Wolfowitz runs test of the daily event-count calendar
    against its median, from a (d, c) daily-count frame — the
    RANDOMNESS member of the daily-series family: ACF/Spearman-ACF
    detect periodicity and MK/Theil–Sen detect monotone trend, but a
    series that alternates regimes (deploy waves, batch backfills,
    outage clusters) can pass all four; too FEW runs of
    above/below-median days flags exactly that clustering, too MANY
    flags oscillation.

    Convention (the standard one): days whose count EQUALS the median
    are excluded; the median is dichotomized in DOUBLED integer units
    (m2 = the sum of the two middle-rank counts — 2·median exactly,
    whole integers even for even-length series) so the above/below
    split is an INTEGER comparison (2c vs m2), never a float
    half-ulp. The zero-filled calendar is the ACF convention (a gap
    day is a real 0).

    Exactness: n_above, n_below, n_runs are exact integers; the
    normal approximation z = (R − E[R]) / sqrt(Var[R]) with
    E = 1 + a/N, Var = a·(a−N)/(N²·(N−1)), a = 2·n1·n2 is ONE shared
    double expression from those integers, rounded 4 dp. Degenerate
    series (n1 = 0, n2 = 0, or a ≤ N where the variance hits 0)
    report NULL z via INTEGER guards — no floating-point gate.

    Plan: everything runs on the calendar-bounded daily frame
    (span-days rows at ANY corpus size — the domain-bounded-grid
    argument the NA hazard rides): the median picks are the
    theilsen_from_daily row_number idiom, the run boundaries one lag
    window over the date-ordered frame, the reduction a single
    aggregate. The daily counts are the SAME sufficient statistic
    the ACF family computes."""
    # r13 perf pins (session.pin): daily feeds span + fill; the
    # zero-filled calendar feeds the rank, the 1-row count AND the
    # median-split keep
    daily = pin(daily)
    span = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = span.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    filled = pin(
        spine.join(daily, "d", "left")
        .select("d", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
    )
    # doubled-unit median: m2 = c[(n+1) div 2] + c[n div 2 + 1] by
    # rank — two picks that coincide on odd n (counted twice), the
    # theilsen middle-row idiom without its avg (keeping m2 integer)
    wrank = Window.orderBy("c", "d")
    ranked = filled.select(
        "c", F.row_number().over(wrank).alias("rn")
    )
    n = filled.groupBy().agg(F.count("*").alias("n"))
    m2 = (
        ranked.crossJoin(F.broadcast(n))
        .select(
            (
                F.col("c")
                * (
                    F.when(F.col("rn") == F.expr("(n + 1) div 2"),
                           F.lit(1)).otherwise(F.lit(0))
                    + F.when(F.col("rn") == F.expr("n div 2 + 1"),
                             F.lit(1)).otherwise(F.lit(0))
                )
            ).alias("pick")
        )
        .agg(F.sum("pick").alias("m2"))
    )
    keep = (
        filled.crossJoin(F.broadcast(m2))
        .where(F.lit(2) * F.col("c") != F.col("m2"))
        .select(
            "d",
            (F.lit(2) * F.col("c") > F.col("m2"))
            .cast("int").alias("s"),
        )
    )
    wlag = Window.orderBy("d")
    runs = keep.select(
        "s",
        F.when(
            F.lag("s").over(wlag).isNull()
            | (F.lag("s").over(wlag) != F.col("s")),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("newrun"),
    )
    agg = runs.agg(
        F.coalesce(F.sum("s"), F.lit(0)).alias("n1"),
        F.coalesce(F.sum(F.lit(1) - F.col("s")), F.lit(0)).alias("n2"),
        F.coalesce(F.sum("newrun"), F.lit(0)).alias("rr"),
    )
    j = (
        n.crossJoin(F.broadcast(agg))
        .withColumn("a", F.lit(2) * F.col("n1") * F.col("n2"))
        .withColumn("nk", F.col("n1") + F.col("n2"))
    )
    ad = F.col("a").cast("double")
    nd = F.col("nk").cast("double")
    z = (
        (F.col("rr").cast("double") - (F.lit(1.0) + ad / nd))
        / F.sqrt(
            ad * (ad - nd) / (nd * nd * (nd - F.lit(1.0)))
        )
    )
    return j.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("n1").cast("long").alias("n_above"),
        F.col("n2").cast("long").alias("n_below"),
        (F.col("n") - F.col("nk")).cast("long").alias("n_excluded"),
        F.col("rr").cast("long").alias("n_runs"),
        F.round(
            F.when(
                (F.col("n1") >= 1) & (F.col("n2") >= 1)
                & (F.col("a") > F.col("nk")),
                z,
            ).otherwise(F.lit(None).cast("double")),
            4,
        ).alias("z_stat"),
    )


def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on daily event counts — "do high and
    low days CLUSTER" (regime switches, backfills) vs alternate; see
    runs_from_daily for semantics, exactness and plan shape. ONE
    corpus scan partial-aggregates to the daily series (daily_counts
    — the sufficient statistic SHARED with events_acf /
    events_trend_theilsen / events_trend_mannkendall /
    events_spearman_acf)."""
    from .relational15 import daily_counts

    return runs_from_daily(
        spark, daily_counts(_t(spark, sf_dir, "events"))
    )


# ---------------------------------------------------------------------------
# docs_cvm_source_drift
# ---------------------------------------------------------------------------


def cvm_from_counts(cnt: DataFrame) -> DataFrame:
    """Pairwise two-sample Cramér–von Mises statistics from the SAME
    (source, x, c) counts frame as the KS/AD/JS drift audits
    (ks_counts — one sufficient statistic, FOUR drift audits): the
    Anderson two-sample form T = n·m/(n+m)² · Σ_pooled (F1 − F2)²,
    the integral of the SQUARED ECDF gap over the pooled sample —
    the standard middle ground between KS (one max gap: misses broad
    small shifts) and AD (tail-weighted: emphasizes extremes). The
    null expectation E[T] = (1 + 1/N)/6 is emitted beside T so a
    reader compares without a table.

    Exactness: per pooled value the gap numerator
    d = cum_a·n_b − cum_b·n_a is an EXACT decimal(38,0) integer
    (cum ≤ n ≤ ~1e18 before overflow — the ad_from_counts headroom
    argument); the per-value term t·d² and the final
    T = Σ term / (n_a·n_b·(n_a+n_b)²) are shared double expressions
    of non-negative comparable-magnitude terms (the zipf/AD
    double-aggregation precedent), rounded 6 dp. Pairs with a single
    pooled value are degenerate (T ≡ 0 with no distribution to
    compare) and FILTERED, the ad_from_counts convention.

    Plan: identical shape to ks_from_counts/ad_from_counts — one
    cumulative window over the metadata-sized (source, x) grid, a
    self-join on the grid key, broadcast per-source totals,
    partial-aggregable final groupBy; the corpus is touched only by
    the ONE scan that built the counts."""
    # r13 perf: the ks_from_counts pins, CvM edition (same shape)
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
        .select("source", "x", F.coalesce("c", F.lit(0)).alias("c"))
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
    d_num = (
        F.col("cum_a").cast(dec) * F.col("n_b").cast(dec)
        - F.col("cum_b").cast(dec) * F.col("n_a").cast(dec)
    )
    term = (
        (F.col("fa") + F.col("fb")).cast("double")
        * d_num.cast("double") * d_num.cast("double")
    )
    pairs = (
        a.join(b, "x")
        .where(F.col("source_a") < F.col("source_b"))
        .where(F.col("fa") + F.col("fb") > 0)
        .join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select("source_a", "source_b", "n_a", "n_b",
                term.alias("term"))
    )
    nad = F.col("n_a").cast("double")
    nbd = F.col("n_b").cast("double")
    nd = nad + nbd
    t_stat = F.col("s") / (nad * nbd * nd * nd)
    e_null = (F.lit(1.0) + F.lit(1.0) / nd) / F.lit(6.0)
    return (
        pairs.groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(F.sum("term").alias("s"), F.count("*").alias("n_values"))
        .where(F.col("n_values") >= 2)
        .select(
            "source_a", "source_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_values").cast("long").alias("n_values"),
            F.round(t_stat, 6).alias("cvm_t"),
            F.round(e_null, 6).alias("e_null"),
        )
        .orderBy("source_a", "source_b")
    )


def docs_cvm_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises drift between every source pair's
    document-length distributions — the squared-gap integral member
    of the drift family; see cvm_from_counts for semantics, exactness
    and plan shape. ONE corpus scan reduces to (source, n_chars)
    counts (ks_counts — the sufficient statistic SHARED with
    docs_ks_source_drift/docs_ad_source_drift/docs_js_divergence)."""
    from .relational15 import ks_counts

    return cvm_from_counts(ks_counts(_t(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# orders_survival_rmst
# ---------------------------------------------------------------------------


def rmst_from_curve(curve: DataFrame) -> DataFrame:
    """Restricted mean survival time from a Kaplan–Meier curve frame
    (t_days, n_risk, d_events, survival_ppm — km_table's shape): the
    area under the step curve up to tau = the last event time,
    RMST(tau) = t_1·1 + Σ_i S(t_i)·(t_{i+1} − t_i) — THE single
    "expected fulfilment days, censoring-adjusted" number (a naive
    mean over finished orders only is biased LOW; the mean over all
    orders is undefined under censoring; RMST is the standard
    restricted answer).

    Exactness: the curve's survival_ppm is already an exact integer
    (micro-units, half-up per product-limit step — the km_curve
    contract), and every step width is an integer day count, so the
    area rmst_ppm_days = Σ ppm·days is an EXACT integer emitted
    as its own column (hash-trivial); rmst_days is the single
    rounded double ppm_days/1e6. Before the first event time the
    curve sits at S = 1 (1e6 ppm) — the t_1·1e6 head term. An empty
    curve (no completed orders) reports n_times = 0 with NULL
    tau/rmst via the shared guard.

    Plan: the curve frame is at most KM_MAX_TIMES rows (the KM
    family's calendar-bounded loud cap) — one lead window + one
    aggregate over a metadata-sized frame; the corpus is touched
    only by what built the curve."""
    wlead = Window.orderBy("t_days")
    seg = curve.select(
        "t_days", "survival_ppm",
        F.lead("t_days").over(wlead).alias("t_next"),
    )
    agg = seg.agg(
        F.count("*").alias("n_times"),
        F.coalesce(F.min("t_days"), F.lit(0)).alias("t_first"),
        F.max("t_days").alias("tau"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("t_next").isNotNull(),
                    F.col("survival_ppm")
                    * (F.col("t_next") - F.col("t_days")),
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        ).alias("area_ppm"),
    )
    ppm = F.col("t_first") * F.lit(1_000_000) + F.col("area_ppm")
    has = F.col("n_times") > 0
    return agg.select(
        F.col("n_times").cast("long").alias("n_times"),
        F.when(has, F.col("tau")).otherwise(F.lit(None))
        .cast("long").alias("tau_days"),
        F.when(has, ppm).otherwise(F.lit(None))
        .cast("long").alias("rmst_ppm_days"),
        F.round(
            F.when(has, ppm.cast("double") / F.lit(1_000_000.0))
            .otherwise(F.lit(None).cast("double")),
            6,
        ).alias("rmst_days"),
    )


def orders_survival_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time of order fulfilment — the KM
    family's scalar summary; see rmst_from_curve for semantics,
    exactness and plan shape. Consumes the SAME km_table curve (and
    thus the same lastship_counts sufficient statistic) as
    orders_survival_km — one statistic serves FIVE survival audits
    (KM flat, KM stratified, log-rank, Nelson–Aalen, RMST)."""
    from .relational15 import km_table, lastship_counts

    return rmst_from_curve(
        km_table(
            spark,
            _t(spark, sf_dir, "orders"),
            lastship_counts(_t(spark, sf_dir, "lineitem")),
        )
    )
