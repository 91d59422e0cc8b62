"""Round-11 late wave — four audit statistics that each ride an
EXISTING sufficient statistic (zero new corpus reductions; every
kernel here is one more serving of a statistic another audit already
computes):

- events_trend_mannkendall: the Mann–Kendall trend TEST over the
  zero-filled daily event-count calendar — the significance twin of
  the staged Theil–Sen SLOPE (same daily_counts state, same guarded
  span² pair frame): S = Σ sign(c_j − c_i) over time-ordered pairs
  is an exact integer, the tie-corrected variance is an exact
  integer over 18, and only the continuity-corrected z and the
  Kendall τ_b rescale are final shared double expressions.
- events_kruskalwallis: the k-sample generalization of the
  Mann–Whitney rank-sum test over the SAME (event_type, value-cents,
  count) state — "do the k event types share one value distribution"
  in a single table, where running all k(k−1)/2 pairwise MW tests
  would multiply the false-positive rate. Doubled average ranks keep
  every rank sum an exact decimal(38,0)/HUGEINT integer.
- docs_cramers_v: Cramér's V association strength between lang and
  source, served from the SAME (lang, source, len_bucket, k)
  quasi-identifier classes the k-anonymity/l-diversity audits reduce
  to — "is language mix independent of source" as one effect-size
  number the raw chi-squared (which grows with N even for trivial
  effects) cannot give.
- orders_logrank_priority: pairwise two-sample log-rank tests over
  the SAME per-order last-ship state as the Kaplan–Meier curves —
  the survival family's COMPARISON member ("are two strata's hazards
  different"), fully distributed (no driver recurrence, no cap).

Every operator splits into the established SUFFICIENT-STATISTIC /
SERVING-KERNEL form: one corpus reduction to a mergeable statistic,
then a kernel that reads only that statistic.

Reference parity note: the reference pipeline (119 lines of Postgres
SQL/loader, src/sqls/create_objects.sql) has no statistics surface;
these extend the warehouse exactly as relational13/relational15 did.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import ensure_parallelism, pin, read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return ensure_parallelism(spark, read_table(spark, sf_dir, name))


# ---------------------------------------------------------------------------
# events_trend_mannkendall
# ---------------------------------------------------------------------------

# the pair fan-out is span_days^2 / 2 rows — the Theil-Sen bound, and
# the same loud posture (the two trend statistics share one frame)
MK_MAX_DAYS = 4096


def mannkendall_from_daily(spark: SparkSession,
                           daily: DataFrame) -> DataFrame:
    """Mann–Kendall trend test of a (d, c) daily-count frame — the
    nonparametric "is there ANY monotonic trend" answer whose null
    distribution is exact: S = Σ_{i<j} sign(c_j − c_i) counts
    concordant minus discordant time-ordered pairs, so a series with
    no trend has E[S] = 0 regardless of the count distribution. The
    companion τ_b (Kendall's tau-b against the gapless time index)
    rescales S to [−1, 1] as the effect size, and z is the
    continuity-corrected normal approximation under the tie-corrected
    variance — the test statistic the staged Theil–Sen SLOPE
    (theilsen_from_daily, same pair frame) does not provide.

    Exactness: the calendar is zero-filled (a gap day is a real 0,
    the ACF convention); S, the variance numerator
    n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (t = tied-count group sizes, 18ths
    deferred), and the τ_b denominator factors D0 = n(n−1)/2 and
    D1 = D0 − Σ_t t(t−1)/2 are ALL exact integers — the time index is
    gapless so its tie term vanishes — and only z and τ_b are final
    double expressions shared verbatim with the oracle. Degenerate
    all-tied series (var = 0, forcing S = 0) report z = 0 and
    τ_b = 0 by the guarded CASE both engines share.

    Plan: ONE corpus scan partial-aggregates to daily counts;
    the zero-filled spine, the span² pair self-join (loud MK_MAX_DAYS
    cap via the in-plan guard — the theilsen_from_daily posture), the
    tie-group reduction and the 1-row combine all run on
    post-aggregation frames over broadcast joins. The daily counts
    are the SAME sufficient statistic the ACF/Theil–Sen audits
    compute."""
    # r13 perf pins (session.pin): daily feeds span + fill, filled
    # feeds the cap count + the guard, and the guarded series feeds
    # both sign-pair legs AND the tie reduction
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
    # loud span cap, in-plan (the theilsen_from_daily guard verbatim):
    # raise before the quadratic fan-out if the calendar exceeds it
    ndays = filled.groupBy().agg(F.count("*").alias("_nd"))
    guarded = (
        filled.crossJoin(F.broadcast(ndays))
        .withColumn(
            "c",
            F.when(F.col("_nd") <= F.lit(MK_MAX_DAYS), F.col("c"))
            .otherwise(F.raise_error(F.concat(
                F.lit("events_trend_mannkendall: calendar span "),
                F.col("_nd").cast("string"),
                F.lit(f" days > {MK_MAX_DAYS}; the sign-pair frame "
                      "is span^2 — aggregate to weeks/months or "
                      "window the input")
            )).cast("long")),
        )
        .drop("_nd")
    )
    guarded = pin(guarded)
    a = guarded.select(F.col("i").alias("ia"), F.col("c").alias("ca"))
    b = guarded.select(F.col("i").alias("ib"), F.col("c").alias("cb"))
    s_row = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            F.when(F.col("cb") > F.col("ca"), F.lit(1))
            .when(F.col("cb") < F.col("ca"), F.lit(-1))
            .otherwise(F.lit(0)).cast("long").alias("sgn")
        )
        .agg(F.coalesce(F.sum("sgn"), F.lit(0)).alias("s"))
    )
    # tied-count groups of the FILLED series (the zero fill makes gap
    # days a real tie group); the time index is gapless so only the
    # value ties correct the variance / tau denominator
    ties = (
        guarded.groupBy("c").agg(F.count("*").alias("t"))
        .agg(
            F.count("*").alias("n_value_groups"),
            F.sum(
                F.col("t") * (F.col("t") - 1)
                * (2 * F.col("t") + 5)
            ).alias("tie_var"),
            F.sum(F.col("t") * (F.col("t") - 1)).alias("tie_tau"),
            F.sum("t").alias("n"),
        )
    )
    j = s_row.crossJoin(F.broadcast(ties))
    n = F.col("n")
    var18 = (
        n * (n - 1) * (2 * n + 5) - F.col("tie_var")
    ).alias("var18")
    d0 = (n * (n - 1)).cast("double") / F.lit(2.0)
    d1 = d0 - F.col("tie_tau").cast("double") / F.lit(2.0)
    sd = F.col("s").cast("double")
    var_s = F.col("var18").cast("double") / F.lit(18.0)
    z = (
        F.when(F.col("var18") <= 0, F.lit(0.0))
        .when(F.col("s") > 0, (sd - 1) / F.sqrt(var_s))
        .when(F.col("s") < 0, (sd + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    tau = F.when(
        d1 > 0, sd / F.sqrt(d1 * d0)
    ).otherwise(F.lit(0.0))
    return (
        j.select("s", "n", var18, "tie_tau")
        .select(
            n.cast("long").alias("n_days"),
            F.col("s").cast("long").alias("s_stat"),
            F.round(var_s, 4).alias("var_s"),
            F.round(z, 4).alias("z_stat"),
            F.round(tau, 6).alias("tau_b"),
        )
    )


def events_trend_mannkendall(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test of daily event counts — see
    mannkendall_from_daily for semantics, exactness and plan shape.

    Registered in round 12 (all eight staged operators at once,
    per the r11 verdict); oracle parity-validated while staged."""
    from .relational15 import daily_counts

    return mannkendall_from_daily(
        spark, daily_counts(_t(spark, sf_dir, "events"))
    )


# ---------------------------------------------------------------------------
# events_kruskalwallis
# ---------------------------------------------------------------------------

def kw_from_counts(cnt: DataFrame) -> DataFrame:
    """Kruskal–Wallis H test from a (event_type, vc, c) counts frame —
    the k-sample generalization of mw_from_counts: ONE rank-based
    test of "do all k types share a value distribution", where
    running every pairwise MW test inflates the family-wise error.
    One row per event type with its exact sample size, its mean
    pooled rank, and its additive contribution to H (the
    orders_priority_chi2 convention: Σ h_contrib = h_stat, pinned in
    tests), plus the shared H, tie-corrected H and degrees of freedom
    broadcast onto every row.

    Exactness: tied values get average ranks carried in DOUBLED
    integer units (2·rank = 2·cum_before + t + 1, always an integer
    on the POOLED distribution), so each type's rank sum R_i arrives
    as an exact decimal(38,0)/HUGEINT integer (inputs cast
    decimal(19,0) so the c·2r product lands exactly on 38 digits —
    the mw_from_counts discipline) and the tie term Σ(t³−t) is an
    exact integer too. H = 3·Σ_i Rd_i²/n_i / (N(N+1)) − 3(N+1) (the
    doubled-rank form) and the correction C = 1 − Σ(t³−t)/(N³−N) are
    final double expressions; the across-type sum of k positive,
    comparable-magnitude double terms is well-conditioned (the
    zipf-slope / ad_from_counts precedent) and both engines round
    once at the end. Degenerate inputs — fewer than two types, or
    every pooled value tied (C ≤ 0) — report NULL for the
    tie-corrected H via the shared CASE.

    Plan: everything runs on the post-aggregation counts frame — the
    pooled per-value totals are a re-aggregation, the pooled rank is
    a SEGMENTED prefix scan (ranking.distributed_cumsum: value-range
    blocks from approximate cutoffs, per-block windows, broadcast
    block offsets — integer sums throughout, so the cumulative is
    exact and the output is bit-identical to the global-window form),
    the per-type reduction is a partial-aggregable groupBy, and the
    1-row globals broadcast back onto the k-row output. No single
    task ever holds the full distinct-value grid and no cap is
    needed — unlike the Mann–Whitney kernel's PER-PAIR windows (each
    already partitioned by the pair key and loudly capped, a
    different trade documented at MW_MAX_GRID), the KW rank is global
    by construction, which is exactly the shape the segmented scan
    exists for; round-12 upgrade per the r11 verdict's task 5."""
    from ..session import pin
    from .ranking import distributed_cumsum

    dec = "decimal(19,0)"
    # r13 perf: the counts frame feeds the pooled re-aggregation AND
    # the per-type join, and the ranked grid feeds the per-type join
    # AND the 1-row globals — pin both (plus the k-row per_type) so
    # the corpus reduction and the segmented rank run ONCE instead of
    # Catalyst cloning them per reference (was a 160 KB plan / 111
    # stages at sf0.1; the frames are distinct-value-cents / k-row
    # bounded by design)
    cnt = pin(cnt)
    # the pooled grid is itself consumed 3x inside distributed_cumsum
    # (cutoffs, the blocked frame, the per-block totals)
    pooled = pin(cnt.groupBy("vc").agg(F.sum("c").alias("t")))
    ranked = pin(distributed_cumsum(
        pooled, "t", "vc", [], out_col="_cum"
    ).select(
        "vc",
        F.col("t").cast(dec).alias("t"),
        (F.col("_cum") - F.col("t")).cast(dec).alias("cumb"),
    ).select(
        "vc", "t",
        (F.lit(2) * F.col("cumb") + F.col("t") + F.lit(1)).alias("r2"),
    ))
    per_type = pin(
        cnt.join(ranked.select("vc", "r2"), "vc")
        .groupBy("event_type")
        .agg(
            F.sum("c").alias("n_i"),
            F.sum(F.col("c").cast(dec) * F.col("r2")).alias("rd"),
        )
    )
    glob = ranked.agg(
        F.sum("t").alias("nn"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .alias("tie"),
    )
    k_row = per_type.groupBy().agg(F.count("*").alias("k"))
    j = (
        per_type
        .crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(k_row))
    )
    nd = F.col("nn").cast("double")
    nid = F.col("n_i").cast("double")
    rdd = F.col("rd").cast("double")
    term = F.lit(3.0) * rdd * rdd / (nd * (nd + 1) * nid)
    contrib = term - F.lit(3.0) * (nd + 1) * nid / nd
    # H re-aggregates the unrounded per-type terms (k small positive
    # doubles), then broadcasts back — Σ round(contrib) would drift
    hsum = (
        j.select(F.col("event_type").alias("et"), contrib.alias("hc"))
        .agg(F.sum("hc").alias("h"))
    )
    out = j.crossJoin(F.broadcast(hsum))
    c_corr = F.lit(1.0) - F.col("tie").cast("double") / (
        nd * nd * nd - nd
    )
    h_tie = F.when(
        (F.col("k") >= 2) & (c_corr > 0), F.col("h") / c_corr
    ).otherwise(F.lit(None).cast("double"))
    return out.select(
        "event_type",
        F.col("n_i").cast("long").alias("n"),
        F.round(rdd / (F.lit(2.0) * nid), 6).alias("mean_rank"),
        F.round(contrib, 6).alias("h_contrib"),
        F.round(F.col("h"), 4).alias("h_stat"),
        F.round(h_tie, 4).alias("h_tie_corrected"),
        (F.col("k") - 1).cast("long").alias("df"),
    ).orderBy("event_type")


def events_kruskalwallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H test across ALL event types' ``value``
    distributions — see kw_from_counts for semantics, exactness and
    plan shape. ONE partial-aggregable scan reduces the corpus to the
    (type, value-cents) counts (mw_counts — the SAME sufficient
    statistic the Mann–Whitney audit computes).

    Registered in round 12 (all eight staged operators at once,
    per the r11 verdict); oracle parity-validated while staged."""
    from .relational15 import mw_counts

    return kw_from_counts(mw_counts(_t(spark, sf_dir, "events")))


# ---------------------------------------------------------------------------
# docs_cramers_v
# ---------------------------------------------------------------------------


def cramers_from_classes(classes: DataFrame) -> DataFrame:
    """Cramér's V association between lang and source from the SAME
    (lang, source, len_bucket, k) quasi-identifier classes frame the
    k-anonymity/l-diversity audits reduce to (kanon_classes — one
    sufficient statistic, three audits): the lang×source contingency
    table's chi-squared, rescaled to the [0, 1] effect size
    V = sqrt(χ² / (N·min(r−1, c−1))) that stays comparable as the
    corpus grows (raw χ² scales with N even when the association is
    trivial). One summary row: corpus size, table shape, df, χ² and V.

    Exactness: the χ² cell numerator is carried as the EXACT integer
    N·o − n_l·n_s (decimal(19,0) inputs so the products land exactly
    on decimal(38,0) — headroom to N ~ 1e18) and cast to double once
    per cell: cell = num² / (N·n_l·n_s), the algebraic identity of
    (o − e)²/e that never materializes a float expectation. Zero
    cells of the r×c grid participate (observed 0 against a real
    expectation — the textbook statistic), built by a broadcast
    cross of the two marginal frames. The across-cell double sum is
    r·c positive comparable terms (the orders_priority_chi2 family;
    well-conditioned) rounded once at the end. A degenerate 1×c or
    r×1 table (min(r−1, c−1) = 0) reports NULL V via the shared CASE.

    NULL categories: rows with a NULL lang or NULL source are
    EXCLUDED up front (r12 ADVICE fix) — a NULL is "category
    unknown", not a category, and keeping such rows would inflate the
    marginals and N while their observed counts drop out of the
    null-unsafe r×c grid join, overstating χ²/V. N therefore counts
    only fully-categorized documents; the oracle applies the same
    WHERE, and the kanon stream state serves this audit through this
    same kernel so stream == batch holds.

    Plan: the classes frame is metadata-sized, so every step —
    marginals, the r×c grid, the 1-row totals — is a re-aggregation
    with broadcast joins; the corpus is touched only by the ONE scan
    that built the classes."""
    dec = "decimal(19,0)"
    classes = classes.where(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    # r13 perf: the r x c cell table feeds both marginals, the total
    # AND the grid join — pin it so the corpus reduction behind it
    # runs once (session.pin)
    cells = pin(
        classes.groupBy("lang", "source").agg(F.sum("k").alias("o"))
    )
    nl = cells.groupBy("lang").agg(F.sum("o").alias("n_l"))
    ns = cells.groupBy("source").agg(F.sum("o").alias("n_s"))
    nn = cells.agg(F.sum("o").alias("nn"))
    grid = (
        nl.crossJoin(F.broadcast(ns))
        .join(cells, ["lang", "source"], "left")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("n_l").cast(dec).alias("n_l"),
            F.col("n_s").cast(dec).alias("n_s"),
            F.col("nn").cast(dec).alias("nn"),
            F.coalesce("o", F.lit(0)).cast(dec).alias("o"),
        )
    )
    num = (F.col("nn") * F.col("o") - F.col("n_l") * F.col("n_s")) \
        .cast("double")
    den = (
        F.col("nn").cast("double")
        * F.col("n_l").cast("double")
        * F.col("n_s").cast("double")
    )
    agg = grid.agg(
        F.max(F.col("nn").cast("double")).alias("nd"),
        F.sum(num * num / den).alias("chi2"),
    )
    shape = (
        nl.groupBy().agg(F.count("*").alias("r"))
        .crossJoin(F.broadcast(ns.groupBy().agg(F.count("*").alias("c"))))
    )
    j = agg.crossJoin(F.broadcast(shape))
    mindim = F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
    v = F.when(
        mindim > 0,
        F.sqrt(F.col("chi2") / (F.col("nd") * mindim)),
    ).otherwise(F.lit(None).cast("double"))
    return j.select(
        F.col("nd").cast("long").alias("n_docs"),
        F.col("r").cast("long").alias("n_langs"),
        F.col("c").cast("long").alias("n_sources"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("df"),
        F.round(F.col("chi2"), 4).alias("chi2"),
        F.round(v, 6).alias("cramers_v"),
    )


def docs_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between document language and
    source — "is the language mix a property of the source" as one
    [0, 1] effect size; see cramers_from_classes for semantics,
    exactness and plan shape. ONE corpus scan reduces to the
    quasi-identifier classes (kanon_classes — the sufficient
    statistic SHARED with docs_k_anonymity/docs_l_diversity).

    Registered in round 12 (all eight staged operators at once,
    per the r11 verdict); oracle parity-validated while staged."""
    from .relational15 import kanon_classes

    return cramers_from_classes(
        kanon_classes(_t(spark, sf_dir, "documents"))
    )


# ---------------------------------------------------------------------------
# orders_logrank_priority
# ---------------------------------------------------------------------------


def logrank_pairs(per: DataFrame) -> DataFrame:
    """Pairwise two-sample log-rank statistics from a per-group
    duration grid (g, t, rem, d) — rem = subjects REMOVED at duration
    t (events + censored), d = events at t; the reduction
    logrank_table/surv_removals builds from orders + last-ship state.
    The log-rank test is the survival family's COMPARISON member: the
    stratified KM curves (km_table_grouped) show each stratum's
    shape, this tests whether two strata's underlying hazards differ,
    weighting every event time by its at-risk population (so early
    differences among many subjects count more than late noise among
    few survivors).

    Semantics (standard, and the km_curve tie convention): at-risk at
    time t counts everyone removed AT or AFTER t (events precede
    censoring on ties — at_risk = n_g − removed strictly before t);
    for each pooled event time, E1 accumulates d·r_a/(r_a+r_b) and V1
    the hypergeometric variance d·(r_a/n)·(r_b/n)·(n−d)/(n−1);
    z = (O1 − E1)/sqrt(V1), reported with O1 exact and E1/z rounded.

    Exactness: at-risk counts, removal counts and O1 are exact
    integers end-to-end; the per-time E1/V1 terms are identical
    double expressions in both engines, summed over the
    calendar-bounded grid and rounded once (the ad_from_counts
    double-aggregation precedent — non-negative comparable terms).
    Degenerate pairs (V1 = 0: a pair with no co-at-risk event time)
    report NULL z via the shared CASE.

    Plan: fully distributed — unlike the KM curve (a driver-side
    product-limit recurrence under a loud cap), the log-rank sums
    need no sequential pass, so there is NO collect and no cap: the
    per-group at-risk series is one window over the
    (|groups| × calendar) post-aggregation grid, the pair fan-out an
    equi-join on the time key, and the final reduction a
    partial-aggregable groupBy. Group totals broadcast."""
    # r13 perf: per feeds the time axis, the group totals AND the
    # grid join, and the at-risk series feeds both pair legs — pin
    # them so the orders+lineitem reduction and the at-risk window
    # run once (session.pin; both frames are |groups| x calendar
    # bounded)
    per = pin(per)
    ts = per.select("t").distinct()
    gs = per.groupBy("g").agg(F.sum("rem").alias("n_g"))
    grid = ts.crossJoin(F.broadcast(gs.select("g", "n_g")))
    w = (
        Window.partitionBy("g").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ecdf = (
        grid.join(per, ["g", "t"], "left")
        .select(
            "g", "t", "n_g",
            F.coalesce("rem", F.lit(0)).alias("rem"),
            F.coalesce("d", F.lit(0)).alias("d"),
        )
        .withColumn(
            "atrisk",
            F.col("n_g")
            - F.coalesce(F.sum("rem").over(w), F.lit(0)),
        )
    )
    ecdf = pin(ecdf)
    a = ecdf.select(
        F.col("g").alias("g_a"), "t", F.col("n_g").alias("n_a"),
        F.col("d").alias("d_a"), F.col("atrisk").alias("r_a"),
    )
    b = ecdf.select(
        F.col("g").alias("g_b"), "t", F.col("n_g").alias("n_b"),
        F.col("d").alias("d_b"), F.col("atrisk").alias("r_b"),
    )
    pr = (
        a.join(b, "t")
        .where(F.col("g_a") < F.col("g_b"))
        .where(F.col("d_a") + F.col("d_b") > 0)
    )
    dd = (F.col("d_a") + F.col("d_b")).cast("double")
    ra = F.col("r_a").cast("double")
    rb = F.col("r_b").cast("double")
    nn = ra + rb
    e1 = dd * ra / nn
    v1 = F.when(
        nn > 1,
        dd * (ra / nn) * (rb / nn) * (nn - dd) / (nn - 1),
    ).otherwise(F.lit(0.0))
    s = pr.groupBy("g_a", "g_b").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum("d_a").alias("o_a"),
        F.sum(e1).alias("e_a"),
        F.sum(v1).alias("v1"),
    )
    z = F.when(
        F.col("v1") > 0,
        (F.col("o_a").cast("double") - F.col("e_a"))
        / F.sqrt(F.col("v1")),
    ).otherwise(F.lit(None).cast("double"))
    return s.select(
        F.col("g_a").alias("priority_a"),
        F.col("g_b").alias("priority_b"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("o_a").cast("long").alias("o_a"),
        F.round(F.col("e_a"), 4).alias("e_a"),
        F.round(z, 4).alias("z_stat"),
    ).orderBy("priority_a", "priority_b")


def surv_removals(o: DataFrame, done: DataFrame,
                  group_col: str) -> DataFrame:
    """(g, t, rem, d) duration-grid reduction shared by the log-rank
    test — the same event/censoring semantics as
    relational15.km_table_grouped (event = completion at days to LAST
    line-item ship; open/line-less orders censored at the global
    max-ship horizon), reduced one step further to per-(group, t)
    removal and event counts. Calendar × |groups| sized.

    Durations are clamped at 0 (r12 ADVICE fix): an order dated after
    its own last ship, or after the global max-ship horizon, would
    otherwise enter the at-risk grid with a NEGATIVE duration —
    arithmetically harmless (both engines agreed) but semantically
    wrong for a survival time. Such subjects now count as duration-0
    removals; the oracle applies the same GREATEST(0, ·)."""
    gmax = done.agg(F.max("last_ship").alias("horizon"))
    ev = (F.col("o_orderstatus") == "F") & F.col("last_ship").isNotNull()
    return (
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
        .groupBy("g", "t")
        .agg(
            F.count("*").alias("rem"),
            F.sum(F.col("ev").cast("long")).alias("d"),
        )
    )


def orders_logrank_priority(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Pairwise two-sample log-rank tests between order priorities'
    fulfilment survival — "are urgent orders' completion hazards
    actually different", the significance question the stratified
    Kaplan–Meier curves (orders_survival_km_by_priority) display but
    cannot answer. One row per priority pair with subject counts, the
    exact observed event count O1, the expected count E1 under the
    shared-hazard null, and the log-rank z.

    Plan: the SAME one-lineitem-reduction + one-orders-join corpus
    cost as the KM audits (shared lastship_counts sufficient
    statistic), then everything runs
    distributed on the |priorities| × calendar grid: no driver
    recurrence, no collect, no cap needed (see logrank_pairs).

    Registered in round 12 (all eight staged operators at once,
    per the r11 verdict); oracle parity-validated while staged."""
    from .relational15 import lastship_counts

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return logrank_pairs(
        surv_removals(o, lastship_counts(li), "o_orderpriority")
    )
