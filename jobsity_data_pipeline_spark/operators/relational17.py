"""Round-12 wave — three audit statistics, each the MISSING MEMBER of
an existing family, each riding an EXISTING sufficient statistic
(zero new corpus reductions):

- docs_theils_u: Theil's uncertainty coefficient — the ASYMMETRIC
  member of the lang/source association family (the chi-squared tests
  whether association exists, Cramér's V sizes it symmetrically; U
  answers "knowing the source, what fraction of the LANGUAGE
  uncertainty disappears" and its converse, which V cannot because it
  has no direction) over the SAME (lang, source, len_bucket, k)
  quasi-identifier class state as k-anonymity/l-diversity/Cramér's V.
- orders_hazard_na: the Nelson–Aalen cumulative-hazard estimator —
  the survival family's ADDITIVE member over the SAME per-order
  last-ship state as the Kaplan–Meier curves and the log-rank test.
  Unlike the KM product-limit (a sequential product the curve audits
  run as a driver-side recurrence under a loud cap), the NA estimator
  is a plain prefix SUM, so the whole estimator stays in-plan:
  windows over the calendar-bounded duration grid, no collect, no cap.
- events_spearman_acf: lag-1..L RANK autocorrelation of the daily
  event-count calendar — the robust member of the autocorrelation
  family (events_acf's Pearson lags are dominated by spike days;
  Mann–Kendall/Theil–Sen test monotone trend, not periodicity) over
  the SAME daily-count state, with pooled tie-averaged ranks built on
  the SAME segmented prefix scan (ranking.distributed_cumsum) the
  round-12 Kruskal–Wallis upgrade rides.

Every operator splits into the established SUFFICIENT-STATISTIC /
SERVING-KERNEL form: one corpus reduction to a mergeable statistic,
then a kernel that reads only that statistic.

Reference parity note: the reference pipeline (119 lines of Postgres
SQL/loader, src/sqls/create_objects.sql) has no statistics surface;
these extend the warehouse exactly as relational13/15/16 did.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import ensure_parallelism, pin, read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return ensure_parallelism(spark, read_table(spark, sf_dir, name))


# ---------------------------------------------------------------------------
# docs_theils_u
# ---------------------------------------------------------------------------


def theilsu_from_classes(classes: DataFrame) -> DataFrame:
    """Theil's uncertainty coefficients between lang and source from
    the SAME (lang, source, len_bucket, k) quasi-identifier classes
    frame the k-anonymity/l-diversity/Cramér's V audits reduce to
    (kanon_classes — one sufficient statistic, four audits):
    U(lang|source) = I(lang; source) / H(lang) is the fraction of
    language entropy explained by knowing the source — the
    DIRECTIONAL association number Cramér's V cannot give (a corpus
    where the source determines the language but not vice versa has
    one U near 1 and the other near 0; V reports a single middle
    number). One summary row: corpus size, table shape, the three
    entropies, the mutual information, both conditional coefficients
    and the symmetric average.

    NULL categories are excluded exactly as in cramers_from_classes
    (a NULL is "category unknown", not a category — the r12 posture),
    so the two ASSOCIATION audits (V and U) agree on N. The two
    PRIVACY audits over the same state (k-anonymity, l-diversity)
    deliberately do NOT exclude them — a NULL-category document still
    sits in a re-identifiable equivalence class, so privacy N counts
    every document; the split is intentional, per audit semantics.

    Exactness: counts are exact integers; the three entropy sums
    Σ n·ln(n) (over cells, lang marginals, source marginals) are sums
    of positive comparable-magnitude double terms over metadata-sized
    frames — the zipf-slope / ad_from_counts double-aggregation
    precedent — with the SAME per-term expression in both engines and
    ONE rounding at the end. H(X) = ln(N) − S_X/N and
    I = ln(N) + (S_joint − S_lang − S_source)/N are final shared
    double expressions. Degenerate directions (H = 0: a single
    language, or a single source) report NULL for the coefficients
    that would divide by that entropy, via the shared CASE.

    Plan: the classes frame is metadata-sized, so every step —
    cells, marginals, the three 1-row entropy sums, the combine — is
    a re-aggregation with broadcast joins; the corpus is touched only
    by the ONE scan that built the classes."""
    classes = classes.where(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    # r13 perf: the cell table feeds both marginals, the joint-entropy
    # sum AND the total — pin it so the corpus reduction behind it
    # runs once (session.pin)
    cells = pin(
        classes.groupBy("lang", "source").agg(F.sum("k").alias("o"))
    )
    nl = pin(cells.groupBy("lang").agg(F.sum("o").alias("n_l")))
    ns = pin(cells.groupBy("source").agg(F.sum("o").alias("n_s")))

    def _nlogn(df: DataFrame, col: str, out: str) -> DataFrame:
        x = F.col(col).cast("double")
        return df.agg(
            F.sum(x * F.log(x)).alias(out),
        )

    sj = _nlogn(cells, "o", "s_joint")
    sl = _nlogn(nl, "n_l", "s_lang")
    ss = _nlogn(ns, "n_s", "s_source")
    tot = cells.agg(F.sum("o").alias("nn"))
    shape = (
        nl.groupBy().agg(F.count("*").alias("r"))
        .crossJoin(F.broadcast(ns.groupBy().agg(F.count("*").alias("c"))))
    )
    j = (
        tot.crossJoin(F.broadcast(sj))
        .crossJoin(F.broadcast(sl))
        .crossJoin(F.broadcast(ss))
        .crossJoin(F.broadcast(shape))
    )
    nd = F.col("nn").cast("double")
    h_lang = F.log(nd) - F.col("s_lang") / nd
    h_source = F.log(nd) - F.col("s_source") / nd
    h_joint = F.log(nd) - F.col("s_joint") / nd
    mi = F.log(nd) + (
        F.col("s_joint") - F.col("s_lang") - F.col("s_source")
    ) / nd
    # Degenerate-direction guard on the exact INTEGER shape (r/c), not
    # the floating-point entropy: for a single-category margin the
    # IEEE sum ln(N) - (N*lnN)/N need not cancel to exactly 0.0, and
    # Spark/DuckDB may order the n*ln(n) terms differently — guarding
    # on h > 0 could then disagree across engines (NULL in one, a
    # ratio of ~1e-16 noise in the other). r == 1 (resp. c == 1) IS
    # the degenerate case, computed identically in both engines
    # (mirrors cramers_from_classes' min(r-1, c-1) = 0 guard).
    u_ls = F.when(F.col("r") > 1, mi / h_lang) \
        .otherwise(F.lit(None).cast("double"))
    u_sl = F.when(F.col("c") > 1, mi / h_source) \
        .otherwise(F.lit(None).cast("double"))
    u_sym = F.when(
        (F.col("r") > 1) | (F.col("c") > 1),
        F.lit(2.0) * mi / (h_lang + h_source),
    ).otherwise(F.lit(None).cast("double"))
    return j.select(
        F.col("nn").cast("long").alias("n_docs"),
        F.col("r").cast("long").alias("n_langs"),
        F.col("c").cast("long").alias("n_sources"),
        F.round(h_lang, 6).alias("h_lang"),
        F.round(h_source, 6).alias("h_source"),
        F.round(h_joint, 6).alias("h_joint"),
        F.round(mi, 6).alias("mutual_info"),
        F.round(u_ls, 6).alias("u_lang_given_source"),
        F.round(u_sl, 6).alias("u_source_given_lang"),
        F.round(u_sym, 6).alias("u_symmetric"),
    )


def docs_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficients between document language and
    source — "how much does knowing the source tell you about the
    language, and vice versa" as directional [0, 1] numbers; see
    theilsu_from_classes for semantics, exactness and plan shape. ONE
    corpus scan reduces to the quasi-identifier classes
    (kanon_classes — the sufficient statistic SHARED with
    docs_k_anonymity/docs_l_diversity/docs_cramers_v).

    Round-13 staging note: unit-tested + staged oracle
    (__spark_entry__._theilsu_sql) + CLI-visible via
    staged_queries(); registration follows the rotation."""
    from .relational15 import kanon_classes

    return theilsu_from_classes(
        kanon_classes(_t(spark, sf_dir, "documents"))
    )


# ---------------------------------------------------------------------------
# orders_hazard_na
# ---------------------------------------------------------------------------


def na_table(per: DataFrame) -> DataFrame:
    """Nelson–Aalen cumulative hazard from a per-duration (t, rem, d)
    grid (rem = subjects removed at duration t — events + censored,
    d = events at t; the surv_removals reduction re-aggregated over
    groups). The NA estimator is the survival family's ADDITIVE
    member: Ĥ(t) = Σ_{t_i ≤ t} d_i/n_i with variance
    Σ d_i/n_i² — the cumulative force of completion the KM curve's
    product form obscures, and the standard basis for hazard-ratio
    eyeballing between calendar eras.

    Semantics (the km_curve tie convention): at-risk at time t counts
    everyone removed AT or AFTER t; rows are emitted at event times
    only (d ≥ 1), where n ≥ d ≥ 1 guarantees the divisions.

    Exactness: at-risk counts, removal counts and event counts are
    exact integers end-to-end; the per-time hazard d/n and variance
    term d/n² are identical double expressions in both engines, and
    the cumulative sums run over windows ORDERED BY t in BOTH engines
    — the same terms added LEFT-TO-RIGHT in the same order, so the
    double prefixes are bit-identical (stronger than the order-free
    aggregate precedent), rounded once at the end.

    Plan: fully in-plan, unlike the KM product-limit (a sequential
    PRODUCT the curve audits evaluate as a driver-side recurrence
    under a loud cap) — the NA sum is a plain prefix, so it stays a
    window. The two global windows run over the per-duration grid,
    which is DOMAIN-bounded (distinct durations ⊂ the calendar span,
    a few thousand rows at ANY corpus size — the logrank-grid
    argument), never corpus-sized; no collect, no cap needed. The
    1-row subject total broadcasts."""
    # r13 perf: per feeds the 1-row total AND the at-risk window —
    # pin so the orders+lineitem reduction runs once (session.pin)
    per = pin(per)
    n_tot = per.agg(F.sum("rem").alias("n_tot"))
    w_before = (
        Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ecdf = (
        per.crossJoin(F.broadcast(n_tot))
        .withColumn(
            "atrisk",
            F.col("n_tot")
            - F.coalesce(F.sum("rem").over(w_before), F.lit(0)),
        )
    )
    ev = ecdf.where(F.col("d") > 0)
    dd = F.col("d").cast("double")
    nn = F.col("atrisk").cast("double")
    w_pref = (
        Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = ev.select(
        "t", "atrisk", "d",
        (dd / nn).alias("_h"),
        (dd / (nn * nn)).alias("_v"),
    ).select(
        "t", "atrisk", "d", "_h",
        F.sum("_h").over(w_pref).alias("_ch"),
        F.sum("_v").over(w_pref).alias("_cv"),
    )
    return out.select(
        F.col("t").cast("long").alias("t_days"),
        F.col("atrisk").cast("long").alias("at_risk"),
        F.col("d").cast("long").alias("events"),
        F.round(F.col("_h"), 6).alias("hazard"),
        F.round(F.col("_ch"), 6).alias("na_cumhaz"),
        F.round(F.sqrt(F.col("_cv")), 6).alias("na_se"),
    ).orderBy("t_days")


def orders_hazard_na(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative fulfilment hazard of orders — "what
    cumulative force of completion has an order experienced by
    duration t", the additive view the Kaplan–Meier curve
    (orders_survival_km) presents multiplicatively; see na_table for
    semantics, exactness and plan shape. Event/censoring semantics
    and the duration-0 clamp are INHERITED from the shared
    surv_removals reduction (the log-rank twin), re-aggregated over
    priorities to the global per-duration grid — the SAME
    one-lineitem-reduction + one-orders-join corpus cost as every
    survival audit.

    Round-13 staging note: unit-tested + staged oracle
    (__spark_entry__._na_sql) + CLI-visible via staged_queries();
    registration follows the rotation."""
    from .relational15 import lastship_counts
    from .relational16 import surv_removals

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per = (
        surv_removals(o, lastship_counts(li), "o_orderpriority")
        .groupBy("t")
        .agg(F.sum("rem").alias("rem"), F.sum("d").alias("d"))
    )
    return na_table(per)


# ---------------------------------------------------------------------------
# events_benford_mad
# ---------------------------------------------------------------------------

# Nigrini's first-digit MAD conformity thresholds (Benford's Law:
# Applications for Forensic Accounting, 2012) — the published bands
# practitioners actually quote
BENFORD_MAD_CLOSE = 0.006
BENFORD_MAD_ACCEPTABLE = 0.012
BENFORD_MAD_MARGINAL = 0.015


def benford_mad_from_counts(spark: SparkSession,
                            counts: DataFrame) -> DataFrame:
    """Nigrini MAD conformity summary from a (digit, observed) counts
    frame — the Benford family's EFFECT-SIZE member: the registered
    events_benford emits per-digit χ² contributions, but χ² grows
    with N, so at corpus scale even immaterial deviations become
    "significant"; the Mean Absolute Deviation of the digit
    PROPORTIONS (1/9 · Σ|obs_d/N − p_d|) is N-free, and Nigrini's
    published bands — half-open, exactly as the kernel and oracle
    compare: close < 0.006 ≤ acceptable < 0.012 ≤ marginal < 0.015 ≤
    nonconforming (a MAD exactly on a threshold lands in the
    next-worse band, identically in both engines) — turn it into the
    verdict an audit actually reports. One summary row: N, the MAD, the worst digit's absolute
    deviation and identity, and the conformity band.

    Exactness: counts are exact integers; the nine |obs/N − p| terms
    are identical double expressions in both engines (the expectations
    embed the same Python doubles as events_benford), their 9-term
    sum/max is the zipf/AD non-negative-comparable-terms precedent,
    rounded once. The worst digit is picked by (deviation DESC, digit
    ASC) in both engines, so exact double ties resolve identically.
    An empty counts frame (no positive values) reports N = 0 and NULL
    statistics via the shared guard.

    Plan: the counts frame is 9 rows — every step is a broadcast
    re-aggregation of a constant-size frame; the corpus is touched
    only by the ONE scan that built the counts."""
    from .relational15 import BENFORD_P

    spine = spark.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    p = F.element_at(
        F.array(*[F.lit(v) for v in BENFORD_P]), F.col("digit")
    )
    # r13 perf: counts feeds the total AND the spine join, and the
    # 9-row deviations frame feeds the MAD agg AND the worst-digit
    # pick — pin both (session.pin)
    counts = pin(counts)
    tot = counts.agg(
        F.coalesce(F.sum("observed"), F.lit(0)).alias("nn")
    )
    obs = F.coalesce(F.col("observed"), F.lit(0)).cast("long")
    adev = F.when(
        F.col("nn") > 0,
        F.abs(obs.cast("double") / F.col("nn").cast("double") - p),
    ).otherwise(F.lit(None).cast("double"))
    devs = pin(
        spine.join(F.broadcast(counts), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select("digit", "nn", adev.alias("adev"))
    )
    agg = devs.groupBy("nn").agg(
        (F.sum("adev") / F.lit(9.0)).alias("mad"),
        F.max("adev").alias("mx"),
    )
    worst = (
        devs.orderBy(F.desc_nulls_last("adev"), F.asc("digit"))
        .limit(1)
        .select(F.col("digit").alias("wd"))
    )
    j = agg.crossJoin(F.broadcast(worst))
    conf = F.when(F.col("mad").isNull(), F.lit(None).cast("string")) \
        .when(F.col("mad") < F.lit(BENFORD_MAD_CLOSE), F.lit("close")) \
        .when(F.col("mad") < F.lit(BENFORD_MAD_ACCEPTABLE),
              F.lit("acceptable")) \
        .when(F.col("mad") < F.lit(BENFORD_MAD_MARGINAL),
              F.lit("marginal")) \
        .otherwise(F.lit("nonconforming"))
    return j.select(
        F.col("nn").cast("long").alias("n_values"),
        F.round(F.col("mad"), 6).alias("mad"),
        F.round(F.col("mx"), 6).alias("max_abs_dev"),
        F.when(F.col("mad").isNotNull(), F.col("wd"))
        .otherwise(F.lit(None).cast("int")).alias("worst_digit"),
        conf.alias("conformity"),
    )


def events_benford_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nigrini MAD conformity verdict on the first significant digits
    of positive event values — the N-free effect size next to
    events_benford's χ² table (which flags immaterial deviations as
    significant at corpus scale); see benford_mad_from_counts for
    semantics, exactness and plan shape. ONE partial-aggregable scan
    reduces to the 9-row digit counts (benford_digit_counts — the
    sufficient statistic SHARED with events_benford).

    Round-13 staging note: unit-tested + staged oracle
    (__spark_entry__._benford_mad_sql) + CLI-visible via
    staged_queries(); registration follows the rotation."""
    from .relational15 import benford_digit_counts

    return benford_mad_from_counts(
        spark, benford_digit_counts(_t(spark, sf_dir, "events"))
    )


# ---------------------------------------------------------------------------
# docs_js_divergence
# ---------------------------------------------------------------------------


def js_from_counts(cnt: DataFrame) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between every source pair's
    n_chars distribution from the SAME (source, x, c) counts frame the
    KS/AD drift audits reduce to (ks_counts — one sufficient
    statistic, three drift audits). JS is the family's
    INFORMATION-THEORETIC member: KS reports the worst single gap
    (middle-sensitive), AD tail-weights the gaps, JS measures the
    total information lost treating the two distributions as one —
    bounded ([0, ln 2] nats), symmetric, defined even for disjoint
    supports (where KL diverges), and its square root is a metric, so
    source distances can be compared and triangulated. One row per
    pair: sample sizes, pooled support size, the divergence and the
    JS distance.

    Exactness: counts are exact integers; the per-source entropies
    H(P) = −Σ p·ln p (computed ONCE per source — they are
    pair-independent) and the per-pair mixture entropy
    H(M), m = (p_a + p_b)/2 over the pooled support, are sums of
    non-negative comparable-magnitude double terms (the zipf-slope /
    ad_from_counts precedent — the H-form is used precisely because
    its terms are non-negative, unlike the per-term-signed KL-to-
    mixture form), with the SAME per-term expression in both engines
    and ONE rounding at the end. JSD = H(M) − (H(a)+H(b))/2 is
    clamped at 0 before the square root (identical-distribution pairs
    are 0 up to fp noise; both engines share the clamp expression).

    Plan: the mw_from_counts pair fan-out shape — each (source, x)
    row of the post-aggregation counts frame explodes against the
    tiny broadcast source list, the per-pair pooled grid re-aggregates
    (zero-count sides materialize as real 0 rows so the mixture term
    is complete), per-source totals and entropies broadcast, and the
    per-pair reduction is a partial-aggregable groupBy. Everything
    runs on metadata-sized frames; the corpus is touched only by the
    ONE scan that built the counts."""
    # r13 perf pins (session.pin): cnt feeds the totals, the
    # entropies and both fan-out legs; srcs four consumers; the
    # per-source entropies both pair sides
    cnt = pin(cnt)
    srcs = pin(cnt.groupBy("source").agg(F.sum("c").alias("n")))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    ents = pin(
        cnt.join(F.broadcast(srcs), "source")
        .groupBy("source")
        .agg((-F.sum(p * F.log(p))).alias("h"))
    )
    others = srcs.select(F.col("source").alias("s2"))
    left = (
        cnt.join(F.broadcast(others), F.col("source") < F.col("s2"))
        .select(
            F.col("source").alias("source_a"),
            F.col("s2").alias("source_b"),
            "x", F.col("c").alias("ca"), F.lit(0).alias("cb"),
        )
    )
    right = (
        cnt.join(F.broadcast(others), F.col("s2") < F.col("source"))
        .select(
            F.col("s2").alias("source_a"),
            F.col("source").alias("source_b"),
            "x", F.lit(0).alias("ca"), F.col("c").alias("cb"),
        )
    )
    g = (
        left.unionByName(right)
        .groupBy("source_a", "source_b", "x")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    na = srcs.select(
        F.col("source").alias("source_a"), F.col("n").alias("n_a")
    )
    nb = srcs.select(
        F.col("source").alias("source_b"), F.col("n").alias("n_b")
    )
    m = (
        F.col("ca").cast("double") / F.col("n_a").cast("double")
        + F.col("cb").cast("double") / F.col("n_b").cast("double")
    ) / F.lit(2.0)
    s = (
        g.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .groupBy("source_a", "source_b")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.count("*").alias("n_values"),
            (-F.sum(m * F.log(m))).alias("h_m"),
        )
    )
    ha = ents.select(
        F.col("source").alias("source_a"), F.col("h").alias("h_a")
    )
    hb = ents.select(
        F.col("source").alias("source_b"), F.col("h").alias("h_b")
    )
    jsd = F.greatest(
        F.col("h_m") - (F.col("h_a") + F.col("h_b")) / F.lit(2.0),
        F.lit(0.0),
    )
    return (
        s.join(F.broadcast(ha), "source_a")
        .join(F.broadcast(hb), "source_b")
        .select(
            "source_a", "source_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_values").cast("long").alias("n_values"),
            F.round(jsd, 6).alias("js_divergence"),
            F.round(F.sqrt(jsd), 6).alias("js_distance"),
        )
        .orderBy("source_a", "source_b")
    )


def docs_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between sources' document-
    length distributions — "how much information separates these two
    sources' length profiles" as a bounded, symmetric, metric-rooted
    number next to KS's worst gap and AD's tail-weighted score; see
    js_from_counts for semantics, exactness and plan shape. ONE
    partial-aggregable corpus scan reduces to the (source, n_chars)
    counts (ks_counts — the sufficient statistic SHARED with
    docs_ks_source_drift/docs_ad_source_drift).

    Round-13 staging note: unit-tested + staged oracle
    (__spark_entry__._js_sql) + CLI-visible via staged_queries();
    registration follows the rotation."""
    from .relational15 import ks_counts

    return js_from_counts(ks_counts(_t(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# events_spearman_acf
# ---------------------------------------------------------------------------

# the lag table bound — the events_acf convention (lags 1..7: weekly
# periodicity is the question the daily calendar can answer)
SPEARMAN_MAX_LAG = 7


def spearman_acf_from_daily(spark: SparkSession, daily: DataFrame,
                            max_lag: int = SPEARMAN_MAX_LAG) -> DataFrame:
    """Rank autocorrelation of a (d, c) daily-count frame at lags
    1..``max_lag``: Spearman's rho between the zero-filled series and
    its lag — events_acf's Pearson table recomputed on pooled
    tie-averaged RANKS, so one viral spike day no longer dominates
    every lag (the classic failure of moment-based autocorrelation on
    heavy-tailed traffic). A strictly monotone series reports exactly
    1.0 at every lag (ranks are linear in time), the property the raw
    ACF lacks.

    Exactness: ranks are pooled over the whole zero-filled calendar
    (a gap day is a real 0 — the ACF convention) and carried in
    DOUBLED integer units (2·rank = 2·cum_before + t + 1, always an
    integer; the Mann–Whitney/Kruskal–Wallis discipline — the
    doubling cancels in the correlation), so the five per-lag
    sufficient sums are EXACT decimal(38,0)/HUGEINT integers
    (decimal(28,0) inputs — the acf_from_daily headroom analysis
    applies with 2r ≤ 2n+1 in place of the raw counts) and only the
    final Pearson-on-ranks ratio is a double, one identical
    expression in both engines. All-tied series (zero rank variance)
    report NULL via the shared CASE — the guard events_acf does not
    need (its denominator is the raw-count variance) but a rank
    series can hit.

    Plan: ONE corpus scan partial-aggregates to daily counts; the
    zero-filled spine, the (count-value, tie-size) grid, the
    segmented-scan rank (ranking.distributed_cumsum — integer sums,
    no single task ever holds the grid, the round-12 Kruskal–Wallis
    shape), the broadcast rank join-back, the lag fan-out and the
    per-lag reduction all run on post-aggregation calendar-bounded
    frames over broadcast joins. The daily counts are the SAME
    sufficient statistic the ACF/Theil–Sen/Mann–Kendall audits
    compute."""
    from .ranking import distributed_cumsum

    # r13 perf pins (session.pin): daily feeds span + fill, the
    # zero-filled series feeds the tie grid AND the rank join-back,
    # and the ranked series both lag-join legs
    daily = pin(daily)
    span = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = span.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    filled = pin(
        spine.join(daily, "d", "left")
        .select("d", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
    )
    grid = filled.groupBy("c").agg(F.count("*").alias("t"))
    ranked = distributed_cumsum(
        grid, "t", "c", [], out_col="_cum"
    ).select(
        "c",
        (F.lit(2) * (F.col("_cum") - F.col("t"))
         + F.col("t") + F.lit(1)).alias("r2"),
    )
    series = pin(
        filled.join(F.broadcast(ranked), "c").select("d", "r2")
    )
    lags = spark.range(1, int(max_lag) + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    dec = "decimal(28,0)"
    left = (
        series.crossJoin(F.broadcast(lags))
        .select(
            "lag",
            F.date_add("d", F.col("lag")).alias("d2"),
            F.col("r2").cast(dec).alias("x"),
        )
    )
    right = series.select(
        F.col("d").alias("d2"), F.col("r2").cast(dec).alias("y")
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
    rho = F.when(
        (denx > 0) & (deny > 0), num / F.sqrt(denx * deny)
    ).otherwise(F.lit(None).cast("double"))
    return s.select(
        "lag",
        F.col("n").cast("long").alias("n_pairs"),
        F.round(rho, 6).alias("spearman_rho"),
    ).orderBy("lag")


def events_spearman_acf(spark: SparkSession, sf_dir: str,
                        max_lag: int = SPEARMAN_MAX_LAG) -> DataFrame:
    """Rank autocorrelation of daily event counts at lags 1..7 — "is
    traffic weekly-periodic, robustly to spike days"; see
    spearman_acf_from_daily for semantics, exactness and plan shape.

    Round-13 staging note: unit-tested + staged oracle
    (__spark_entry__._spearman_sql) + CLI-visible via
    staged_queries(); registration follows the rotation."""
    from .relational15 import daily_counts

    return spearman_acf_from_daily(
        spark, daily_counts(_t(spark, sf_dir, "events")), max_lag
    )
