"""Round-9 wave — the curation-ladder capstone and sketch-algebra
serving layer, each with an exact DuckDB oracle twin:

- docs_quality_classifier: a TRAINED quality-classifier rung for the
  curation ladder (the CCNet / DCLM / FineWeb-Edu pattern: distill a
  rule battery into a linear scorer) — fixed-round gradient-descent
  logistic-style regression over integer per-doc features against the
  Gopher-rule weak label. Engine-exact: the algebraic sigmoid
  σ(z) = ½(1 + z/(1+|z|)) replaces exp (no transcendental crosses an
  engine boundary), per-doc probabilities quantize to integer
  micro-units, gradients accumulate as EXACT integer sums
  (order-independent), and weights re-round to 6 dp every step — so
  the whole trajectory replays in an unrolled MATERIALIZED-CTE
  oracle and a pure-Python loop bit-for-bit.
- events_type_overlap_kmv: audience-overlap (union / intersection /
  Jaccard) between event types' user sets served FROM the mergeable
  KMV bottom-k sketches (events_kmv_distinct's machinery) with
  estimate-vs-exact permille columns — the sketch-served form of
  events_type_cooccurrence that actually runs daily at 100 TB.
- orders_forecast_ses: simple-exponential-smoothing backtest over
  monthly order revenue — the rung above orders_forecast_snaive.
  Fixed α as an exact integer-cent recurrence (level carried in
  cents, half-up per step), so every month's one-step-ahead forecast
  and APE replay in SQL.
- orders_bloom_pruned: the bloom_pruned_join (operators/skew.py)
  demonstrated end-to-end — broadcast packed-bitset probe drops fact
  rows before the join shuffle; output provably identical to the
  plain join (the oracle).
- docs_classifier_yield: the trained classifier applied as a
  per-source corpus filter, sharing one training run with the
  trajectory query via a weights memo.
- orders_forecast_holt: Holt's linear double-exponential smoothing —
  the trend-aware rung above SES, same A/B output shape.
- events_type_containment_kmv (round 10): asymmetric containment /
  overlap-coefficient audit from the KMV sketches — the subset
  relationships Jaccard structurally misses.

Reference parity note: the reference pipeline (119 lines of Postgres
SQL/loader, src/sqls/create_objects.sql) has no ML or sketch surface;
these extend the warehouse exactly as the round-4..8 waves did.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_parallelism, read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return ensure_parallelism(spark, read_table(spark, sf_dir, name))


# ---------------------------------------------------------------------------
# docs_quality_classifier
# ---------------------------------------------------------------------------

QC_ROUNDS = 16
QC_LR = 4.0
# feature columns in TRAINING ORDER; weights report under these names
QC_WEIGHTS = ("w_bias", "w_words", "w_meanlen", "w_alpha", "w_symbol",
              "w_stop")
QC_XS = ("x0", "x1", "x2", "x3", "x4", "x5")


def _halfup6(x: float) -> float:
    """Sign-aware half-up to 6 dp in pure double arithmetic —
    floor(|x|*1e6 + 0.5) with the sign re-applied. The identical
    formula runs in the oracle SQL and the Python replay, so the
    rounded weight is the same IEEE double everywhere (the
    functions.text.round_ratio convention, extended to signed
    values)."""
    if x >= 0:
        return math.floor(x * 1e6 + 0.5) / 1e6
    return -math.floor(-x * 1e6 + 0.5) / 1e6


def _qc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc integer feature frame for the quality classifier:
    (doc_id, y_e6, x0..x5) with y the Gopher-battery keep flag
    (docs_gopher_rules' exact integer cross-multiplied rules — the
    weak label being distilled) and features bounded permille-scale
    integers CENTERED at the rule thresholds (so a weak-label rule
    maps to a sign flip of its feature and gradient descent doesn't
    fight a large constant offset — standard feature centering, done
    in exact integers):

    - x0 = 1000                        (bias; scaled x0/1000 = 1)
    - x1 = word count:   least(n_words, 100) * 10 − 500 (0 at the
                         Gopher min-words boundary n = 50)
    - x2 = mean word length in centichars − 450 (corpus-typical)
    - x3 = alpha-word permille − 800   (0 at the 80% rule)
    - x4 = symbol permille (capped) − 100 (0 at the 0.1 rule)
    - x5 = distinct-stopword count × 100 − 150 (sign flips between
                         1 and 2 — the ≥2 rule)

    All integer division on non-negative operands — engine-exact;
    centering subtracts constants AFTER the division. Staging and the
    keep conjunction come from relational10's gopher_word_stats /
    gopher_keep_expr — ONE definition, so the weak label can never
    drift from the battery it distills.
    One explode + one partial-agg shuffle on doc_id (the
    docs_gopher_rules plan shape; cites the same Rae et al. 2021
    §A1.1 thresholds for the label)."""
    from .relational10 import gopher_keep_expr, gopher_word_stats

    d = _t(spark, sf_dir, "documents")
    j = gopher_word_stats(d)
    keep = gopher_keep_expr()
    return j.select(
        "doc_id",
        (keep.cast("long") * F.lit(1_000_000)).alias("y_e6"),
        F.lit(1000).cast("long").alias("x0"),
        F.expr("least(n_words, 100) * 10 - 500").alias("x1"),
        F.expr(
            "least((char_sum * 100) div greatest(n_words, 1), 1000)"
            " - 450"
        ).alias("x2"),
        F.expr(
            "(n_alpha * 1000) div greatest(n_words, 1) - 800"
        ).alias("x3"),
        F.expr(
            "least((n_symbols * 1000) div greatest(n_words, 1), 1000)"
            " - 100"
        ).alias("x4"),
        F.expr("least(n_stop_distinct, 10) * 100 - 150").alias("x5"),
    )


def docs_quality_classifier(spark: SparkSession, sf_dir: str,
                            rounds: int = QC_ROUNDS) -> DataFrame:
    """Trained quality classifier — fixed-round full-batch gradient
    descent of a logistic-style linear scorer over the integer doc
    features, distilling the Gopher rule battery into one weight
    vector (the rung CCNet / DCLM / FineWeb-Edu production pipelines
    actually filter with, capping the rules→weights→perplexity→
    classifier curation ladder). Returns the whole training
    trajectory, one row per round r = 0..rounds: the weight vector in
    force, the corpus rows it would keep (``pred_pos`` — the
    scored-corpus YIELD of filtering at p >= 0.5), and its agreement
    with the weak label in permille.

    Engine-exact by construction (every cross-engine hazard pinned):

    - the ALGEBRAIC sigmoid p = ½(1 + z/(1+|z|)) stands in for the
      logistic link, so no transcendental (exp) ever crosses an
      engine boundary — z, p are plain IEEE double expressions with
      one fixed left-to-right parenthesization in all three
      implementations (Spark plan, DuckDB oracle, Python replay);
    - per-doc probabilities quantize to integer micro-units
      p_e6 = floor(p*1e6 + 0.5) before anything aggregates;
    - the gradient Σ (p_e6 − y_e6)·x_j is an EXACT integer sum —
      order-independent across partitions (overflow bound:
      1e9·n_docs < 2^63 ⇒ n_docs < 9.2e9; ANSI mode fails loudly);
    - the weight step w_j ← halfup6(w_j − lr·(g_j / (n·1e9))) is the
      same deterministic double arithmetic on the same exact integers
      everywhere, re-rounded to 6 dp so nothing compounds.

    Scale shape (r14): the per-round aggregate depends on a document
    ONLY through its quantized feature vector (x0..x5, y_e6) — every
    doc in a distinct-feature class contributes the identical p_e6,
    prediction, agreement flag, and per-feature gradient term — so
    the corpus first reduces ONCE to the sufficient statistic
    (y_e6, x0..x5, cnt) (guide §2.3 "aggregate before you shuffle":
    one feature-extraction pass + one partial-agg groupBy), and all
    rounds+1 single-row aggregation jobs run against that
    metadata-sized frame instead of re-scanning the per-doc frame
    per round. Gradients stay EXACT integer sums (cnt-weighted terms
    sum to the same integers term-for-term), so the trajectory is
    bit-identical to the per-doc form — the Python replay test pins
    it. The grouped frame is coalesce(1)+localCheckpoint pinned
    (executor-local; swap for persist(MEMORY_AND_DISK) on a real
    cluster run); only 9 longs leave the executors per round. The
    model state (6 weights) is driver-carried bounded state, the
    emb_kmeans_fit / events_markov_stationary convention.
    """
    # sufficient statistic: one row per distinct (label, feature)
    # class with its multiplicity — bounded by the feature grid's
    # quantization (and never larger than the corpus), and in practice
    # metadata-sized because the features are capped permille integers
    grouped = (
        _qc_features(spark, sf_dir)
        .groupBy("y_e6", *QC_XS)
        .agg(F.count("*").alias("cnt"))
        .coalesce(1)
        .localCheckpoint()
    )
    w = [0.0] * len(QC_XS)
    out_rows = []
    for r in range(rounds + 1):
        z = None
        for wj, xj in zip(w, QC_XS):
            term = F.lit(wj) * (F.col(xj) / F.lit(1000.0))
            z = term if z is None else z + term
        p = F.lit(0.5) + (F.lit(0.5) * z) / (F.lit(1.0) + F.abs(z))
        p_e6 = F.floor(p * F.lit(1e6) + F.lit(0.5)).cast("long")
        scored = grouped.select(
            "y_e6", *QC_XS, "cnt", p_e6.alias("p_e6")
        )
        pred = F.col("p_e6") >= 500_000
        lbl = F.col("y_e6") == 1_000_000
        cnt = F.col("cnt")
        aggs = [
            F.sum(cnt).alias("n"),
            F.sum(pred.cast("long") * cnt).alias("pred_pos"),
            F.sum((pred == lbl).cast("long") * cnt).alias("agree"),
        ] + [
            F.sum(
                (F.col("p_e6") - F.col("y_e6")) * F.col(x) * cnt
            ).alias(f"g{j}")
            for j, x in enumerate(QC_XS)
        ]
        row = scored.agg(*aggs).collect()[0]
        # sum() over an empty grouped frame is NULL where the per-doc
        # count(*) was 0 — normalize so the empty-corpus break holds
        n = int(row["n"] or 0)
        if n == 0:
            break  # empty corpus: zero trajectory rows (oracle matches)
        agree_pm = (2 * 1000 * int(row["agree"]) + n) // (2 * n)
        out_rows.append(
            (r, *w, int(row["pred_pos"]), agree_pm)
        )
        if r < rounds:
            w = [
                _halfup6(w[j] - QC_LR * (int(row[f"g{j}"]) / (n * 1e9)))
                for j in range(len(QC_XS))
            ]
    schema = (
        "round int, " + " double, ".join(QC_WEIGHTS) + " double, "
        "pred_pos long, agree_permille long"
    )
    return spark.createDataFrame(out_rows, schema).orderBy("round")


# trained weights memoized per (app, corpus-fingerprint, rounds) so
# applying the classifier (docs_classifier_yield, the streaming
# scorer) doesn't re-run training when the trajectory query already
# did — the _centered_shared convention: BOUNDED with oldest-first
# eviction (entries are only 6 floats, but the codebase convention is
# bounded memos), and the fingerprint in the key re-trains if the
# documents parquet is regenerated within one long-lived application
_QC_WEIGHTS_CACHE: dict = {}
_QC_WEIGHTS_CACHE_MAX = 8


def _qc_trained_weights(spark: SparkSession, sf_dir: str,
                        rounds: int = QC_ROUNDS) -> list:
    from ..session import corpus_fingerprint

    ck = (spark.sparkContext.applicationId, sf_dir, rounds,
          corpus_fingerprint(sf_dir, "documents"))
    if ck not in _QC_WEIGHTS_CACHE:
        while len(_QC_WEIGHTS_CACHE) >= _QC_WEIGHTS_CACHE_MAX:
            _QC_WEIGHTS_CACHE.pop(next(iter(_QC_WEIGHTS_CACHE)))
        rows = (
            docs_quality_classifier(spark, sf_dir, rounds=rounds)
            .orderBy("round").collect()
        )
        if not rows:
            _QC_WEIGHTS_CACHE[ck] = [0.0] * len(QC_XS)
        else:
            last = rows[-1]
            _QC_WEIGHTS_CACHE[ck] = [last[w] for w in QC_WEIGHTS]
    return _QC_WEIGHTS_CACHE[ck]


def classifier_scored(d: DataFrame, w: list) -> DataFrame:
    """Stateless scoring kernel: (source, y_e6, p_e6) per document at
    a FIXED weight vector — the trained classifier's serve-time form
    that the batch yield (docs_classifier_yield) runs: ONE definition
    of the engine-exact arithmetic (algebraic
    sigmoid over the shared gopher_word_stats features, integer
    micro-unit p). Pure per-row codegen after the per-doc feature
    aggregation — batch-local, no cross-batch state."""
    from .relational10 import gopher_keep_expr, gopher_word_stats

    j = gopher_word_stats(d)
    feats = j.select(
        "source",
        (gopher_keep_expr().cast("long") * F.lit(1_000_000)).alias(
            "y_e6"),
        F.lit(1000).cast("long").alias("x0"),
        F.expr("least(n_words, 100) * 10 - 500").alias("x1"),
        F.expr(
            "least((char_sum * 100) div greatest(n_words, 1), 1000)"
            " - 450"
        ).alias("x2"),
        F.expr(
            "(n_alpha * 1000) div greatest(n_words, 1) - 800"
        ).alias("x3"),
        F.expr(
            "least((n_symbols * 1000) div greatest(n_words, 1), 1000)"
            " - 100"
        ).alias("x4"),
        F.expr("least(n_stop_distinct, 10) * 100 - 150").alias("x5"),
    )
    z = None
    for wj, xj in zip(w, QC_XS):
        term = F.lit(wj) * (F.col(xj) / F.lit(1000.0))
        z = term if z is None else z + term
    p = F.lit(0.5) + (F.lit(0.5) * z) / (F.lit(1.0) + F.abs(z))
    p_e6 = F.floor(p * F.lit(1e6) + F.lit(0.5)).cast("long")
    return feats.select("source", "y_e6", p_e6.alias("p_e6"))


def classifier_source_counts(scored: DataFrame) -> DataFrame:
    """Per-source curation counters (source, n_docs, n_keep, n_agree)
    over a scoring frame — exact integer SUMS, so counters from
    disjoint shards / micro-batches add up to the corpus counters."""
    pred = F.col("p_e6") >= 500_000
    lbl = F.col("y_e6") == 1_000_000
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(pred.cast("long")).alias("n_keep"),
        F.sum((pred == lbl).cast("long")).alias("n_agree"),
    )


def classifier_yield_from_counts(counts: DataFrame) -> DataFrame:
    """The reported yield shape from the counter frame: integer
    half-up permilles, ordered by source — the batch operator's
    output, bit-identical for any frame of the same counters."""
    return counts.select(
        "source", "n_docs", "n_keep",
        F.expr(
            "(2 * 1000 * n_keep + n_docs) div (2 * n_docs)"
        ).alias("keep_permille"),
        F.expr(
            "(2 * 1000 * n_agree + n_docs) div (2 * n_docs)"
        ).alias("agree_permille"),
    ).orderBy("source")


def docs_classifier_yield(spark: SparkSession, sf_dir: str,
                          rounds: int = QC_ROUNDS) -> DataFrame:
    """The trained quality classifier APPLIED as a corpus filter —
    per-source filtering yield at the final weights (the number a
    data-mixture owner actually reads: what fraction of each source
    survives the p >= 0.5 cut, and how often the trained cut agrees
    with the rule battery it distilled). One row per source:
    (source, n_docs, n_keep, keep_permille, agree_permille).

    Scoring is the shared classifier_scored kernel (the same
    engine-exact arithmetic as training), with the trained weights
    memoized per (app, corpus, rounds) so the trajectory query and
    this one share a single training run. Scale: training's rounds+1
    passes (amortized via the memo), plus ONE scoring scan and a
    |sources|-row aggregate."""
    w = _qc_trained_weights(spark, sf_dir, rounds)
    d = _t(spark, sf_dir, "documents")
    return classifier_yield_from_counts(
        classifier_source_counts(classifier_scored(d, w))
    )


# ---------------------------------------------------------------------------
# events_type_overlap_kmv
# ---------------------------------------------------------------------------


def kmv_sketches(du: DataFrame, key: str = "user_id",
                 group: str = "event_type", k: int = 64,
                 n_salts: int = 32) -> DataFrame:
    """Per-group KMV bottom-k sketch frame (group, mins: array<double>)
    over a DISTINCT (group, key) input — events_kmv_distinct's exact
    two-stage salted merge (relational5.py), factored so the
    set-algebra layer serves the same deterministic md5 sketch.
    |groups| output rows; the only corpus-sized shuffle is the
    caller's distinct."""
    hv = (
        F.conv(
            F.substring(F.md5(F.col(key).cast("string")), 1, 8), 16, 10
        ).cast("double")
        / F.lit(4294967296.0)
    )
    hashed = du.select(
        group,
        F.pmod(key, F.lit(n_salts)).alias("salt"),
        hv.alias("hv"),
    )
    per_salt = hashed.groupBy(group, "salt").agg(
        F.slice(F.array_sort(F.collect_list("hv")), 1, k).alias("mins")
    )
    return per_salt.groupBy(group).agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("mins"))), 1, k
        ).alias("mins")
    )


def kmv_pair_overlap(sk: DataFrame, k: int,
                     group: str = "event_type") -> DataFrame:
    """KMV set algebra over a (group, mins) sketch frame: for every
    group pair (a < b), the union / intersection / Jaccard ESTIMATES
    served purely from the two bottom-k sketches (Beyer et al. 2007,
    "On Synopses for Distinct-Value Estimation Under Multiset
    Operations"): the bottom-k of a union is the bottom-k of the
    merged sketch values, ρ = |union-sketch ∩ S_a ∩ S_b| / |union
    sketch| estimates Jaccard, and intersection ≈ ρ·|A∪B|. All array
    ops run on |groups|-row frames — dimension-scale, broadcast-safe.
    Value-equality dedup (array_distinct) merges hash collisions
    identically in both engines; when the union sketch is not full
    the estimates are exact by construction.

    Beyond Jaccard, serves the ASYMMETRIC containment estimates
    C(A,B) = |A∩B|/|A| and C(B,A) = |A∩B|/|B| plus the overlap
    coefficient |A∩B|/min(|A|,|B|) — the engine's own
    docs_containment_pairs (dedup.py) proves why Jaccard alone misses
    subset relationships (a small audience wholly inside a large one
    has tiny Jaccard but containment ≈ 1); the sketch-level numbers
    close the same blind spot without touching the corpus. Each uses
    the per-set KMV estimate (m if the sketch is not full, else
    (k−1)/h_k) as the denominator and the UNROUNDED intersection
    estimate as the numerator; the permilles are floor(x + 0.5)
    double half-ups — every double the same IEEE arithmetic in both
    engines."""
    a = sk.select(F.col(group).alias("type_a"),
                  F.col("mins").alias("mins_a"))
    b = sk.select(F.col(group).alias("type_b"),
                  F.col("mins").alias("mins_b"))
    pr = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    u = F.slice(
        F.array_sort(F.array_distinct(F.concat("mins_a", "mins_b"))),
        1, k,
    )
    pr = pr.select(
        "type_a", "type_b",
        u.alias("u"), "mins_a", "mins_b",
    ).select(
        "type_a", "type_b",
        F.size("u").alias("m_u"),
        F.element_at("u", F.size("u")).alias("h_k"),
        F.size(
            F.array_intersect(
                "u", F.array_intersect("mins_a", "mins_b"))
        ).cast("long").alias("matches"),
        F.size("mins_a").alias("m_a"),
        F.element_at("mins_a", F.size("mins_a")).alias("h_a"),
        F.size("mins_b").alias("m_b"),
        F.element_at("mins_b", F.size("mins_b")).alias("h_b"),
    )
    est_u = F.when(
        F.col("m_u") < k, F.col("m_u").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.col("h_k"))
    est_a = F.when(
        F.col("m_a") < k, F.col("m_a").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.col("h_a"))
    est_b = F.when(
        F.col("m_b") < k, F.col("m_b").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.col("h_b"))
    inter = est_u * F.col("matches") / F.col("m_u")
    pm = lambda x: F.floor(x + F.lit(0.5)).cast("long")  # noqa: E731
    return pr.select(
        "type_a", "type_b", "matches",
        F.col("m_u").cast("long").alias("m_u"),
        F.round(est_u, 2).alias("kmv_union_est"),
        F.round(inter, 2).alias("kmv_inter_est"),
        F.expr(
            "(2 * 1000 * matches + m_u) div (2 * m_u)"
        ).alias("kmv_jaccard_pm"),
        F.round(est_a, 2).alias("kmv_a_est"),
        F.round(est_b, 2).alias("kmv_b_est"),
        pm(F.lit(1000.0) * inter / est_a).alias("kmv_cont_a_pm"),
        pm(F.lit(1000.0) * inter / est_b).alias("kmv_cont_b_pm"),
        pm(F.lit(1000.0) * inter / F.least(est_a, est_b)).alias(
            "kmv_overlap_pm"),
    )


def _pair_exact_audience(du: DataFrame, pairs: DataFrame) -> DataFrame:
    """The EXACT side of every pairwise audience audit — ONE
    definition shared by events_type_overlap_kmv /
    events_type_containment_kmv / events_type_overlap_hll: per
    (type_a < type_b) pair from ``pairs``, the per-type audience
    sizes (na, nb) and the exact co-audience via the user-key
    equi-join self-join over the PINNED distinct ``du``
    (|types|-bounded fan-out per user, linear in users); missing
    pairs coalesce to 0 co-users."""
    a = du.select("user_id", F.col("event_type").alias("type_a"))
    b = du.select("user_id", F.col("event_type").alias("type_b"))
    co = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("co_users"))
    )
    sizes = du.groupBy("event_type").agg(F.count("*").alias("n"))
    sa = sizes.select(F.col("event_type").alias("type_a"),
                      F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"),
                      F.col("n").alias("nb"))
    return (
        pairs.select("type_a", "type_b")
        .join(co, ["type_a", "type_b"], "left")
        .join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a", "type_b", "na", "nb",
            F.coalesce("co_users", F.lit(0)).alias("co_users"),
        )
    )


_EXACT_JACCARD_PM = (
    "(2 * 1000 * co_users + (na + nb - co_users))"
    " div (2 * (na + nb - co_users))"
)


def events_type_overlap_kmv(spark: SparkSession, sf_dir: str,
                            k: int = 64,
                            n_salts: int = 32) -> DataFrame:
    """Audience overlap between event types served FROM the KMV
    sketches, next to the exact answer: per type pair, the exact
    co-audience (events_type_cooccurrence's numbers) and the
    sketch-served union / intersection / Jaccard estimates with a
    signed permille error column — the daily-run form at 100 TB,
    where the exact user-key self-join is the weekly audit and the
    sketch algebra (|types|·k doubles of state, mergeable) answers
    every ad-hoc pair
    query without touching the corpus.

    Plan: the same (user, type) distinct pipeline feeds four
    consumers — the sketch build (salted two-stage bottom-k, no
    window; eagerly pinned as |types| rows), the two sides of the
    exact co-occurrence self-join (user-key equi-join,
    |types|-bounded fan-out), and the per-type sizes — so ``du`` is
    PINNED once (localCheckpoint: the audit pays ONE corpus-scale
    distinct instead of up to four; swap for persist(MEMORY_AND_DISK)
    on a real cluster run, the emb_top_pcs pin posture — the pinned
    frame is the |types|·|users|-bounded distinct, far smaller than
    the corpus). A daily 100 TB path would run the sketch algebra
    over kept sketches and touch no corpus; this operator certifies
    the sketch numbers against the exact ones.
    Everything after the distinct is |types|²-row arithmetic with
    broadcast joins."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct().localCheckpoint()
    # pin the |types|-row sketch frame: the pair self-join consumes it
    # twice, and without the pin each side would recompute the whole
    # corpus-scale sketch aggregation (metadata-sized state, the
    # session.pin convention — the two references differ per leg, so
    # ReusedExchange would not dedupe them)
    sk = kmv_sketches(du, k=k, n_salts=n_salts).localCheckpoint()
    est = kmv_pair_overlap(sk, k=k)
    exact = _pair_exact_audience(du, est).withColumn(
        "jaccard_pm", F.expr(_EXACT_JACCARD_PM))
    return (
        exact.join(F.broadcast(est), ["type_a", "type_b"])
        .select(
            "type_a", "type_b", "na", "nb", "co_users", "jaccard_pm",
            "kmv_union_est", "kmv_inter_est", "kmv_jaccard_pm",
            (F.col("kmv_jaccard_pm") - F.col("jaccard_pm")).alias(
                "jaccard_err_pm"),
        )
        .orderBy("type_a", "type_b")
    )


def events_type_containment_kmv(spark: SparkSession, sf_dir: str,
                                k: int = 64,
                                n_salts: int = 32) -> DataFrame:
    """Asymmetric audience containment between event types served FROM
    the KMV sketches, next to the exact answer — the subset-audit
    sibling of events_type_overlap_kmv. Jaccard structurally misses
    subset relationships (the engine's own docs_containment_pairs,
    dedup.py, exists for exactly this reason at document level): a
    niche audience living wholly inside a mass one scores a tiny
    Jaccard but containment ≈ 1000‰. Per type pair (a < b): the exact
    containments C(A,B) = co/|A| and C(B,A) = co/|B| and the overlap
    coefficient co/min(|A|,|B|) in integer half-up permille, the
    sketch-served estimates of all three (kmv_pair_overlap's new
    columns — inter_est over the per-set KMV estimates), and signed
    error columns.

    Plan: identical to events_type_overlap_kmv — ONE pinned
    (type, user) distinct feeds the sketch build, the exact
    co-occurrence self-join, and the per-type sizes; everything
    downstream is |types|²-row arithmetic with broadcast joins."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct().localCheckpoint()
    sk = kmv_sketches(du, k=k, n_salts=n_salts).localCheckpoint()
    est = kmv_pair_overlap(sk, k=k)
    exact = (
        _pair_exact_audience(du, est)
        .withColumn(
            "cont_a_pm",
            F.expr("(2 * 1000 * co_users + na) div (2 * na)"),
        )
        .withColumn(
            "cont_b_pm",
            F.expr("(2 * 1000 * co_users + nb) div (2 * nb)"),
        )
        .withColumn(
            "overlap_pm",
            F.expr(
                "(2 * 1000 * co_users + least(na, nb))"
                " div (2 * least(na, nb))"
            ),
        )
    )
    return (
        exact.join(F.broadcast(est), ["type_a", "type_b"])
        .select(
            "type_a", "type_b", "na", "nb", "co_users",
            "cont_a_pm", "cont_b_pm", "overlap_pm",
            "kmv_a_est", "kmv_b_est",
            "kmv_cont_a_pm", "kmv_cont_b_pm", "kmv_overlap_pm",
            (F.col("kmv_cont_a_pm") - F.col("cont_a_pm")).alias(
                "cont_a_err_pm"),
            (F.col("kmv_cont_b_pm") - F.col("cont_b_pm")).alias(
                "cont_b_err_pm"),
            (F.col("kmv_overlap_pm") - F.col("overlap_pm")).alias(
                "overlap_err_pm"),
        )
        .orderBy("type_a", "type_b")
    )


def events_type_overlap_hll(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Audience overlap between event types served from the HLL
    register sketches — the inclusion–exclusion sibling of
    events_type_overlap_kmv, for shops whose kept state is the HLL
    family rather than KMV: union = estimate
    over the register-MAX merge of the pair (the sketch's native
    union), intersection = est(A) + est(B) − est(A∪B) clamped at 0
    (I-E inherits both sketches' error, the standard caveat), plus
    the exact co-audience columns and a signed permille error —
    the same A/B audit shape as the KMV twin.

    Engine-exact by the events_hll_distinct convention: integer rho
    via bin()-length, order-independent dyadic register sums, one
    CASE linear-counting correction — every double both engines
    compute identically. Plan: ONE corpus-scale pass total — the
    (type, user) distinct is PINNED (localCheckpoint; swap for
    persist(MEMORY_AND_DISK) on a real cluster) and feeds the
    register build (register-max over duplicates is
    duplicate-insensitive, so registers from the distinct are
    bit-identical to registers from the raw stream), the exact
    co-occurrence self-join, and the per-type sizes; the |types|×256
    register frame is pinned too (three consumers). Pair algebra runs
    on bounded frames."""
    from .relational7 import hll_estimate, hll_registers

    ev = _t(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct().localCheckpoint()
    regs = hll_registers(du, "user_id", ["event_type"]).localCheckpoint()
    est_t = hll_estimate(regs, ["event_type"])
    types = regs.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            F.broadcast(
                types.select(F.col("event_type").alias("type_b"))),
            F.col("type_a") < F.col("type_b"),
        )
    )
    pregs = (
        pairs.join(
            regs,
            (regs["event_type"] == F.col("type_a"))
            | (regs["event_type"] == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "reg")
        .agg(F.max("mx").alias("mx"))
    )
    est_u = hll_estimate(pregs, ["type_a", "type_b"]).select(
        "type_a", "type_b", F.col("raw_est").alias("u_raw"))
    ea = est_t.select(F.col("event_type").alias("type_a"),
                      F.col("raw_est").alias("a_raw"))
    eb = est_t.select(F.col("event_type").alias("type_b"),
                      F.col("raw_est").alias("b_raw"))
    sk = (
        est_u.join(F.broadcast(ea), "type_a")
        .join(F.broadcast(eb), "type_b")
        .select(
            "type_a", "type_b", "u_raw",
            F.greatest(
                F.lit(0.0),
                (F.col("a_raw") + F.col("b_raw")) - F.col("u_raw"),
            ).alias("i_raw"),
        )
    )
    exact = _pair_exact_audience(du, sk).withColumn(
        "jaccard_pm", F.expr(_EXACT_JACCARD_PM))
    hll_pm = F.floor(
        F.lit(1000.0) * F.col("i_raw") / F.col("u_raw") + F.lit(0.5)
    ).cast("long")
    return (
        exact.join(F.broadcast(sk), ["type_a", "type_b"])
        .select(
            "type_a", "type_b", "na", "nb", "co_users", "jaccard_pm",
            F.round("u_raw", 4).alias("hll_union_est"),
            F.round("i_raw", 4).alias("hll_inter_est"),
            hll_pm.alias("hll_jaccard_pm"),
            (hll_pm - F.col("jaccard_pm")).alias("jaccard_err_pm"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# orders_forecast_ses
# ---------------------------------------------------------------------------

# α = SES_ALPHA_NUM / SES_ALPHA_DEN (exact rational so the level
# recurrence stays in integer cents)
SES_ALPHA_NUM = 1
SES_ALPHA_DEN = 4
# bounded-model precondition: the monthly aggregate is collected to
# the driver — calendar-bounded by construction (a century of months
# is 1200 rows), enforced loudly like the markov |types| cap
_SES_MAX_MONTHS = 4096

# one output shape for the whole forecaster family (snaive's shape),
# so every rung A/Bs on a single join
FORECAST_SCHEMA = (
    "o_year long, o_month long, rev_c long, forecast_c long, "
    "ape_permille long"
)


def _hup(x: int, d: int) -> int:
    """Sign-aware half-up of x/d (d > 0) in exact integers — the
    integer-space twin of _halfup6, shared by every forecaster
    recurrence (and replayed identically by the oracles' _hup_sql)."""
    if x >= 0:
        return (2 * x + d) // (2 * d)
    return -((2 * (-x) + d) // (2 * d))


def collect_months(m: DataFrame, op_name: str) -> list:
    """Collect a (o_year, o_month, rev_c) monthly aggregate to the
    driver under the loud calendar-bound cap (ONE job via
    limit(cap+1)), sorted — the bounded-model staging every
    forecaster recurrence shares."""
    rows = m.limit(_SES_MAX_MONTHS + 1).collect()
    if len(rows) > _SES_MAX_MONTHS:
        raise ValueError(
            f"{op_name}: > {_SES_MAX_MONTHS} months; the driver-side "
            f"recurrence is for calendar-bounded monthly aggregates "
            f"only"
        )
    return sorted(
        (int(r["o_year"]), int(r["o_month"]), int(r["rev_c"]))
        for r in rows
    )


def ses_backtest(months: list, alpha_num: int = SES_ALPHA_NUM,
                 alpha_den: int = SES_ALPHA_DEN) -> list:
    """The SES one-step-ahead recurrence as a pure function of the
    sorted month list — exact integer cents, halfup per step."""
    out = []
    level = None
    for y, mo, rev in months:
        if level is None:
            level = rev
            continue
        fc = level
        d = max(rev, 1)
        ape = (2 * 1000 * abs(rev - fc) + d) // (2 * d)
        out.append((y, mo, rev, fc, ape))
        x = alpha_num * rev + (alpha_den - alpha_num) * level
        level = (2 * x + alpha_den) // (2 * alpha_den)
    return out


def holt_backtest(months: list, alpha_num: int = 1, alpha_den: int = 4,
                  beta_num: int = 1, beta_den: int = 4) -> list:
    """Holt's linear recurrence as a pure function of the month list —
    level + signed trend, sign-aware halfup (_hup) per update."""
    out = []
    level = None
    trend = 0
    for y, mo, rev in months:
        if level is None:
            level = rev
            continue
        fc = level + trend
        dd = max(rev, 1)
        ape = (2 * 1000 * abs(rev - fc) + dd) // (2 * dd)
        out.append((y, mo, rev, fc, ape))
        new_level = _hup(
            alpha_num * rev + (alpha_den - alpha_num) * (level + trend),
            alpha_den,
        )
        trend = _hup(
            beta_num * (new_level - level)
            + (beta_den - beta_num) * trend,
            beta_den,
        )
        level = new_level
    return out


def theta_backtest(months: list,
                   alpha_num: int = 1, alpha_den: int = 4) -> list:
    """Theta-method (θ = 2) one-step-ahead recurrence as a pure
    function of the month list — the M3-competition winner
    (Assimakopoulos & Nikolopoulos 2000) in its Hyndman–Billah
    SES-plus-drift equivalent form: the forecast is the SES level
    plus a drift proportional to the OLS slope of the WHOLE history
    against its time index, which is what lets theta track a trending
    series SES alone lags behind, without Holt's tendency to chase
    transient ramps (the drift refits on ALL history, not on recent
    deltas).

    The engine's exact definition (documented, since published theta
    variants differ in the tail term): at month t with n ≥ 2 prior
    months consumed,

        slope_num = n·Σiy − Σi·Σy        (exact integers, i = 1..n)
        slope_den = n·Σi² − (Σi)²        (> 0 for n ≥ 2)
        drift     = hup(slope_num·α_den / (2·α_num·slope_den))
                    (= b̂/(2α), one sign-aware half-up rounded
                    integer — the Hyndman–Billah h = 1 drift with the
                    geometric (1−α)ⁿ tail dropped, the standard
                    large-n simplification; = 2·b̂ at the default
                    α = 1/4, and the multiplier follows α so the
                    tunable level and the drift stay the SAME theta)
        fc_t      = level + drift
        level'    = hup(α·rev + (1−α)·level)       (plain SES)

    Everything is exact integer cents with sign-aware half-up per
    update (the family convention), so the oracle's recursive CTE
    replays it bit-for-bit carrying the five running sums as HUGEINT
    columns. n < 2 months of history ⇒ drift = 0 (degenerates to
    SES exactly, pinned in tests); a perfectly linear ramp halves
    SES's steady-state lag (also pinned)."""
    out = []
    level = None
    n = si = sy = siy = sii = 0
    for y, mo, rev in months:
        if level is None:
            level = rev
            n, si, sy, siy, sii = 1, 1, rev, rev, 1
            continue
        if n >= 2:
            num_b = n * siy - si * sy
            den_b = n * sii - si * si
            drift = _hup(alpha_den * num_b,
                         2 * alpha_num * den_b)
        else:
            drift = 0
        fc = level + drift
        dd = max(rev, 1)
        ape = (2 * 1000 * abs(rev - fc) + dd) // (2 * dd)
        out.append((y, mo, rev, fc, ape))
        level = _hup(
            alpha_num * rev + (alpha_den - alpha_num) * level,
            alpha_den,
        )
        n += 1
        si += n
        sy += rev
        siy += n * rev
        sii += n * n
    return out


def orders_forecast_theta(spark: SparkSession, sf_dir: str,
                          alpha_num: int = 1,
                          alpha_den: int = 4) -> DataFrame:
    """Theta-method one-step-ahead backtest of monthly order revenue
    — the sixth rung of the forecaster family (snaive / SES / Holt /
    damped Holt / HW / theta), the M3 winner that adds a
    whole-history OLS drift to the SES level; see theta_backtest for
    the engine's exact definition and its relation to the published
    variants. Same output shape as the rest of the family, so all
    rungs A/B on one join; fewer than two history months degenerates
    to orders_forecast_ses EXACTLY (pinned in tests).

    Engine-exact by the family convention (exact integer cents,
    sign-aware halfup per update; the drift is ONE rounded integer
    from five exact running sums) and replayed by the staged oracle's
    recursive CTE (__spark_entry__._theta_sql). Corpus work: the
    shared _monthly_rev scan; the recurrence is the pure
    theta_backtest kernel under the shared month cap.

    Round-13 staging note: unit-tested + staged oracle + CLI-visible
    via staged_queries(); registration follows the rotation."""
    months = collect_months(
        _monthly_rev(spark, sf_dir), "orders_forecast_theta")
    return spark.createDataFrame(
        theta_backtest(months, alpha_num, alpha_den),
        FORECAST_SCHEMA,
    ).orderBy("o_year", "o_month")


def holt_damped_backtest(months: list,
                         alpha_num: int = 1, alpha_den: int = 4,
                         beta_num: int = 1, beta_den: int = 4,
                         phi_num: int = 4, phi_den: int = 5) -> list:
    """Damped-trend Holt (Gardner–McKenzie) recurrence as a pure
    function of the month list — the rung between Holt and HW for
    series whose trend should flatten at the horizon instead of
    extrapolating linearly forever. The damped trend pb = hup(φ·trend)
    is computed ONCE per step as a rounded integer and reused in all
    three places (forecast, level update, trend update), which is
    what keeps the recurrence engine-exact and lets the oracle replay
    it with a single inlined expression:

        pb      = hup(φ·trend)
        fc_t    = level + pb
        level'  = hup(α·rev + (1−α)·(level + pb))
        trend'  = hup(β·(level'−level) + (1−β)·pb)

    φ = phi_num/phi_den in (0, 1]; φ = 1 gives pb = trend exactly, so
    the recurrence degenerates to holt_backtest bit-for-bit (pinned
    in tests)."""
    out = []
    level = None
    trend = 0
    for y, mo, rev in months:
        if level is None:
            level = rev
            continue
        pb = _hup(phi_num * trend, phi_den)
        fc = level + pb
        dd = max(rev, 1)
        ape = (2 * 1000 * abs(rev - fc) + dd) // (2 * dd)
        out.append((y, mo, rev, fc, ape))
        new_level = _hup(
            alpha_num * rev + (alpha_den - alpha_num) * (level + pb),
            alpha_den,
        )
        trend = _hup(
            beta_num * (new_level - level)
            + (beta_den - beta_num) * pb,
            beta_den,
        )
        level = new_level
    return out


def hw_backtest(months: list, alpha_num: int = 1, alpha_den: int = 4,
                beta_num: int = 1, beta_den: int = 4,
                gamma_num: int = 1, gamma_den: int = 4) -> list:
    """Holt-Winters ADDITIVE recurrence (period 12, seasonal state
    keyed by CALENDAR month 1..12 so missing months cannot shift the
    index): forecast_t = level + trend + s[month]; then
    level' = hup(α·(rev − s[month]) + (1−α)·(level+trend)),
    trend' = hup(β·(level'−level) + (1−β)·trend),
    s[month] ← hup(γ·(rev − level') + (1−γ)·s[month]).
    Seasonal state inits at 0 (the first cycle behaves exactly like
    Holt, then seasonality is learned) — the zero init is what keeps
    the recurrence engine-exact with no decomposition preamble, and
    γ=0 degenerates to Holt EXACTLY (pinned in tests)."""
    out = []
    level = None
    trend = 0
    seas = {m: 0 for m in range(1, 13)}
    for y, mo, rev in months:
        if level is None:
            level = rev
            continue
        fc = level + trend + seas[mo]
        dd = max(rev, 1)
        ape = (2 * 1000 * abs(rev - fc) + dd) // (2 * dd)
        out.append((y, mo, rev, fc, ape))
        new_level = _hup(
            alpha_num * (rev - seas[mo])
            + (alpha_den - alpha_num) * (level + trend),
            alpha_den,
        )
        trend = _hup(
            beta_num * (new_level - level)
            + (beta_den - beta_num) * trend,
            beta_den,
        )
        seas[mo] = _hup(
            gamma_num * (rev - new_level)
            + (gamma_den - gamma_num) * seas[mo],
            gamma_den,
        )
        level = new_level
    return out


def _monthly_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forecaster family's shared corpus stage: exact integer-cent
    monthly order revenue (one scan + one partial-agg shuffle to the
    calendar-bounded frame)."""
    from ..functions import money as M

    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.month("o_orderdate").cast("long").alias("o_month"),
        )
        .agg(F.sum(M.cents("o_totalprice")).alias("rev_c"))
    )


def orders_forecast_ses(spark: SparkSession, sf_dir: str,
                        alpha_num: int = SES_ALPHA_NUM,
                        alpha_den: int = SES_ALPHA_DEN) -> DataFrame:
    """Simple-exponential-smoothing one-step-ahead backtest of monthly
    order revenue — the rung above orders_forecast_snaive every
    demand planner climbs next (same output shape, so the two APE
    columns A/B directly). Forecast for month t is the smoothed level
    after month t−1; level updates as
    level ← halfup((α·rev + (1−α)·level) ), α = alpha_num/alpha_den
    carried as an EXACT integer-cent recurrence (halfup division by
    alpha_den each step), initialized at the first month's actual.

    Engine-exact: revenue aggregates to exact integer cents (one
    corpus scan, partial-agg), and the sequential recurrence — which
    no window can express because each level depends on the rounded
    previous level — runs driver-side over the CALENDAR-BOUNDED
    monthly frame (the events_markov_stationary bounded-model-state
    convention, cap enforced loudly), replayed by the oracle as a
    DuckDB recursive CTE stepping the identical integer arithmetic;
    the APE guard greatest(rev, 1) keeps a zero-revenue month
    (credits netting to zero) from crashing the division, guarded
    identically in the oracle.
    Scale shape: the corpus-sized work is exactly one scan + one
    partial-agg shuffle to |months| rows; the iteration is O(months)
    integer ops on the driver — identical at 100 TB. The recurrence
    is the shared pure-Python ses_backtest kernel.
    """
    months = collect_months(
        _monthly_rev(spark, sf_dir), "orders_forecast_ses")
    return spark.createDataFrame(
        ses_backtest(months, alpha_num, alpha_den), FORECAST_SCHEMA
    ).orderBy("o_year", "o_month")


def orders_forecast_holt(spark: SparkSession, sf_dir: str,
                         alpha_num: int = 1, alpha_den: int = 4,
                         beta_num: int = 1,
                         beta_den: int = 4) -> DataFrame:
    """Holt's linear (double exponential) smoothing backtest — the
    trend-aware rung above orders_forecast_ses, same output shape
    (o_year, o_month, rev_c, forecast_c, ape_permille) so all three
    forecasters (snaive / SES / Holt) A/B on one join.

    One-step-ahead: forecast_t = level + trend (both integer cents);
    then level' = halfup(α·rev + (1−α)·(level+trend)) and
    trend' = halfup(β·(level'−level) + (1−β)·trend), α, β exact
    rationals, trend signed (sign-aware halfup, the _halfup6
    convention in integer space). Init: level = first month's actual,
    trend = 0 — so α=1, β=0 degenerates to the naive last-value
    forecast exactly like SES's α=1 (pinned in tests). The corpus
    work is one scan + one partial-agg to the calendar-bounded
    monthly frame; the sequential recurrence runs driver-side under
    the shared month cap (the orders_forecast_ses convention). The
    oracle is a recursive CTE (the SES precedent). The recurrence is
    the shared pure-Python holt_backtest kernel."""
    months = collect_months(
        _monthly_rev(spark, sf_dir), "orders_forecast_holt")
    return spark.createDataFrame(
        holt_backtest(months, alpha_num, alpha_den, beta_num, beta_den),
        FORECAST_SCHEMA,
    ).orderBy("o_year", "o_month")


def orders_forecast_hw(spark: SparkSession, sf_dir: str,
                       alpha_num: int = 1, alpha_den: int = 4,
                       beta_num: int = 1, beta_den: int = 4,
                       gamma_num: int = 1,
                       gamma_den: int = 4) -> DataFrame:
    """Holt-Winters ADDITIVE one-step-ahead backtest of monthly order
    revenue — the seasonal capstone of the forecaster ladder
    (snaive / SES / Holt / HW), same output shape so all four A/B on
    one join. forecast_t = level + trend + s[calendar month]; the
    seasonal index is keyed by calendar month 1..12 (not position),
    so a missing month cannot shift the cycle, and it inits at ZERO —
    the first cycle behaves exactly like Holt, then seasonality is
    learned (γ=0 degenerates to Holt EXACTLY, pinned in tests; the
    zero init is what keeps the recurrence engine-exact with no
    decomposition preamble).

    Engine-exact by the family convention: exact integer cents, every
    update a sign-aware integer halfup (_hup), replayed by the staged
    oracle as a recursive CTE carrying the 12 seasonal columns and
    rotating exactly one per step (__spark_entry__._hw_sql). Corpus
    work: the shared _monthly_rev scan; the recurrence is the pure
    hw_backtest kernel under the shared month cap.

    Registered in round 11 (staged in r9): first driver row this
    round, leading the rotation with the rest of the staged backlog."""
    months = collect_months(
        _monthly_rev(spark, sf_dir), "orders_forecast_hw")
    return spark.createDataFrame(
        hw_backtest(months, alpha_num, alpha_den, beta_num, beta_den,
                    gamma_num, gamma_den),
        FORECAST_SCHEMA,
    ).orderBy("o_year", "o_month")


def orders_forecast_holt_damped(spark: SparkSession, sf_dir: str,
                                alpha_num: int = 1, alpha_den: int = 4,
                                beta_num: int = 1, beta_den: int = 4,
                                phi_num: int = 4,
                                phi_den: int = 5) -> DataFrame:
    """Damped-trend Holt one-step-ahead backtest of monthly order
    revenue — the Gardner–McKenzie rung between Holt and HW: the
    trend contribution is damped by φ each step (default 4/5), so a
    transient revenue ramp stops being extrapolated linearly. Same
    output shape as the rest of the forecaster family, so all five
    rungs A/B on one join; φ = 1 degenerates to orders_forecast_holt
    EXACTLY (pinned in tests).

    Engine-exact by the family convention (exact integer cents,
    sign-aware halfup per update; the damped trend hup(φ·b) is ONE
    rounded integer reused by forecast, level and trend updates) and
    replayed by the staged oracle's recursive CTE
    (__spark_entry__._holt_damped_sql). Corpus work: the shared
    _monthly_rev scan; the recurrence is the pure
    holt_damped_backtest kernel under the shared month cap.

    Registered in round 12 (all eight staged operators at once,
    per the r11 verdict); oracle parity-validated while staged."""
    months = collect_months(
        _monthly_rev(spark, sf_dir), "orders_forecast_holt_damped")
    return spark.createDataFrame(
        holt_damped_backtest(months, alpha_num, alpha_den,
                             beta_num, beta_den, phi_num, phi_den),
        FORECAST_SCHEMA,
    ).orderBy("o_year", "o_month")


def snaive_backtest(months: list) -> list:
    """orders_forecast_snaive's exact numbers as a pure function of
    the sorted month list: forecast = the most recent PRIOR year's
    value for the same calendar month (the window's lag within the
    month partition ordered by year — a gap year falls back to the
    latest year that has the month, exactly like lag()), APE dividing
    by rev_c directly (the snaive operator's guard-free formula,
    relational11.py). Feeds the tournament."""
    by_month: dict = {}
    out = []
    for y, mo, rev in months:
        if mo in by_month:
            fc = by_month[mo]
            out.append(
                (y, mo, rev, fc,
                 (2 * 1000 * abs(rev - fc) + rev) // (2 * rev)))
        by_month[mo] = rev
    return out


def orders_forecast_tournament(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The forecaster family's A/B capstone: all five rungs
    (snaive / SES / Holt / damped Holt / HW) backtested over the SAME
    monthly frame and scored side by side — one row per method with
    its month count, half-up integer mean APE permille, and worst
    month. This is the query a demand planner actually runs to pick
    the rung, from ONE corpus scan (the shared _monthly_rev
    aggregate; all five recurrences are driver-side pure kernels over
    the same collected months, the bounded-model convention).

    Engine-exact: each arm's APE rows are its registered operator's
    numbers bit-for-bit (shared kernels, pinned in tests), and the
    summary is integer arithmetic (mean = halfup of an exact integer
    sum). The staged oracle unions the four arms' SQL (the recursive
    CTEs run inside derived tables) and aggregates identically.

    Registered in round 11 (staged in r9): first driver row this
    round; the damped-Holt arm joined the union in round 11 alongside
    its staged standalone operator."""
    months = collect_months(
        _monthly_rev(spark, sf_dir), "orders_forecast_tournament")
    arms = {
        "hw": hw_backtest(months),
        "holt": holt_backtest(months),
        "holt_damped": holt_damped_backtest(months),
        "ses": ses_backtest(months),
        "snaive": snaive_backtest(months),
    }
    rows = []
    for method in sorted(arms):
        r = arms[method]
        n = len(r)
        if n == 0:
            continue
        s = sum(ape for *_x, ape in r)
        rows.append(
            (method, n, (2 * s + n) // (2 * n),
             max(ape for *_x, ape in r))
        )
    return spark.createDataFrame(
        rows,
        "method string, n_months long, mean_ape_pm long, "
        "max_ape_pm long",
    ).orderBy("method")


# ---------------------------------------------------------------------------
# orders_bloom_pruned
# ---------------------------------------------------------------------------


def orders_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-finished-order revenue by return flag/status, computed
    through ``bloom_pruned_join`` (operators/skew.py): the filtered
    orders build a broadcast Bloom bitset that drops non-matching
    lineitem rows BEFORE the join shuffle — at 100 TB the shuffle
    carries ~an eighth of the fact table instead of all of it, the
    join-reduction move the engine documents everywhere and this
    query demonstrates end-to-end.

    Bloom filters have no false negatives, so the result is EXACTLY
    the plain join's (the oracle runs the plain SQL join); the prune
    is pure shuffle-volume savings, plan-gated in
    tests/test_plans.py (probe-side filter below the join) and
    measured in tests/test_relational14.py (pruned rows << fact
    rows). Revenue flows as exact 1e-4 money units.
    """
    from ..functions import money as M
    from .skew import bloom_pruned_join

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderstatus") == "F")
    ).select("o_orderkey")
    j = bloom_pruned_join(li, o, "l_orderkey", "o_orderkey")
    return (
        j.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(M.rev_e4("l_extendedprice", "l_discount")).alias(
                "rev_e4"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
