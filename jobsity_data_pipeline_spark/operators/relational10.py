"""Round-4 curation wave — four more first-class LLM-training-data
operators over the reference's ingest scope (the documents/embeddings
tables), each with an exact DuckDB oracle twin:

- docs_gopher_rules: the Gopher quality-rule battery (Rae et al. 2021,
  arXiv:2112.11446 §A1.1) as per-doc pass flags — word-count bounds,
  mean word length, symbol-to-word ratio, alphabetic-word fraction,
  stopword presence. All thresholds compare in INTEGER arithmetic
  (e.g. ``char_sum BETWEEN 3*n_words AND 10*n_words`` instead of a
  float mean), so the flags are engine-exact by construction.
- docs_dsir_weights: DSIR-style importance weights (Xie et al. 2023,
  arXiv:2302.03169): per-doc mean log-ratio of an add-1-smoothed
  target-domain unigram LM over the raw-corpus LM — the score that
  ranks raw documents by target-domain resemblance for resampling.
- emb_matryoshka_recall: truncated-dimension retrieval quality (the
  Matryoshka representation question, Kusupati et al. 2022): exact
  top-k with only the first ``trunc_dim`` coordinates scored against
  the full-dimension exact top-k.
- docs_prefix_clusters: shared-prefix boilerplate clusters (crawl
  header/footer detection): docs grouped by the hash of their leading
  64 chars, keep-lowest-id accounting like docs_exact_dedup.

Scale notes (100 TB): every operator is scan + partial-agg shuffles on
small keys (token, hash, qid); the only broadcasts are the unigram
vocab (Zipf-bounded — cap with TOP-K + UNK for open-web corpora, the
docs_unigram_logprob convention) and the n_queries query vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..session import ensure_parallelism, read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return ensure_parallelism(spark, read_table(spark, sf_dir, name))


GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000


def gopher_word_stats(d: DataFrame) -> DataFrame:
    """Per-doc integer word statistics the Gopher battery judges:
    (doc_id, source, n_symbols, n_words, char_sum, n_alpha,
    n_stop_distinct), zero-filled for token-less docs. One explode +
    one partial-agg shuffle on doc_id. SHARED staging: both
    docs_gopher_rules and the trained quality classifier's feature
    extraction (relational14._qc_features) consume this frame, so the
    weak label the classifier distills can never silently drift from
    the battery it claims to distill."""
    staged = d.select(
        "doc_id", "source",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"#|\.\.\."), 0)
        ).cast("long").alias("n_symbols"),
        TX.tokens("text").alias("tk"),
    )
    tok = staged.select("doc_id", F.explode("tk").alias("w"))
    stop = list(TX.STOPWORDS["en"])
    wstats = tok.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(F.length("w")).alias("char_sum"),
        F.sum(F.col("w").rlike("[A-Za-z]").cast("long")).alias("n_alpha"),
        F.countDistinct(
            F.when(F.col("w").isin(stop), F.col("w"))
        ).alias("n_stop_distinct"),
    )
    return (
        staged.select("doc_id", "source", "n_symbols")
        .join(wstats, "doc_id", "left")
        .select(
            "doc_id", "source", "n_symbols",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("char_sum", F.lit(0)).alias("char_sum"),
            F.coalesce("n_alpha", F.lit(0)).alias("n_alpha"),
            F.coalesce("n_stop_distinct", F.lit(0)).alias("n_stop_distinct"),
        )
    )


def gopher_flags() -> dict:
    """The five rule flags as boolean Columns over a gopher_word_stats
    frame — integer cross-multiplied thresholds, ONE definition (the
    classifier's weak label is the conjunction of exactly these)."""
    n, cs = F.col("n_words"), F.col("char_sum")
    return {
        "word_count_ok":
            (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS),
        "mean_word_ok": (cs >= 3 * n) & (cs <= 10 * n) & (n > 0),
        "symbol_ok": (10 * F.col("n_symbols")) <= n,
        "alpha_ok": (10 * F.col("n_alpha")) >= (8 * n),
        "stop_ok": F.col("n_stop_distinct") >= 2,
    }


def gopher_keep_expr():
    """AND of all gopher_flags() as one boolean Column."""
    keep = None
    for v in gopher_flags().values():
        keep = v if keep is None else (keep & v)
    return keep


def docs_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule battery per document (arXiv:2112.11446 §A1.1,
    adapted to the deterministic-token convention of this repo):

    - ``word_count_ok``: 50 <= n_words <= 100000
    - ``mean_word_ok``: mean word length in [3, 10] chars
    - ``symbol_ok``: (# + ellipsis occurrences) / n_words <= 0.1
    - ``alpha_ok``: >= 80% of words contain an alphabetic char
    - ``stop_ok``: >= 2 DISTINCT English stopwords present
    - ``keep``: all of the above

    Every ratio threshold is evaluated in integer cross-multiplied
    form (10*n_symbols <= n_words, 10*n_alpha >= 8*n_words, char_sum
    BETWEEN 3*n_words AND 10*n_words) — no float division anywhere, so
    the flags can never sit on an engine-dependent rounding boundary.
    One explode + one partial-agg shuffle on doc_id; the per-doc text
    stats ride the same scan (gopher_word_stats, shared with the
    trained classifier's feature extraction).
    """
    d = _t(spark, sf_dir, "documents")
    j = gopher_word_stats(d)
    flags = gopher_flags()
    out = j.select(
        "doc_id", "source", "n_words",
        *[v.cast("int").alias(k) for k, v in flags.items()],
    )
    keep = None
    for k in flags:
        keep = F.col(k) if keep is None else (keep * F.col(k))
    return out.withColumn("keep", keep.cast("int")).orderBy("doc_id")


DSIR_TARGET_SOURCES = ("src0", "src1")


def capped_vocab(vocab: DataFrame, top_v: int,
                 freq_col: str = "r_freq") -> DataFrame:
    """TOP-``top_v`` + UNK capping for unigram-LM vocabularies — the
    move that keeps the broadcast model bounded on an open-web corpus
    where the raw vocabulary grows with the crawl. Rows ranked by
    (freq desc, tok) keep their token; the tail collapses into one
    ``<unk>`` row whose counts are the tail sums, so every count total
    is preserved and downstream smoothed probabilities still sum to 1
    over the capped vocab.

    Selection is the 100 TB form this docstring used to only promise:
    a freq-band prefilter, never a global rank over the raw
    vocabulary. The frequency HISTOGRAM (one row per distinct freq,
    << vocab) finds the boundary frequency f* where the cumulative
    head crosses top_v; every token above f* keeps unconditionally
    (a broadcast-scalar filter), and only the f* band — of which at
    most top_v tokens can qualify — goes through a distributed
    TakeOrdered(top_v) by token, with the final slot cut ranked on
    that <= top_v-row frame. The one ordered window runs over the
    histogram, bounded by distinct freq values.

    Deterministic: ties on freq break on the token string, so the same
    corpus always caps to the same vocab on any engine.
    """
    from pyspark.sql import Window

    agg_cols = [c for c in vocab.columns if c != "tok"]
    hist = vocab.groupBy(freq_col).agg(F.count("*").alias("_m"))
    w_h = (
        Window.orderBy(F.col(freq_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist2 = hist.withColumn(
        "_above", F.coalesce(F.sum("_m").over(w_h), F.lit(0))
    )
    # boundary band: the lowest frequency whose head-so-far still has
    # room; slots = how many of its tokens fit
    b = (
        hist2.where(F.col("_above") < top_v)
        .orderBy(F.col(freq_col).asc())
        .limit(1)
        .select(
            F.col(freq_col).alias("_f_star"),
            (F.lit(top_v) - F.col("_above")).alias("_slots"),
        )
    )
    vb = vocab.crossJoin(F.broadcast(b))
    head_hi = vb.where(F.col(freq_col) > F.col("_f_star")).drop(
        "_f_star", "_slots"
    )
    band = vb.where(F.col(freq_col) == F.col("_f_star"))
    band_top = band.orderBy("tok").limit(top_v)
    w_b = Window.orderBy("tok")
    band_keep = (
        band_top.withColumn("_rk", F.row_number().over(w_b))
        .where(F.col("_rk") <= F.col("_slots"))
        .drop("_rk", "_f_star", "_slots")
    )
    head = head_hi.unionByName(band_keep)
    tail_rows = vb.where(F.col(freq_col) < F.col("_f_star")).drop(
        "_f_star", "_slots"
    ).unionByName(
        band.drop("_f_star", "_slots")
        .join(band_keep.select("tok"), "tok", "left_anti")
    )
    tail = (
        tail_rows.agg(*[F.sum(c).alias(c) for c in agg_cols])
        .select(F.lit("<unk>").alias("tok"), *agg_cols)
        .where(F.coalesce(F.col(agg_cols[0]), F.lit(0)) > 0)
    )
    return head.unionByName(tail)


def docs_dsir_weights(
    spark: SparkSession, sf_dir: str,
    target_sources: tuple[str, ...] = DSIR_TARGET_SOURCES,
    vocab_cap: int | None = None,
) -> DataFrame:
    """DSIR importance weight per document (arXiv:2302.03169, unigram
    feature space): mean over tokens of
    ``log p_target(w) - log p_raw(w)`` with add-1 smoothing over the
    raw vocabulary — positive means the doc looks more like the target
    domain than the corpus average, the resampling score for curating
    a target-shaped subset from a raw crawl.

    Two partial-agg passes over one exploded token stream (target
    counts restrict the same aggregate) and a broadcast vocab join —
    the docs_unigram_logprob shape with a second numerator. Float
    conventions match it too: the per-doc mean rounds to 6 dp.

    ``vocab_cap``: TOP-V + UNK capping (capped_vocab) bounds the
    broadcast model on open-web corpora whose raw vocabulary grows
    with the crawl; tokens outside the head score through the shared
    ``<unk>`` ratio. None (the oracle-checked default) keeps the full
    vocabulary.
    """
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source",
        F.explode(TX.tokens("text")).alias("tok"),
    )
    is_target = F.col("source").isin(list(target_sources))
    vocab = toks.groupBy("tok").agg(
        F.count("*").alias("r_freq"),
        F.sum(is_target.cast("long")).alias("t_freq"),
    )
    if vocab_cap is not None:
        vocab = capped_vocab(vocab, vocab_cap)
        known = vocab.where(F.col("tok") != "<unk>").select("tok")
        toks = toks.join(F.broadcast(known.withColumn("_k", F.lit(1))),
                         "tok", "left").select(
            "doc_id", "source",
            F.when(F.col("_k").isNull(), F.lit("<unk>"))
            .otherwise(F.col("tok")).alias("tok"),
        )
    totals = vocab.agg(
        F.sum("r_freq").alias("r_total"),
        F.sum("t_freq").alias("t_total"),
        F.count("*").alias("v_size"),
    )
    model = vocab.crossJoin(F.broadcast(totals)).select(
        "tok",
        (
            F.log(
                (F.col("t_freq") + 1)
                / (F.col("t_total") + F.col("v_size"))
            )
            - F.log(
                (F.col("r_freq") + 1)
                / (F.col("r_total") + F.col("v_size"))
            )
        ).alias("logratio"),
    )
    return (
        toks.join(F.broadcast(model), "tok")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("logratio"), 6).alias("dsir_weight"),
        )
        .select(
            "doc_id", "source", "n_tokens", "dsir_weight",
            is_target.cast("int").alias("is_target"),
        )
        .orderBy("doc_id")
    )


def emb_matryoshka_recall(spark: SparkSession, sf_dir: str,
                          n_queries: int = 8, k: int = 5,
                          trunc_dim: int = 16) -> DataFrame:
    """Truncated-dimension retrieval quality: exact cosine top-k using
    only the first ``trunc_dim`` coordinates, scored as recall@k
    against the full-dimension exact top-k — the measurement behind
    Matryoshka-style dimension truncation (store/search short prefixes,
    keep most of the recall at a fraction of the cost; at 100 TB the
    truncated scan moves trunc_dim/dim of the bytes).

    Both rankings are exact and tie-stable (round(cos,6) desc, nid),
    so unlike the LSH/IVF family this quality gate is itself
    oracle-checked. Broadcast query join, sequential JVM fold — the
    emb_cosine_topk shape twice, both rankings through the shared
    mergeable ``grouped_topk`` kernel (no per-qid window sorts a
    corpus-sized frame in one task).
    """
    from ..functions.vectors import as_double, dot, norm
    from .ranking import grouped_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )

    def topk(frame: DataFrame, vcol: str) -> DataFrame:
        q = frame.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("qid"), F.col(vcol).alias("qv")
        )
        nn = norm(F.col("qv")) * norm(F.col(vcol))
        cos = F.when(
            nn > 0, dot(F.col("qv"), F.col(vcol)) / nn
        ).otherwise(F.lit(0.0))
        scored = frame.join(
            F.broadcast(q), F.col("vec_id") != F.col("qid")
        ).select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.round(cos, 6).alias("cos6"),
        )
        return grouped_topk(
            scored,
            ["qid"],
            [-F.col("cos6"), F.col("nid")],
            [F.col("nid")],
            k,
            F.col("nid"),
        )

    full = topk(emb, "v").select("qid", "nid").localCheckpoint(eager=False)
    trunc = topk(
        emb.select("vec_id", F.slice("v", 1, trunc_dim).alias("tv")), "tv"
    ).select("qid", "nid")
    hits = (
        trunc.join(full, ["qid", "nid"], "left_semi")
        .groupBy("qid")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        full.select("qid").distinct()
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.lit(k), 4
            ).alias("recall_at_k"),
        )
        .orderBy("qid")
    )


def events_watermark_lateness(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Out-of-orderness profile that SIZES a streaming watermark:
    treating event_id as arrival order, each event's lateness is the
    running max event-time seen so far (per event_type) minus its own
    event time. The report counts, per type, how many events a
    watermark of 0 / 1 min / 5 min / 15 min would have dropped — the
    empirical basis for a streaming ``withWatermark`` threshold
    instead of a guessed delay.

    Lateness is computed in integer microseconds (unix_micros both
    engines) and bucketed with integer comparisons — engine-exact.
    The running max is a two-pass segmented scan, not one whole-type
    window: arrival order chunks into ``seg_rows``-wide segments of
    event_id, each (type, segment) computes its local running max in a
    bounded window, the per-segment maxima frame (tiny: types x
    segments) yields each segment's predecessor running max, and the
    true running max is greatest(local, predecessor) after a broadcast
    join back. Identical to the single-sort answer (max splits at any
    prefix boundary); at 100 TB no task sorts more than seg_rows
    events and the only per-type frame is segment-cardinality.
    """
    from pyspark.sql import Window

    seg_rows = 65536
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.unix_micros("ts").alias("us")
    ).withColumn("seg", F.expr(f"event_id div {seg_rows}"))
    w_local = (
        Window.partitionBy("event_type", "seg")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_off = (
        Window.partitionBy("event_type")
        .orderBy("seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ev.groupBy("event_type", "seg")
        .agg(F.max("us").alias("seg_max"))
        .select(
            "event_type", "seg", F.max("seg_max").over(w_off).alias("prev_max")
        )
    )
    run = F.greatest(
        F.col("run_local"), F.coalesce(F.col("prev_max"), F.col("run_local"))
    )
    late = (
        ev.withColumn("run_local", F.max("us").over(w_local))
        .join(F.broadcast(offsets), ["event_type", "seg"])
        .select("event_type", (run - F.col("us")).alias("late_us"))
    )
    lu = F.col("late_us")
    return (
        late.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((lu > 0).cast("long")).alias("n_late"),
            F.sum((lu > 60_000_000).cast("long")).alias("late_gt_1m"),
            F.sum((lu > 300_000_000).cast("long")).alias("late_gt_5m"),
            F.sum((lu > 900_000_000).cast("long")).alias("late_gt_15m"),
            F.max("late_us").alias("_mx"),
        )
        .select(
            "event_type", "n_events", "n_late", "late_gt_1m",
            "late_gt_5m", "late_gt_15m",
            F.expr("_mx div 1000000").alias("max_late_s"),
        )
        .orderBy("event_type")
    )


def docs_prefix_clusters(spark: SparkSession, sf_dir: str,
                         prefix_chars: int = 64) -> DataFrame:
    """Shared-prefix boilerplate clusters: documents grouped by the
    md5 of their leading ``prefix_chars`` characters — the cheap
    detector for crawl pages that differ only past a templated header.
    Clusters of one are reported too (n_docs = 1 ⇒ unique prefix), so
    the output doubles as a prefix-entropy profile; keep-lowest-id
    matches docs_exact_dedup. One shuffle on the 16-byte hash key.
    """
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.md5(F.substring("text", 1, prefix_chars)).alias("prefix_hash"),
        )
        .groupBy("prefix_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("prefix_hash")
    )
