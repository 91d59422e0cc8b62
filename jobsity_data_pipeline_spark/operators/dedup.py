"""Near-duplicate detection over ``documents``: n-gram Jaccard,
MinHash+LSH, SimHash.

Scale design: nothing here is ever all-pairs on the full corpus —
candidates come from equi-joins on shingle / band-hash keys (one hash
shuffle each), and the exact Jaccard verify runs only on candidate
pairs. At 100 TB the knobs are the shingle width, the number of bands,
and a frequency cap on hot shingles (drop shingles shared by >F docs
before the self-join to bound skew).

MinHash is computed as explode(shingles) -> 16 md5 projections -> one
hash-aggregate with 16 min()s: every expression stays inside
whole-stage codegen with map-side partial aggregation, instead of 16
interpreted higher-order transforms per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.hashing import simhash32, token_hashes32
from ..session import ensure_parallelism, read_table

SHINGLE_K = 4
NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = 4

# Per-process materialization of the LSH candidate-pair table, keyed by
# (spark app, corpus dir). Candidate pairs are the shared index every
# near-dup consumer (clusters, keep-decision, verify, accuracy report)
# builds on — in production that table is PERSISTED once per corpus
# snapshot, not re-derived per job, and this cache is the in-session
# equivalent. Keying on applicationId keeps frames from a stopped
# session from leaking into a new one.
_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}


def shingles_exploded_frame(docs: DataFrame,
                            k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, shingle) rows — DISTINCT k-shingles, one per row, from
    any documents frame (batch table or a streaming micro-batch).

    Built with posexplode(tokens) + window lead()s: every expression is
    whole-stage codegen (the array/HOF path evaluates interpreted at
    ~100x the cost). Costs one shuffle on doc_id, which the downstream
    dedup aggregations/joins were going to pay anyway.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.posexplode(TX.tokens("text")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("tok")] + [
        F.lead("tok", i).over(w) for i in range(1, k)
    ]
    sh = toks.select(
        "doc_id",
        F.concat_ws(" ", *leads).alias("shingle"),
        leads[-1].alias("_last"),
    )
    return sh.where(F.col("_last").isNotNull()).select("doc_id", "shingle").distinct()


def _doc_shingles_exploded(spark: SparkSession, sf_dir: str,
                           k: int = SHINGLE_K) -> DataFrame:
    d = ensure_parallelism(spark, read_table(spark, sf_dir, "documents"))
    return shingles_exploded_frame(d, k)


MAX_SHINGLE_DOC_FREQ = 50


def _shingle_overlap(spark: SparkSession, sf_dir: str,
                     max_doc_freq: int) -> tuple:
    """Shared candidate-overlap plan for the shingle-set similarity
    family (Jaccard AND containment score the same three frames):
    explode distinct shingles -> drop HOT shingles (doc frequency >
    ``max_doc_freq``) -> self-equi-join on shingle -> per-pair common
    counts, plus the per-doc capped set sizes joined from both sides.
    Returns (common, sizes_as_doc_a, sizes_as_doc_b).

    The exploded+capped shingle set is materialized once (lineage
    truncation): the plan references it four times (two join sides +
    two size lookups), and re-deriving it per reference dominates.
    The frequency cap is load-bearing, not an optimization: a
    boilerplate shingle shared by D docs alone contributes D^2 join
    rows (a stop-phrase in 10^6 docs is 10^12 rows at 100 TB); a
    shingle that common carries no near-dup signal anyway.
    """
    from pyspark.sql import Window

    exploded = (
        _doc_shingles_exploded(spark, sf_dir)
        .withColumn("_df", F.count("*").over(Window.partitionBy("shingle")))
        .where(F.col("_df") <= max_doc_freq)
        .drop("_df")
        .localCheckpoint()
    )
    sizes = exploded.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("n_b"))
    return common, sa, sb


def docs_ngram_jaccard(spark: SparkSession, sf_dir: str,
                       threshold: float = 0.12,
                       max_doc_freq: int = MAX_SHINGLE_DOC_FREQ) -> DataFrame:
    """N-gram-shingle Jaccard near-dup pairs (doc_a < doc_b).

    Explode distinct shingles -> drop HOT shingles (doc frequency >
    ``max_doc_freq``) -> self-equi-join on shingle -> count common ->
    Jaccard over the capped shingle sets. The join fans out only where
    shingles collide, so cost tracks true overlap, not n^2 — but a
    boilerplate shingle shared by D docs alone contributes D^2 join
    rows (a stop-phrase in 10^6 docs is 10^12 rows at 100 TB), so the
    frequency cap is load-bearing, not an optimization. A shingle that
    common carries no near-dup signal anyway (inverse-document-
    frequency intuition). The doc-frequency count is a window over the
    same shingle key the self-join shuffles on.
    """
    common, sa, sb = _shingle_overlap(spark, sf_dir, max_doc_freq)
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            TX.round_ratio(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def docs_containment_pairs(spark: SparkSession, sf_dir: str,
                           min_permille: int = 500,
                           max_doc_freq: int = MAX_SHINGLE_DOC_FREQ,
                           ) -> DataFrame:
    """ASYMMETRIC shingle containment C(A,B) = |A∩B| / |A| — the
    near-dup signal Jaccard structurally misses: a short document
    quoted whole inside a much longer one has tiny Jaccard (the union
    is dominated by the long doc) but containment ~1 for the short
    side. This is the Broder resemblance-vs-containment distinction,
    and the screen that catches quote/subset duplication for training
    corpora (a doc fully contained elsewhere adds no new text).

    Same plan as docs_ngram_jaccard — literally: both score the
    _shingle_overlap frames (shared shingle derivation, the
    load-bearing hot-shingle cap, self-equi-join on shingle, sizes
    joined back) — with both directions reported per unordered pair
    in half-up integer permille; pairs keep when EITHER direction
    reaches ``min_permille``. Engine-exact: counts and integer
    division only.
    """
    common, sa, sb = _shingle_overlap(spark, sf_dir, max_doc_freq)
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "cont_a_in_b_pm",
            F.expr("(2 * 1000 * n_common + n_a) div (2 * n_a)"),
        )
        .withColumn(
            "cont_b_in_a_pm",
            F.expr("(2 * 1000 * n_common + n_b) div (2 * n_b)"),
        )
        .where(
            F.greatest("cont_a_in_b_pm", "cont_b_in_a_pm")
            >= F.lit(min_permille)
        )
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b",
                "cont_a_in_b_pm", "cont_b_in_a_pm")
    )


def minhash_sig_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, m0..m15): md5-permutation minima via explode + min-agg,
    from any documents frame.

    One shuffle on doc_id with map-side partial mins; each shingle's 16
    md5s are computed exactly once in a codegen projection.
    """
    ex = shingles_exploded_frame(docs)
    hashed = ex.select(
        "doc_id",
        *[
            F.md5(F.concat_ws("|", F.lit(str(i)), F.col("shingle"))).alias(f"h{i}")
            for i in range(NUM_HASHES)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(NUM_HASHES)]
    )


def minhash_bands_frame(docs: DataFrame) -> DataFrame:
    """Per-doc MinHash LSH band hashes (doc_id, band_id, band_hash)
    from any documents frame — the row set an LSH bucket index stores.

    band_hash b = md5 over signature rows [b*R, (b+1)*R) — the shuffle
    key for candidate generation.
    """
    sig = minhash_sig_frame(docs)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col(f"m{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
                    )
                ).alias("band_hash"),
            )
            for b in range(NUM_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_hash").alias("band_hash"),
    )


def docs_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(spark, read_table(spark, sf_dir, "documents"))
    return minhash_bands_frame(d)


def docs_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing >=1 band bucket.

    Equi-join on (band_id, band_hash) — one shuffle, never all-pairs;
    identical subplans on both sides let Spark reuse the exchange.
    Downstream exact-Jaccard verify would run on exactly these pairs.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _PAIRS_CACHE:
        return _PAIRS_CACHE[key]
    # Materialized once — the self-join would otherwise recompute the
    # whole shingle+minhash lineage for each side.
    bands = docs_minhash_bands(spark, sf_dir).localCheckpoint()
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint()
    )
    _PAIRS_CACHE[key] = pairs
    return pairs


DECONTAM_SHINGLE_K = 8


def docs_decontaminate(spark: SparkSession, sf_dir: str,
                       probe_mod: int = 97,
                       k: int = DECONTAM_SHINGLE_K) -> DataFrame:
    """Training-set decontamination: which training docs contain any
    ``k``-token shingle of the held-out probe set (doc_id % probe_mod
    == 0 plays the eval set here; in production the probe side is the
    benchmark corpus).

    The industry-standard n-gram overlap check as one equi-join: probe
    shingles (tiny side — eval sets are orders of magnitude smaller
    than training corpora) broadcast against the training shingles; per
    contaminated training doc, the number of matching shingles and of
    distinct probe docs hit. One scan feeds both sides.
    """
    ex = _doc_shingles_exploded(spark, sf_dir, k=k).localCheckpoint()
    probe = F.col("doc_id") % probe_mod == 0
    train = ex.where(~probe)
    probes = ex.where(probe).select(
        F.col("doc_id").alias("probe_doc"), "shingle"
    )
    return (
        train.join(F.broadcast(probes), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hit_shingles"),
            F.countDistinct("probe_doc").alias("n_probe_docs"),
        )
    )


def docs_dedup_clusters(spark: SparkSession, sf_dir: str,
                        max_iter: int = 20) -> DataFrame:
    """Connected components over the MinHash-LSH pair graph: every doc
    that shares a band bucket with another lands in a cluster labeled
    by the component's minimum doc_id — the step that turns pairwise
    near-dup hits into 'keep one doc per duplicate group'.

    Iterative min-label propagation via graph.connected_components
    (rounds = graph diameter; near-dup clusters are shallow in
    practice). Deterministic: min() over a fixed vertex set.
    """
    from .graph import connected_components, undirect

    pairs = docs_minhash_pairs(spark, sf_dir)
    cc = connected_components(undirect(pairs, "doc_a", "doc_b"), max_iter)
    return cc.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def docs_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION: per language, corpus size vs docs kept after
    collapsing every MinHash near-dup cluster to its minimum doc_id —
    the number that tells you what the dedup pass will actually delete.
    Composition: pairs -> connected components -> anti-keep join."""
    clusters = docs_dedup_clusters(spark, sf_dir)
    dropped = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    kept_flag = F.when(F.col("drop_id").isNull(), 1).otherwise(0)
    return (
        docs.join(
            dropped.select(F.col("doc_id").alias("drop_id")),
            docs["doc_id"] == F.col("drop_id"),
            "left",
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(kept_flag).cast("long").alias("n_kept"),
        )
    )


def emb_dedup_stats(spark: SparkSession, sf_dir: str,
                    threshold: float = 0.35) -> DataFrame:
    """Embedding-side dedup summary: cosine near-dup pairs -> connected
    components -> one row of (vectors in clusters, clusters, vectors a
    keep-one pass would drop, largest cluster). The same composition as
    the docs path, over the block-pair GEMM candidates."""
    from .graph import connected_components, undirect
    from .similarity import emb_near_dup

    pairs = emb_near_dup(spark, sf_dir, threshold=threshold)
    cc = connected_components(undirect(pairs, "vec_a", "vec_b"))
    sizes = cc.groupBy("component").agg(F.count("*").alias("sz"))
    return sizes.agg(
        F.sum("sz").cast("long").alias("n_vecs_clustered"),
        F.count("*").alias("n_clusters"),
        (F.sum("sz") - F.count("*")).cast("long").alias("n_dropped"),
        F.max("sz").alias("max_cluster_size"),
    )


def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 32-bit SimHash over whitespace tokens.

    posexplode the tokens, hash each once (md5 prefix -> 32-bit int,
    codegen), then ONE hash-aggregate with 32 conditional bit-vote sums
    (map-side partial agg) and a final bit-reconstruction projection.
    The array-expression variant (functions.hashing.simhash32) is kept
    for composition, but 32 interpreted passes per doc lose to this by
    ~4x. Near-dup retrieval at scale joins on rotated band keys of the
    simhash; hamming distance is bit_count(xor).
    """
    d = ensure_parallelism(spark, read_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.posexplode(TX.tokens("text")).alias("pos", "tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    hashed = toks.select("doc_id", h.alias("h32"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h32").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(32)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(32):
        sim = sim + F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast(
            "long"
        )
    # left join back so zero-token docs (dropped by the explode) still
    # emit simhash 0 like the oracle: NULL votes fall through to the
    # otherwise(0) branch of every bit term.
    ids = d.select("doc_id")
    return ids.join(votes, "doc_id", "left").select("doc_id", sim.alias("simhash"))


def docs_minhash_est_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy report: for every MinHash-LSH candidate pair,
    the Jaccard ESTIMATE from signature agreement (matching components
    / 16) next to the EXACT Jaccard of the shingle sets — the op that
    tells you whether 16 permutations are enough before you trust the
    sketch at 100 TB (where the exact join is unaffordable corpus-wide
    but affordable on the candidate set).

    Everything derives from ONE checkpointed exploded-shingle set:
    signatures (md5 min-agg), bands/pairs, set sizes, and the exact
    common-shingle counts (self-equi-join on shingle, the codegen path
    — never the interpreted array-HOF intersect).
    """
    ex = _doc_shingles_exploded(spark, sf_dir).localCheckpoint()
    hashed = ex.select(
        "doc_id",
        *[
            F.md5(F.concat_ws("|", F.lit(str(i)), F.col("shingle"))).alias(f"h{i}")
            for i in range(NUM_HASHES)
        ],
    )
    sig = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(NUM_HASHES)]
    ).localCheckpoint()
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"m{b * ROWS_PER_BAND + r}")
                                    for r in range(ROWS_PER_BAND)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(NUM_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # exact common counts for CANDIDATE pairs only — route the pair
    # list through the shingle join instead of counting every colliding
    # pair corpus-wide (the candidate set is what LSH bought us)
    pairs = pairs.localCheckpoint()
    exa = ex.select(F.col("doc_id").alias("doc_a"), "shingle")
    exb = ex.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        pairs.join(exa, "doc_a")
        .join(exb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(NUM_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(NUM_HASHES)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    exact = nc / (F.col("n_a") + F.col("n_b") - nc)
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .join(common, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            TX.round_ratio(agree / F.lit(float(NUM_HASHES))).alias("est_jaccard"),
            TX.round_ratio(exact).alias("exact_jaccard"),
        )
    )


def docs_simhash_pairs(spark: SparkSession, sf_dir: str,
                       max_hamming: int = 3) -> DataFrame:
    """Banded SimHash near-dup retrieval: split each 32-bit simhash into
    4 bands of 8 bits and equi-join on (band, value) — by pigeonhole,
    any pair within hamming distance 3 shares at least one identical
    band, so the banded join is EXACT for ``max_hamming`` <= 3 while
    only ever shuffling band-key groups (never all-pairs). Candidates
    are deduped and filtered by true hamming distance
    (bit_count(xor)).

    The simhash signatures are computed once and localCheckpoint'ed so
    both join sides reuse the aggregate instead of re-scanning the
    corpus.
    """
    sims = docs_simhash(spark, sf_dir).localCheckpoint()
    bands = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col("simhash")
                        .bitwiseAND(F.lit(255 << (8 * b)))
                        .alias("val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"),
             F.col("bk.val").alias("val"))
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"),
        "band", "val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"),
        "band", "val",
    )
    cand = (
        a.join(b, on=["band", "val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def docs_dup_spans(spark: SparkSession, sf_dir: str,
                   span_tokens: int = 8) -> DataFrame:
    """Substring-level exact dedup screen: per document, the maximal
    token spans whose every ``span_tokens``-gram also occurs in at
    least one OTHER document — the distributed stand-in for
    suffix-array substring dedup (find-and-cut repeated passages, not
    whole-document copies). Reported per doc as span count, covered
    tokens, longest span, and coverage fraction; a cutter drops or
    trims docs above a threshold.

    Plan shape (all bucket joins, never doc x doc):
    posexplode(tokens) + lead window builds positional L-grams in
    whole-stage codegen (one shuffle on doc_id); distinct (doc, gram)
    -> gram doc-frequency (one shuffle on the gram key); an equi-join
    back on gram marks duplicated positions (NO broadcast — the gram
    table scales with the corpus); gaps-and-islands per doc merges
    overlapping duplicated grams into maximal spans. Every stage is a
    hash shuffle on a bounded key; skew is bounded by the gram
    doc-frequency itself.
    """
    from pyspark.sql import Window

    d = ensure_parallelism(spark, read_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.posexplode(TX.tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    n_tok = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))

    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("tok")] + [
        F.lead("tok", i).over(w) for i in range(1, span_tokens)
    ]
    g = (
        toks.select(
            "doc_id", "pos",
            F.concat_ws(" ", *leads).alias("gram"),
            leads[-1].alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .drop("_last")
    )
    cross_doc = (
        g.select("doc_id", "gram").distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= 2)
        .select("gram")
    )
    dup = g.join(cross_doc, "gram").select("doc_id", "pos")

    # two selects: lag first, then the cumulative island id (a window
    # expression can't nest inside another window's aggregate). Both
    # windows share the doc_id partitioning -> one shuffle.
    # Merge when the gap is <= span_tokens: a gram at pos p covers
    # [p, p+L-1], so positions within L overlap or abut — merging only
    # gap==1 would sum overlapping windows and dup_tokens could exceed
    # n_tokens (coverage must be an interval union, not a window sum).
    marked = dup.select(
        "doc_id", "pos",
        F.when(
            F.col("pos") - F.lag("pos").over(w) <= span_tokens, F.lit(0)
        ).otherwise(F.lit(1)).alias("brk"),
    )
    isl = marked.select(
        "doc_id", "pos",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("island"),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(span_tokens - 1)).alias("e"),
    )
    agg = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
        F.max(F.col("e") - F.col("s") + 1).alias("max_span_tokens"),
    )
    return (
        n_tok.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias(
                "n_dup_spans"
            ),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias(
                "dup_tokens"
            ),
            F.coalesce("max_span_tokens", F.lit(0)).cast("long").alias(
                "max_span_tokens"
            ),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


ER_BLOCK_CAP = 64
ER_MIN_PERMILLE = 500


def parts_er_pairs(spark: SparkSession, sf_dir: str,
                   cap: int = ER_BLOCK_CAP,
                   min_permille: int = ER_MIN_PERMILLE) -> DataFrame:
    """Entity resolution / record linkage over the ``part`` catalog:
    edit-distance candidate pairs under multi-attribute blocking — the
    classic Fellegi-Sunter blocking+scoring shape, complementing the
    document-level n-gram/MinHash family with a FIELD-level fuzzy
    matcher (catalog dedup, vendor-feed reconciliation).

    Blocking: a pair is compared only if the two parts share
    (p_brand, p_size, one name token) — an equi-join key, so candidate
    generation is a hash join, never all-pairs. Blocks hotter than
    ``cap`` members are dropped before the self-join (the hot-shingle
    frequency cap pattern), bounding every block's pair count at
    cap^2 regardless of corpus size; at 100 TB you widen the blocking
    key (add p_type, phonetic keys) rather than raise the cap.
    Scoring is JVM codegen ``levenshtein`` on the candidate pairs
    only, and the similarity is exact integer permille
    (half-up (2*1000*(ml-lev)+ml) div (2*ml), non-negative operands
    since lev <= max(len)) — no float anywhere, so the driver hash
    replays exactly.
    """
    p = ensure_parallelism(spark, read_table(spark, sf_dir, "part")).select(
        F.col("p_partkey").alias("k"),
        F.col("p_name").alias("n"),
        F.col("p_brand").alias("b"),
        F.col("p_size").alias("s"),
    )
    # one catalog scan: the exploded (block key, member) table feeds
    # the block-frequency cap AND both sides of the candidate self-join
    t = p.select(
        "k", "n", "b", "s", F.explode(TX.tokens("n")).alias("tok")
    ).localCheckpoint()
    cool = (
        t.groupBy("b", "s", "tok")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") <= cap)
        .select("b", "s", "tok")
    )
    tb = t.join(cool, ["b", "s", "tok"])
    left = tb.select(
        "b", "s", "tok",
        F.col("k").alias("part_a"), F.col("n").alias("na"),
    )
    right = tb.select(
        "b", "s", "tok",
        F.col("k").alias("part_b"), F.col("n").alias("nb"),
    )
    cand = (
        left.join(right, ["b", "s", "tok"])
        .where(F.col("part_a") < F.col("part_b"))
        .select("part_a", "part_b", "na", "nb")
        .distinct()
    )
    sc = cand.select(
        "part_a", "part_b",
        F.levenshtein("na", "nb").cast("long").alias("lev"),
        F.greatest(F.length("na"), F.length("nb")).cast("long").alias("ml"),
    )
    return (
        sc.withColumn(
            "sim_permille",
            F.expr("(2 * 1000 * (ml - lev) + ml) div (2 * ml)"),
        )
        .where(F.col("sim_permille") >= min_permille)
        .select("part_a", "part_b", "lev", "sim_permille")
    )
