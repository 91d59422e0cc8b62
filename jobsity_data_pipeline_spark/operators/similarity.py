"""Similarity search over the ``embeddings`` table (array<float>).

No operator here ever collects the corpus to the driver. The three
shapes, each the Spark-native form of its algorithm:

- **Exact all-pairs** (emb_near_dup): block-pair GEMM. Vectors are
  packed into B block matrices (one groupBy shuffle), the B*(B+1)/2
  unordered block pairs meet through an equi-join on the pair key, and
  each task GEMMs exactly two blocks. Task memory is O(2*N/B*dim)
  regardless of N; the driver holds nothing. The O(N^2/B) pair fan-out
  is the irreducible cost of an EXACT all-pairs answer — the scale
  escape hatch is the LSH/IVF family below.
- **Bucketed ANN** (emb_lsh_ann): random-hyperplane buckets are a JOIN
  KEY, not a post-filter — only same-bucket (query, corpus) pairs are
  ever scored; multi-probe (flip one plane bit) buys recall without
  widening the scan.
- **IVF ANN** (emb_ivf_ann): centroids come from a distributed
  posexplode+avg aggregation (only k*dim rows reach the driver), cell
  assignment is one Arrow pass, and a query scores only rows whose
  cell is among its n_probe probes — again a join predicate applied
  BEFORE any cosine is computed.

Dense math runs in Arrow-batched numpy (BLAS) where it is all-pairs,
and in the JVM fold (functions/vectors.py) where exactness vs the
DuckDB oracle's sequential loop matters: BLAS blocked summation can
flip the last bit at a threshold boundary, so GEMM only PREFILTERS
with a margin and the fold decides membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import as_double
from ..session import ensure_parallelism, read_table

N_PLANES = 8
N_BLOCKS = 8

# embedding width per sf_dir, probed once per process (one head() job)
_DIM_CACHE: dict[str, int] = {}
# label-mean coarse-quantizer centroids per sf_dir (k x dim ndarray)
_CENTROID_CACHE: dict[str, object] = {}
# (app, sf_dir, n_planes) -> lazily checkpointed bucketed corpus: the
# LSH signature table IS the index — production computes it once per
# corpus snapshot and every search reads the stored table (the
# _IVF_PLUMBING_CACHE convention). Without it each emb_lsh_ann call
# paid the corpus Arrow pass TWICE: once for the query-row collect
# (the vec_id filter cannot push through the opaque mapInPandas) and
# once for the candidate join side (guide §4.1/§2.3).
_BUCKETED_CACHE: dict[tuple, DataFrame] = {}


def _emb_dim(spark: SparkSession, sf_dir: str) -> int:
    if sf_dir not in _DIM_CACHE:
        row = read_table(spark, sf_dir, "embeddings").select("embedding").head()
        _DIM_CACHE[sf_dir] = len(row[0])
    return _DIM_CACHE[sf_dir]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_parallelism(spark, read_table(spark, sf_dir, "embeddings"))
    return e.select("vec_id", as_double("embedding").alias("v"), "label")


def emb_near_dup(spark: SparkSession, sf_dir: str,
                 threshold: float = 0.35, n_blocks: int = N_BLOCKS) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cos >= t).

    Distributed block-pair GEMM, then exact verify:
    1. Pack: vectors land in ``n_blocks`` blocks (vec_id % B); one
       applyInPandas turns each block into a single packed-matrix row.
    2. Pair: each block row explodes to its unordered pair keys
       ((a,b), a <= b) and the two sides meet in an EQUI-join on the
       key — a shuffle of O(N*B) rows, never a broadcast of the corpus
       and never a driver collect.
    3. GEMM prefilter: each pair-task scores its two blocks with BLAS
       and emits candidates above ``threshold - margin``. Blocked BLAS
       summation can differ from a sequential loop in the last bit
       (observed ~2 in 12.5M pairs), so it only prefilters.
    4. Exact verify: candidates join back to their vectors and the
       JVM fold — bit-identical to the oracle's loop — decides
       membership and is the reported score.
    The margin (1e-4) is ~1e5x the worst-case GEMM-vs-loop divergence,
    so stage 3 never drops a true pair. At 100 TB, size B so a block
    is tens of MB; per-task memory stays two blocks.
    """
    import numpy as np

    from ..functions.vectors import dot, norm

    margin = 1e-4
    emb = _emb(spark, sf_dir)
    blocked = emb.withColumn(
        "block", (F.col("vec_id") % n_blocks).cast("int")
    )

    def pack(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "block": [int(pdf["block"].iloc[0])],
                "ids": [pdf["vec_id"].to_numpy(dtype="int64").tolist()],
                "vecs": [[list(map(float, v)) for v in pdf["v"]]],
            }
        )

    # materialize the packed blocks once (lineage truncation): both
    # explode sides reference them, and re-running the scan+pack per
    # side doubles the corpus read
    packed = blocked.groupBy("block").applyInPandas(
        pack, "block int, ids array<long>, vecs array<array<double>>"
    ).localCheckpoint()
    # explode each block to its unordered pair keys; equi-join the two
    # sides on (pa, pb) so Catalyst plans a hash join, not a broadcast
    # nested loop over packed matrices.
    left = packed.select(
        F.col("block").alias("pa"),
        F.explode(F.sequence(F.col("block"), F.lit(n_blocks - 1))).alias("pb"),
        F.col("ids").alias("aids"),
        F.col("vecs").alias("avecs"),
    )
    right = packed.select(
        F.explode(F.sequence(F.lit(0), F.col("block"))).alias("pa"),
        F.col("block").alias("pb"),
        F.col("ids").alias("bids"),
        F.col("vecs").alias("bvecs"),
    )
    # pin a shuffled hash join: packed-matrix rows sit above a Python
    # node whose stats Catalyst can't estimate, and a broadcast build
    # here would ship the whole packed corpus to every executor
    pairs = left.join(right.hint("shuffle_hash"), ["pa", "pb"]).select(
        "aids", "avecs", "bids", "bvecs"
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            for aids, avecs, bids, bvecs in zip(
                pdf["aids"], pdf["avecs"], pdf["bids"], pdf["bvecs"]
            ):
                ai = np.asarray(aids, dtype="int64")
                bi = np.asarray(bids, dtype="int64")
                A = np.array([np.asarray(v) for v in avecs], dtype="float64")
                Bm = np.array([np.asarray(v) for v in bvecs], dtype="float64")
                an = np.sqrt((A * A).sum(axis=1))
                bn = np.sqrt((Bm * Bm).sum(axis=1))
                nn = an[:, None] * bn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(nn > 0, (A @ Bm.T) / nn, 0.0)
                # either side of the pair may hold the smaller id, so
                # normalize to (min, max) and dedupe — the diagonal
                # block sees each unordered pair twice ((i,j) and (j,i))
                ia, jb = np.nonzero(
                    (cos >= threshold - margin) & (ai[:, None] != bi[None, :])
                )
                lo = np.minimum(ai[ia], bi[jb])
                hi = np.maximum(ai[ia], bi[jb])
                uniq = np.unique(np.stack([lo, hi], axis=1), axis=0)
                yield pd.DataFrame({"vec_a": uniq[:, 0], "vec_b": uniq[:, 1]})

    cand = pairs.mapInPandas(gen, "vec_a long, vec_b long")
    va = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("_va"))
    vb = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("_vb"))
    joined = cand.join(va, "vec_a").join(vb, "vec_b")
    nn = norm(F.col("_va")) * norm(F.col("_vb"))
    exact = F.when(nn > 0, dot(F.col("_va"), F.col("_vb")) / nn).otherwise(F.lit(0.0))
    # round ONCE from the raw value for both the gate and the output:
    # round(round(x,6),4) lands on decimal ".50" ties that Spark
    # (HALF_UP on the decimal repr) and other engines (binary scaling)
    # resolve differently; a raw cosine never ties at either precision.
    return (
        joined.select(
            "vec_a", "vec_b",
            F.round(exact, 6).alias("cos6"),
            F.round(exact, 4).alias("cos"),
        )
        .where(F.col("cos6") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


def emb_cosine_topk(spark: SparkSession, sf_dir: str, n_queries: int = 8,
                    k: int = 5) -> DataFrame:
    """Brute-force cosine top-k: for each query vector (vec_id <
    n_queries), the k nearest other vectors.

    The tiny query set is broadcast-joined against the corpus and
    scored with the sequential JVM fold — the scoring scan is
    embarrassingly parallel and bit-identical to any sequential-loop
    engine. Ties break on neighbor id after rounding. The RANKING is
    where the naive plan dies at 100 TB: ``row_number() OVER
    (PARTITION BY qid)`` puts a whole corpus-sized scored frame
    through ONE WindowExec task per query id. Instead the shared
    ``grouped_topk`` kernel keeps the exact same order as a mergeable
    salted two-stage bottom-k aggregate (the events_kmv_distinct
    pattern) — no window anywhere in the plan. (For huge query sets,
    score with the GEMM prefilter + fold verify like emb_near_dup.)
    """
    from ..functions.vectors import dot, norm
    from .ranking import grouped_topk

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    nn = norm(F.col("qv")) * norm(F.col("v"))
    cos = F.when(nn > 0, dot(F.col("qv"), F.col("v")) / nn).otherwise(F.lit(0.0))
    scored = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.round(cos, 6).alias("cos6"),
        F.round(cos, 4).alias("cos"),
    )
    return grouped_topk(
        scored,
        ["qid"],
        [-F.col("cos6"), F.col("nid")],
        [F.col("nid"), F.col("cos")],
        k,
        F.col("nid"),
    ).select("qid", "nid", "cos", "rnk")


def _hyperplane(plane: int, dim: int = 64) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane from md5 parity — no
    RNG, so every engine/run derives the identical planes."""
    import hashlib

    out = []
    for j in range(dim):
        h = hashlib.md5(f"{plane}:{j}".encode()).hexdigest()
        out.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
    return out


def _bucketed(spark: SparkSession, sf_dir: str,
              n_planes: int = N_PLANES) -> DataFrame:
    """(vec_id, v, bucket, label): corpus with its LSH bucket attached.

    Signs are computed in one Arrow pass that carries the vector
    through — no second scan or join to re-attach ``v``. The
    projection is compared in integer micro-units
    (floor(dot*1e6 + 0.5) >= 0, same floor form in the oracle SQL), so
    a vector sitting ULP-close to a hyperplane cannot flip buckets
    between engines/runs — what moved this op out of rows-only.

    Memoized per (app, corpus, n_planes) as a lazily checkpointed
    frame (see _BUCKETED_CACHE): one corpus Arrow pass per process,
    not per reference — numerics unchanged, the same pass computed
    once.
    """
    import numpy as np

    ck = (spark.sparkContext.applicationId, sf_dir, n_planes)
    if ck in _BUCKETED_CACHE:
        return _BUCKETED_CACHE[ck]
    dim = _emb_dim(spark, sf_dir)
    planes = np.array([_hyperplane(p, dim) for p in range(n_planes)])
    emb = _emb(spark, sf_dir)
    bc = spark.sparkContext.broadcast(planes)

    def gen(batches):
        import pandas as pd

        P = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["v"].to_numpy())
            d6 = np.floor((A @ P.T) * 1e6 + 0.5)  # (n, planes)
            signs = d6 >= 0
            bucket = (signs * (1 << np.arange(P.shape[0]))[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype="int64"),
                    "v": pdf["v"],
                    "bucket": bucket.astype("int64"),
                    "label": pdf["label"].to_numpy(dtype="int32"),
                }
            )

    out = emb.mapInPandas(
        gen, "vec_id long, v array<double>, bucket long, label int"
    ).localCheckpoint(eager=False)
    _BUCKETED_CACHE[ck] = out
    return out


def emb_lsh_ann(spark: SparkSession, sf_dir: str, n_queries: int = 8,
                k: int = 5, n_planes: int = N_PLANES,
                n_flip: int = 2) -> DataFrame:
    """LSH-bucketed approximate top-k: the bucket is a JOIN predicate —
    only corpus rows sharing one of the query's probe buckets are ever
    scored.

    Multi-probe: each query probes its own bucket plus every bucket
    within ``n_flip`` sign-bit flips (the next-likeliest buckets under
    the hyperplane model). n_flip=2 over 8 planes probes 37 of 256
    buckets — ~14% of the exact scan cost for most of its recall
    (measured in emb_ann_recall); n_flip trades scan fraction for
    recall without touching the stored signatures. The probe set
    (n_queries × Σ C(n_planes, i) rows) broadcasts; the corpus side
    stays put. Scoring is the JVM cosine fold on candidates only — the
    plan is scan -> bucket hash-join -> project(cosine) -> window
    top-k, with no full-corpus scoring stage anywhere.

    Oracle-checked since round 4: the hyperplanes are deterministic
    md5 parities and the projections compare as integer micro-units
    (_bucketed), so bucket membership, the probe set, and the ranked
    candidates all replay in SQL (exact up to the rare half-ulp micro-unit boundary residual noted in _ivf_assigned_and_probes).
    """
    from itertools import combinations

    from ..functions.vectors import cosine
    from .ranking import grouped_topk

    corpus = _bucketed(spark, sf_dir, n_planes)
    # tiny filtered collect: just the n_queries query rows
    qrows = sorted(
        corpus.where(F.col("vec_id") < n_queries)
        .select("vec_id", "v", "bucket").collect(),
        key=lambda r: r[0],
    )
    masks = [0]
    for r_bits in range(1, n_flip + 1):
        for bits in combinations(range(n_planes), r_bits):
            masks.append(sum(1 << p for p in bits))
    probes = []
    for r in qrows:
        qid, qv, b = int(r[0]), [float(x) for x in r[1]], int(r[2])
        bucks = sorted({b ^ msk for msk in masks})
        probes.extend((qid, qv, pb) for pb in bucks)
    probe_df = spark.createDataFrame(
        probes, "qid long, qv array<double>, bucket long"
    )
    cand = corpus.join(F.broadcast(probe_df), "bucket").where(
        F.col("vec_id") != F.col("qid")
    )
    cos = cosine(F.col("qv"), F.col("v"))
    scored = cand.select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.round(cos, 6).alias("cos6"),
        F.round(cos, 4).alias("cos"),
    )
    return grouped_topk(
        scored,
        ["qid"],
        [-F.col("cos6"), F.col("nid")],
        [F.col("nid"), F.col("cos")],
        k,
        F.col("nid"),
    ).select("qid", "nid", "cos", "rnk")


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector min/max int8 scalar quantization with reconstruction
    error, aggregated per label — the storage-compression step of an
    embedding store (4x smaller vectors; the ANN ops rerank the
    shortlist against the full-precision side).

    Everything is JVM array expressions (array_min/max, transform,
    aggregate) inside the scan projection — no Python, no shuffle
    before the tiny per-label aggregate. Zero-range vectors quantize to
    their constant value with zero error.
    """
    emb = _emb(spark, sf_dir)
    v = F.col("v")
    mn = F.array_min(v)
    mx = F.array_max(v)
    scale = (mx - mn) / F.lit(255.0)
    # q = round((x-mn)/scale) in [0,255]; dequantized back to mn+q*scale
    deq = F.transform(
        v,
        lambda x: F.when(
            scale > 0, mn + F.round((x - mn) / scale, 0) * scale
        ).otherwise(mn),
    )
    sq_err = F.aggregate(
        F.zip_with(v, deq, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per_vec = emb.select("label", F.sqrt(sq_err).alias("l2_err"))
    return per_vec.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("l2_err"), 6).alias("avg_l2_err"),
        F.round(F.max("l2_err"), 6).alias("max_l2_err"),
    )


def _centroids(spark: SparkSession, sf_dir: str):
    """k x dim label-mean centroid matrix via the DISTRIBUTED
    posexplode+avg aggregation (the relational2.emb_label_centroids
    shape) — only k*dim scalar rows are ever collected, never vectors.
    """
    import numpy as np

    if sf_dir in _CENTROID_CACHE:
        return _CENTROID_CACHE[sf_dir]
    rows = (
        _emb(spark, sf_dir)
        .select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        # round(avg, 6): engine-exact coarse quantizer (the oracle for
        # emb_ivfpq_ann replays this assignment in SQL)
        .agg(F.round(F.avg("x"), 6).alias("c"))
        .collect()
    )
    k = max(r.label for r in rows) + 1
    dim = max(r.pos for r in rows) + 1
    C = np.zeros((k, dim))
    for r in rows:
        C[r.label, r.pos] = r.c
    _CENTROID_CACHE[sf_dir] = C
    return C


def _ivf_assigned_and_probes(
    spark: SparkSession, sf_dir: str, n_queries: int, n_probe: int
) -> tuple[DataFrame, DataFrame]:
    """IVF plumbing shared by emb_ivf_ann, emb_ivfpq_ann (both code
    budgets) and the residual path: ``assigned`` = (vec_id, v, cell)
    via one Arrow pass against the broadcast k x dim coarse-centroid
    matrix; ``probe_df`` = each query's n_probe nearest cells (tiny
    driver-side set, broadcast at the join).

    The cell assignment IS the IVF index — production persists it once
    per corpus snapshot and every search reads the table. The
    per-(app, corpus, params) cache below is the in-session stand-in
    (same convention as the PQ codebook cache): without it, each of
    the recall gate's five IVF-family searches re-runs the corpus
    assign pass."""
    import numpy as np

    ck = (spark.sparkContext.applicationId, sf_dir, n_queries, n_probe)
    if ck in _IVF_PLUMBING_CACHE:
        return _IVF_PLUMBING_CACHE[ck]
    emb = _emb(spark, sf_dir)
    C = _centroids(spark, sf_dir)
    bc = spark.sparkContext.broadcast(C)

    # distances compare as integer micro-units (floor(d2*1e6 + 0.5) =
    # positive half-up, matching SQL round(x*1e6, 0)): argmin/probe
    # choices are then immune to cross-engine ULP noise EXCEPT in the
    # residual case where the pre-rounding float sum itself lands
    # within ~1 ulp of a .5 micro-unit boundary (summation order is
    # still engine-dependent before the round). A rare driver-hash
    # flake on an ANN key should be triaged as this known residual
    # class, not as a logic bug. Ties break to the lowest cell on
    # both engines.
    def _d6(d2):
        return np.floor(d2 * 1e6 + 0.5).astype("int64")

    def assign(batches):
        import pandas as pd

        cen = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["v"].to_numpy())
            d2 = ((A[:, None, :] - cen[None, :, :]) ** 2).sum(axis=2)
            cell = _d6(d2).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype="int64"),
                    "v": pdf["v"],
                    "label": pdf["label"].to_numpy(dtype="int32"),
                    "cell": cell.astype("int32"),
                }
            )

    # label rides the assignment table (a production IVF index stores
    # the row's attributes with its cell) so label-predicated searches
    # like emb_hard_negatives_ann filter in the candidate join
    assigned = emb.mapInPandas(
        assign, "vec_id long, v array<double>, label int, cell int"
    )

    # tiny filtered collect: the n_queries query vectors; probe cells
    # computed driver-side against the k x dim centroids
    qrows = sorted(
        emb.where(F.col("vec_id") < n_queries)
        .select("vec_id", "v", "label").collect(),
        key=lambda r: r[0],
    )
    probes = []
    for r in qrows:
        qid, qv, qlab = int(r[0]), [float(x) for x in r[1]], int(r[2])
        d2 = ((np.asarray(qv)[None, :] - C) ** 2).sum(axis=1)
        for cell in np.argsort(_d6(d2), kind="stable")[:n_probe]:
            probes.append((qid, qv, qlab, int(cell)))
    probe_df = spark.createDataFrame(
        probes, "qid long, qv array<double>, q_label int, cell int"
    )
    out = (assigned.localCheckpoint(eager=False), probe_df)
    _IVF_PLUMBING_CACHE[ck] = out
    return out


def emb_ivf_ann(spark: SparkSession, sf_dir: str, n_queries: int = 8,
                k: int = 5, n_probe: int = 3) -> DataFrame:
    """IVF (inverted-file) approximate top-k: label-centroids act as the
    coarse quantizer; each vector is assigned to its nearest centroid
    cell, and a query scores ONLY rows in its ``n_probe`` nearest cells.

    The Spark shape of FAISS-style IVF with no full-corpus collect:
    centroids come from a distributed aggregate (k*dim rows to the
    driver), cell assignment is one Arrow pass against the broadcast
    k x dim matrix, and the probe set joins in as a broadcast equi-join
    on cell BEFORE any cosine is computed — candidate work per query is
    bounded by its probed cells, not the table. Recall rises with
    n_probe; n_probe = #cells degenerates to exact brute force.

    Oracle-checked since round 4: the coarse quantizer is pinned
    engine-exact (6-dp centroids, integer micro-unit distances in
    _ivf_assigned_and_probes), so cell assignment and probe choice
    replay in SQL (exact up to the rare half-ulp micro-unit boundary residual noted in _ivf_assigned_and_probes), and the cosine ranking follows the
    emb_cosine_topk convention (round(cos,6) desc, nid).
    """
    from ..functions.vectors import cosine
    from .ranking import grouped_topk

    assigned, probe_df = _ivf_assigned_and_probes(
        spark, sf_dir, n_queries, n_probe
    )
    cand = assigned.join(F.broadcast(probe_df), "cell").where(
        F.col("vec_id") != F.col("qid")
    )
    cos = cosine(F.col("qv"), F.col("v"))
    scored = cand.select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.round(cos, 6).alias("cos6"),
        F.round(cos, 4).alias("cos"),
    )
    return grouped_topk(
        scored,
        ["qid"],
        [-F.col("cos6"), F.col("nid")],
        [F.col("nid"), F.col("cos")],
        k,
        F.col("nid"),
    ).select("qid", "nid", F.col("cos"), "rnk")


def emb_hard_negatives_ann(spark: SparkSession, sf_dir: str,
                           n_queries: int = 8, k: int = 5,
                           n_probe: int = 3) -> DataFrame:
    """Hard-negative mining at scale: the ANN-shortlist form of
    relational11.emb_hard_negatives. The exact miner scores every
    corpus row per query — the right baseline, the wrong production
    plan; here candidates come from the query's ``n_probe`` nearest
    IVF cells (the emb_ivf_ann index), the label-INEQUALITY predicate
    sits in the candidate join (same-class rows are never scored),
    and the shortlist is exactly reranked by cosine through the
    mergeable grouped_topk kernel. Same output shape as the exact
    miner; emb_hardneg_recall measures what the shortlist trades
    away, emb_ann_recall-style.

    Candidate work per query is bounded by its probed cells — at
    100 TB a query touches n_probe cells' rows, never the corpus.
    Labels ride the assignment table (as a production IVF index
    stores row attributes), so the filter needs no corpus-keyed
    label join."""
    from ..functions.vectors import cosine
    from .ranking import grouped_topk

    assigned, probe_df = _ivf_assigned_and_probes(
        spark, sf_dir, n_queries, n_probe
    )
    cand = assigned.join(F.broadcast(probe_df), "cell").where(
        (F.col("vec_id") != F.col("qid"))
        & (F.col("label") != F.col("q_label"))
    )
    cos = cosine(F.col("qv"), F.col("v"))
    scored = cand.select(
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
            [F.col("q_label"), F.col("nid"), F.col("n_label"),
             F.col("cos")],
            k,
            F.col("nid"),
        )
        .select("qid", "q_label", "nid", "n_label", "cos", "rnk")
        .orderBy("qid", "rnk")
    )


def emb_hardneg_recall(spark: SparkSession, sf_dir: str,
                       n_queries: int = 8, k: int = 5,
                       n_probe: int = 3) -> DataFrame:
    """The A/B row for hard-negative mining: per query, how many of
    the EXACT miner's top-k wrong-class neighbors the ANN-shortlist
    miner recovered (hits and exact integer permille) — the
    emb_ann_recall pattern applied to the mining pair, so the
    shortlist's recall is a measured number, not a hope. Recall@k
    convention: the denominator is the FIXED k and every query id
    emits a row (a query whose wrong-class pool is smaller than k, or
    empty, scores against k rather than against what happened to
    exist) — the same edge semantics as the oracle's LEFT JOIN over
    the full query set."""
    from ..operators.relational11 import emb_hard_negatives

    exact = emb_hard_negatives(spark, sf_dir, n_queries, k).select(
        "qid", "nid"
    )
    ann = emb_hard_negatives_ann(spark, sf_dir, n_queries, k, n_probe)
    hits = (
        exact.join(ann.select("qid", "nid"), ["qid", "nid"], "left_semi")
        .groupBy("qid")
        .agg(F.count("*").alias("hits"))
    )
    qids = _emb(spark, sf_dir).where(
        F.col("vec_id") < n_queries
    ).select(F.col("vec_id").alias("qid"))
    return (
        qids.join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
        )
        # half-up integer permille via BIGINT div — the containment
        # convention (Spark truncates double->int casts, DuckDB
        # rounds; integer div agrees everywhere)
        .select(
            "qid", "hits",
            F.expr(f"(2 * 1000 * hits + {k}) div (2 * {k})")
            .alias("recall_pm"),
        )
        .orderBy("qid")
    )


def emb_ivfpq_ann(spark: SparkSession, sf_dir: str, n_queries: int = 8,
                  k: int = 5, n_probe: int = 3,
                  n_codes: int = 16) -> DataFrame:
    """IVF + PQ composition — the FAISS IVFADC production layout: the
    coarse quantizer prunes to each query's ``n_probe`` cells, then the
    ADC scan over TRAINED PQ codes ranks ONLY the surviving rows. The
    two scan reductions multiply: candidate work per query is
    (probed-cell population) x (codes, not floats) — at 100 TB neither
    the raw vectors nor the full code table is ever scanned per query.

    Plan shape: Arrow cell-assign -> broadcast probe equi-join on cell
    (the IVF prune) -> equi-join to the code table on vec_id (bounded
    by the prune) -> broadcast ADC distance-table join -> partial-agg
    ADC sum -> per-query top-k. Simplification vs full IVFADC: codes
    quantize raw vectors, not per-cell residuals — residual encoding
    is the production refinement on the same plan.

    Oracle-checked since the coarse quantizer and the PQ training were
    pinned engine-exact (rounded centroids, integer micro-unit
    distances): cell assignment, probe choice, and the ADC integer sum
    all replay in SQL (exact up to the rare half-ulp micro-unit boundary residual noted in _ivf_assigned_and_probes). Recall vs the flat trained-PQ scan
    is measured side by side in emb_ann_recall (ivfpq probes
    ~n_probe/k_cells of the code table).

    r14 shape: codebook and distance tables are driver-bounded
    literals (relational8.trained_pq_arrays), so after the broadcast
    probe prune each surviving row computes its codes from the literal
    codebook and sums the table lookups IN the projection — the former
    corpus-keyed codes-table join and the ADC aggregation exchange are
    gone (guide §2.3/§2.4; a production IVFADC index stores the codes
    on the assignment row, which this projection stands in for).
    """
    import numpy as np

    from ._pq import assign_codes_arrow
    from .ranking import grouped_topk
    from .relational8 import trained_pq_arrays

    assigned, probe_df = _ivf_assigned_and_probes(
        spark, sf_dir, n_queries, n_probe
    )
    cb, qids, qd_flat = trained_pq_arrays(
        spark, sf_dir, n_queries, n_codes=n_codes
    )
    n_sub = len(cb)
    block = 64 // n_sub if n_sub else 64
    n_c = len(cb[0]) if cb and cb[0] else 0
    qd = (
        np.asarray(qd_flat, dtype="int64").reshape(len(qids), n_sub, n_c)
        if qids
        else np.zeros((0, max(n_sub, 1), max(n_c, 1)), dtype="int64")
    )
    qidx = F.create_map(
        *[x for i, q in enumerate(qids)
          for x in (F.lit(int(q)), F.lit(i))]
    )
    if not qids:
        # a pairless create_map is map<void,void>: type the empty map
        qidx = qidx.cast("map<bigint,int>")
    qidx = qidx[F.col("qid")]
    # codes AND per-query ADC sums computed ONCE per corpus on the
    # assignment table, before the probe join (the index stores codes
    # with the row; the distance tables ride the kernel closure, never
    # the plan), memoized like the other per-snapshot artifacts
    ck = (
        spark.sparkContext.applicationId, sf_dir, n_queries, n_probe,
        n_codes,
    )
    if ck not in _IVF_CODES_CACHE:
        _IVF_CODES_CACHE[ck] = assign_codes_arrow(
            assigned, cb, block, micro=True,
            keep_cols=["vec_id", "cell"], adc_tables=qd,
        ).select("vec_id", "cell", "adcs").localCheckpoint(eager=False)
    coded = _IVF_CODES_CACHE[ck]
    adc = (
        coded.join(F.broadcast(probe_df.select("qid", "cell")), "cell")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            F.element_at("adcs", qidx + 1).alias("adc6"),
        )
    )
    return (
        grouped_topk(
            adc,
            ["qid"],
            [F.col("adc6"), F.col("vec_id")],
            [F.col("vec_id"), F.col("adc6")],
            k,
            F.col("vec_id"),
        )
        .select(
            "qid", F.col("rnk").cast("int").alias("rank"), "vec_id",
            (F.col("adc6") / F.lit(1e6)).alias("adc"),
        )
        .orderBy("qid", "rank")
    )


_RESIDUAL_PQ_CACHE: dict[tuple, tuple] = {}
# (app, sf_dir, n_queries, n_probe) -> (assigned, probe_df): the IVF
# cell-assignment index + probe sets (see _ivf_assigned_and_probes)
_IVF_PLUMBING_CACHE: dict[tuple, tuple] = {}
# per-(app, corpus, params) stored code tables for the cell-pruned ADC
# scans: lazily checkpointed (vec_id, cell, codes) — raw-vector codes
# for emb_ivfpq_ann, residual codes for emb_ivfpq_residual_ann
_IVF_CODES_CACHE: dict[tuple, "DataFrame"] = {}
_RESID_CODES_CACHE: dict[tuple, "DataFrame"] = {}


def _residual_pq_arrays(spark: SparkSession, sf_dir: str,
                        n_queries: int, n_probe: int,
                        n_subspaces: int = 4, n_codes: int = 16,
                        iters: int = 2):
    """(cb, coarse, pairs, qd_flat, assigned, probe_df) for RESIDUAL
    product quantization: each vector is encoded as the PQ code of
    ``v - C[cell(v)]`` (its offset from its coarse centroid), and each
    query carries one distance table PER PROBED CELL built from its
    own residual in that cell — the true FAISS IVFADC layout, where
    the codebook spends its 2^bits entries on the (much tighter)
    residual distribution instead of the raw corpus spread.

    Everything is pinned engine-exact like the raw-vector path:
    rounded coarse centroids, micro-unit distances, deterministic
    seeds — so the whole construction replays in SQL.

    r14 shape: the residual projection is a zip_with against the
    literal coarse-centroid matrix (bit-identical to the former Arrow
    pass's elementwise numpy subtract), training carries its codebook
    as driver-bounded arrays (kmeans.pq_train_codebook_arrays), and
    the query tables collect to one flat literal list keyed by the
    (qid, cell) probe pairs — the residual Arrow pass, the eager rv /
    codebook checkpoints, and the codes/qd table materializations are
    all gone (guide §2.3/§2.4). ``cb`` = residual codebook arrays,
    ``coarse`` = the k x dim coarse matrix as lists, ``pairs`` = the
    ordered (qid, cell) probe pairs, ``qd_flat[(pair*S + s)*C + code]``
    = d6.
    """
    from ._pq import qd_flat_micro
    from .kmeans import pq_train_codebook_arrays

    ck = (
        spark.sparkContext.applicationId, sf_dir, "residual",
        n_queries, n_probe, n_subspaces, n_codes, iters,
    )
    assigned, probe_df = _ivf_assigned_and_probes(
        spark, sf_dir, n_queries, n_probe
    )
    if ck in _RESIDUAL_PQ_CACHE:
        return _RESIDUAL_PQ_CACHE[ck] + (assigned, probe_df)
    C = _centroids(spark, sf_dir)
    coarse = [[float(x) for x in row] for row in C]
    rv = assigned.select("vec_id", _residual_col(coarse).alias("v"))
    cb = pq_train_codebook_arrays(
        spark, rv, n_subspaces=n_subspaces, n_codes=n_codes, iters=iters
    )
    # query residuals per probed cell, driver-side: probe_df's rows
    # are already driver-built (tiny); numpy/python subtraction is the
    # same exact elementwise IEEE op as the in-plan zip_with
    block = 64 // n_subspaces
    prows = sorted(
        ((int(r["qid"]), int(r["cell"]), [float(x) for x in r["qv"]])
         for r in probe_df.select("qid", "cell", "qv").collect()),
        key=lambda t: (t[0], t[1]),
    )
    pairs = [(q, c) for q, c, _ in prows]
    qres = [
        (i, [qv[j] - coarse[cell][j] for j in range(len(qv))])
        for i, (_q, cell, qv) in enumerate(prows)
    ]
    qd_flat = qd_flat_micro(spark, qres, cb, block)
    _RESIDUAL_PQ_CACHE[ck] = (cb, coarse, pairs, qd_flat)
    return cb, coarse, pairs, qd_flat, assigned, probe_df


def _residual_col(coarse: list[list[float]]) -> "F.Column":
    """v - coarse[cell] as a zip_with against the literal coarse
    matrix — elementwise IEEE subtraction, bit-identical to the former
    numpy Arrow pass (A - cen[cells])."""
    from ._pq import lit_matrix

    coarse_lit = lit_matrix(coarse)
    return F.zip_with(
        "v", F.element_at(coarse_lit, F.col("cell") + 1),
        lambda a, b: a - b,
    )


def emb_ivfpq_residual_ann(spark: SparkSession, sf_dir: str,
                           n_queries: int = 8, k: int = 5,
                           n_probe: int = 3,
                           n_codes: int = 16) -> DataFrame:
    """Full FAISS IVFADC with RESIDUAL encoding — the production
    refinement emb_ivfpq_ann's docstring names: PQ codes quantize
    ``v - C[cell(v)]`` and each query builds one ADC distance table
    per probed cell from its own residual there. A candidate is scored
    against the table of ITS cell (residuals are cell-relative), so
    the sum approximates ||q - v||² with the coarse offset removed —
    tighter codebooks at the same code budget.

    Plan shape: the emb_ivfpq_ann pipeline plus one Arrow residual
    projection on each side; candidate generation and the ADC integer
    sum are unchanged (equi-joins and partial aggs only). Per-query
    distance-table state grows by n_probe×, still
    n_probe × subspaces × codes scalars — broadcast-tiny at any
    corpus size. Oracle-checked: every stage replays in SQL via the
    same pinning as the raw-vector path.

    Measured A/B (emb_ann_recall, sf0.01): recall@5 0.125 residual vs
    0.20 raw-vector at the same 16-code budget — on this
    label-clustered synthetic corpus, removing the cluster offset
    leaves near-isotropic residuals that 16 codes cover poorly, while
    raw-vector codebooks ride the label structure. Whether the
    ordering flips at a production code budget is no longer asserted
    from the literature: emb_ann_recall carries ivfpq_256 /
    ivfpq_residual_256 rows (same pipeline, 256 codes per subspace,
    oracle-checked) so the residual-retraining decision reads a
    measured per-corpus number at both budgets.

    r14 shape: after the broadcast probe prune each surviving row
    derives its residual (zip_with vs the literal coarse matrix),
    assigns codes against the literal residual codebook, and sums the
    per-(qid, cell) table lookups in the projection — the residual
    Arrow pass, codes-table join, and ADC aggregation exchange are
    gone (see _residual_pq_arrays; guide §2.3/§2.4).
    """
    import numpy as np

    from ._pq import assign_codes_arrow
    from .ranking import grouped_topk

    cb, coarse, pairs, qd_flat, assigned, probe_df = _residual_pq_arrays(
        spark, sf_dir, n_queries, n_probe, n_codes=n_codes
    )
    n_sub = len(cb)
    block = 64 // n_sub if n_sub else 64
    n_c = len(cb[0]) if cb and cb[0] else 0
    qd = (
        np.asarray(qd_flat, dtype="int64").reshape(len(pairs), n_sub, n_c)
        if pairs
        else np.zeros((0, max(n_sub, 1), max(n_c, 1)), dtype="int64")
    )
    # (qid, cell) -> ordinal of its distance table in the stack
    pair_idx = F.create_map(
        *[x for i, (q, c) in enumerate(pairs)
          for x in (F.struct(F.lit(int(q)), F.lit(int(c))), F.lit(i))]
    )
    if not pairs:
        pair_idx = pair_idx.cast("map<struct<col1:int,col2:int>,int>")
    pair_idx = pair_idx[
        F.struct(F.col("qid").cast("int"), F.col("cell").cast("int"))
    ]
    # residual codes AND per-(qid, cell) ADC sums computed ONCE per
    # corpus on the assignment table (residual derivation inside the
    # same Arrow pass; a row's table entry for a pair whose cell it is
    # not in is simply never read), memoized like the other
    # per-snapshot artifacts
    ck = (
        spark.sparkContext.applicationId, sf_dir, n_queries, n_probe,
        n_codes,
    )
    if ck not in _RESID_CODES_CACHE:
        _RESID_CODES_CACHE[ck] = assign_codes_arrow(
            assigned, cb, block, micro=True,
            keep_cols=["vec_id", "cell"], coarse=coarse, adc_tables=qd,
        ).select("vec_id", "cell", "adcs").localCheckpoint(eager=False)
    coded = _RESID_CODES_CACHE[ck]
    adc = (
        coded.join(F.broadcast(probe_df.select("qid", "cell")), "cell")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            F.element_at("adcs", pair_idx + 1).alias("adc6"),
        )
    )
    return (
        grouped_topk(
            adc,
            ["qid"],
            [F.col("adc6"), F.col("vec_id")],
            [F.col("vec_id"), F.col("adc6")],
            k,
            F.col("vec_id"),
        )
        .select(
            "qid", F.col("rnk").cast("int").alias("rank"), "vec_id",
            (F.col("adc6") / F.lit(1e6)).alias("adc"),
        )
        .orderBy("qid", "rank")
    )


def emb_label_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between label centroids — the
    cluster-confusability matrix used to pick merge candidates before
    training-data stratification.

    Centroids come from the distributed posexplode+avg aggregate (k*dim
    rows total), re-assembled into arrays with an order-stable
    array_sort(collect_list(struct(pos, c))); the k x k pairing is a
    self-join over k rows (tiny, broadcast) and the cosine is the JVM
    aggregate fold. No vector ever reaches the driver.
    """
    from ..functions.vectors import cosine

    cent = (
        _emb(spark, sf_dir)
        .select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            "label", F.transform("pc", lambda s: s["c"]).alias("cv")
        )
    )
    a = cent.select(F.col("label").alias("label_a"), F.col("cv").alias("va"))
    b = cent.select(F.col("label").alias("label_b"), F.col("cv").alias("vb"))
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos"),
        )
        .orderBy("label_a", "label_b")
    )


def emb_ann_recall(spark: SparkSession, sf_dir: str, n_queries: int = 8,
                   k: int = 5) -> DataFrame:
    """Recall@k report for both approximate ANN paths (LSH multi-probe,
    IVF n_probe) against the exact brute-force top-k, per query and
    method. The quality gate every ANN deployment needs next to its
    latency number: a bucketing change that silently tanks recall shows
    up here, not in row counts.

    All result sets are tiny (n_queries × k); the comparison is a
    left-semi hit-join + per-query count — negligible next to the
    searches themselves. Oracle-checked since round 4: every component
    search is individually pinned engine-exact, and this op's oracle
    composes their SQL verbatim as nested subqueries
    (__spark_entry__.oracle_sql).
    """
    from .relational8 import emb_pq_ann, emb_pq_rerank, emb_pq_trained_ann

    # the exact baseline feeds a semi-join AND the report spine for all
    # seven methods (14 plan references): checkpoint the tiny
    # n_queries x k frame once, or each reference re-runs the full
    # brute-force corpus scan — measured as most of this op's cost
    exact = (
        emb_cosine_topk(spark, sf_dir, n_queries, k)
        .select("qid", "nid")
        .localCheckpoint(eager=False)
    )
    out = None
    # PQ searches by asymmetric L2, scored against the cosine-exact
    # baseline — equivalent rankings because the embeddings are
    # unit-norm (L2^2 = 2 - 2cos). PQ-alone documents the
    # codes-cannot-separate-within-a-cluster floor; pq_rerank shows the
    # shortlist+exact-refine pattern recovering it.
    # one ADC pass serves both PQ rows: the ranked 200-shortlist's head
    # IS the PQ-alone top-k (same ordering), and the re-rank rescores
    # the same shortlist — checkpointed so neither consumer recomputes
    # the codes scan
    sl = emb_pq_ann(spark, sf_dir, n_queries, k=200).localCheckpoint(
        eager=False
    )
    pq = sl.where(F.col("rank") <= k).select(
        "qid", F.col("vec_id").alias("nid")
    )
    pqr = emb_pq_rerank(
        spark, sf_dir, n_queries, k, shortlist_df=sl
    ).select("qid", F.col("vec_id").alias("nid"))
    # trained per-subspace codebooks vs the label-centroid ones, at the
    # SAME scan fraction (codes-only, no rerank): the trained row is
    # the codebook-quality A/B the retrain decision reads
    pqt = emb_pq_trained_ann(spark, sf_dir, n_queries, k).select(
        "qid", F.col("vec_id").alias("nid")
    )
    for method, res in (
        ("lsh", emb_lsh_ann(spark, sf_dir, n_queries, k)),
        ("ivf", emb_ivf_ann(spark, sf_dir, n_queries, k)),
        ("pq", pq),
        ("pq_rerank", pqr),
        ("pq_trained", pqt),
        # the IVFADC composition: trained-PQ ranking confined to the
        # probed cells — scan fraction multiplies both reductions
        ("ivfpq", emb_ivfpq_ann(spark, sf_dir, n_queries, k).select(
            "qid", F.col("vec_id").alias("nid"))),
        # residual encoding A/B: same scan fraction, codebooks spent
        # on the per-cell residual distribution — the row that decides
        # whether residual retraining pays for this corpus
        ("ivfpq_residual",
         emb_ivfpq_residual_ann(spark, sf_dir, n_queries, k).select(
             "qid", F.col("vec_id").alias("nid"))),
        # the same A/B at the production 256-codes-per-subspace
        # budget: the residual-vs-raw ordering is corpus- AND
        # budget-dependent, so the retrain decision reads both rows
        ("ivfpq_256",
         emb_ivfpq_ann(spark, sf_dir, n_queries, k, n_codes=256).select(
             "qid", F.col("vec_id").alias("nid"))),
        ("ivfpq_residual_256",
         emb_ivfpq_residual_ann(
             spark, sf_dir, n_queries, k, n_codes=256
         ).select("qid", F.col("vec_id").alias("nid"))),
    ):
        hits = (
            res.select("qid", "nid")
            .join(exact, ["qid", "nid"], "left_semi")
            .groupBy("qid")
            .agg(F.count("*").alias("n_hits"))
        )
        rep = (
            exact.select("qid").distinct()
            .join(hits, "qid", "left")
            .select(
                F.lit(method).alias("method"),
                "qid",
                F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                F.round(F.coalesce("n_hits", F.lit(0)) / k, 4).alias(
                    "recall_at_k"
                ),
            )
        )
        out = rep if out is None else out.unionByName(rep)
    return out.orderBy("method", "qid")
