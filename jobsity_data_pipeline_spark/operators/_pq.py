"""Shared driver-literal PQ plumbing (r14 optimization round).

The PQ/ANN family's per-corpus decision tables — codebooks, query
distance tables, query id sets — are all BOUNDED state (subspaces x
codes x block doubles; n_queries x subspaces x codes scalars). These
helpers carry that state through the driver as literals (the
docs_bpe_encode / emb_kmeans_fit posture, extended to this family in
r14) so assignment and ADC scoring become scan-side projections:
no (corpus x codes)-row broadcast-join blow-up, no corpus-scale
aggregation exchange per search (guide §2.3/§2.4, §8's "decide with
small rows" rule).

Numeric contract, load-bearing for oracle hash-parity:

- Every distance is the in-row left fold over pos-ascending block
  coordinates — bit-identical to the old posexplode+hash-aggregate
  path, whose per-(group, subspace, code) rows arrived pos-ascending
  from a single explode partition, making its F.sum the same
  left-to-right IEEE sequence.
- Micro-unit (d6) tables are computed IN-PLAN (F.round half-up) and
  collected — never re-derived with Python round(), whose half-even
  ties differ.
- Raw-double query tables (emb_pq_ann's unrounded dq) ARE computed
  with a driver-side Python fold: CPython float arithmetic is the
  same IEEE-754 binary64 add/sub/mul the JVM fold performs, in the
  same order, so the results are identical doubles with no rounding
  step involved.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

# (app, sf_dir) -> (codes, cent): label codes ascending + raw-double
# label-mean centroid arrays — the emb_pq_ann / emb_pq_codes codebook,
# a property of the corpus snapshot (the _IVF_PLUMBING_CACHE
# convention)
_LABELCENT_RAW_CACHE: dict[tuple, tuple] = {}


def lit_doubles(values) -> Column:
    """array<double> literal via one parsed SQL expression. repr() of
    a Python float is the shortest exact-round-trip decimal and
    Spark's parser is correctly rounded, so every element reproduces
    the identical IEEE double."""
    return F.expr(
        "array(" + ",".join(f"{float(v)!r}D" for v in values) + ")"
    ) if len(values) else F.expr("array()").cast("array<double>")


def lit_matrix(rows) -> Column:
    """array<array<double>> literal via one parsed SQL expression
    (see lit_doubles for the exactness argument)."""
    if not len(rows):
        return F.expr("array()").cast("array<array<double>>")
    return F.expr(
        "array(" + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in row) + ")"
            for row in rows
        ) + ")"
    )


def lit_ints(values) -> Column:
    """array<int> literal via one parsed SQL expression."""
    return F.expr(
        "array(" + ",".join(str(int(v)) for v in values) + ")"
    ).cast("array<int>") if len(values) else F.expr("array()").cast(
        "array<int>"
    )


def label_cent_raw(
    spark: SparkSession, sf_dir: str
) -> tuple[list[int], list[list[float]]]:
    """Collect the UNROUNDED label-mean centroids once per
    (app, corpus): k_labels x dim raw doubles — bounded driver state.
    collect() hands back the exact IEEE doubles the in-plan aggregate
    produced, and literals reproduce them exactly (the r13
    emb_top_pcs argument)."""
    from ..session import ensure_parallelism, read_table

    ck = (spark.sparkContext.applicationId, sf_dir)
    if ck in _LABELCENT_RAW_CACHE:
        return _LABELCENT_RAW_CACHE[ck]
    emb = ensure_parallelism(spark, read_table(spark, sf_dir, "embeddings"))
    rows = (
        emb.select(
            "label",
            F.posexplode(
                F.col("embedding").cast("array<double>")
            ).alias("pos", "x"),
        )
        .groupBy(F.col("label").alias("code"), "pos")
        .agg(F.avg("x").alias("c"))
        .collect()
    )
    if not rows:
        out: tuple = ([], [])
        _LABELCENT_RAW_CACHE[ck] = out
        return out
    dim = max(r["pos"] for r in rows) + 1
    cent: dict[int, list[float]] = {}
    for r in rows:
        cent.setdefault(int(r["code"]), [0.0] * dim)[r["pos"]] = float(
            r["c"]
        )
    codes = sorted(cent)
    out = (codes, [cent[c] for c in codes])
    _LABELCENT_RAW_CACHE[ck] = out
    return out


def query_rows(spark: SparkSession, sf_dir: str,
               n_queries: int) -> list[tuple[int, list[float]]]:
    """The query vectors (vec_id < n_queries), sorted by id, via a
    pushed-down parquet filter — never a corpus pass."""
    from ..session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    rows = (
        emb.where(F.col("vec_id") < n_queries)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        .collect()
    )
    return sorted(
        ((int(r["vec_id"]), [float(x) for x in r["v"]]) for r in rows),
        key=lambda t: t[0],
    )


def as_nullable(c: Column) -> Column:
    """Re-mark a literal-derived (non-nullable) column as nullable so
    the restructured plans declare the EXACT schema the former
    join/aggregate forms did. nullif(c, NULL) is a value-level
    identity (the sentinel comparison is never true) whose analyzed
    nullability is True; when(lit(True), c) does NOT work — Spark 4
    sees the exhaustive true branch and keeps the child's
    non-nullability."""
    return F.nullif(c, F.lit(None))


def qid_explode(qids: list[int]) -> Column:
    """explode'able literal array of (qid, qidx) structs — replaces
    the broadcast join of the query set against a flat scan. qid is
    re-marked nullable to match the former aggregate-derived column's
    declared schema. An empty query set gets a typed empty array
    (a bare F.array() is array<void>, and '_q.qid' would not resolve)."""
    arr = F.array(*[
        F.struct(
            as_nullable(F.lit(int(q)).cast("long")).alias("qid"),
            F.lit(i).cast("int").alias("qidx"),
        )
        for i, q in enumerate(qids)
    ])
    if not qids:
        arr = arr.cast("array<struct<qid:bigint,qidx:int>>")
    return F.explode(arr)


def qd_flat_micro(spark: SparkSession,
                  qrows: list[tuple[int, list[float]]],
                  cb: list[list[list[float]]],
                  block: int) -> list[int]:
    """Per-query micro-unit ADC distance tables as ONE flat list:
    qd[(qidx*S + s)*C + code] = d6(query qidx, subspace s, code).
    Computed driver-side in numpy with the same pos-ascending
    accumulation as the kernel (assign_codes_arrow) and the old
    aggregate path — elementwise IEEE ops in the identical order —
    and floor(x*1e6 + 0.5), which equals F.round's decimal half-up
    exactly for |x| < 2^52 (x + 0.5 is exact there). n_queries x S x C
    longs, bounded. (An earlier in-plan form was numerically equal but
    cost seconds of analysis per call: its 4096-element codebook
    literals made every expression walk expensive.)"""
    import numpy as np

    if not qrows:
        return []
    n_sub = len(cb)
    Q = np.asarray([v for _q, v in qrows], dtype="float64")
    flat: list[int] = []
    for qi in range(Q.shape[0]):
        for s in range(n_sub):
            sub = Q[qi, s * block:(s + 1) * block]
            cb_s = np.asarray(cb[s], dtype="float64")
            acc = np.zeros(cb_s.shape[0], dtype="float64")
            for j in range(block):
                diff = sub[j] - cb_s[:, j]
                acc = acc + diff * diff
            flat.extend(
                int(x) for x in np.floor(acc * 1e6 + 0.5).astype("int64")
            )
    return flat


def dq_flat_raw(qrows: list[tuple[int, list[float]]],
                cb: list[list[list[float]]],
                block: int) -> list[float]:
    """Raw-double query distance tables (emb_pq_ann's unrounded dq) as
    one flat list, via a driver-side Python fold — the same IEEE-754
    add/sub/mul sequence as the in-plan fold, no rounding anywhere, so
    the doubles are identical."""
    flat: list[float] = []
    for _q, v in qrows:
        for s, cb_s in enumerate(cb):
            sub = v[s * block:(s + 1) * block]
            for carr in cb_s:
                acc = 0.0
                for a, b in zip(sub, carr):
                    acc = acc + (a - b) * (a - b)
                flat.append(acc)
    return flat


def assign_codes_arrow(df, cb: list[list[list[float]]], block: int,
                       micro: bool, keep_cols: list[str],
                       coarse: list[list[float]] | None = None,
                       adc_tables=None):
    """Corpus-side PQ code assignment as ONE vectorized Arrow pass
    (guide §4.2): per batch, numpy accumulates the squared distances
    with an explicit pos-ascending loop — ``acc = acc + diff*diff``
    per coordinate — which performs the exact same elementwise IEEE
    add/sub/mul sequence as the JVM fold (and as the old
    posexplode+hash-aggregate path), so distances are bit-identical;
    pairwise/BLAS summation is deliberately NOT used. ``micro`` keys
    the argmin on floor(d2*1e6 + 0.5), exactly F.round's decimal
    half-up for these magnitudes (< 2^52, where x+0.5 is exact);
    argmin's first-occurrence tie-break equals the min-struct's
    ties-to-lower-code. The interpreted higher-order-function form of
    this projection measured ~1 microsecond per lambda evaluation —
    ruinous at 256-code budgets (the documented HOF trap); this kernel
    is the §4.2 answer: Spark distributes, numpy does the per-batch
    math. ``coarse`` switches on residual encoding (A - coarse[cell],
    elementwise exact; df must carry ``cell``).

    Input df needs ``v`` (+ ``cell`` when residual); output carries
    ``keep_cols`` + ``codes`` array<int> + ``d2s`` array<double> (the
    raw squared distance of each chosen code, for the distortion
    report).

    ``adc_tables`` additionally computes the per-row ADC sums against
    a stack of P query distance tables (shape P x S x C numpy) INSIDE
    the kernel, emitting an ``adcs`` array column of P entries per
    row. This keeps the distance tables in the function closure — a
    24k-element array LITERAL in the plan made every eager DataFrame
    analysis re-walk its expression tree (measured seconds of pure
    driver time per query construction at the 256-code budget).
    Integer tables sum as int64 (exact, order-free); float tables sum
    s-ascending — the element order of the former F.sum over the
    (subspace, code)-joined rows is reproduced by construction for
    integers and matched to the verified lookup order for doubles."""
    import numpy as np

    n_sub = len(cb)
    cbs = [np.asarray(cb_s, dtype="float64") for cb_s in cb]
    coarse_m = (
        np.asarray(coarse, dtype="float64") if coarse is not None else None
    )
    adc_t = None
    if adc_tables is not None:
        adc_t = np.asarray(adc_tables)
        adc_int = adc_t.dtype.kind in "iu"
    in_cols = list(keep_cols)
    if "v" not in in_cols:
        in_cols.append("v")
    if coarse_m is not None and "cell" not in in_cols:
        in_cols.append("cell")

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            A = np.stack(pdf["v"].to_numpy()).astype("float64", copy=False)
            if coarse_m is not None:
                A = A - coarse_m[pdf["cell"].to_numpy()]
            rows = np.arange(n)
            codes = np.empty((n, n_sub), dtype="int32")
            d2s = np.empty((n, n_sub), dtype="float64")
            for s in range(n_sub):
                sub = A[:, s * block:(s + 1) * block]
                cb_s = cbs[s]
                acc = np.zeros((n, cb_s.shape[0]), dtype="float64")
                for j in range(block):
                    diff = sub[:, j, None] - cb_s[None, :, j]
                    acc = acc + diff * diff
                key = np.floor(acc * 1e6 + 0.5) if micro else acc
                c = key.argmin(axis=1)
                codes[:, s] = c
                d2s[:, s] = acc[rows, c]
            out = {k: pdf[k] for k in keep_cols}
            out["codes"] = list(codes)
            out["d2s"] = list(d2s)
            if adc_t is not None:
                P = adc_t.shape[0]
                adcs = np.zeros(
                    (n, P), dtype="int64" if adc_int else "float64"
                )
                for p in range(P):
                    acc_p = adcs[:, p]
                    for s in range(n_sub):
                        acc_p = acc_p + adc_t[p, s, codes[:, s]]
                    adcs[:, p] = acc_p
                out["adcs"] = list(adcs)
            yield pd.DataFrame(out)

    schema_in = {f.name: f.dataType.simpleString() for f in df.schema}
    out_cols = [f"{k} {schema_in[k]}" for k in keep_cols] + [
        "codes array<int>", "d2s array<double>"
    ]
    if adc_t is not None:
        out_cols.append(
            "adcs array<bigint>" if adc_int else "adcs array<double>"
        )
    return df.select(*in_cols).mapInPandas(gen, ", ".join(out_cols))


def adc_lookup(flat_lit: Column, qidx: Column, n_sub: int, n_codes: int,
               code_cols: list[Column]) -> Column:
    """ADC sum as table lookups into the flat literal distance table:
    sum_s flat[(qidx*S + s)*C + code_s] (1-based element_at). Integer
    adds for d6 tables are order-independent; 4-term double adds for
    the raw table run s-ascending like the oracle's replay."""
    total = None
    for s, code in enumerate(code_cols):
        term = F.element_at(
            flat_lit,
            (qidx * n_sub + F.lit(s)) * n_codes + code + F.lit(1),
        )
        total = term if total is None else total + term
    return total
