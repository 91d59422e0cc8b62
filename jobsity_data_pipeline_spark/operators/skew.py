"""Skew-handling join utilities.

AQE's skew-join split handles most cases at runtime; explicit salting is
for the pathological key (one region/null-bucket holding half the data)
where even split partitions overwhelm a task. Salting the big side and
exploding the small side keeps the join an equi-join with S-way key
fan-out — the standard remedy when a broadcast is impossible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


SALT_COL = "__jdp_salt"


def salted_join(big: DataFrame, small: DataFrame, key: str,
                salt: int = 8, how: str = "inner") -> DataFrame:
    """Equi-join ``big`` with ``small`` on ``key``, spreading each hot
    key over ``salt`` sub-keys.

    The big side gets a deterministic salt from md5 of all its columns
    (row identity is NOT needed — any per-row spreader works; hashing
    keeps it deterministic); the small side is exploded salt-fold.
    Output columns match a plain ``big.join(small, key, how)``.

    Only ``inner`` and ``left`` are sound: the small side is exploded
    ``salt`` times, so right/full outer would emit each UNMATCHED
    small-side row once per salt replica. For those, salt the other
    way around or fall back to AQE skew-join handling.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: "
            "outer joins would duplicate unmatched exploded small-side rows"
        )
    for df, side in ((big, "big"), (small, "small")):
        if SALT_COL in df.columns:
            raise ValueError(f"{side} side already has a {SALT_COL} column")
    b = big.withColumn(
        SALT_COL,
        (
            F.conv(
                F.substring(F.md5(F.concat_ws("|", *[F.col(c) for c in big.columns])), 1, 8),
                16,
                10,
            ).cast("long")
            % salt
        ).cast("int"),
    )
    s = small.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    joined = b.join(s, on=[key, SALT_COL], how=how)
    return joined.drop(SALT_COL)


BLOOM_COL = "__jdp_bloom"


def _bloom_pos(col: str, i: int, m_bits: int):
    """Bloom bit position for hash seed ``i`` via xxhash64 — the
    NATIVE codegen hash, deliberately NOT the md5 formula
    docs_bloom_probe uses: the prune is output-invariant (no false
    negatives), so the bitset never needs cross-engine replay, and
    the probe runs on every fact row where md5's bytes-through-hex
    detour measurably dominates (3 hashes/row). Seed rides as a
    leading literal column; pmod maps the signed hash into
    [0, m_bits)."""
    return F.pmod(
        F.xxhash64(F.lit(i), F.col(col)), F.lit(m_bits)
    )


def bloom_pruned_join(fact: DataFrame, small: DataFrame, fact_key: str,
                      small_key: str, m_bits: int = 1 << 16,
                      k_hashes: int = 3,
                      how: str = "inner") -> DataFrame:
    """Equi-join with a broadcast Bloom prune on the fact side: build
    a deterministic k-hash Bloom bitset over the (already filtered)
    small side's keys, broadcast it, and drop fact rows that cannot
    match BEFORE the join shuffle — the classic 100 TB join
    reduction: the shuffle then carries only matching-plus-
    false-positive rows instead of the whole fact table.

    The bitset ships as a PACKED array<long> (m_bits/64 words, ~8 KB
    at the default) inside a 1-row broadcast; the probe is k xxhash64
    + O(1) array-index + shift/mask bit tests per fact row, all
    native codegen expressions (no Python, no UDF). Packed words are
    load-bearing, not cosmetic: Spark's MapType ``element_at`` is a
    LINEAR scan over the entries, so a map-of-positions bitset made
    the probe O(set size) per row — measured 10.8 s to probe 600 k
    fact rows against a 45 k-entry map at sf0.1, vs ~0.1 s for the
    packed form. Bloom filters have NO false negatives, so the
    join OUTPUT is identical to the unpruned join — the prune is a
    pure shuffle-volume optimization, which is what makes it
    oracle-checkable by the plain join. Size ``m_bits`` ~ 10x the
    expected distinct build keys for a low false-positive rate
    ((1 - e^(-k·n/m))^k); an undersized filter only costs shuffle
    volume, never correctness.

    ``how`` is restricted to joins where dropping non-matching FACT
    rows is sound: 'inner', 'left_semi', and 'right' (fact side
    non-preserved). 'left'/'full' would lose unmatched fact rows.
    """
    if how not in ("inner", "left_semi", "right"):
        raise ValueError(
            f"bloom_pruned_join supports how='inner'|'left_semi'|"
            f"'right', got {how!r}: the prune drops non-matching fact "
            f"rows, which left/full outer joins must preserve"
        )
    pruned = bloom_prune(fact, small, fact_key, small_key,
                         m_bits=m_bits, k_hashes=k_hashes)
    return pruned.join(
        small, pruned[fact_key] == small[small_key], how)


def bloom_prune(fact: DataFrame, small: DataFrame, fact_key: str,
                small_key: str, m_bits: int = 1 << 16,
                k_hashes: int = 3) -> DataFrame:
    """The prune half of ``bloom_pruned_join``: fact rows whose key
    passes the broadcast Bloom bitset built over the small side's
    keys — a superset of the matching rows (false positives only,
    never false negatives). Exposed separately so callers can prune
    before a DIFFERENT downstream operator (aggregation-before-join,
    a second filter) and so tests can measure the reduction."""
    bits = bloom_bits_dense(
        bloom_words(small, small_key, m_bits, k_hashes), m_bits)
    return bloom_probe(fact, bits, fact_key, m_bits, k_hashes)


def bloom_words(small: DataFrame, small_key: str,
                m_bits: int = 1 << 16, k_hashes: int = 3) -> DataFrame:
    """The Bloom bitset as SPARSE (w, b) word rows — per 64-bit word
    index, the OR of its set bits (<= m_bits/64 rows). This is the
    MERGEABLE form: bit_or across shards/batches is associative,
    commutative, and ABSORBING (re-OR-ing the same bits is a no-op),
    so a replayed batch cannot change the merged bitset."""
    pos = small.select(
        F.explode(
            F.array(
                *[_bloom_pos(small_key, i, m_bits)
                  for i in range(k_hashes)]
            )
        ).alias("pos")
    )
    return pos.select(
        F.expr("CAST(pos div 64 AS INT)").alias("w"),
        F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("b"),
    ).groupBy("w").agg(F.expr("bit_or(b)").alias("b"))


# above this word count the one-row map gap-fill (quadratic: MapType
# element_at is a linear scan, n_words lookups) switches to the
# distributed range-join assembly — 4096 words (2^18 bits) bounds the
# map path at ~1.7e7 comparisons while keeping the common small-filter
# build join-free
_BLOOM_DENSE_MAP_MAX_WORDS = 4096


def bloom_bits_dense(words: DataFrame, m_bits: int) -> DataFrame:
    """Assemble sparse (w, b) word rows into the DENSE 1-row
    array<long> the O(1) probe indexes. Two gap-fill strategies with
    identical output: at or below _BLOOM_DENSE_MAP_MAX_WORDS words, a
    bounded one-row map lookup (n_words² ops — MapType element_at is
    a linear scan, so this path is capped, the markov-cap lesson
    applied as an automatic switch instead of a ValueError); above
    it, a DISTRIBUTED range left-join + sorted collect
    (O(n_words log n_words), executor-parallel) so sizing m_bits at
    ~10× a large build side (the bloom_pruned_join guidance) never
    silently explodes into a quadratic single-row transform."""
    n_words = (m_bits + 63) // 64
    if n_words <= _BLOOM_DENSE_MAP_MAX_WORDS:
        return words.agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "b"))
            ).alias("_wm")
        ).select(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("_wm"), i), F.lit(0).cast("long")
                ),
            ).alias(BLOOM_COL)
        )
    spark = words.sparkSession
    idx = spark.range(n_words).select(F.col("id").cast("int").alias("w"))
    filled = idx.join(words, "w", "left").select(
        "w", F.coalesce("b", F.lit(0).cast("long")).alias("b"))
    # sort_array orders the structs by w (first field), so the
    # extracted b array is positional — one bounded-HOF pass on the
    # single collected row
    return filled.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("w", "b"))),
            lambda s: s["b"],
        ).alias(BLOOM_COL)
    )


def bloom_probe(fact: DataFrame, bits: DataFrame, fact_key: str,
                m_bits: int = 1 << 16, k_hashes: int = 3) -> DataFrame:
    """Filter ``fact`` through a prebuilt dense bitset frame
    (bloom_bits_dense output) — the probe half of bloom_prune."""
    clashing = [
        c for c in (BLOOM_COL,
                    *[f"__jdp_bp{i}" for i in range(k_hashes)])
        if c in fact.columns
    ]
    if clashing:
        raise ValueError(
            f"fact side already has bloom working columns {clashing}")
    probed = fact.join(F.broadcast(bits))
    probe_cols = []
    for i in range(k_hashes):
        pc = f"__jdp_bp{i}"
        probe_cols.append(pc)
        probed = probed.withColumn(
            pc, _bloom_pos(fact_key, i, m_bits))
    cond = None
    for pc in probe_cols:
        t = F.expr(
            f"(shiftright(element_at({BLOOM_COL}, "
            f"CAST({pc} div 64 AS INT) + 1), "
            f"CAST({pc} % 64 AS INT)) & 1) = 1"
        )
        cond = t if cond is None else (cond & t)
    return probed.where(cond).drop(BLOOM_COL, *probe_cols)
