"""Deterministic hashing primitives for dedup: record keys and SimHash.

Everything is built on ``md5`` of UTF-8 strings because its hex output
is byte-identical across Spark, DuckDB, and Python — which lets the
DuckDB oracle replicate keys and signatures exactly. (MinHash/LSH
banding lives in operators/dedup.py.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def record_key(*cols: Column | str) -> Column:
    """Deterministic business key: md5 over '|'-joined columns.

    Mirrors the reference's ``trip_key = CONCAT(region, origin_coord,
    destination_coord, date_time, datasource)`` (populate_postgres.sql:
    10-13) but hashed so the key is fixed-width at 100 TB scale.
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.md5(F.concat_ws("|", *cs))


def token_hashes32(tokens_col: Column) -> Column:
    """Map a string array to 32-bit int hashes (first 8 hex of md5).

    Materialize this ONCE (withColumn) before calling simhash32 so the
    md5s aren't re-evaluated per bit position.
    """
    return F.transform(
        tokens_col, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )


def simhash32(hashes_col: Column) -> Column:
    """32-bit SimHash over an array<long> of 32-bit token hashes.

    Each bit of each hash votes +1/-1; result bit is 1 iff the vote sum
    is positive. Pure array expressions (aggregate per bit over the
    pre-hashed int array) — JVM-side, oracle-replicable via range(32).
    """
    def voter(mask: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, F.lit(1)
        ).otherwise(F.lit(-1))

    out = F.lit(0).cast("long")
    for bit in range(32):
        vote = F.aggregate(hashes_col, F.lit(0), voter(1 << bit))
        out = out + F.when(vote > 0, F.lit(1 << bit)).otherwise(F.lit(0)).cast("long")
    return out


def hamming32(a: Column, b: Column) -> Column:
    """Hamming distance between two 32-bit simhashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))
