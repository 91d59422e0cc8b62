"""Batch sinks: the gated JDBC load and the Z-order tagging kernel.

The reference persists to Postgres via COPY + upsert
(populate_postgres.sql); write_jdbc is its Spark JDBC load path. The
committed, exactly-once hist table is sources/snapshot.py, whose
compact(cluster_by=...) lays files out range- or Z-order-clustered
(zorder_tagged) for footer-stat pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_jdbc(df: DataFrame, url: str, table: str,
               properties: dict[str, str] | None = None,
               mode: str = "append") -> None:
    """JDBC sink (insert_postgres.py:24 ``df.write.jdbc``): append into
    a PRE-CREATED staging table, mirroring the reference's flow where
    create_objects.sql provisions the table before the Spark load.
    Needs the driver jar on the session classpath (``spark.jars``);
    tests/test_sources.py round-trips this end-to-end against a DuckDB
    JDBC database when a driver jar is present in the environment, and
    skips otherwise."""
    df.write.jdbc(url, table, mode=mode, properties=properties or {})


def zorder_tagged(df: DataFrame, cols: list[str],
                  bits: int = 6) -> DataFrame:
    """``df`` plus a ``_z`` Morton column interleaving ``bits``-bit
    equi-depth ranks of N cluster columns (bit i of column j lands at
    position i·N + j — for N=2 this is exactly the classic 2-D
    interleave). The kernel behind snapshot.compact's multi-column
    ``cluster_by``: one
    approx-quantile aggregate for the boundaries (N·2^bits scalars to
    the driver), then pure codegen shifts/masks per row. Rank lookups
    are bounded per-row array HOFs (2^bits elements — the sanctioned
    case). Columns must cast to double (numeric/date-epoch); the
    caller drops ``_z`` after the range write."""
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.agg(*[
        F.percentile_approx(c, qs).alias(f"b{j}")
        for j, c in enumerate(cols)
    ]).collect()[0]

    def rank_expr(col: str, bs) -> F.Column:
        arr = F.array(*[F.lit(float(x)) for x in bs])
        return F.size(
            F.filter(arr, lambda b: b <= F.col(col).cast("double"))
        ).cast("long")

    tagged = df
    rcols = []
    for j, c in enumerate(cols):
        rc = f"_zr{j}"
        rcols.append(rc)
        tagged = tagged.withColumn(rc, rank_expr(c, bounds[f"b{j}"]))
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    n = len(cols)
    for i in range(bits):
        for j, rc in enumerate(rcols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col(rc), i).bitwiseAND(one),
                    i * n + j,
                )
            )
    return tagged.withColumn("_z", z).drop(*rcols)
