"""Batch sinks: partitioned and clustered parquet layouts, gated JDBC.

The reference persists to Postgres via COPY + upsert
(populate_postgres.sql) and suggests parquet-on-S3 for cloud (README
"cloud environment" sketch). The Spark-native layouts here are a
parquet table partitioned by a date column (partition pruning for
time-range queries) and range/Z-order clustered files (footer-stat
pruning); the committed, exactly-once hist table is
sources/snapshot.py.
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


def write_range_clustered(df: DataFrame, path: str, cluster_col: str,
                          n_files: int = 8, mode: str = "overwrite") -> None:
    """Range-clustered parquet: repartitionByRange + sortWithinPartitions
    on the cluster column gives every output file a DISJOINT min/max
    range, so a point or range predicate prunes to O(1) files via
    parquet footer stats instead of scanning the table — the
    single-column analog of Z-ordering, and the difference between
    reading 1 file and 10,000 at 100 TB for time-range queries on an
    append-only hist table.
    """
    (
        df.repartitionByRange(n_files, cluster_col)
        .sortWithinPartitions(cluster_col)
        .write.mode(mode)
        .parquet(path)
    )


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      mode: str = "overwrite") -> None:
    """Hive-style partitioned parquet (one directory per partition
    value). Partition columns become directory keys, so a filter on
    them is resolved from the file LISTING — zero data files are even
    opened for pruned partitions (``PartitionFilters`` in the scan
    node, vs ``PushedFilters`` which still opens footers). The layout
    for append-only time-series at 100 TB: daily ingest appends one
    new directory, readers touch only the days they ask for, and
    retention is a directory delete. Keep partition cardinality in the
    thousands (day, not minute) so the listing itself stays cheap.
    """
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def write_zorder_clustered(df: DataFrame, path: str, col_a: str, col_b: str,
                           n_files: int = 8, bits: int = 6,
                           mode: str = "overwrite") -> None:
    """Two-dimensional Z-order clustering: rank each cluster column to
    a ``bits``-bit integer (percent_rank equi-depth, so skewed value
    distributions still spread evenly), interleave the bits into one
    Morton code, and range-write on it. Files then carry TIGHT min/max
    footer ranges on BOTH columns at once — a predicate on either
    column (or both) prunes most files, where single-column range
    clustering only helps its one column. This is the OPTIMIZE ZORDER
    BY pattern for two-dimensional hist-table access (e.g. region x
    day) at 100 TB.

    The Morton code is pure column math (shifts + masks on the two
    ranks) — no UDF and no global window: equi-depth boundaries come
    from one approx-quantile aggregate (2^bits scalars to the driver —
    the same k×1 collect budget as k-means centroids), and each row's
    rank is a JVM count-of-boundaries-below lookup. The only wide
    operation is the final range repartition itself.
    """
    (
        zorder_tagged(df, [col_a, col_b], bits=bits)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def zorder_tagged(df: DataFrame, cols: list[str],
                  bits: int = 6) -> DataFrame:
    """``df`` plus a ``_z`` Morton column interleaving ``bits``-bit
    equi-depth ranks of N cluster columns (bit i of column j lands at
    position i·N + j — for N=2 this is exactly the classic 2-D
    interleave). The shared kernel behind write_zorder_clustered and
    snapshot.compact's multi-column ``cluster_by``: one
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
