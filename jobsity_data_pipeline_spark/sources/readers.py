"""Batch sources: schema-on-read CSV/JSON/Parquet with explicit schemas.

The reference ingests CSV with header into typed staging
(insert_postgres.py:21-23, create_objects.sql:2-9). Here every reader
takes an explicit schema — no inference pass over 100 TB — and returns
a lazy scan that Catalyst can prune and push filters into.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(spark: SparkSession, path: str, schema: T.StructType,
             header: bool = True, delimiter: str = ",") -> DataFrame:
    """CSV with explicit schema; malformed rows go to PERMISSIVE nulls
    (the reference's staging table is all-VARCHAR for the same reason:
    never drop rows at ingest)."""
    return (
        spark.read.option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
        .schema(schema)
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (columnar like parquet: predicate pushdown + column
    pruning both apply; the reader is built into Spark)."""
    return spark.read.orc(path)


def read_csv_with_quarantine(spark: SparkSession, path: str,
                             schema: T.StructType, header: bool = True,
                             delimiter: str = ",") -> tuple[DataFrame, DataFrame]:
    """CSV ingest with a bad-row quarantine: returns (good, bad). Rows
    that fail the typed schema land in ``_corrupt_record`` (PERMISSIVE
    mode) and are split out with their raw text preserved, so ingest
    never silently drops OR silently nulls data — the lake version of
    the reference's all-VARCHAR staging table + typed INSERT...SELECT
    (create_objects.sql:2-9), where the cast failure would surface in
    Postgres instead.
    """
    from pyspark.sql import functions as F

    with_corrupt = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    raw = (
        spark.read.option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(with_corrupt)
        .csv(path)
        # the corrupt-record column materializes only when referenced
        # alongside the parsed columns; cache so the split below doesn't
        # re-parse the file twice
        .cache()
    )
    good = raw.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = raw.where(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return good, bad


def read_jsonl_with_quarantine(
    spark: SparkSession, path: str, schema: T.StructType,
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines ingest with a bad-row quarantine — the
    read_csv_with_quarantine contract for the other ubiquitous ingest
    format: (good, bad) where ``bad`` preserves the raw line of every
    record that is not valid JSON or fails the typed schema, so
    ingest never silently drops OR silently nulls data.

    The quarantine contract, stated plainly (verified against the
    PERMISSIVE parser): a line that is not valid JSON lands in ``bad``
    with its raw text, AND a line where any field fails its declared
    type ALSO lands in ``bad`` — the parser sets the corrupt column
    (preserving the raw line) whenever any field fails to cast, even
    though it still parses the other fields. So every row in ``good``
    parsed completely; nothing half-cast slips through with silently
    nulled fields. (A field that is merely ABSENT from the JSON is
    null in ``good`` by JSON semantics — absence is not a type
    failure.)

    Scale/lifecycle: one parse pass; both splits are eagerly
    materialized via localCheckpoint (the parse is the expensive
    part, paid once) and the intermediate parse frame is unpersisted
    before returning — nothing stays pinned in executor storage for
    the session beyond the two returned frames, which the
    ContextCleaner reclaims when the caller drops them."""
    from pyspark.sql import functions as F

    with_corrupt = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    raw = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(with_corrupt)
        .json(path)
        .cache()
    )
    good = raw.where(
        F.col("_corrupt_record").isNull()
    ).drop("_corrupt_record").localCheckpoint()
    bad = raw.where(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    ).localCheckpoint()
    raw.unpersist()
    return good, bad
