"""Batch source: CSV with an explicit schema and a bad-row quarantine.

The reference ingests CSV with header into typed staging
(insert_postgres.py:21-23, create_objects.sql:2-9). The reader takes
an explicit schema — no inference pass over 100 TB — and returns
lazy scans that Catalyst can prune and push filters into.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


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

