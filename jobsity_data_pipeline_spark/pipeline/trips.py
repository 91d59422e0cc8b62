"""The reference's trips pipeline, re-expressed as DataFrame plans.

Reference flow (populate_postgres.sql / create_objects.sql):
  CSV -> staging table -> trip_key = concat(all cols) -> upsert into
  hist with ON CONFLICT (trip_key) DO NOTHING -> SQL analytics.

Spark-first translation: the "staging table" is just the source scan
keyed by ``with_trip_key``, the unique-index upsert is
sources/snapshot.upsert_batch (a left-anti join on the hashed key
against the committed table), and the "materialized view" is a plan
the caller can write out or register — Catalyst handles the rest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geo import grid_cell, in_bbox, wkt_point_lat, wkt_point_lon
from ..functions.hashing import record_key

# create_objects.sql:2-9 types everything VARCHAR in staging; we type at
# the edge instead (schema-on-read with an explicit schema — no
# inference pass over 100 TB).
TRIPS_SCHEMA = T.StructType(
    [
        T.StructField("region", T.StringType()),
        T.StructField("origin_coord", T.StringType()),
        T.StructField("destination_coord", T.StringType()),
        T.StructField("datetime", T.StringType()),
        T.StructField("datasource", T.StringType()),
    ]
)


def read_trips_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV ingest with header + explicit schema (insert_postgres.py:21-23)."""
    return spark.read.option("header", "true").schema(TRIPS_SCHEMA).csv(path)


def with_trip_key(trips: DataFrame) -> DataFrame:
    """populate_postgres.sql:10-13 — deterministic business key."""
    return trips.withColumn(
        "trip_key",
        record_key("region", "origin_coord", "destination_coord", "datetime", "datasource"),
    )


def week_of_month(ts: Column) -> Column:
    """Postgres ``to_char(ts,'YYYY-MM') || '-0' || to_char(ts,'W')``
    (create_objects.sql:28-31): W = ceil(day_of_month / 7)."""
    return F.concat(
        F.date_format(ts, "yyyy-MM"),
        F.lit("-0"),
        F.ceil(F.dayofmonth(ts) / F.lit(7.0)).cast("int").cast("string"),
    )


def weekly_avg_by_region(trips: DataFrame, region_col: str = "region",
                         ts_col: str = "datetime") -> DataFrame:
    """The reference's summarized_trip_data materialized view
    (create_objects.sql:24-38): per (region, week-of-month) trip counts,
    then ceil(avg(count)) per region+week.

    Two partial-agg-friendly aggregations; both shuffle on region(+week)
    — fine at 100 TB because counts combine map-side.
    """
    counted = (
        trips.groupBy(
            F.col(region_col).alias("region"),
            week_of_month(F.col(ts_col).cast("timestamp")).alias("week_of_month"),
        ).agg(F.count("*").alias("cnt"))
    )
    return (
        counted.groupBy("region", "week_of_month")
        .agg(F.ceil(F.avg("cnt")).cast("long").alias("weekly_avg"))
    )


def regions_for_datasource(trips: DataFrame, datasource: str,
                           region_col: str = "region",
                           ds_col: str = "datasource") -> DataFrame:
    """cheap_mobile_datasource_regions.sql — GROUP BY, not DISTINCT
    (per the reference's comment), though Catalyst plans them the same."""
    return (
        trips.where(F.col(ds_col) == datasource)
        .groupBy(F.col(region_col).alias("region"))
        .count()
        .select("region")
    )


def latest_datasource(trips: DataFrame, region_col: str = "region",
                      ts_col: str = "datetime", ds_col: str = "datasource",
                      top_regions: int = 2) -> DataFrame:
    """latest_datasource.sql:1-22 — from the ``top_regions`` most
    recurring regions, the datasource of the latest trip.

    The top-2 region set is tiny -> broadcast semi-join against the
    fact table; the global max timestamp is a scalar agg; final lookup
    is another broadcast. No all-to-all shuffle of the fact table.
    """
    regions = (
        trips.groupBy(F.col(region_col).alias("_r"))
        .agg(F.count("*").alias("appearance"))
        .orderBy(F.col("appearance").desc(), F.col("_r"))
        .limit(top_regions)
        .select("_r")
    )
    in_top = trips.join(
        F.broadcast(regions), trips[region_col] == regions["_r"], "inner"
    )
    last_ts = in_top.agg(F.max(F.col(ts_col).cast("timestamp")).alias("last_occurence"))
    return (
        trips.join(
            F.broadcast(last_ts),
            F.col(ts_col).cast("timestamp") == F.col("last_occurence"),
            "inner",
        )
        .select(F.col(ds_col).alias("datasource"))
    )


def trip_groups(trips: DataFrame, cell_deg: float = 0.05) -> DataFrame:
    """Challenge: "group trips with similar origin, destination and time
    of day". Bin origin/destination to grid cells and the timestamp to
    hour-of-day; one hash shuffle on the composite bin key.
    """
    o_lon, o_lat = wkt_point_lon("origin_coord"), wkt_point_lat("origin_coord")
    d_lon, d_lat = wkt_point_lon("destination_coord"), wkt_point_lat("destination_coord")
    return (
        trips.select(
            grid_cell(o_lon, o_lat, cell_deg).alias("origin_cell"),
            grid_cell(d_lon, d_lat, cell_deg).alias("dest_cell"),
            F.hour(F.col("datetime").cast("timestamp")).alias("hour_of_day"),
        )
        .groupBy("origin_cell", "dest_cell", "hour_of_day")
        .agg(F.count("*").alias("n_trips"))
    )


def bbox_weekly_avg(trips: DataFrame, min_lon: float, min_lat: float,
                    max_lon: float, max_lat: float) -> DataFrame:
    """Challenge: weekly average number of trips for a bounding box.

    The bbox predicate is plain column arithmetic on the parsed origin
    point, so it is evaluated in the scan stage (and with lon/lat as
    parquet columns at scale, it prunes row groups via min/max stats).
    """
    o_lon, o_lat = wkt_point_lon("origin_coord"), wkt_point_lat("origin_coord")
    filtered = trips.where(in_bbox(o_lon, o_lat, min_lon, min_lat, max_lon, max_lat))
    counted = (
        filtered.groupBy(
            week_of_month(F.col("datetime").cast("timestamp")).alias("week_of_month")
        ).agg(F.count("*").alias("cnt"))
    )
    return counted.agg(F.round(F.avg("cnt"), 4).alias("weekly_avg_trips"))
