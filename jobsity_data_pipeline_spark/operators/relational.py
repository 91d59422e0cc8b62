"""Relational query library: reference-parity analytics + core operators.

Part A mirrors the reference's SQL surface (create_objects.sql,
cheap_mobile_datasource_regions.sql, latest_datasource.sql,
populate_postgres.sql) under the events-table mapping of SURVEY.md §4:
``region := 'region_' || user_id % 8``, ``datasource := event_type``,
``date_time := ts``.

Part B is the general analytical operator sweep (joins, windows,
rollups, semi/anti joins, percentiles) on the TPC-H-ish tables.

Every function takes ``(spark, sf_dir)`` and returns a lazy DataFrame;
the matching DuckDB oracle SQL lives in __spark_entry__.oracle_sql.
All aggregates are partial-agg friendly; small sides of joins are
explicitly broadcast; every computed column is aliased to match the
oracle column names exactly (the driver hash-compares by sorted name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import money as M
from ..functions.hashing import record_key
from ..pipeline import trips as TP
from ..session import read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _events_as_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §4 mapping of the events stream onto the trips schema."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("region_"), (F.col("user_id") % 8).cast("string")).alias("region"),
        F.col("event_type").alias("datasource"),
        F.col("ts").alias("date_time"),
        F.col("user_id"),
        F.col("event_id"),
        F.col("value"),
    )


# --- Part A: reference-parity -------------------------------------------------

def trip_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging->hist keyed-dedup accounting (populate_postgres.sql:10-31):
    how many raw rows, unique trip_keys, and conflict-skipped rows."""
    trips = _events_as_trips(spark, sf_dir)
    keyed = trips.withColumn("trip_key", record_key("region", "datasource"))
    return keyed.agg(
        F.count("*").alias("n_total"),
        F.countDistinct("trip_key").alias("n_unique"),
        (F.count("*") - F.countDistinct("trip_key")).alias("n_conflict_skipped"),
    )


def weekly_avg_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """summarized_trip_data materialized view (create_objects.sql:24-38)."""
    return TP.weekly_avg_by_region(_events_as_trips(spark, sf_dir),
                                   ts_col="date_time")


def regions_for_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cheap_mobile_datasource_regions.sql with datasource := 'purchase'."""
    return TP.regions_for_datasource(_events_as_trips(spark, sf_dir),
                                     "purchase")


def latest_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """latest_datasource.sql: datasource of the most recent trip within
    the two most recurring regions."""
    return TP.latest_datasource(_events_as_trips(spark, sf_dir),
                                ts_col="date_time")


def trip_grouping_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Challenge 'similar trips' grouping under the events mapping:
    bin value into origin-cell-like buckets x hour-of-day x region."""
    trips = _events_as_trips(spark, sf_dir)
    return (
        trips.select(
            "region",
            F.floor(F.col("value") / F.lit(25.0)).cast("long").alias("value_bin"),
            F.hour("date_time").cast("long").alias("hour_of_day"),
        )
        .groupBy("region", "value_bin", "hour_of_day")
        .agg(F.count("*").alias("n_trips"))
    )


def bbox_weekly_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Challenge bounding-box weekly average under the events mapping:
    the 'box' is a value range; predicate evaluates in the scan stage."""
    trips = _events_as_trips(spark, sf_dir)
    counted = (
        trips.where((F.col("value") >= 10.0) & (F.col("value") <= 100.0))
        .groupBy(TP.week_of_month(F.col("date_time")).alias("week_of_month"))
        .agg(F.count("*").alias("cnt"))
    )
    return counted.agg(F.round(F.avg("cnt"), 4).alias("weekly_avg_trips"))


# --- Part B: core analytical operators ---------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter + multi-aggregate groupBy.

    Money/quantity accumulate as exact integer units (functions.money)
    and round via integer half-up division — order-independent and
    engine-exact, unlike the former float sums."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(M.cents("l_quantity")).alias("qty_c"),
            F.sum(M.cents("l_extendedprice")).alias("ep_c"),
            F.sum(M.rev_e4()).alias("rev_e4"),
            F.sum(M.charge_e6()).alias("chg_e6"),
            F.sum(M.pct("l_discount")).alias("disc_p"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus",
            (F.col("qty_c") / 100.0).alias("sum_qty"),
            (F.col("ep_c") / 100.0).alias("sum_base_price"),
            (F.expr("(rev_e4 + 50) div 100") / 100.0).alias("sum_disc_price"),
            (F.expr("(chg_e6 + 5000) div 10000") / 100.0).alias("sum_charge"),
            (F.expr("(2 * qty_c * 100 + count_order) div (2 * count_order)")
             / 1e4).alias("avg_qty"),
            (F.expr("(2 * ep_c * 100 + count_order) div (2 * count_order)")
             / 1e4).alias("avg_price"),
            (F.expr("(2 * disc_p * 100 + count_order) div (2 * count_order)")
             / 1e4).alias("avg_disc"),
            "count_order",
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, agg, deterministic top-10."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(M.rev_e4()).alias("rev_e4"))
        .withColumn("revenue", F.expr("(rev_e4 + 50) div 100") / 100.0)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; all dims broadcast, facts join on keys."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(sup),
            (li["l_suppkey"] == sup["s_suppkey"])
            & (cust["c_nationkey"] == sup["s_nationkey"]),
        )
        .join(F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(F.sum(M.rev_e4()).alias("rev_e4"))
        .select(
            "n_name",
            (F.expr("(rev_e4 + 50) div 100") / 100.0).alias("revenue"),
        )
    )


def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-n per group: 3 highest-balance customers per nation.

    NOT a ranking window: ``Window.partitionBy(c_nationkey)`` over the
    raw customer scan would put ~|customers|/25 rows through ONE
    WindowExec sort task — tens of millions of rows per task at the
    100 TB posture (customer scales linearly with SF while nations
    stay at 25). The mergeable ``ranking.grouped_topk`` salted
    two-stage bottom-k aggregate computes the identical
    ``row_number() <= 3`` result (same order, same rank column, same
    oracle hash) with every stage a map-side-combinable aggregate.
    """
    from .ranking import grouped_topk

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    top = grouped_topk(
        cust.select("c_nationkey", "c_custkey", "c_acctbal"),
        ["c_nationkey"],
        [-F.col("c_acctbal"), F.col("c_custkey")],
        [F.col("c_custkey"), F.col("c_acctbal")],
        3,
        F.col("c_custkey"),
        rank_col="rnk",
    )
    return (
        top.join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .select(
            "n_name", "rnk", "c_custkey",
            (M.cents("c_acctbal") / 100.0).alias("c_acctbal"),
        )
    )


def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchical aggregate over (status, priority)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        (F.sum(M.cents("o_totalprice")) / 100.0).alias("total_price"),
    )


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers that never placed an order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
    )


def suppliers_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: suppliers with at least one returned lineitem."""
    sup = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        sup.join(li, sup["s_suppkey"] == li["l_suppkey"], "left_semi")
        .select("s_suppkey", "s_name")
    )


def orders_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of order value per priority."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", 0.5), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", 0.9), 2).alias("p90"),
        F.round(F.percentile("o_totalprice", 0.99), 2).alias("p99"),
    )


def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via lag window + running sum —
    the batch twin of the streaming session operator. One shuffle on
    user_id; both windows share the same partitioning."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
            > 1800,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessions = gapped.withColumn(
        "session_id", F.sum("new_session").over(w)
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
            "dur_s"
        ),
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.round(F.avg("dur_s"), 4).alias("avg_session_s"),
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window (1h) aggregate — batch twin of the streaming
    windowed count; hour bucket kept as a string for engine parity."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(M.cents("value")) / 100.0).alias("total_value"),
        )
    )


def events_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window aggregate per user ordered by time; the
    running sum accumulates exact cents (engine- and order-exact)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        (F.sum(M.cents("value")).over(w) / 100.0).alias("running_value"),
    )
