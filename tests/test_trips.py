"""Reference-parity tests for the trips pipeline on the REAL trips
schema (region, WKT coords, datetime, datasource) — the same shape as
/root/reference/trips.csv, built deterministically in-test.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from jobsity_data_pipeline_spark.functions.geo import (
    grid_cell,
    in_bbox,
    wkt_point_lat,
    wkt_point_lon,
)
from jobsity_data_pipeline_spark.pipeline import trips as TP
from jobsity_data_pipeline_spark.sources import snapshot as S

ROWS = [
    # region, origin, destination, datetime, datasource
    ("Prague", "POINT (14.4973 50.0013)", "POINT (14.4310 50.0405)",
     "2018-05-28 09:03:40", "funny_car"),
    ("Turin", "POINT (7.6728 44.9957)", "POINT (7.7203 45.0678)",
     "2018-05-21 02:54:04", "baba_car"),
    ("Prague", "POINT (14.3242 50.0000)", "POINT (14.4776 50.0933)",
     "2018-05-13 08:52:25", "cheap_mobile"),
    ("Turin", "POINT (7.5415 45.0916)", "POINT (7.7452 45.0262)",
     "2018-05-06 09:49:16", "bad_diesel_vehicles"),
    # exact duplicate of row 0 (conflict-skip case)
    ("Prague", "POINT (14.4973 50.0013)", "POINT (14.4310 50.0405)",
     "2018-05-28 09:03:40", "funny_car"),
    # same cell/time-of-day as row 0 but different coords (groupable)
    ("Prague", "POINT (14.4980 50.0020)", "POINT (14.4305 50.0410)",
     "2018-05-28 09:55:00", "funny_car"),
]


@pytest.fixture(scope="module")
def trips_df(spark):
    df = spark.createDataFrame(
        ROWS, "region string, origin_coord string, destination_coord string, "
              "datetime string, datasource string"
    )
    return TP.with_trip_key(df)


def test_wkt_parsing(spark):
    df = spark.createDataFrame(
        [Row(c="POINT (14.4973 50.0013)"), Row(c="POINT(-7.5 -45.25)"),
         Row(c="garbage")],
    )
    got = df.select(
        wkt_point_lon("c").alias("lon"), wkt_point_lat("c").alias("lat")
    ).collect()
    assert got[0].lon == pytest.approx(14.4973)
    assert got[0].lat == pytest.approx(50.0013)
    assert got[1].lon == pytest.approx(-7.5)
    assert got[1].lat == pytest.approx(-45.25)
    assert got[2].lon is None and got[2].lat is None


def test_trip_key_deterministic_and_dedup(spark, trips_df, tmp_path):
    # duplicate rows share a key; distinct rows do not
    keys = [r.trip_key for r in trips_df.collect()]
    assert keys[0] == keys[4]
    assert len(set(keys)) == 5
    hist = str(tmp_path / "hist")
    S.upsert_batch(trips_df, 0, hist)
    assert S.read_latest(spark, hist).count() == 5


def test_upsert_on_conflict_do_nothing(spark, trips_df, tmp_path):
    hist = str(tmp_path / "hist")
    assert S.upsert_batch(trips_df, 0, hist) == "published"
    assert S.read_latest(spark, hist).count() == 5
    # re-ingesting the same staging rows as a new batch adds nothing
    S.upsert_batch(trips_df, 1, hist)
    assert S.read_latest(spark, hist).count() == 5
    # a replayed batch id is a no-op (exactly-once)
    assert S.upsert_batch(trips_df, 0, hist) == "skipped_duplicate"


def test_weekly_avg_matches_reference_view(trips_df):
    got = {
        (r.region, r.week_of_month): r.weekly_avg
        for r in TP.weekly_avg_by_region(trips_df).collect()
    }
    # Postgres W = ceil(day/7): 28th -> week 4, 21st -> 3, 13th -> 2, 6th -> 1
    assert got[("Prague", "2018-05-04")] == 3  # rows 0,4,5 (dupes counted)
    assert got[("Turin", "2018-05-03")] == 1
    assert got[("Prague", "2018-05-02")] == 1
    assert got[("Turin", "2018-05-01")] == 1


def test_regions_for_datasource(trips_df):
    got = [r.region for r in TP.regions_for_datasource(trips_df, "cheap_mobile").collect()]
    assert got == ["Prague"]


def test_latest_datasource(trips_df):
    got = TP.latest_datasource(trips_df).collect()
    # latest trip overall is 2018-05-28 09:55 (row 5) within top-2 regions
    assert [r.datasource for r in got] == ["funny_car"]


def test_trip_groups_bins_similar_trips(trips_df):
    groups = TP.trip_groups(trips_df, cell_deg=0.05).collect()
    by_key = {(g.origin_cell, g.dest_cell, g.hour_of_day): g.n_trips for g in groups}
    # rows 0, 4 and 5 share origin/dest cells & hour 9
    assert max(by_key.values()) == 3
    total = sum(by_key.values())
    assert total == len(ROWS)


def test_bbox_weekly_avg(trips_df):
    # box around Prague origins only
    got = TP.bbox_weekly_avg(trips_df, 14.0, 49.5, 15.0, 50.5).collect()
    # Prague trips: weeks 2018-05-04 (3 trips incl dupe) and 2018-05-02 (1)
    assert got[0].weekly_avg_trips == pytest.approx(2.0)


def test_bbox_predicate(spark):
    df = spark.createDataFrame([Row(lon=1.0, lat=2.0), Row(lon=9.0, lat=2.0)])
    got = df.where(
        in_bbox(F.col("lon"), F.col("lat"), 0.0, 0.0, 5.0, 5.0)
    ).count()
    assert got == 1


def test_grid_cell_stability(spark):
    df = spark.createDataFrame([Row(lon=14.4973, lat=50.0013)])
    cell = df.select(grid_cell(F.col("lon"), F.col("lat"), 0.05).alias("c")).first().c
    assert cell == "289:1000"


def test_read_trips_csv_roundtrip(spark, tmp_path):
    p = tmp_path / "trips.csv"
    lines = ["region,origin_coord,destination_coord,datetime,datasource"] + [
        ",".join(f'"{c}"' for c in row) for row in ROWS
    ]
    p.write_text("\n".join(lines))
    df = TP.read_trips_csv(spark, str(p))
    assert df.count() == len(ROWS)
    assert df.columns == [
        "region", "origin_coord", "destination_coord", "datetime", "datasource"
    ]


def test_reference_trips_csv_end_to_end(spark, tmp_path):
    """The genuine challenge dataset (/root/reference/trips.csv, the
    file insert_postgres.py:21-23 loads) through the full pipeline:
    read -> trip_key -> idempotent upsert -> the three reference
    views, each checked against an independent pure-Python replay of
    the Postgres semantics (populate_postgres.sql / create_objects.sql
    / latest_datasource.sql)."""
    import csv
    import math
    from collections import Counter
    from datetime import datetime

    path = "/root/reference/trips.csv"
    with open(path) as f:
        raw = list(csv.DictReader(f))
    assert len(raw) == 100

    # ON CONFLICT (trip_key) DO NOTHING: first row per concat-key wins
    keyed = {}
    for r in raw:
        k = (r["region"] + r["origin_coord"] + r["destination_coord"]
             + r["datetime"] + r["datasource"])
        keyed.setdefault(k, r)
    dedup = list(keyed.values())

    df = TP.with_trip_key(TP.read_trips_csv(spark, path))
    table = str(tmp_path / "hist")
    S.upsert_batch(df, 0, table)
    assert S.read_latest(spark, table).count() == len(dedup)
    # re-ingesting the same file adds nothing (unique-index semantics)
    S.upsert_batch(df, 1, table)
    hist = S.read_latest(spark, table)
    assert hist.count() == len(dedup)

    # summarized_trip_data: inner and outer group keys coincide, so
    # ceil(avg(count)) == the per-(region, week) count
    def week(r):
        d = datetime.strptime(r["datetime"], "%Y-%m-%d %H:%M:%S")
        return f"{d:%Y-%m}-0{math.ceil(d.day / 7)}"

    want_weekly = Counter((r["region"], week(r)) for r in dedup)
    got_weekly = {
        (r.region, r.week_of_month): r.weekly_avg
        for r in TP.weekly_avg_by_region(hist).collect()
    }
    assert got_weekly == dict(want_weekly)

    want_regions = sorted(
        {r["region"] for r in dedup if r["datasource"] == "cheap_mobile"}
    )
    got_regions = sorted(
        r.region
        for r in TP.regions_for_datasource(hist, "cheap_mobile").collect()
    )
    assert got_regions == want_regions and got_regions

    # latest_datasource: max ts within the top-2 recurring regions,
    # then the datasource of EVERY hist row at that instant (the
    # reference's final join is unrestricted by region)
    top2 = [
        reg for reg, _ in sorted(
            Counter(r["region"] for r in dedup).items(),
            key=lambda kv: (-kv[1], kv[0]),
        )[:2]
    ]
    last_ts = max(r["datetime"] for r in dedup if r["region"] in top2)
    want_ds = sorted(
        r["datasource"] for r in dedup if r["datetime"] == last_ts
    )
    got_ds = sorted(
        r.datasource for r in TP.latest_datasource(hist).collect()
    )
    assert got_ds == want_ds and got_ds
