"""Independent reference for the trips views, computed with DuckDB.

The expected answer of every read is recomputed here from the generated
CSV rows with the reference's SQL semantics (create_objects.sql,
cheap_mobile_datasource_regions.sql, latest_datasource.sql and the
challenge's grouping and bounding-box queries), never from the system
under test. Results are compared as order-independent digests.
"""

from __future__ import annotations

import hashlib

COLS = ("region", "origin_coord", "destination_coord", "datetime",
        "datasource")
_WKT = r"POINT\s*\(\s*(-?[0-9.]+)\s+(-?[0-9.]+)\s*\)"
_TS = "CAST(datetime AS TIMESTAMP)"
_WEEK = (f"strftime({_TS}, '%Y-%m') || '-0' || "
         f"CAST(CAST(ceil(day({_TS}) / 7.0) AS INTEGER) AS VARCHAR)")
_OLON = f"CAST(regexp_extract(origin_coord, '{_WKT}', 1) AS DOUBLE)"
_OLAT = f"CAST(regexp_extract(origin_coord, '{_WKT}', 2) AS DOUBLE)"
_DLON = f"CAST(regexp_extract(destination_coord, '{_WKT}', 1) AS DOUBLE)"
_DLAT = f"CAST(regexp_extract(destination_coord, '{_WKT}', 2) AS DOUBLE)"


def digest(rows) -> tuple[int, int]:
    """(row count, order-independent sum of per-row md5s mod 2**64)."""
    total, n = 0, 0
    for r in rows:
        h = hashlib.md5("\x1f".join(map(str, r)).encode()).digest()
        total = (total + int.from_bytes(h[:8], "little")) % (1 << 64)
        n += 1
    return n, total


class Oracle:
    """Trips history in an in-memory DuckDB table ``rows``.

    Each row carries the ``stage`` at which it was first accepted, so a
    view can be evaluated against the table as it stood after any
    stage (``upto``) — the state a read between two stream drops saw.
    """

    def __init__(self, temp_dir: str):
        import duckdb  # only the check loads it, after the memory reading

        self.db = duckdb.connect(config={"temp_directory": temp_dir,
                                         "threads": 1})
        self.db.execute(
            "CREATE TABLE rows (region VARCHAR, origin_coord VARCHAR, "
            "destination_coord VARCHAR, datetime VARCHAR, "
            "datasource VARCHAR, stage INTEGER)")
        self._view_stage = None
        self._memo: dict = {}

    def close(self) -> None:
        self.db.close()

    def add_csv(self, path: str, stage: int) -> None:
        """Load one generated CSV file as accepted at ``stage``."""
        cols = ", ".join(f"'{c}': 'VARCHAR'" for c in COLS)
        self.db.execute(
            f"INSERT INTO rows SELECT *, {int(stage)} FROM read_csv(?, "
            f"header = true, quote = '', columns = {{{cols}}})", [path])
        self._view_stage = None

    def _hist(self, upto: int) -> None:
        """Materialize ``hist``: distinct rows accepted by ``upto``,
        keyed like the system (md5 over '|'-joined columns)."""
        if self._view_stage == upto:
            return
        self.db.execute(
            "CREATE OR REPLACE TABLE hist AS SELECT DISTINCT region, "
            "origin_coord, destination_coord, datetime, datasource, "
            "md5(concat_ws('|', region, origin_coord, destination_coord, "
            "datetime, datasource)) AS trip_key FROM rows WHERE stage <= ?",
            [upto])
        self._view_stage = upto

    def key_digest(self, upto: int) -> tuple[int, int, int]:
        """(rows, sum of first 8 hex digits, sum of next 8) over the
        distinct keys — the shape the system's table is checked against."""
        self._hist(upto)
        return tuple(int(v) for v in self.db.execute(
            "SELECT count(*), coalesce(sum(('0x' || substr(trip_key, 1, 8))"
            "::BIGINT), 0), coalesce(sum(('0x' || substr(trip_key, 9, 8))"
            "::BIGINT), 0) FROM hist").fetchone())

    def csv_bytes(self, upto: int) -> int:
        """CSV bytes of the distinct accepted rows (header excluded)."""
        self._hist(upto)
        return int(self.db.execute(
            "SELECT coalesce(sum(strlen(region) + strlen(origin_coord) + "
            "strlen(destination_coord) + strlen(datetime) + "
            "strlen(datasource) + 5), 0) FROM hist").fetchone()[0])

    def expected(self, kind: str, params: dict, upto: int):
        """Expected answer of one read: a digest, a float or a row list."""
        key = (kind, tuple(sorted(params.items())), upto)
        if key not in self._memo:
            self._memo[key] = self._expected(kind, params, upto)
        return self._memo[key]

    def _expected(self, kind: str, params: dict, upto: int):
        self._hist(upto)
        q = self.db.execute
        if kind == "weekly_avg_by_region":
            return digest(q(
                f"WITH c AS (SELECT region, {_WEEK} AS week_of_month, "
                "count(*) AS cnt FROM hist GROUP BY ALL) SELECT region, "
                "week_of_month, CAST(ceil(avg(cnt)) AS BIGINT) FROM c "
                "GROUP BY ALL").fetchall())
        if kind == "regions_for_datasource":
            return digest(q(
                "SELECT region FROM hist WHERE datasource = ? GROUP BY region",
                [params["datasource"]]).fetchall())
        if kind == "latest_datasource":
            return sorted(r[0] for r in q(
                f"WITH top AS (SELECT region FROM hist GROUP BY region "
                "ORDER BY count(*) DESC, region LIMIT 2), last AS (SELECT "
                f"max({_TS}) AS ts FROM hist WHERE region IN (SELECT region "
                f"FROM top)) SELECT datasource FROM hist, last WHERE {_TS} = "
                "last.ts").fetchall())
        if kind == "trip_groups":
            cell = f"CAST({params['cell_deg']!r} AS DOUBLE)"

            def grid(lon, lat):
                return (f"concat_ws(':', CAST(floor({lon} / {cell}) AS BIGINT),"
                        f" CAST(floor({lat} / {cell}) AS BIGINT))")

            return digest(q(
                f"SELECT {grid(_OLON, _OLAT)}, {grid(_DLON, _DLAT)}, "
                f"hour({_TS}), count(*) FROM hist GROUP BY ALL").fetchall())
        if kind == "bbox_weekly_avg":
            b = params["bbox"]
            v = q(
                f"WITH c AS (SELECT {_WEEK} AS w, count(*) AS cnt FROM hist "
                f"WHERE {_OLON} BETWEEN ? AND ? AND {_OLAT} BETWEEN ? AND ? "
                "GROUP BY ALL) SELECT avg(cnt) FROM c",
                [b[0], b[2], b[1], b[3]]).fetchone()[0]
            return None if v is None else float(v)
        if kind == "trip_lookup":
            return [tuple(r) for r in q(
                "SELECT * FROM hist WHERE trip_key = ?",
                [params["key"]]).fetchall()]
        raise ValueError(f"unknown read type {kind!r}")
