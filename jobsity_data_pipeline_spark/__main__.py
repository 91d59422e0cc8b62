"""Command-line entry point: ``python -m jobsity_data_pipeline_spark``.

The reference repo is driven as a script (``src/insert_postgres.py``
run against a CSV + Postgres); this engine's equivalent operational
surface is a small CLI over the driver contract:

    python -m jobsity_data_pipeline_spark list [pattern] [--staged]
    python -m jobsity_data_pipeline_spark run <query> [--sf-dir DIR]
        [--limit N] [--explain]
    python -m jobsity_data_pipeline_spark oracle <query>
    python -m jobsity_data_pipeline_spark ingest <trips.csv> <table_dir>
        [--batch-id N]
    python -m jobsity_data_pipeline_spark history <table_dir>
    python -m jobsity_data_pipeline_spark maintain <table_dir>
        [--analyze-keys K1,K2] [--vacuum]

``run`` executes any of the ~200 registered queries on the parquet
tables under ``--sf-dir`` with the tuned session (AQE, Arrow, UTC);
``oracle`` prints the query's DuckDB SQL twin (the correctness
contract, and handy documentation of the exact semantics). ``run``
and ``oracle`` also reach STAGED queries (built +
oracle-parity-green but not yet registered in the driver's
correctness rotation) with a loud stderr banner, so the operational
surface always matches the built surface. ``ingest`` replays the
reference pipeline end-to-end — CSV with explicit schema, trip-key
dedup, idempotent snapshot upsert; ``history`` prints one line per
table version; ``maintain`` runs the compact/analyze/vacuum chain.
"""

from __future__ import annotations

import argparse
import os
import sys


def _entrymod():
    # __spark_entry__ lives at the repo root, one level above the
    # package — resolvable from an installed/source checkout alike
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    import __spark_entry__ as e

    return e


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="jobsity_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("pattern", nargs="?", default="",
                        help="substring filter")
    p_list.add_argument("--staged", action="store_true",
                        help="list STAGED queries instead (built + "
                             "oracle-parity-green, not yet in the "
                             "registered driver surface)")

    p_run = sub.add_parser("run", help="run a registered query")
    p_run.add_argument("query")
    p_run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_run.add_argument("--limit", type=int, default=20)
    p_run.add_argument("--explain", action="store_true",
                       help="print the formatted physical plan instead")

    p_or = sub.add_parser("oracle", help="print a query's SQL twin")
    p_or.add_argument("query")

    p_ing = sub.add_parser(
        "ingest", help="reference trips pipeline: CSV -> snapshot upsert")
    p_ing.add_argument("csv")
    p_ing.add_argument("table_dir")
    p_ing.add_argument("--batch-id", type=int, default=0)

    p_hist = sub.add_parser(
        "history", help="DESCRIBE HISTORY of a snapshot table")
    p_hist.add_argument("table_dir")

    p_mnt = sub.add_parser(
        "maintain", help="nightly maintenance: compact/analyze/vacuum")
    p_mnt.add_argument("table_dir")
    p_mnt.add_argument("--analyze-keys", default="",
                       help="comma-separated stats keys")
    p_mnt.add_argument("--vacuum", action="store_true")

    a = p.parse_args(argv)
    e = _entrymod()

    def _staged_queries() -> dict:
        return getattr(e, "staged_queries", dict)() or {}

    def _staged_banner(name: str) -> None:
        print(f"[staged] {name}: built + oracle-parity-green, "
              f"no driver correctness row yet (registration next "
              f"rotation)", file=sys.stderr)

    if a.cmd == "list":
        pool = _staged_queries() if a.staged else e.queries()
        names = [k for k in pool if a.pattern in k]
        print("\n".join(sorted(names)))
        return 0

    if a.cmd == "oracle":
        sql = e.oracle_sql().get(a.query)
        if sql is None:
            staged = getattr(e, "staged_oracle_sql", dict)() or {}
            sql = staged.get(a.query)
            if sql is not None:
                _staged_banner(a.query)
        if sql is None:
            print(f"no oracle for {a.query!r}", file=sys.stderr)
            return 1
        print(sql.strip())
        return 0

    if a.cmd == "history":
        import datetime as dt

        from .sources.snapshot import history

        for h in history(a.table_dir):
            ts = dt.datetime.fromtimestamp(
                h["committed_at"], dt.timezone.utc
            ).isoformat(timespec="seconds")
            print(f"v{h['version']:>6}  {ts}  "
                  f"{h['n_files']:>5} file(s)  {h['batch']}")
        return 0

    from .session import get_spark

    if a.cmd == "run":
        q = e.queries().get(a.query)
        if q is None:
            q = _staged_queries().get(a.query)
            if q is not None:
                _staged_banner(a.query)
        if q is None:
            print(f"unknown query {a.query!r} (try `list` or "
                  f"`list --staged`)", file=sys.stderr)
            return 1
        spark = get_spark(app_name=f"cli-{a.query}")
        df = q(spark, a.sf_dir)
        if a.explain:
            print(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted")))
        else:
            df.show(a.limit, truncate=False)
        return 0

    if a.cmd == "ingest":
        from .pipeline.trips import read_trips_csv, with_trip_key
        from .sources.snapshot import read_latest, upsert_batch

        spark = get_spark(app_name="cli-ingest")
        staging = with_trip_key(read_trips_csv(spark, a.csv))
        status = upsert_batch(staging, a.batch_id, a.table_dir)
        n = read_latest(spark, a.table_dir).count()
        print(f"{status}: table now has {n} rows")
        return 0

    if a.cmd == "maintain":
        import json

        from .sources.snapshot import maintain

        spark = get_spark(app_name="cli-maintain")
        keys = [k for k in a.analyze_keys.split(",") if k]
        print(json.dumps(maintain(
            spark, a.table_dir, analyze_keys=keys or None,
            vacuum_old=a.vacuum,
        )))
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
