"""Trips benchmark: one closed-loop client against ``local[nproc]``.

Usage, from the root of the repository:

    python3 tripsbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Workloads (see ``workloads.py``):

* ``ingest``: seeded CSV batches through ``read_trips_csv`` ->
  ``with_trip_key`` -> ``snapshot.upsert_batch``, no reads.
* ``analytics``: history preloaded in set-up, then the six read types.
* ``ingest_and_query``: stream drops through ``read_trips_stream`` ->
  ``dedup_stream`` -> ``start_snapshot_upsert`` with reads between them.

Human-readable lines come first; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` the run first repeats itself untraced in a child
process, then issues the same operations traced, and reports the
per-layer metrics and the tracing overhead. Spans and attributed Spark
jobs of a traced run are written to ``.tripsbench-runs/traces/``.

Everything a run writes stays under ``.tripsbench-runs/`` in the
current directory, and its work directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = ".tripsbench-runs"
DRIVER_MEMORY = "1g"


class Env:
    """The pinned run environment: cores, directories and Spark conf."""

    def __init__(self, workdir: str, trace: bool):
        self.workdir = workdir
        self.trace = trace
        self.cpus = len(os.sched_getaffinity(0))
        self.event_dir = self.path("events")
        for d in ("tmp", "local", "events"):
            os.makedirs(self.path(d), exist_ok=True)
        # read by the JVM launcher and by session.get_spark
        os.environ.update({
            "TMPDIR": self.path("tmp"),
            "SPARK_LOCAL_DIRS": self.path("local"),
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_UI_ENABLED": "false",
        })

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def spark_conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={self.path('tmp')} "
                f"-Dderby.system.home={self.path('derby')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the self-test")
    ap.add_argument("--plant-fault", action="store_true",
                    help="replace one answer with a wrong one, to show "
                         "that the check counts it")
    return ap.parse_args(argv)


def untraced_child(args) -> dict:
    """Run the same workload and seed untraced in a child process and
    return its totals line."""
    cmd = [sys.executable, os.path.abspath(__file__),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "0",
           "--size", args.size]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                         timeout=170, check=True).stdout
    for line in out.splitlines():
        if line.startswith("totals "):
            return json.loads(line[len("totals "):])
    raise RuntimeError("untraced run printed no totals line")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import jobsity_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the system under test: {e}", file=sys.stderr)
        return 2
    import report
    from spans import Tracer, read_event_logs
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    untraced = untraced_child(args) if args.trace else None

    workdir = os.path.abspath(os.path.join(
        RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    wl = None
    try:
        env = Env(workdir, bool(args.trace))
        tracer = Tracer(bool(args.trace))
        wl = WORKLOADS[args.workload](env, args.seed, args.seconds,
                                      args.size, tracer, args.plant_fault)
        t0 = time.perf_counter()
        wl.setup()
        wl.measured_s = wl.run()
        wl.rss_mb = wl.peak_rss_mb()
        t1 = time.perf_counter()
        wl.check()
        wl.check_s = time.perf_counter() - t1
        wl.setup_wall_s = t1 - t0 - wl.measured_s
        probe = report.probes(wl) if args.trace else {}
        wl.close()  # flushes the event logs
        lines = report.describe(wl)
        if args.trace:
            jobs = read_event_logs(env.event_dir)
            metrics = report.per_layer(wl, tracer.spans, jobs, untraced,
                                       probe)
            lines += report.describe_layers(metrics)
            trace_dir = os.path.join(RUNS_DIR, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(
                trace_dir, f"{args.workload}-{args.seed}.json")
            tracer.write(trace_path, jobs)
            lines.append(f"spans and Spark jobs written to {trace_path}")
        else:
            metrics = report.end_to_end(wl)
    finally:
        if wl is not None:
            wl.close()
        shutil.rmtree(workdir, ignore_errors=True)
    failed = sum(not o["ok"] for o in wl.ops)
    print("\n".join(lines))
    print("totals " + json.dumps({
        "ops": len(wl.ops),
        "op_total_s": sum(o["latency_s"] for o in wl.ops)}))
    print(json.dumps({
        "correct": failed == 0 and wl.table_ok,
        "attempted": len(wl.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
