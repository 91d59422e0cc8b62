"""The three workloads, the operations they issue, and their checks.

One closed-loop client: the next operation starts only when the
previous one has returned. Every operation is timed from the call into
the system until its answer is in the driver (``collect`` for reads,
the commit for writes), and the CPU seconds of the driver and the JVM
are read at the same two points. Inputs are generated from the seed
before the operation starts; the answers are checked against the DuckDB
reference after the measured loop, outside every timed region.

A run's inputs are written before set-up by ``gen.py`` in a child
process, and the reference is built only in ``check``, after the memory
reading: neither counts in ``peak_rss_mb``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import traceback

import numpy as np

import gen
from oracle import COLS, Oracle, digest

OP_TYPES = (
    "ingest_batch", "stream_drop", "weekly_avg_by_region",
    "regions_for_datasource", "latest_datasource", "trip_groups",
    "bbox_weekly_avg", "trip_lookup",
)
READ_TYPES = OP_TYPES[2:]
WRITE_TYPES = OP_TYPES[:2]

CELL_DEGS = (0.01, 0.05)
BBOX_HALF_DEGS = (0.05, 0.1)

# Rows per generated file. ``tiny`` is the self-test's size.
SIZES = {
    "full": {"ingest_rows": 10_000, "analytics_rows": 30_000,
             "stream_preload_rows": 5_000, "drop_rows": 5_000},
    "tiny": {"ingest_rows": 400, "analytics_rows": 3_000,
             "stream_preload_rows": 1_000, "drop_rows": 300},
}
INGEST_BLOCK = 10        # batches per block; one of them is a replay
READS_PER_DROP = 6       # ingest_and_query: reads between two drops
DROP_WINDOW_S = 12 * 3600  # event-time span of one drop
DROP_STEP_S = 6 * 3600     # event-time advance from drop to drop
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


class Workload:
    """State of one benchmark run: session, table, inputs, op records."""

    name = ""
    block_seconds = 1.0  # nominal duration of one block at full size

    def __init__(self, env, seed: int, seconds: float, size: str, tracer,
                 plant_fault: bool):
        self.env = env
        self.seed = seed
        self.size = SIZES[size]
        self.tracer = tracer
        self.plant_fault = plant_fault
        self.rng = np.random.default_rng(seed + 1)
        # The block count is fixed by ``seconds`` and the block's nominal
        # duration, not by the clock, so every run of a workload issues
        # the same operations, on any commit.
        self.blocks = max(1, round(seconds / self.block_seconds))
        self.spark = None
        self.ops: list[dict] = []
        self.warmup_s = 0.0
        self.stage = 0
        self.staged_rows = 0
        self.rows_before = 0
        self.oracle = None
        self.accepted: list[tuple[str, int]] = []  # (CSV path, stage)
        self.decks: dict[str, list] = {}
        self.table = env.path("table")
        self.gen_dir = env.path("gen")
        os.makedirs(self.gen_dir, exist_ok=True)

    # ---- set-up -------------------------------------------------------
    def setup(self) -> None:
        """Generate the inputs (untimed), then start the system cold and
        build the workload's history: that start is ``setup_s``."""
        from jobsity_data_pipeline_spark.session import get_spark

        self.prepare_inputs()
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"tripsbench-{self.name}",
                master=f"local[{self.env.cpus}]",
                shuffle_partitions=self.env.cpus,
                extra_conf=self.env.spark_conf())
        self.get_spark_s = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.preload()
        self.setup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.warm_up()
        self.rows_before = self.table_rows()
        self.warmup_s = time.perf_counter() - t0

    def prepare_inputs(self) -> None:
        """Generate every file the run stages (not part of set-up)."""
        raise NotImplementedError

    def generate(self, batches: int, rows: int, first_rows: int,
                 **drop: float) -> None:
        """Write ``batches`` CSV files with ``gen.py`` in a child process
        and keep only their paths and the sampled lookup keys."""
        cmd = [sys.executable, os.path.join(os.path.dirname(__file__),
                                            "gen.py"),
               "--out", self.gen_dir, "--seed", str(self.seed),
               "--batches", str(batches), "--rows", str(rows),
               "--first-rows", str(first_rows)]
        for k, v in drop.items():
            cmd += ["--" + k.replace("_", "-"), str(v)]
        subprocess.run(cmd, check=True, timeout=120)
        self.batch_paths = [os.path.join(self.gen_dir, f"batch{i}.csv")
                            for i in range(batches)]
        with open(os.path.join(self.gen_dir, "keys.json")) as f:
            keys = json.load(f)
        self.present_keys, self.absent_keys = keys["present"], keys["absent"]

    def preload(self) -> None:
        """Build the history the measured loop starts from."""

    def warm_up(self) -> None:
        """Run one block of the read mix, untimed, so the measured loop
        starts with the JVM's code paths compiled (the preload already
        ran the write path)."""
        for kind, params in self.read_block():
            getattr(self, f"op_{kind}")(params)

    # ---- measured loop ------------------------------------------------
    def next_block(self) -> list[tuple[str, dict]]:
        raise NotImplementedError

    def run(self) -> float:
        """Closed loop over ``self.blocks`` whole blocks."""
        t_start = time.perf_counter()
        for _ in range(self.blocks):
            for kind, params in self.next_block():
                self.run_op(kind, params)
        return time.perf_counter() - t_start

    def run_op(self, kind: str, params: dict) -> None:
        n = len(self.ops)
        rec = {"type": kind, "params": params, "stage": self.stage,
               "group": f"op-{n}", "ok": True, "error": None}
        self.before_op(kind, params)
        sc = self.spark.sparkContext
        if self.tracer.enabled:
            sc.setJobGroup(rec["group"], kind)
        rec["t0"] = time.time()
        c0 = self.cpu_s()
        p0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}", op=n):
                result = getattr(self, f"op_{kind}")(params)
        except Exception as e:  # noqa: BLE001 - an op failure is a result
            traceback.print_exc(file=sys.stderr)
            rec["ok"], rec["error"], result = False, repr(e), None
        rec["latency_s"] = time.perf_counter() - p0
        rec["cpu_s"] = self.cpu_s() - c0
        rec["t1"] = time.time()
        if self.tracer.enabled:
            sc.setJobGroup("bench", "between operations")
        self.ops.append(rec)
        if rec["ok"]:
            self.after_op(rec, result)

    def before_op(self, kind: str, params: dict) -> None:
        """Untimed preparation (e.g. landing the staged file)."""

    def after_op(self, rec: dict, result) -> None:
        """Untimed: reduce the answer to what the check needs."""
        kind = rec["type"]
        if kind in ("weekly_avg_by_region", "regions_for_datasource",
                    "trip_groups"):
            rec["answer"] = digest(tuple(r) for r in result)
        elif kind == "latest_datasource":
            rec["answer"] = sorted(r[0] for r in result)
        elif kind == "bbox_weekly_avg":
            rec["answer"] = result[0][0] if result else None
        elif kind == "trip_lookup":
            rows, df = result
            rec["answer"] = [tuple(r) for r in rows]
            if self.tracer.enabled and df is not None:
                from jobsity_data_pipeline_spark.sources import snapshot as S
                rec["files_read"] = len(df.inputFiles())
                rec["files_total"] = len(
                    S.latest_manifest(self.table)["files"])
        else:
            rec["answer"] = result
        if self.plant_fault:
            self.plant_fault = False
            rec["answer"] = "planted wrong answer"

    # ---- operations ---------------------------------------------------
    def _read(self, build) -> list:
        from jobsity_data_pipeline_spark.sources import snapshot as S

        with self.tracer.span("sources.snapshot.read_latest"):
            df = S.read_latest(self.spark, self.table)
        with self.tracer.span("pipeline.trips.view"):
            view = build(df)
        with self.tracer.span("pyspark.collect"):
            return view.collect()

    def op_weekly_avg_by_region(self, p):
        from jobsity_data_pipeline_spark.pipeline import trips as TP
        return self._read(TP.weekly_avg_by_region)

    def op_regions_for_datasource(self, p):
        from jobsity_data_pipeline_spark.pipeline import trips as TP
        return self._read(
            lambda df: TP.regions_for_datasource(df, p["datasource"]))

    def op_latest_datasource(self, p):
        from jobsity_data_pipeline_spark.pipeline import trips as TP
        return self._read(TP.latest_datasource)

    def op_trip_groups(self, p):
        from jobsity_data_pipeline_spark.pipeline import trips as TP
        return self._read(lambda df: TP.trip_groups(df, p["cell_deg"]))

    def op_bbox_weekly_avg(self, p):
        from jobsity_data_pipeline_spark.pipeline import trips as TP
        return self._read(lambda df: TP.bbox_weekly_avg(df, *p["bbox"]))

    def op_trip_lookup(self, p):
        from jobsity_data_pipeline_spark.sources import snapshot as S

        with self.tracer.span("sources.snapshot.read_point"):
            df = S.read_point(self.spark, self.table, "trip_key", p["key"])
        if df is None:
            return [], None
        with self.tracer.span("pyspark.collect"):
            return df.select(*COLS, "trip_key").collect(), df

    def op_ingest_batch(self, p):
        from jobsity_data_pipeline_spark.pipeline import trips as TP
        from jobsity_data_pipeline_spark.sources import snapshot as S

        with self.tracer.span("pipeline.trips.read_trips_csv"):
            df = TP.read_trips_csv(self.spark, p["path"])
        with self.tracer.span("pipeline.trips.with_trip_key"):
            staged = TP.with_trip_key(df)
        with self.tracer.span("sources.snapshot.upsert_batch"):
            return S.upsert_batch(staged, p["batch_id"], self.table)

    # ---- read parameters ----------------------------------------------
    def draw(self, name: str, values: tuple):
        """Next value of a seeded deck over ``values``: every
        ``len(values)`` draws of one parameter cover each value once."""
        deck = self.decks.get(name)
        if not deck:
            deck = self.decks[name] = [
                values[i] for i in self.rng.permutation(len(values))]
        return deck.pop()

    def read_block(self) -> list[tuple[str, dict]]:
        """A seeded permutation of the six read types, each once: no
        traffic mix is known, so none is weighted. Every run issues the
        same composition; only the order and the parameters vary with
        the seed."""
        kinds = [READ_TYPES[i] for i in self.rng.permutation(len(READ_TYPES))]
        block = []
        for kind in kinds:
            p: dict = {}
            if kind == "regions_for_datasource":
                p["datasource"] = self.draw("datasource", gen.DATASOURCES)
            elif kind == "trip_groups":
                p["cell_deg"] = self.draw("cell_deg", CELL_DEGS)
            elif kind == "bbox_weekly_avg":
                # the box centres on a region drawn by its (uneven) weight
                w = gen.region_weights(1.0)
                _, lon, lat = gen.REGIONS[self.rng.choice(len(w), p=w)]
                h = self.draw("bbox_half_deg", BBOX_HALF_DEGS)
                p["bbox"] = (lon - h, lat - h, lon + h, lat + h)
            elif kind == "trip_lookup":
                # present keys come from batches the table already holds
                keys = ([k for b in self.present_keys[: self.stage + 1]
                         for k in b]
                        if self.draw("lookup_present", (True, False))
                        else self.absent_keys)
                p["key"] = keys[int(self.rng.integers(len(keys)))]
            block.append((kind, p))
        return block

    # ---- checks and results -------------------------------------------
    def table_rows(self) -> int:
        from jobsity_data_pipeline_spark.sources import snapshot as S

        df = S.read_latest(self.spark, self.table)
        return 0 if df is None else df.count()

    def check(self) -> None:
        """Compare every answer and the final table with the reference.
        A mismatch marks the op failed; a wrong final table marks every
        write op failed, since no single write can be blamed."""
        from pyspark.sql import functions as F

        from jobsity_data_pipeline_spark.sources import snapshot as S

        self.oracle = Oracle(self.env.path("duckdb_tmp"))
        for path, stage in self.accepted:
            self.oracle.add_csv(path, stage)
        for rec in self.ops:
            if not rec["ok"]:
                continue
            kind = rec["type"]
            if kind in READ_TYPES:
                want = self.oracle.expected(kind, rec["params"], rec["stage"])
                got = rec["answer"]
                if kind == "bbox_weekly_avg" and None not in (want, got) and (
                        not isinstance(got, str)):
                    ok = abs(float(got) - want) <= 1e-3 * max(1.0, abs(want))
                else:
                    ok = got == want
            else:
                ok = self.write_ok(rec)
            if not ok:
                rec["ok"], rec["error"] = False, "wrong result"
        df = S.read_latest(self.spark, self.table)
        got = df.agg(
            F.count("*"), F.countDistinct("trip_key"),
            F.sum(F.conv(F.substring("trip_key", 1, 8), 16, 10)
                  .cast("long")),
            F.sum(F.conv(F.substring("trip_key", 9, 8), 16, 10)
                  .cast("long")),
        ).first()
        want = self.oracle.key_digest(self.stage)
        self.table_ok = (got[0] == got[1] == want[0]
                         and (got[2], got[3]) == want[1:])
        if not self.table_ok:
            print(f"final table mismatch: got {tuple(got)}, want {want}",
                  file=sys.stderr)
            for rec in self.ops:
                if rec["type"] in WRITE_TYPES:
                    rec["ok"], rec["error"] = False, "wrong final table"
        man = S.latest_manifest(self.table)
        self.table_files = len(man["files"])
        self.table_bytes = sum(os.path.getsize(f) for f in man["files"])
        self.input_bytes = self.oracle.csv_bytes(self.stage)
        self.rows_after = got[0]

    def write_ok(self, rec: dict) -> bool:
        return True

    def cpu_s(self) -> float:
        """CPU seconds (user + system, all threads) used so far by this
        process and the Spark JVM. Unlike wall time, this leaves out the
        time a shared host's hypervisor steals from the virtual CPUs."""
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return time.process_time() + (int(fields[11]) + int(fields[12])) / (
            CLOCK_TICKS)

    def peak_rss_mb(self) -> float:
        total = 0
        for pid in ("self", self.jvm_pid):
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        return total / 1024

    def staged_files(self) -> list[str]:
        """Every accepted CSV file of the run, for the hashing probe."""
        return [path for path, _ in self.accepted]

    def close(self) -> None:
        """Stop the session, then end the JVM and wait for it: the
        gateway JVM exits when its standard input closes."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            self.spark = None
            proc = SparkContext._gateway.proc
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if self.oracle is not None:
            self.oracle.close()
            self.oracle = None


class Ingest(Workload):
    """Batch upserts only: CSV -> trip_key -> snapshot.upsert_batch."""

    name = "ingest"
    block_seconds = 9.0

    def prepare_inputs(self):
        rows = self.size["ingest_rows"]
        # batch 0 is the preload; every block has one replay
        self.generate(1 + self.blocks * (INGEST_BLOCK - 1), rows, rows)
        self.accepted.append((self.batch_paths[0], 0))

    def preload(self):
        self.op_ingest_batch({"path": self.batch_paths[0], "batch_id": 0})

    def warm_up(self):
        """The preload already ran the only operation type."""

    def next_block(self):
        replay_at = int(self.rng.integers(INGEST_BLOCK))
        block = []
        for i in range(INGEST_BLOCK):
            if i == replay_at:
                block.append(("ingest_batch", {"replay": True}))
            else:
                block.append(("ingest_batch", {"replay": False}))
        return block

    def before_op(self, kind, params):
        if params["replay"]:
            bid = int(self.rng.integers(self.stage + 1))
        else:
            bid = self.stage = self.stage + 1
            self.accepted.append((self.batch_paths[bid], bid))
        params.update(batch_id=bid, path=self.batch_paths[bid],
                      rows=self.size["ingest_rows"])
        self.staged_rows += params["rows"]

    def write_ok(self, rec):
        want = "skipped_duplicate" if rec["params"]["replay"] else "published"
        return rec["answer"] == want


class Analytics(Workload):
    """Reads only, against a history preloaded in set-up."""

    name = "analytics"
    block_seconds = 4.0

    def prepare_inputs(self):
        rows = self.size["analytics_rows"]
        self.generate(1, rows, rows)
        self.accepted.append((self.batch_paths[0], 0))

    def preload(self):
        from jobsity_data_pipeline_spark.pipeline import trips as TP
        from jobsity_data_pipeline_spark.sources import snapshot as S

        staged = TP.with_trip_key(
            TP.read_trips_csv(self.spark, self.batch_paths[0]))
        S.upsert_batch(staged, 0, self.table)

    def next_block(self):
        return self.read_block()


class IngestAndQuery(Workload):
    """Stream drops (read_trips_stream -> dedup_stream ->
    start_snapshot_upsert, availableNow, one checkpoint for the run)
    with reads of the same mix between drops. Nothing compacts."""

    name = "ingest_and_query"
    block_seconds = 4.0

    def prepare_inputs(self):
        drops_per_block = -(-len(READ_TYPES) // READS_PER_DROP)
        self.generate(1 + self.blocks * drops_per_block,
                      self.size["drop_rows"],
                      self.size["stream_preload_rows"],
                      drop_window_s=DROP_WINDOW_S, drop_step_s=DROP_STEP_S)
        self.drop_dir = self.env.path("drops")
        self.checkpoint = self.env.path("checkpoint")
        os.makedirs(self.drop_dir)

    def land(self, stage: int) -> None:
        """Move the generated file of ``stage`` into the watched
        directory in one rename, as a producer would."""
        path = os.path.join(self.drop_dir, f"drop{stage}.csv")
        os.replace(self.batch_paths[stage], path)
        self.accepted.append((path, stage))

    def preload(self):
        self.land(0)
        self._stream()

    def next_block(self):
        block = []
        for i, read in enumerate(self.read_block()):
            if i % READS_PER_DROP == 0:
                block.append(("stream_drop", {}))
            block.append(read)
        return block

    def before_op(self, kind, params):
        if kind != "stream_drop":
            return
        stage = self.stage + 1
        self.land(stage)
        params.update(stage=stage, rows=self.size["drop_rows"])
        self.staged_rows += params["rows"]

    def _stream(self) -> dict:
        from jobsity_data_pipeline_spark.sources import snapshot as S
        from jobsity_data_pipeline_spark.streaming import stream as ST

        with self.tracer.span("streaming.stream.read_trips_stream"):
            src = ST.read_trips_stream(self.spark, self.drop_dir)
        with self.tracer.span("streaming.stream.dedup_stream"):
            dedup = ST.dedup_stream(src)
        with self.tracer.span("sources.snapshot.start_snapshot_upsert"):
            query = S.start_snapshot_upsert(dedup, self.table, self.checkpoint)
        with self.tracer.span("pyspark.await_termination"):
            query.awaitTermination()
        with self.tracer.span("streaming.stream.ingest_status"):
            status = ST.ingest_status(query)
        if status["exception"]:
            raise RuntimeError(status["exception"])
        progress = [p for p in query.recentProgress
                    if p.get("numInputRows")]
        status["input_rows"] = sum(p["numInputRows"] for p in progress)
        status["durations_ms"] = {
            k: sum(p["durationMs"].get(k, 0) for p in progress)
            for k in ("addBatch", "queryPlanning", "walCommit",
                      "latestOffset", "triggerExecution")
        }
        return status

    def op_stream_drop(self, p):
        status = self._stream()
        self.stage = p["stage"]
        return status

    def write_ok(self, rec):
        return (isinstance(rec["answer"], dict)
                and rec["answer"]["input_rows"] == rec["params"]["rows"])


WORKLOADS = {w.name: w for w in (Ingest, Analytics, IngestAndQuery)}
