"""In-memory spans around the benchmark's calls into each layer, and the
Spark job, stage and task records that the event log attributes to them.

A span is (id, parent, name, start, end, attrs). The benchmark opens one
root span per operation (``op.<type>``) and one child span per public
call into a layer (``sources.snapshot.upsert_batch``,
``pipeline.trips.view``, ``pyspark.collect`` ...). Spark jobs belong to
the operation whose job group they carry, or (jobs of a streaming
query's own thread) to the operation whose interval holds them, and
count as children of the innermost span holding their start. Spans stay
in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class Tracer:
    """Span recorder. With ``enabled`` false every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = {"id": len(self.spans), "parent": (self._stack[-1]
              if self._stack else None), "name": name,
              "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.time()

    def write(self, path: str, jobs: list[dict]) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "spark_jobs": jobs}, f)


def _union_s(intervals) -> float:
    """Length of the union of [start, end] intervals, in seconds."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_logs(event_dir: str) -> list[dict]:
    """Spark jobs from every event log under ``event_dir``: one dict per
    job with its group, interval and per-stage task metrics."""
    jobs = []
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        by_id, stage_job, stages = {}, {}, {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = {"group": (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"),
                         "start": ev["Submission Time"] / 1e3,
                         "end": None, "stages": {}}
                    by_id[ev["Job ID"]] = j
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    j = by_id.get(ev["Job ID"])
                    if j is not None:
                        j["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], [])
                    st.append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read_b": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "input_b": (m.get("Input Metrics") or {}).get(
                            "Bytes Read", 0),
                        "output_b": (m.get("Output Metrics") or {}).get(
                            "Bytes Written", 0),
                        "spill_b": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
        for sid, tasks in stages.items():
            jid = stage_job.get(sid)
            if jid in by_id:
                by_id[jid]["stages"][sid] = tasks
        jobs += [j for j in by_id.values() if j["end"] is not None]
    return jobs


def attribute_jobs(ops: list[dict], jobs: list[dict]) -> None:
    """Attach to each op (with ``group``, ``t0``, ``t1``) the jobs that
    carry its job group, and the jobs of other threads (a streaming
    query runs its micro-batches under its own group) that started
    inside its interval; with one closed-loop client no two ops overlap."""
    by_group = {op["group"]: op for op in ops}
    for op in ops:
        op["jobs"] = []
    for j in jobs:
        op = by_group.get(j["group"])
        if op is None and j["group"] != "bench":
            op = next((o for o in ops if o["t0"] <= j["start"] <= o["t1"]),
                      None)
        if op is not None:
            op["jobs"].append(j)


def op_spark_metrics(op: dict) -> dict:
    """Spark counters of one op from its attributed jobs."""
    tasks = [t for j in op["jobs"] for st in j["stages"].values() for t in st]
    stages = [st for j in op["jobs"] for st in j["stages"].values()]
    mb = 1 << 20
    skew = 0.0
    if stages:
        longest = max(stages, key=lambda st: sum(t["run_ms"] for t in st))
        med = statistics.median(t["run_ms"] for t in longest)
        skew = max(t["run_ms"] for t in longest) / med if med > 0 else 1.0
    job_iv = [(j["start"], min(j["end"], op["t1"])) for j in op["jobs"]]
    return {
        "spark.jobs": len(op["jobs"]),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.jvm_gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "spark.shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / mb,
        "spark.shuffle_read_mb": sum(t["shuffle_read_b"] for t in tasks) / mb,
        "spark.input_mb": sum(t["input_b"] for t in tasks) / mb,
        "spark.output_mb": sum(t["output_b"] for t in tasks) / mb,
        "spark.spill_mb": sum(t["spill_b"] for t in tasks) / mb,
        "spark.task_skew": skew,
        "driver.self_s": max(0.0, (op["t1"] - op["t0"]) - _union_s(job_iv)),
    }


def self_times(spans: list[dict], jobs: list[dict]) -> dict[str, float]:
    """Total self time per layer: each span's duration minus the part of
    its interval covered by its child spans, with each Spark job as a
    child of the innermost span holding its start. The layer is the span
    name up to its last dot (``sources.snapshot.upsert_batch`` ->
    ``sources.snapshot``); the jobs themselves count as ``spark.jobs``."""
    children: dict[int, list] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(
                (sp["start"], sp["end"]))
    by_start = sorted(spans, key=lambda s: s["start"])
    held = []
    for j in jobs:
        holder = None
        for sp in by_start:
            if sp["start"] > j["start"]:
                break
            if sp["end"] >= j["start"]:
                holder = sp  # later start among holders = more inner
        if holder is not None:
            iv = (j["start"], min(j["end"], holder["end"]))
            children.setdefault(holder["id"], []).append(iv)
            held.append(iv)
    out: dict[str, float] = {"spark.jobs": _union_s(held)}
    for sp in spans:
        layer = sp["name"].rsplit(".", 1)[0]
        own = (sp["end"] - sp["start"]) - _union_s(children.get(sp["id"], []))
        out[layer] = out.get(layer, 0.0) + max(own, 0.0)
    return out
