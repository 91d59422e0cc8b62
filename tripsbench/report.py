"""Metrics of a finished run: the end-to-end set, the per-layer set of a
traced run, and the human-readable lines printed before the result."""

from __future__ import annotations

import math
import statistics
import time

from oracle import COLS
from spans import attribute_jobs, op_spark_metrics, self_times
from workloads import OP_TYPES, READ_TYPES, WRITE_TYPES

# (name, unit); per-op-type Spark counters are added by ``per_layer``.
PER_OP_SPARK = (
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.jvm_gc_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.input_mb", "MB"),
    ("spark.output_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.task_skew", "ratio"), ("driver.self_s", "s"),
)
SELF_LAYERS = ("pipeline.trips", "sources.snapshot", "streaming.stream",
               "pyspark", "spark.jobs")
STREAM_DURATIONS = ("addBatch", "queryPlanning", "walCommit", "latestOffset")


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least 10 of ``n`` samples above
    it, or None when that percentile would not be above the median."""
    p = min(99, int(100 * (1 - 10 / n))) if n > 10 else 0
    return p if p > 50 else None


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, math.ceil(p / 100 * len(s)) - 1))]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def probes(wl) -> dict[str, float]:
    """Noop-sink probes of the parsing and hashing expressions: the time
    to evaluate them over the run's table or staged files, minus the
    same scan without them (median of three alternating pairs)."""
    from jobsity_data_pipeline_spark.functions.geo import (wkt_point_lat,
                                                           wkt_point_lon)
    from jobsity_data_pipeline_spark.pipeline import trips as TP
    from jobsity_data_pipeline_spark.sources import snapshot as S

    def noop(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    coords = S.read_latest(wl.spark, wl.table).select(
        "origin_coord", "destination_coord")
    parsed = coords.select(*(f(c) for c in ("origin_coord",
                                            "destination_coord")
                             for f in (wkt_point_lon, wkt_point_lat)))
    staged = TP.read_trips_csv(wl.spark, wl.staged_files()).select(*COLS)
    keyed = TP.with_trip_key(staged).select("trip_key")

    def diff(with_expr, without) -> float:
        return median(noop(with_expr) - noop(without) for _ in range(3))

    return {"geo.wkt_parse_s": diff(parsed, coords),
            "hashing.record_key_s": diff(keyed, staged)}


def _lat(ops, types, key="latency_s") -> list[float]:
    return [o[key] for o in ops if o["type"] in types]


# End-to-end metrics of the final JSON line. Workloads with reads (the
# ones BENCHMARK.json registers) report E2E_READS; ``ingest`` has no
# reads, so its write figures take the place of the read ones.
# The registered operation costs are CPU seconds of the driver and the
# JVM, not wall time: on a shared 4-core host whose hypervisor steals
# 5-30% of the busy time, the run-to-run spread of wall latency over
# five seeds was 0.27-0.34 of the median (above any bound the benchmark
# may set), that of CPU per operation 0.07-0.10. ``op_cpu_s`` pools every
# operation, writes included, so a costlier read type or stream drop
# raises it by its share of the run. Wall latencies, per-type figures
# and tails are printed as text: a run holds 2 samples per read type,
# and no percentile above the median has 10 samples beyond it.
E2E_UNITS = (
    ("setup_s", "s"), ("op_cpu_s", "s"), ("query_cpu_p50_s", "s"),
    ("peak_rss_mb", "MB"), ("stored_bytes_per_input_byte", "ratio"),
    ("ingest_rows_per_s", "rows/s"), ("ingest_batch_p50_s", "s"),
)
E2E_READS = ("setup_s", "op_cpu_s", "query_cpu_p50_s", "peak_rss_mb",
             "stored_bytes_per_input_byte")
E2E_WRITES_ONLY = ("setup_s", "op_cpu_s", "ingest_rows_per_s",
                   "ingest_batch_p50_s", "peak_rss_mb",
                   "stored_bytes_per_input_byte")


def e2e_names(workload: str) -> tuple[str, ...]:
    return E2E_WRITES_ONLY if workload == "ingest" else E2E_READS


def figures(wl) -> dict[str, tuple[float, str, str]]:
    """Every end-to-end figure that applies to the run:
    name -> (value or None, unit, note on percentile and sample count)."""
    ops = wl.ops
    lat_all = _lat(ops, OP_TYPES)
    out = {
        "setup_s": (wl.setup_s, "s", f"one cold start: get_spark "
                    f"{wl.get_spark_s:.3f} s, then the preload"),
        "op_mean_s": (sum(lat_all) / len(lat_all), "s",
                      f"mean over all {len(lat_all)} ops, writes included"),
        "op_cpu_s": (sum(_lat(ops, OP_TYPES, "cpu_s")) / len(lat_all), "s",
                     f"CPU of the Python driver + JVM, mean over all "
                     f"{len(lat_all)} ops, writes included"),
    }
    for prefix, types in (("ingest_batch", WRITE_TYPES),
                          ("query", READ_TYPES)):
        lat = _lat(ops, types)
        if not lat:
            continue
        p = tail_percentile(len(lat))
        out[f"{prefix}_p50_s"] = (median(lat), "s", f"n={len(lat)}")
        out[f"{prefix}_tail_s"] = (
            (percentile(lat, p), "s", f"p{p}, n={len(lat)}") if p else
            (None, "s", f"n={len(lat)}: no percentile above p50 has 10 "
                        "samples beyond it"))
        out[f"{prefix}_cpu_p50_s"] = (
            median(_lat(ops, types, "cpu_s")), "s", f"n={len(lat)}")
        if prefix == "ingest_batch":
            out["ingest_rows_per_s"] = (
                wl.staged_rows / sum(lat), "rows/s",
                f"{wl.staged_rows} staged rows")
    for kind in READ_TYPES:
        lat = _lat(ops, (kind,))
        if lat:
            out[f"{kind}_p50_s"] = (median(lat), "s", f"n={len(lat)}")
            out[f"{kind}_cpu_p50_s"] = (
                median(_lat(ops, (kind,), "cpu_s")), "s", f"n={len(lat)}")
    n_fail = sum(not o["ok"] for o in ops)
    out["failed_frac"] = (n_fail / max(1, len(ops)), "ratio",
                          f"{n_fail} of {len(ops)}; final table "
                          + ("ok" if wl.table_ok else "WRONG"))
    out["peak_rss_mb"] = (wl.rss_mb, "MB", "Python driver + JVM")
    out["stored_bytes_per_input_byte"] = (
        wl.table_bytes / wl.input_bytes, "ratio",
        f"{wl.table_bytes} B in {wl.table_files} files / "
        f"{wl.input_bytes} B of accepted CSV rows")
    return out


def end_to_end(wl) -> dict[str, tuple[float, str]]:
    fig = figures(wl)
    return {k: fig[k][:2] for k in e2e_names(wl.name)}


def describe(wl) -> list[str]:
    """Every end-to-end figure that applies to the workload, with units,
    tail percentiles and sample counts."""
    lines = [f"workload {wl.name} seed {wl.seed}: {len(wl.ops)} ops in "
             f"{wl.measured_s:.2f} s (closed loop, 1 client, "
             f"local[{wl.env.cpus}]); set-up and warm-up wall "
             f"{wl.setup_wall_s:.2f} s (warm-up {wl.warmup_s:.2f} s), "
             f"check {wl.check_s:.2f} s"]
    lines += [f"{k} n/a ({note})" if v is None else f"{k} {v:.4f} {u} ({note})"
              for k, (v, u, note) in figures(wl).items()]
    return lines


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in output order."""
    names = [
        ("session.get_spark_s", "s"), ("snapshot.upsert_batch_s", "s"),
        ("snapshot.new_rows_per_staged_row", "ratio"),
        ("snapshot.read_latest_s", "s"),
        ("snapshot.files_per_version", "count"),
        ("snapshot.read_point_s", "s"),
        ("snapshot.lookup_files_read", "count"),
        ("snapshot.lookup_files_ratio", "ratio"),
        ("geo.wkt_parse_s", "s"), ("hashing.record_key_s", "s"),
        ("stream.drop_s", "s"),
    ]
    names += [(f"stream.{k}_ms", "ms") for k in STREAM_DURATIONS]
    names += [("stream.state_rows_total", "count"),
              ("stream.input_rows", "count"),
              ("trace.overhead_s", "s"), ("trace.overhead_share", "ratio")]
    names += [(f"self_s.{layer}", "s") for layer in SELF_LAYERS]
    names += [(f"{kind}.{n}", u) for kind in OP_TYPES
              for n, u in PER_OP_SPARK]
    return names


def per_layer(wl, spans, jobs, untraced, probe) -> dict[str, tuple]:
    ops = wl.ops
    attribute_jobs(ops, jobs)
    in_ops = [s for s in spans
              if any(o["t0"] <= s["start"] <= o["t1"] for o in ops)]

    def span_med(name):
        return median(s["end"] - s["start"] for s in in_ops
                      if s["name"] == name)

    lookups = [o for o in ops if o["type"] == "trip_lookup" and o["ok"]
               and o.get("files_total")]
    drops = [o for o in ops if o["type"] == "stream_drop" and o["ok"]
             and isinstance(o.get("answer"), dict)]
    total = sum(o["latency_s"] for o in ops)
    overhead = total - untraced["op_total_s"]
    m = {
        "session.get_spark_s": (wl.get_spark_s, "s"),
        "snapshot.upsert_batch_s": (span_med(
            "sources.snapshot.upsert_batch"), "s"),
        "snapshot.new_rows_per_staged_row": (
            (wl.rows_after - wl.rows_before) / wl.staged_rows
            if wl.staged_rows else 0.0, "ratio"),
        "snapshot.read_latest_s": (span_med(
            "sources.snapshot.read_latest"), "s"),
        "snapshot.files_per_version": (wl.table_files, "count"),
        "snapshot.read_point_s": (span_med(
            "sources.snapshot.read_point"), "s"),
        "snapshot.lookup_files_read": (median(
            o["files_read"] for o in lookups), "count"),
        "snapshot.lookup_files_ratio": (median(
            o["files_read"] / o["files_total"] for o in lookups), "ratio"),
        "geo.wkt_parse_s": (probe["geo.wkt_parse_s"], "s"),
        "hashing.record_key_s": (probe["hashing.record_key_s"], "s"),
        "stream.drop_s": (median(o["latency_s"] for o in drops), "s"),
    }
    for k in STREAM_DURATIONS:
        m[f"stream.{k}_ms"] = (median(
            o["answer"]["durations_ms"][k] for o in drops), "ms")
    m["stream.state_rows_total"] = (
        (drops[-1]["answer"]["state_rows_total"] or 0) if drops else 0,
        "count")
    m["stream.input_rows"] = (median(
        o["answer"]["input_rows"] for o in drops), "count")
    m["trace.overhead_s"] = (overhead, "s")
    m["trace.overhead_share"] = (overhead / untraced["op_total_s"], "ratio")
    own = self_times(in_ops, [j for o in ops for j in o["jobs"]])
    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = (own.get(layer, 0.0) / len(ops), "s")
    per_op = [op_spark_metrics(o) for o in ops]
    for kind in OP_TYPES:
        mine = [pm for pm, o in zip(per_op, ops) if o["type"] == kind]
        for name, unit in PER_OP_SPARK:
            m[f"{kind}.{name}"] = (median(pm[name] for pm in mine), unit)
    return m


def describe_layers(m: dict) -> list[str]:
    lines = ["per-layer metrics (medians over ops, self_s.* means per op; "
             "0 where the workload has no such op):"]
    lines += [f"  {k} {v:.6g} {u}" for k, (v, u) in m.items()
              if k.split(".")[0] not in OP_TYPES]
    lines.append("  (trace.overhead_* is one traced run minus one untraced "
                 "run of the same ops; run-to-run spread of the op total is "
                 "of the same size, so one pair does not resolve it)")
    for kind in OP_TYPES:
        vals = [(n, m[f"{kind}.{n}"]) for n, _ in PER_OP_SPARK]
        if any(v for _, (v, _) in vals):
            lines.append(f"  {kind}: " + ", ".join(
                f"{n.split('.', 1)[1]}={v:.4g}{u if u != 'count' else ''}"
                for n, (v, u) in vals))
    return lines
