#!/usr/bin/env python
"""Benchmark harness: runs every implemented query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is forced with a noop sink (full pipeline runs, nothing is
collected to the driver) so timings reflect the distributed plan, not
driver materialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _query_metrics(spark, group: str) -> dict:
    """Plan-shape counters for one query run, attributed via its job
    group: job/stage/task counts from the status tracker (no UI
    needed) plus shuffle/input bytes from the REST status API when the
    UI is up. These decompose a wall-time drift into 'the plan changed'
    (job/stage/task counts moved) vs 'the host or corpus changed'
    (counts flat, bytes or seconds moved)."""
    tracker = spark.sparkContext.statusTracker()
    jids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jids:
        ji = tracker.getJobInfo(j)
        if ji:
            stage_ids.update(ji.stageIds)
    ntasks = 0
    for s in stage_ids:
        si = tracker.getStageInfo(s)
        if si:
            ntasks += si.numTasks
    m = {"jobs": len(jids), "stages": len(stage_ids), "tasks": ntasks}
    try:
        import urllib.request

        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        sr = sw = ib = 0
        # per-stage endpoint: a handful of small targeted calls per
        # query (the full /stages listing is megabytes once thousands
        # of stages are retained — fetching it per query dominated the
        # bench wall-clock)
        for sid in stage_ids:
            try:
                attempts = json.load(urllib.request.urlopen(
                    f"{ui}/api/v1/applications/{app}/stages/{sid}"
                    f"?details=false", timeout=5
                ))
            except Exception:
                continue  # skipped/evicted stage
            for a in attempts:
                sr += a.get("shuffleReadBytes", 0)
                sw += a.get("shuffleWriteBytes", 0)
                ib += a.get("inputBytes", 0)
        mb = 1048576.0
        m["shuffle_read_mb"] = round(sr / mb, 2)
        m["shuffle_write_mb"] = round(sw / mb, 2)
        m["input_mb"] = round(ib / mb, 2)
    except Exception:
        pass  # UI off: counts alone still decompose plans
    return m


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from jobsity_data_pipeline_spark.session import get_spark, local_cpus

    cpus = local_cpus()
    spark = get_spark(
        app_name="jobsity-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        # the UI (off by default in get_spark) feeds the per-stage
        # shuffle/input byte counters; retained-job/stage limits are
        # raised so the per-query snapshot never races eviction
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "4000",
            "spark.ui.retainedStages": "4000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    # Warm-up pass at the smallest sf: compiles/JITs every query's
    # codegen classes so the timed pass measures steady-state
    # throughput, not first-run JIT.
    warm_dir = "/root/testdata/sf0.001"
    try:
        staged = entrymod.staged_queries()
    except AttributeError:
        staged = {}

    # Targeted A/B harness (the drift-decomposition workflow): a
    # comma-separated SPARK_GRAFT_BENCH_ONLY restricts the run to the
    # named keys — registered or staged — so a suspect query can be
    # re-measured in isolation on a quiet host without paying the full
    # sweep. The driver never sets this; the full sweep is unchanged.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = {k.strip() for k in only.split(",") if k.strip()}
        unknown = keep - queries.keys() - staged.keys()
        if unknown:
            # a typo'd key would otherwise produce an empty-but-green
            # bench run — fail loudly instead (r12 ADVICE fix)
            raise SystemExit(
                "SPARK_GRAFT_BENCH_ONLY names match no registered or "
                f"staged query: {sorted(unknown)}"
            )
        queries = {k: v for k, v in queries.items() if k in keep}
        staged = {k: v for k, v in staged.items() if k in keep}
    if os.path.isdir(warm_dir):
        for name, fn in list(queries.items()) + list(staged.items()):
            try:
                fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                pass

    import gc

    # Best of 2 runs per query: the host is shared, and a single run can
    # catch a foreign CPU burst; the minimum reflects the plan's cost.
    # The second (steady-state) run carries a job group so its
    # job/stage/task/shuffle counters attribute to the query — the
    # decomposition channel for cross-round wall-time drift.
    timings: dict[str, float] = {}
    metrics: dict[str, dict] = {}
    sc = spark.sparkContext
    for name, fn in queries.items():
        best = -1.0
        try:
            for i in range(2):
                gc.collect()  # release prior checkpoint RDD/broadcast refs
                group = f"bench:{name}:{i}"
                sc.setJobGroup(group, name)
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                elapsed = round(time.perf_counter() - t0, 3)
                sc.setJobGroup("", "")
                best = elapsed if best < 0 else min(best, elapsed)
                if i == 1:
                    metrics[name] = _query_metrics(spark, group)
            timings[name] = best
        except Exception as exc:  # keep the bench line parseable on failure
            timings[name] = -1.0
            sc.setJobGroup("", "")
            print(f"BENCH_ERROR {name}: {exc}", file=sys.stderr)

    # staged surface (built + parity-green, not yet registered): timed
    # under the same protocol so the round the key registers, its cost
    # is already on record; kept OUT of the headline total/queries
    # (the driver's contract) under their own key
    staged_timings: dict[str, float] = {}
    for name, fn in staged.items():
        best = -1.0
        try:
            for _ in range(2):
                gc.collect()
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
                elapsed = round(time.perf_counter() - t0, 3)
                best = elapsed if best < 0 else min(best, elapsed)
            staged_timings[name] = best
        except Exception as exc:
            staged_timings[name] = -1.0
            print(f"BENCH_ERROR staged {name}: {exc}", file=sys.stderr)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    n_err = sum(1 for t in timings.values() if t < 0)
    # The recorder keeps only the TAIL of the output: emit the
    # per-query dict sorted ascending by time so the expensive tier
    # sits at the end of the line, adjacent to the tail capture —
    # a truncated capture always retains the queries worth
    # diagnosing, never just the sub-second crowd. Errored queries
    # (-1.0) are the MOST diagnosis-worthy, so they sort after
    # everything (a plain ascending sort would put them first — the
    # position most likely to be truncated away).
    by_time = dict(sorted(
        timings.items(),
        key=lambda kv: float("inf") if kv[1] < 0 else kv[1],
    ))
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": by_time,
                "sf": float(sf) if sf else None,
                # per-query plan-shape counters (steady-state run):
                # jobs/stages/tasks + shuffle/input MB — flat counts
                # with moving wall-time = host/corpus variance, moved
                # counts = a real plan regression
                "plan_metrics": {k: metrics[k] for k in by_time
                                 if k in metrics},
                "staged": staged_timings,
            }
        )
    )
    sys.stdout.flush()
    # Plan-shape ratchet: compare the steady-state job/stage counts
    # against the committed PLAN_BASELINE.json and flag any registered
    # query whose STAGE count grew >25% (jobs as a secondary signal) —
    # the "flat counts = no regression" playbook as an automatic gate.
    # Wall time is weather on a shared host; plan shape is not.
    plan_regressions: dict[str, dict] = {}
    plan_unbaselined: list[str] = []
    base_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "PLAN_BASELINE.json"
    )
    if os.path.isfile(base_path):
        with open(base_path) as fh:
            baseline = json.load(fh).get("plans", {})
        # never silently skip a key: a query with no baseline entry
        # (a fresh registration) is listed so the next deliberate
        # baseline regeneration is visibly owed
        plan_unbaselined = sorted(metrics.keys() - baseline.keys())
        for name, m in metrics.items():
            b = baseline.get(name)
            if not b:
                continue
            b_stages = b[1] if isinstance(b, list) else b.get("stages", 0)
            if b_stages and m["stages"] > b_stages * 1.25:
                plan_regressions[name] = {
                    "stages": [b_stages, m["stages"]],
                    "jobs": [b[0] if isinstance(b, list)
                             else b.get("jobs", 0), m["jobs"]],
                }
                print(
                    f"PLAN_REGRESSION {name}: stages "
                    f"{b_stages} -> {m['stages']} (>25% vs baseline)",
                    file=sys.stderr,
                )
    # Repeat the headline numbers LAST so a truncated capture still
    # has the total. The recorder parses ONLY the final line and keeps
    # ONLY the last 2000 chars of output — round 12 proved that the
    # hard way: inlining the full 215-query plan digest grew the final
    # line past the capture window and the artifact recorded
    # `parsed: null`. So the final line carries the headline plus
    # detail tiers that are DROPPED, richest-first, until the line
    # fits a 1900-char budget; the full per-query timings and
    # plan_metrics always remain on the (earlier) full line for local
    # runs, and the ratchet verdicts (plan_regressions /
    # plan_unbaselined) are the artifact's cross-round plan signal.
    top20 = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:20]
    )
    headline = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf else None,
        "n_queries": len(timings),
        "n_errors": n_err,
        "errors": sorted(k for k, t in timings.items() if t < 0),
        "plan_regressions": plan_regressions,
        "n_plan_unbaselined": len(plan_unbaselined),
    }
    # least-important first: dropped in this order until the line fits
    detail_tiers = [
        ("plan_unbaselined", plan_unbaselined),
        ("plan_digest_top20",
         {k: [metrics[k]["jobs"], metrics[k]["stages"]]
          for k in top20 if k in metrics}),
        ("staged", staged_timings),
        ("top20", top20),
    ]
    final = dict(headline)
    for key, payload in detail_tiers:
        final[key] = payload
    while len(json.dumps(final)) > 1900 and detail_tiers:
        dropped, _ = detail_tiers.pop(0)
        final.pop(dropped, None)
    if len(json.dumps(final)) > 1900:
        # pathological round (mass errors / mass regressions): keep
        # the headline parseable no matter what
        final["errors"] = final["errors"][:10]
        final["plan_regressions"] = {
            "n": len(plan_regressions),
            "keys": sorted(plan_regressions)[:10],
        }
    print(json.dumps(final))


if __name__ == "__main__":
    main()
