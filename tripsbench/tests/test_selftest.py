"""Self-test of the trips benchmark at the ``tiny`` input size.

Runs every workload once untraced and once traced, checks that every
metric named in ``BENCHMARK.json`` (and every end-to-end figure of the
human-readable report) is emitted with a unit, plants one wrong answer
to show that it is counted as failed, and checks that the benchmark
refuses to report without the system under test.

    python3 -m pytest tripsbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import report  # noqa: E402
from workloads import READ_TYPES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = ("ingest", "analytics", "ingest_and_query")
WRITE_FIGURES = ("ingest_rows_per_s", "ingest_batch_p50_s",
                 "ingest_batch_tail_s", "ingest_batch_cpu_p50_s")
READ_FIGURES = ("query_p50_s", "query_tail_s", "query_cpu_p50_s") + tuple(
    f"{kind}_{fig}" for kind in READ_TYPES for fig in ("p50_s", "cpu_p50_s"))
TEXT_FIGURES = {
    "ingest": WRITE_FIGURES,
    "analytics": READ_FIGURES,
    "ingest_and_query": WRITE_FIGURES + READ_FIGURES,
}
COMMON_FIGURES = ("setup_s", "op_mean_s", "op_cpu_s", "failed_frac",
                  "peak_rss_mb", "stored_bytes_per_input_byte")


def run(*args, cwd=ROOT, timeout=400):
    cmd = [sys.executable, os.path.join(cwd, "tripsbench", "run.py"),
           "--seed", "3", "--seconds", "1", "--size", "tiny", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


def result(proc) -> tuple[dict, list[str]]:
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def test_spec_matches_report():
    assert [m["name"] for m in SPEC["end_to_end"]] == list(
        report.E2E_READS)
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == [
        (n, u) for n, u in report.per_layer_names()]
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    res, lines = result(run("--workload", workload))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    expected = report.e2e_names(workload)
    units = dict(report.E2E_UNITS)
    assert set(res["metrics"]) == set(expected)
    for name in expected:
        m = res["metrics"][name]
        assert m["unit"] == units[name] and m["value"] > 0, name
    text = "\n".join(lines)
    for fig in COMMON_FIGURES + TEXT_FIGURES[workload]:
        assert f"\n{fig} " in "\n" + text, fig
    assert "failed_frac 0.0000" in text


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_per_layer_metrics(workload):
    res, lines = result(run("--workload", workload, "--trace", "1"))
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert any(line.startswith("  trace.overhead_s ") for line in lines)
    trace_file = next(line for line in lines if line.startswith(
        "spans and Spark jobs written to ")).rsplit(" ", 1)[-1]
    with open(os.path.join(ROOT, trace_file)) as f:
        trace = json.load(f)
    assert trace["spans"] and trace["spark_jobs"]
    # every operation's Spark jobs were attributed to it
    ops = [k for k in res["metrics"] if k.endswith(".spark.jobs")
           and res["metrics"][k]["value"] > 0]
    assert ops


def test_planted_wrong_answer_is_counted():
    res, lines = result(run("--workload", "analytics", "--plant-fault"))
    assert res["correct"] is False
    assert res["failed"] == 1 and res["attempted"] > 1
    frac = next(line for line in lines if line.startswith("failed_frac "))
    assert float(frac.split()[1]) == pytest.approx(1 / res["attempted"],
                                                   abs=1e-4)


def test_refuses_without_the_system(tmp_path):
    shutil.copytree(BENCH, tmp_path / "tripsbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = run("--workload", "analytics", cwd=str(tmp_path), timeout=60)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
