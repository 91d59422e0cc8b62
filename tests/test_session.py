"""Tests for the session factory's host-derived defaults."""

from __future__ import annotations

import os

import pytest

from jobsity_data_pipeline_spark.session import local_cpus


@pytest.mark.parametrize("value", [None, "", "many"])
def test_local_cpus_defaults_to_the_host(monkeypatch, value):
    """Without a numeric SPARK_GRAFT_CPUS a local session gets as many
    task threads as this process has CPUs, not a fixed 32."""
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert local_cpus() == len(os.sched_getaffinity(0))


def test_local_cpus_explicit_value_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3
