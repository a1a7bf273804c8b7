"""Session configuration: the local core count read from SPARK_GRAFT_CPUS."""

from __future__ import annotations

import os

import pytest

from game_data_etl_pipeline_spark.session import resolve_cpus


@pytest.mark.parametrize("value", ["0", "-2", "abc", "1.5"])
def test_resolve_cpus_rejects_bad_values(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS must be a positive integer"):
        resolve_cpus()


def test_resolve_cpus_reads_env_or_defaults_to_all_cores(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert resolve_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert resolve_cpus() == (os.cpu_count() or 4)
