"""Smoke test of the benchmark itself, at sf0.001 with a tiny ETL input.

Run from the repository root:

    python3 -m pytest perfbench/smoke_test.py -q -p no:cacheprovider

Checks that every metric BENCHMARK.json names is emitted with its unit
in both modes (each run is a ``run.py --smoke`` subprocess, as the
benchmark is run), that the envelope generator is byte-identical for a
seed, and that noop materialization runs op_text_bpe_tokens' Python UDF.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as _f:
    BENCHMARK = json.load(_f)


@pytest.fixture()
def scratch():
    d = tempfile.mkdtemp(prefix="perfbench_smoke_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_generator_is_byte_identical_per_seed(scratch):
    for sub, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_envelopes(os.path.join(scratch, sub), seed, 20)
    same = os.path.join(scratch, "a"), os.path.join(scratch, "b")
    match, mismatch, errors = filecmp.cmpfiles(*same, sorted(os.listdir(same[0])), shallow=False)
    assert mismatch == [] and errors == [] and match
    assert filecmp.cmpfiles(same[0], os.path.join(scratch, "c"), match, shallow=False)[1], "another seed gave identical inputs"


def test_metric_lists_match_benchmark_json():
    assert [(m["name"], m["unit"]) for m in BENCHMARK["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in BENCHMARK["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.WORKLOADS)


def test_noop_sink_runs_the_python_udf(scratch):
    from game_data_etl_pipeline_spark import registry

    saved_env = dict(os.environ)
    cpus = run.configure_env(scratch)
    run.import_package()
    spark = run.start_session(scratch, cpus)
    try:
        sf_dir = os.path.join(HERE, "data", "sf0.001")
        status = probes.SparkStatus(spark)
        df = registry.all_specs()["op_text_bpe_tokens"].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        assert any(node in status.last_plan() for node in probes.PYTHON_UDF_NODES)
        df.count()
        assert not any(node in status.last_plan() for node in probes.PYTHON_UDF_NODES)
    finally:
        run.stop_session(spark)
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = None


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", (0, 1))
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3", "--seconds", "0"]
    out = subprocess.run(
        [*cmd, "--trace", str(trace), "--smoke"], cwd=run.ROOT, capture_output=True, text=True, timeout=600, check=True
    ).stdout.strip().splitlines()
    assert out[-2].startswith("host ") and json.loads(out[-2][5:])["passes"] >= 1
    result = json.loads(out[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = BENCHMARK["per_layer"] if trace else BENCHMARK["end_to_end"]
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in want)
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], float)
