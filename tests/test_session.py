"""Session configuration, and the work a session does once instead of
once per call: the local core count read from SPARK_GRAFT_CPUS, the
codegen cache that holds a serving working set, the schema inferred
once per immutable parquet input (``catalog.read_parquet``), and the
derived inputs built once per session under its scratch root, which a
restarted session builds again and the process removes at exit."""

from __future__ import annotations

import json
import os
import subprocess
import sys

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


def _jobs_and_result(spark, fn):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    out = fn()
    return sched.nextJobId() - j0, out


def test_codegen_cache_holds_serving_working_set(spark, sf_dir):
    """Two index-serving ops called five times in a row: after the
    first round, every generated class comes from the codegen cache.
    At Spark's default cache size of 100 classes the two ops' working
    set (137 classes compiled by the first round on sf0.001) is evicted
    as it is cycled, and the later rounds compile 113 and 110. With the
    whole-stage codegen id in the class names, a stage that AQE numbers
    differently on a later call compiles again, and so does a ledger
    whose countDistincts expand in a per-call order."""
    from game_data_etl_pipeline_spark import registry
    from game_data_etl_pipeline_spark.plans.introspect import codegen_compilations

    specs = registry.all_specs()
    ops = [specs["op_sim_ivfpq_serve"], specs["op_corpus_decontaminate_bloom_served"]]
    for spec in ops:
        for step in spec.setup:
            step(spark, sf_dir)
    rounds = []
    for _ in range(5):
        n0 = codegen_compilations(spark)
        for spec in ops:
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        rounds.append(codegen_compilations(spark) - n0)
    assert rounds[1:] == [0, 0, 0, 0], f"classes compiled per round: {rounds}"


def test_second_load_table_runs_no_job(spark, sf_dir):
    from game_data_etl_pipeline_spark.catalog import load_table

    load_table(spark, sf_dir, "lineitem")
    jobs, df = _jobs_and_result(spark, lambda: load_table(spark, sf_dir, "lineitem"))
    assert jobs == 0
    assert df.schema == spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).schema


def test_path_overwritten_with_new_schema_is_inferred_again(spark, tmp_path):
    from game_data_etl_pipeline_spark.catalog import read_parquet

    path = str(tmp_path / "t")
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    assert read_parquet(spark, path).columns == ["a"]
    jobs, df = _jobs_and_result(spark, lambda: read_parquet(spark, path))
    assert jobs == 0 and df.columns == ["a"]
    spark.range(2).selectExpr("id AS b", "CAST(id AS STRING) AS c").write.mode("overwrite").parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ["b", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "0"), (1, "1")]


def test_published_ann_tree_reads_identically(spark, sf_dir):
    """A second read of the published ANN tree declares the schemas the
    first inferred: no job, and frames equal to plain reads."""
    from game_data_etl_pipeline_spark.llmdata.ann_index import build_ann_index, read_ann_index

    first = read_ann_index(spark, sf_dir)
    jobs, second = _jobs_and_result(spark, lambda: read_ann_index(spark, sf_dir))
    assert jobs == 0
    path = build_ann_index(spark, sf_dir)
    coarse, books, postings = (spark.read.parquet(os.path.join(path, p)) for p in ("coarse", "codebooks", "postings"))
    plain = (coarse, books, postings.selectExpr("vec_id", "codes", "CAST(cent_id AS BIGINT) AS cent_id"))
    for a, b, c in zip(first, second, plain):
        assert a.schema == b.schema == c.schema
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect())) == sorted(map(tuple, c.collect()))


def test_served_lexer_rebuilds_without_jobs(spark, sf_dir):
    """A second build of a served lexer frame (the batch lexer, the
    late-interaction serve) runs no Spark job: the published tree's
    schemas and the index cache hit are resolved by the first, and the
    term buckets fold to literals."""
    from game_data_etl_pipeline_spark.llmdata.retrieval import (
        lex_ranked_batch_served,
        op_sim_late_interaction_served,
    )

    for build in (lex_ranked_batch_served, op_sim_late_interaction_served):
        build(spark, sf_dir)
        jobs, _ = _jobs_and_result(spark, lambda: build(spark, sf_dir))
        assert jobs == 0, build.__name__


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one op per derived input (catalog.derived), plus op_cache_reuse's
# per-session cached frame
DERIVED_INPUT_OPS = (
    "op_sink_partition_prune",
    "op_join_bucketed",
    "op_join_skew_aqe",
    "op_sink_compaction",
    "op_sink_zorder",
    "op_catalog_stats",
    "op_cache_reuse",
    "op_scan_json",
    "op_scan_csv",
    "op_scan_orc",
    "op_scan_merge_schema",
    "op_scan_text",
    "op_scan_json_corrupt",
)

_RESTART = """
import json, sys
from game_data_etl_pipeline_spark import registry
from game_data_etl_pipeline_spark.session import get_spark

ops, sf_dir = sys.argv[1].split(","), sys.argv[2]
specs = registry.all_specs()
failures = []
for session in (1, 2):
    spark = get_spark("restart")
    for op in ops:
        try:
            for step in specs[op].setup:
                step(spark, sf_dir)
            specs[op].fn(spark, sf_dir).collect()
        except Exception as e:
            failures.append(f"session {session}: {op}: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
    spark.stop()
print(json.dumps(failures))
"""


def test_ops_survive_session_restart(tmp_path, sf_dir):
    """The derived-input ops run in one session, then in a second one
    started after the first is stopped, in a process of their own with
    its own TMPDIR: every call succeeds, and the process leaves that
    TMPDIR empty."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {
        **os.environ,
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART, ",".join(DERIVED_INPUT_OPS), sf_dir],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == []
    assert os.listdir(tmp) == []
