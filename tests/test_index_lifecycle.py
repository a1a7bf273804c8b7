"""The persisted-index lifecycle (llmdata/artifacts.py) is bookkeeping
around the Spark writes: these tests pin the Spark work of a cold build
and the cache-hit rule of every op's declared setup."""

from __future__ import annotations

import os

import pytest

from game_data_etl_pipeline_spark import registry

SPECS = registry.all_specs()

# Spark jobs of one cold build on the sf0.001 fixture. Job counts do not
# depend on host speed or core count; a change to a builder's writes
# moves them.
COLD_BUILD_JOBS = {"ann": 30, "lex": 10, "bloom": 10}


def _jobs(spark, fn, *args) -> int:
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    fn(spark, *args)
    return sched.nextJobId() - j0


@pytest.mark.parametrize("family", sorted(COLD_BUILD_JOBS))
def test_cold_build_jobs(spark, sf_dir, tmp_path, monkeypatch, family):
    from game_data_etl_pipeline_spark.llmdata.ann_index import build_ann_index
    from game_data_etl_pipeline_spark.llmdata.dedup import build_bloom_index
    from game_data_etl_pipeline_spark.llmdata.lex_index import build_lex_index

    build, env = {
        "ann": (build_ann_index, "SPARK_GRAFT_INDEX_DIR"),
        "lex": (build_lex_index, "SPARK_GRAFT_LEX_INDEX_DIR"),
        "bloom": (build_bloom_index, "SPARK_GRAFT_INDEX_DIR_BLOOM"),
    }[family]
    monkeypatch.setenv(env, str(tmp_path / family))
    assert _jobs(spark, build, sf_dir) == COLD_BUILD_JOBS[family]
    assert _jobs(spark, build, sf_dir) == 0, "a cache hit ran Spark jobs"


def _published_trees() -> set[str]:
    """Every entry of every version dir under the index roots: a
    publish adds a key or a displaced ``.trash.`` tree."""
    from game_data_etl_pipeline_spark.llmdata.ann_index import ANN
    from game_data_etl_pipeline_spark.llmdata.dedup import BLOOM
    from game_data_etl_pipeline_spark.llmdata.lex_index import LEX
    from game_data_etl_pipeline_spark.llmdata.retrieval import LATE

    out = set()
    for family in (ANN, LEX, BLOOM, LATE):
        root = family.root()
        for version_dir in os.listdir(root) if os.path.isdir(root) else ():
            for name in os.listdir(os.path.join(root, version_dir)):
                out.add(os.path.join(root, version_dir, name))
    return out


def test_second_setup_call_builds_nothing(spark, sf_dir):
    """Every declared setup step is idempotent: once its inputs exist,
    calling it again bumps no build counter and publishes no tree."""
    from game_data_etl_pipeline_spark.llmdata import artifacts

    steps = list(dict.fromkeys(step for spec in SPECS.values() for step in spec.setup))
    assert steps, "no registered op declares a setup step"
    for step in steps:
        step(spark, sf_dir)
    before, trees = artifacts.BUILD_COUNT, _published_trees()
    for step in steps:
        step(spark, sf_dir)
    assert artifacts.BUILD_COUNT == before
    assert _published_trees() == trees
