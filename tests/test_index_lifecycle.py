"""The persisted-index lifecycle (llmdata/artifacts.py) is bookkeeping
around the Spark writes: these tests pin the Spark work of a cold build,
of the compactions and Bloom registry edits, and of a warm run of each
streamed store op, and the cache-hit rule of every op's declared setup."""

from __future__ import annotations

import os

import pytest

from game_data_etl_pipeline_spark import registry

SPECS = registry.all_specs()

# Spark jobs of one cold build on the sf0.001 fixture. Job counts do not
# depend on host speed or core count; a change to a builder's writes
# moves them.
COLD_BUILD_JOBS = {"ann": 29, "lex": 10, "bloom": 10}


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


# Spark jobs of one warm run (the op called and its result collected)
# of each streamed store op on the sf0.001 fixture; the same on 2 and 4
# cores. Warm means the ANN and lexical indexes exist and the served
# query terms' buckets are resolved, as after any earlier run.
STREAM_JOBS = {
    "op_stream_lex_serve": 26,
    "op_stream_index_ingest": 39,
    "op_stream_lex_ingest": 23,
    "op_stream_incremental_dedup": 23,
    "op_stream_incremental_fuzzy_dedup": 47,
    "op_stream_foreachbatch_upsert": 12,
    "op_stream_ann_serve": 60,
    "op_stream_decontaminate": 29,
    "op_stream_bloom_upsert": 44,
    "op_stream_lex_compact_serve": 46,
    "op_stream_ann_serve_compacted": 72,
}


@pytest.mark.parametrize("op", sorted(STREAM_JOBS))
def test_streamed_op_jobs(spark, sf_dir, op):
    from game_data_etl_pipeline_spark.llmdata.ann_index import build_ann_index
    from game_data_etl_pipeline_spark.llmdata.lex_index import (
        build_lex_index,
        resolve_term_buckets,
    )

    build_ann_index(spark, sf_dir)
    build_lex_index(spark, sf_dir)
    resolve_term_buckets(spark, ("vector", "stream", "spark"))  # bm25_from_index's default
    run = lambda spark, sf_dir: SPECS[op].fn(spark, sf_dir).collect()  # noqa: E731
    assert _jobs(spark, run, sf_dir) == STREAM_JOBS[op]


# Spark jobs of the compactions and Bloom registry edits on the sf0.001
# fixture, the same on 2 and 4 cores: (first call, cache-hit call or
# None). The first call builds the step's tree from input trees that
# already exist; op_lex_index_delete_compact builds its compacted tree
# inline and is collected, with the served query terms' buckets
# resolved.
LIFECYCLE_JOBS = {
    "ensure_compact_tree": (3, None),
    "ensure_ann_e2e_tree": (4, None),
    "ensure_lex_e2e_tree": (11, None),
    "op_lex_index_delete_compact": (17, None),
    "ensure_bloom_registry": (28, None),
    "ensure_bloom_refresh_demo": (51, 6),
    "ensure_bloom_retire_demo": (43, 6),
    "ensure_bloom_lifecycle_demo": (74, 6),
}

_ROOT_ENVS = {
    "ann": "SPARK_GRAFT_INDEX_DIR",
    "lex": "SPARK_GRAFT_LEX_INDEX_DIR",
    "bloom": "SPARK_GRAFT_INDEX_DIR_BLOOM",
}


@pytest.fixture(scope="module")
def lifecycle_roots(spark, sf_dir, tmp_path_factory):
    """Index roots of their own, holding the ANN and lexical upsert
    trees the compactions read (built once for the module)."""
    from game_data_etl_pipeline_spark.llmdata.ann_index import ensure_upsert_tree
    from game_data_etl_pipeline_spark.llmdata.lex_index import ensure_lex_upsert_tree

    root = tmp_path_factory.mktemp("lifecycle")
    env = {var: str(root / family) for family, var in _ROOT_ENVS.items()}
    with pytest.MonkeyPatch.context() as mp:
        for var, path in env.items():
            mp.setenv(var, path)
        ensure_upsert_tree(spark, sf_dir)
        ensure_lex_upsert_tree(spark, sf_dir)
    return env


@pytest.mark.parametrize("step", sorted(LIFECYCLE_JOBS))
def test_lifecycle_step_jobs(spark, sf_dir, lifecycle_roots, monkeypatch, step):
    from game_data_etl_pipeline_spark.llmdata import ann_index, dedup, lex_index

    for var, path in lifecycle_roots.items():
        monkeypatch.setenv(var, path)
    lex_index.resolve_term_buckets(spark, ("vector", "stream", "spark"))
    if step == "op_lex_index_delete_compact":
        fn = lambda spark, sf_dir: lex_index.op_lex_index_delete_compact(spark, sf_dir).collect()  # noqa: E731
    else:
        fn = next(getattr(m, step) for m in (ann_index, lex_index, dedup) if hasattr(m, step))
    first, hit = LIFECYCLE_JOBS[step]
    assert _jobs(spark, fn, sf_dir) == first
    if hit is not None:
        assert _jobs(spark, fn, sf_dir) == hit


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
