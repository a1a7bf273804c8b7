"""The persisted-index lifecycle (llmdata/artifacts.py) is bookkeeping
around the Spark writes: these tests pin the Spark work of a cold build,
of the upsert trees, compactions and Bloom registry edits, and of a warm
run of each streamed store op, each composed retrieval op and each
offline lifecycle op (which serve from the trees), and the cache-hit
rule of every op's declared setup."""

from __future__ import annotations

import os
import shutil

import pytest

from game_data_etl_pipeline_spark import registry

SPECS = registry.all_specs()

# Spark jobs of one cold build on the sf0.001 fixture. Job counts do not
# depend on host speed or core count; a change to a builder's writes
# moves them.
COLD_BUILD_JOBS = {"ann": 27, "lex": 9, "bloom": 9}


@pytest.fixture(scope="module", autouse=True)
def fixture_schemas(spark, sf_dir):
    """Read every fixture table once, so that each pin counts the jobs
    of a session that has already inferred their schemas
    (``catalog.read_parquet``), whatever ran before it."""
    from game_data_etl_pipeline_spark.catalog import TABLES, load_table

    for name in TABLES:
        load_table(spark, sf_dir, name)


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
# cores. Warm means the ANN and lexical indexes exist and have been read
# in this session, and the served query terms' buckets are resolved, as
# after any earlier run.
STREAM_JOBS = {
    "op_stream_lex_serve": 25,
    "op_stream_index_ingest": 34,
    "op_stream_lex_ingest": 21,
    "op_stream_incremental_dedup": 22,
    "op_stream_incremental_fuzzy_dedup": 46,
    "op_stream_foreachbatch_upsert": 11,
    "op_stream_ann_serve": 53,
    "op_stream_decontaminate": 25,
    "op_stream_bloom_upsert": 42,
    "op_stream_lex_compact_serve": 43,
    "op_stream_ann_serve_compacted": 64,
}


@pytest.mark.parametrize("op", sorted(STREAM_JOBS))
def test_streamed_op_jobs(spark, sf_dir, op):
    from game_data_etl_pipeline_spark.llmdata.ann_index import read_ann_index
    from game_data_etl_pipeline_spark.llmdata.lex_index import build_lex_index

    read_ann_index(spark, sf_dir)
    build_lex_index(spark, sf_dir)
    run = lambda spark, sf_dir: SPECS[op].fn(spark, sf_dir).collect()  # noqa: E731
    assert _jobs(spark, run, sf_dir) == STREAM_JOBS[op]


# Spark jobs of one warm call (construction and collect) of each
# composed retrieval op and each offline index-lifecycle op on the
# sf0.001 fixture, the same on 2 and 4 cores; warm means the op has run
# once in this session, so its index trees, their schemas and its term
# buckets are resolved.
WARM_OP_JOBS = {
    "q_retrieval_pipeline": 18,
    "q_retrieval_pipeline_ann": 30,
    "q_retrieval_pipeline_served": 37,
    "q_retrieval_pipeline_batch": 18,
    "q_retrieval_pipeline_batch8": 18,
    "q_retrieval_pipeline_batch_served": 12,
    "q_retrieval_pipeline_batch_served8": 12,
    "q_retrieval_pipeline_batch_ann": 24,
    "q_retrieval_pipeline_batch_ann8": 24,
    "op_sim_index_upsert": 12,
    "op_sim_index_compact": 7,
    "op_sim_ivfpq_serve_compacted": 27,
    "op_sim_lifecycle_e2e": 37,
    "op_sim_index_merge_policy": 11,
    "op_sim_ivfpq_serve_merged": 27,
    "op_lex_index_upsert": 4,
    "op_lex_index_delete_compact": 4,
    "op_lex_lifecycle_e2e": 11,
}


@pytest.mark.parametrize("op", sorted(WARM_OP_JOBS))
def test_retrieval_op_jobs(spark, sf_dir, op):
    for step in SPECS[op].setup:
        step(spark, sf_dir)
    run = lambda spark, sf_dir: SPECS[op].fn(spark, sf_dir).collect()  # noqa: E731
    run(spark, sf_dir)
    assert _jobs(spark, run, sf_dir) == WARM_OP_JOBS[op]


# Spark jobs of the upsert trees, compactions and Bloom registry edits
# on the sf0.001 fixture, the same on 2 and 4 cores: (first call,
# cache-hit call or None). The first call builds the step's tree from
# input trees that already exist: the main trees for an upsert tree
# (which the test removes first), the upsert tree for a compaction.
UPSERT_TREES = ("ensure_upsert_tree", "ensure_lex_upsert_tree")
LIFECYCLE_JOBS = {
    "ensure_upsert_tree": (9, None),
    "ensure_lex_upsert_tree": (13, None),
    "ensure_compact_tree": (2, None),
    "ensure_ann_e2e_tree": (4, None),
    "ensure_lex_compact_tree": (10, None),
    "ensure_lex_e2e_tree": (10, None),
    "ensure_bloom_registry": (26, None),
    "ensure_bloom_refresh_demo": (48, 4),
    "ensure_bloom_retire_demo": (41, 4),
    "ensure_bloom_lifecycle_demo": (70, 4),
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
    fn = next(getattr(m, step) for m in (ann_index, lex_index, dedup) if hasattr(m, step))
    if step in UPSERT_TREES:
        shutil.rmtree(fn(spark, sf_dir))
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
