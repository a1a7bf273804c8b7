"""Session configuration, and the work a session does once instead of
once per call: the local core count read from SPARK_GRAFT_CPUS, the
codegen cache that holds a serving working set, and the schema inferred
once per immutable parquet input (``catalog.read_parquet``)."""

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


def _jobs_and_result(spark, fn):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    out = fn()
    return sched.nextJobId() - j0, out


def test_codegen_cache_holds_serving_working_set(spark, sf_dir):
    """Two index-serving ops called three times in a row: after the
    first round, their generated classes come from the codegen cache.
    At Spark's default cache size of 100 classes the two ops' working
    set (137 classes compiled by the first round on sf0.001) is evicted
    as it is cycled, and the later rounds compile 113 and 110."""
    from game_data_etl_pipeline_spark import registry
    from game_data_etl_pipeline_spark.plans.introspect import codegen_compilations

    specs = registry.all_specs()
    ops = [specs["op_sim_ivfpq_serve"], specs["op_corpus_decontaminate_bloom_served"]]
    for spec in ops:
        for step in spec.setup:
            step(spark, sf_dir)
    rounds = []
    for _ in range(3):
        n0 = codegen_compilations(spark)
        for spec in ops:
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        rounds.append(codegen_compilations(spark) - n0)
    assert max(rounds[1:]) <= 30, f"classes compiled per round: {rounds}"


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
    """A second build of the served batch lexer runs no Spark job: the
    published lexical tree's schemas, the index cache hit and the term
    buckets are all resolved by the first."""
    from game_data_etl_pipeline_spark.llmdata.retrieval import lex_ranked_batch_served

    lex_ranked_batch_served(spark, sf_dir)
    jobs, _ = _jobs_and_result(spark, lambda: lex_ranked_batch_served(spark, sf_dir))
    assert jobs == 0
