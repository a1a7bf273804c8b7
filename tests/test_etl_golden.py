"""Golden ETL tests: the full pipeline over offline fixtures must
reproduce the reference's transform/load contract exactly."""

from __future__ import annotations

import json

import pytest

from game_data_etl_pipeline_spark.etl import fixtures
from game_data_etl_pipeline_spark.etl.load import Loader
from game_data_etl_pipeline_spark.etl.pipeline import ETLPipeline

from .oracle import normalize


def _pipeline(spark, tmp_path, *, broken=frozenset()) -> ETLPipeline:
    offline = tmp_path / "api"
    fixtures.write_landing(str(offline), broken=broken)
    config = {
        "api": {
            "endpoints": ["agents", "weapons", "maps", "gamemodes"],
            "offline_dir": str(offline),
            "request_delay_seconds": 0,
        },
        "landing": {"path": str(tmp_path / "landing")},
        "warehouse": {"path": str(tmp_path / "warehouse")},
    }
    return ETLPipeline(spark, config)


def test_full_run_golden(spark, tmp_path):
    pipe = _pipeline(spark, tmp_path)
    result = pipe.run()

    assert sorted(pipe.loader.list_tables()) == sorted([*fixtures.EXPECTED, "etl_runs"])
    for table, expected_rows in fixtures.EXPECTED.items():
        df = pipe.loader.read_table(spark, table)
        # lineage columns present on every row
        assert {"_etl_run_id", "_etl_loaded_at"} <= set(df.columns)
        assert df.filter(df._etl_run_id == result["run_id"]).count() == df.count()
        got = df.drop("_etl_run_id", "_etl_loaded_at").toPandas()
        cols, got_rows = normalize(got)
        exp = got.iloc[0:0].copy()
        for row in expected_rows:
            exp.loc[len(exp)] = dict(zip(fixtures.COLUMNS[table], row))
        _, exp_rows = normalize(exp[list(got.columns)])
        assert got_rows == exp_rows, f"{table} mismatch"

    runs = pipe.loader.read_etl_runs(spark).collect()
    assert len(runs) == 1
    rec = runs[0]
    assert rec.status == "Success"
    assert rec.tables_loaded == 6
    assert rec.total_rows == sum(len(v) for v in fixtures.EXPECTED.values())
    assert rec.run_id == result["run_id"]


def test_partial_failure_semantics(spark, tmp_path):
    """A failed endpoint degrades to zero records; its tables are
    skipped; the run still records Success (reference fidelity note 1)."""
    pipe = _pipeline(spark, tmp_path, broken={"weapons"})
    pipe.run()

    tables = pipe.loader.list_tables()
    assert "weapons" not in tables
    assert "weapon_damage" not in tables
    assert "agents" in tables and "maps" in tables

    rec = pipe.loader.read_etl_runs(spark).collect()[0]
    assert rec.status == "Success"
    # fidelity: tables_loaded counts TRANSFORMED tables (incl. skipped-empty)
    assert rec.tables_loaded == 6


def test_rerun_overwrites_full_refresh(spark, tmp_path):
    """Second run replaces table contents (full refresh) and upserts a
    second etl_runs record; run ids differ if the clock ticked, else
    the latest record wins."""
    pipe = _pipeline(spark, tmp_path)
    r1 = pipe.run()
    r2 = pipe.run()
    agents = pipe.loader.read_table(spark, "agents")
    assert agents.count() == len(fixtures.EXPECTED["agents"])  # not doubled
    run_ids = {row.run_id for row in pipe.loader.read_etl_runs(spark).collect()}
    assert r2["run_id"] in run_ids
    assert len(run_ids) <= 2


def test_sqlite_mirror_skips_and_drops_empty_tables(spark, tmp_path):
    """Mirror-sink regression (ADVICE r1): a table skipped as empty
    must not crash the mirror on a first run (no warehouse dir to
    read) and must be DROPPED from the mirror on later runs rather
    than resurrecting the previous run's rows."""
    import sqlite3

    def tables_in(db):
        con = sqlite3.connect(db)
        try:
            return {r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type='table'")}
        finally:
            con.close()

    db = str(tmp_path / "mirror.db")

    # first run with a broken endpoint: weapons/weapon_damage are empty
    pipe = _pipeline(spark, tmp_path, broken={"weapons"})
    pipe.loader.sqlite_path = db
    pipe.run()
    mirrored = tables_in(db)
    assert "agents" in mirrored and "weapons" not in mirrored

    # healthy run: weapons appears
    pipe2 = _pipeline(spark, tmp_path / "second", broken=frozenset())
    pipe2.loader.warehouse_dir = pipe.loader.warehouse_dir  # same warehouse
    pipe2.loader.sqlite_path = db
    pipe2.run()
    assert "weapons" in tables_in(db)

    # broken again: stale weapons rows must NOT survive in the mirror
    pipe3 = _pipeline(spark, tmp_path / "third", broken={"weapons"})
    pipe3.loader.warehouse_dir = pipe.loader.warehouse_dir
    pipe3.loader.sqlite_path = db
    pipe3.run()
    assert "weapons" not in tables_in(db)


def test_schedule_config_roundtrip(tmp_path):
    from game_data_etl_pipeline_spark.etl.pipeline import DEFAULT_CONFIG, load_config

    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({"api": {"endpoints": ["agents"]}, "schedule": {"interval_hours": 1}}))
    cfg = load_config(str(p))
    assert cfg["api"]["endpoints"] == ["agents"]
    assert cfg["schedule"]["interval_hours"] == 1
    # defaults preserved for unspecified keys
    assert cfg["warehouse"]["path"] == DEFAULT_CONFIG["warehouse"]["path"]
    assert load_config(None) == DEFAULT_CONFIG


def test_transform_never_throws_on_adversarial_payloads(spark):
    """Property-ish: transforms must tolerate missing/null/extra fields
    (the reference's .get()/or-{} guards, SURVEY.md §5)."""
    from game_data_etl_pipeline_spark.etl.transform import TRANSFORMS, records_df

    adversarial = [
        "{}",
        '{"uuid": null, "displayName": null, "isPlayableCharacter": true}',
        '{"unknownField": 42, "isPlayableCharacter": true, "displayName": "X"}',
        '{"isPlayableCharacter": true, "role": {}, "abilities": null, "displayName": "Y"}',
    ]
    for endpoint, frames in TRANSFORMS.items():
        raw = records_df(spark, endpoint, adversarial)
        for _table, fn in frames:
            rows = fn(raw).collect()
            assert rows is not None


def _rows(spark, pipe, table):
    return sorted(pipe.loader.read_table(spark, table).collect())


def _assert_no_staging_leftovers(pipe):
    assert [t for t in pipe.loader.list_tables() if "staging" in t or "trash" in t] == []


def test_load_runs_one_job_per_table(spark, tmp_path):
    """Job-count guard: a warm cycle runs one Spark job per output
    table (row count observed on the write, shared endpoint frames
    parsed once) plus one for the etl_runs record. Job counts do not
    depend on host speed."""
    pipe = _pipeline(spark, tmp_path)
    pipe.run()  # warm
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    result = pipe.run()
    jobs = sched.nextJobId() - j0
    assert len(result["counts"]) == 6
    assert jobs <= 7, f"ETL cycle ran {jobs} Spark jobs, want <= 7 (6 tables + run record)"


def test_skip_empty_keeps_previous_table(spark, tmp_path):
    """A table that comes back empty is skipped without touching the
    previous run's table: its staging dir is discarded, not swapped in."""
    pipe = _pipeline(spark, tmp_path)
    r1 = pipe.run()
    before = {t: _rows(spark, pipe, t) for t in ("weapons", "weapon_damage")}

    broken = _pipeline(spark, tmp_path / "second", broken={"weapons"})
    broken.loader.warehouse_dir = pipe.loader.warehouse_dir
    r2 = broken.run()

    assert "weapons" not in r2["counts"] and "weapon_damage" not in r2["counts"]
    for table, rows in before.items():
        assert _rows(spark, pipe, table) == rows
        assert {r._etl_run_id for r in rows} == {r1["run_id"]}
    _assert_no_staging_leftovers(pipe)


def test_failed_write_keeps_previous_table(spark, tmp_path, monkeypatch):
    """A table write that raises leaves the previous table readable,
    records a Failed run and re-raises (reference :302-308)."""
    from pyspark.sql import functions as F

    from game_data_etl_pipeline_spark.etl import transform

    pipe = _pipeline(spark, tmp_path)
    pipe.run()
    before = _rows(spark, pipe, "weapons")

    def failing_weapons(raw):
        df = transform.transform_weapons(raw)
        return df.withColumn("name", F.when(F.col("cost") >= 0, F.raise_error(F.lit("boom"))).otherwise(df.name))

    monkeypatch.setitem(
        transform.TRANSFORMS,
        "weapons",
        [("weapons", failing_weapons), ("weapon_damage", transform.transform_damage_ranges)],
    )
    with pytest.raises(Exception, match="boom"):
        pipe.run()

    assert _rows(spark, pipe, "weapons") == before
    runs = pipe.loader.read_table(spark, "etl_runs").collect()
    failed = [r for r in runs if r.status.startswith("Failed: ")]
    assert len(failed) == 1 and "boom" in failed[0].status
    assert failed[0].tables_loaded == 0 and failed[0].total_rows == 0
    _assert_no_staging_leftovers(pipe)
