"""Contract tests for the game_api Python Data Source."""

from __future__ import annotations

from game_data_etl_pipeline_spark.etl import fixtures
from game_data_etl_pipeline_spark.sources.api_source import GameApiDataSource


def _read(spark, landing_dir, **opts):
    spark.dataSource.register(GameApiDataSource)
    r = spark.read.format("game_api").option("landing_dir", landing_dir)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_reads_all_endpoints_in_parallel_partitions(spark, tmp_path):
    d = str(tmp_path)
    fixtures.write_landing(d)
    df = _read(spark, d)
    # one input partition per endpoint
    assert df.rdd.getNumPartitions() == 4
    counts = {r["endpoint"]: r["n"] for r in df.groupBy("endpoint").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"agents": 5, "weapons": 3, "maps": 2, "gamemodes": 2}


def test_broken_endpoint_degrades_to_empty_not_failure(spark, tmp_path):
    """Reference parity: non-200 envelope -> [] for that endpoint, scan
    still succeeds (reference etl/pipeline.py:103-105)."""
    d = str(tmp_path)
    fixtures.write_landing(d, broken={"weapons"})
    df = _read(spark, d)
    counts = {r["endpoint"]: r["n"] for r in df.groupBy("endpoint").count().withColumnRenamed("count", "n").collect()}
    assert "weapons" not in counts
    assert counts["agents"] == 5


def test_missing_file_degrades_to_empty(spark, tmp_path):
    d = str(tmp_path)
    fixtures.write_landing(d, endpoints=["agents"])
    df = _read(spark, d)  # 3 of 4 endpoint files absent
    assert df.count() == 5


def test_endpoint_subset_option(spark, tmp_path):
    d = str(tmp_path)
    fixtures.write_landing(d)
    df = _read(spark, d, endpoints="maps,gamemodes")
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 4


def test_stream_reader_replays_one_endpoint_per_batch(tmp_path):
    """Offsets advance one endpoint per read(); a drained reader
    returns its start offset unchanged (the stop signal)."""
    d = str(tmp_path)
    fixtures.write_landing(d)
    from game_data_etl_pipeline_spark.sources.api_source import GameApiStreamReader

    r = GameApiStreamReader({"landing_dir": d})
    off = r.initialOffset()
    seen = []
    for _ in range(10):
        rows, nxt = r.read(off)
        rows = list(rows)
        if nxt == off:
            break
        seen.append({t[0] for t in rows})
        off = nxt
    # each batch must be single-endpoint; sorted() keeps an unexpectedly
    # empty or mixed batch a readable assertion diff, not a KeyError
    assert [sorted(s) for s in seen] == [["agents"], ["weapons"], ["maps"], ["gamemodes"]]


def test_stream_reader_recovery_replays_offset_range(tmp_path):
    """readBetweenOffsets reproduces exactly the records of the
    skipped range — the checkpoint-recovery contract."""
    d = str(tmp_path)
    fixtures.write_landing(d)
    from game_data_etl_pipeline_spark.sources.api_source import GameApiStreamReader

    r = GameApiStreamReader({"landing_dir": d})
    replay = list(r.readBetweenOffsets({"i": 1}, {"i": 3}))
    eps = {t[0] for t in replay}
    assert eps == {"weapons", "maps"}
    assert len(replay) == 5  # 3 weapons + 2 maps


def test_stream_reader_broken_endpoint_empty_batch(tmp_path):
    d = str(tmp_path)
    fixtures.write_landing(d, broken={"weapons"})
    from game_data_etl_pipeline_spark.sources.api_source import GameApiStreamReader

    r = GameApiStreamReader({"landing_dir": d})
    rows, nxt = r.read({"i": 1})  # weapons
    assert list(rows) == []
    assert nxt == {"i": 2}  # offset still advances past the broken endpoint
