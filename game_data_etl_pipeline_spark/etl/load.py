"""Load phase: curated tables -> warehouse, with lineage + run tracking.

Reference semantics preserved (reference etl/pipeline.py:252-310):

- full refresh per table (``if_exists='replace'``) in one Spark job:
  the write goes to a staging dir (``staging_tree``) with the row
  count observed on it (``df.observe``), then is swapped in for the
  previous table, which a failed write leaves intact;
- empty tables are skipped with a warning, and the run still succeeds:
  a count of 0 discards the staging dir, so the previous table (or,
  on a first run, no table) remains;
- every row gets ``_etl_run_id`` and ``_etl_loaded_at`` (ISO-8601 UTC);
- an ``etl_runs`` record per run — keyed upsert on run_id, written on
  success AND on failure (status ``Failed: {err}``, zeroed counts),
  then the failure re-raises;
- fidelity note (SURVEY.md §2.A note 2): the reference records
  ``tables_loaded = len(transformed)`` — the number of TRANSFORMED
  tables, counting empty ones it skipped. Preserved deliberately.

Sink is a parquet warehouse dir (the scale path: at 100 TB each table
write is a distributed parquet job). ``etl_runs`` upsert is emulated
append-plus-latest-wins (row_number over completed_at per run_id),
since plain parquet has no MERGE; read it via ``read_etl_runs``. The
one-row record is built from an Arrow-backed pandas frame, which needs
no Python worker and, unlike literal columns over ``range(1)``, no
per-run codegen.
An optional SQLite mirror reproduces the reference's exact sink for
the tiny curated tables (driver-side, gated off by default).
"""

from __future__ import annotations

import datetime as dt
import logging
import os
import shutil
import time

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from game_data_etl_pipeline_spark.llmdata.artifacts import staging_tree

logger = logging.getLogger("game_data_etl_pipeline_spark.load")

ETL_RUNS_COLUMNS = "run_id string, started_at string, completed_at string, status string, tables_loaded int, total_rows long, duration_seconds double"


def _utcnow_iso() -> str:
    return dt.datetime.now(dt.timezone.utc).isoformat()


def _swap_in(staging: str, final: str) -> None:
    """Replace ``final`` with ``staging``; the previous table is renamed
    aside first and restored if the swap fails."""
    trash = f"{staging}.trash"
    had_old = os.path.isdir(final)
    if had_old:
        os.rename(final, trash)
    try:
        os.rename(staging, final)
    except OSError:
        if had_old:
            os.rename(trash, final)
        raise
    shutil.rmtree(trash, ignore_errors=True)


class Loader:
    def __init__(self, config: dict):
        wh = config.get("warehouse", {})
        self.warehouse_dir = wh.get("path", "warehouse")
        self.sqlite_path = wh.get("sqlite_mirror")  # optional parity sink
        os.makedirs(self.warehouse_dir, exist_ok=True)

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.warehouse_dir, name)

    def load_all(self, spark: SparkSession, transformed: dict[str, DataFrame], run_id: str) -> dict[str, int]:
        """Write every non-empty table; record the run; re-raise on failure."""
        start = time.time()
        started_at = _utcnow_iso()
        counts: dict[str, int] = {}
        try:
            for name, df in transformed.items():
                n = self._write_table(df, name, run_id)
                if n == 0:  # reference :273-275 — skip, warn, run still succeeds
                    logger.warning("skipping empty table: %s", name)
                    continue
                counts[name] = n
            total_rows = sum(counts.values())
            self._write_run_record(
                spark,
                run_id,
                started_at,
                status="Success",
                tables_loaded=len(transformed),  # reference fidelity: counts transformed, not loaded
                total_rows=total_rows,
                duration=round(time.time() - start, 2),
            )
            if self.sqlite_path:
                self._mirror_to_sqlite(spark, counts, run_id)
                self.drop_from_sqlite([n for n in transformed if n not in counts])
            return counts
        except Exception as e:  # noqa: BLE001 — record, then re-raise (reference :302-308)
            self._write_run_record(
                spark, run_id, started_at, status=f"Failed: {e}", tables_loaded=0, total_rows=0, duration=0.0
            )
            raise

    def _write_table(self, df: DataFrame, name: str, run_id: str) -> int:
        """One write job: stage the stamped table with its row count
        observed, then swap it in, or discard it when empty."""
        obs = Observation()
        stamped = (
            df.withColumn("_etl_run_id", F.lit(run_id))
            .withColumn("_etl_loaded_at", F.lit(_utcnow_iso()))
            .observe(obs, F.count(F.lit(1)).alias("rows"))
        )
        final = self._table_dir(name)
        with staging_tree(final) as staging:
            stamped.write.mode("overwrite").parquet(staging)
            n = obs.get["rows"]
            if n:
                _swap_in(staging, final)
            else:
                shutil.rmtree(staging)
        return n

    def _write_run_record(
        self,
        spark: SparkSession,
        run_id: str,
        started_at: str,
        *,
        status: str,
        tables_loaded: int,
        total_rows: int,
        duration: float,
    ) -> None:
        row = (run_id, started_at, _utcnow_iso(), status, tables_loaded, total_rows, duration)
        rec = spark.createDataFrame(pd.DataFrame([row]), ETL_RUNS_COLUMNS)
        rec.write.mode("append").parquet(self._table_dir("etl_runs"))

    def read_etl_runs(self, spark: SparkSession) -> DataFrame:
        """etl_runs with INSERT-OR-REPLACE semantics: latest record per run_id."""
        runs = spark.read.parquet(self._table_dir("etl_runs"))
        w = Window.partitionBy("run_id").orderBy(F.col("completed_at").desc())
        return runs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self._table_dir(name))

    def list_tables(self) -> list[str]:
        """Catalog scan over the warehouse (reference README verify snippet)."""
        if not os.path.isdir(self.warehouse_dir):
            return []
        return sorted(
            d for d in os.listdir(self.warehouse_dir) if os.path.isdir(os.path.join(self.warehouse_dir, d))
        )

    def _mirror_to_sqlite(self, spark: SparkSession, counts: dict[str, int], run_id: str) -> None:
        """Optional: reproduce the reference's SQLite sink exactly
        (driver-side; only sane for dimension-sized tables).

        Mirrors only the tables actually LOADED this run (the counts
        dict) — a table skipped as empty has no warehouse dir on a
        first run (reading it would raise after Success was recorded)
        and a stale dir on later runs (mirroring it would resurrect
        the previous run's rows). Skipped-empty tables are DROPPED
        from the mirror instead, matching the reference sink where a
        replaced database never carries a vanished table forward."""
        import sqlite3

        con = sqlite3.connect(self.sqlite_path)
        try:
            for name in counts:
                pdf = self.read_table(spark, name).toPandas()
                pdf.to_sql(name, con, if_exists="replace", index=False)
            con.commit()
        finally:
            con.close()

    def drop_from_sqlite(self, names: list[str]) -> None:
        """Drop mirror tables for names skipped as empty this run."""
        import sqlite3

        if not self.sqlite_path:
            return
        con = sqlite3.connect(self.sqlite_path)
        try:
            for name in names:
                con.execute(f'DROP TABLE IF EXISTS "{name}"')
            con.commit()
        finally:
            con.close()
