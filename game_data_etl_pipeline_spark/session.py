"""SparkSession construction.

One shared session per process; every knob here is a scale decision:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast selection — the knobs that keep a fixed plan
  working from sf0.001 (6k rows) to 100 TB.
- shuffle.partitions defaults to the local core count; on a real
  cluster this is overridden to ~2-3x total executor cores (AQE
  coalesces the excess).
- UTC session timezone: required for bit-exact timestamp comparison
  against external engines (the DuckDB oracle) and for any pipeline
  whose lineage columns must be reproducible across clusters.
- Arrow on: every pandas_udf / applyInPandas / toPandas crossing uses
  columnar Arrow batches instead of per-row pickling.
- codegen cache of 2000 generated classes (Spark's default is 100): a
  serving tier reruns the same query shapes, and each miss is a
  driver-side Janino compile plus a fresh JIT of the new class. One
  pass of perfbench's 13 analytics ops compiles about 265 classes and
  an ETL cycle 28, so at the default an LRU cycled through the analytics
  working set misses on every access and every pass compiles as much as
  the first. The working set of registered queries must fit. The
  setting is static: a session built elsewhere keeps its own.
- generated class names without the whole-stage codegen id
  (``spark.sql.codegen.useIdInClassName=false``): the cache is keyed on
  the generated source, and AQE numbers a query's stages in the order
  they are planned, which differs between two calls of one op. With
  the id in the class name the same stage compiles again under its new
  number, so a warm call still missed the cache.
- console progress bar off (``spark.ui.showConsoleProgress=false``):
  Spark reads the unset key as true, and its ``[Stage N:>`` bar, drawn
  on stderr with carriage returns, then lands on the same line as a
  script's stdout output when the two streams are merged (a
  ``grep '^wrote'`` over ``scripts/dump_plans.py`` lost ops that way).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "game_data_etl_pipeline_spark"


def resolve_cpus() -> int:
    """Local core count: ``$SPARK_GRAFT_CPUS`` if set, else all cores.
    A malformed or non-positive value is rejected rather than coerced."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if not env:
        return os.cpu_count() or 4
    if not env.strip().isdigit() or int(env) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {env!r}")
    return int(env)


def get_spark(app_name: str = DEFAULT_APP_NAME, *, extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; on a cluster the
    master is taken from the environment (spark-submit), so we only set
    master when none is configured.
    """
    cpus = resolve_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet TIMESTAMP(NANOS) is otherwise an illegal type for the scan;
        # read it as long-nanos and let catalog.load_table rebuild a µs timestamp
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    active = SparkSession.getActiveSession()
    if active is None and "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
