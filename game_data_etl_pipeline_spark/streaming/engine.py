"""Streaming runtime helpers.

The fixture 'stream' is the events parquet replayed through the file
source — the same code path a production deployment points at a
landing bucket (or swaps for Kafka). Helpers here:

- ``events_stream``: readStream over events with the ns-timestamp
  normalization (schema must be explicit for file-source streams);
- ``run_to_memory``: drive a streaming DataFrame to completion with
  trigger(availableNow) into a memory sink and return the result as a
  batch DataFrame, leaving no temp view behind. Memory sinks are test/
  driver plumbing — production sinks are parquet/foreachBatch.

Scale: every streaming query here uses watermarks so state eviction is
bounded; nothing accumulates unbounded per-key state.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MEM_COUNTER = itertools.count()


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """True when events.ts is TIMESTAMP(NANOS) in the parquet footer.

    The fixture generator has shipped both ns- and µs-precision ts
    across rounds, so the stream schema must be sniffed, not assumed:
    ns surfaces as long under nanosAsLong (needs div-1000 rebuild),
    µs reads natively as TimestampType.
    """
    try:
        import pyarrow.parquet as pq

        typ = pq.ParquetFile(os.path.join(sf_dir, "events.parquet")).schema_arrow.field("ts").type
        return getattr(typ, "unit", None) == "ns"
    except Exception:
        return False


def events_schema_ddl(sf_dir: str) -> str:
    ts_type = "long" if _events_ts_is_nanos(sf_dir) else "timestamp"
    return f"event_id long, ts {ts_type}, user_id long, event_type string, value double, props string"


def events_stream(spark: SparkSession, sf_dir: str, *, extra_copies: int = 0) -> DataFrame:
    """events.parquet as a file-source stream with µs TimestampType ts.

    extra_copies > 0 unions the stream with itself — the fixture for
    dedup/upsert operators that need duplicate arrivals.
    """
    nanos = _events_ts_is_nanos(sf_dir)
    if nanos:
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    # the file source wants a directory; select just events.parquet from
    # the fixture dir via glob filter
    def one() -> DataFrame:
        return (
            spark.readStream.schema(events_schema_ddl(sf_dir))
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    stream = one()
    for _ in range(extra_copies):
        stream = stream.unionByName(one())
    if nanos:
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def run_to_memory(result: DataFrame, *, output_mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion; return batch result.

    Stateful streaming creates one state store per shuffle partition,
    and each store has fixed per-micro-batch overhead — so streaming
    partition count should track KEY CARDINALITY, not the batch
    default (measured 2× on the fixture: 32 partitions 1.5 s vs 4
    partitions 0.8 s). It runs on 4; on a real cluster with millions
    of keys, raise it.
    """
    spark = result.sparkSession
    name = f"stream_result_{next(_MEM_COUNTER)}"
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            result.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    out = spark.table(name)
    spark.catalog.dropTempView(name)  # the resolved frame keeps the rows
    return out
