"""Streaming operators over the events stream (SURVEY.md §2.B op_stream_*).

Every query here executes a GENUINE Structured Streaming job (file
source -> watermark -> stateful op -> memory sink, availableNow
trigger) and returns the materialized result, so the driver's oracle
comparison checks real streaming semantics against batch SQL:

- tumbling/sliding windows == batch time-bucket group-bys;
- session windows == batch gap-sessionization (lag + running flag sum);
- append-mode watermark emission == "windows closed at final
  watermark" (window_end <= max(ts) - delay);
- streaming dedup of a duplicated stream == batch DISTINCT;
- foreachBatch upsert across ordered micro-batches == last-write-wins
  per key.

Streamed stores. The foreachBatch ops replay their input through
``replay_microbatches`` (n ordered micro-batches, one per trigger),
and every store they write per epoch (ANN and lexical postings, Bloom
pairs and word deltas, the decontamination ledger, the dedup admit
and seen stores) follows one contract:

- layout: epoch ``e`` writes the Hive partition ``<store>/seg=<e>``
  (``write_epoch``), optionally partitioned below it;
  ``spark.read.parquet(<store>)`` reads all segments with an int
  ``seg`` column, which returned rows and compacted trees drop;
- an epoch overwrites its own segment, so an epoch run again with the
  same id leaves the end state of one run;
- a body that reads its own store reads only segments ``seg <
  epoch_id`` (``earlier_segments``).

Their stage, store and sink trees live under ``catalog.session_dir``
(per session, keyed by op and fixture dir, removed at exit); a rerun
in the same session rebuilds its tree from scratch.

Scale: all state is watermark-bounded (windows evict on close, dedup
state within the watermark); swap the file source for Kafka and the
memory sink for parquet/foreachBatch and the queries run unchanged on
an unbounded stream.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from game_data_etl_pipeline_spark.catalog import load_table, session_dir
from game_data_etl_pipeline_spark.llmdata.artifacts import (
    TOMB_IDS,
    TOMB_IDS_SQL,
    compact_postings,
    publish_compaction,
)
from game_data_etl_pipeline_spark.llmdata.dedup import decontam_ledger_oracle
from game_data_etl_pipeline_spark.llmdata.lex_index import _e2e_survivor_oracle
from game_data_etl_pipeline_spark.llmdata.text import BM25_CTES
from game_data_etl_pipeline_spark.registry import register
from game_data_etl_pipeline_spark.streaming.engine import events_stream, run_to_memory

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"  # == DuckDB strftime '%f' microseconds


def _fmt(col, alias: str):
    return F.date_format(col, _TS_FMT).alias(alias)


def _stage_microbatches(df: DataFrame, work: str, n: int, op: str) -> str:
    """Stage ``df`` (an int ``batch_id`` column in [0, n)) under a
    fresh ``<work>/incoming`` as dirs ``batch0`` .. ``batch<n-1>``, one
    parquet file each, with mtimes in batch order, and return that dir.

    One partitioned write stages every batch: the rows shuffle to their
    batch on a copy of ``batch_id`` (so ``batch_id`` stays in the
    files) and sort within it, so the staged bytes are deterministic.
    An ``observe()`` on the same write counts each batch; a batch with
    no rows raises ``ValueError`` naming ``op``, because the replay and
    the oracles of its ops assume all ``n`` batches."""
    stage = os.path.join(work, "incoming")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(stage)
    tmp = os.path.join(work, "stage_tmp")
    obs = Observation()
    counted = df.observe(
        obs,
        *[
            F.sum(F.when(F.col("batch_id") == b, 1).otherwise(0)).alias(f"b{b}")
            for b in range(n)
        ],
    )
    (
        counted.withColumn("_pb", F.col("batch_id"))
        .repartition(n, "_pb")
        .sortWithinPartitions(*df.columns)
        .write.partitionBy("_pb")
        .parquet(tmp)
    )
    missing = [b for b in range(n) if not obs.get[f"b{b}"]]
    if missing:
        raise ValueError(
            f"{op}: batches {missing} of {n} hold no rows, so the {n}-batch "
            f"replay (and its n_batches={n} oracle) cannot be staged"
        )
    now = 1_700_000_000
    for b in range(n):
        d = os.path.join(stage, f"batch{b}")
        os.rename(os.path.join(tmp, f"_pb={b}"), d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now + b, now + b))
    shutil.rmtree(tmp, ignore_errors=True)
    return stage


def replay_microbatches(
    spark: SparkSession,
    df: DataFrame,
    work: str,
    body: Callable[[DataFrame, int], None],
    *,
    n: int = 3,
    op: str,
) -> None:
    """Stage ``df`` as ``n`` micro-batches (``_stage_microbatches``)
    and replay them through a file-source stream read with ``df``'s
    schema, one batch per trigger in batch order, running
    ``body(batch_df, epoch_id)`` on each until the stream drains."""
    stage = _stage_microbatches(df, work, n, op)
    (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(stage, "*"))
        .writeStream.foreachBatch(body)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def write_epoch(
    frame: DataFrame, store: str, epoch_id: int, part: str | None = None
) -> None:
    """Overwrite epoch ``epoch_id``'s segment ``<store>/seg=<epoch_id>``
    with ``frame``, partitioned by ``part`` (one file per value) when
    given."""
    writer = frame.repartition(part).write.partitionBy(part) if part else frame.write
    writer.mode("overwrite").parquet(os.path.join(store, f"seg={epoch_id}"))


def earlier_segments(spark: SparkSession, store: str, epoch_id: int) -> DataFrame | None:
    """The rows ``store``'s epochs before ``epoch_id`` wrote, or None
    while the store does not exist."""
    if not os.path.isdir(store):
        return None
    return spark.read.parquet(store).filter(F.col("seg") < epoch_id)


@register(
    "op_stream_tumbling",
    tags=("streaming",),
    headline=True,
    oracle="""
        SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS window_start,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
)
def op_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed counts/sums per event type (complete mode)."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(_fmt("window.start", "window_start"), "event_type", "n_events", "total_value")


@register(
    "op_stream_sliding",
    tags=("streaming",),
    oracle="""
        WITH assigned AS (
            SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS window_start, value FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL '30 minutes' AS window_start, value FROM events
        )
        SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S.%f') AS window_start,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM assigned
        GROUP BY 1
    """,
)
def op_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 hour, 30-minute slide): each event lands in two
    overlapping windows; oracle assigns both starts explicitly."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(_fmt("window.start", "window_start"), "n_events", "total_value")


@register(
    "op_stream_session",
    tags=("streaming",),
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL '10 minutes'
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sessions AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id,
               strftime(CAST(MIN(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               strftime(CAST(MAX(ts) AS TIMESTAMP) + INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S.%f') AS session_end,
               COUNT(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_id
    """,
)
def op_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (10-minute inactivity gap). Stateful
    merging-session aggregation in streaming; oracle is the classic
    batch gap-sessionization (lag + running flag sum)."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy("user_id", F.session_window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        "user_id",
        _fmt("session_window.start", "session_start"),
        _fmt("session_window.end", "session_end"),
        "n_events",
    )


@register(
    "op_stream_watermark_late",
    tags=("streaming",),
    oracle="""
        WITH buckets AS (
            SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w, COUNT(*) AS n_events
            FROM events GROUP BY 1
        )
        SELECT strftime(w, '%Y-%m-%d %H:%M:%S.%f') AS window_start, n_events
        FROM buckets
        WHERE w + INTERVAL '1 hour' <= (SELECT CAST(MAX(ts) AS TIMESTAMP) - INTERVAL '10 minutes' FROM events)
    """,
)
def op_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics made observable: append mode emits exactly the
    windows the 10-minute watermark has closed — the still-open tail
    window is withheld. The oracle states that contract in SQL
    (window_end <= max(ts) - delay)."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_memory(agg, output_mode="append")
    return out.select(_fmt("window.start", "window_start"), "n_events")


@register(
    "op_stream_dedup",
    tags=("streaming", "dedup"),
    oracle="""
        SELECT event_id, event_type, ROUND(value, 2) AS value
        FROM events
    """,
)
def op_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: the stream unioned with itself (every
    event arrives twice) deduped on event_id within the watermark —
    output equals the original batch exactly."""
    stream = events_stream(spark, sf_dir, extra_copies=1)
    deduped = (
        stream.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type", F.round("value", 2).alias("value"))
    )
    return run_to_memory(deduped, output_mode="append")


@register(
    "op_stream_foreachbatch_upsert",
    tags=("streaming", "upsert"),
    oracle="""
        SELECT event_id,
               CASE WHEN event_id < 100 THEN ROUND(value + 1000, 2)
                    ELSE ROUND(value, 2) END AS value,
               CASE WHEN event_id < 100 THEN 2 ELSE 1 END AS version
        FROM events
    """,
)
def op_stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental upsert via foreachBatch (the reference's declared
    extension, README.md:151): micro-batch 1 is the full table, batch 2
    a correction file updating keys < 100; merge-by-key keeps the
    latest version per event_id. The merge is anti-join + union —
    MERGE INTO emulated on plain parquet."""
    work = session_dir(spark, "upsert", sf_dir)
    target = os.path.join(work, "target")
    events = load_table(spark, sf_dir, "events").select("event_id", F.round("value", 2).alias("value"))
    base = events.select("*", F.lit(1).alias("version"), F.lit(0).alias("batch_id"))
    update = events.filter(F.col("event_id") < 100).select(
        "event_id",
        F.round(F.col("value") + 1000, 2).alias("value"),
        F.lit(2).alias("version"),
        F.lit(1).alias("batch_id"),
    )

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.drop("batch_id").dropDuplicates(["event_id"])
        if os.path.isdir(target):
            current = spark.read.parquet(target)
            merged = current.join(batch, "event_id", "left_anti").unionByName(batch)
        else:
            merged = batch
        merged.write.mode("overwrite").parquet(target + "_next")
        shutil.rmtree(target, ignore_errors=True)
        os.rename(target + "_next", target)

    replay_microbatches(
        spark, base.unionByName(update), work, upsert, n=2, op="op_stream_foreachbatch_upsert"
    )
    return spark.read.parquet(target)


@register(
    "op_stream_custom_state",
    tags=("streaming", "stateful"),
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value,
               ROUND(MAX(value), 2) AS max_value
        FROM events
        GROUP BY user_id
    """,
)
def op_stream_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, sum, max) kept in explicit GroupState across
    micro-batches — the escape hatch when windows/dropDuplicates can't
    express the state machine (sessionization with custom logic,
    online aggregates, CEP-ish patterns).

    State is three floats per user — fixed-size, keyed, store-backed;
    at 100 TB of traffic the state scales with |users|, not |events|.
    Each batch emits the updated cumulative row per user; with the
    availableNow replay of the fixture the final row per user equals
    the batch aggregate, which is exactly what the oracle checks (the
    max() collapse makes the check batch-count-invariant: the
    cumulative rows are monotone).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = events_stream(spark, sf_dir).select("user_id", "value")

    def update(key, pdfs, state: GroupState):
        n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            mx = max(mx, float(pdf["value"].max()))
        state.update((n, total, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total], "max_value": [mx]}
        )

    updated = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double, max_value double",
        stateStructType="n long, total double, mx double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_to_memory(updated, output_mode="update")
    # cumulative rows are monotone per user: the max IS the final state
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max("total_value"), 2).alias("total_value"),
        F.round(F.max("max_value"), 2).alias("max_value"),
    )


@register(
    "op_stream_static_join",
    tags=("streaming", "join"),
    oracle="""
        SELECT user_id % 5 AS cohort, event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
)
def op_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a STATIC
    dimension (user -> cohort), then aggregated per cohort.

    The static side is re-read per micro-batch and broadcast — no
    stream-side state for the join itself, which is why stream-static
    is the scale-preferred enrichment (dimension updates are picked up
    at the next micro-batch; no watermark needed on the dim). State
    exists only for the downstream aggregate."""
    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("cohort", F.col("user_id") % 5)
    )
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.join(F.broadcast(users), "user_id")
        .groupBy("cohort", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    return run_to_memory(agg, output_mode="complete").select(
        "cohort", "event_type", "n_events", "total_value"
    )


@register(
    "op_stream_stream_join",
    tags=("streaming", "join"),
    oracle="""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
               strftime(CAST(c.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
               strftime(CAST(p.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 10 MINUTE
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def op_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL join: clicks joined to the same user's
    purchases within the following 10 minutes — the attribution query.

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions, so each side's buffered state is evicted
    once the other stream's watermark passes the interval — bounded
    state on an unbounded stream. Equality on user_id keys the state
    store; the range predicate filters within the key's buffer."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    return run_to_memory(joined, output_mode="append").select(
        "click_id",
        "purchase_id",
        "user_id",
        _fmt(F.col("click_ts"), "click_ts"),
        _fmt(F.col("purchase_ts"), "purchase_ts"),
    )


@register(
    "op_stream_transform_with_state",
    tags=("streaming", "stateful"),
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY user_id
    """,
)
def op_stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing via transformWithStateInPandas —
    Spark 4's successor to applyInPandasWithState: typed state
    handles (ValueState/ListState/MapState), timers, and a processor
    lifecycle instead of one opaque tuple.

    Per-user running (count, sum) kept in a ValueState; the fixture
    replay's final row per user equals the batch aggregate, which the
    oracle pins. Requires the RocksDB state store provider (set
    per-session below) — which is also the 100 TB answer: state
    spills to disk per partition instead of living on the JVM heap,
    and changelog checkpointing keeps commits incremental.

    GATED: the transformWithState protocol needs google.protobuf,
    which this container lacks — in that case the same keyed-state
    semantics run through applyInPandasWithState (the pre-4.x API),
    so the operator's contract holds everywhere and the new API
    engages wherever protobuf exists.
    """
    import pandas as pd

    try:
        from google.protobuf import descriptor  # noqa: F401 — twS state protocol dependency
        _HAS_TWS = True
    except ImportError:
        _HAS_TWS = False

    if not _HAS_TWS:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        stream = events_stream(spark, sf_dir).select("user_id", "value")

        def update(key, pdfs, state: GroupState):
            n, total = state.get if state.exists else (0, 0.0)
            for pdf in pdfs:
                n += len(pdf)
                total += float(pdf["value"].sum())
            state.update((n, total))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

        result = stream.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n_events bigint, total_value double",
            stateStructType="n bigint, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        final = run_to_memory(result, output_mode="update")
        return final.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max("total_value"), 2).alias("total_value"),
        )

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n bigint, total double")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

        def close(self) -> None:
            pass

    stream = events_stream(spark, sf_dir).select("user_id", "value")
    result = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id bigint, n_events bigint, total_value double",
        outputMode="Update",
        timeMode="None",
    )
    final = run_to_memory(result, output_mode="update")
    # availableNow may split the fixture into several micro-batches;
    # cumulative rows are monotone, so max() recovers the final state
    return final.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max("total_value"), 2).alias("total_value"),
    )


@register(
    "op_stream_checkpoint_restart",
    tags=("streaming",),
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        WHERE event_id < 6000
    GROUP BY event_type
    """,
)
def op_stream_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a restart: run a file-source stream to a
    parquet sink with a checkpoint, land MORE data, then restart the
    SAME query on the SAME checkpoint. The committed offsets make the
    second run process only the new file; the oracle equality
    (count == distinct count over the union of both landings) proves
    zero duplication and zero loss across the restart.

    This is the operational property that makes streaming deployable:
    a crashed/redeployed job resumes from the WAL instead of
    reprocessing or skipping. The parquet sink commits atomically via
    the checkpoint's file-sink log, so the guarantee holds end to end
    (source offsets AND sink manifest), not just in the engine.
    """
    work = session_dir(spark, "ckpt", sf_dir)
    shutil.rmtree(work, ignore_errors=True)
    stage = os.path.join(work, "incoming")
    ckpt = os.path.join(work, "checkpoint")
    out = os.path.join(work, "out")
    os.makedirs(stage)

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    )
    half = events.filter(F.col("event_id") < 3000)
    rest = events.filter((F.col("event_id") >= 3000) & (F.col("event_id") < 6000))

    def run_once() -> None:
        stream = spark.readStream.schema("event_id long, event_type string, value double").parquet(stage)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    half.coalesce(1).write.mode("append").parquet(stage)
    run_once()
    rest.coalesce(1).write.mode("append").parquet(stage)
    run_once()  # restart from the same checkpoint: only the new file runs

    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "op_stream_sliding_topk",
    tags=("streaming",),
    oracle="""
        WITH counts AS (
            SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w,
                   event_type, COUNT(*) AS n_events
            FROM events GROUP BY 1, 2
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY w ORDER BY n_events DESC, event_type
            ) AS rank FROM counts
        )
        SELECT strftime(w, '%Y-%m-%d %H:%M:%S.%f') AS window_start,
               event_type, n_events, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3
    """,
)
def op_stream_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items: streaming windowed counts (genuine stateful
    aggregation, complete mode) then top-3 event types per window —
    the trending-hashtags shape. The per-window rank runs over the
    emitted window counts, NOT the raw stream: state stays
    O(windows x types), and the rank input is already
    aggregate-sized.

    At 100 TB-rate streams the windowed count is the only stateful
    stage; ranking its output is a trivially small batch per trigger
    (foreachBatch in production, the memory-sink table here)."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_memory(agg, output_mode="complete")
    from pyspark.sql import Window as W

    w = W.partitionBy("window").orderBy(F.col("n_events").desc(), "event_type")
    return (
        out.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select(_fmt("window.start", "window_start"), "event_type", "n_events", "rank")
    )


@register(
    "op_stream_global_agg",
    tags=("streaming",),
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS total_value,
               ROUND(MAX(value), 4) AS max_value,
               ROUND(AVG(value), 4) AS avg_value
        FROM events
    """,
)
def op_stream_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unwindowed GLOBAL streaming aggregate (complete mode): running
    totals over the whole stream — the live-counter/dashboard shape,
    distinct from every windowed op because state is ONE row that
    never evicts (no watermark needed; nothing is ever late for an
    all-time total).

    Count/sum/max/avg are the mergeable aggregates streaming allows;
    EXACT distinct is rejected by Spark on streams (unbounded per-key
    state) — the engine itself enforces the 100 TB rule, and
    approx_count_distinct (HLL, O(1) state) is the sanctioned
    substitute when a distinct term is needed."""
    stream = events_stream(spark, sf_dir)
    agg = stream.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )
    return run_to_memory(agg, output_mode="complete")


@register(
    "op_stream_stream_left_join",
    tags=("streaming", "join"),
    oracle="""
        WITH bounds AS (
            SELECT LEAST(
                MAX(CAST(ts AS TIMESTAMP)) FILTER (WHERE event_type = 'click'),
                MAX(CAST(ts AS TIMESTAMP)) FILTER (WHERE event_type = 'purchase')
            ) AS mt FROM events
        ),
        clicks AS (
            SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts
            FROM events WHERE event_type = 'click'
        ),
        purchases AS (
            SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts
            FROM events WHERE event_type = 'purchase'
        )
        SELECT c.click_id, p.purchase_id, c.user_id,
               strftime(c.click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
               strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
        FROM clicks c
        LEFT JOIN purchases p
          ON c.user_id = p.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 10 MINUTE
        CROSS JOIN bounds
        WHERE c.click_ts < mt - INTERVAL 45 MINUTE
    """,
)
def op_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, attributed
    to a following-10-minute purchase OR emitted with nulls once no
    purchase can still arrive — the 'abandoned click' query, and the
    semantics that separates outer streaming joins from inner ones:
    the null-extended row is produced by STATE EVICTION (the join
    watermark passing click_ts + 10 min), not by a scan reaching the
    end of a table.

    Both engines are clipped to clicks whose outcome is final:
    eviction needs the GLOBAL join watermark (the MIN of both sides'
    watermarks under the default multipleWatermarkPolicy) past
    click_ts + 10 min, so the clip anchor is least(max click ts, max
    purchase ts) − 45 min (interval + delay + margin). Younger clicks'
    state outlives the bounded input, and that bound is exactly the
    watermark contract at 100 TB: per-key buffered state is capped by
    interval + delay, regardless of stream length."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    )
    out = run_to_memory(joined, output_mode="append")
    ev = load_table(spark, sf_dir, "events")
    mt = ev.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
        ).alias("mt")
    )
    return (
        out.join(F.broadcast(mt))
        .filter(F.col("click_ts") < F.col("mt") - F.expr("INTERVAL 45 MINUTES"))
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            _fmt(F.col("click_ts"), "click_ts"),
            _fmt(F.col("purchase_ts"), "purchase_ts"),
        )
    )


@register(
    "op_stream_incremental_dedup",
    tags=("streaming", "dedup", "upsert"),
    oracle="""
        WITH arrivals AS (
            SELECT doc_id, doc_id % 3 AS batch_id, md5(text) AS fingerprint
            FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id,
                   (doc_id + 1000000) % 3 AS batch_id,
                   md5(text) AS fingerprint
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, batch_id, fingerprint,
                   ROW_NUMBER() OVER (PARTITION BY fingerprint
                                      ORDER BY batch_id, doc_id) AS rn
            FROM arrivals
        )
        SELECT doc_id, fingerprint, CAST(batch_id AS INT) AS admitted_in_batch
        FROM ranked WHERE rn = 1
    """,
)
def op_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGESTION-SIDE incremental dedup: documents arrive in ordered
    micro-batches and each batch is admitted only if its content
    fingerprint has never been seen — the composition of
    op_stream_foreachbatch_upsert's persistent-sink pattern with
    op_dedup_cross_snapshot's digest semantics, and the shape a 100 TB
    corpus actually deduplicates at (you dedup the daily crawl delta
    against the accumulated store, never the whole corpus again).

    The stream is the corpus PLUS a shifted re-crawl copy of itself
    (doc_id + 1e6, same text — the op_stream_dedup duplication device,
    since the fixture has no natural exact dups), split into 3
    micro-batches by doc_id % 3 and replayed in batch order through a
    file source (maxFilesPerTrigger=1, mtime-ordered like
    op_stream_foreachbatch_upsert). Each foreachBatch transaction:

    1. within-batch dedup: groupBy(fingerprint).min(doc_id) — first
       writer wins inside a batch;
    2. anti-join the survivors against the persistent fingerprint
       STORE's earlier segments (parquet; only 32-hex digests + the
       admitting doc_id, never document bodies);
    3. write survivors to the epoch's segment of the admitted sink and
       their fingerprints to the epoch's segment of the store — the
       store grows monotonically across batches.

    Batch-equivalent contract (the DuckDB oracle): the admitted set
    equals keep-first over arrival order, i.e. per fingerprint the
    min (batch_id, doc_id) wins. That equivalence is what makes
    incremental dedup trustworthy: replaying the same corpus through
    any batch split admits the same documents.

    At 100 TB: the anti-join shuffles 16-byte digests, not text; the
    store is bucketed/compacted by fingerprint so the per-delta
    anti-join co-locates (here: plain parquet, the Delta/Iceberg
    MERGE INTO equivalent); per-batch work is O(delta + matching
    store partitions), never O(corpus). State lives in the STORE, not
    in streaming memory — unlike dropDuplicatesWithinWatermark this
    dedups against ALL history with zero executor state.
    tests/test_streaming.py::test_incremental_dedup_store_grows pins
    the micro-batch mechanics (store growth, cross-batch drop)."""
    work = session_dir(spark, "incdedup", sf_dir)
    store = os.path.join(work, "store")
    admitted = os.path.join(work, "admitted")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    arrivals = (
        docs.unionByName(recrawl)
        .withColumn("batch_id", (F.col("doc_id") % 3).cast("int"))
        .withColumn("fingerprint", F.md5("text"))
        .select("doc_id", "batch_id", "fingerprint")
    )

    def admit(batch_df: DataFrame, epoch_id: int) -> None:
        fresh = batch_df.groupBy("fingerprint").agg(
            F.min("doc_id").alias("doc_id"),
            F.min("batch_id").alias("admitted_in_batch"),
        )
        seen = earlier_segments(spark, store, epoch_id)
        if seen is not None:
            fresh = fresh.join(seen.select("fingerprint"), "fingerprint", "left_anti")
        write_epoch(fresh.select("doc_id", "fingerprint", "admitted_in_batch"), admitted, epoch_id)
        write_epoch(fresh.select("fingerprint", "doc_id"), store, epoch_id)

    replay_microbatches(spark, arrivals, work, admit, op="op_stream_incremental_dedup")
    return spark.read.parquet(admitted).drop("seg")


@register(
    "op_stream_incremental_fuzzy_dedup",
    tags=("streaming", "dedup"),
    oracle="""
        WITH arrivals AS (
            SELECT doc_id, CAST(doc_id % 3 AS INT) AS batch_id, text
            FROM documents WHERE doc_id < 200
        ),
        toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM arrivals
        ),
        shingled AS (
            SELECT DISTINCT doc_id, UNNEST(
                list_transform(range(len(t) - 2),
                               i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
            ) AS term
            FROM toks
        ),
        sigs AS (
            SELECT doc_id,
                   MIN(CAST(('0x' || substring(md5(term || '#0'), 1, 8)) AS BIGINT)) AS s0,
                   MIN(CAST(('0x' || substring(md5(term || '#1'), 1, 8)) AS BIGINT)) AS s1,
                   MIN(CAST(('0x' || substring(md5(term || '#2'), 1, 8)) AS BIGINT)) AS s2,
                   MIN(CAST(('0x' || substring(md5(term || '#3'), 1, 8)) AS BIGINT)) AS s3,
                   MIN(CAST(('0x' || substring(md5(term || '#4'), 1, 8)) AS BIGINT)) AS s4,
                   MIN(CAST(('0x' || substring(md5(term || '#5'), 1, 8)) AS BIGINT)) AS s5,
                   MIN(CAST(('0x' || substring(md5(term || '#6'), 1, 8)) AS BIGINT)) AS s6,
                   MIN(CAST(('0x' || substring(md5(term || '#7'), 1, 8)) AS BIGINT)) AS s7
            FROM shingled GROUP BY doc_id
        ),
        sb AS (
            SELECT a.doc_id, a.batch_id, s.s0, s.s1, s.s2, s.s3, s.s4, s.s5, s.s6, s.s7
            FROM arrivals a JOIN sigs s ON a.doc_id = s.doc_id
        ),
        blocked AS (
            SELECT DISTINCT d.doc_id
            FROM sb d JOIN sb o
              ON (o.batch_id < d.batch_id
                  OR (o.batch_id = d.batch_id AND o.doc_id < d.doc_id))
             AND ((d.s0 = o.s0 AND d.s1 = o.s1) OR (d.s2 = o.s2 AND d.s3 = o.s3)
                  OR (d.s4 = o.s4 AND d.s5 = o.s5) OR (d.s6 = o.s6 AND d.s7 = o.s7))
             AND ((CASE WHEN d.s0 = o.s0 THEN 1 ELSE 0 END)
                + (CASE WHEN d.s1 = o.s1 THEN 1 ELSE 0 END)
                + (CASE WHEN d.s2 = o.s2 THEN 1 ELSE 0 END)
                + (CASE WHEN d.s3 = o.s3 THEN 1 ELSE 0 END)
                + (CASE WHEN d.s4 = o.s4 THEN 1 ELSE 0 END)
                + (CASE WHEN d.s5 = o.s5 THEN 1 ELSE 0 END)
                + (CASE WHEN d.s6 = o.s6 THEN 1 ELSE 0 END)
                + (CASE WHEN d.s7 = o.s7 THEN 1 ELSE 0 END)) >= 4
        )
        SELECT a.doc_id, a.batch_id AS admitted_in_batch
        FROM arrivals a
        WHERE a.doc_id NOT IN (SELECT doc_id FROM blocked)
    """,
)
def op_stream_incremental_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-side NEAR-duplicate dedup: the fuzzy sibling of
    op_stream_incremental_dedup, two-stage like op_dedup_fuzzy_pipeline.
    Each arriving document carries its 8-component MinHash signature
    over DISTINCT 3-GRAM SHINGLES (the md5 hash family of
    op_dedup_minhash_banded, but on the shingle basis the corpus'
    ground-truth near-dup pairs are defined by — unigram MinHash is
    useless on this fixture's ~31-word vocabulary, where ANY two
    documents have unigram Jaccard ~0.65: measured, a unigram
    signature blocked 196 of 200 documents). An arrival is dropped
    when some EARLIER arrival (any earlier micro-batch via the
    persistent signature store, or a smaller doc_id within its own
    batch) both (a) collides on >= 1 of the 4 signature bands — the
    LSH candidate gate — and (b) matches >= 4 of the 8 components,
    the MinHash estimate of shingle-Jaccard >= 0.5 — the verify
    stage banded pipelines always run on their candidates.

    The store accumulates every SEEN arrival's signature, admitted or
    not (streaming-filter semantics: once a signature is on record,
    later lookalikes are re-crawl noise). Seen-store means admission
    never feeds back into the predicate, so batch-equivalence is a
    pure self-join over arrival order — no recursion — and the DuckDB
    oracle replays it bit-exactly (the md5 family is engine-identical).

    At 100 TB: signatures are computed once per document map-side; the
    store holds 8 bigints + 4 band keys per document ever seen (never
    text or shingles); candidate generation is an EQUI-join on the
    (band, value) LSH key against the store's band table — exactly
    op_dedup_minhash_banded's bucketed shape, so only bucket
    collisions ever materialize as pairs — and verification joins
    only those candidate pairs back to their signatures. The known fixture near-dup
    pairs (8,12) and (0,50) straddle batches: the later member of each
    must be dropped, pinned in tests/test_streaming.py."""
    work = session_dir(spark, "incfuzzy", sf_dir)
    store = os.path.join(work, "store")
    bands = os.path.join(work, "store_bands")
    admitted = os.path.join(work, "admitted")
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = F.split(F.col("text"), " ")
    shingles = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )
    terms = docs.select(
        "doc_id", F.explode(shingles).alias("term")
    ).dropDuplicates(["doc_id", "term"])
    h = lambda j: F.min(  # noqa: E731
        F.conv(
            F.substring(F.md5(F.concat(F.col("term"), F.lit(f"#{j}"))), 1, 8), 16, 10
        ).cast("bigint")
    ).alias(f"s{j}")
    sigs = terms.groupBy("doc_id").agg(*[h(j) for j in range(8)]).withColumn(
        "batch_id", (F.col("doc_id") % 3).cast("int")
    )

    scols = [f"s{j}" for j in range(8)]

    def _band_rows(df: DataFrame, id_col: str) -> DataFrame:
        """Explode a signature frame to LSH key rows (id, band, bv) —
        the bucketed form both the candidate join and the store use."""
        parts = None
        for b in range(4):
            part = df.select(
                F.col(id_col),
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_", F.col(f"s{2 * b}"), F.col(f"s{2 * b + 1}")
                ).alias("bv"),
            )
            parts = part if parts is None else parts.unionByName(part)
        return parts

    n_matches = sum(
        F.when(F.col(f"s{j}") == F.col(f"o_s{j}"), 1).otherwise(0) for j in range(8)
    )

    def _verify(cands: DataFrame, rows: DataFrame, others: DataFrame) -> DataFrame:
        """Exact-ish verify stage: join the candidate (doc_id, o_id)
        pairs back to both signatures, keep those matching >= 4 of 8
        components (estimated shingle-Jaccard >= 0.5)."""
        peer = others.select(
            F.col("o_id"), *[F.col(s).alias(f"o_{s}") for s in scols]
        )
        return (
            cands.join(rows.select("doc_id", *scols), "doc_id")
            .join(peer, "o_id")
            .filter(n_matches >= 4)
            .select("doc_id")
            .distinct()
        )

    def admit(batch_df: DataFrame, epoch_id: int) -> None:
        rows = batch_df
        batch_bands = _band_rows(rows, "doc_id")
        # candidate generation is an EQUI-join on the (band, value) LSH
        # key — within the batch and against the store's band table —
        # never an all-pairs or theta join; only bucket collisions
        # materialize as pairs, exactly like op_dedup_minhash_banded
        peer_bands = batch_bands.select(
            F.col("doc_id").alias("o_id"), "band", "bv"
        )
        cands = (
            batch_bands.join(peer_bands, ["band", "bv"])
            .filter(F.col("o_id") < F.col("doc_id"))
            .select("doc_id", "o_id")
            .distinct()
        )
        blocked = _verify(
            cands, rows, rows.select(F.col("doc_id").alias("o_id"), *scols)
        )
        store_sigs = earlier_segments(spark, store, epoch_id)
        if store_sigs is not None:
            store_cands = (
                batch_bands.join(
                    earlier_segments(spark, bands, epoch_id), ["band", "bv"]
                )
                .select("doc_id", "o_id")
                .distinct()
            )
            blocked = blocked.unionByName(
                _verify(store_cands, rows, store_sigs)
            ).distinct()
        ok = (
            rows.select("doc_id", F.col("batch_id").alias("admitted_in_batch"))
            .join(blocked, "doc_id", "left_anti")
        )
        write_epoch(ok, admitted, epoch_id)
        # seen-store: EVERY arrival goes on record — signatures (for
        # the verify join) and band keys (for the candidate equi-join)
        write_epoch(rows.select(F.col("doc_id").alias("o_id"), *scols), store, epoch_id)
        write_epoch(peer_bands, bands, epoch_id)

    replay_microbatches(spark, sigs, work, admit, op="op_stream_incremental_fuzzy_dedup")
    return spark.read.parquet(admitted).drop("seg")


def stream_ann_store(
    spark: SparkSession, sf_dir: str, tag: str, op: str
) -> str:
    """The streamed ANN store shared by op_stream_index_ingest (which
    audits it) and op_stream_ann_serve / _compacted (which serve it):
    the embeddings replay as 3 micro-batches split by vec_id % 3, and
    each epoch encodes only its batch (``ann_postings``) against the
    persisted coarse centroids and codebooks, which are never
    retrained. Rows keep their ``batch_id`` and land in
    ``<work>/postings/seg=<epoch>/cent_id=<cell>``. Returns the
    postings path."""
    from game_data_etl_pipeline_spark.llmdata.ann_index import ann_postings, read_ann_index

    coarse, books, _ = read_ann_index(spark, sf_dir)
    # checkpointed, so each epoch ships bounded frames
    coarse, books = coarse.localCheckpoint(eager=True), books.localCheckpoint(eager=True)

    work = session_dir(spark, tag, sf_dir)
    store = os.path.join(work, "postings")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", (F.col("vec_id") % 3).cast("int").alias("batch_id")
    )

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(ann_postings(batch_df, coarse, books, "batch_id"), store, epoch_id, "cent_id")

    replay_microbatches(spark, emb, work, ingest, op=op)
    return store


@register(
    "op_stream_index_ingest",
    tags=("streaming", "similarity", "index"),
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_indexed,
               CAST(3 AS BIGINT) AS n_batches,
               TRUE AS full_coverage,
               TRUE AS encode_consistent,
               TRUE AS cells_bounded
        FROM embeddings
    """,
)
def op_stream_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed ingestion into the persisted ANN index: the embeddings
    arrive as 3 micro-batches (vec_id % 3) through ``stream_ann_store``,
    each epoch encoding only its batch against the frozen coarse
    centroids and codebooks into its own cent_id-partitioned segment.
    Per-batch work is O(batch) and the trained structure never changes
    (the FAISS/Milvus growing-segment design).

    Audited on the persisted store: ``full_coverage`` (every corpus
    vector indexed exactly once, all 3 batches present),
    ``encode_consistent`` (every streamed (cent_id, codes) equals the
    offline build's for the same vector) and ``cells_bounded``
    (0 < cells <= k)."""
    from game_data_etl_pipeline_spark.llmdata.ann_index import read_ann_index
    from game_data_etl_pipeline_spark.llmdata.cluster import K

    store = stream_ann_store(spark, sf_dir, "idxingest", "op_stream_index_ingest")

    after = spark.read.parquet(store).select(
        "vec_id", "codes", F.col("cent_id").cast("long").alias("cent_id"), "batch_id"
    )
    main_postings = read_ann_index(spark, sf_dir)[2].select(
        "vec_id", F.col("codes").alias("m_codes"), F.col("cent_id").alias("m_cent_id")
    )
    n_emb = load_table(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).alias("n_emb")
    )
    cov = after.agg(
        F.count(F.lit(1)).alias("n_indexed"),
        F.countDistinct("vec_id").alias("n_distinct"),
        F.countDistinct("batch_id").alias("n_batches"),
        F.countDistinct("cent_id").alias("n_cells"),
    )
    consistent = after.join(main_postings, "vec_id").agg(
        F.count(F.lit(1)).alias("n_joined"),
        F.sum(
            F.when(
                (F.col("cent_id") == F.col("m_cent_id"))
                & (F.col("codes") == F.col("m_codes")),
                1,
            ).otherwise(0)
        ).alias("n_identical"),
    )
    return (
        cov.join(F.broadcast(n_emb))
        .join(F.broadcast(consistent))
        .select(
            "n_indexed",
            "n_batches",
            (
                (F.col("n_indexed") == F.col("n_emb"))
                & (F.col("n_distinct") == F.col("n_emb"))
                & (F.col("n_batches") == 3)
            ).alias("full_coverage"),
            (
                (F.col("n_joined") == F.col("n_indexed"))
                & (F.col("n_identical") == F.col("n_indexed"))
            ).alias("encode_consistent"),
            ((F.col("n_cells") > 0) & (F.col("n_cells") <= F.lit(K))).alias(
                "cells_bounded"
            ),
        )
    )


@register(
    "op_stream_lex_ingest",
    tags=("streaming", "llm", "text", "index"),
    oracle="""
        WITH t AS (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_postings,
               CAST(3 AS BIGINT) AS n_batches,
               TRUE AS full_coverage,
               TRUE AS postings_consistent,
               TRUE AS buckets_bounded
        FROM (SELECT DISTINCT doc_id, term FROM t)
    """,
)
def op_stream_lex_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed ingestion into the lexical index, op_stream_index_ingest's
    twin: the documents arrive as 3 micro-batches (doc_id % 3) through
    ``stream_lex_postings``, each epoch tokenizing only its batch into
    its own term_bucket-partitioned segment of (term, doc_id, dl, tf)
    postings (the Lucene per-commit segment). Per-batch work is
    O(batch); df/stats are not derived here.

    Audited on the persisted store: ``n_postings`` (hash-compared
    against DuckDB's distinct (doc_id, term) count), ``full_coverage``
    (every doc represented, all 3 batches present),
    ``postings_consistent`` (every streamed (term, doc_id) row's
    (tf, dl) equals the offline build's) and ``buckets_bounded``
    (every term_bucket in [0, LEX_BUCKETS))."""
    from game_data_etl_pipeline_spark.llmdata.lex_index import LEX_BUCKETS, build_lex_index

    main_path = build_lex_index(spark, sf_dir)
    work = stream_lex_postings(spark, sf_dir, "lexingest", "op_stream_lex_ingest")

    after = spark.read.parquet(os.path.join(work, "postings")).select(
        "term",
        "doc_id",
        "dl",
        "tf",
        "batch_id",
        F.col("term_bucket").cast("int").alias("term_bucket"),
    )
    main_postings = spark.read.parquet(os.path.join(main_path, "postings")).select(
        "term",
        "doc_id",
        F.col("dl").alias("m_dl"),
        F.col("tf").alias("m_tf"),
    )
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    cov = after.agg(
        F.count(F.lit(1)).alias("n_postings"),
        F.countDistinct("doc_id").alias("n_distinct_docs"),
        F.countDistinct("batch_id").alias("n_batches"),
        F.min("term_bucket").alias("min_b"),
        F.max("term_bucket").alias("max_b"),
    )
    consistent = after.join(main_postings, ["term", "doc_id"]).agg(
        F.count(F.lit(1)).alias("n_joined"),
        F.sum(
            F.when(
                (F.col("dl") == F.col("m_dl")) & (F.col("tf") == F.col("m_tf")), 1
            ).otherwise(0)
        ).alias("n_identical"),
    )
    return (
        cov.join(F.broadcast(n_docs))
        .join(F.broadcast(consistent))
        .select(
            "n_postings",
            "n_batches",
            (
                (F.col("n_distinct_docs") == F.col("n_docs"))
                & (F.col("n_batches") == 3)
            ).alias("full_coverage"),
            (
                (F.col("n_joined") == F.col("n_postings"))
                & (F.col("n_identical") == F.col("n_postings"))
            ).alias("postings_consistent"),
            (
                (F.col("min_b") >= 0) & (F.col("max_b") < F.lit(LEX_BUCKETS))
            ).alias("buckets_bounded"),
        )
    )


def stream_lex_postings(spark: SparkSession, sf_dir: str, tag: str, op: str) -> str:
    """The streamed lexical store's ingest half, op_stream_lex_ingest's
    whole store: the documents replay as 3 micro-batches split by
    doc_id % 3, and each epoch tokenizes only its batch
    (``lex_postings``, batch_id kept) into
    ``<work>/postings/seg=<epoch>/term_bucket=<b>``. Returns ``work``."""
    from game_data_etl_pipeline_spark.llmdata.lex_index import lex_postings

    work = session_dir(spark, tag, sf_dir)
    store = os.path.join(work, "postings")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 3).cast("int").alias("batch_id")
    )

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(lex_postings(batch_df, "batch_id"), store, epoch_id, "term_bucket")

    replay_microbatches(spark, docs, work, ingest, op=op)
    return work


def stream_lex_store(spark: SparkSession, sf_dir: str, tag: str, op: str) -> str:
    """A serveable streamed lexical store, shared by op_stream_lex_serve
    and op_stream_lex_compact_serve: ``stream_lex_postings``, then df/
    and stats/ derived once from the persisted postings after the
    stream drains (``write_df_stats``; the text is never re-read).
    Returns ``work``."""
    from game_data_etl_pipeline_spark.llmdata.lex_index import write_df_stats

    work = stream_lex_postings(spark, sf_dir, tag, op)
    write_df_stats(spark.read.parquet(os.path.join(work, "postings")), work)
    return work


@register(
    "op_stream_lex_serve",
    tags=("streaming", "llm", "text", "index"),
    # op_text_bm25's oracle VERBATIM (the op_text_bm25_serve /
    # op_lex_index_upsert discipline): BM25 served from the STREAMED
    # store must reproduce the corpus-scan scorer bit-for-bit
    oracle=BM25_CTES
    + """
        SELECT doc_id, bm25, n_terms_hit FROM bm
    """,
)
def op_stream_lex_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the streamed lexical store: the documents arrive
    as 3 micro-batches through ``stream_lex_store`` (one postings
    segment per epoch, then one df/stats fold over the persisted
    postings), and the query path is the ``bm25_from_index``
    bucket-pruned lookup.

    Gate: op_text_bm25's DuckDB oracle verbatim, so the oracle's value
    hash holds stream-ingest -> fold -> serve to bit-equality with the
    corpus-scan scorer: a document ingested in micro-batch N is served
    with the scores a full offline rebuild gives (the Lucene NRT
    pipeline as Structured Streaming; the fold is vocabulary-bounded
    and bucket pruning is unchanged by any number of commits)."""
    from game_data_etl_pipeline_spark.llmdata.lex_index import bm25_from_index

    work = stream_lex_store(spark, sf_dir, "lexserve", "op_stream_lex_serve")
    return bm25_from_index(spark, work)


@register(
    "op_stream_lex_compact_serve",
    tags=("streaming", "llm", "text", "index"),
    # op_lex_lifecycle_e2e's oracle: op_text_bm25 recomputed over the
    # surviving corpus (doc_id NOT IN TOMB_IDS — the id-list
    # purge-request shape, interpolated from the same constant the
    # Spark side broadcasts, so the two sides cannot drift): after
    # deletes, df / n_docs / tot_dl all shift, so every surviving score
    # changes, and the compacted STREAMED store must reproduce the
    # re-derived scorer bit-for-bit
    oracle=_e2e_survivor_oracle(),
)
def op_stream_lex_compact_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed lexical store's full lifecycle, stream-ingest ->
    delete -> compact -> serve, op_stream_ann_serve_compacted's twin:
    the documents arrive as 3 micro-batches through
    ``stream_lex_store``; ``compact_postings`` drops the id-list purge
    request TOMB_IDS, rewrites ONE segment per term bucket and
    re-derives df and the corpus stats from the surviving postings
    (``LEX_POSTINGS``' fold), in a sibling tree published with its
    purge ledger (``publish_compaction``). The lexical family's one
    compact-and-serve gate, ``lex_compact_serve`` (shared with
    op_lex_lifecycle_e2e), serves BM25 from it under op_text_bm25's
    oracle recomputed over ``doc_id NOT IN TOMB_IDS``: the
    full-rebuild scorer of the surviving corpus, IDF shifts and all
    (Lucene NRT plus forceMerge as one pipeline)."""
    from game_data_etl_pipeline_spark.llmdata.lex_index import LEX_POSTINGS, lex_compact_serve

    work = stream_lex_store(
        spark, sf_dir, "lexcompact", "op_stream_lex_compact_serve"
    )
    postings, comp = os.path.join(work, "postings"), os.path.join(work, "compacted")
    publish_compaction(
        comp,
        lambda staging: compact_postings(spark, LEX_POSTINGS, postings, staging, purge_ids=TOMB_IDS),
    )
    return lex_compact_serve(spark, work, comp)


@register(
    "op_stream_ann_serve",
    tags=("streaming", "similarity", "index"),
    # op_sim_ivfpq_serve's oracle with the streamed-vs-main referee
    # literal: serving from the stream-ingested segments must produce
    # the same per-query survivor neighborhoods as serving the offline
    # build — and the in-query referee holds the ADC scores themselves
    # to bit-equality between the two stores
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id < 4
        ),
        c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
            FROM embeddings WHERE vec_id >= 4
        )
        SELECT query_id,
               CAST(COUNT(*) FILTER (WHERE list_distance(ce, qe) <= 25.0) AS BIGINT)
                   AS n_exact_within_bound,
               TRUE AS pruned_scan,
               TRUE AS recall_floor_met,
               TRUE AS adc_bitmatch_vs_main
        FROM q, c
        GROUP BY query_id
    """,
)
def op_stream_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN served from the streamed segments, op_stream_lex_serve's twin
    on the vector side: the embeddings arrive as 3 micro-batches
    through ``stream_ann_store`` (each epoch encodes only its batch
    against the frozen trained structure into its own cent_id-
    partitioned segment), then the probe -> ADC -> shortlist ->
    exact-rerank chain (``ivfpq_serve_stages``) runs against them under
    op_sim_ivfpq_serve's oracle.

    Router and codebooks are frozen and the encode is deterministic, so
    a vector ingested in micro-batch N serves with the ADC score a full
    offline rebuild gives. ``adc_bitmatch_vs_main`` proves it in-query:
    every probed-cell ADC score is computed from the streamed segments
    and from the offline build, joined pair-for-pair and held
    IEEE-bit-equal with count equality both ways (the Milvus/FAISS
    growing-segment design: freshness costs no accuracy)."""
    from game_data_etl_pipeline_spark.llmdata.ann_index import (
        read_ann_index,
        serve_with_adc_referee,
    )

    store = stream_ann_store(spark, sf_dir, "annserve", "op_stream_ann_serve")
    coarse, books, main_postings = read_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    streamed = spark.read.parquet(store).select(
        "vec_id", "codes", F.col("cent_id").cast("long").alias("cent_id")
    )
    # no deletes on the freshness path: the survivor world is the whole
    # corpus; referee yardstick = the offline build artifact — the
    # shared serve_with_adc_referee body
    served, audit = serve_with_adc_referee(
        emb,
        emb,
        streamed,
        main_postings,
        coarse,
        books,
    )
    return served.crossJoin(F.broadcast(audit))


@register(
    "op_stream_ann_serve_compacted",
    tags=("streaming", "similarity", "index"),
    # op_sim_ivfpq_serve's oracle re-derived over the id-LIST survivor
    # world (embeddings WHERE vec_id NOT IN TOMB_IDS — interpolated
    # from the same constant the Spark side broadcasts) plus the
    # segments-merged audit literal — the streamed store, purged and
    # compacted, must serve the same per-query survivor neighborhoods
    # as a full rebuild over the survivors
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id < 4
        ),
        c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
            FROM embeddings
            WHERE vec_id >= 4 AND vec_id NOT IN {TOMB_IDS_SQL}
        )
        SELECT query_id,
               CAST(COUNT(*) FILTER (WHERE list_distance(ce, qe) <= 25.0) AS BIGINT)
                   AS n_exact_within_bound,
               TRUE AS pruned_scan,
               TRUE AS recall_floor_met,
               TRUE AS adc_bitmatch_vs_main,
               TRUE AS segments_merged,
               TRUE AS purge_ledger_consistent
        FROM q, c
        GROUP BY query_id
    """,
)
def op_stream_ann_serve_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed ANN store's full lifecycle, stream-ingest -> delete
    -> compact -> serve: the embeddings arrive as 3 micro-batches
    through ``stream_ann_store`` (one cent_id-partitioned segment per
    epoch); ``compact_postings`` drops the id-list purge request
    TOMB_IDS and rewrites the survivors into ONE segment per cell
    (bytes moved, never re-encoded) in a sibling tree published with
    its purge ledger (``publish_compaction``). The ANN family's one
    compact-and-serve gate, ``ann_compact_serve`` (shared with
    op_sim_lifecycle_e2e), serves from it with its referees in-query,
    because DuckDB cannot replay trained codebooks;
    ``adc_bitmatch_vs_main``'s yardstick is the offline build
    restricted to survivors. The oracle hash-verifies the per-query
    survivor neighborhoods against op_sim_ivfpq_serve's oracle
    re-derived over ``vec_id NOT IN TOMB_IDS``: freshness, deletes and
    compaction are score-neutral."""
    from game_data_etl_pipeline_spark.llmdata.ann_index import (
        ANN_POSTINGS,
        ann_compact_serve,
        read_ann_index,
    )

    store = stream_ann_store(
        spark, sf_dir, "annservecomp", "op_stream_ann_serve_compacted"
    )
    # the store itself is never mutated
    work = os.path.dirname(store)
    comp = os.path.join(work, "compacted")
    publish_compaction(
        comp,
        lambda staging: compact_postings(spark, ANN_POSTINGS, store, staging, purge_ids=TOMB_IDS),
    )
    _, _, main_postings = read_ann_index(spark, sf_dir)
    return ann_compact_serve(
        spark,
        sf_dir,
        work,
        comp,
        main_postings.filter(~F.col("vec_id").isin(*TOMB_IDS)),
        "adc_bitmatch_vs_main",
        "segments_merged",
        "purge_ledger_consistent",
    )


@register(
    "op_stream_decontaminate",
    tags=("streaming", "llm", "dedup", "curation"),
    # op_corpus_decontaminate's ledger VERBATIM plus the pruning audit:
    # screening the training docs AS THEY ARRIVE, batch by batch, must
    # reproduce the offline whole-corpus screen value for value
    oracle=decontam_ledger_oracle("bloom_pruned"),
)
def op_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination at ingestion time: the benchmark side is static,
    so its Bloom bitmap (the op_corpus_decontaminate_bloom words table,
    ~0.5 MB whatever the corpus size) and its distinct (b_id, g) pairs
    are built once and checkpointed; the training documents then
    arrive as 3 micro-batches (xxhash64(doc_id) pmod 3, a content-blind
    router), and each epoch shingles only its batch, probes the bitmap
    map-side, exact-rescreens its Bloom-positive shingles against the
    benchmark pairs and writes its per-doc ledger as its own segment.
    The training corpus is never assembled or shuffled by shingle.

    A document's shingles live inside its own batch and the ledger is
    per-doc, so the union of the per-epoch ledgers is the whole-corpus
    ledger: the oracle is op_corpus_decontaminate's ledger verbatim.
    ``bloom_pruned`` audits that, summed over epochs, fewer
    Bloom-positive shingles entered the exact rescreen than were
    probed."""
    from game_data_etl_pipeline_spark.llmdata.dedup import (
        _shingles,
        benchmark_pairs,
        bloom_candidates,
        bloom_words,
        decontam_ledger,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_bench = F.pmod(F.col("doc_id"), F.lit(3)) == 0

    # ---- static benchmark side, built once: ONE bench-side shingle
    # pass materializes the (b_id, g) pair set, and the bitmap words
    # fold from its distinct shingles — the bitmap derives from the
    # checkpointed pairs instead of re-shingling the bench docs
    bench_pairs = benchmark_pairs(docs.filter(is_bench)).localCheckpoint(eager=True)
    words = bloom_words(bench_pairs.select("g").distinct()).localCheckpoint(
        eager=True
    )

    work = session_dir(spark, "decontam", sf_dir)
    ledger_store = os.path.join(work, "ledger")
    train_docs = docs.filter(~is_bench).withColumn(
        "batch_id", F.pmod(F.xxhash64("doc_id"), F.lit(3)).cast("int")
    )

    # per-batch (n_probed, n_cand) pairs, measured by observe() riding
    # the ledger write, so each commit is one job. CollectMetrics
    # blocks pushdown, so n_probed counts exactly the distinct batch
    # shingles and n_cand exactly the Bloom-positive survivors.
    # Counters are keyed by epoch_id (a rerun epoch replaces its pair)
    # and persisted next to the ledger as counters.json.
    batch_counters: dict[int, tuple[int, int]] = {}

    def screen(batch_df: DataFrame, epoch_id: int) -> None:
        obs_probed = Observation()
        obs_cand = Observation()
        sh = (
            _shingles(batch_df.select("doc_id", "text"))
            .distinct()
            .observe(obs_probed, F.count(F.lit(1)).alias("n"))
        )
        candidates = bloom_candidates(sh, words).observe(
            obs_cand, F.count(F.lit(1)).alias("n")
        )
        write_epoch(decontam_ledger(candidates, bench_pairs), ledger_store, epoch_id)
        batch_counters[epoch_id] = (obs_probed.get["n"], obs_cand.get["n"])

    replay_microbatches(spark, train_docs, work, screen, op="op_stream_decontaminate")

    with open(os.path.join(work, "counters.json"), "w") as f:
        json.dump({str(e): list(pc) for e, pc in sorted(batch_counters.items())}, f)
    ledger = spark.read.parquet(ledger_store).drop("seg")
    n_probed = sum(p for p, _c in batch_counters.values())
    n_cand = sum(c for _p, c in batch_counters.values())
    audit = spark.range(1).select(
        F.lit(bool(n_cand < n_probed)).alias("bloom_pruned")
    )
    return ledger.crossJoin(F.broadcast(audit))


@register(
    "op_stream_bloom_upsert",
    tags=("streaming", "llm", "dedup", "curation", "index"),
    # the exact screen's ledger VERBATIM plus the two audit literals:
    # a filter accumulated from streamed benchmark deltas must admit
    # exactly the full benchmark's shingle set (bit_or is monotone
    # and associative — arrival order cannot matter), so screening
    # with it reproduces the offline ledger value for value
    oracle=decontam_ledger_oracle("merged_equals_rebuilt", "fill_under_max"),
)
def op_stream_bloom_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The benchmark arrives as a stream: op_bloom_index_upsert's
    delta-merge algebra on Structured Streaming. Benchmark documents
    arrive as 3 content-hash-routed micro-batches; each epoch shingles
    only its batch and writes two O(batch) segments, its (b_id, g) pair
    set and its words-table delta (a bit_or fold of those shingles,
    <= 65k rows). After the stream drains ONE bounded bit_or groupBy
    folds the deltas into the filter; bit_or is associative,
    commutative and idempotent, so arrival order, batch boundaries and
    shingles shared across batches do not change it.

    Gate: the training corpus screened with the folded filter
    reproduces the offline exact screen's per-doc ledger verbatim, and
    two referees ride along: ``merged_equals_rebuilt`` holds the folded
    filter word-for-word equal to a from-scratch rebuild over the full
    benchmark (the one bench-side re-scan, paid only in this gate), and
    ``fill_under_max`` pins the filter under BLOOM_FILL_MAX, the
    saturation ceiling the index builds enforce. No ingested benchmark doc
    is ever re-read."""
    from game_data_etl_pipeline_spark.llmdata.dedup import (
        _shingles,
        benchmark_pairs,
        bit_or_fold,
        bloom_candidates,
        bloom_fill_audit,
        bloom_words,
        decontam_ledger,
        words_bitmatch_audit,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_bench = F.pmod(F.col("doc_id"), F.lit(3)) == 0

    work = session_dir(spark, "bloomupsert", sf_dir)
    word_deltas = os.path.join(work, "word_deltas")
    pair_store = os.path.join(work, "pairs")
    bench = docs.filter(is_bench).withColumn(
        "batch_id", F.pmod(F.xxhash64("doc_id"), F.lit(3)).cast("int")
    )

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        # the batch's (b_id, g) pair set lands in its own segment, and
        # its words-table delta folds from that persisted segment, so
        # the delta is a function of the durable artifact and the
        # shingle set needs no checkpoint
        write_epoch(benchmark_pairs(batch_df.select("doc_id", "text")), pair_store, epoch_id)
        seg = spark.read.parquet(os.path.join(pair_store, f"seg={epoch_id}"))
        write_epoch(bloom_words(seg.select("g").distinct()), word_deltas, epoch_id)

    replay_microbatches(spark, bench, work, ingest, op="op_stream_bloom_upsert")

    # the post-stream fold: ONE bit_or groupBy over the persisted
    # deltas (<= 3 x 65k rows, bounded by geometry, not corpus)
    words = bit_or_fold(spark.read.parquet(word_deltas)).localCheckpoint()
    bench_pairs = spark.read.parquet(pair_store)

    # the screen, from the stream-accumulated filter
    train = _shingles(docs.filter(~is_bench)).distinct()
    ledger = decontam_ledger(bloom_candidates(train, words), bench_pairs)

    # referee: stream-folded filter == from-scratch rebuild (the one
    # bench-side re-scan, spent only in this verification gate) — the
    # shared words_bitmatch_audit, same code as the batch upsert's
    rebuilt = bloom_words(_shingles(docs.filter(is_bench)).select("g").distinct())
    eqa = words_bitmatch_audit(words, rebuilt, "merged_equals_rebuilt")
    fill = bloom_fill_audit(words)
    audit = eqa.crossJoin(F.broadcast(fill))
    return ledger.crossJoin(F.broadcast(audit))
