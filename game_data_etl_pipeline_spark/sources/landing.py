"""Source/catalog operators: JSON landing-zone scan, catalog
enumeration, keyed metadata upsert.

These close the last §2.A gaps that are queryable (the REST fetch
itself is driver-side I/O, exercised in tests/test_etl_golden.py):

- op_scan_json      — spark.read.schema(...).json over a landed
  envelope file (reference etl/pipeline.py:85-93 unwraps the same
  envelope row-by-row). Explicit schema: a schema-inferred scan of a
  100 TB landing zone is two full passes.
- op_catalog_scan   — SHOW TABLES over registered views (reference
  README.md:132-139 does it against sqlite_master).
- op_metadata_upsert — INSERT-OR-REPLACE semantics (reference
  etl/pipeline.py:286-296) as append + latest-wins row_number, the
  plain-parquet substitute for MERGE.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from game_data_etl_pipeline_spark.catalog import TABLES, derived, load_table, register_views
from game_data_etl_pipeline_spark.etl import fixtures, transform
from game_data_etl_pipeline_spark.registry import register


def _landing_dir(spark: SparkSession) -> str:
    """The deterministic fixture envelopes, landed in a dir."""

    def build(d: str) -> str:
        fixtures.write_landing(d)
        return d

    return derived(spark, "landing", "", build)


@register(
    "op_scan_json",
    tags=("source", "reference-parity"),
    oracle="""
        SELECT uuid, name, is_playable
        FROM (VALUES
            ('agent-1', 'Breeze Runner', TRUE),
            ('agent-npc', 'Range Dummy', FALSE),
            ('agent-unknown-flag', 'Mystery', NULL),
            ('agent-2', 'Long Scribe', TRUE),
            ('agent-3', 'Quiet Viper', TRUE)
        ) AS t(uuid, name, is_playable)
    """,
)
def op_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001 — fixture-driven
    """JSON scan with explicit schema over the landed agents envelope:
    unwrap {status, data:[...]}, project identity fields. The missing
    isPlayableCharacter key surfaces as NULL (schema-checked), exactly
    the case the reference's .get(..., default) guards."""
    raw = transform.parse_envelope(spark, os.path.join(_landing_dir(spark), "agents.json"), "agents")
    return raw.select(
        "uuid",
        F.col("displayName").alias("name"),
        F.col("isPlayableCharacter").alias("is_playable"),
    )


@register(
    "op_catalog_scan",
    tags=("source", "reference-parity"),
    oracle="""
        SELECT table_name
        FROM (VALUES
            ('customer'), ('documents'), ('embeddings'), ('events'),
            ('lineitem'), ('nation'), ('orders'), ('part'),
            ('region'), ('supplier')
        ) AS t(table_name)
        ORDER BY table_name
    """,
)
def op_catalog_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog enumeration: register every sf table as a view, then
    SHOW TABLES (the reference's sqlite_master scan, Spark-side)."""
    register_views(spark, sf_dir)
    return (
        spark.sql("SHOW TABLES")
        .filter(F.col("tableName").isin(*TABLES))
        .select(F.col("tableName").alias("table_name"))
        .orderBy("table_name")
    )


@register(
    "op_metadata_upsert",
    tags=("source", "reference-parity"),
    oracle="""
        SELECT run_id, status, total_rows
        FROM (VALUES
            ('r1', 'Success', 239),
            ('r2', 'Failed: boom', 0)
        ) AS t(run_id, status, total_rows)
    """,
)
def op_metadata_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001 — literal-driven
    """Keyed upsert (INSERT OR REPLACE): three appended run records,
    two sharing run_id 'r1' — latest completed_at wins. This is the
    scale-safe MERGE substitute: append is conflict-free across 1000
    writers; the replace resolves at read with one window."""
    runs = spark.createDataFrame(
        [
            ("r1", "2026-01-01T00:00:00", "Running", 0),
            ("r1", "2026-01-01T00:05:00", "Success", 239),
            ("r2", "2026-01-01T01:00:00", "Failed: boom", 0),
        ],
        "run_id string, completed_at string, status string, total_rows int",
    )
    w = Window.partitionBy("run_id").orderBy(F.col("completed_at").desc())
    return (
        runs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("run_id", "status", "total_rows")
    )


@register(
    "op_source_python_api",
    tags=("source", "reference-parity"),
    oracle="""
        SELECT endpoint, n_records FROM (VALUES
            ('agents', 5), ('weapons', 3), ('maps', 2), ('gamemodes', 2)
        ) AS t(endpoint, n_records)
    """,
)
def op_source_python_api(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001 — fixture-driven
    """The REST source as a registered Spark data source: per-endpoint
    record counts read via ``spark.read.format("game_api")``.

    Each endpoint is an InputPartition fetched executor-side in
    parallel (see sources/api_source.py) — the idiomatic replacement
    for the reference's sequential driver loop. A broken endpoint
    yields zero rows instead of a failed scan, which
    tests/test_api_source.py pins.
    """
    from game_data_etl_pipeline_spark.sources.api_source import GameApiDataSource

    spark.dataSource.register(GameApiDataSource)
    df = spark.read.format("game_api").option("landing_dir", _landing_dir(spark)).load()
    return df.groupBy("endpoint").agg(F.count(F.lit(1)).alias("n_records"))


@register(
    "op_scan_csv",
    tags=("source",),
    oracle="""
        SELECT event_id, event_type, ROUND(value, 4) AS val
        FROM events WHERE event_id < 1000
    """,
)
def op_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source round-trip with an EXPLICIT schema: parquet -> csv ->
    typed scan.

    Schema is declared, never inferred — inference on a 100 TB CSV
    landing zone is a full extra pass. header=false + declared column
    order keeps the contract in code. (CSV stays an interchange format
    only; every curated table is parquet.)
    """

    def build(d: str) -> str:
        load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000).select(
            "event_id", "event_type", "value"
        ).write.mode("overwrite").option("header", "false").csv(d)
        return d

    return (
        spark.read.schema("event_id bigint, event_type string, value double")
        .csv(derived(spark, "events_csv", sf_dir, build))
        .select("event_id", "event_type", F.round("value", 4).alias("val"))
    )


@register(
    "op_scan_orc",
    tags=("source",),
    oracle="""
        SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 2) AS acctbal
        FROM supplier
    """,
)
def op_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip: parquet -> ORC -> scan. ORC is the
    second columnar interchange format a complete engine reads and
    writes natively (Hive-ecosystem handoff); types, predicate
    pushdown and column pruning work exactly as with parquet —
    Catalyst treats both as v1/v2 FileScan sources."""

    def build(d: str) -> str:
        load_table(spark, sf_dir, "supplier").write.mode("overwrite").orc(d)
        return d

    return (
        spark.read.orc(derived(spark, "supplier_orc", sf_dir, build))
        .select("s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("acctbal"))
    )


@register(
    "op_scan_merge_schema",
    tags=("source", "scale"),
    oracle="""
        WITH v1 AS (
            SELECT event_id, event_type FROM events WHERE event_id % 2 = 0
        ),
        v2 AS (
            SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 1
        ),
        merged AS (
            SELECT event_id, event_type, NULL::DOUBLE AS value FROM v1
            UNION ALL
            SELECT event_id, event_type, value FROM v2
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(value) AS BIGINT) AS n_with_value,
               ROUND(SUM(value), 2) AS total_value
        FROM merged
        GROUP BY event_type
    """,
)
def op_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet directory: an old writer emitted
    (event_id, event_type), a newer one added `value`; a single
    ``mergeSchema`` read reconciles both generations, surfacing the
    missing column as NULL — the drift every long-lived 100 TB lake
    accumulates.

    Scale notes: mergeSchema footer-merging costs one pass over file
    footers (not data) and is off by default for that reason — turn it
    on per-read exactly like this, or pin the merged schema in a
    catalog once known. Column pruning and pushdown still apply per
    file; files lacking a pruned column short-circuit to NULL without
    I/O.
    """

    def build(d: str) -> str:
        events = load_table(spark, sf_dir, "events")
        events.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "event_type"
        ).write.mode("overwrite").parquet(os.path.join(d, "gen=1"))
        events.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "event_type", "value"
        ).write.mode("overwrite").parquet(os.path.join(d, "gen=2"))
        return d

    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(derived(spark, "events_evolved", sf_dir, build))
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_with_value"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "op_scan_text",
    tags=("source", "llmdata"),
    oracle="""
        SELECT doc_id, text, LENGTH(text) AS n_chars
        FROM documents
        WHERE doc_id < 500
    """,
)
def op_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source: the rawest corpus ingest shape (one
    document per line, id-prefixed), read with ``spark.read.text`` and
    split JVM-side. The round-trip is value-oracled against the
    structured source it was derived from.

    Scale notes: text files split by line at HDFS-block granularity,
    so a 100 TB crawl dump parallelizes without any format cooperation;
    the split + cast projection is whole-stage codegen. The first
    structured write should land it in parquet — this operator is the
    front door, not the steady state.
    """

    def build(d: str) -> str:
        (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 500)
            .select(F.concat_ws("\t", F.col("doc_id").cast("string"), "text").alias("value"))
            .coalesce(1)
            .write.mode("overwrite")
            .text(d)
        )
        return d

    lines = spark.read.text(derived(spark, "textlines", sf_dir, build))
    tab = F.instr("value", "\t")
    return lines.select(
        F.substring("value", 1, tab - 1).cast("bigint").alias("doc_id"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
    ).withColumn("n_chars", F.length("text").cast("bigint"))


@register(
    "op_scan_json_corrupt",
    tags=("source", "quality"),
    oracle="""
        WITH scoped AS (
            SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 500
        )
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM scoped WHERE doc_id % 7 <> 3
        GROUP BY lang
        UNION ALL
        SELECT '_corrupt' AS lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(0 AS BIGINT) AS total_chars
        FROM scoped WHERE doc_id % 7 = 3
    """,
)
def op_scan_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record-tolerant JSON ingest: a JSONL landing file
    where every 7th record is truncated garbage, read in PERMISSIVE
    mode with ``columnNameOfCorruptRecord`` — bad lines surface as
    rows carrying the raw text in the corrupt column instead of
    killing the scan, and are counted into an explicit '_corrupt'
    bucket (the quarantine-not-crash policy of op_scalar_try at the
    source boundary).

    On 100 TB of scraped JSON some records ARE broken; FAILFAST turns
    one bad byte into a dead 10-hour job, while silent DROPMALFORMED
    loses data unaccountably. PERMISSIVE + corrupt-column + audit
    count is the only shape that is both survivable and auditable.
    The fixture derives deterministically from ``documents`` (same
    mod-7 rule in the oracle), so the whole path is value-checked.
    """

    def build(d: str) -> str:
        (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 500)
            .select(
                F.when(
                    F.col("doc_id") % 7 == 3,
                    F.concat(F.lit('{"doc_id":'), F.col("doc_id").cast("string"), F.lit(',"lang":')),
                )
                .otherwise(F.to_json(F.struct("doc_id", "lang", "n_chars")))
                .alias("value")
            )
            .coalesce(1)
            .write.mode("overwrite")
            .text(d)
        )
        return d

    parsed = (
        spark.read.schema("doc_id long, lang string, n_chars long, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(derived(spark, "json_corrupt", sf_dir, build))
    )
    labeled = parsed.select(
        F.when(F.col("_corrupt").isNotNull(), F.lit("_corrupt")).otherwise(F.col("lang")).alias("lang"),
        F.when(F.col("_corrupt").isNotNull(), F.lit(0)).otherwise(F.col("n_chars")).alias("n_chars"),
    )
    return labeled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "op_source_python_api_stream",
    tags=("source", "streaming"),
    oracle="""
        SELECT endpoint, n_records FROM (VALUES
            ('agents', 5), ('weapons', 3), ('maps', 2), ('gamemodes', 2)
        ) AS t(endpoint, n_records)
    """,
)
def op_source_python_api_stream(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001 — fixture-driven
    """The REST source as a STREAMING Python data source (PySpark 4
    SimpleDataSourceStreamReader): endpoints replay one per
    micro-batch through readStream, aggregated per endpoint in
    complete mode — a genuine incremental-ingest surface over the
    same envelope contract as the batch source (non-200/missing ->
    zero rows, never a failed batch).

    The offset is checkpointable state: a restarted query resumes at
    the recorded endpoint index via readBetweenOffsets, the exactly-
    once recovery path the batch source cannot offer."""
    from game_data_etl_pipeline_spark.sources.api_source import GameApiStreamDataSource

    spark.dataSource.register(GameApiStreamDataSource)
    stream = (
        spark.readStream.format("game_api_stream")
        .option("landing_dir", _landing_dir(spark))
        .load()
    )
    agg = stream.groupBy("endpoint").agg(F.count(F.lit(1)).alias("n_records"))
    # availableNow snapshots the CURRENT offset for simple stream
    # readers, which drains only one endpoint; processAllAvailable
    # keeps firing micro-batches until the offset stops advancing —
    # the drain-a-finite-replay idiom for this source shape
    name = "api_stream_result"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)
