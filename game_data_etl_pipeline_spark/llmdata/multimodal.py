"""Multimodal column operators (north star): image/audio/video as
opaque BinaryType columns with typed metadata, processed by
Arrow-batched pandas code over mapInPandas.

The container has no image/audio codecs, so the DECODE step is a
deterministic fake (clearly marked below); everything around it —
binary columns, metadata structs, mapInPandas batch iteration, output
schemas, partition behavior — is the real plumbing a production
decode plugs into (swap ``_fake_decode`` for PIL/ffmpeg and nothing
else changes).

Fixture: documents.text UTF-8-encoded as the binary payload.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from game_data_etl_pipeline_spark.catalog import load_table
from game_data_etl_pipeline_spark.registry import register

FRAME_BYTES = 256  # fake "frame" stride for the frame-sampling operator


def _fake_decode(payload: bytes) -> tuple[int, int, str]:
    """DETERMINISTIC FAKE decode: derives (width, height, format) from
    the byte length alone. Replace with a real codec in production."""
    n = len(payload)
    return 64 + n % 512, 64 + (n // 7) % 512, "fakepng"


@register(
    "op_multimodal_meta",
    tags=("llm", "multimodal"),
    oracle="""
        SELECT doc_id,
               octet_length(CAST(text AS BLOB)) AS n_bytes,
               md5(text) AS checksum,
               lang AS modality_hint
        FROM documents
    """,
)
def op_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload column + typed metadata: the carrier format for
    any opaque modality. Metadata (size, checksum) computed JVM-side;
    payload bytes never leave the executors."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.encode("text", "UTF-8").alias("payload"),
            F.md5("text").alias("checksum"),
            F.col("lang").alias("modality_hint"),
        )
        .select(
            "doc_id",
            F.octet_length("payload").alias("n_bytes"),
            "checksum",
            "modality_hint",
        )
    )


@register(
    "op_multimodal_decode",
    tags=("llm", "multimodal"),
    oracle="""
        SELECT doc_id,
               octet_length(CAST(text AS BLOB)) AS n_bytes,
               CAST(64 + octet_length(CAST(text AS BLOB)) % 512 AS INT) AS width,
               CAST(64 + (octet_length(CAST(text AS BLOB)) // 7) % 512 AS INT) AS height,
               'fakepng' AS format
        FROM documents
    """,
)
def op_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract over mapInPandas: binary payloads stream
    through Arrow batches into pandas, per-row decode, typed output
    schema. The decode body is the deterministic fake (oracle mirrors
    it exactly); the batch plumbing is production-shaped."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_fake_decode(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "format": [d[2] for d in decoded],
                }
            )

    return docs.mapInPandas(
        decode_batches, schema="doc_id long, n_bytes int, width int, height int, format string"
    )


@register(
    "op_multimodal_framesample",
    tags=("llm", "multimodal"),
    oracle=f"""
        WITH sized AS (
            SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes FROM documents WHERE doc_id < 100
        )
        SELECT doc_id,
               CAST(f AS INT) AS frame_idx,
               CAST(LEAST({FRAME_BYTES}, n_bytes - f * {FRAME_BYTES}) AS INT) AS frame_bytes
        FROM sized, UNNEST(range(CAST(ceil(n_bytes * 1.0 / {FRAME_BYTES}) AS BIGINT))) AS t(f)
    """,
)
def op_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for a 'video' payload: fixed-stride byte windows
    exploded to one row per frame (posexplode over a computed frame
    index sequence — JVM-side; the per-frame decode would be the
    mapInPandas stage above)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    n_bytes = F.octet_length(F.encode("text", "UTF-8"))
    n_frames = F.ceil(n_bytes / F.lit(FRAME_BYTES)).cast("int")
    framed = docs.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    )
    return framed.select(
        "doc_id",
        "frame_idx",
        F.least(F.lit(FRAME_BYTES), F.col("n_bytes") - F.col("frame_idx") * FRAME_BYTES)
        .cast("int")
        .alias("frame_bytes"),
    )


TARGET_MAX_SIDE = 224  # resize target (the usual vision-model input)


@register(
    "op_multimodal_resize",
    tags=("llm", "multimodal"),
    oracle=f"""
        WITH decoded AS (
            SELECT doc_id,
                   CAST(64 + octet_length(CAST(text AS BLOB)) % 512 AS INT) AS width,
                   CAST(64 + (octet_length(CAST(text AS BLOB)) // 7) % 512 AS INT) AS height
            FROM documents
        )
        SELECT doc_id, width, height,
               CAST(round(width * least({TARGET_MAX_SIDE} * 1.0 / width,
                                        {TARGET_MAX_SIDE} * 1.0 / height)) AS INT) AS out_width,
               CAST(round(height * least({TARGET_MAX_SIDE} * 1.0 / width,
                                         {TARGET_MAX_SIDE} * 1.0 / height)) AS INT) AS out_height
        FROM decoded
    """,
)
def op_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning stage: aspect-ratio-preserving target dims
    (longest side -> 224) computed from decoded metadata. The dimension
    arithmetic is JVM-side over the decode stage's output; the actual
    pixel resample belongs in the same mapInPandas batch as the decode
    (stubbed here — no codec in this container), so adding it changes
    zero plumbing."""
    decoded = op_multimodal_decode(spark, sf_dir).select("doc_id", "width", "height")
    scale = F.least(
        F.lit(TARGET_MAX_SIDE) / F.col("width"), F.lit(TARGET_MAX_SIDE) / F.col("height")
    )
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.round(F.col("width") * scale).cast("int").alias("out_width"),
        F.round(F.col("height") * scale).cast("int").alias("out_height"),
    )


@register(
    "op_multimodal_audio_rms",
    tags=("llm", "multimodal"),
    oracle="""
        WITH chars AS (
            SELECT doc_id, text, UNNEST(range(len(text))) AS i FROM documents
        )
        SELECT doc_id,
               CAST(i // 256 AS INT) AS win,
               CAST(COUNT(*) AS BIGINT) AS n_samples,
               ROUND(sqrt(AVG((ord(substring(text, CAST(i AS INT) + 1, 1)) - 128.0) ** 2)), 4) AS rms
        FROM chars
        GROUP BY doc_id, i // 256
    """,
)
def op_multimodal_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed RMS over an opaque audio payload via mapInPandas: the
    payload bytes stand in for 8-bit PCM samples (center 128), chunked
    into 256-sample windows, RMS per window — the loudness-profile
    feature extraction a real audio pipeline runs per clip.

    The Arrow batch iteration, numpy vectorization per partition, and
    typed output schema are the production plumbing; only the 'PCM'
    interpretation is the container-imposed fake (the fixture payload
    is ASCII text, so the DuckDB oracle can mirror the byte values via
    ord()). Payloads never hit the driver."""
    import numpy as np

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def rms_windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_win, out_n, out_rms = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples = np.frombuffer(payload, dtype=np.uint8).astype(np.float64) - 128.0
                for w in range(0, len(samples), 256):
                    chunk = samples[w : w + 256]
                    out_doc.append(doc_id)
                    out_win.append(w // 256)
                    out_n.append(len(chunk))
                    out_rms.append(round(float(np.sqrt(np.mean(chunk**2))), 4))
            yield pd.DataFrame({"doc_id": out_doc, "win": out_win, "n_samples": out_n, "rms": out_rms})

    return docs.mapInPandas(rms_windows, "doc_id long, win int, n_samples long, rms double")


@register(
    "op_multimodal_chunk_hash",
    tags=("llm", "multimodal", "dedup"),
    oracle="""
        WITH docs AS (
            SELECT doc_id, text, CAST(CEIL(LENGTH(text) / 256.0) AS INT) AS n_chunks
            FROM documents WHERE doc_id < 100 AND LENGTH(text) > 0
        ),
        chunks AS (
            SELECT DISTINCT doc_id, n_chunks,
                   md5(substring(text, i * 256 + 1, 256)) AS chunk_hash
            FROM docs, UNNEST(generate_series(0, n_chunks - 1, 1)) AS u(i)
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS n_shared,
                   ANY_VALUE(a.n_chunks) AS chunks_a
            FROM chunks a JOIN chunks b
              ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_shared,
               ROUND(n_shared * 1.0 / chunks_a, 4) AS shared_frac
        FROM pairs WHERE n_shared >= 2
    """,
)
def op_multimodal_chunk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-hash payload dedup (the rsync/CAS move applied to opaque
    payloads): split each payload into fixed 256-char chunks, hash
    every chunk, and find payload pairs sharing >= 2 chunk hashes —
    catches partial duplication (shared headers, embedded segments,
    truncated re-uploads) that whole-payload checksums
    (op_multimodal_meta) miss entirely.

    Chunks meet on an EQUI-join over the hash — the byte-level twin
    of the shingle join in op_dedup_ngram_jaccard, and the same 100 TB
    shape: no all-pairs comparison, shuffle keyed on content hashes.
    Production upgrade: content-defined chunking (rolling-hash cut
    points) makes the chunks shift-invariant; the join and everything
    downstream are unchanged."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 100) & (F.length("text") > 0))
        .select(
            "doc_id", "text",
            F.ceil(F.length("text") / 256.0).cast("int").alias("n_chunks"),
        )
    )
    chunk = F.md5(F.encode(F.expr("substring(text, i * 256 + 1, 256)"), "UTF-8"))
    chunks = (
        docs.select(
            "doc_id", "n_chunks",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("i"),
            "text",
        )
        .select("doc_id", "n_chunks", chunk.alias("chunk_hash"))
        .dropDuplicates(["doc_id", "chunk_hash"])
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(b, (F.col("a.chunk_hash") == F.col("b.chunk_hash")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"), F.first(F.col("a.n_chunks")).alias("chunks_a"))
        .filter(F.col("n_shared") >= 2)
    )
    return pairs.select(
        "doc_a", "doc_b", "n_shared",
        F.round(F.col("n_shared") / F.col("chunks_a"), 4).alias("shared_frac"),
    )


@register(
    "op_multimodal_pipeline",
    tags=("llm", "multimodal"),
    headline=True,
    oracle=f"""
        WITH decoded AS (
            SELECT doc_id,
                   md5(text) AS checksum,
                   CAST(64 + octet_length(CAST(text AS BLOB)) % 512 AS INT) AS width,
                   CAST(64 + (octet_length(CAST(text AS BLOB)) // 7) % 512 AS INT) AS height
            FROM documents
        ),
        deduped AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY checksum ORDER BY doc_id) AS rn
                FROM decoded
            ) WHERE rn = 1
        ),
        gated AS (
            SELECT doc_id, width, height FROM deduped
            WHERE LEAST(width, height) >= 96
        ),
        planned AS (
            SELECT doc_id, width, height,
                   CAST(round(width * least({TARGET_MAX_SIDE} * 1.0 / width,
                                            {TARGET_MAX_SIDE} * 1.0 / height)) AS INT) AS out_width,
                   CAST(round(height * least({TARGET_MAX_SIDE} * 1.0 / width,
                                             {TARGET_MAX_SIDE} * 1.0 / height)) AS INT) AS out_height
            FROM gated
        )
        SELECT doc_id, width, height, out_width, out_height,
               CAST(CEIL(out_width / 16.0) * CEIL(out_height / 16.0) AS INT) AS n_patches
        FROM planned
    """,
)
def op_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed multimodal ingest, end to end and value-oracled: decode
    (Arrow mapInPandas) -> exact payload dedup on checksum -> quality
    gate (shortest side >= 96) -> aspect-preserving resize plan (max
    side 224) -> ViT-style patch budget (16px grid) — the asset-side
    counterpart of q_corpus_pipeline_v2, one DataFrame program.

    Shuffle ledger (matches the plan): ONE exchange for the checksum
    dedup window; decode, gate, resize arithmetic, and patch counting
    are all narrow on top of the scan. Payload bytes stay in
    executors; only (doc_id, dims) survive the decode stage. Swap
    ``_fake_decode`` for a real codec and the ledger is unchanged."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("checksum"), F.encode("text", "UTF-8").alias("payload")
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_fake_decode(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "checksum": pdf["checksum"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                }
            )

    decoded = docs.mapInPandas(
        decode_batches, schema="doc_id long, checksum string, width int, height int"
    )
    w_dedup = Window.partitionBy("checksum").orderBy("doc_id")
    gated = (
        decoded.withColumn("rn", F.row_number().over(w_dedup))
        .filter((F.col("rn") == 1) & (F.least("width", "height") >= 96))
        .drop("rn", "checksum")
    )
    scale = F.least(
        F.lit(TARGET_MAX_SIDE) / F.col("width"), F.lit(TARGET_MAX_SIDE) / F.col("height")
    )
    planned = gated.select(
        "doc_id",
        "width",
        "height",
        F.round(F.col("width") * scale).cast("int").alias("out_width"),
        F.round(F.col("height") * scale).cast("int").alias("out_height"),
    )
    return planned.select(
        "*",
        (F.ceil(F.col("out_width") / 16.0) * F.ceil(F.col("out_height") / 16.0))
        .cast("int")
        .alias("n_patches"),
    )
