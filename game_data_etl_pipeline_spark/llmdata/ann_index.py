"""Persistent ANN index: build-once / serve-many split of the IVF-PQ
path.

op_sim_pq_adc / op_sim_ivfpq (similarity.py) train their coarse
centroids and PQ codebooks INSIDE every query run — right for
demonstrating that the stages compose, wrong as the steady state: a
real 100 TB vector store builds its index once (an expensive, bounded,
offline job) and amortizes it over every subsequent query. This module
is that split, following op_join_bucketed's "pay it once in layout"
precedent (operators/scale.py):

- ``build_ann_index`` trains the k=8 coarse IVF centroids
  (``ivf_trained_centroids`` — distributed Lloyd over the full corpus)
  and the 16x16 PQ codebooks (``pq_train``), encodes EVERY corpus
  vector to (cent_id, codes), and persists three parquet artifacts
  under the gitignored ``spark-warehouse/ann_index`` dir:
  ``coarse/`` (k rows), ``codebooks/`` (m*ksub rows), and
  ``postings/`` PARTITIONED BY cent_id — the partition layout IS the
  inverted file: a query probing 2 of 8 cells touches only those
  directories, so at 100 TB the probes/k scan fraction is enforced by
  storage-level partition pruning, not just a join filter.
- ``op_sim_index_build`` is the registered, value-oracled build job
  (idempotent: a second call finds the artifact and reads it back).
- ``op_sim_ivfpq_serve`` is query time: read the three artifacts, run
  ONLY the serving stages (probe -> ADC -> shortlist -> exact rerank)
  plus the recall/pruning audit, via the ``ivfpq_serve_stages`` helper
  shared verbatim with op_sim_ivfpq. Its plan contains NO training
  stage — no Lloyd loop, no localCheckpoint scan, no driver numpy —
  pinned by tests/test_plans.py::test_ivfpq_serve_plan_contract
  (plan has no ExistingRDD operator and reads the ann_index path) and
  by the artifacts.BUILD_COUNT no-rebuild assertion in
  tests/test_plans.py.

Every tree here is built through ``artifacts.ensure_tree``; its key
fingerprints the embeddings parquet.

Reference scope note: the reference pipeline
(/root/reference/etl/pipeline.py) has no vector search at all; this
family is part of the brief's training-data-pipeline closure, designed
Spark-first.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from game_data_etl_pipeline_spark.catalog import load_table, read_parquet
from game_data_etl_pipeline_spark.llmdata.artifacts import (
    TOMB_IDS,
    TOMB_IDS_SQL,
    Postings,
    TreeFamily,
    ensure_compacted_tree,
    ensure_tree,
    purge_ledger_referee,
    segments_merged,
    tomb_residue,
    upsert_segments,
    write_segmented,
)
from game_data_etl_pipeline_spark.llmdata.similarity import (
    IVFPQ_PROBES,
    PQ_KSUB,
    PQ_M,
    ivf_assign,
    ivf_trained_centroids,
    ivfpq_adc_scored,
    ivfpq_serve_stages,
    pq_encode,
    pq_train,
)
from game_data_etl_pipeline_spark.registry import register

# layout version of every ANN tree: bump on any layout change
INDEX_VERSION = 2

ANN = TreeFamily("SPARK_GRAFT_INDEX_DIR", "ann_index", "embeddings.parquet", INDEX_VERSION)

# what a tombstone compaction of ANN postings rewrites: PQ codes are
# moved as they are, never re-encoded
ANN_POSTINGS = Postings("vec_id", "cent_id", ("vec_id", "codes", "cent_id"))


def ann_postings(
    emb: DataFrame, coarse: DataFrame, books: DataFrame, *keep: str
) -> DataFrame:
    """(vec_id, *keep, cent_id, codes): every vector of ``emb``
    (vec_id, embedding, *keep) assigned to its nearest ``coarse``
    centroid and PQ-encoded against ``books``. Both are per-row
    expressions against one broadcast row, so the encode is one narrow
    pass with no join on vec_id. The one encode of the offline builds,
    the streamed store and the lifecycle referee."""
    cells = ivf_assign(
        emb.select("vec_id", "embedding", *keep), cents=coarse, form="argmax", extra_cols=keep
    )
    return pq_encode(cells, books, keep=(*keep, "cent_id"))


def build_ann_index(spark: SparkSession, sf_dir: str) -> str:
    """Train + persist the IVF-PQ index for ``sf_dir``'s embeddings
    (idempotent). Returns the tree dir.

    Cost shape: one distributed Lloyd over the full corpus (the
    deliberate full-data coarse training documented in
    op_sim_ivf_trained), one bounded driver-numpy codebook train
    (pq_train's 512-vector sample), one zero-shuffle argmax cell
    assignment, one bounded groupBy(vec_id) encode, and one shuffle
    on cent_id to lay the postings out as the inverted file. All paid
    ONCE per corpus snapshot."""

    def build(staging: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        coarse = ivf_trained_centroids(spark, sf_dir)
        pq = pq_train(emb)
        postings = ann_postings(emb, coarse, pq)
        coarse.coalesce(1).write.mode("overwrite").parquet(os.path.join(staging, "coarse"))
        pq.coalesce(1).write.mode("overwrite").parquet(os.path.join(staging, "codebooks"))
        (
            postings.repartition("cent_id")
            .write.mode("overwrite")
            .partitionBy("cent_id")
            .parquet(os.path.join(staging, "postings"))
        )

    meta = {"version": INDEX_VERSION, "pq_m": PQ_M, "pq_ksub": PQ_KSUB, "source": sf_dir}
    return ensure_tree(ANN.dir(sf_dir), sf_dir, "meta.json", meta, build)


def read_ann_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(coarse, codebooks, postings) for ``sf_dir``, building the
    artifact first if absent. The published tree is immutable, so each
    part's schema is inferred once per session."""
    path = build_ann_index(spark, sf_dir)
    coarse = read_parquet(spark, os.path.join(path, "coarse"))
    books = read_parquet(spark, os.path.join(path, "codebooks"))
    return coarse, books, read_postings(spark, path)


def read_postings(spark: SparkSession, tree: str, *extra: str) -> DataFrame:
    """(vec_id, codes, cent_id, *extra) of the published ANN tree at
    ``tree``, read from its ``postings/`` through
    ``catalog.read_parquet``. cent_id comes back as a PARTITION column
    (directory-derived int) — cast to long so joins against the coarse
    centroid ids stay cast-free."""
    return read_parquet(spark, os.path.join(tree, "postings")).select(
        "vec_id", "codes", F.col("cent_id").cast("long").alias("cent_id"), *extra
    )


def serve_with_adc_referee(
    emb: DataFrame,
    emb_surv: DataFrame,
    comp_postings: DataFrame,
    yardstick_postings: DataFrame,
    coarse: DataFrame,
    books: DataFrame,
    out_col: str = "adc_bitmatch_vs_main",
) -> tuple[DataFrame, DataFrame]:
    """The one survivor-serve + ADC-bit-equality-referee body of every
    frozen-structure replay gate: run the verbatim probe -> ADC ->
    shortlist -> exact-rerank chain over ``emb_surv``'s candidate world
    from ``comp_postings``, and referee every probed-cell ADC score
    from that store against the same chain over ``yardstick_postings``
    — count-equal both directions, every (query_id, vec_id) joined,
    every score IEEE-bit-equal. Returns (served, one-row audit frame
    named ``out_col``). ``emb`` supplies the query slot (vec_id < 4),
    whose exclusion is applied to BOTH postings frames here, so
    tombstone/survivor filters compose by pre-filtering the frames."""
    from game_data_etl_pipeline_spark.llmdata.audits import bitmatch_audit

    comp_cands = comp_postings.filter(F.col("vec_id") >= 4)
    yard_cands = yardstick_postings.filter(F.col("vec_id") >= 4)
    served = ivfpq_serve_stages(emb_surv, comp_cands, coarse, books)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    adc_served = ivfpq_adc_scored(
        queries, comp_cands, coarse, books, probes=IVFPQ_PROBES
    )
    adc_yard = ivfpq_adc_scored(
        queries, yard_cands, coarse, books, probes=IVFPQ_PROBES
    )
    audit = bitmatch_audit(
        adc_served, adc_yard, ["query_id", "vec_id"], "adc_sqdist", out_col
    )
    return served, audit


@register(
    "op_sim_index_build",
    tags=("llm", "similarity", "index"),
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_indexed,
               CAST(16 AS BIGINT) AS pq_m,
               CAST(16 AS BIGINT) AS pq_ksub,
               TRUE AS full_coverage,
               TRUE AS fixed_cell_bound,
               TRUE AS codebook_complete
        FROM embeddings
    """,
)
def op_sim_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The offline index-build job as a registered, value-oracled
    query: ensure the IVF-PQ artifact exists (building it if absent),
    then AUDIT the persisted files themselves — the output is computed
    from what was written to disk, not from the in-memory frames that
    produced it, so a row that went missing in the write would fail
    the oracle.

    - ``n_indexed``: postings rows, hash-compared against the corpus
      count (every vector must be indexed).
    - ``full_coverage``: postings cover every vec_id exactly once and
      every code array is exactly PQ_M long.
    - ``fixed_cell_bound``: 0 < #non-empty cells <= k=8 — the
      partition count of the inverted file is bounded by the trained
      k, independent of corpus size.
    - ``codebook_complete``: exactly PQ_M * PQ_KSUB codebook rows,
      PQ_M distinct subspaces, codes spanning [0, PQ_KSUB).

    Training determinism (seeded Lloyd, vec_id-sorted sample,
    lowest-code tie-breaks) makes rebuilds bit-identical, so the
    audit is stable across SFs and rounds."""
    from game_data_etl_pipeline_spark.llmdata.cluster import K

    coarse, books, postings = read_ann_index(spark, sf_dir)
    n_emb = (
        load_table(spark, sf_dir, "embeddings")
        .agg(F.count(F.lit(1)).alias("n_emb"))
    )
    pstats = postings.agg(
        F.count(F.lit(1)).alias("n_indexed"),
        F.countDistinct("vec_id").alias("n_distinct"),
        F.countDistinct("cent_id").alias("n_cells"),
        F.min(F.size("codes")).alias("min_m"),
        F.max(F.size("codes")).alias("max_m"),
    )
    bstats = books.agg(
        F.count(F.lit(1)).alias("n_book_rows"),
        F.countDistinct("sub_id").alias("n_subs"),
        F.min("code").alias("min_code"),
        F.max("code").alias("max_code"),
    )
    return (
        pstats.join(F.broadcast(n_emb))
        .join(F.broadcast(bstats))
        .select(
            "n_indexed",
            F.lit(PQ_M).cast("long").alias("pq_m"),
            F.lit(PQ_KSUB).cast("long").alias("pq_ksub"),
            (
                (F.col("n_indexed") == F.col("n_emb"))
                & (F.col("n_distinct") == F.col("n_emb"))
                & (F.col("min_m") == PQ_M)
                & (F.col("max_m") == PQ_M)
            ).alias("full_coverage"),
            ((F.col("n_cells") > 0) & (F.col("n_cells") <= F.lit(K))).alias(
                "fixed_cell_bound"
            ),
            (
                (F.col("n_book_rows") == PQ_M * PQ_KSUB)
                & (F.col("n_subs") == PQ_M)
                & (F.col("min_code") == 0)
                & (F.col("max_code") == PQ_KSUB - 1)
            ).alias("codebook_complete"),
        )
    )


@register(
    "op_sim_ivfpq_serve",
    tags=("llm", "similarity", "index"),
    setup=(build_ann_index,),
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
               TRUE AS recall_floor_met
        FROM q, c
        GROUP BY query_id
    """,
)
def op_sim_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time IVF-PQ against the PERSISTED index — what a serving
    tier actually runs per query batch, with zero training cost:
    probe the top-2 coarse cells per query, ADC-score only postings
    whose cell id matches a probed cell, exact-rerank the shortlist
    (``ivfpq_serve_stages``, the stage chain shared verbatim with
    op_sim_ivfpq so the two ops cannot drift).

    vs op_sim_ivfpq, whose 5.3 s sf0.1 median was dominated by the
    in-query coarse Lloyd + codebook train: this op reads 3 parquet
    artifacts instead (8 + 256 + n rows) — measured 0.6-0.9 s warm at
    sf0.1, ~7x under the train-inline form, and the gap grows with
    corpus size since training amortizes while serving stays bounded.
    Same oracle and audits as op_sim_ivfpq: within-bound counts
    hash-compare against DuckDB; ``pruned_scan`` asserts strictly
    fewer postings scored than exist; ``recall_floor_met`` asserts
    the final top-10 recalls >= 40% of the exact top-10 (the audits'
    exact scan exists to VERIFY, not to serve).

    The fixture's queries (vec_id < 4) are corpus members, so the
    index — which covers the whole corpus, queries included — is
    filtered to vec_id >= 4 at serve time; an external query set
    would skip the filter."""
    coarse, books, postings = read_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return ivfpq_serve_stages(emb, postings.filter(F.col("vec_id") >= 4), coarse, books)


def ensure_upsert_tree(spark: SparkSession, sf_dir: str) -> str:
    """Build (idempotently) the upsert tree: every corpus vector
    encoded once (``ann_postings``) against the main build's coarse
    centroids and codebooks, which an upsert never retrains, and
    written in one partitioned write as
    ``postings/seg=<s>/cent_id=<c>``. Segment 0 is the base
    (vec_id < max * 4 div 5) and segment 1 the delta
    (``upsert_segments``), the layout a streamed store's epochs give,
    so each non-empty cell holds one file per segment: the shape
    op_sim_index_compact merges."""

    def build(staging: str) -> None:
        coarse, books, _ = read_ann_index(spark, sf_dir)
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        postings = ann_postings(upsert_segments(emb, "vec_id"), coarse, books, "seg")
        write_segmented(postings, "cent_id", os.path.join(staging, "postings"))

    return ensure_tree(
        ANN.dir(sf_dir, "upsert"), sf_dir, "upsert_done.json", {"version": INDEX_VERSION}, build
    )


@register(
    "op_sim_index_upsert",
    tags=("llm", "similarity", "index"),
    oracle="""
        WITH b AS (
            SELECT (MAX(vec_id) * 4) // 5 AS split FROM embeddings
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(COUNT(*) FILTER (WHERE vec_id < split) AS BIGINT) AS n_base,
               CAST(COUNT(*) FILTER (WHERE vec_id >= split) AS BIGINT) AS n_delta,
               TRUE AS full_coverage_after_upsert,
               TRUE AS encode_consistent,
               TRUE AS no_retraining
        FROM embeddings, b
    """,
)
def op_sim_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL index maintenance — the freshness half of the
    build/serve split: when a delta batch of vectors arrives, a real
    100 TB index does NOT retrain; it encodes the delta against the
    EXISTING trained structure (coarse centroids + codebooks are
    read-only artifacts) and lands its postings as a new segment,
    partition-aligned with the cent_id layout, without touching the
    base segment. Retraining per delta would be O(corpus) and would
    silently re-key every existing posting (cells move), i.e. a full
    rebuild wearing an upsert's name.

    Demo shape on the fixture: the upsert tree (``ensure_upsert_tree``)
    holds the base (vec_id < floor(0.8 * max)) as segment 0 and the
    delta as segment 1, both encoded against the PERSISTED codebooks
    and centroids of the main artifact. Idempotent per artifact
    fingerprint: a second run audits the existing tree.

    Audited on the PERSISTED upsert tree (n_base / n_delta count its
    segments):
    - ``full_coverage_after_upsert``: base+delta postings cover every
      corpus vec_id exactly once;
    - ``encode_consistent``: every row's (cent_id, codes) is
      bit-identical to the main build's encode of the same vector
      (joins postings-vs-main on vec_id);
    - ``no_retraining``: the codebook artifact on disk is row-for-row
      unchanged after the upsert (count + per-row equi-join against
      its pre-upsert localCheckpoint copy)."""
    _, books, main_postings = read_ann_index(spark, sf_dir)
    # snapshot the codebook BEFORE the upsert runs, for no_retraining
    books_before = books.localCheckpoint(eager=True)
    demo = ensure_upsert_tree(spark, sf_dir)

    after = read_postings(spark, demo, "seg")
    cov = after.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("vec_id").alias("n_distinct"),
        F.sum(F.when(F.col("seg") == 0, 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(F.col("seg") == 1, 1).otherwise(0)).alias("n_delta"),
    )
    n_emb = load_table(spark, sf_dir, "embeddings").agg(F.count(F.lit(1)).alias("n_emb"))
    consistent = (
        after.join(
            main_postings.select(
                "vec_id", F.col("codes").alias("m_codes"), F.col("cent_id").alias("m_cent_id")
            ),
            "vec_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_joined"),
            F.sum(
                F.when(
                    (F.col("cent_id") == F.col("m_cent_id"))
                    & (F.col("codes") == F.col("m_codes")),
                    1,
                ).otherwise(0)
            ).alias("n_identical"),
        )
    )
    book_stable = (
        books.join(
            F.broadcast(books_before.withColumnRenamed("ce", "ce_before")),
            ["sub_id", "code"],
        )
        .agg(
            F.count(F.lit(1)).alias("n_book"),
            F.sum(
                F.when(F.col("ce") == F.col("ce_before"), 1).otherwise(0)
            ).alias("n_book_same"),
        )
    )
    return (
        cov.join(F.broadcast(n_emb))
        .join(F.broadcast(consistent))
        .join(F.broadcast(book_stable))
        .select(
            "n_total",
            "n_base",
            "n_delta",
            (
                (F.col("n_total") == F.col("n_emb"))
                & (F.col("n_distinct") == F.col("n_emb"))
            ).alias("full_coverage_after_upsert"),
            (
                (F.col("n_joined") == F.col("n_total"))
                & (F.col("n_identical") == F.col("n_total"))
            ).alias("encode_consistent"),
            (
                (F.col("n_book") == PQ_M * PQ_KSUB)
                & (F.col("n_book_same") == F.col("n_book"))
            ).alias("no_retraining"),
        )
    )


def ensure_compact_tree(spark: SparkSession, sf_dir: str) -> str:
    """The upsert tree with the ``tomb_residue`` tombstones dropped,
    rewritten one segment per cell (``ensure_compacted_tree``). Shared
    by op_sim_index_compact (which audits the rewrite) and
    op_sim_ivfpq_serve_compacted (which serves from it)."""
    demo = ensure_upsert_tree(spark, sf_dir)
    return ensure_compacted_tree(spark, sf_dir, ANN, ANN_POSTINGS, demo, "compact")


@register(
    "op_sim_index_compact",
    tags=("llm", "similarity", "index"),
    setup=(ensure_upsert_tree,),
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
               CAST(COUNT(*) FILTER (WHERE vec_id % 17 = 3) AS BIGINT) AS n_tombstoned,
               CAST(COUNT(*) FILTER (WHERE vec_id % 17 != 3) AS BIGINT) AS n_after,
               TRUE AS tombstones_dropped,
               TRUE AS survivors_identical,
               TRUE AS segments_merged
        FROM embeddings
    """,
)
def op_sim_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETES + COMPACTION — the index-lifecycle step after
    build/upsert/stream-append: real vector stores tombstone deleted
    vectors and periodically merge small append segments (the
    Milvus/FAISS segment merge; Lucene's forceMerge is the lexical
    twin). Input is the upsert tree, which holds TWO parquet segments
    per non-empty cell (seg=0 base, seg=1 delta); the tombstone set is
    the deterministic pmod(vec_id,17)==3 slice (~6%). Compaction reads
    the postings once, drops tombstoned rows, and rewrites ONE segment
    per cell into a fresh tree — never mutating the input tree, so a
    crash mid-compaction leaves the old index serving.

    Audited on the PERSISTED trees (counts hash-compare vs DuckDB):
    - ``n_before`` / ``n_tombstoned`` / ``n_after``: postings rows in
      the input tree, rows matching the tombstone predicate, rows
      surviving — the input tree covers every corpus vector exactly
      once (op_sim_index_upsert's full_coverage), so DuckDB replays
      all three from the embeddings table.
    - ``tombstones_dropped``: zero tombstoned ids remain in the
      compacted tree and its row count is exactly n_before -
      n_tombstoned.
    - ``survivors_identical``: every surviving (vec_id, codes,
      cent_id) is bit-identical across the trees — compaction moved
      bytes, never re-encoded (the serve-equality pytest additionally
      pins bit-equal ADC serving, tests/test_llmdata.py).
    - ``segments_merged``: the compacted tree holds strictly fewer
      parquet files than the input (measured 2 segments/cell -> 1) —
      filesystem metadata, measured in the driver and emitted as a
      literal.

    At 100 TB compaction is the same plan per cell-range: partition
    pruning scopes the read to the cells being compacted, survivors
    stream through one shuffle-free rewrite per cell, and the atomic
    rename swaps readers to the merged segments."""
    demo = ensure_upsert_tree(spark, sf_dir)
    comp = ensure_compact_tree(spark, sf_dir)
    tomb = tomb_residue("vec_id")

    before = read_postings(spark, demo)
    after = read_postings(spark, comp).select(
        "vec_id", F.col("codes").alias("a_codes"), F.col("cent_id").alias("a_cent_id")
    )
    merged = segments_merged(os.path.join(demo, "postings"), os.path.join(comp, "postings"))
    bstats = before.agg(
        F.count(F.lit(1)).alias("n_before"),
        F.sum(F.when(tomb, 1).otherwise(0)).alias("n_tombstoned"),
    )
    astats = after.agg(
        F.count(F.lit(1)).alias("n_after_actual"),
        F.sum(F.when(tomb, 1).otherwise(0)).alias("n_tomb_left"),
    )
    ident = after.join(before, "vec_id").agg(
        F.count(F.lit(1)).alias("n_joined"),
        F.sum(
            F.when(
                (F.col("a_codes") == F.col("codes"))
                & (F.col("a_cent_id") == F.col("cent_id")),
                1,
            ).otherwise(0)
        ).alias("n_same"),
    )
    return (
        bstats.join(F.broadcast(astats))
        .join(F.broadcast(ident))
        .select(
            "n_before",
            "n_tombstoned",
            (F.col("n_before") - F.col("n_tombstoned")).alias("n_after"),
            (
                (F.col("n_tomb_left") == 0)
                & (F.col("n_after_actual") == F.col("n_before") - F.col("n_tombstoned"))
            ).alias("tombstones_dropped"),
            (
                (F.col("n_joined") == F.col("n_after_actual"))
                & (F.col("n_same") == F.col("n_after_actual"))
            ).alias("survivors_identical"),
            F.lit(merged).alias("segments_merged"),
        )
    )


@register(
    "op_sim_ivfpq_serve_compacted",
    tags=("llm", "similarity", "index"),
    # op_sim_ivfpq_serve's oracle RE-DERIVED over the surviving corpus
    # (embeddings WHERE vec_id % 17 != 3): after deletes + compaction
    # the index must serve the survivor world, per-query values and all
    # — the value-level delete gate the lexical twin
    # (op_lex_index_delete_compact) set the standard for.
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id < 4
        ),
        c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
            FROM embeddings WHERE vec_id >= 4 AND vec_id % 17 != 3
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
def op_sim_ivfpq_serve_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVING FROM THE COMPACTED TREE — the value-level delete gate
    for the ANN side, where op_sim_index_compact's oracle is counts
    and audit booleans: the full serve chain (probe -> ADC ->
    shortlist -> exact rerank, the verbatim ``ivfpq_serve_stages``)
    runs against the post-delete compacted postings, under
    op_sim_ivfpq_serve's oracle re-derived over
    ``embeddings WHERE vec_id % 17 != 3`` — per-query VALUES the
    driver hash-compares, not global counts.

    The trained structure (coarse centroids + codebooks) is FROZEN
    across delete/compact — deletes never retrain — so the compacted
    tree's ADC scores are exactly replayable from the ORIGINAL index:
    ``adc_bitmatch_vs_main`` (``serve_with_adc_referee``) holds every
    probed-cell ADC score from the compacted tree's codes IEEE-bit-equal
    to the score from the main build's codes restricted to survivors.
    DuckDB cannot replay trained codebooks, so this referee runs
    in-query while the oracle hashes what SQL can replay: the
    per-query survivor exact-neighborhood counts, plus the shared
    pruning/recall audits. A deleted corpus member (vec 3 is
    tombstoned) may still arrive as a QUERY — queries are external
    vectors; only the candidate world shrinks.

    At 100 TB this is the query path the morning after a GDPR purge
    ran overnight: same frozen router, same codebooks, strictly
    smaller postings — and this gate is what proves the purge did
    not perturb a single surviving score."""
    comp = ensure_compact_tree(spark, sf_dir)
    coarse, books, main_postings = read_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tomb = tomb_residue("vec_id")
    # the survivor world: candidates / rerank / exact-audit corpus all
    # exclude tombstoned ids; the query slot (vec_id < 4) stays intact.
    # Referee yardstick: the main build artifact restricted to
    # survivors — the shared serve_with_adc_referee body.
    served, audit = serve_with_adc_referee(
        emb,
        emb.filter((F.col("vec_id") < 4) | ~tomb),
        read_postings(spark, comp),
        main_postings.filter(~tomb),
        coarse,
        books,
    )
    return served.crossJoin(F.broadcast(audit))


def ensure_ann_e2e_tree(spark: SparkSession, sf_dir: str) -> str:
    """The COMPOSED-lifecycle end state for the ANN family: the
    upsert tree (build -> delta upsert) purged of the id LIST TOMB_IDS
    (the purge-request shape) and compacted one segment per cell
    (``ensure_compacted_tree``)."""
    demo = ensure_upsert_tree(spark, sf_dir)
    return ensure_compacted_tree(spark, sf_dir, ANN, ANN_POSTINGS, demo, "e2e", TOMB_IDS)


def ann_compact_serve(
    spark: SparkSession,
    sf_dir: str,
    src: str,
    comp: str,
    yardstick: DataFrame,
    adc_col: str,
    *audit_cols: str,
) -> DataFrame:
    """The one compact-and-serve gate of the ANN family, for a tree
    ``comp`` compacted from ``src`` under the TOMB_IDS purge (both
    trees hold ``postings/``, ``comp`` its purge ledger at its root).
    Serves the survivor world from ``comp`` through the verbatim
    probe -> ADC -> shortlist -> exact-rerank chain and returns the
    served rows crossJoined with the one-row audit, columns ``adc_col``
    then ``audit_cols``, chosen from:

    - ``adc_col``: every probed-cell ADC score from ``comp`` is
      IEEE-bit-equal, pair-for-pair with count equality both ways, to
      the score from the ``yardstick`` postings
      (``serve_with_adc_referee``);
    - ``tombstones_enforced`` and ``purge_ledger_consistent``
      (``purge_ledger_referee``): no TOMB_IDS row is left, the
      survivor count is ``src``'s minus the purge hits, and the ledger
      records the TOMB_IDS digest and the counts measured on the
      trees; a missing ledger raises;
    - ``segments_merged``: ``comp`` holds strictly fewer parquet files
      than ``src``."""
    coarse, books, _ = read_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    comp_postings = read_postings(spark, comp)
    # the query slot (vec_id < 4) stays external; the purged ids leave
    # the candidates, rerank and exact-audit corpus
    survivors = (F.col("vec_id") < 4) | ~F.col("vec_id").isin(*TOMB_IDS)
    served, adc = serve_with_adc_referee(
        emb, emb.filter(survivors), comp_postings, yardstick, coarse, books, out_col=adc_col
    )
    src_postings = os.path.join(src, "postings")
    purge = purge_ledger_referee(
        spark,
        comp,
        read_parquet(spark, src_postings).select("vec_id"),
        comp_postings.select("vec_id"),
        "vec_id",
    )
    merged = segments_merged(src_postings, os.path.join(comp, "postings"))
    audit = adc.crossJoin(F.broadcast(purge)).withColumn("segments_merged", F.lit(merged))
    return served.crossJoin(F.broadcast(audit.select(adc_col, *audit_cols)))


@register(
    "op_sim_lifecycle_e2e",
    tags=("llm", "similarity", "index"),
    setup=(ensure_ann_e2e_tree,),
    # op_sim_ivfpq_serve's oracle re-derived over the NET corpus of the
    # composed lifecycle — every corpus vector upserted, the TOMB_IDS
    # purge list removed — plus the three audit literals. The id list
    # in the SQL is generated from the same TOMB_IDS constant the
    # compactor anti-joins, so the two sides cannot drift.
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
               TRUE AS adc_bitmatch_vs_fresh_encode,
               TRUE AS tombstones_enforced,
               TRUE AS purge_ledger_consistent,
               TRUE AS segments_merged
        FROM q, c
        GROUP BY query_id
    """,
)
def op_sim_lifecycle_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE FULL LIFECYCLE COMPOSED ON ONE LINEAGE: where each transition
    (build->upsert, upsert->compact, stream->serve) has its own gate,
    this op walks ONE tree through build -> delta upsert -> id-list
    tombstone -> compact -> serve and holds the END STATE to a fresh
    encode of the net corpus. The tombstones here are an explicit id
    LIST (TOMB_IDS — the GDPR-purge / takedown-set shape), anti-joined
    by the shared ``compact_postings``, not the residue predicate the
    per-transition gates use.

    Gate: ``ann_compact_serve`` serves from the e2e tree under
    op_sim_ivfpq_serve's oracle re-derived over ``embeddings WHERE
    vec_id NOT IN TOMB_IDS`` — per-query VALUES the driver
    hash-compares — with its referees ``tombstones_enforced``,
    ``purge_ledger_consistent`` and ``segments_merged`` (fewer files
    than the 2-segments-per-cell upsert tree), and
    ``adc_bitmatch_vs_fresh_encode``: the ADC referee's yardstick is
    the survivors RE-ENCODED FROM THEIR RAW EMBEDDINGS through the
    frozen trained structure (``ann_postings``) — "end state == fresh
    build over net survivors" stated as strongly as ANN semantics
    allow (a true from-scratch build would retrain the router on the
    survivor corpus; deletes must NOT retrain, so the frozen-structure
    fresh encode IS the correct rebuild yardstick). The yardstick
    never touches the lineage's bytes.

    At 100 TB this is the whole index lifecycle as it actually runs:
    builds amortize, deltas land as new segments, purges arrive as id
    lists and anti-join map-side (the list broadcasts — it is a
    request, not a corpus), the nightly merge rewrites survivors
    per-cell shuffle-free, and the morning's queries are provably
    the queries a fresh index would serve."""
    demo = ensure_upsert_tree(spark, sf_dir)
    e2e = ensure_ann_e2e_tree(spark, sf_dir)
    coarse, books, _ = read_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fresh = ann_postings(
        emb.filter((F.col("vec_id") >= 4) & ~F.col("vec_id").isin(*TOMB_IDS)), coarse, books
    )
    return ann_compact_serve(
        spark,
        sf_dir,
        demo,
        e2e,
        fresh,
        "adc_bitmatch_vs_fresh_encode",
        "tombstones_enforced",
        "purge_ledger_consistent",
        "segments_merged",
    )


# --- size-tiered segment-merge POLICY ------------------------------

# The merge policy's knob: merge the K smallest segments per pass —
# the size-tiered idiom (Cassandra/RocksDB STCS, Lucene's
# TieredMergePolicy) a 100 TB index actually runs, where full-tree
# compaction (op_sim_index_compact) is the special case K = all.
MERGE_POLICY_K = 2

# completion marker + manifest names for the policy demo trees
MERGE_MANIFEST = "_merge_manifest.json"


def pick_size_tiered(seg_rows: dict[int, int], k: int = MERGE_POLICY_K) -> list[int]:
    """The POLICY, isolated and pure: given {segment id -> row count},
    pick the K segments to merge — smallest first, segment id as the
    deterministic tiebreak. Everything else in this family is
    mechanism (rewrite + copy + evidence); this function is the part
    a production store would swap out (size-tiered today, leveled or
    time-windowed tomorrow) — unit-tested directly in
    tests/test_llmdata.py::test_pick_size_tiered."""
    return [s for s, _n in sorted(seg_rows.items(), key=lambda kv: (kv[1], kv[0]))[:k]]


def _merge_seg_expr() -> F.Column:
    """Deterministic 4-segment assignment for the policy demo tree:
    vec_id ranges sized ~50/25/15/10% (bounds are integer arithmetic
    on max(vec_id), joined in broadcast as ``b0/b1/b2``), so the
    size-tiered policy has a real size gradient to act on and DuckDB
    replays the same CASE bit-for-bit."""
    return (
        F.when(F.col("vec_id") < F.col("b0"), F.lit(0))
        .when(F.col("vec_id") < F.col("b1"), F.lit(1))
        .when(F.col("vec_id") < F.col("b2"), F.lit(2))
        .otherwise(F.lit(3))
        .cast("int")
    )


def _merge_bounds(emb: DataFrame) -> DataFrame:
    """The three integer segment bounds off max(vec_id) — one 1-row
    frame, broadcast into the per-row CASE."""
    return emb.agg(
        F.expr("max(vec_id) div 2").cast("long").alias("b0"),
        F.expr("max(vec_id) * 3 div 4").cast("long").alias("b1"),
        F.expr("max(vec_id) * 9 div 10").cast("long").alias("b2"),
    ).localCheckpoint(eager=True)


# the same bounds/CASE as SQL, shared by the oracle so the two sides
# cannot drift (the BM25_CTES f-string-composition convention)
MERGE_SEG_CTES = """
        WITH b AS (
            SELECT MAX(vec_id) // 2 AS b0,
                   MAX(vec_id) * 3 // 4 AS b1,
                   MAX(vec_id) * 9 // 10 AS b2
            FROM embeddings
        ),
        seg AS (
            SELECT vec_id,
                   CASE WHEN vec_id < b0 THEN 0
                        WHEN vec_id < b1 THEN 1
                        WHEN vec_id < b2 THEN 2
                        ELSE 3 END AS seg
            FROM embeddings, b
        )"""


def ensure_merge_base_tree(spark: SparkSession, sf_dir: str) -> str:
    """Build (idempotently) the merge-policy demo INPUT tree: the main
    artifact's postings re-laid-out as FOUR explicit segments
    (partitionBy(seg, cent_id); seg = the deterministic ~50/25/15/10%
    vec_id ranges) — the multi-generation segment pile a streaming
    ingest leaves behind, with segment identity row-visible so the
    policy, the referees, and the DuckDB oracle all read the same
    fact. One file per (seg, cell): the repartition matches the
    partitionBy, so file counts are the segment counts."""

    def build(staging: str) -> None:
        _, _, postings = read_ann_index(spark, sf_dir)
        bounds = _merge_bounds(load_table(spark, sf_dir, "embeddings").select("vec_id"))
        write_segmented(
            postings.join(F.broadcast(bounds))
            .withColumn("seg", _merge_seg_expr())
            .drop("b0", "b1", "b2"),
            "cent_id",
            os.path.join(staging, "postings"),
        )

    return ensure_tree(
        ANN.dir(sf_dir, "mergebase"),
        sf_dir,
        "merge_base_done.json",
        {"version": INDEX_VERSION, "n_segments": 4},
        build,
    )


def _seg_dir_digests(postings_dir: str, segs) -> dict[str, str]:
    """{relative path -> sha256} for every parquet file under the
    given seg=N subtrees — the byte-identity evidence for UNTOUCHED
    segments (bounded: demo trees hold one file per (seg, cell); a
    100 TB store compares manifest etags, same contract)."""
    import hashlib

    out: dict[str, str] = {}
    for seg in segs:
        seg_root = os.path.join(postings_dir, f"seg={seg}")
        for root, _dirs, files in os.walk(seg_root):
            for fname in sorted(files):
                if not fname.endswith(".parquet"):
                    continue
                p = os.path.join(root, fname)
                h = hashlib.sha256()
                with open(p, "rb") as f:
                    for chunk in iter(lambda: f.read(1 << 20), b""):
                        h.update(chunk)
                out[os.path.relpath(p, postings_dir)] = h.hexdigest()
    return out


def ensure_merge_policy_tree(spark: SparkSession, sf_dir: str) -> str:
    """Apply the size-tiered policy ONCE to the 4-segment base tree
    (idempotent): pick the MERGE_POLICY_K smallest segments by
    persisted row count, rewrite exactly those into ONE new segment
    (seg id = max + 1, one file per cell), and carry every untouched
    segment over BYTE-FOR-BYTE (os-level file copy — at 100 TB a
    metadata move / hardlink, never a data rewrite: the whole point
    of a policy is that merge cost tracks the SMALL segments, not the
    tree). The merge MANIFEST (segment row counts, picked set, row
    arithmetic, untouched-file digests) is written in the same
    staging transaction — the purge-ledger evidence discipline for a
    merge that deletes nothing but must prove it moved (and only
    moved) what the policy chose. A tree without its manifest is
    rebuilt."""
    base = ensure_merge_base_tree(spark, sf_dir)

    def build(staging: str) -> None:
        src_postings = os.path.join(base, "postings")
        src = read_parquet(spark, src_postings).select(
            "vec_id", "codes", "cent_id", F.col("seg").cast("int").alias("seg")
        )
        seg_rows = {
            int(r["seg"]): int(r["n"])
            for r in src.groupBy("seg").agg(F.count(F.lit(1)).alias("n")).collect()
        }  # bounded collect: one row per segment (4 here), never data
        picked = pick_size_tiered(seg_rows, MERGE_POLICY_K)
        untouched = sorted(s for s in seg_rows if s not in picked)
        new_seg = max(seg_rows) + 1
        stage_post = os.path.join(staging, "postings")
        (
            src.filter(F.col("seg").isin(*[int(s) for s in picked]))
            .withColumn("seg", F.lit(int(new_seg)).cast("int"))
            .repartition("cent_id")
            .write.mode("overwrite")
            .partitionBy("seg", "cent_id")
            .parquet(stage_post)
        )
        # untouched segments: byte-for-byte carry-over, never re-read
        # through Spark (a rewrite would re-encode row groups and
        # break the byte-identity contract)
        for seg in untouched:
            shutil.copytree(
                os.path.join(src_postings, f"seg={seg}"),
                os.path.join(stage_post, f"seg={seg}"),
            )
        n_after = spark.read.parquet(stage_post).count()
        with open(os.path.join(stage_post, MERGE_MANIFEST), "w") as f:
            json.dump(
                {
                    "version": 1,
                    "policy": "size_tiered",
                    "k": MERGE_POLICY_K,
                    "seg_rows": {str(s): n for s, n in sorted(seg_rows.items())},
                    "picked": [int(s) for s in picked],
                    "new_seg": int(new_seg),
                    "n_before": int(sum(seg_rows.values())),
                    "n_merged_rows": int(sum(seg_rows[s] for s in picked)),
                    "n_after": int(n_after),
                    "untouched_digests": _seg_dir_digests(src_postings, untouched),
                },
                f,
            )

    return ensure_tree(
        ANN.dir(sf_dir, "mergepolicy"),
        sf_dir,
        "merge_done.json",
        {"version": INDEX_VERSION},
        build,
        valid=(lambda p: os.path.isfile(os.path.join(p, "postings", MERGE_MANIFEST)),),
    )


@register(
    "op_sim_index_merge_policy",
    tags=("llm", "similarity", "index"),
    setup=(ensure_merge_policy_tree,),
    # counts replay from the embeddings table through the shared seg
    # CTE (the base tree covers every corpus vector exactly once, the
    # op_sim_index_upsert coverage precedent); the demo's size
    # gradient makes segments {3, 2} the K=2 smallest, so the oracle's
    # seg IN (2, 3) filter IS the policy check at value level — a
    # policy that picked any other pair hash-mismatches n_merged_rows.
    oracle=MERGE_SEG_CTES
    + """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
               CAST(COUNT(*) FILTER (WHERE seg IN (2, 3)) AS BIGINT) AS n_merged_rows,
               CAST(COUNT(*) AS BIGINT) AS n_after,
               CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_segments_before,
               CAST(COUNT(DISTINCT seg) - 1 AS BIGINT) AS n_segments_after,
               TRUE AS picked_smallest_k,
               TRUE AS rows_conserved,
               TRUE AS merged_rows_identical,
               TRUE AS untouched_segments_byte_identical,
               TRUE AS manifest_consistent,
               TRUE AS files_reduced
        FROM seg
    """,
)
def op_sim_index_merge_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIZE-TIERED SEGMENT-MERGE POLICY — the LSM maintenance idiom a
    100 TB index actually runs: the lifecycle's
    compaction verbs (op_sim_index_compact, the e2e lineages) always
    rewrite the FULL tree; a production store (RocksDB/Cassandra STCS,
    Lucene TieredMergePolicy, Milvus segment merge) instead picks the
    K smallest segments each pass, merges ONLY those, and never
    touches the rest — merge cost tracks the small segments while the
    big, cold ones age in place. Mechanism reuses the family's
    established parts: explicit segment identity in the layout
    (partitionBy(seg, cent_id)), a staged atomic publish, and a
    manifest written in the same transaction as the merge (the
    purge-ledger evidence shape, for a verb that must prove it moved
    — and only moved — what the policy chose).

    Input: the 4-segment base tree (deterministic ~50/25/15/10%
    vec_id ranges of the main artifact's postings — row-visible seg,
    so policy, referees, and the DuckDB oracle all read one fact).
    ``pick_size_tiered`` (pure, unit-tested) picks K=2 by (rows ASC,
    seg ASC) -> {3, 2}; the merge rewrites those into segment 4, one
    file per cell, and carries segments 0/1 over byte-for-byte.

    Value-hashed vs DuckDB: n_before / n_merged_rows / n_after /
    n_segments_before / n_segments_after, all measured on the
    PERSISTED trees and replayed by the oracle through the shared
    MERGE_SEG_CTES — n_merged_rows pins WHICH segments the policy
    picked, not just how many rows moved. Audit booleans (TRUE
    literals in the oracle, computed here for real):

    - ``picked_smallest_k``: re-derives the pick from the persisted
      per-segment counts and compares to the manifest's record;
    - ``rows_conserved``: a merge deletes nothing — per-vec_id
      equi-join between the trees, every row accounted for;
    - ``merged_rows_identical``: every row of the new segment is
      bit-identical (codes, cent_id) to its source row — bytes moved,
      never re-encoded (the survivors_identical discipline);
    - ``untouched_segments_byte_identical``: sha256 of every parquet
      file in segments 0/1 equals the manifest's recorded source
      digests AND the sets of relative paths match — the carry-over
      copied files, it did not rewrite them;
    - ``manifest_consistent``: the manifest's arithmetic holds
      (n_before = sum of seg_rows, n_merged = sum of picked,
      n_after = n_before) and matches the measured counts;
    - ``files_reduced``: the merged tree holds strictly fewer parquet
      files than the base (K cell-files collapse into one per cell).

    At 100 TB each pass is the same bounded plan: partition pruning
    scopes the read to the K picked segments, survivors stream
    through one per-cell rewrite, untouched segments are metadata
    moves, and the atomic rename swaps readers to the merged tree."""
    base = ensure_merge_base_tree(spark, sf_dir)
    merged = ensure_merge_policy_tree(spark, sf_dir)
    with open(os.path.join(merged, "postings", MERGE_MANIFEST)) as f:
        man = json.load(f)

    before = read_parquet(spark, os.path.join(base, "postings")).select(
        "vec_id", "codes", "cent_id", F.col("seg").cast("int").alias("seg")
    )
    after = read_parquet(spark, os.path.join(merged, "postings")).select(
        F.col("vec_id").alias("a_vec_id"),
        F.col("codes").alias("a_codes"),
        F.col("cent_id").alias("a_cent_id"),
        F.col("seg").cast("int").alias("a_seg"),
    )
    seg_rows = {
        int(r["seg"]): int(r["n"])
        for r in before.groupBy("seg").agg(F.count(F.lit(1)).alias("n")).collect()
    }  # bounded: one row per segment
    picked = pick_size_tiered(seg_rows, MERGE_POLICY_K)
    untouched = sorted(s for s in seg_rows if s not in picked)
    new_seg = max(seg_rows) + 1

    # driver-side referees (filesystem facts -> literals)
    dig_now = _seg_dir_digests(os.path.join(base, "postings"), untouched)
    dig_merged_tree = _seg_dir_digests(os.path.join(merged, "postings"), untouched)
    untouched_ok = (
        dig_now == man["untouched_digests"] == dig_merged_tree and len(dig_now) > 0
    )
    files_reduced = segments_merged(
        os.path.join(base, "postings"), os.path.join(merged, "postings")
    )
    manifest_ok = (
        man["policy"] == "size_tiered"
        and man["k"] == MERGE_POLICY_K
        and man["picked"] == [int(s) for s in picked]
        and man["new_seg"] == new_seg
        and {int(k): v for k, v in man["seg_rows"].items()} == seg_rows
        and man["n_before"] == sum(seg_rows.values())
        and man["n_merged_rows"] == sum(seg_rows[s] for s in picked)
        and man["n_after"] == man["n_before"]
    )

    # measured-count referees on the persisted trees
    bstats = before.agg(
        F.count(F.lit(1)).alias("n_before"),
        F.sum(
            F.when(F.col("seg").isin(*[int(s) for s in picked]), 1).otherwise(0)
        ).alias("n_merged_rows"),
        F.countDistinct("seg").alias("n_segments_before"),
    )
    astats = after.agg(
        F.count(F.lit(1)).alias("n_after_actual"),
        F.countDistinct("a_seg").alias("n_segments_after"),
        F.sum(F.when(F.col("a_seg") == new_seg, 1).otherwise(0)).alias("n_new_seg"),
    )
    # per-row accounting: every base row survives with identical
    # payload; picked rows land in the new segment, untouched rows
    # keep their segment
    ident = before.join(after, F.col("vec_id") == F.col("a_vec_id")).agg(
        F.count(F.lit(1)).alias("n_joined"),
        F.sum(
            F.when(
                (F.col("a_codes") == F.col("codes"))
                & (F.col("a_cent_id") == F.col("cent_id"))
                & (
                    F.col("a_seg")
                    == F.when(
                        F.col("seg").isin(*[int(s) for s in picked]),
                        F.lit(new_seg),
                    ).otherwise(F.col("seg"))
                ),
                1,
            ).otherwise(0)
        ).alias("n_accounted"),
    )
    return (
        bstats.join(F.broadcast(astats))
        .join(F.broadcast(ident))
        .select(
            "n_before",
            "n_merged_rows",
            F.col("n_after_actual").alias("n_after"),
            "n_segments_before",
            "n_segments_after",
            F.lit(picked == man["picked"]).alias("picked_smallest_k"),
            (
                (F.col("n_joined") == F.col("n_before"))
                & (F.col("n_after_actual") == F.col("n_before"))
            ).alias("rows_conserved"),
            (
                (F.col("n_accounted") == F.col("n_joined"))
                & (F.col("n_new_seg") == F.col("n_merged_rows"))
            ).alias("merged_rows_identical"),
            F.lit(bool(untouched_ok)).alias("untouched_segments_byte_identical"),
            F.lit(bool(manifest_ok)).alias("manifest_consistent"),
            F.lit(files_reduced).alias("files_reduced"),
        )
    )


@register(
    "op_sim_ivfpq_serve_merged",
    tags=("llm", "similarity", "index"),
    # op_sim_ivfpq_serve's oracle UNCHANGED over the FULL corpus: a
    # merge deletes nothing, so serving from the merged tree must
    # reproduce the main serve path value-for-value (contrast
    # op_sim_ivfpq_serve_compacted, whose oracle re-derives over the
    # survivor world) — plus the ADC bit-equality referee literal.
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
               TRUE AS adc_bitmatch_vs_base
        FROM q, c
        GROUP BY query_id
    """,
)
def op_sim_ivfpq_serve_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVING FROM THE POLICY-MERGED TREE — the value-level gate that
    makes the size-tiered pass (op_sim_index_merge_policy) invisible
    by construction, the op_sim_ivfpq_serve_compacted discipline with
    the OPPOSITE corpus contract: compaction serves the SURVIVOR
    world (its oracle re-derives over the non-tombstoned corpus); a
    merge deletes nothing, so this op serves under the main
    op_sim_ivfpq_serve oracle VERBATIM — same per-query values, full
    corpus — and any row the merge lost or re-encoded flips the value
    hash, not just an audit boolean.

    ``adc_bitmatch_vs_base`` (the shared serve_with_adc_referee body)
    additionally recomputes every probed-cell ADC score twice — once
    from the merged tree's codes, once from the 4-segment base tree's
    — and asserts the score sets are BIT-IDENTICAL pair-for-pair:
    the frozen trained structure replays exactly across the segment
    re-layout, the same morning-after guarantee the compacted gate
    gives for purges, here for maintenance merges.

    At 100 TB this is why a store can run its merge policy
    continuously under live traffic: readers atomically swap to the
    merged tree and observe not one changed score."""
    base = ensure_merge_base_tree(spark, sf_dir)
    merged = ensure_merge_policy_tree(spark, sf_dir)
    coarse, books, _ = read_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    served, audit = serve_with_adc_referee(
        emb,
        emb,
        read_postings(spark, merged),
        read_postings(spark, base),
        coarse,
        books,
        out_col="adc_bitmatch_vs_base",
    )
    return served.crossJoin(F.broadcast(audit))
