"""The composed retrieval chain: lexical and dense candidates, RRF
fusion and MMR diversification, for a batch of queries.

One chain. A batch is a ``{query_id: terms}`` dict: query ``i`` uses
vec ``i`` as its dense query and ``terms`` as its lexical query. A
single query is the one-query batch ``ONE_QUERY`` = ``{0:
BATCH_QUERY_TERMS[0]}``: the single-query ops run the batch chain with
it and drop ``query_id``. Per query, the chain takes the lexical and
the dense top-K_EACH over the embedded corpus, fuses them with
``similarity.fuse_rrf`` (k=60), keeps the fused top-K_FUSED and picks
K_OUT of them with ``similarity.mmr_select`` (lambda=0.5).

Two lexical sources, one scorer: ``lex_ranked_batch`` scores
``text.bm25_scored`` over one documents scan, ``lex_ranked_batch_served``
over bucket-pruned reads of the persisted inverted index; their parts
are the same integers, so their ranks agree bit for bit. Two dense
sources: the exact cosine scan of embeddings
(``exact_sem_ranked_batch``) and the persisted IVF-PQ index
(``ann_sem_ranked_batch``). ANN membership depends on trained codebooks
that no SQL engine replays, so an op with an ANN side returns the
deterministic lexical spine plus in-query audits
(``audited_pipeline``).

Checkpoint rule: ``localCheckpoint`` only a frame that two consumers
read, so that the second consumer does not recompute it.

Scale shape: every per-query rank is a window partitioned by query_id
with a WindowGroupLimit below its exchange (a per-query top-K heap,
never a global sort); every frame after candidate generation holds
|queries| * K rows. The corpus-scale stages are the documents scan
(or the pruned postings read) and the embeddings scans, pinned by
tests/test_plans.py.

Candidates come from the EMBEDDED corpus (doc_id present in
embeddings): at sf0.1 the documents table has 5000 docs but only 2000
embeddings, and a candidate without a vector cannot enter MMR's
diversity matrix. BM25's corpus statistics still cover every document.

The module also holds retrieval-adjacent ops built on the same
primitives: ``op_sim_hard_negatives`` (denoised contrastive-negative
mining), ``op_sim_filtered_topk`` / ``op_sim_filtered_ann_serve``
(metadata-filtered vector search), ``op_retrieval_eval_metrics`` and
the served late-interaction op.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from game_data_etl_pipeline_spark.catalog import load_table
from game_data_etl_pipeline_spark.llmdata import text as _text
from game_data_etl_pipeline_spark.llmdata.ann_index import build_ann_index, read_ann_index
from game_data_etl_pipeline_spark.llmdata.artifacts import TreeFamily, ensure_tree
from game_data_etl_pipeline_spark.llmdata.similarity import (
    IVFPQ_PROBES,
    IVFPQ_SHORTLIST,
    LATE_INTERACTION_ORACLE,
    _cosine_to_query0,
    _ranked,
    dot_expr,
    euclidean_expr,
    fuse_rrf,
    ivfpq_adc_scored,
    mmr_select,
    norm_expr,
)
from game_data_etl_pipeline_spark.registry import register

K_EACH = 20   # per-ranker candidate list
K_FUSED = 10  # fused candidates entering MMR
K_OUT = 5     # MMR selections returned

# the 3-query batch: query_id i uses vec i as its dense query and its
# own lexical term set. The Spark plan and the DuckDB oracle of every
# batch op are generated from a dict of this shape.
BATCH_QUERY_TERMS = {
    0: _text.BM25_TERMS,
    1: ("join", "hash", "merge"),
    2: ("filter", "scan", "column"),
}
# 8 queries over the fixture vocabulary; 0-2 repeat the 3-query sets,
# so shared terms are scored once and fanned out to several queries
BATCH_QUERY_TERMS_8 = {
    **BATCH_QUERY_TERMS,
    3: ("sort", "window", "group"),
    4: ("table", "row", "batch"),
    5: ("key", "value", "data"),
    6: ("query", "fast", "slow"),
    7: ("agg", "order", "part"),
}
# the single-query ops' batch
ONE_QUERY = {0: BATCH_QUERY_TERMS[0]}


# the 5 unrolled greedy MMR steps over the fused candidates — the
# op_sim_mmr oracle pattern with rel = 60*rrf and cands = fused10
_MMR_STEPS_SQL = """
        sel1 AS (
            SELECT doc_id, rel, 0.5 * rel AS m
            FROM cands ORDER BY rel DESC, doc_id LIMIT 1
        ),
        rem2 AS (
            SELECT c.doc_id, c.rel,
                   0.5 * c.rel - 0.5 * (SELECT MAX(p.sim) FROM pairs p
                                        WHERE p.d1 = c.doc_id
                                          AND p.d2 IN (SELECT doc_id FROM sel1)) AS m
            FROM cands c WHERE c.doc_id NOT IN (SELECT doc_id FROM sel1)
        ),
        sel2 AS (SELECT doc_id, rel, m FROM rem2 ORDER BY m DESC, doc_id LIMIT 1),
        rem3 AS (
            SELECT c.doc_id, c.rel,
                   0.5 * c.rel - 0.5 * (SELECT MAX(p.sim) FROM pairs p
                                        WHERE p.d1 = c.doc_id
                                          AND p.d2 IN (SELECT doc_id FROM sel1
                                                       UNION SELECT doc_id FROM sel2)) AS m
            FROM cands c WHERE c.doc_id NOT IN (SELECT doc_id FROM sel1
                                                UNION SELECT doc_id FROM sel2)
        ),
        sel3 AS (SELECT doc_id, rel, m FROM rem3 ORDER BY m DESC, doc_id LIMIT 1),
        rem4 AS (
            SELECT c.doc_id, c.rel,
                   0.5 * c.rel - 0.5 * (SELECT MAX(p.sim) FROM pairs p
                                        WHERE p.d1 = c.doc_id
                                          AND p.d2 IN (SELECT doc_id FROM sel1
                                                       UNION SELECT doc_id FROM sel2
                                                       UNION SELECT doc_id FROM sel3)) AS m
            FROM cands c WHERE c.doc_id NOT IN (SELECT doc_id FROM sel1
                                                UNION SELECT doc_id FROM sel2
                                                UNION SELECT doc_id FROM sel3)
        ),
        sel4 AS (SELECT doc_id, rel, m FROM rem4 ORDER BY m DESC, doc_id LIMIT 1),
        rem5 AS (
            SELECT c.doc_id, c.rel,
                   0.5 * c.rel - 0.5 * (SELECT MAX(p.sim) FROM pairs p
                                        WHERE p.d1 = c.doc_id
                                          AND p.d2 IN (SELECT doc_id FROM sel1
                                                       UNION SELECT doc_id FROM sel2
                                                       UNION SELECT doc_id FROM sel3
                                                       UNION SELECT doc_id FROM sel4)) AS m
            FROM cands c WHERE c.doc_id NOT IN (SELECT doc_id FROM sel1
                                                UNION SELECT doc_id FROM sel2
                                                UNION SELECT doc_id FROM sel3
                                                UNION SELECT doc_id FROM sel4)
        ),
        sel5 AS (SELECT doc_id, rel, m FROM rem5 ORDER BY m DESC, doc_id LIMIT 1)
"""


@register(
    "q_retrieval_pipeline",
    tags=("llm", "retrieval", "pipeline"),
    oracle=_text.BM25_CTES
    + """,
        lex AS (
            SELECT doc_id, lex_rank FROM (
                SELECT doc_id,
                       CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank
                FROM bm
                WHERE doc_id IN (SELECT vec_id FROM embeddings)
            ) WHERE lex_rank <= 20
        ),
        q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
        ),
        scoredsem AS (
            SELECT vec_id AS doc_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 4) AS cos
            FROM embeddings, q WHERE vec_id != 0
        ),
        sem AS (
            SELECT doc_id, sem_rank FROM (
                SELECT doc_id,
                       CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INT) AS sem_rank
                FROM scoredsem
            ) WHERE sem_rank <= 20
        ),
        fused AS (
            SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
                   ROUND(COALESCE(1.0 / (60 + lex_rank), 0.0)
                         + COALESCE(1.0 / (60 + sem_rank), 0.0), 6) AS rrf
            FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
        ),
        cands AS (
            SELECT doc_id, lex_rank, sem_rank, rrf, rrf * 60 AS rel
            FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
        ),
        pairs AS (
            SELECT a.vec_id AS d1, b.vec_id AS d2,
                   ROUND(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS sim
            FROM embeddings a
            JOIN embeddings b ON a.vec_id != b.vec_id
            WHERE a.vec_id IN (SELECT doc_id FROM cands)
              AND b.vec_id IN (SELECT doc_id FROM cands)
        ),
"""
    + _MMR_STEPS_SQL
    + """
        SELECT CAST(sel_rank AS INT) AS sel_rank, s.doc_id,
               c.lex_rank, c.sem_rank, c.rrf,
               ROUND(s.m, 6) + 0.0 AS mmr
        FROM (
            SELECT 1 AS sel_rank, * FROM sel1
            UNION ALL SELECT 2, * FROM sel2
            UNION ALL SELECT 3, * FROM sel3
            UNION ALL SELECT 4, * FROM sel4
            UNION ALL SELECT 5, * FROM sel5
        ) s
        JOIN cands c ON s.doc_id = c.doc_id
    """,
)
def q_retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact retrieval chain for one query (``ONE_QUERY``: terms
    'vector stream spark', dense query vec 0): BM25 top-20 + exact
    cosine top-20 -> RRF(k=60) -> fused top-10 -> greedy MMR
    (lambda=0.5) -> the 5 picks with their provenance (lex_rank,
    sem_rank, rrf, mmr). The DuckDB oracle replays every stage,
    including the unrolled greedy MMR steps, so one drifted rank
    anywhere in the composition flips the value hash.

    Float discipline: cosine 4dp before ranking, rrf 6dp from integer
    ranks, rel = 60*rrf (one identical multiply in both engines), m =
    0.5*rel - 0.5*maxsim the same IEEE sequence, output mmr 6dp with
    -0.0 normalization; every ordering breaks ties on doc_id."""
    return retrieval_pipeline_batch(spark, sf_dir, ONE_QUERY).drop("query_id")


@register(
    "q_retrieval_pipeline_ann",
    tags=("llm", "retrieval", "pipeline", "index"),
    setup=(build_ann_index,),
    oracle=_text.BM25_CTES
    + """,
        lex AS (
            SELECT doc_id, lex_rank FROM (
                SELECT doc_id,
                       CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank
                FROM bm
                WHERE doc_id IN (SELECT vec_id FROM embeddings)
            ) WHERE lex_rank <= 20
        )
        SELECT string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY lex_rank) AS lex_top_docs,
               CAST(COUNT(*) AS BIGINT) AS n_lex,
               TRUE AS sem_full,
               TRUE AS fused_in_bounds,
               TRUE AS selected_complete,
               TRUE AS sem_recall_floor_met
        FROM lex
    """,
)
def q_retrieval_pipeline_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_retrieval_pipeline with the dense side served from the
    persisted IVF-PQ index (probe -> ADC -> exact rerank), the
    composition a deployment runs where exact corpus-wide cosine is
    unaffordable. The lexical side scans documents. One row: the
    lexical spine and the audits of ``audited_pipeline``, with
    ``sem_recall_floor_met``."""
    return audited_pipeline(
        spark, sf_dir, ONE_QUERY, lexer=lex_ranked_batch, audit=recall_floor_audit
    ).drop("query_id")


@register(
    "op_sim_hard_negatives",
    tags=("llm", "retrieval", "training"),
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id < 4
        ),
        scored AS (
            SELECT query_id, vec_id AS doc_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 4) AS cos
            FROM embeddings, q WHERE vec_id >= 4
        ),
        ranked AS (
            SELECT query_id, doc_id, cos,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cos DESC, doc_id) AS INT) AS rk
            FROM scored
        ),
        pos AS (
            SELECT query_id, doc_id AS pos_id, cos AS pos_cos
            FROM ranked WHERE rk = 1
        ),
        negs AS (
            SELECT r.query_id, p.pos_id, r.doc_id, r.cos
            FROM ranked r JOIN pos p USING (query_id)
            WHERE r.rk > 1 AND r.rk <= 21 AND r.cos < p.pos_cos * 0.95
        )
        SELECT query_id, pos_id, neg_id, neg_cos, neg_rank FROM (
            SELECT query_id, pos_id, doc_id AS neg_id, cos AS neg_cos,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cos DESC, doc_id) AS INT) AS neg_rank
            FROM negs
        ) WHERE neg_rank <= 5
    """,
)
def op_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training data (the DPR /
    RocketQA construction): per query, the positive is the exact
    top-1 neighbor and the hard negatives are the next-ranked
    candidates — similar enough to be informative gradients — after a
    DENOISING margin drops candidates with cos >= 0.95 * positive's
    (too close to the positive to trust as negatives: at training
    scale those are mostly unlabeled positives, and training on them
    actively hurts — the RocketQA denoised-negative observation).
    Emits (query_id, pos_id, neg_id, neg_cos, neg_rank), 5 negatives
    per query from the rank-2..21 band (measured 18-20 margin
    survivors per query at every SF, so the top-5 cut never starves).

    Scale shape: this exact-scoring form ranks the corpus per query —
    the ORACLE-replayable yardstick (4dp-rounded cosine, doc_id tie
    breaks, so DuckDB replays the identical ranking). At 100 TB the
    candidate band comes from the persisted ANN index instead
    (ann_sem_ranked_batch's probe -> ADC -> exact-rerank chain) and the
    same margin + re-rank runs on the BOUNDED shortlist — mining cost
    per query drops from O(n) to O(shortlist), which is how
    production miners (FAISS-backed) actually run."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm_expr(F.col("embedding")).alias("qn"),
    )
    cos = F.round(
        dot_expr(F.col("embedding"), F.col("qe")) / (norm_expr(F.col("embedding")) * F.col("qn")),
        4,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "doc_id")
    ranked = (
        emb.filter(F.col("vec_id") >= 4)
        .join(F.broadcast(queries))
        .select("query_id", F.col("vec_id").alias("doc_id"), cos.alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 21)
    )
    pos = ranked.filter(F.col("rk") == 1).select(
        "query_id", F.col("doc_id").alias("pos_id"), F.col("cos").alias("pos_cos")
    )
    negs = (
        ranked.filter(F.col("rk") > 1)
        .join(F.broadcast(pos), "query_id")
        .filter(F.col("cos") < F.col("pos_cos") * 0.95)
    )
    w_neg = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "doc_id")
    return (
        negs.withColumn("neg_rank", F.row_number().over(w_neg).cast("int"))
        .filter(F.col("neg_rank") <= 5)
        .select(
            "query_id",
            "pos_id",
            F.col("doc_id").alias("neg_id"),
            F.col("cos").alias("neg_cos"),
            "neg_rank",
        )
    )


@register(
    "op_sim_filtered_topk",
    tags=("llm", "retrieval", "similarity"),
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id < 4
        ),
        allowed AS (
            SELECT doc_id FROM documents WHERE lang = 'de'
        ),
        scored AS (
            SELECT query_id, vec_id AS neighbor_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 4) AS cos
            FROM embeddings, q
            WHERE vec_id >= 4 AND vec_id IN (SELECT doc_id FROM allowed)
        )
        SELECT query_id, neighbor_id, cos, rank FROM (
            SELECT query_id, neighbor_id, cos,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
)
def op_sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED vector search — the query shape every
    production vector store must answer ("nearest neighbors WHERE
    lang='de'") and the classic pre/post-filter trade-off:

    - PRE-FILTER (this op): apply the predicate first (a semi-join of
      the vectors against the metadata side, reading only doc_id +
      the filter column) and score ONLY survivors. Correct for any
      selectivity, never starves, and with a ~14% selective predicate
      scores ~7x fewer vectors; the right default whenever the
      predicate is cheap to evaluate against the metadata table.
    - POST-FILTER: over-fetch k' > k unfiltered ANN results, then
      filter — cheap for permissive predicates but STARVES on
      selective ones (a top-50 shortlist may contain zero 'de' docs);
      the failure mode op_sim_filtered_ann_serve audits.
    - FILTERED-ANN (op_sim_filtered_ann_serve): push the predicate
      into the index scan — semi-join the cent_id-pruned postings
      against the allowed set BEFORE ADC, so per-query work stays
      probes/k * selectivity. The composition the cent_id-partitioned
      postings layout was designed for.

    This exact pre-filter form is fully value-oracled (4dp cosine,
    neighbor_id tie-breaks, DuckDB replays the identical ranking)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    allowed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "de")
        .select(F.col("doc_id").alias("vec_id"))
    )
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm_expr(F.col("embedding")).alias("qn"),
    )
    cos = F.round(
        dot_expr(F.col("embedding"), F.col("qe"))
        / (norm_expr(F.col("embedding")) * F.col("qn")),
        4,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        emb.filter(F.col("vec_id") >= 4)
        .join(allowed, "vec_id", "left_semi")
        .join(F.broadcast(queries))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
    )


def _filtered_ann_topk(
    spark: SparkSession, sf_dir: str, *, probes: int, k: int = 5
) -> tuple[DataFrame, DataFrame]:
    """(topk, n_scanned): filtered-ANN against the persisted index —
    probe the top-``probes`` coarse cells per query (vec_id < 4),
    semi-join the cell-matched postings against the allowed metadata
    set BEFORE ADC (filter pushed into the index scan), shortlist,
    exact-rerank the survivors to top-k as (query_id, neighbor_id,
    rank). ``n_scanned`` is the per-query count of ADC-SCORED
    candidates (post filter+prune, pre shortlist) — the scan-fraction
    audit input."""
    coarse, books, postings = read_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    allowed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "de")
        .select(F.col("doc_id").alias("vec_id"))
    )
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    # the predicate composes by PRE-FILTERING the candidate side before
    # the shared probe/LUT/ADC block scores it
    scored = ivfpq_adc_scored(
        queries,
        postings.filter(F.col("vec_id") >= 4).join(allowed, "vec_id", "left_semi"),
        coarse,
        books,
        probes=probes,
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.col("adc_sqdist").asc(), "vec_id")
    shortlist = scored.withColumn("rk", F.row_number().over(w_adc)).filter(
        F.col("rk") <= IVFPQ_SHORTLIST
    )
    rerank_d = euclidean_expr(F.col("qe"), F.col("embedding"))
    w_rr = Window.partitionBy("query_id").orderBy(F.col("rdist").asc(), "neighbor_id")
    topk = (
        emb.join(F.broadcast(shortlist.select("query_id", "vec_id", "qe")), "vec_id")
        .select("query_id", F.col("vec_id").alias("neighbor_id"), rerank_d.alias("rdist"))
        .withColumn("rank", F.row_number().over(w_rr).cast("int"))
        .filter(F.col("rank") <= k)
    )
    n_scanned = scored.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_scanned"))
    return topk, n_scanned


FILTERED_PROBES = 4  # selective predicates thin each cell's survivors:
                     # double op_sim_ivfpq's 2-of-8 probes (the standard
                     # filtered-search knob) to keep shortlist recall up


@register(
    "op_sim_filtered_ann_serve",
    tags=("llm", "retrieval", "similarity", "index"),
    oracle="""
        WITH allowed AS (
            SELECT doc_id FROM documents WHERE lang = 'de'
        ),
        c AS (
            SELECT vec_id FROM embeddings
            WHERE vec_id >= 4 AND vec_id IN (SELECT doc_id FROM allowed)
        )
        SELECT q.vec_id AS query_id,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_allowed,
               TRUE AS full_k,
               TRUE AS pruned_scan,
               TRUE AS recall_floor_met
        FROM embeddings q WHERE q.vec_id < 4
    """,
)
def op_sim_filtered_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search AGAINST THE PERSISTED INDEX — the
    filtered-ANN strategy op_sim_filtered_topk's docstring lays out:
    the metadata predicate is pushed INTO the index scan (a semi-join
    of the cent_id-pruned postings against the allowed set BEFORE
    ADC), so per-query work is probes/k * selectivity of the corpus —
    never the post-filter strategy's over-fetch-and-hope, never the
    unfiltered corpus.

    Probes double op_sim_ivfpq's (FILTERED_PROBES=4 of k=8): a ~14%
    selective predicate thins every probed cell's survivors, and
    multi-probe is exactly the recall knob real filtered-ANN engines
    turn as selectivity rises (measured filtered top-5 recall at
    probes=2: min 2/5 across SFs; at probes=4: min 3/5).

    Deterministic spine: every query emits a row (left-join from the
    query set) with the SQL-replayable ``n_allowed`` candidate count;
    audits assert ``full_k`` (5 results each — the shortlist never
    starves at this selectivity), ``pruned_scan`` (ADC scored
    strictly fewer than the allowed set — the filter composed WITH
    cell pruning, not instead of it), and ``recall_floor_met`` (>= 2
    of the exact filtered top-5 per query; measured min 3)."""
    ann, n_scanned = _filtered_ann_topk(spark, sf_dir, probes=FILTERED_PROBES, k=5)
    exact = op_sim_filtered_topk(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    allowed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "de")
        .select(F.col("doc_id").alias("vec_id"))
    )
    n_allowed = (
        emb.filter(F.col("vec_id") >= 4)
        .join(allowed, "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_allowed"))
    )
    queries = emb.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("query_id"))
    # both sides are bounded 20-row rank lists, but neither carries
    # stats (window outputs), so without the hint Spark falls back to
    # a SortMergeJoin — the one join strategy this family bans
    hits = ann.join(
        F.broadcast(exact.select("query_id", "neighbor_id")),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    per_q = (
        queries.join(
            F.broadcast(ann.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ret"))),
            "query_id",
            "left",
        )
        .join(
            F.broadcast(hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))),
            "query_id",
            "left",
        )
        .join(F.broadcast(n_scanned), "query_id", "left")
    )
    return per_q.join(F.broadcast(n_allowed)).select(
        "query_id",
        "n_allowed",
        (F.coalesce(F.col("n_ret"), F.lit(0)) == 5).alias("full_k"),
        (F.coalesce(F.col("n_scanned"), F.lit(0)) < F.col("n_allowed")).alias(
            "pruned_scan"
        ),
        (F.coalesce(F.col("n_hit"), F.lit(0)) >= 2).alias("recall_floor_met"),
    )


# nDCG@10 discount table as INTEGER constants (round(1e6/log2(r+1))):
# Spark's and DuckDB's libm log2 disagree by ulps on ranks 8-11 and 16
# (probed 2026-08-15), so the discounts are precomputed literals shared
# by both engines and the DCG dot product runs in exact integer
# arithmetic — order-independent, no float summation anywhere.
DCG_DISC = [1000000, 630930, 500000, 430677, 386853, 356207, 333333, 315465, 301030, 289065]
# sum of (11-i) * DCG_DISC[i-1] for i in 1..10 — the ideal DCG for the
# graded 10-label set (rel = 11 - label_rank), a shared constant
IDCG_INT = 29966114


@register(
    "op_retrieval_eval_metrics",
    tags=("llm", "retrieval", "eval"),
    oracle=_text.BM25_CTES
    + """,
        labels AS (
            SELECT doc_id, CAST(11 - sem_rank AS BIGINT) AS rel FROM (
                SELECT vec_id AS doc_id,
                       ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS sem_rank
                FROM (
                    SELECT e.vec_id,
                           ROUND(list_cosine_similarity(
                               CAST(e.embedding AS DOUBLE[]),
                               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
                           ), 4) AS cos
                    FROM embeddings e WHERE e.vec_id != 0
                )
            ) WHERE sem_rank <= 10
        ),
        disc(rank, d) AS (
            VALUES (1, 1000000), (2, 630930), (3, 500000), (4, 430677),
                   (5, 386853), (6, 356207), (7, 333333), (8, 315465),
                   (9, 301030), (10, 289065)
        ),
        sys_bm25 AS (
            SELECT 'bm25' AS system, doc_id, rank FROM (
                SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank
                FROM bm
            ) WHERE rank <= 10
        ),
        sys_cos AS (
            SELECT 'cosine' AS system, doc_id,
                   CAST(11 - rel AS INT) AS rank
            FROM labels
        ),
        sys_rrf AS (
            SELECT 'rrf' AS system, doc_id, CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank
            FROM (
                SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
                       ROUND(COALESCE(1.0 / (60 + l.rank), 0.0)
                             + COALESCE(1.0 / (60 + s.rank), 0.0), 6) AS rrf
                FROM (SELECT doc_id, rank FROM sys_bm25) l
                FULL OUTER JOIN (SELECT doc_id, CAST(11 - rel AS INT) AS rank FROM labels) s
                  ON l.doc_id = s.doc_id
            )
            QUALIFY rank <= 10
        ),
        ranked AS (
            SELECT * FROM sys_bm25
            UNION ALL SELECT * FROM sys_cos
            UNION ALL SELECT * FROM sys_rrf
        ),
        scoredm AS (
            SELECT r.system, r.rank, COALESCE(l.rel, 0) AS rel, d.d
            FROM ranked r
            LEFT JOIN labels l ON r.doc_id = l.doc_id
            JOIN disc d ON r.rank = d.rank
        )
        SELECT system,
               FLOOR((CAST(SUM(rel * d) AS DOUBLE) / 29966114) * 1000000 + 0.5) / 1000000
                   AS ndcg10,
               COALESCE(FLOOR((1.0 / MIN(CASE WHEN rel > 0 THEN rank END)) * 1000000 + 0.5)
                        / 1000000, 0.0) AS mrr10,
               CAST(COUNT(*) FILTER (WHERE rel > 0) AS DOUBLE) / 10 AS recall10
        FROM scoredm
        GROUP BY system
    """,
)
def op_retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative IR evaluation — nDCG@10, MRR@10, recall@10 for
    three rankers (BM25, exact cosine, their RRF fusion) against
    graded relevance labels, the measurement loop any retrieval /
    training-data stack needs before swapping rankers. Labels are the
    exact cosine top-10 for query vec 0 with graded rel = 11 - rank
    (so the 'cosine' row scores a perfect 1.0/1.0/1.0 — the built-in
    sanity anchor), 'bm25' measures lexical-vs-semantic agreement,
    and 'rrf' shows what fusion recovers.

    Cross-engine float discipline (the interesting part): Spark's and
    DuckDB's libm log2 DISAGREE BY ULPS on ranks 8-11 and 16 (probed
    on this host), so the DCG discounts are precomputed 1e6-scaled
    INTEGER literals shared by both engines and the DCG dot product
    is exact integer arithmetic — order-independent under any
    partitioning, no float summation. The only float ops are three
    single divisions of identical values, floor-rounded at 6dp per
    the registry's ratio discipline.

    Scale shape: each ranker reduces to a bounded top-10 (heap-based
    TakeOrderedAndProject / the K-list rank trick); labels broadcast;
    the metric aggregate touches 30 rows. At 100 TB the label set
    comes from human judgments or the exact scorer run offline on the
    query sample — either way bounded — and the same integer-DCG
    aggregate evaluates any ranker's output stream."""
    emb = load_table(spark, sf_dir, "embeddings")
    labels = (
        _ranked(
            _cosine_to_query0(emb)
            .drop("embedding")
            .orderBy(F.desc("cos"), "doc_id")
            .limit(10),
            "cos",
            "sem_rank",
        )
        .select("doc_id", (11 - F.col("sem_rank")).cast("long").alias("rel"))
        .localCheckpoint()
    )
    bm_top = (
        _text.op_text_bm25(spark, sf_dir).orderBy(F.desc("bm25"), "doc_id").limit(10)
    )
    sys_bm25 = _ranked(bm_top, "bm25", "rank").select(
        F.lit("bm25").alias("system"), "doc_id", "rank"
    )
    sys_cos = labels.select(
        F.lit("cosine").alias("system"),
        "doc_id",
        (11 - F.col("rel")).cast("int").alias("rank"),
    )
    fused = fuse_rrf(
        sys_bm25.select("doc_id", F.col("rank").alias("lex_rank")),
        sys_cos.select("doc_id", F.col("rank").alias("sem_rank")),
    )
    sys_rrf = _ranked(
        fused.orderBy(F.desc("rrf"), "doc_id").limit(10), "rrf", "rank"
    ).select(F.lit("rrf").alias("system"), "doc_id", "rank")

    disc = F.array(*[F.lit(d) for d in DCG_DISC])
    ranked = sys_bm25.unionByName(sys_cos).unionByName(sys_rrf)
    scored = (
        ranked.join(F.broadcast(labels), "doc_id", "left")
        .select(
            "system",
            "rank",
            F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
            F.element_at(disc, F.col("rank")).cast("long").alias("d"),
        )
    )
    sixdp = lambda c: F.floor(c * 1_000_000 + 0.5) / 1_000_000  # noqa: E731
    return scored.groupBy("system").agg(
        sixdp(F.sum(F.col("rel") * F.col("d")).cast("double") / IDCG_INT).alias("ndcg10"),
        F.coalesce(
            sixdp(1.0 / F.min(F.when(F.col("rel") > 0, F.col("rank")))), F.lit(0.0)
        ).alias("mrr10"),
        (F.count(F.when(F.col("rel") > 0, 1)).cast("double") / 10).alias("recall10"),
    )


@register(
    "q_retrieval_pipeline_served",
    tags=("llm", "retrieval", "pipeline", "index"),
    oracle=_text.BM25_CTES
    + """,
        lex AS (
            SELECT doc_id, lex_rank FROM (
                SELECT doc_id,
                       CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank
                FROM bm
                WHERE doc_id IN (SELECT vec_id FROM embeddings)
            ) WHERE lex_rank <= 20
        )
        SELECT string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY lex_rank) AS lex_top_docs,
               CAST(COUNT(*) AS BIGINT) AS n_lex,
               TRUE AS sem_full,
               TRUE AS fused_in_bounds,
               TRUE AS selected_complete,
               TRUE AS matches_inline_pipeline
        FROM lex
    """,
)
def q_retrieval_pipeline_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval chain for one query served from persisted
    indexes only: lexical candidates from the inverted index, dense
    candidates from the IVF-PQ index. No document text is read at
    query time; the corpus-shaped touches are pruned posting reads,
    cell-pruned code reads and the bounded embedding fetches for
    rerank and MMR. One row: the lexical spine (the served scores are
    bit-equal to the scan's, so q_retrieval_pipeline_ann's SQL holds)
    and the audits of ``audited_pipeline``, with
    ``matches_inline_pipeline``: the MMR picks equal those of the same
    chain with the lexical side scanned from documents."""
    return audited_pipeline(
        spark, sf_dir, ONE_QUERY, lexer=lex_ranked_batch_served, audit=inline_picks_audit
    ).drop("query_id")


# ---------------------------------------------------------------------------
# The batch chain and the batch oracles
# ---------------------------------------------------------------------------


def _mmr_grouped_steps_sql(steps: int = 5) -> str:
    """The unrolled greedy MMR steps PER QUERY — _MMR_STEPS_SQL with
    every argmax turned into a ROW_NUMBER() OVER (PARTITION BY
    query_id ...) = 1 pick and every selected-set membership test
    correlated on query_id. Generated from one loop so the N-step
    unroll cannot drift between steps."""
    parts = [
        """
        sel1 AS (
            SELECT query_id, doc_id, rel, 0.5 * rel AS m FROM (
                SELECT query_id, doc_id, rel,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY rel DESC, doc_id) AS rn
                FROM cands
            ) WHERE rn = 1
        )"""
    ]
    for step in range(2, steps + 1):
        sel_docs = "\n                          UNION ".join(
            f"SELECT s{i}.doc_id FROM sel{i} s{i} WHERE s{i}.query_id = c.query_id"
            for i in range(1, step)
        )
        parts.append(
            f""",
        rem{step} AS (
            SELECT c.query_id, c.doc_id, c.rel,
                   0.5 * c.rel - 0.5 * (SELECT MAX(p.sim) FROM pairs p
                                        WHERE p.query_id = c.query_id
                                          AND p.d1 = c.doc_id
                                          AND p.d2 IN ({sel_docs})) AS m
            FROM cands c
            WHERE c.doc_id NOT IN ({sel_docs})
        ),
        sel{step} AS (
            SELECT query_id, doc_id, rel, m FROM (
                SELECT query_id, doc_id, rel, m,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY m DESC, doc_id) AS rn
                FROM rem{step}
            ) WHERE rn = 1
        )"""
        )
    return "".join(parts)


_BATCH_FINAL_UNION_SQL = "\n            UNION ALL ".join(
    f"SELECT query_id, {i} AS sel_rank, doc_id, m FROM sel{i}" for i in range(1, K_OUT + 1)
)


def lex_ranked_batch(
    spark: SparkSession,
    sf_dir: str,
    query_terms: dict[int, tuple[str, ...]] = BATCH_QUERY_TERMS,
) -> DataFrame:
    """Per-query BM25 top-K_EACH over the embedded corpus as
    (query_id, doc_id, lex_rank), scored by ``text.bm25_scored`` over
    one documents scan for the whole batch."""
    terms = _text.query_term_union(query_terms)
    parts = _text.bm25_scan_parts(spark, sf_dir, terms)
    return _lex_top(spark, sf_dir, _text.bm25_scored(*parts, query_terms))


def lex_ranked_batch_served(
    spark: SparkSession,
    sf_dir: str,
    query_terms: dict[int, tuple[str, ...]] = BATCH_QUERY_TERMS,
) -> DataFrame:
    """``lex_ranked_batch`` scored over the persisted inverted index
    (``lex_index.bm25_index_parts``) instead of a documents scan: the
    batch's terms fold to literal buckets and the postings and df
    reads prune to those directories. The parts are the scan's
    integers and the scorer is the same, so the ranks are bit-equal."""
    from game_data_etl_pipeline_spark.llmdata.lex_index import (
        bm25_index_parts,
        build_lex_index,
    )

    terms = _text.query_term_union(query_terms)
    parts = bm25_index_parts(spark, build_lex_index(spark, sf_dir), terms)
    return _lex_top(spark, sf_dir, _text.bm25_scored(*parts, query_terms))


def _lex_top(spark: SparkSession, sf_dir: str, bm: DataFrame) -> DataFrame:
    """The per-query top-K_EACH of scored ``bm`` rows whose doc_id has
    an embedding (a semi-join reading only vec_id), ranked by a window
    partitioned by query_id."""
    embk = load_table(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("doc_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), "doc_id")
    return (
        bm.join(embk, "doc_id", "left_semi")
        .withColumn("lex_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("lex_rank") <= K_EACH)
        .select("query_id", "doc_id", "lex_rank")
    )


def _batch_lex_ctes(query_terms: dict[int, tuple[str, ...]]) -> str:
    """The per-query batch-BM25 CTE prefix (qt VALUES fan-out through
    the per-query lexical top-K), machine-generated from the (query_id
    -> terms) dict — shared by the full exact batch oracle and the
    batch-ANN oracle so the lexical spine is defined once."""
    qt_values = ", ".join(
        f"({q}, '{t}')" for q, ts in sorted(query_terms.items()) for t in ts
    )
    all_terms = sorted({t for ts in query_terms.values() for t in ts})
    terms_sql = ", ".join(f"'{t}'" for t in all_terms)
    return f"""
        WITH qt(query_id, term) AS (VALUES {qt_values}),
        t AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS dl,
                   UNNEST(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM t
            WHERE term IN ({terms_sql})
            GROUP BY doc_id, dl, term
        ),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        st AS (
            SELECT COUNT(*) AS n_docs,
                   SUM(len(string_split(text, ' '))) AS tot_dl
            FROM documents
        ),
        bm AS (
            SELECT qt.query_id, tf.doc_id,
                   ROUND(SUM(ROUND(
                       LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * dl * n_docs / tot_dl)),
                   4)), 4) AS bm25
            FROM tf JOIN dfq USING (term) JOIN qt USING (term), st
            GROUP BY qt.query_id, tf.doc_id
        ),
        lex AS (
            SELECT query_id, doc_id, lex_rank FROM (
                SELECT query_id, doc_id,
                       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                               ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank
                FROM bm
                WHERE doc_id IN (SELECT vec_id FROM embeddings)
            ) WHERE lex_rank <= {K_EACH}
        )"""


def _batch_oracle_sql(query_terms: dict[int, tuple[str, ...]]) -> str:
    """The full batch-pipeline DuckDB oracle generated from the SAME
    (query_id -> terms) dict the Spark form runs, for ANY batch size:
    the VALUES fan-out table, the union-of-terms scan filter, the
    query-vector id list, and the K_OUT unrolled per-query MMR steps
    are all loop-emitted, so Spark and oracle cannot drift and N is a
    parameter, not a literal."""
    qids_sql = ", ".join(str(q) for q in sorted(query_terms))
    return _batch_lex_ctes(query_terms) + f""",
        q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id IN ({qids_sql})
        ),
        scoredsem AS (
            SELECT query_id, vec_id AS doc_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 4) AS cos
            FROM embeddings, q WHERE vec_id != query_id
        ),
        sem AS (
            SELECT query_id, doc_id, sem_rank FROM (
                SELECT query_id, doc_id,
                       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                               ORDER BY cos DESC, doc_id) AS INT) AS sem_rank
                FROM scoredsem
            ) WHERE sem_rank <= {K_EACH}
        ),
        fused AS (
            SELECT COALESCE(lex.query_id, sem.query_id) AS query_id,
                   COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
                   ROUND(COALESCE(1.0 / (60 + lex_rank), 0.0)
                         + COALESCE(1.0 / (60 + sem_rank), 0.0), 6) AS rrf
            FROM lex FULL OUTER JOIN sem
              ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id
        ),
        cands AS (
            SELECT query_id, doc_id, lex_rank, sem_rank, rrf, rrf * 60 AS rel FROM (
                SELECT query_id, doc_id, lex_rank, sem_rank, rrf,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY rrf DESC, doc_id) AS rn
                FROM fused
            ) WHERE rn <= {K_FUSED}
        ),
        pairs AS (
            SELECT c1.query_id, c1.doc_id AS d1, c2.doc_id AS d2,
                   ROUND(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])), 4) AS sim
            FROM cands c1
            JOIN cands c2 ON c2.query_id = c1.query_id AND c2.doc_id != c1.doc_id
            JOIN embeddings a ON a.vec_id = c1.doc_id
            JOIN embeddings b ON b.vec_id = c2.doc_id
        ),{_mmr_grouped_steps_sql(K_OUT)}
        SELECT CAST(s.query_id AS BIGINT) AS query_id,
               CAST(s.sel_rank AS INT) AS sel_rank, s.doc_id,
               c.lex_rank, c.sem_rank, c.rrf,
               ROUND(s.m, 6) + 0.0 AS mmr
        FROM (
            {_BATCH_FINAL_UNION_SQL}
        ) s
        JOIN cands c ON s.query_id = c.query_id AND s.doc_id = c.doc_id
    """


def retrieval_pipeline_batch(
    spark: SparkSession,
    sf_dir: str,
    query_terms: dict[int, tuple[str, ...]],
    *,
    served: bool = False,
) -> DataFrame:
    """The exact retrieval chain for a batch: per query the lexical
    top-K_EACH (``served`` picks the inverted index over the documents
    scan) and the exact cosine top-K_EACH, fused and diversified.
    Returns (query_id, sel_rank, doc_id, lex_rank, sem_rank, rrf,
    mmr). Each candidate list has one consumer, the fusion, so neither
    is checkpointed; the fused candidates are, as the MMR and the
    provenance join both read them."""
    emb = load_table(spark, sf_dir, "embeddings")
    lexer = lex_ranked_batch_served if served else lex_ranked_batch
    lex = lexer(spark, sf_dir, query_terms)
    cands = fused_candidates(lex, exact_sem_ranked_batch(emb, sorted(query_terms)))
    cands = cands.localCheckpoint()
    picks = mmr_picks(emb, cands)
    return picks.join(
        F.broadcast(cands.select("query_id", "doc_id", "lex_rank", "sem_rank", "rrf")),
        ["query_id", "doc_id"],
    ).select(
        "query_id",
        "sel_rank",
        "doc_id",
        "lex_rank",
        "sem_rank",
        "rrf",
        (F.round(F.col("m"), 6) + 0.0).alias("mmr"),
    )


def exact_sem_ranked_batch(
    emb: DataFrame, qids: list[int], rank_name: str = "sem_rank"
) -> DataFrame:
    """Per-query exact-cosine top-K_EACH as (query_id, doc_id,
    rank_name) from one embeddings scan (the query rows broadcast
    against it): the candidate side of the exact chain and the recall
    yardstick of the ANN audits."""
    qs = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm_expr(F.col("embedding")).alias("qn"),
    )
    cos = F.round(
        dot_expr(F.col("embedding"), F.col("qe"))
        / (norm_expr(F.col("embedding")) * F.col("qn")),
        4,
    )
    w_sem = Window.partitionBy("query_id").orderBy(F.desc("cos"), "doc_id")
    return (
        emb.join(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("doc_id"), cos.alias("cos"))
        .withColumn(rank_name, F.row_number().over(w_sem).cast("int"))
        .filter(F.col(rank_name) <= K_EACH)
        .select("query_id", "doc_id", rank_name)
    )


def fused_candidates(lex: DataFrame, sem: DataFrame) -> DataFrame:
    """RRF fusion of the per-query rank lists and the fused
    top-K_FUSED per query, as (query_id, doc_id, lex_rank, sem_rank,
    rrf, rel) with rel = 60*rrf (monotone in rrf; the rescale puts
    relevance on the pairwise-cosine scale so lambda=0.5 trades them
    meaningfully)."""
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        fuse_rrf(lex, sem, "query_id")
        .withColumn("rn", F.row_number().over(w_f))
        .filter(F.col("rn") <= K_FUSED)
        .drop("rn")
        .withColumn("rel", F.col("rrf") * 60)
    )


def mmr_picks(emb: DataFrame, cands: DataFrame) -> DataFrame:
    """The per-query greedy MMR (lambda=0.5) of K_OUT over ``cands``
    (``fused_candidates``), as (query_id, sel_rank, doc_id, rel, m).
    Every candidate doc_id has an embedding row (the lexical side is
    semi-joined to embeddings, the dense side is vec_ids)."""
    with_emb = (
        emb.select(F.col("vec_id").alias("doc_id"), "embedding")
        .join(F.broadcast(cands.select("query_id", "doc_id", "rel")), "doc_id")
        .select("query_id", "doc_id", "rel", "embedding")
    )
    return mmr_select(with_emb, "query_id", steps=K_OUT, lam=0.5)


@register(
    "q_retrieval_pipeline_batch",
    tags=("llm", "retrieval", "pipeline"),
    oracle=_batch_oracle_sql(BATCH_QUERY_TERMS),
)
def q_retrieval_pipeline_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact retrieval chain for the 3-query batch
    BATCH_QUERY_TERMS: one documents scan scores every query's BM25
    (a term shared by several queries is scored once), one embeddings
    scan scores every dense side, fusion groups by (query_id, doc_id)
    and the greedy MMR tail is one job for the whole batch.

    Value-oracled end to end for every query: the DuckDB oracle,
    generated from the same dict, replays per-query BM25, cosine ranks,
    RRF and the K_OUT unrolled MMR steps with every argmax and
    membership test correlated on query_id. 15 rows (3 queries x 5
    picks) with full provenance."""
    return retrieval_pipeline_batch(spark, sf_dir, BATCH_QUERY_TERMS)


@register(
    "q_retrieval_pipeline_batch8",
    tags=("llm", "retrieval", "pipeline"),
    oracle=_batch_oracle_sql(BATCH_QUERY_TERMS_8),
)
def q_retrieval_pipeline_batch8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_retrieval_pipeline_batch at N=8 (BATCH_QUERY_TERMS_8, whose
    queries 0-2 are the 3-query batch): the same plan, with only the
    bounded per-query frames growing. The oracle is generated from the
    same 8-entry dict: 40 rows with full provenance."""
    return retrieval_pipeline_batch(spark, sf_dir, BATCH_QUERY_TERMS_8)


@register(
    "q_retrieval_pipeline_batch_served",
    tags=("llm", "retrieval", "pipeline", "index"),
    # the 3-query batch oracle VERBATIM: serving the lexical side from
    # the persisted index is bit-equal to the corpus-scan side (same
    # integers, same IEEE expression), so the whole batch output —
    # every rank, fusion score, and MMR pick — must hash identically
    oracle=_batch_oracle_sql(BATCH_QUERY_TERMS),
)
def q_retrieval_pipeline_batch_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_retrieval_pipeline_batch with the lexical side served from the
    persisted inverted index: the batch's terms fold to literal
    buckets, the postings and df reads prune to those directories,
    and no documents scan is left in the plan. Held to the 3-query
    batch oracle verbatim: the index parts are the scan's integers and
    the scorer is shared, so every rank, fusion score and MMR pick
    matches the scanned chain value for value."""
    return retrieval_pipeline_batch(spark, sf_dir, BATCH_QUERY_TERMS, served=True)


@register(
    "q_retrieval_pipeline_batch_served8",
    tags=("llm", "retrieval", "pipeline", "index"),
    # the 8-query batch oracle VERBATIM (machine-generated from the
    # same dict as q_retrieval_pipeline_batch8): the index-served
    # lexical side is bit-equal to the scan side at any N
    oracle=_batch_oracle_sql(BATCH_QUERY_TERMS_8),
)
def q_retrieval_pipeline_batch_served8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_retrieval_pipeline_batch_served at N=8, held to the 8-query
    batch oracle verbatim: 40 MMR picks with full provenance."""
    return retrieval_pipeline_batch(spark, sf_dir, BATCH_QUERY_TERMS_8, served=True)


def ann_sem_ranked_batch(
    spark: SparkSession,
    sf_dir: str,
    query_terms: dict[int, tuple[str, ...]] = BATCH_QUERY_TERMS,
) -> DataFrame:
    """Per-query dense top-K_EACH as (query_id, doc_id, sem_rank)
    served from the persisted IVF-PQ index: every query's probe cells
    resolve in one pass over the broadcast centroids, the postings
    scan prunes to the union of probed cells (shared by queries that
    probe the same cell), ADC scores each (query, posting) pair, and
    the shortlist and exact-rerank windows are partitioned by
    query_id."""
    coarse, books, postings = read_ann_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qids = sorted(query_terms)
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    scored = ivfpq_adc_scored(
        queries, postings, coarse, books, probes=IVFPQ_PROBES
    ).filter(F.col("vec_id") != F.col("query_id"))
    w_adc = Window.partitionBy("query_id").orderBy(F.col("adc_sqdist").asc(), "vec_id")
    shortlist = (
        scored.withColumn("rk", F.row_number().over(w_adc))
        .filter(F.col("rk") <= IVFPQ_SHORTLIST)
        .select("query_id", "vec_id", "qe")
    )
    rerank_d = euclidean_expr(F.col("qe"), F.col("embedding"))
    w_rr = Window.partitionBy("query_id").orderBy(F.col("rdist").asc(), "doc_id")
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select("query_id", F.col("vec_id").alias("doc_id"), rerank_d.alias("rdist"))
        .withColumn("sem_rank", F.row_number().over(w_rr).cast("int"))
        .filter(F.col("sem_rank") <= K_EACH)
        .select("query_id", "doc_id", "sem_rank")
    )


def _batch_ann_oracle_sql(query_terms: dict[int, tuple[str, ...]]) -> str:
    """The batch-ANN oracle: the machine-generated per-query lexical
    spine (shared CTE prefix) value-hashed per query, plus the audit
    literals — ANN membership depends on trained codebooks DuckDB
    cannot replay (the q_retrieval_pipeline_ann discipline), so the
    approximate side is held by in-query audits instead."""
    return _batch_lex_ctes(query_terms) + """
        SELECT query_id,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY lex_rank)
                   AS lex_top_docs,
               CAST(COUNT(*) AS BIGINT) AS n_lex,
               TRUE AS sem_full,
               TRUE AS fused_in_bounds,
               TRUE AS selected_complete,
               TRUE AS sem_recall_floor_met
        FROM lex
        GROUP BY query_id
    """


@register(
    "q_retrieval_pipeline_batch_ann",
    tags=("llm", "retrieval", "pipeline", "index"),
    oracle=_batch_ann_oracle_sql(BATCH_QUERY_TERMS),
)
def q_retrieval_pipeline_batch_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-query batch served from both persisted indexes (lexical
    from the inverted index, dense from IVF-PQ): no corpus scan at
    query time. One row per query: the lexical spine and the audits of
    ``audited_pipeline``, with ``sem_recall_floor_met``."""
    return audited_pipeline(
        spark,
        sf_dir,
        BATCH_QUERY_TERMS,
        lexer=lex_ranked_batch_served,
        audit=recall_floor_audit,
    )


@register(
    "q_retrieval_pipeline_batch_ann8",
    tags=("llm", "retrieval", "pipeline", "index"),
    # the batch-ANN oracle machine-generated from the 8-query dict:
    # per-query lexical spines value-hashed, approximate side held by
    # the per-query in-query audits
    oracle=_batch_ann_oracle_sql(BATCH_QUERY_TERMS_8),
)
def q_retrieval_pipeline_batch_ann8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_retrieval_pipeline_batch_ann at N=8: the same plan, with only
    the bounded per-query frames growing."""
    return audited_pipeline(
        spark,
        sf_dir,
        BATCH_QUERY_TERMS_8,
        lexer=lex_ranked_batch_served,
        audit=recall_floor_audit,
    )


def recall_floor_audit(
    spark: SparkSession,
    sf_dir: str,
    query_terms: dict[int, tuple[str, ...]],
    emb: DataFrame,
    sem: DataFrame,
) -> tuple[DataFrame, Column]:
    """``sem_recall_floor_met``, an ``audited_pipeline`` audit: the ANN
    top-K_EACH recalls >= 40% of the exact cosine top-K_EACH, the
    yardstick computed in-query (measured 0.80/0.60/0.55 at
    sf0.001/0.01/0.1)."""
    yard = exact_sem_ranked_batch(emb, sorted(query_terms), rank_name="rank")
    yard_docs = F.transform("yard", lambda s: s["doc_id"])
    ok = F.size(F.array_intersect("sem_docs", yard_docs)) >= int(0.4 * K_EACH)
    return yard, ok.alias("sem_recall_floor_met")


def inline_picks_audit(
    spark: SparkSession,
    sf_dir: str,
    query_terms: dict[int, tuple[str, ...]],
    emb: DataFrame,
    sem: DataFrame,
) -> tuple[DataFrame, Column]:
    """``matches_inline_pipeline``, an ``audited_pipeline`` audit: the
    MMR picks equal, rank for rank, those of the same chain with the
    lexical side scanned from documents (the served index must be
    invisible to results)."""
    inline_lex = lex_ranked_batch(spark, sf_dir, query_terms)
    yard = mmr_picks(emb, fused_candidates(inline_lex, sem))
    ok = (F.size("pick") == K_OUT) & (F.col("pick") == F.col("yard"))
    return yard.withColumnRenamed("sel_rank", "rank"), ok.alias("matches_inline_pipeline")


def audited_pipeline(
    spark: SparkSession,
    sf_dir: str,
    query_terms: dict[int, tuple[str, ...]],
    *,
    lexer: Callable[..., DataFrame],
    audit: Callable[..., tuple[DataFrame, Column]],
) -> DataFrame:
    """The retrieval chain with its dense side served from the IVF-PQ
    index (``ann_sem_ranked_batch``) and its lexical side from
    ``lexer`` (``lex_ranked_batch`` or ``lex_ranked_batch_served``),
    reduced to one row per query: the deterministic lexical spine and
    in-query audits of the approximate side.

    - ``lex_top_docs`` / ``n_lex``: the query's lexical top-K_EACH doc
      ids in rank order, value-hashed against DuckDB.
    - ``sem_full``: the ANN side produced a full top-K_EACH.
    - ``fused_in_bounds``: RRF fused K_EACH..2*K_EACH candidates.
    - ``selected_complete``: MMR returned K_OUT picks, all from the
      query's fused top-K_FUSED.
    - the last column is ``audit``'s (``recall_floor_audit`` or
      ``inline_picks_audit``): called with the embeddings and the ANN
      side, it returns its yardstick (query_id, rank, doc_id) and a
      column over the per-query aggregate, where ``yard`` and ``pick``
      are the rank-sorted (rank, doc_id) arrays and ``sem_docs`` the
      ANN side's doc ids.

    Every audited frame is tagged and unioned, and one aggregate per
    query derives all the audits from the tagged (rank, doc_id) rows
    (<= 75 per query), so the audits add one shuffle, not a join per
    audit. A query keeps its row while it has a lexical spine (the
    oracle groups the lexical side), however its ANN side degenerates.
    ``lex``, ``sem`` and the fused candidates are checkpointed: the
    chain and the audit both read them."""
    emb = load_table(spark, sf_dir, "embeddings")
    lex = lexer(spark, sf_dir, query_terms).localCheckpoint()
    sem = ann_sem_ranked_batch(spark, sf_dir, query_terms).localCheckpoint()
    cands = fused_candidates(lex, sem).localCheckpoint()
    picks = mmr_picks(emb, cands)
    yardstick, ok = audit(spark, sf_dir, query_terms, emb, sem)
    tagged = [
        (lex, "lex", F.col("lex_rank")),
        (sem, "sem", F.col("sem_rank")),
        (cands, "cand", F.lit(None).cast("int")),
        (picks, "pick", F.col("sel_rank")),
        (yardstick, "yard", F.col("rank")),
    ]
    rows = None
    for frame, kind, rank in tagged:
        part = frame.select("query_id", F.lit(kind).alias("kind"), rank.alias("rank"), "doc_id")
        rows = part if rows is None else rows.unionByName(part)
    of = lambda kind, c: F.when(F.col("kind") == kind, c)  # noqa: E731
    ranked = lambda kind: F.array_sort(F.collect_list(of(kind, F.struct("rank", "doc_id"))))  # noqa: E731
    per_q = rows.groupBy("query_id").agg(
        ranked("lex").alias("lex"),
        ranked("pick").alias("pick"),
        ranked("yard").alias("yard"),
        F.count(of("lex", 1)).alias("n_lex"),
        F.count(of("sem", 1)).alias("n_sem"),
        *(
            F.collect_set(of(kind, F.col("doc_id"))).alias(f"{kind}_docs")
            for kind in ("lex", "sem", "cand", "pick")
        ),
    )
    n_fused = F.size(F.array_union("lex_docs", "sem_docs"))
    return per_q.filter(F.col("n_lex") > 0).select(
        "query_id",
        F.array_join(F.transform("lex", lambda s: s["doc_id"].cast("string")), ",").alias(
            "lex_top_docs"
        ),
        "n_lex",
        (F.col("n_sem") == K_EACH).alias("sem_full"),
        ((n_fused >= K_EACH) & (n_fused <= 2 * K_EACH)).alias("fused_in_bounds"),
        (F.size(F.array_intersect("pick_docs", "cand_docs")) == K_OUT).alias("selected_complete"),
        ok,
    )


# --- late-interaction SERVED from the persisted token index ----------

# token-postings artifact format version (the LEX_INDEX_VERSION
# discipline: bump on any layout change so stale trees are re-keyed)
LATE_INDEX_VERSION = 1

# how many term-hash buckets the unigram postings are sharded into:
# serving filters to the query terms' buckets, so the candidate scan
# prunes to n_query_term_buckets/LATE_BUCKETS of the posting files
LATE_BUCKETS = 32


LATE = TreeFamily(
    "SPARK_GRAFT_LATE_INDEX_DIR", "late_index", "documents.parquet", LATE_INDEX_VERSION
)


def _late_bucket(term_col):
    return F.pmod(F.xxhash64(term_col), F.lit(LATE_BUCKETS)).cast("int")


def build_late_index(spark: SparkSession, sf_dir: str) -> str:
    """Tokenize the corpus ONCE and persist the late-interaction token
    index (idempotent per corpus fingerprint). Three artifacts:

    - ``unigrams/`` (doc_id, dterm), PARTITIONED BY term-hash bucket —
      the candidate stage's inverted file: a query's scan prunes to
      its terms' buckets at storage level (the lex_index layout);
    - ``ctx_postings/`` (doc_id, dkey) — the contextualized-token
      postings the MaxSim rerank joins BY DOC over the shortlist,
      repartitioned on doc_id so one doc's tokens co-locate;
    - ``vocab/`` (key, tv, tn) — every distinct context key's
      md5-derived sub-vector and norm, precomputed once at build time
      (bigram-vocabulary-bounded; serving never re-derives a doc-side
      vector).

    Cost shape: one corpus scan feeds all three writes; everything
    downstream of the scan is (doc_id, token)-narrow — document
    bodies are read once per corpus snapshot and never again."""
    from game_data_etl_pipeline_spark.llmdata.similarity import (
        _ctx_keys_expr,
        norm_expr as _norm,
        token_vec_expr,
    )

    def build(staging: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        du = docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("dterm")
        ).distinct()
        (
            du.withColumn("b", _late_bucket(F.col("dterm")))
            .repartition("b")
            .write.mode("overwrite")
            .partitionBy("b")
            .parquet(os.path.join(staging, "unigrams"))
        )
        dk = docs.select(
            "doc_id", F.explode(_ctx_keys_expr(F.col("text"))).alias("dkey")
        ).distinct()
        dk.repartition("doc_id").write.mode("overwrite").parquet(
            os.path.join(staging, "ctx_postings")
        )
        vocab = dk.select(F.col("dkey").alias("key")).distinct()
        (
            vocab.select("key", token_vec_expr(F.col("key")).alias("tv"))
            .select("key", "tv", _norm(F.col("tv")).alias("tn"))
            .write.mode("overwrite")
            .parquet(os.path.join(staging, "vocab"))
        )

    meta = {"version": LATE_INDEX_VERSION, "buckets": LATE_BUCKETS}
    return ensure_tree(LATE.dir(sf_dir), sf_dir, "meta.json", meta, build)


@register(
    "op_sim_late_interaction_served",
    tags=("llm", "similarity", "retrieval", "index"),
    setup=(build_late_index,),
    # op_sim_late_interaction's oracle VERBATIM (one shared string):
    # serving from the persisted token index must reproduce the
    # from-scratch values exactly — a stale vocab row, a lost posting,
    # or a drifted bucket layout flips the value hash itself, the
    # op_sim_ivfpq_serve_merged contract applied to the lexical side.
    oracle=LATE_INTERACTION_ORACLE,
)
def op_sim_late_interaction_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION SERVING — op_sim_late_interaction's build/
    serve split (the op_text_bm25_serve precedent): the from-scratch
    op tokenizes the corpus inside every query; a serving tier
    instead reads the persisted token index (``build_late_index``:
    term-bucketed unigram postings, doc-located contextualized
    postings, precomputed vocabulary vectors) and runs ONLY the
    serving stages — candidate gen pruned to the query terms'
    partition buckets, MaxSim rerank over the shortlist with every
    doc-side vector looked up, never re-derived. Query-side tokens
    and vectors are computed inline from the LATE_QUERIES literals
    (9 rows — what an external query batch would bring along).

    The documents table appears NOWHERE in the serve plan (pinned by
    tests/test_plans.py::test_late_interaction_served_plan_contract:
    the plan reads the late_index warehouse path and never the
    documents parquet; a second serve in-process must not rebuild).
    Values are hash-compared against the SAME oracle as the
    from-scratch op — the persisted index must be invisible to
    results, visible only to cost.

    At 100 TB this split is the difference between re-reading the
    corpus per query batch and a bounded bucket-pruned posting scan:
    build cost amortizes across every query the snapshot serves."""
    from game_data_etl_pipeline_spark.llmdata.similarity import (
        LATE_QUERIES,
        late_maxsim_rank,
        late_query_frames,
        late_shortlist,
    )

    path = build_late_index(spark, sf_dir)
    qt, qk = late_query_frames(spark)
    # the query terms' buckets fold to literals: a pruned scan, no job
    buckets = [_late_bucket(F.lit(t)) for t in sorted({t for _i, q in LATE_QUERIES for t in q.split(" ")})]
    du = (
        spark.read.parquet(os.path.join(path, "unigrams"))
        .filter(F.col("b").isin(*buckets))
        .select("doc_id", "dterm")
    )
    dk = spark.read.parquet(os.path.join(path, "ctx_postings")).select(
        "doc_id", "dkey"
    )
    # doc-side vectors come from the artifact; the 9 query keys may be
    # absent from the corpus vocabulary, so their vectors are computed
    # inline and unioned in (bounded literal side)
    from game_data_etl_pipeline_spark.llmdata.similarity import (
        norm_expr as _norm,
        token_vec_expr,
    )

    qvec = (
        qk.select(F.col("qkey").alias("key"))
        .distinct()
        .select("key", token_vec_expr(F.col("key")).alias("tv"))
        .select("key", "tv", _norm(F.col("tv")).alias("tn"))
    )
    vec = spark.read.parquet(os.path.join(path, "vocab")).unionByName(qvec).dropDuplicates(["key"])
    short = late_shortlist(du, qt)
    return late_maxsim_rank(dk, short, qk, vec)
