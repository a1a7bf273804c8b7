"""Persistent LEXICAL index: the build/serve split for BM25.

op_text_bm25 (text.py) scans the corpus per query — one scan thanks to
its materialize-once barrier, but still a corpus scan every time. A
production lexical engine builds the inverted index once and serves
queries from posting lookups. This module is the lexical twin of
ann_index.py's IVF-PQ split, and — because BM25 is fully deterministic
— the serve op keeps op_text_bm25's EXACT value oracle: the persisted
path must reproduce the in-query path bit-for-bit or the driver's hash
check fails.

Artifacts (under the gitignored spark-warehouse/lex_index, keyed by
the documents file's (size, mtime_ns) fingerprint + format version):

- ``postings/`` (term, doc_id, tf, dl) over the FULL vocabulary,
  PARTITIONED BY ``term_bucket`` = xxhash64(term) mod LEX_BUCKETS — a
  query's terms fold to their buckets and the scan prunes to those
  directories, the classic term-sharded inverted-file layout. At
  100 TB the bucket count rises with vocabulary; lookups stay
  O(query terms' buckets), never the corpus.
- ``df/`` (term, df) with the same bucketing (document frequencies
  are index-time facts; IDF must come from the index, not a rescan).
- ``stats/`` one row (n_docs, tot_dl) — corpus normalization
  constants, broadcast at serve time.

Build-vs-serve float discipline: tf, dl, df, n_docs, tot_dl are all
INTEGERS, so persisting them loses nothing; the serve-time score is
``text.bm25_scored``, the scorer op_text_bm25 runs over its documents
scan, which is what lets the serve op share the original DuckDB oracle
verbatim.
"""

from __future__ import annotations

import os
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
    upsert_segments,
    write_segmented,
)
from game_data_etl_pipeline_spark.llmdata.text import BM25_CTES, BM25_TERMS, _terms, bm25_scored
from game_data_etl_pipeline_spark.registry import register

# layout version of every lexical tree: bump on any layout change (v2:
# _bucket is pmod, total over all longs; v3: the upsert tree's seg=<s>
# segments and the compacted trees' ledger at the tree root)
LEX_INDEX_VERSION = 3
LEX_BUCKETS = 16


def _bucket(term_col):
    return F.pmod(F.xxhash64(term_col), F.lit(LEX_BUCKETS)).cast("int")


LEX = TreeFamily(
    "SPARK_GRAFT_LEX_INDEX_DIR", "lex_index", "documents.parquet", LEX_INDEX_VERSION
)


def lex_postings(docs: DataFrame, *keep: str) -> DataFrame:
    """(term, doc_id, dl, *keep, tf, term_bucket): one posting per
    distinct term of each document in ``docs`` (doc_id, text, *keep),
    with its term frequency ``tf``, the document length ``dl`` and the
    term's bucket. ``keep`` columns must be functions of doc_id. The
    one tokenize-to-postings expression of the offline builds and the
    streamed stores."""
    # split projected once below the Generate: size(split)+explode(split)
    # in one select re-splits the text per exploded row (guide §2.3)
    t = docs.withColumn("terms", _terms()).select(
        "doc_id", *keep, F.size("terms").alias("dl"), F.explode("terms").alias("term")
    )
    return (
        t.groupBy("term", "doc_id", "dl", *keep)
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("term_bucket", _bucket(F.col("term")))
    )


def _write_bucketed(frame: DataFrame, path: str) -> None:
    """Write ``frame`` to ``path`` partitioned by term_bucket, one file
    per bucket."""
    frame.repartition("term_bucket").write.mode("overwrite").partitionBy("term_bucket").parquet(path)


def _df_frame(postings: DataFrame) -> DataFrame:
    """(term, df, term_bucket): the number of postings, and so of
    documents, per term."""
    return (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("term_bucket", _bucket(F.col("term")))
    )


def write_df_stats(postings: DataFrame, dest: str, stats: DataFrame | None = None) -> None:
    """Write ``dest/df`` (term, df, bucketed) and ``dest/stats`` (one
    row: n_docs, tot_dl) for ``postings`` (term, doc_id, dl). df counts
    each term's postings. Without ``stats`` they come from the distinct
    (doc_id, dl) pairs, which equal a document scan when every document
    has text. All integers, so postings over disjoint document sets
    fold exactly."""
    _write_bucketed(_df_frame(postings), os.path.join(dest, "df"))
    if stats is None:
        stats = (
            postings.select("doc_id", "dl")
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot_dl"))
        )
    stats.coalesce(1).write.mode("overwrite").parquet(os.path.join(dest, "stats"))


# what a tombstone compaction of lexical postings rewrites (a streamed
# store's seg and batch_id columns are dropped) and re-derives
LEX_POSTINGS = Postings(
    "doc_id", "term_bucket", ("term", "doc_id", "dl", "tf", "term_bucket"), fold=write_df_stats
)


def _docs_stats(docs: DataFrame) -> DataFrame:
    """(n_docs, tot_dl) of ``docs`` by a document scan."""
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(F.size(_terms())).alias("tot_dl")
    )


def build_lex_index(spark: SparkSession, sf_dir: str) -> str:
    """Tokenize the corpus ONCE and persist the inverted index
    (idempotent per corpus fingerprint). Cost shape: one corpus scan
    collapsing to (doc_id, dl, term) triples, one groupBy for tf, one
    for df, one tiny stats aggregate, and a shuffle on term_bucket to
    lay the postings out as the term-sharded inverted file — all paid
    once per corpus snapshot."""

    def build(staging: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        postings = lex_postings(docs)
        _write_bucketed(postings, os.path.join(staging, "postings"))
        write_df_stats(postings, staging, stats=_docs_stats(docs))

    meta = {"version": LEX_INDEX_VERSION, "buckets": LEX_BUCKETS}
    return ensure_tree(LEX.dir(sf_dir), sf_dir, "meta.json", meta, build)


@register(
    "op_text_bm25_serve",
    tags=("llm", "text", "index"),
    setup=(build_lex_index,),
    # the EXACT oracle op_text_bm25 uses: the persisted-index path must
    # reproduce the corpus-scan path value for value
    oracle=BM25_CTES
    + """
        SELECT doc_id, bm25, n_terms_hit FROM bm
    """,
)
def op_text_bm25_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the PERSISTED inverted index — query time
    touches ZERO corpus: the query terms' buckets fold to literals at
    planning time, the postings and df scans prune to those partition
    directories, the 1-row stats artifact broadcasts,
    and the score is op_text_bm25's identical IEEE expression. The
    oracle is shared VERBATIM with op_text_bm25, so the index path is
    held to bit-equality with the corpus-scan path by the driver's
    value hash — the strongest build/serve consistency guarantee in
    the registry (the ANN split can only audit recall; the lexical
    split proves exact equivalence).

    Plan contract (tests/test_plans.py): no documents scan anywhere
    in the serve plan, and the postings scan carries a term_bucket
    PartitionFilter. At 100 TB this is the difference between a
    corpus scan per query and O(terms' buckets) posting reads — the
    reason inverted indexes exist.

    Local-fixture honesty: at sf0.1 serve measures ~par with the
    inline form (1.5 vs 1.4 s median) — the corpus is small enough
    that one materialized scan is already cheap, and serve's fixed
    costs (partitioned-dir listing and footers) dominate. The
    win is the asymptotic shape, not the 5000-doc wall-clock; the
    value oracle proves the path exact either way."""
    path = build_lex_index(spark, sf_dir)
    return bm25_from_index(spark, path)


def bm25_index_parts(
    spark: SparkSession, path: str, terms: tuple[str, ...]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The BM25 parts of ``terms`` read from the index tree at
    ``path``: ``tf`` and ``df`` pruned to the terms' bucket
    directories, and the one-row ``stats``. All integers, equal to
    ``text.bm25_scan_parts`` over the indexed corpus. The bucket of a
    literal term constant-folds, so the scan prunes on a literal
    ``term_bucket IN (...)`` without running a job."""
    buckets = [_bucket(F.lit(t)) for t in terms]
    wanted = F.col("term_bucket").isin(*buckets) & F.col("term").isin(*terms)
    tf = read_parquet(spark, os.path.join(path, "postings")).filter(wanted)
    df = read_parquet(spark, os.path.join(path, "df")).filter(wanted)
    return (
        tf.select("doc_id", "dl", "term", "tf"),
        df.select("term", "df"),
        read_parquet(spark, os.path.join(path, "stats")),
    )


def bm25_from_index(
    spark: SparkSession, path: str, query_terms: tuple[str, ...] = BM25_TERMS
) -> DataFrame:
    """BM25 of ``query_terms`` served from the index tree at ``path``:
    the one-query ``bm25_scored`` over ``bm25_index_parts``, as
    (doc_id, bm25, n_terms_hit). Every lexical serve op reads its tree
    through it."""
    parts = bm25_index_parts(spark, path, query_terms)
    return bm25_scored(*parts, {0: query_terms}).drop("query_id")


def ensure_lex_upsert_tree(spark: SparkSession, sf_dir: str) -> str:
    """Build (idempotently) the lexical-upsert tree: the corpus
    tokenized once (``lex_postings``) and written in one partitioned
    write as ``postings/seg=<s>/term_bucket=<b>``. Segment 0 is the
    base (doc_id < max * 4 div 5) and segment 1 the delta
    (``upsert_segments``), the layout a streamed store's epochs give.
    df/ and stats/ are written as ``build_lex_index`` writes them.

    The tree does not fold df from a persisted base: df, n_docs and
    tot_dl are additive integers over disjoint document sets, so the
    values equal any such fold and a full rebuild. O(batch)
    incremental upkeep is what the streamed stores exercise
    (op_stream_lex_serve), deriving df the same way."""

    def build(staging: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        postings = lex_postings(upsert_segments(docs, "doc_id"), "seg")
        write_segmented(postings, "term_bucket", os.path.join(staging, "postings"))
        write_df_stats(postings, staging, stats=_docs_stats(docs))

    meta = {"version": LEX_INDEX_VERSION, "buckets": LEX_BUCKETS}
    return ensure_tree(LEX.dir(sf_dir, "upsert"), sf_dir, "upsert_done.json", meta, build)


@register(
    "op_lex_index_upsert",
    tags=("llm", "text", "index"),
    setup=(ensure_lex_upsert_tree,),
    # op_text_bm25's verbatim oracle, same as op_text_bm25_serve: the
    # POST-UPSERT index must reproduce the full-corpus scorer
    # bit-for-bit — incremental maintenance held to exact equality
    oracle=BM25_CTES
    + """
        SELECT doc_id, bm25, n_terms_hit FROM bm
    """,
)
def op_lex_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL lexical-index maintenance, op_sim_index_upsert's
    twin for the inverted index: the delta documents land as their own
    postings segment (seg=1), partition-aligned with the term_bucket
    layout of the base segment (seg=0), and df/stats are the exact
    integer sums over both (``ensure_lex_upsert_tree``).

    The gate is the strongest available: this op SERVES BM25 from the
    post-upsert tree via the exact op_text_bm25_serve path and keeps
    op_text_bm25's oracle VERBATIM, so the driver's value hash holds
    upsert-then-serve to bit-equality with the full corpus-scan
    scorer. A pytest additionally pins serve-after-upsert equal
    row-for-row to a full index rebuild (tests/test_llmdata.py).

    At 100 TB this is the Lucene/ES segment model: deltas land as new
    term-sharded posting segments, df/stats sum additively, and the
    bucket layout keeps query-time pruning intact across upserts
    (served query terms resolve to the same buckets before and
    after)."""
    demo = ensure_lex_upsert_tree(spark, sf_dir)
    return bm25_from_index(spark, demo)


def ensure_lex_compact_tree(spark: SparkSession, sf_dir: str) -> str:
    """The lexical upsert tree with the ``tomb_residue`` tombstones
    dropped, one segment per term bucket, and df/stats re-derived from
    the survivors (``ensure_compacted_tree``)."""
    demo = ensure_lex_upsert_tree(spark, sf_dir)
    return ensure_compacted_tree(spark, sf_dir, LEX, LEX_POSTINGS, demo, "compact")


@register(
    "op_lex_index_delete_compact",
    tags=("llm", "text", "index"),
    setup=(ensure_lex_compact_tree,),
    # op_text_bm25's oracle RECOMPUTED over the surviving corpus: after
    # deletes, df / n_docs / tot_dl all shift, so every surviving score
    # changes — and the compacted index must reproduce the re-derived
    # scorer bit-for-bit. A fully SQL-replayable delete gate, stronger
    # than the ANN side's audit booleans.
    oracle=BM25_CTES.replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 17 != 3) documents",
    )
    + """
        SELECT doc_id, bm25, n_terms_hit FROM bm
    """,
)
def op_lex_index_delete_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETES + COMPACTION for the lexical index — op_sim_index_
    compact's twin, with the semantics Lucene actually has: deletes
    tombstone documents (pmod(doc_id,17)==3, the shared predicate)
    and the index's derived statistics stay stale until the merge;
    compaction drops tombstoned postings, rewrites ONE segment per
    term bucket (input: the upsert tree's 2-segments-per-bucket
    shape), and RE-DERIVES df and the corpus stats from the surviving
    postings — exact integer math (df = per-term count of surviving
    docs; n_docs/tot_dl from the distinct (doc_id, dl) pairs), which
    is why the output can be held to BIT-EQUALITY with DuckDB's BM25
    recomputed over `documents WHERE doc_id % 17 != 3`: serving from
    the compacted tree IS the full-rebuild scorer for the surviving
    corpus, IDF shifts and all. The input tree stays live throughout.

    At 100 TB this is Lucene forceMerge with segment-local stats
    re-derivation: the merge streams each bucket's surviving postings
    once (partition pruning scopes per-bucket schedules), and the df
    recompute is the same pass — no extra corpus touch, document text
    never read."""
    return bm25_from_index(spark, ensure_lex_compact_tree(spark, sf_dir))


def ensure_lex_e2e_tree(spark: SparkSession, sf_dir: str) -> str:
    """The COMPOSED-lifecycle end state for the lexical family: the
    upsert tree (build -> delta upsert) purged of the id LIST TOMB_IDS
    (the purge-request shape), compacted one segment per bucket, with
    df and corpus stats re-derived from the survivors
    (``ensure_compacted_tree``)."""
    demo = ensure_lex_upsert_tree(spark, sf_dir)
    return ensure_compacted_tree(spark, sf_dir, LEX, LEX_POSTINGS, demo, "e2e", TOMB_IDS)


def _e2e_survivor_oracle() -> str:
    """op_text_bm25's oracle recomputed over the NET corpus of a
    TOMB_IDS purge (documents minus the purge list) — the id list is
    generated from the same constant the compactor anti-joins, so the
    Spark side and the oracle cannot drift."""
    return BM25_CTES.replace(
        "FROM documents",
        f"FROM (SELECT * FROM documents WHERE doc_id NOT IN {TOMB_IDS_SQL})"
        " documents",
    ) + """
        SELECT doc_id, bm25, n_terms_hit,
               TRUE AS purge_ledger_consistent
        FROM bm
    """


def lex_compact_serve(spark: SparkSession, src: str, comp: str) -> DataFrame:
    """The one compact-and-serve gate of the lexical family, for a tree
    ``comp`` compacted from ``src`` under the TOMB_IDS purge (both
    trees hold ``postings/``, ``comp`` its purge ledger, df/ and stats/
    at its root): BM25 served from ``comp`` (``bm25_from_index``) with
    ``purge_ledger_consistent`` (``purge_ledger_referee``: the ledger
    records the TOMB_IDS digest and the posting counts of both trees;
    a missing ledger raises). Raises unless ``comp`` holds strictly
    fewer parquet files than ``src``."""
    src_postings, comp_postings = os.path.join(src, "postings"), os.path.join(comp, "postings")
    if not segments_merged(src_postings, comp_postings):
        raise ValueError(f"compaction did not merge the segments of {src}")
    audit = purge_ledger_referee(
        spark,
        comp,
        read_parquet(spark, src_postings),
        read_parquet(spark, comp_postings),
        "doc_id",
    ).select("purge_ledger_consistent")
    return bm25_from_index(spark, comp).crossJoin(F.broadcast(audit))


@register(
    "op_lex_lifecycle_e2e",
    tags=("llm", "text", "index"),
    setup=(ensure_lex_e2e_tree,),
    oracle=_e2e_survivor_oracle(),
)
def op_lex_lifecycle_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE FULL LIFECYCLE COMPOSED ON ONE LINEAGE on the lexical side:
    build (base segment) -> delta upsert (delta segment) -> id-LIST
    tombstone (TOMB_IDS, the purge-request shape, anti-joined by
    ``compact_postings`` instead of the residue predicate the
    per-transition gates use) -> compact (one segment per bucket, df
    and corpus stats RE-DERIVED from the survivors) -> serve, through
    the family's one compact-and-serve gate (``lex_compact_serve``).

    Gate: serving BM25 from the lineage's end state is held to
    BIT-EQUALITY with op_text_bm25's oracle recomputed over
    ``documents WHERE doc_id NOT IN TOMB_IDS`` — because every
    statistic is an exact integer and the score is the one shared
    IEEE expression, the end state of build -> upsert -> purge ->
    compact IS the from-scratch index of the net corpus, IDF shifts
    and all, and the driver's value hash proves it per doc. A pytest
    additionally pins the end-state artifacts (postings, df, stats)
    row-for-row equal to a from-scratch build over the survivor
    corpus (tests/test_llmdata.py).

    At 100 TB this is the inverted index's whole life as one provable
    pipeline: the build amortizes, deltas land as new segments, the
    purge list broadcasts into a map-side anti-join, the merge
    re-derives df/stats in the same per-bucket pass that rewrites the
    segments, and the morning's scores are the scores a fresh index
    would give."""
    demo = ensure_lex_upsert_tree(spark, sf_dir)
    return lex_compact_serve(spark, demo, ensure_lex_e2e_tree(spark, sf_dir))
