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
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from game_data_etl_pipeline_spark.catalog import load_table, read_parquet
from game_data_etl_pipeline_spark.llmdata.artifacts import (
    TOMB_IDS,
    TOMB_IDS_SQL,
    TOMB_MOD,
    Postings,
    TreeFamily,
    compact_postings,
    ensure_tree,
    purge_ledger_current,
    purge_ledger_referee,
    segments_merged,
    tomb_ids_current,
)
from game_data_etl_pipeline_spark.llmdata.text import BM25_CTES, BM25_TERMS, _terms, bm25_scored
from game_data_etl_pipeline_spark.registry import register

# v2: _bucket is pmod, total over all longs (v1's abs(xxhash64) % N left
# Long.MIN_VALUE negative); a re-keyed layout bumps the version
LEX_INDEX_VERSION = 2
LEX_BUCKETS = 16


def _bucket(term_col):
    return F.pmod(F.xxhash64(term_col), F.lit(LEX_BUCKETS)).cast("int")


LEX = TreeFamily(
    "SPARK_GRAFT_LEX_INDEX_DIR", "lex_index", "documents.parquet", LEX_INDEX_VERSION
)

# what a tombstone compaction of lexical postings rewrites (a streamed
# store's seg and batch_id columns are dropped)
LEX_POSTINGS = Postings("doc_id", "term_bucket", ("term", "doc_id", "dl", "tf", "term_bucket"))


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


def _write_bucketed(frame: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write ``frame`` to ``path`` partitioned by term_bucket, one file
    per bucket."""
    frame.repartition("term_bucket").write.mode(mode).partitionBy("term_bucket").parquet(path)


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
    """Build (idempotently) the lexical-upsert demo tree: a BASE index
    over doc_id < floor(0.8 * max) built exactly like build_lex_index,
    then the UPSERT — tokenize ONLY the delta docs, append their
    postings partition-aligned into the term_bucket layout, and
    re-emit df/stats MERGED from the persisted base artifacts plus the
    delta counts. Everything merged is an additive integer (tf and dl
    are per-doc facts, df/n_docs/tot_dl are sums over disjoint doc
    sets), so the merge is exact: the upserted index is
    value-identical to a full rebuild, which is what lets
    op_lex_index_upsert keep op_text_bm25's verbatim oracle.
    df_base/stats_base stay in the tree as provenance that the merge
    read persisted artifacts, not in-memory frames."""

    def build(staging: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        split = docs.agg(
            F.expr("max(doc_id) * 4 div 5").cast("long").alias("split")
        ).localCheckpoint(eager=True)
        with_split = docs.join(F.broadcast(split))
        base = with_split.filter(F.col("doc_id") < F.col("split"))
        delta = with_split.filter(F.col("doc_id") >= F.col("split"))

        # phase 1: the pre-existing BASE index (persisted artifacts)
        base_p = lex_postings(base)
        _write_bucketed(base_p, os.path.join(staging, "postings"))
        _write_bucketed(_df_frame(base_p), os.path.join(staging, "df_base"))
        _docs_stats(base).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staging, "stats_base")
        )
        # phase 2, the UPSERT: O(delta) tokenize + partition-aligned
        # posting append; df/stats re-emitted by merging the PERSISTED
        # base artifacts (read back from disk) with the delta counts
        delta_p = lex_postings(delta)
        _write_bucketed(delta_p, os.path.join(staging, "postings"), mode="append")
        merged_df = (
            spark.read.parquet(os.path.join(staging, "df_base"))
            .select("term", "df")
            .unionByName(_df_frame(delta_p).select("term", "df"))
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
            .withColumn("term_bucket", _bucket(F.col("term")))
        )
        _write_bucketed(merged_df, os.path.join(staging, "df"))
        merged_st = (
            spark.read.parquet(os.path.join(staging, "stats_base"))
            .unionByName(_docs_stats(delta))
            .agg(F.sum("n_docs").alias("n_docs"), F.sum("tot_dl").alias("tot_dl"))
        )
        merged_st.coalesce(1).write.mode("overwrite").parquet(os.path.join(staging, "stats"))

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
    """INCREMENTAL lexical-index maintenance — the symmetry gap with
    the ANN side closed (op_sim_index_upsert's freshness story for the
    inverted index): a delta batch of documents is tokenized in
    isolation (O(delta), never re-reading base text), its postings
    append partition-aligned into the term_bucket layout, and the
    derived statistics re-emit as exact integer merges of the
    PERSISTED base artifacts + the delta (df: per-term sum over
    disjoint doc sets; stats: two-row sum). No base posting is
    rewritten; the only non-O(delta) work is the vocabulary-sized df
    merge — bounded by Zipf, not by the corpus.

    The gate is the strongest available: this op SERVES BM25 from the
    post-upsert tree via the exact op_text_bm25_serve path and keeps
    op_text_bm25's oracle VERBATIM, so the driver's value hash holds
    incremental-then-serve to bit-equality with the full corpus-scan
    scorer. A pytest additionally pins serve-after-upsert equal
    row-for-row to a full index rebuild (tests/test_llmdata.py).

    At 100 TB this is the Lucene/ES segment model: deltas land as new
    term-sharded posting segments, df/stats merge additively, and the
    bucket layout keeps query-time pruning intact across upserts
    (served query terms resolve to the same buckets before and
    after)."""
    demo = ensure_lex_upsert_tree(spark, sf_dir)
    return bm25_from_index(spark, demo)


@register(
    "op_lex_index_delete_compact",
    tags=("llm", "text", "index"),
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
    demo = ensure_lex_upsert_tree(spark, sf_dir)
    comp = ensure_tree(
        LEX.dir(sf_dir, "compact"),
        sf_dir,
        "compact_done.json",
        {"version": LEX_INDEX_VERSION, "tomb_mod": TOMB_MOD},
        lambda staging: compact_lex_postings(spark, os.path.join(demo, "postings"), staging),
        valid=(lambda p: purge_ledger_current(p, p),),
    )
    return bm25_from_index(spark, comp)


def compact_lex_postings(
    spark: SparkSession,
    src_postings: str,
    dest: str,
    purge_ids: Sequence[int] | None = None,
) -> None:
    """The lexical tombstone compaction: ``compact_postings`` rewrites
    the postings at ``src_postings`` without the purged documents, one
    segment per term bucket, into ``dest/postings`` with the purge
    ledger at ``dest``; then the lexical fold re-derives ``dest/df``
    and ``dest/stats`` from the persisted survivors (``write_df_stats``;
    exact integer math, document text never read)."""
    postings = os.path.join(dest, "postings")
    compact_postings(spark, LEX_POSTINGS, src_postings, postings, purge_ids=purge_ids, ledger_dir=dest)
    write_df_stats(spark.read.parquet(postings), dest)


def ensure_lex_e2e_tree(spark: SparkSession, sf_dir: str) -> str:
    """Build (idempotently) the COMPOSED-lifecycle end state for the
    lexical family: one lineage walked build -> delta upsert (the
    ensure_lex_upsert_tree end state: merged df/stats, two posting
    segments per bucket) -> id-LIST tombstone (TOMB_IDS, the
    purge-request shape) -> ``compact_lex_postings`` (one segment per
    bucket, df and corpus stats re-derived from the survivors). A tree
    purged with another list, or without its purge ledger, is rebuilt;
    the upsert tree stays live."""
    demo = ensure_lex_upsert_tree(spark, sf_dir)

    def build(staging: str) -> None:
        compact_lex_postings(spark, os.path.join(demo, "postings"), staging, purge_ids=TOMB_IDS)

    return ensure_tree(
        LEX.dir(sf_dir, "e2e"),
        sf_dir,
        "e2e_done.json",
        {"version": LEX_INDEX_VERSION, "buckets": LEX_BUCKETS, "tomb_ids": list(TOMB_IDS)},
        build,
        valid=(
            lambda p: tomb_ids_current(p, "e2e_done.json"),
            lambda p: purge_ledger_current(p, p),
        ),
    )


def _e2e_survivor_oracle() -> str:
    """op_text_bm25's oracle recomputed over the e2e lineage's NET
    corpus (documents minus the TOMB_IDS purge list) — the id list is
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


@register(
    "op_lex_lifecycle_e2e",
    tags=("llm", "text", "index"),
    setup=(ensure_lex_e2e_tree,),
    oracle=_e2e_survivor_oracle(),
)
def op_lex_lifecycle_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE FULL LIFECYCLE COMPOSED ON ONE LINEAGE on the lexical side:
    build (base slice) -> delta upsert (exact integer df/stats merge)
    -> id-LIST tombstone (TOMB_IDS, the purge-request shape,
    anti-joined by ``compact_lex_postings`` instead of the residue
    predicate the per-transition gates use) -> compact (one segment
    per bucket, df and corpus stats RE-DERIVED from the survivors) ->
    serve.

    Gate: serving BM25 from the lineage's end state is held to
    BIT-EQUALITY with op_text_bm25's oracle recomputed over
    ``documents WHERE doc_id NOT IN TOMB_IDS`` — because every merged
    statistic is an exact integer and the score is the one shared
    IEEE expression, the end state of build -> upsert -> purge ->
    compact IS the from-scratch index of the net corpus, IDF shifts
    and all, and the driver's value hash proves it per doc. A pytest
    additionally pins the end-state artifacts (postings, df, stats)
    row-for-row equal to a from-scratch build over the survivor
    corpus (tests/test_llmdata.py). Segment hygiene is enforced
    loudly: the compacted tree must hold strictly fewer parquet files
    than the 2-segments-per-bucket upsert tree.
    ``purge_ledger_consistent`` (``purge_ledger_referee``) rides
    along: the compaction's purge ledger records the session TOMB_IDS
    digest and the posting counts measured on the persisted upsert and
    e2e trees; a missing ledger raises.

    At 100 TB this is the inverted index's whole life as one provable
    pipeline: the build amortizes, deltas land O(delta), the purge
    list broadcasts into a map-side anti-join, the merge re-derives
    df/stats in the same per-bucket pass that rewrites the segments,
    and the morning's scores are the scores a fresh index would give."""
    demo = ensure_lex_upsert_tree(spark, sf_dir)
    e2e = ensure_lex_e2e_tree(spark, sf_dir)
    if not segments_merged(os.path.join(demo, "postings"), os.path.join(e2e, "postings")):
        raise ValueError(f"op_lex_lifecycle_e2e: compaction did not merge the segments of {demo}")
    audit = purge_ledger_referee(
        spark,
        e2e,
        spark.read.parquet(os.path.join(demo, "postings")),
        spark.read.parquet(os.path.join(e2e, "postings")),
        "doc_id",
    ).select("purge_ledger_consistent")
    return bm25_from_index(spark, e2e).crossJoin(F.broadcast(audit))
