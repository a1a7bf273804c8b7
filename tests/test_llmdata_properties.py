"""Hypothesis property tests for the llmdata lifecycle algebras.

Separate module so the guard below covers exactly the property tests:
a module-level ``from hypothesis import ...`` inside test_llmdata.py
would fail COLLECTION of that whole file on an env without hypothesis,
silently disabling hundreds of non-property tests too (round-11
advice). Here importorskip skips only this file.
"""

from __future__ import annotations

import pytest

pytest.importorskip("hypothesis")

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# small vocabulary (forces heavy shingle overlap) mixed with unicode
# tokens and arbitrary short words — the adversarial shapes the theorem
# must survive: repeated runs, multi-byte text, hash-input edge cases
_bloom_token = st.one_of(
    st.sampled_from(
        ["alpha", "beta", "gamma", "delta", "eps", "ζ", "データ", "x", "火山", "a"]
    ),
    st.text(
        alphabet="abμ火\U0001F600'\"\\", min_size=1, max_size=3
    ).filter(lambda t: " " not in t),
)
# boundary lengths AROUND the 5-token shingle minimum: 0..12 tokens,
# so sub-threshold docs (no shingles) and barely-qualifying docs both
# appear in every corpus
_bloom_doc = st.lists(_bloom_token, min_size=0, max_size=12).map(" ".join)


@given(st.lists(_bloom_doc, min_size=60, max_size=90))
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_bloom_screen_no_false_negatives_property(spark, corpus):
    """PROPERTY: ``bloom_candidates`` ⊇ exact hits, for ANY corpus —
    the no-false-negatives theorem the decontamination gates assert on
    one fixture, pinned here against future hash/geometry edits over
    ≥300 generated documents (5 corpora × 60-90 docs: tiny shared
    vocabulary for adversarial shingle collisions, unicode/quote/
    escape tokens, doc lengths straddling the 5-token minimum, plus
    planted cross-split duplicates so true contamination exists).
    Also pins the round-10-advice fix: probing NON-deduped shingles
    (every row duplicated) must select the exact same candidate set —
    Bloom positivity counts distinct seeds, not rows."""
    from pyspark.sql import functions as F

    from game_data_etl_pipeline_spark.llmdata.dedup import (
        _shingles,
        bloom_candidates,
        bloom_words,
    )

    # plant contamination: every 7th doc becomes a copy of the next
    # bench doc's text (doc_ids 0,3,6,... are bench under %3), so
    # shared >=5-token runs straddle the split whenever that text
    # qualifies
    docs = list(corpus)
    bench_texts = [t for i, t in enumerate(docs) if i % 3 == 0]
    for j in range(1, len(docs), 7):
        if j % 3 != 0 and bench_texts:
            docs[j] = bench_texts[j % len(bench_texts)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    is_bench = F.pmod(F.col("doc_id"), F.lit(3)) == 0
    bench_g = _shingles(df.filter(is_bench)).select("g").distinct()
    words = bloom_words(bench_g).localCheckpoint()
    train = _shingles(df.filter(~is_bench))
    exact_hits = (
        train.join(F.broadcast(bench_g), "g", "left_semi")
        .select("doc_id", "g")
        .distinct()
        .localCheckpoint()
    )
    cands = bloom_candidates(train.distinct(), words).localCheckpoint()
    missed = exact_hits.join(cands, ["doc_id", "g"], "left_anti").count()
    assert missed == 0, f"bloom false negatives: {missed} exact hits not Bloom-positive"
    # non-deduped probe (every shingle row twice) == deduped probe
    cands_dup = bloom_candidates(train.unionAll(train), words)
    assert (
        cands_dup.exceptAll(cands).count() == 0
        and cands.exceptAll(cands_dup).count() == 0
    ), "duplicated-input probe drifted from deduped probe"


@given(
    st.lists(_bloom_doc.filter(bool), min_size=9, max_size=40),
    st.lists(st.integers(min_value=0, max_value=2), min_size=9, max_size=40),
)
@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
def test_bloom_fold_partition_invariance_property(spark, shingles, routes):
    """PROPERTY: folding per-batch words tables with bit_or equals
    building the filter from all shingles at once, for ANY partition
    of the shingle set into batches — the algebraic fact
    op_stream_bloom_upsert's exactness rests on (bit_or is monotone,
    associative, commutative; duplicates across batches are
    idempotent). Random shingle sets routed into 3 batches by a
    random routing vector, including empty batches and cross-batch
    duplicates."""
    from pyspark.sql import functions as F

    from game_data_etl_pipeline_spark.llmdata.dedup import (
        bloom_words,
        words_bitmatch_audit,
    )

    rows = [(g, routes[i % len(routes)]) for i, g in enumerate(shingles)]
    df = spark.createDataFrame(rows, "g string, batch int")
    whole = bloom_words(df.select("g"))
    parts = [
        bloom_words(df.filter(F.col("batch") == b).select("g")) for b in range(3)
    ]
    folded = (
        parts[0]
        .unionByName(parts[1])
        .unionByName(parts[2])
        .groupBy("widx")
        .agg(F.bit_or("bits").alias("bits"))
    )
    row = words_bitmatch_audit(folded, whole, "eq").collect()[0]
    assert row.eq, "per-batch bit_or fold diverged from the whole-set filter"


@given(st.lists(_bloom_doc, min_size=30, max_size=60))
@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
def test_lex_compact_algebra_matches_rebuild_property(spark, tmp_path_factory, corpus):
    """PROPERTY: compact_lex_postings (tombstone-drop + per-bucket
    rewrite + df/stats re-derivation) equals an index built from
    scratch over the surviving documents, for ANY corpus — the
    algebra op_lex_index_delete_compact and op_stream_lex_compact_serve
    both rest on. Random docs (unicode, duplicates, empty strings);
    tombstones are the shared pmod(doc_id, 17) == 3 slice."""
    import os as _os

    from pyspark.sql import functions as F

    from game_data_etl_pipeline_spark.llmdata.artifacts import TOMB_MOD, TOMB_RESIDUE
    from game_data_etl_pipeline_spark.llmdata.lex_index import (
        _bucket,
        compact_lex_postings,
    )
    from game_data_etl_pipeline_spark.llmdata.text import _terms

    work = str(tmp_path_factory.mktemp("lexprop"))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    post = (
        docs.select("doc_id", F.size(_terms()).alias("dl"), F.explode(_terms()).alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("term_bucket", _bucket(F.col("term")))
    )
    src = _os.path.join(work, "postings")
    post.repartition("term_bucket").write.partitionBy("term_bucket").parquet(src)
    dest = _os.path.join(work, "compacted")
    compact_lex_postings(spark, src, dest)

    from tests.conftest import expected_lex_index

    surviving = docs.filter(F.pmod(F.col("doc_id"), F.lit(TOMB_MOD)) != TOMB_RESIDUE)
    want_post, want_df, want_n_docs, want_tot_dl = expected_lex_index(surviving)
    # postings: exactly the surviving docs' (term, doc_id, dl, tf)
    got_post = {
        (r.term, r.doc_id, r.dl, r.tf)
        for r in spark.read.parquet(_os.path.join(dest, "postings")).collect()
    }
    assert got_post == want_post
    # df: per-term surviving-doc counts; stats: survivor n_docs/tot_dl
    got_df = {
        (r.term, r.df)
        for r in spark.read.parquet(_os.path.join(dest, "df")).collect()
    }
    assert got_df == want_df
    srow = spark.read.parquet(_os.path.join(dest, "stats")).collect()[0]
    assert srow.n_docs == want_n_docs
    assert (srow.tot_dl or 0) == want_tot_dl
