"""Micro-batch mechanics the oracle comparison cannot see.

The registry's oracle parity proves op_stream_incremental_dedup's
FINAL admitted set equals batch keep-first; these tests pin the
incremental mechanics that make it an ingestion-side dedup — the
fingerprint store grows monotonically across micro-batches and a
cross-batch duplicate is dropped by the store anti-join, not by
within-batch dedup.
"""

from __future__ import annotations

import os

from game_data_etl_pipeline_spark import registry

SPECS = registry.all_specs()


def test_incremental_dedup_store_grows(spark, sf_dir):
    out = SPECS["op_stream_incremental_dedup"].fn(spark, sf_dir)
    rows = out.collect()

    # the persistent store holds exactly the admitted fingerprints
    from game_data_etl_pipeline_spark.catalog import session_dir

    work = session_dir(spark, "incdedup", sf_dir)
    store = spark.read.parquet(os.path.join(work, "store"))
    assert store.count() == len(rows)
    assert {r.fingerprint for r in store.collect()} == {r.fingerprint for r in rows}

    # store growth + anti-join, visible in the admission pattern: with
    # the +1e6 shift (1e6 % 3 == 1) every fingerprint's first arrival
    # lands in batch 0 or 1 (min(b, (b+1) % 3) is never 2), so batches
    # 0 and 1 admit and batch 2 — a full third of the arrivals — is
    # dropped ENTIRELY by the store anti-join: the strongest proof the
    # store accumulated across batches
    by_batch = {r.admitted_in_batch for r in rows}
    assert by_batch == {0, 1}

    # cross-batch drop: the re-crawl copy of doc d lands in batch
    # (d + 1e6) % 3 != d % 3 for d % 3 in {0, 1} (1e6 % 3 == 1), so
    # its duplicate fingerprint reaches a LATER or EARLIER batch and
    # must lose to the store/min — no fingerprint is admitted twice
    fps = [r.fingerprint for r in rows]
    assert len(fps) == len(set(fps))

    # keep-first: the admitted doc for any fingerprint is the minimal
    # (batch_id, doc_id) arrival; original docs (id < 1e6) win over
    # their re-crawl copy whenever they arrive in an earlier-or-equal
    # batch, which holds for d % 3 == 2 -> copy in batch 0... so just
    # assert the global invariant directly: no admitted doc_id has a
    # smaller-batch twin left out
    admitted = {r.fingerprint: (r.admitted_in_batch, r.doc_id) for r in rows}
    from pyspark.sql import functions as F

    from game_data_etl_pipeline_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    arrivals = (
        docs.unionByName(recrawl)
        .select(
            "doc_id",
            (F.col("doc_id") % 3).cast("int").alias("batch_id"),
            F.md5("text").alias("fingerprint"),
        )
        .collect()
    )
    best: dict[str, tuple[int, int]] = {}
    for r in arrivals:
        key = (r.batch_id, r.doc_id)
        if r.fingerprint not in best or key < best[r.fingerprint]:
            best[r.fingerprint] = key
    assert admitted == best


def test_incremental_fuzzy_dedup_drops_known_near_dups(spark, sf_dir):
    """The known fixture near-dup pairs (8,12) and (0,50) straddle
    micro-batches (doc_id % 3 puts each pair's members in different
    batches), so in each pair the LATER arrival must be dropped by the
    band store and the earlier one admitted."""
    out = SPECS["op_stream_incremental_fuzzy_dedup"].fn(spark, sf_dir)
    admitted = {r.doc_id: r.admitted_in_batch for r in out.collect()}
    # pair (8, 12): 12 arrives in batch 0, 8 in batch 2 -> 12 wins
    assert 12 in admitted and 8 not in admitted
    # pair (0, 50): 0 arrives in batch 0, 50 in batch 2 -> 0 wins
    assert 0 in admitted and 50 not in admitted
    # no admitted doc shares a band with an earlier admitted doc: the
    # oracle pins full equivalence; here just sanity-check volume
    assert 0 < len(admitted) < 200


def test_index_ingest_batches_partition_store(spark, sf_dir):
    """The streaming index store must carry the micro-batch lineage:
    exactly the vec_id % 3 split per batch_id, disjoint and complete —
    the per-batch O(batch) append contract, pinned on the persisted
    store rather than trusting the foreachBatch closure."""
    import os

    from pyspark.sql import functions as F

    from game_data_etl_pipeline_spark.catalog import session_dir
    from game_data_etl_pipeline_spark.streaming.queries import op_stream_index_ingest

    out = op_stream_index_ingest(spark, sf_dir).collect()
    assert len(out) == 1 and out[0].full_coverage and out[0].encode_consistent

    store = os.path.join(session_dir(spark, "idxingest", sf_dir), "postings")
    rows = spark.read.parquet(store).select("vec_id", "batch_id").collect()
    for r in rows:
        assert r.batch_id == r.vec_id % 3, (r.vec_id, r.batch_id)
    per_batch = {}
    for r in rows:
        per_batch[r.batch_id] = per_batch.get(r.batch_id, 0) + 1
    assert set(per_batch) == {0, 1, 2}
    assert sum(per_batch.values()) == len({r.vec_id for r in rows})


def test_stream_ann_serve_matches_offline_serve(spark, sf_dir):
    """Serving from the stream-ingested segments must be ROW-IDENTICAL
    to serving the offline build (shared columns), and the in-query
    ADC bit-equality referee must hold — freshness costs zero
    accuracy because the trained structure is frozen and streaming
    encode is deterministic."""
    from game_data_etl_pipeline_spark.registry import all_specs

    SPECS = all_specs()
    streamed = SPECS["op_stream_ann_serve"].fn(spark, sf_dir).collect()
    offline = SPECS["op_sim_ivfpq_serve"].fn(spark, sf_dir).collect()
    shared = ("query_id", "n_exact_within_bound", "pruned_scan", "recall_floor_met")
    assert {tuple(getattr(r, c) for c in shared) for r in streamed} == {
        tuple(getattr(r, c) for c in shared) for r in offline
    }
    assert all(r.adc_bitmatch_vs_main for r in streamed)


def test_stream_decontaminate_matches_offline_screen(spark, sf_dir):
    """The per-batch arrival-stream screen's accumulated ledger must
    equal the offline whole-corpus screen's ledger exactly (per-doc
    decomposition is lossless), and the Bloom bitmap must have pruned
    the exact-rescreen candidate set."""
    from game_data_etl_pipeline_spark.registry import all_specs

    SPECS = all_specs()
    streamed = SPECS["op_stream_decontaminate"].fn(spark, sf_dir).collect()
    offline = SPECS["op_corpus_decontaminate"].fn(spark, sf_dir).collect()
    key = lambda r: (r.doc_id, r.n_hit_shingles, r.n_bench_docs)
    assert {key(r) for r in streamed} == {key(r) for r in offline}
    assert streamed and all(r.bloom_pruned for r in streamed)


def test_streamed_compact_tomb_meta_handshake(spark, sf_dir):
    """The STREAMED compacted trees carry the e2e lineages' purge-list
    handshake (round-12 verdict task 2), CONSOLIDATED onto the purge
    LEDGER (round-13 verdict task 3): the shared compactor's deletion
    evidence is the ONE artifact — the duplicate
    stream_compact_done.json id-list markers are gone — the serve path
    validates the ledger's digest through check_tomb_meta, the purged
    ids are really gone from the compacted postings, and a ledger
    recording a DIFFERENT purge list than the session constant fails
    check_tomb_meta loudly instead of serving under the wrong
    oracle."""
    import json as _json

    import pytest

    from game_data_etl_pipeline_spark.llmdata.artifacts import (
        PURGE_LEDGER,
        TOMB_IDS,
        check_tomb_meta,
        purge_ids_digest,
        read_purge_ledger,
    )
    from game_data_etl_pipeline_spark.catalog import session_dir

    SPECS["op_stream_lex_compact_serve"].fn(spark, sf_dir).count()
    comp = os.path.join(
        session_dir(spark, "lexcompact", sf_dir), "compacted"
    )
    # consolidation: the ledger IS the handshake marker; the old
    # duplicate id-list marker must not come back
    assert not os.path.exists(os.path.join(comp, "stream_compact_done.json"))
    check_tomb_meta(comp)
    surv = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(comp, "postings"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert surv and not surv & set(TOMB_IDS)
    lled = read_purge_ledger(comp)
    assert lled["purge"]["digest"] == purge_ids_digest(TOMB_IDS)
    assert lled["n_purged"] == lled["n_before"] - lled["n_after"] > 0

    # a stale ledger (a tree compacted under an older purge list) must
    # fail the serve-path handshake loudly
    stale = dict(
        lled,
        purge={
            "kind": "id_list",
            "ids": [1, 2, 3],
            "digest": purge_ids_digest([1, 2, 3]),
        },
    )
    with open(os.path.join(comp, PURGE_LEDGER), "w") as f:
        _json.dump(stale, f)
    with pytest.raises(ValueError, match="tomb_ids"):
        check_tomb_meta(comp)
    # so is a predicate-kind ledger (the residue unit fixture): the
    # streamed gates compact under the id-list purge-request shape
    with open(os.path.join(comp, PURGE_LEDGER), "w") as f:
        _json.dump(dict(lled, purge={"kind": "predicate", "predicate": "x"}), f)
    with pytest.raises(ValueError, match="tomb_ids"):
        check_tomb_meta(comp)
    with open(os.path.join(comp, PURGE_LEDGER), "w") as f:
        _json.dump(lled, f)  # restore for later tests in the session

    SPECS["op_stream_ann_serve_compacted"].fn(spark, sf_dir).count()
    ann_comp = os.path.join(
        session_dir(spark, "annservecomp", sf_dir), "compacted"
    )
    assert not os.path.exists(
        os.path.join(ann_comp, "_stream_compact_done.json")
    )
    check_tomb_meta(ann_comp)
    ann_surv = {
        r.vec_id
        for r in spark.read.parquet(os.path.join(ann_comp, "postings"))
        .select("vec_id")
        .distinct()
        .collect()
    }
    assert ann_surv and not ann_surv & set(TOMB_IDS)
    aled = read_purge_ledger(ann_comp)
    assert aled["purge"]["digest"] == purge_ids_digest(TOMB_IDS)
    assert aled["n_purged"] == aled["n_before"] - aled["n_after"] > 0


def test_streamed_purge_ledger_referee_tamper(spark, sf_dir):
    """Round-13 verdict task 2: the streamed compact-serve gates READ
    the purge ledger back at serve (`purge_ledger_consistent`), so
    tampered deletion evidence cannot serve as TRUE — tampered counts
    or a foreign digest flip the referee to False (the driver's value
    hash then mismatches the oracle's TRUE literal), and a MISSING
    ledger fails loudly in read_purge_ledger."""
    import json as _json

    import pytest

    from game_data_etl_pipeline_spark.llmdata.artifacts import (
        PURGE_LEDGER,
        purge_ledger_referee,
        read_purge_ledger,
    )
    from game_data_etl_pipeline_spark.catalog import session_dir

    out = SPECS["op_stream_lex_compact_serve"].fn(spark, sf_dir)
    assert {r[0] for r in out.select("purge_ledger_consistent").distinct().collect()} == {True}

    work = session_dir(spark, "lexcompact", sf_dir)
    comp = os.path.join(work, "compacted")
    before = spark.read.parquet(os.path.join(work, "postings"))
    after = spark.read.parquet(os.path.join(comp, "postings"))

    def _referee_value() -> bool:
        return purge_ledger_referee(spark, comp, before, after, "doc_id").collect()[
            0
        ].purge_ledger_consistent

    assert _referee_value() is True
    clean = read_purge_ledger(comp)

    # tampered arithmetic: evidence no longer matches the trees
    bad = dict(clean, n_purged=clean["n_purged"] + 1)
    with open(os.path.join(comp, PURGE_LEDGER), "w") as f:
        _json.dump(bad, f)
    assert _referee_value() is False

    # foreign digest: ledger from a DIFFERENT purge list
    bad = dict(clean, purge=dict(clean["purge"], digest="0" * 64))
    with open(os.path.join(comp, PURGE_LEDGER), "w") as f:
        _json.dump(bad, f)
    assert _referee_value() is False

    # missing ledger: loud error, not a default
    os.remove(os.path.join(comp, PURGE_LEDGER))
    with pytest.raises(ValueError, match="purge ledger"):
        _referee_value()

    # restore the clean evidence for any later test in the session
    with open(os.path.join(comp, PURGE_LEDGER), "w") as f:
        _json.dump(clean, f)


def test_streamed_compact_publish_is_atomic(spark, sf_dir, monkeypatch):
    """Round-13 verdict task 7: the streamed compactions build in a
    STAGED sibling and publish by rename, so a crash between the
    segment rewrite and the ledger write leaves NO compacted tree (and
    no staging leftovers) — the offline trees' staging_tree
    discipline; a compacted-but-unevidenced store cannot exist even
    transiently on the streamed path either."""
    import glob

    import pytest

    from game_data_etl_pipeline_spark.llmdata import artifacts
    from game_data_etl_pipeline_spark.llmdata.artifacts import PURGE_LEDGER
    from game_data_etl_pipeline_spark.catalog import session_dir

    def boom(*a, **k):
        raise OSError("injected crash before the purge-ledger write")

    monkeypatch.setattr(artifacts, "write_purge_ledger", boom)

    # lexical: compact_postings resolves write_purge_ledger from
    # artifacts at call time, so the injection hits after the segment
    # rewrite and before the evidence lands
    with pytest.raises(OSError, match="injected crash"):
        SPECS["op_stream_lex_compact_serve"].fn(spark, sf_dir).count()
    lex_work = session_dir(spark, "lexcompact", sf_dir)
    assert not os.path.exists(os.path.join(lex_work, "compacted"))
    assert not glob.glob(os.path.join(lex_work, "staging_*"))

    # ann: the same injection point
    with pytest.raises(OSError, match="injected crash"):
        SPECS["op_stream_ann_serve_compacted"].fn(spark, sf_dir).count()
    ann_work = session_dir(spark, "annservecomp", sf_dir)
    assert not os.path.exists(os.path.join(ann_work, "compacted"))
    assert not glob.glob(os.path.join(ann_work, "staging_*"))

    # with the injection lifted, the very next run self-heals: staged
    # build, atomic publish, evidence present, serve green
    monkeypatch.undo()
    out = SPECS["op_stream_lex_compact_serve"].fn(spark, sf_dir)
    assert out.count() > 0
    assert os.path.isfile(
        os.path.join(lex_work, "compacted", PURGE_LEDGER)
    )


def test_replayed_epoch_leaves_single_run_end_state(spark, sf_dir, monkeypatch):
    """A retried micro-batch (the foreachBatch body run again with the
    same epoch_id) must leave the end state of one clean run, for every
    streamed store: each epoch overwrites its own ``seg=<epoch>``
    segment, and the dedup bodies read only earlier segments (a body
    that read its own would admit nothing on the rerun). The
    decontamination counters are checked too."""
    import json

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from game_data_etl_pipeline_spark.catalog import session_dir

    ops = (
        ("op_stream_bloom_upsert", "bloomupsert"),
        ("op_stream_decontaminate", "decontam"),
        ("op_stream_lex_serve", "lexserve"),
        ("op_stream_index_ingest", "idxingest"),
        ("op_stream_lex_ingest", "lexingest"),
        ("op_stream_incremental_dedup", "incdedup"),
        ("op_stream_incremental_fuzzy_dedup", "incfuzzy"),
        ("op_stream_foreachbatch_upsert", "upsert"),
    )

    def end_state(op: str, tag: str):
        rows = sorted(tuple(r) for r in SPECS[op].fn(spark, sf_dir).collect())
        counters = os.path.join(session_dir(spark, tag, sf_dir), "counters.json")
        if not os.path.exists(counters):
            return rows, None
        with open(counters) as f:
            return rows, json.load(f)

    clean = {op: end_state(op, tag) for op, tag in ops}
    assert clean["op_stream_decontaminate"][1] is not None, "counters not persisted"

    run_batch = DataStreamWriter.foreachBatch

    def replaying(self, func):
        def twice(batch_df, epoch_id):
            func(batch_df, epoch_id)
            func(batch_df, epoch_id)

        return run_batch(self, twice)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", replaying)
    for op, tag in ops:
        assert end_state(op, tag) == clean[op], f"{op}: replayed epochs changed the end state"


def test_streamed_ops_leave_no_temp_views(spark, sf_dir):
    """A memory-sink result holds its rows in driver memory for as long
    as a view names it: repeated calls must not add temp views."""
    op = SPECS["op_stream_tumbling"].fn

    def temp_views() -> int:
        return sum(t.isTemporary for t in spark.catalog.listTables())

    op(spark, sf_dir).collect()
    before = temp_views()
    for _ in range(3):
        assert op(spark, sf_dir).count() > 0
    assert temp_views() == before
