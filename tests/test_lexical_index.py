"""Incremental lexical (BM25) index: append without re-tokenizing,
search equal to full-corpus BM25, bucket-level partition pruning, and
replay-safe streaming maintenance.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ureplicator_spark.plans.inspect import plan_string
from ureplicator_spark.sources.lexical_index import (
    append_to_lexical_index,
    build_lexical_index,
    search_lexical_index,
)
from ureplicator_spark.sources.parquet import load_table
from ureplicator_spark.streaming.index_maintenance import maintain_lexical_index

TERMS = ("dup", "spark", "merge")
SPLIT = 400


@pytest.fixture()
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _full_corpus_top10(docs):
    from ureplicator_spark.operators.text import bm25_search

    return [
        (r.rank, r.doc_id, r.bm25) for r in bm25_search(docs, TERMS).collect()
    ]


def test_index_search_equals_fullcorpus_bm25_after_append(spark, docs, tmp_path):
    root = str(tmp_path / "lex")
    build_lexical_index(spark, docs.filter(F.col("doc_id") < SPLIT), root)
    append_to_lexical_index(spark, root, docs.filter(F.col("doc_id") >= SPLIT))

    got = [
        (r.rank, r.doc_id, r.bm25)
        for r in search_lexical_index(spark, root, TERMS).collect()
    ]
    assert got == _full_corpus_top10(docs)

    # appended stats are exactly a full build's (batch-disjoint ids)
    from ureplicator_spark.streaming.ivm import read_view

    df_view = {r.token: r.df for r in read_view(spark, root + "/stats").collect()}
    from ureplicator_spark.operators.text import tokens

    want_df = {
        r.token: r.df
        for r in tokens(docs)
        .groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    }
    assert df_view == want_df


def test_search_scan_is_bucket_pruned(spark, docs, tmp_path):
    """The postings scan must prune at the partition level to the
    query terms' tb buckets — the lexical analog of the IVF probe's
    DPP — and never read unrelated buckets."""
    root = str(tmp_path / "lex")
    build_lexical_index(spark, docs, root)
    plan = plan_string(search_lexical_index(spark, root, TERMS))
    m = re.search(r"PartitionFilters: \[([^\]]*tb[^\]]*)\]", plan)
    assert m, f"no tb partition filter in plan:\n{plan}"


def test_streaming_maintenance_applies_once_and_replays_noop(
    spark, docs, tmp_path
):
    root = str(tmp_path / "lex")
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    build_lexical_index(spark, docs.filter(F.col("doc_id") < SPLIT), root)

    arrivals = docs.filter(F.col("doc_id") >= SPLIT)
    arrivals.repartition(2).write.parquet(src)
    static = spark.read.parquet(src)

    def run():
        stream = (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        maintain_lexical_index(stream, root, ckpt).awaitTermination(120)

    run()
    got = [
        (r.rank, r.doc_id, r.bm25)
        for r in search_lexical_index(spark, root, TERMS).collect()
    ]
    assert got == _full_corpus_top10(docs)
    n_postings = spark.read.parquet(root + "/postings").count()

    # restart over the same source + checkpoint: markers no-op, no
    # duplicate postings, unchanged df stats, identical search
    run()
    assert spark.read.parquet(root + "/postings").count() == n_postings
    again = [
        (r.rank, r.doc_id, r.bm25)
        for r in search_lexical_index(spark, root, TERMS).collect()
    ]
    assert again == got


def test_delete_makes_index_equal_rebuild_on_survivors(spark, docs, tmp_path):
    """RTBF: after deleting the appended docs, search and stats must be
    byte-identical to a fresh build over the surviving corpus."""
    from ureplicator_spark.sources.lexical_index import delete_from_lexical_index
    from ureplicator_spark.streaming.ivm import read_view

    root = str(tmp_path / "lex")
    build_lexical_index(spark, docs, root)
    doomed_ids = [r.doc_id for r in docs.filter(F.col("doc_id") >= SPLIT).collect()]
    out = delete_from_lexical_index(spark, root, doomed_ids)
    assert out["deleted_docs"] == len(doomed_ids)
    assert out["buckets_rewritten"] >= 1

    survivors = docs.filter(F.col("doc_id") < SPLIT)
    got = [
        (r.rank, r.doc_id, r.bm25)
        for r in search_lexical_index(spark, root, TERMS).collect()
    ]
    assert got == _full_corpus_top10(survivors)

    # no deleted doc's postings remain anywhere
    remaining = spark.read.parquet(root + "/postings")
    assert remaining.filter(F.col("doc_id") >= SPLIT).count() == 0

    # stats equal a recompute over survivors
    from ureplicator_spark.operators.text import tokens

    want_df = {
        r.token: r.df
        for r in tokens(survivors)
        .groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    }
    got_df = {r.token: r.df for r in read_view(spark, root + "/stats").collect()}
    assert got_df == want_df
    corpus = read_view(spark, root + "/corpus").collect()[0]
    n_tok = tokens(survivors).count()
    assert (corpus.n_docs, corpus.total_dl) == (survivors.count(), n_tok)

    # deleting unknown ids is a no-op
    assert delete_from_lexical_index(spark, root, [10**9]) == {
        "deleted_docs": 0, "buckets_rewritten": 0, "removed_dirs": 0,
    }


@pytest.mark.slow
def test_torn_delete_is_repaired_exactly_once(spark, docs, tmp_path):
    """The r8 crash contract: a delete that dies between the intent
    commit and the stats commits is completed by repair_lexical_index
    — and a repair after a FULLY-applied delete whose intent cleanup
    was the only casualty must not decrement stats a second time.
    Either way the healed index is byte-identical to a clean delete."""
    from ureplicator_spark.sources.lexical_index import (
        _apply_delete_stats,
        _commit_version,
        _rewrite_postings_without,
        delete_from_lexical_index,
        repair_lexical_index,
    )
    from ureplicator_spark.streaming.ivm import _last_seq, read_view

    # reference state: a CLEAN delete on an identical twin index
    clean = str(tmp_path / "clean")
    build_lexical_index(spark, docs, clean)
    doomed_ids = [r.doc_id for r in docs.filter(F.col("doc_id") >= SPLIT).collect()]
    delete_from_lexical_index(spark, clean, doomed_ids)
    want_search = [
        (r.rank, r.doc_id, r.bm25)
        for r in search_lexical_index(spark, clean, TERMS).collect()
    ]
    want_df = {r.token: r.df for r in read_view(spark, clean + "/stats").collect()}
    want_corpus = tuple(read_view(spark, clean + "/corpus").collect()[0])

    def _simulate_crash(root, apply_stats, legacy=False):
        """Run the delete's steps manually up to the crash point.
        ``legacy=True`` writes the pre-tag intent layout (no identity
        tag), exercising the sequence-based fallback repair path."""
        from ureplicator_spark.operators.text import tokens as _tokens  # noqa: F401

        postings = spark.read.parquet(root + "/postings")
        doomed = postings.filter(F.col("doc_id").isin(doomed_ids))
        df_delta = doomed.groupBy("token").agg(
            F.countDistinct("doc_id").alias("ddf")
        )
        dls = doomed.groupBy("doc_id").agg(F.first("dl").alias("dl"))
        n_del = dls.count()
        dl_sum = int(dls.agg(F.sum("dl")).collect()[0][0])
        s_seq = _last_seq(spark, root + "/stats")
        c_seq = _last_seq(spark, root + "/corpus")
        intent = root + "/_delete_intent"
        _commit_version(spark, intent + "/deltas", df_delta, -1)
        if legacy:
            meta = spark.createDataFrame(
                [(doomed_ids, n_del, dl_sum, s_seq, c_seq)],
                "doc_ids array<long>, n_del long, dl_sum long, "
                "stats_seq long, corpus_seq long",
            )
        else:
            meta = spark.createDataFrame(
                [(doomed_ids, n_del, dl_sum, s_seq, c_seq, "ttag0001")],
                "doc_ids array<long>, n_del long, dl_sum long, "
                "stats_seq long, corpus_seq long, tag string",
            )
        _commit_version(spark, intent + "/meta", meta, -1)
        _rewrite_postings_without(spark, root, doomed_ids)
        if apply_stats:  # crash AFTER stats landed, before intent cleanup
            deltas = read_view(spark, intent + "/deltas")
            _apply_delete_stats(spark, root, deltas, n_del, dl_sum, "ttag0001")

    for crash_after_stats in (False, True):
        root = str(tmp_path / f"torn_{crash_after_stats}")
        build_lexical_index(spark, docs, root)
        _simulate_crash(root, apply_stats=crash_after_stats)
        assert repair_lexical_index(spark, root) is True
        # healed: search, stats and corpus equal the clean delete
        got = [
            (r.rank, r.doc_id, r.bm25)
            for r in search_lexical_index(spark, root, TERMS).collect()
        ]
        assert got == want_search
        got_df = {r.token: r.df for r in read_view(spark, root + "/stats").collect()}
        assert got_df == want_df
        assert tuple(read_view(spark, root + "/corpus").collect()[0]) == want_corpus
        # intent cleared; a second repair is a no-op
        assert repair_lexical_index(spark, root) is False

    # legacy intent (pre-tag layout): the sequence-based fallback
    # still heals a crash-before-stats delete
    root = str(tmp_path / "torn_legacy")
    build_lexical_index(spark, docs, root)
    _simulate_crash(root, apply_stats=False, legacy=True)
    assert repair_lexical_index(spark, root) is True
    got_df = {r.token: r.df for r in read_view(spark, root + "/stats").collect()}
    assert got_df == want_df
    assert tuple(read_view(spark, root + "/corpus").collect()[0]) == want_corpus


@pytest.mark.slow
def test_concurrent_append_does_not_swallow_delete_decrement(
    spark, docs, tmp_path
):
    """Regression (r8 advisor): a maintainer append committing BETWEEN
    a delete's intent and its stats apply advanced the view sequence
    past the recorded pre-delete value, which the old check read as
    'my decrement landed' — silently skipping it and leaving BM25
    stats permanently overstated. The decrement is now keyed by the
    delete's own identity tag, so the repair must fold it in even
    though the sequence moved on."""
    from ureplicator_spark.sources.lexical_index import (
        _commit_version,
        _rewrite_postings_without,
        repair_lexical_index,
    )
    from ureplicator_spark.streaming.ivm import _last_seq, read_view

    base = docs.filter(F.col("doc_id") < SPLIT)
    extra = docs.filter(
        (F.col("doc_id") >= SPLIT) & (F.col("doc_id") < SPLIT + 50)
    )
    doomed_ids = [
        r.doc_id for r in base.filter(F.col("doc_id") < 50).collect()
    ]

    # clean reference: delete then append on a twin index
    from ureplicator_spark.sources.lexical_index import (
        delete_from_lexical_index,
    )

    clean = str(tmp_path / "clean")
    build_lexical_index(spark, base, clean)
    delete_from_lexical_index(spark, clean, doomed_ids)
    append_to_lexical_index(spark, clean, extra)
    want_df = {r.token: r.df for r in read_view(spark, clean + "/stats").collect()}
    want_corpus = tuple(read_view(spark, clean + "/corpus").collect()[0])

    # torn order: intent + postings rewrite, CONCURRENT append, repair
    root = str(tmp_path / "interleaved")
    build_lexical_index(spark, base, root)
    postings = spark.read.parquet(root + "/postings")
    doomed = postings.filter(F.col("doc_id").isin(doomed_ids))
    df_delta = doomed.groupBy("token").agg(F.countDistinct("doc_id").alias("ddf"))
    dls = doomed.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    n_del, dl_sum = dls.count(), int(dls.agg(F.sum("dl")).collect()[0][0])
    intent = root + "/_delete_intent"
    _commit_version(spark, intent + "/deltas", df_delta, -1)
    meta = spark.createDataFrame(
        [(
            doomed_ids, n_del, dl_sum,
            _last_seq(spark, root + "/stats"),
            _last_seq(spark, root + "/corpus"),
            "racetag1",
        )],
        "doc_ids array<long>, n_del long, dl_sum long, "
        "stats_seq long, corpus_seq long, tag string",
    )
    _commit_version(spark, intent + "/meta", meta, -1)
    _rewrite_postings_without(spark, root, doomed_ids)
    append_to_lexical_index(spark, root, extra)  # sequences advance
    assert repair_lexical_index(spark, root) is True

    got_df = {r.token: r.df for r in read_view(spark, root + "/stats").collect()}
    assert got_df == want_df
    assert tuple(read_view(spark, root + "/corpus").collect()[0]) == want_corpus
    # exactly-once: a re-run (intent already cleared) changes nothing
    assert repair_lexical_index(spark, root) is False
    assert {
        r.token: r.df for r in read_view(spark, root + "/stats").collect()
    } == want_df


def test_positional_index_append_equals_rebuild_and_batch_op(
    spark, docs, tmp_path
):
    """Phrase section lifecycle: build on 80%, append 20% — the probe
    answers EXACTLY what (a) a fresh full build answers and (b) the
    batch phrase_search operator derives from the corpus text.
    Positions are per-doc local state, so both equalities are exact."""
    from ureplicator_spark.operators.text import min_doc_phrase, phrase_search
    from ureplicator_spark.sources.lexical_index import (
        append_to_positional_index,
        build_positional_index,
        phrase_index_search,
    )

    terms = tuple(
        r.term for r in min_doc_phrase(docs).orderBy("offset").collect()
    )
    assert len(terms) == 3

    inc_root = str(tmp_path / "pos_inc")
    build_positional_index(spark, docs.filter(F.col("doc_id") < SPLIT), inc_root)
    append_to_positional_index(
        spark, inc_root, docs.filter(F.col("doc_id") >= SPLIT)
    )
    full_root = str(tmp_path / "pos_full")
    build_positional_index(spark, docs, full_root)

    def rows(df):
        return [(r.doc_id, r.n_occurrences, r.first_pos) for r in df.collect()]

    got_inc = rows(phrase_index_search(spark, inc_root, terms))
    got_full = rows(phrase_index_search(spark, full_root, terms))
    got_batch = rows(phrase_search(docs, min_doc_phrase(docs)))
    assert got_inc == got_full == got_batch and got_inc


def test_phrase_search_scan_is_bucket_pruned(spark, docs, tmp_path):
    """The positional probe's parquet scan must carry the tb partition
    filter (static pruning to the phrase terms' buckets), like the
    BM25 search scan."""
    from ureplicator_spark.operators.text import min_doc_phrase
    from ureplicator_spark.sources.lexical_index import (
        _bucket_py,
        build_positional_index,
        phrase_index_search,
    )

    terms = tuple(
        r.term for r in min_doc_phrase(docs).orderBy("offset").collect()
    )
    root = str(tmp_path / "pos")
    build_positional_index(spark, docs, root)
    plan = plan_string(phrase_index_search(spark, root, terms))
    assert re.search(r"PartitionFilters: \[.*tb", plan), plan
    for b in {_bucket_py(t) for t in terms}:
        assert str(b) in plan


def test_positional_delete_equals_rebuild_on_survivors(spark, docs, tmp_path):
    """RTBF on the positional section: positions reconstruct a doc's
    text verbatim, so delete must remove every (token, pos) row. After
    deleting a doc set, the section equals a fresh build over the
    survivors ROW-FOR-ROW, and a repeated delete is a no-op."""
    from ureplicator_spark.sources.lexical_index import (
        build_positional_index,
        delete_from_positional_index,
    )

    doomed = [r.doc_id for r in docs.select("doc_id").limit(5).collect()]
    root = str(tmp_path / "pos")
    build_positional_index(spark, docs, root)
    res = delete_from_positional_index(spark, root, doomed)
    assert res["deleted_docs"] == len(doomed) and res["buckets_rewritten"] > 0

    surv_root = str(tmp_path / "pos_surv")
    build_positional_index(
        spark, docs.filter(~F.col("doc_id").isin(doomed)), surv_root
    )

    def rows(root_):
        return sorted(
            (r.tb, r.token, r.doc_id, r.pos)
            for r in spark.read.parquet(root_ + "/positions").collect()
        )

    assert rows(root) == rows(surv_root) and rows(root)
    again = delete_from_positional_index(spark, root, doomed)
    assert again == {
        "deleted_docs": 0, "buckets_rewritten": 0, "removed_dirs": 0,
    }


def test_positional_streaming_maintenance_applies_once_and_replays_noop(
    spark, docs, tmp_path
):
    """The streaming positional maintainer appends each micro-batch
    exactly once: after an availableNow pass over the corpus the
    section equals a batch build row-for-row, and re-running over the
    SAME checkpoint (a replay) changes nothing."""
    from ureplicator_spark.sources.lexical_index import build_positional_index
    from ureplicator_spark.streaming.index_maintenance import (
        maintain_positional_index,
    )

    src_dir = str(tmp_path / "src")
    docs.write.parquet(src_dir)

    root = str(tmp_path / "pos_stream")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):  # second pass = restart over same checkpoint
        q = maintain_positional_index(
            spark.readStream.schema(docs.schema).parquet(src_dir), root, ckpt
        )
        q.awaitTermination()

    batch_root = str(tmp_path / "pos_batch")
    build_positional_index(spark, docs, batch_root)

    def rows(root_):
        return sorted(
            (r.tb, r.token, r.doc_id, r.pos)
            for r in spark.read.parquet(root_ + "/positions").collect()
        )

    assert rows(root) == rows(batch_root) and rows(root)


@pytest.mark.slow
def test_lexical_delete_also_clears_colocated_positions(spark, docs, tmp_path):
    """RTBF coherence: when the BM25 postings and the positional
    section share a root, one delete_from_lexical_index call must
    clear BOTH — leaving (token, pos) rows behind would keep the
    deleted docs' text reconstructible."""
    from ureplicator_spark.sources.lexical_index import (
        build_lexical_index,
        build_positional_index,
        delete_from_lexical_index,
    )

    root = str(tmp_path / "both")
    build_lexical_index(spark, docs, root)
    build_positional_index(spark, docs, root)

    doomed = [r.doc_id for r in docs.select("doc_id").limit(3).collect()]
    delete_from_lexical_index(spark, root, doomed)

    pos = spark.read.parquet(root + "/positions")
    assert pos.filter(F.col("doc_id").isin(doomed)).head(1) == []
    assert pos.head(1)  # survivors intact
