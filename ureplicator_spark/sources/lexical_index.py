"""Persisted inverted (BM25) index — incremental lexical retrieval.

`operators/text.bm25_search` tokenizes the corpus per query run. A
production pipeline ingests batches into a 100 TB corpus and serves
lexical retrieval continuously; re-tokenizing the corpus per query is
the cost this index removes. One corpus pass persists the postings;
each new batch tokenizes ONLY itself and appends — the lexical twin of
the IVF/MinHash index discipline (`sources/ivf_index.py`,
`sources/minhash_index.py`: corpus never re-processed).

Layout:

    <root>/postings/tb=<b>/   (token, doc_id, tf, dl) rows,
                              partitioned by tb = md5_long(token) % B
    <root>/stats/             versioned (token, df) view  (ivm commits)
    <root>/corpus/            versioned 1-row (n_docs, total_dl) view

A query's terms hash to a handful of tb buckets driver-side, so the
search scans only those partition directories (static pruning — the
lexical analog of the IVF probe's DPP). The df/corpus stats BM25 needs
are NOT recomputed from postings (that would be an O(corpus) scan per
batch): they are maintained incrementally — per batch, df grows by the
batch's per-token distinct-doc counts and (n_docs, total_dl) by scalar
sums, merged into versioned views via the crash-atomic
`streaming/ivm.py` commit (a torn overwrite of a flat stats table
would silently corrupt every future score).

Append-only arrival contract: a doc_id arrives exactly once (updates
are new doc ids); targeted removal is `delete_from_lexical_index`
(RTBF — rewrites only the affected tb partitions and folds exact
negative df/corpus deltas). The streaming maintainer
(`streaming/index_maintenance.py`) adds the marker-directory replay guard
so checkpoint-restart re-deliveries no-op instead of double-counting
df.

Scoring portability: search reuses `operators/text.bm25_contribution`
— the exact expression the batch operator and the SQL oracle compute,
so an index search is hash-comparable to a full-corpus BM25.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ureplicator_spark.functions import micro6, round6f

from ureplicator_spark.caching import release_checkpoint
from ureplicator_spark.fsutil import (
    cluster_for_partitioned_write,
    derived_files_per_partition,
)
from ureplicator_spark.functions import md5_long
from ureplicator_spark.streaming.ivm import _commit_version, _require_view, read_view

N_TOKEN_BUCKETS = 64
_BUCKET_SALT = "lexidx"


def _bucket_py(token: str, n_buckets: int = N_TOKEN_BUCKETS) -> int:
    """Driver-side twin of the Spark bucket expression (md5_long % B):
    lets the search compute its partition filter as literals, which is
    what makes the postings scan statically pruned."""
    h = int(hashlib.md5(f"{_BUCKET_SALT}:{token}".encode()).hexdigest()[:15], 16)
    return h % n_buckets


def _postings(documents: DataFrame, n_buckets: int) -> DataFrame:
    from ureplicator_spark.operators.text import tokens

    tok = tokens(documents).select("doc_id", "token")
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    return tf.join(dl, "doc_id").select(
        (md5_long("token", salt=_BUCKET_SALT) % n_buckets).alias("tb"),
        "token",
        "doc_id",
        "tf",
        "dl",
    )


def _merge_stats(spark: SparkSession, root: str, batch_docs: DataFrame) -> None:
    """Fold one batch's df / corpus-scalar deltas into the versioned
    stats views. O(batch vocabulary + 1) rows of delta; the merged df
    view is vocabulary-sized, never corpus-sized."""
    from ureplicator_spark.operators.text import tokens

    tok = tokens(batch_docs).select("doc_id", "token")
    df_delta = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    cur_df = read_view(spark, root + "/stats")
    if cur_df is not None:
        merged_df = (
            cur_df.join(df_delta, "token", "full_outer")
            .select(
                "token",
                (
                    F.coalesce(cur_df["df"], F.lit(0))
                    + F.coalesce(df_delta["df"], F.lit(0))
                ).alias("df"),
            )
        )
    else:
        merged_df = df_delta
    _commit_version(spark, root + "/stats", merged_df, -1)

    scalars = tok.groupBy("doc_id").agg(F.count("*").alias("dl")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    cur_c = read_view(spark, root + "/corpus")
    if cur_c is not None:
        scalars = cur_c.unionByName(scalars).agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_dl").cast("long").alias("total_dl"),
        )
    _commit_version(spark, root + "/corpus", scalars, -1)


def build_lexical_index(
    spark: SparkSession,
    documents: DataFrame,
    root: str,
    n_buckets: int = N_TOKEN_BUCKETS,
) -> None:
    """One corpus pass: bucket-partitioned postings + seeded stats.
    The only corpus-sized exchange is the partitioned write, clustered
    by bucket so each tb directory gets one file instead of one per
    shuffle task (guide §6; the chunk-index measurement)."""
    cluster_for_partitioned_write(
        _postings(documents, n_buckets), "tb", "token",
        derived_files_per_partition(documents, n_buckets),
    ).write.mode("overwrite").partitionBy("tb").parquet(root + "/postings")
    _merge_stats(spark, root, documents)


def append_to_lexical_index(
    spark: SparkSession,
    root: str,
    new_documents: DataFrame,
    n_buckets: int = N_TOKEN_BUCKETS,
) -> None:
    """Absorb a batch: tokenize ONLY the batch, append its postings
    partition-wise, fold its stats deltas in. O(batch), no rebuild;
    existing postings files are never touched. df stays exact because
    doc ids are append-only (batch-distinct counts sum to the global
    distinct count when no doc spans batches)."""
    cluster_for_partitioned_write(
        _postings(new_documents, n_buckets), "tb", "token",
        derived_files_per_partition(new_documents, n_buckets),
    ).write.mode("append").partitionBy("tb").parquet(root + "/postings")
    _merge_stats(spark, root, new_documents)


def search_lexical_index(
    spark: SparkSession,
    root: str,
    query_terms: tuple[str, ...],
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = N_TOKEN_BUCKETS,
) -> DataFrame:
    """BM25 top-k over the persisted index WITHOUT touching the corpus:
    the postings scan is statically pruned to the query terms' tb
    buckets (driver-side literal filter — the lexical analog of the
    IVF probe), df/corpus stats are broadcast from the maintained
    views, and the global top-k is TakeOrderedAndProject. Work is
    O(sum of query-term posting lists), independent of corpus size."""
    from ureplicator_spark.operators.text import bm25_contribution

    buckets = sorted({_bucket_py(t, n_buckets) for t in query_terms})
    postings = (
        spark.read.parquet(root + "/postings")
        .filter(F.col("tb").isin(buckets))
        .filter(F.col("token").isin(*query_terms))
    )
    dfreq = _require_view(spark, root + "/stats", "lexical-index stats").filter(
        F.col("token").isin(*query_terms)
    )
    corpus = _require_view(spark, root + "/corpus", "lexical-index corpus").select(
        (F.col("total_dl") / F.col("n_docs")).alias("avgdl"), "n_docs"
    )
    scored = (
        postings.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            # r11 exactness v2: per-term contributions quantize to
            # integer micro-units, summed exactly (order-free,
            # plain-SUM plan — see text.dsir_weights)
            (F.sum(micro6(bm25_contribution(k1, b))).cast("double") / 1e6)
            .alias("bm25")
        )
    )
    top = scored.orderBy(F.col("bm25").desc(), "doc_id").limit(top_k)
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "bm25"
    )


def _rewrite_postings_without(
    spark: SparkSession, root: str, ids: list[int], section: str = "postings"
) -> tuple[int, int]:
    """Dynamic-overwrite every tb partition of ``section`` still
    holding any of ``ids``; remove buckets emptied entirely.
    Idempotent: once the rows are gone the affected-bucket set is
    empty and this is a no-op — which is what makes the delete
    repairable after a crash mid-rewrite. Returns
    (buckets_rewritten, removed_dirs)."""
    from ureplicator_spark.fsutil import delete_recursive

    postings = spark.read.parquet(f"{root}/{section}")
    doomed = postings.filter(F.col("doc_id").isin(ids))
    buckets = sorted(r.tb for r in doomed.select("tb").distinct().collect())
    if not buckets:
        return 0, 0
    survivors = (
        postings.filter(F.col("tb").isin(buckets))
        .filter(~F.col("doc_id").isin(ids))
        .localCheckpoint()
    )
    kept_buckets = {r.tb for r in survivors.select("tb").distinct().collect()}
    old_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        survivors.write.mode("overwrite").partitionBy("tb").parquet(
            f"{root}/{section}"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    release_checkpoint(survivors)  # DataFrame.unpersist is a no-op for checkpoints

    emptied = [b for b in buckets if b not in kept_buckets]
    for b in emptied:
        delete_recursive(spark, f"{root}/{section}/tb={b}")
    return len(buckets), len(emptied)


def _delete_marker(root: str, tag: str, view: str) -> str:
    return f"{root}/_delete_applied/{tag}_{view}"


def _apply_delete_stats(
    spark: SparkSession, root: str, deltas: DataFrame, n_del: int, dl_sum: int,
    tag: str,
) -> None:
    """Fold the recorded negative deltas into each stats view EXACTLY
    ONCE, keyed by the delete's own identity tag — not by sequence
    position (r8 advisor: 'seq advanced past the recorded pre-delete
    value' also matches a CONCURRENT maintainer append committing
    between the intent and the apply, which silently swallowed the
    decrement and left BM25 stats permanently overstated).

    'This delete already applied to this view' is evidenced two ways:

    * the committed version NAME carries ``_d<tag>`` — written
      atomically with the decrement data itself (the parquet
      ``_SUCCESS`` gates both), so no crash can commit the decrement
      without its identity;
    * a durable marker dir (``_delete_applied/<tag>_<view>``) written
      right after the commit returns — it outlives version pruning
      (only the two newest versions are kept), covering repairs that
      run after later maintainer commits pruned the tagged version.

    Folding into the CURRENT view is order-independent w.r.t.
    concurrent appends (the decrement is an absolute delta), so
    interleaved maintainer commits no longer lose it. Residual window:
    a crash between the tagged commit and its marker, followed by TWO
    OR MORE maintainer commits before repair, would prune the only
    evidence and repair would decrement twice — quiesce maintainers
    while running ``repair_lexical_index`` (they should be stopped
    during a crash repair anyway)."""
    from ureplicator_spark.fsutil import fs_exists, mkdirs
    from ureplicator_spark.streaming.ivm import committed_tag_present

    def applied(view: str) -> bool:
        return fs_exists(spark, _delete_marker(root, tag, view)) or (
            committed_tag_present(spark, f"{root}/{view}", tag)
        )

    if not applied("stats"):
        cur_df = _require_view(spark, root + "/stats", "lexical-index stats")
        merged_df = (
            cur_df.join(deltas, "token", "left")
            .select(
                "token",
                (F.col("df") - F.coalesce("ddf", F.lit(0))).alias("df"),
            )
            .filter(F.col("df") > 0)
        )
        _commit_version(spark, root + "/stats", merged_df, -1, tag=tag)
        mkdirs(spark, _delete_marker(root, tag, "stats"))
    if not applied("corpus"):
        cur_c = _require_view(spark, root + "/corpus", "lexical-index corpus")
        merged_c = cur_c.select(
            (F.col("n_docs") - n_del).cast("long").alias("n_docs"),
            (F.col("total_dl") - dl_sum).cast("long").alias("total_dl"),
        )
        _commit_version(spark, root + "/corpus", merged_c, -1, tag=tag)
        mkdirs(spark, _delete_marker(root, tag, "corpus"))


def repair_lexical_index(spark: SparkSession, root: str) -> bool:
    """Complete a torn ``delete_from_lexical_index``: if a committed
    delete-intent survives (crash after the intent landed but before
    the final cleanup), re-run the idempotent postings rewrite and
    apply the RECORDED stats deltas to any view whose sequence shows
    the decrement never committed — then clear the intent. Returns
    True when a repair ran. Safe to call any time (no intent → no-op);
    ``delete_from_lexical_index`` calls it first, and a restart should
    call it before serving searches."""
    from ureplicator_spark.fsutil import delete_recursive

    intent = root + "/_delete_intent"
    meta_df = read_view(spark, intent + "/meta")
    deltas = read_view(spark, intent + "/deltas")
    if meta_df is None or deltas is None:
        # absent, or torn BEFORE the intent committed — the delete
        # never touched postings or stats; drop any half-written intent
        delete_recursive(spark, intent)
        return False
    meta = meta_df.collect()[0]
    _rewrite_postings_without(spark, root, [int(i) for i in meta.doc_ids])
    if "tag" in meta_df.columns:
        tag = str(meta.tag)
        _apply_delete_stats(
            spark, root, deltas, int(meta.n_del), int(meta.dl_sum), tag
        )
        _clear_delete_markers(spark, root, tag)
    else:
        # legacy intent written before deletes carried an identity
        # tag: fall back to the recorded-sequence check (only correct
        # with maintainers quiesced — the pre-upgrade contract)
        from ureplicator_spark.streaming.ivm import _last_seq

        if _last_seq(spark, root + "/stats") <= int(meta.stats_seq):
            cur_df = _require_view(spark, root + "/stats", "lexical-index stats")
            merged_df = (
                cur_df.join(deltas, "token", "left")
                .select(
                    "token",
                    (F.col("df") - F.coalesce("ddf", F.lit(0))).alias("df"),
                )
                .filter(F.col("df") > 0)
            )
            _commit_version(spark, root + "/stats", merged_df, -1)
        if _last_seq(spark, root + "/corpus") <= int(meta.corpus_seq):
            cur_c = _require_view(spark, root + "/corpus", "lexical-index corpus")
            merged_c = cur_c.select(
                (F.col("n_docs") - int(meta.n_del)).cast("long").alias("n_docs"),
                (F.col("total_dl") - int(meta.dl_sum)).cast("long").alias("total_dl"),
            )
            _commit_version(spark, root + "/corpus", merged_c, -1)
    delete_recursive(spark, intent)
    return True


def _clear_delete_markers(spark: SparkSession, root: str, tag: str) -> None:
    """Drop a completed delete's applied-markers — only meaningful
    while its intent exists, so they go right before the intent."""
    from ureplicator_spark.fsutil import delete_recursive as _rm

    for view in ("stats", "corpus"):
        _rm(spark, _delete_marker(root, tag, view))


def delete_from_lexical_index(
    spark: SparkSession, root: str, doc_ids: list[int]
) -> dict:
    """Right-to-be-forgotten for the inverted index: remove the docs'
    postings and fold EXACT negative stats deltas — completing the
    index lifecycle (build / append / delete / search) with the same
    contract as ``archive.delete_from_archive``.

    Discovery is one postings scan (the delete key is doc_id, which
    the tb layout deliberately does not cluster by — every doc spreads
    across its tokens' buckets); the rewrite then touches ONLY the tb
    partitions that actually held the docs' rows (dynamic partition
    overwrite; a bucket emptied entirely is removed through the Hadoop
    FS API, which the overwrite cannot express). Stats stay exact
    without rescanning the corpus: the doomed rows themselves carry
    per-token distinct-doc counts (df decrements), each doc's dl and
    the doc count (corpus decrements); tokens whose df reaches zero
    drop out of the stats view.

    Crash contract (r7 advisor — each view commit alone is atomic,
    but the delete spans postings + two views): BEFORE touching
    anything, the doomed ids and the computed deltas are committed as
    a delete-intent (``_delete_intent/{meta,deltas}``, parquet with
    ``_SUCCESS`` as the commit marker) together with each stats
    view's current sequence number; the intent is cleared only after
    both stats commits land. A crash anywhere in between is healed by
    :func:`repair_lexical_index` — the postings rewrite is idempotent
    and the per-view sequence comparison makes the stats decrement
    exactly-once."""
    repair_lexical_index(spark, root)

    from ureplicator_spark.fsutil import delete_recursive
    from ureplicator_spark.streaming.ivm import _last_seq

    postings = spark.read.parquet(root + "/postings")
    ids = [int(i) for i in doc_ids]
    doomed = postings.filter(F.col("doc_id").isin(ids)).localCheckpoint()
    if not doomed.head(1):
        return {"deleted_docs": 0, "buckets_rewritten": 0, "removed_dirs": 0}

    df_delta = doomed.groupBy("token").agg(
        F.countDistinct("doc_id").alias("ddf")
    )
    dls = doomed.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    n_del = dls.count()
    dl_sum = int(dls.agg(F.sum("dl")).collect()[0][0])
    stats_seq = _last_seq(spark, root + "/stats")
    corpus_seq = _last_seq(spark, root + "/corpus")
    import uuid

    tag = uuid.uuid4().hex[:12]

    # Commit the intent FIRST: deltas (vocabulary of the doomed docs)
    # + a 1-row meta carrying ids, scalar deltas, the delete's own
    # identity tag (the exactly-once key for the stats decrements) and
    # the pre-delete view sequences (observability + legacy repair).
    # Written via the same versioned commit as the views, so
    # "committed intent" is a _SUCCESS check.
    intent = root + "/_delete_intent"
    delete_recursive(spark, intent)
    _commit_version(spark, intent + "/deltas", df_delta, -1)
    meta = spark.createDataFrame(
        [(ids, n_del, dl_sum, stats_seq, corpus_seq, tag)],
        "doc_ids array<long>, n_del long, dl_sum long, "
        "stats_seq long, corpus_seq long, tag string",
    )
    _commit_version(spark, intent + "/meta", meta, -1)
    release_checkpoint(doomed)  # DataFrame.unpersist is a no-op for checkpoints

    buckets_rewritten, removed = _rewrite_postings_without(spark, root, ids)
    deltas = _require_view(spark, intent + "/deltas", "delete-intent deltas")
    _apply_delete_stats(spark, root, deltas, n_del, dl_sum, tag)
    _clear_delete_markers(spark, root, tag)
    delete_recursive(spark, intent)
    # A positional section colocated under this root holds the same
    # docs' (token, pos) rows — text-reconstructible, so RTBF must
    # clear it in the same call (idempotent rewrite; no stats).
    from ureplicator_spark.fsutil import fs_exists

    if fs_exists(spark, root + "/positions"):
        delete_from_positional_index(spark, root, ids)
    return {
        "deleted_docs": n_del,
        "buckets_rewritten": buckets_rewritten,
        "removed_dirs": removed,
    }


# ---------------------------------------------------------------------------
# Positional postings section — exact-phrase retrieval over the
# standing index (the positional twin of the BM25 postings above).
# Positions are per-doc local state, so append ≡ rebuild EXACTLY
# (pinned in tests/test_lexical_index.py); no stats views needed —
# phrase intersection is a pure postings computation.
# ---------------------------------------------------------------------------


def _positional_postings(documents: DataFrame, n_buckets: int) -> DataFrame:
    from ureplicator_spark.operators.text import tokens

    return tokens(documents).select(
        (md5_long("token", salt=_BUCKET_SALT) % n_buckets).alias("tb"),
        "token",
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
    )


def build_positional_index(
    spark: SparkSession,
    documents: DataFrame,
    root: str,
    n_buckets: int = N_TOKEN_BUCKETS,
) -> None:
    """One corpus pass: (token, doc_id, pos) rows partitioned by the
    SAME token-hash bucketing as the BM25 postings, so a phrase probe
    statically prunes to its terms' buckets exactly like a BM25
    search. The only corpus-sized exchange is the partitioned write,
    clustered by bucket (one file per tb directory — guide §6)."""
    cluster_for_partitioned_write(
        _positional_postings(documents, n_buckets), "tb", "token",
        derived_files_per_partition(documents, n_buckets),
    ).write.mode("overwrite").partitionBy("tb").parquet(root + "/positions")


def append_to_positional_index(
    spark: SparkSession,
    root: str,
    new_documents: DataFrame,
    n_buckets: int = N_TOKEN_BUCKETS,
) -> None:
    """Absorb a batch: tokenize ONLY the batch, append partition-wise.
    O(batch); existing position files are never touched; positions
    are per-doc local state so the appended index equals a fresh
    build over corpus ∪ batch row-for-row."""
    cluster_for_partitioned_write(
        _positional_postings(new_documents, n_buckets), "tb", "token",
        derived_files_per_partition(new_documents, n_buckets),
    ).write.mode("append").partitionBy("tb").parquet(root + "/positions")


def phrase_index_search(
    spark: SparkSession,
    root: str,
    phrase_terms: tuple[str, ...],
    n_buckets: int = N_TOKEN_BUCKETS,
) -> DataFrame:
    """Exact-phrase retrieval over the persisted positional section
    WITHOUT touching the corpus: (doc_id, n_occurrences, first_pos)
    for documents containing ``phrase_terms`` consecutively. The
    positions scan is statically pruned to the phrase terms' tb
    buckets (driver-side literal filter, the BM25-search discipline),
    then same intersection algebra as operators/text.phrase_search:
    postings vote for start = pos - offset; starts with all k offsets
    are occurrences. Work is O(sum of phrase-term posting lists),
    independent of corpus size."""
    terms = list(phrase_terms)
    buckets = sorted({_bucket_py(t, n_buckets) for t in terms})
    postings = (
        spark.read.parquet(root + "/positions")
        .filter(F.col("tb").isin(buckets))
        .filter(F.col("token").isin(*terms))
    )
    phrase = F.broadcast(
        spark.createDataFrame(
            [(off, t) for off, t in enumerate(terms)], "offset int, term string"
        )
    )
    k = len(terms)
    hits = (
        postings.join(phrase, F.col("token") == F.col("term"))
        .select("doc_id", (F.col("pos") - F.col("offset")).alias("start"), "offset")
        .groupBy("doc_id", "start")
        .agg(F.count_distinct("offset").alias("n_off"))
        .filter((F.col("n_off") == k) & (F.col("start") >= 0))
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("start").cast("long").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


def delete_from_positional_index(
    spark: SparkSession, root: str, doc_ids: list[int]
) -> dict:
    """Right-to-be-forgotten for the positional section. Positions are
    the most sensitive index shape — a doc's (token, pos) rows
    reconstruct its text VERBATIM — so an RTBF request must cover
    this section wherever it exists, not just the BM25 postings.

    Much simpler than :func:`delete_from_lexical_index`: the section
    carries no stats views, so the idempotent bucket rewrite IS the
    whole delete — no intent/repair machinery needed (re-running
    after a crash finds no doomed rows and no-ops). Discovery is one
    positions scan (doc_id deliberately does not cluster the tb
    layout); the rewrite touches only the tb partitions that actually
    held the docs' rows."""
    ids = [int(i) for i in doc_ids]
    pos = spark.read.parquet(root + "/positions")
    n_docs = pos.filter(F.col("doc_id").isin(ids)).select(
        "doc_id"
    ).distinct().count()
    rewritten, removed = _rewrite_postings_without(
        spark, root, ids, section="positions"
    )
    return {
        "deleted_docs": n_docs,
        "buckets_rewritten": rewritten,
        "removed_dirs": removed,
    }
