"""Streaming corpus curation — the training-data operators applied to
a document STREAM instead of a static table.

A crawl/ingest pipeline rarely lands as a finished parquet corpus; it
arrives continuously. The batch curation operators in
``operators/text.py`` are stateless column expressions, so they lift
onto Structured Streaming unchanged; this module packages the two
shapes that need streaming-specific care:

* ``quality_gated_stream`` — per-document gates (length, top-token
  share, duplicate-2gram share) as a map-only streaming filter. No
  state, no watermark: each micro-batch is gated independently, so
  throughput scales with executors exactly like the batch path.
* ``streaming_exact_dedup`` — content-hash dedup across micro-batches
  via ``dropDuplicatesWithinWatermark``: Spark keeps one state row per
  distinct hash and EVICTS it once the watermark passes the hash's
  last-seen event time (state is O(distinct-in-horizon), never
  O(stream)). Plain ``dropDuplicates(keys)`` without the event-time
  column in the key set never evicts — state grows with every distinct
  hash ever seen, unbounded on an infinite stream. Exactly the
  reference's at-least-once model: late duplicates beyond the horizon
  pass and are swept by the batch dedup over the landed corpus.

Both return DataFrames ready for ``writeStream`` so callers own sink
and trigger policy (same convention as streaming/replication.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ureplicator_spark.functions import round6f
from ureplicator_spark.streaming.batches import on_nonempty, start


def doc_quality_columns(docs: DataFrame) -> DataFrame:
    """Columnar quality signals computable without any aggregation —
    the streaming-safe subset of ``operators.text.repetition_stats``
    (per-doc aggs are replaced by array expressions over the token
    array, all inside codegen)."""
    toks = F.split("text", " +")
    distinct_ratio = F.size(F.array_distinct(toks)) / F.size(toks)
    return docs.select(
        "*",
        F.size(toks).alias("n_tokens"),
        round6f(distinct_ratio).alias("distinct_ratio"),
    )


def quality_gated_stream(
    doc_stream: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 2000,
    min_distinct_ratio: float = 0.3,
) -> DataFrame:
    """Map-only streaming quality gate: keep documents passing the
    length and token-diversity rules. Stateless → unlimited scale-out."""
    gated = doc_quality_columns(doc_stream)
    return gated.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("distinct_ratio") >= min_distinct_ratio)
    )


def streaming_exact_dedup(
    doc_stream: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Cross-micro-batch exact dedup on the content hash. State holds
    one row per distinct hash and is evicted once the watermark passes
    that hash's last-seen event time — the eviction contract plain
    ``dropDuplicates`` does NOT provide unless the event-time column is
    part of the dedup key (which would stop deduplicating across
    timestamps). Duplicates arriving farther apart than the watermark
    horizon are both emitted (at-least-once; batch dedup sweeps them)."""
    hashed = doc_stream.withColumn("content_hash", F.md5("text"))
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def streaming_near_dedup(
    doc_stream: DataFrame,
    index_root: str,
    survivor_path: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    available_now: bool = False,
):
    """Streaming ingestion with near-dup filtering against the
    persisted MinHash index (`sources/minhash_index.py`) — the
    continuous form of the daily-ingest loop:

    per micro-batch: sign ONLY the batch → probe the band-partitioned
    index for near-dups (est_jaccard ≥ threshold) → drop matched docs
    → land survivors at ``survivor_path`` AND append their signatures
    to the index, so later batches dedup against everything accepted
    so far. The corpus is never re-shingled; per-batch cost is
    O(batch + matched bands).

    foreachBatch by design: the probe needs a batch-side join against
    an indexed TABLE that this same query appends to — a read-write
    cycle the declarative stream API forbids, and exactly what the
    micro-batch hook exists for. Delivery is at-least-once (same T1
    contract as the archive sink); a replayed batch re-lands its
    survivors idempotently for downstream exact dedup and its repeated
    index append only adds duplicate signature rows for the SAME
    doc_id, which the probe's doc_id<>doc_id guard ignores."""
    from ureplicator_spark.sources.minhash_index import (
        append_to_minhash_index,
        incremental_dedup,
    )

    def _ingest(spark, batch_df: DataFrame, _batch_id: int) -> None:
        dup_ids = (
            incremental_dedup(spark, index_root, batch_df)
            .filter(F.col("est_jaccard") >= threshold)
            .select(F.col("new_doc").alias("doc_id"))
            .distinct()
        )
        survivors = batch_df.join(dup_ids, "doc_id", "left_anti").persist()
        survivors.write.mode("append").parquet(survivor_path)
        append_to_minhash_index(survivors, index_root)
        survivors.unpersist()

    writer = doc_stream.writeStream.foreachBatch(on_nonempty(_ingest))
    return start(writer, checkpoint_dir, available_now=available_now)


def streaming_shard_feed(
    doc_stream: DataFrame,
    out_root: str,
    checkpoint_dir: str,
    budget: int = 20_000,
    available_now: bool = False,
):
    """Continuous trainer-shard layout: as curated documents stream
    in, each micro-batch continues the GLOBAL token cumsum where the
    previous batch stopped and lands documents under
    ``out_root/shards/shard_id=<n>/`` — the streaming form of
    ``operators/text.token_shard_packing`` (same two-phase prefix sum
    per batch, offset by the carried total).

    Cross-batch state is one tiny JSON blob
    (``out_root/_feed_state.json``: cumulative token count + last
    batch id, written AFTER the batch's data lands). A re-delivered
    batch id reuses its recorded ``cum_before``, so its rows re-land
    in the SAME shard directories instead of shifting every later
    shard; the delivery contract is at-least-once (append sink, like
    the archive sink — a replay can duplicate rows within a shard,
    swept by downstream exact dedup; dynamic partition overwrite
    would instead clobber boundary shards shared with the previous
    batch). Shard ids are monotone across the stream's life — a
    trainer can tail completed shards while ingestion continues.

    foreachBatch by design: the offset must be read before and
    persisted after each batch — a read-modify-write cycle outside
    the declarative API (same rationale as ``streaming_near_dedup``)."""
    import json
    import os

    from ureplicator_spark.operators.text import shard_assignments

    state_path = os.path.join(out_root, "_feed_state.json")

    def _read_state() -> dict:
        try:
            with open(state_path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {"cum": 0, "batch_id": None, "cum_before": 0}

    def _feed(_spark, batch_df: DataFrame, batch_id: int) -> None:
        state = _read_state()
        # replayed batch: restart from its original offset (idempotent)
        cum0 = state["cum_before"] if state.get("batch_id") == batch_id else state["cum"]
        assigned = shard_assignments(batch_df, budget=budget, token_offset=cum0)
        landed = batch_df.join(assigned, "doc_id").persist()
        (
            landed.write.mode("append")
            .partitionBy("shard_id")
            .parquet(os.path.join(out_root, "shards"))
        )
        batch_tokens = landed.agg(F.sum("n_tokens")).collect()[0][0] or 0
        landed.unpersist()
        os.makedirs(out_root, exist_ok=True)
        tmp = state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "cum": cum0 + int(batch_tokens),
                    "batch_id": batch_id,
                    "cum_before": cum0,
                },
                f,
            )
        os.replace(tmp, state_path)

    writer = doc_stream.writeStream.foreachBatch(on_nonempty(_feed))
    return start(writer, checkpoint_dir, available_now=available_now)
