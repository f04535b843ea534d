"""Streaming maintenance of the persisted indexes — keep each index
current as rows arrive, without ever rebuilding it.

Rebuild-per-batch is O(corpus) per batch, the non-scalable strawman.
Every maintainer here is O(batch): it processes only the micro-batch
(tokenize, chunk, hash or quantize) and appends the result into the
index's existing layout, the same incremental discipline as the
MinHash index twin (`sources/minhash_index.py`) and the IVM views
(`streaming/ivm.py`). Appends are not idempotent (duplicate rows, and
for the lexical index df +sums), so each batch is applied through
``batches.apply_once``: persisted, skipped when empty, and guarded by a
checkpoint-namespaced replay marker. Where a crash between append and
marker duplicates a batch, the consumers below tolerate it or repair
offline:

* lexical (BM25): postings and df stats commit before the marker; the
  window double-counts df, so the marker is the only guard.
* positional: phrase results count DISTINCT offsets, but a duplicate
  breaks the append ≡ rebuild row equality and bloats the section.
* chunk (CDC): the dedup probe counts shared chunks once per (new,
  corpus) pair; repair is a bucket-local ``dropDuplicates`` over
  (chunk_hash, media_id, chunk_idx).
* media (dHash): fingerprints are per-item state, so appended state
  equals a rebuild over old ∪ batch; the probe's pairs are DISTINCT.
* IVF / IVF-PQ: readers needing exactly-once go through a vec_id dedup
  or rebuild the tail list. Appends never move centroids; when list
  sizes skew (``list_stats``), retrain and rebuild with
  ``build_ivf_index(trained=True)`` — a scheduled offline job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ureplicator_spark.functions import round6f
from ureplicator_spark.sources.chunk_index import append_to_chunk_index
from ureplicator_spark.sources.ivf_index import append_to_ivf_index
from ureplicator_spark.sources.lexical_index import (
    N_TOKEN_BUCKETS,
    append_to_lexical_index,
    append_to_positional_index,
)
from ureplicator_spark.sources.media_index import append_to_media_index
from ureplicator_spark.sources.pq_index import append_to_ivfpq_index
from ureplicator_spark.streaming.batches import apply_once, start


def _maintain(
    stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    append,
    name: str,
    available_now: bool,
) -> StreamingQuery:
    writer = stream.writeStream.foreachBatch(apply_once(root, checkpoint_dir, append))
    return start(writer, checkpoint_dir, name, available_now)


def maintain_lexical_index(
    documents_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    n_buckets: int = N_TOKEN_BUCKETS,
    available_now: bool = True,
) -> StreamingQuery:
    """Run the maintainer over a streaming documents frame (needs
    doc_id + text). Works against an empty root (first batch seeds the
    stats views) or one pre-seeded by ``build_lexical_index``."""
    return _maintain(
        documents_stream, root, checkpoint_dir,
        lambda spark, batch: append_to_lexical_index(spark, root, batch, n_buckets),
        "lexical-index-maintenance", available_now,
    )


def maintain_positional_index(
    documents_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    n_buckets: int = N_TOKEN_BUCKETS,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming maintenance for the POSITIONAL section (exact-phrase
    retrieval): per micro-batch, tokenize only the batch and append
    its (token, doc_id, pos) rows."""
    return _maintain(
        documents_stream, root, checkpoint_dir,
        lambda spark, batch: append_to_positional_index(spark, root, batch, n_buckets),
        "positional-index-maintenance", available_now,
    )


def maintain_chunk_index(
    media_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    available_now: bool = True,
    **chunk_kw,
) -> StreamingQuery:
    """Run the maintainer over a streaming (media_id, payload) frame.
    The index at ``root`` must already exist (``build_chunk_index`` on
    the initial corpus snapshot)."""
    return _maintain(
        media_stream, root, checkpoint_dir,
        lambda _spark, batch: append_to_chunk_index(
            batch.select("media_id", "payload"), root, **chunk_kw
        ),
        "chunk-index-maintenance", available_now,
    )


def maintain_media_index(
    media_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Run the maintainer over a streaming (media_id, payload) frame.
    The index at ``root`` must already exist (``build_media_index`` on
    the initial corpus snapshot)."""
    return _maintain(
        media_stream, root, checkpoint_dir,
        lambda _spark, batch: append_to_media_index(
            batch.select("media_id", "payload"), root
        ),
        "media-index-maintenance", available_now,
    )


def maintain_ivf_index(
    embeddings_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Run the maintainer over a streaming (vec_id, embedding) frame.
    The index at ``root`` must already exist (``build_ivf_index`` on
    the initial corpus — the quantizer needs training data)."""
    return _maintain(
        embeddings_stream, root, checkpoint_dir,
        lambda spark, batch: append_to_ivf_index(
            spark, root, batch.select("vec_id", "embedding")
        ),
        "ivf-index-maintenance", available_now,
    )


def maintain_ivfpq_index(
    embeddings_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Same contract for the compressed index: new vectors are encoded
    with the persisted coarse/PQ quantizers (FAISS ``add``) and their
    codes appended to the probed-list layout."""
    return _maintain(
        embeddings_stream, root, checkpoint_dir,
        lambda spark, batch: append_to_ivfpq_index(
            spark, root, batch.select("vec_id", "embedding")
        ),
        "ivfpq-index-maintenance", available_now,
    )


def list_stats(spark: SparkSession, root: str) -> DataFrame:
    """Per-centroid-list occupancy — the skew gauge that schedules a
    quantizer retrain (balanced lists keep probed-partition reads even;
    a hot list degrades toward brute force over that list)."""
    vectors = spark.read.parquet(root + "/vectors")
    total = vectors.count()
    return (
        vectors.groupBy("cent_id")
        .agg(F.count("*").alias("n_vecs"))
        .select(
            "cent_id",
            "n_vecs",
            round6f(F.col("n_vecs") / F.lit(float(total or 1))).alias("share"),
        )
        .orderBy("cent_id")
    )
