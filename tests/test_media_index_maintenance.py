"""Streaming media-fingerprint index maintenance: apply-once with
replay no-op, late arrivals absorbed, and a maintained index equal
hash-for-hash to a from-scratch build (per-item local state, so
append ≡ rebuild extends to the streaming path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ureplicator_spark.operators.multimodal import documents_as_media
from ureplicator_spark.sources.media_index import (
    build_media_index,
    incremental_media_dedup,
)
from ureplicator_spark.streaming.index_maintenance import maintain_media_index

SPLIT = 300  # initial snapshot: media_id < SPLIT; streamed: the rest


def _media(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return documents_as_media(docs).select("media_id", "payload")


@pytest.mark.slow
def test_streaming_media_index_applies_once_and_matches_rebuild(
    spark, sf_dir, tmp_path
):
    media = _media(spark, sf_dir).filter("media_id < 500")
    root = str(tmp_path / "media_idx")
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    build_media_index(media.filter(F.col("media_id") < SPLIT), root)
    n0 = spark.read.parquet(root + "/dhash").count()

    arriving = media.filter(
        (F.col("media_id") >= SPLIT) & (F.col("media_id") < SPLIT + 100)
    )
    arriving.coalesce(1).write.parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    maintain_media_index(stream, root, ckpt).awaitTermination(120)
    n1 = spark.read.parquet(root + "/dhash").count()
    assert n1 > n0

    # restart over the same source + checkpoint: nothing re-applied
    stream2 = spark.readStream.schema(static.schema).parquet(src)
    maintain_media_index(stream2, root, ckpt).awaitTermination(120)
    assert spark.read.parquet(root + "/dhash").count() == n1

    # late arrivals flow in; earlier batches untouched
    media.filter(F.col("media_id") >= SPLIT + 100).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream3 = spark.readStream.schema(static.schema).parquet(src)
    maintain_media_index(stream3, root, ckpt).awaitTermination(120)

    # maintained ≡ from-scratch, BOTH sections
    full = str(tmp_path / "full_idx")
    build_media_index(media, full)
    for section in ("dhash", "audiofp", "framesig", "framegram"):
        got = {
            tuple(r) for r in spark.read.parquet(f"{root}/{section}").collect()
        }
        want = {
            tuple(r) for r in spark.read.parquet(f"{full}/{section}").collect()
        }
        assert got == want and got

    # and the maintained index answers the re-encode probe exactly like
    # the batch-built one
    from ureplicator_spark.operators.multimodal import resize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probe_batch = resize(
        documents_as_media(docs).filter("media_id < 50")
    ).select((F.col("media_id") + 10_000_000).alias("media_id"), "payload")
    got_pairs = {
        tuple(r)
        for r in incremental_media_dedup(spark, root, probe_batch).collect()
    }
    want_pairs = {
        tuple(r)
        for r in incremental_media_dedup(spark, full, probe_batch).collect()
    }
    assert got_pairs == want_pairs and got_pairs

    # the SHOT-LEVEL probe too: a re-cut batch answers identically
    # against the maintained and the from-scratch frame-gram sections
    from ureplicator_spark.sources.media_index import incremental_frame_dedup

    recut = documents_as_media(docs.filter("doc_id < 100")).select(
        (F.col("media_id") + 10_000_000).alias("media_id"),
        F.expr("substring(payload, 65)").alias("payload"),
    )
    got_f = {tuple(r) for r in incremental_frame_dedup(spark, root, recut).collect()}
    want_f = {tuple(r) for r in incremental_frame_dedup(spark, full, recut).collect()}
    assert got_f == want_f and got_f
