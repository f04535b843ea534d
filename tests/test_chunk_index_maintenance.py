"""Streaming CDC chunk-index maintenance: apply-once with replay
no-op, late arrivals absorbed, and a maintained index that answers the
dedup probe exactly like a from-scratch build."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ureplicator_spark.caching import pin_scope
from ureplicator_spark.operators.multimodal import documents_as_media
from ureplicator_spark.sources.chunk_index import (
    build_chunk_index,
    incremental_payload_dedup,
)
from ureplicator_spark.streaming.index_maintenance import maintain_chunk_index

SPLIT = 300  # initial snapshot: media_id < SPLIT; streamed: the rest


def _media(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return documents_as_media(docs).select("media_id", "payload")


@pytest.mark.slow
def test_streaming_maintenance_applies_once_and_replays_noop(
    spark, sf_dir, tmp_path
):
    media = _media(spark, sf_dir).filter("media_id < 500")
    root = str(tmp_path / "chunks_idx")
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    build_chunk_index(media.filter(F.col("media_id") < SPLIT), root)
    n0 = spark.read.parquet(root + "/chunks").count()

    arriving = media.filter(
        (F.col("media_id") >= SPLIT) & (F.col("media_id") < SPLIT + 100)
    )
    arriving.coalesce(1).write.parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    maintain_chunk_index(stream, root, ckpt).awaitTermination(120)
    n1 = spark.read.parquet(root + "/chunks").count()
    assert n1 > n0

    # restart over the same source + checkpoint: nothing re-applied
    stream2 = spark.readStream.schema(static.schema).parquet(src)
    maintain_chunk_index(stream2, root, ckpt).awaitTermination(120)
    assert spark.read.parquet(root + "/chunks").count() == n1

    # late arrivals flow in; earlier batches untouched
    media.filter(F.col("media_id") >= SPLIT + 100).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream3 = spark.readStream.schema(static.schema).parquet(src)
    maintain_chunk_index(stream3, root, ckpt).awaitTermination(120)

    # the maintained index is identity-for-identity a from-scratch build
    full = str(tmp_path / "full_idx")
    build_chunk_index(media, full)
    got = {
        tuple(r) for r in spark.read.parquet(root + "/chunks").collect()
    }
    want = {
        tuple(r) for r in spark.read.parquet(full + "/chunks").collect()
    }
    assert got == want


@pytest.mark.slow
def test_maintained_index_answers_probe_like_batch_build(
    spark, sf_dir, tmp_path
):
    media = _media(spark, sf_dir).filter("media_id < 400")
    corpus = media.filter("media_id % 10 < 8")
    batch = media.filter("media_id % 10 >= 8")
    inc_root = str(tmp_path / "inc_idx")
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")

    # half the corpus as the snapshot, the rest streamed in
    build_chunk_index(corpus.filter("media_id < 200"), inc_root)
    corpus.filter("media_id >= 200").coalesce(1).write.parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    maintain_chunk_index(stream, inc_root, ckpt).awaitTermination(120)

    full_root = str(tmp_path / "full_idx")
    build_chunk_index(corpus, full_root)

    with pin_scope():
        got = {
            (r["new_media"], r["corpus_media"]): tuple(r)[2:]
            for r in incremental_payload_dedup(spark, inc_root, batch).collect()
        }
    with pin_scope():
        want = {
            (r["new_media"], r["corpus_media"]): tuple(r)[2:]
            for r in incremental_payload_dedup(spark, full_root, batch).collect()
        }
    assert got == want and want


def test_marker_guard_is_exercised_by_the_maintainer(spark, sf_dir, tmp_path):
    """Drive the PRODUCT's replay guard: pre-create exactly the marker
    the maintainer will derive for its first batch and assert the
    maintainer skips the append (a re-delivered batch after a crash
    between append and checkpoint commit)."""
    from ureplicator_spark.fsutil import batch_marker, mkdirs

    media = _media(spark, sf_dir)
    root = str(tmp_path / "idx")
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    build_chunk_index(media.filter("media_id < 100"), root)
    n0 = spark.read.parquet(root + "/chunks").count()

    media.filter("media_id >= 100").filter("media_id < 150").coalesce(
        1
    ).write.parquet(src)
    mkdirs(spark, batch_marker(root, ckpt, 0))  # "already applied"
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    maintain_chunk_index(stream, root, ckpt).awaitTermination(120)
    assert spark.read.parquet(root + "/chunks").count() == n0


def test_fresh_checkpoint_does_not_collide_with_old_markers(
    spark, sf_dir, tmp_path
):
    """Batch ids restart at 0 under a NEW checkpoint dir; markers are
    namespaced by checkpoint identity, so new arrivals must still
    apply even when an earlier run (different checkpoint) left a
    batch-0 marker on the same index root."""
    media = _media(spark, sf_dir)
    root = str(tmp_path / "idx")
    src1 = str(tmp_path / "arr1")
    src2 = str(tmp_path / "arr2")
    build_chunk_index(media.filter("media_id < 100"), root)

    media.filter("media_id >= 100").filter("media_id < 150").coalesce(
        1
    ).write.parquet(src1)
    s1 = spark.read.parquet(src1)
    maintain_chunk_index(
        spark.readStream.schema(s1.schema).parquet(src1),
        root,
        str(tmp_path / "ckpt1"),
    ).awaitTermination(120)
    n1 = spark.read.parquet(root + "/chunks").count()

    # second feed, FRESH checkpoint, batch ids restart at 0
    media.filter("media_id >= 150").filter("media_id < 200").coalesce(
        1
    ).write.parquet(src2)
    s2 = spark.read.parquet(src2)
    maintain_chunk_index(
        spark.readStream.schema(s2.schema).parquet(src2),
        root,
        str(tmp_path / "ckpt2"),
    ).awaitTermination(120)
    assert spark.read.parquet(root + "/chunks").count() > n1


def test_marker_namespace_is_spelling_invariant(tmp_path):
    """Trailing-slash / relative / absolute spellings of the SAME
    checkpoint dir must share one replay namespace (r8 advisor: raw
    string hashing split the guard per spelling)."""
    import os

    from ureplicator_spark.fsutil import batch_marker

    ckpt = str(tmp_path / "ckpt")
    canon = batch_marker("/idx", ckpt, 3)
    assert batch_marker("/idx", ckpt + "/", 3) == canon
    assert batch_marker("/idx", ckpt + "//", 3) == canon
    rel = os.path.relpath(ckpt)
    assert batch_marker("/idx", rel, 3) == canon
    # scheme-ful URIs keep their authority (no os.path mangling)
    hdfs = batch_marker("/idx", "hdfs://nn:8020/ck", 3)
    assert hdfs == batch_marker("/idx", "hdfs://nn:8020/ck/", 3)
    assert hdfs != canon


def test_legacy_unnamespaced_marker_still_guards(spark, sf_dir, tmp_path):
    """An index written BEFORE the checkpoint-namespaced markers keeps
    replay protection: the legacy `_applied_batches/b<id>` marker must
    make the maintainer skip the batch (r8 advisor: upgrade would
    otherwise re-apply replayed batches as duplicates)."""
    from ureplicator_spark.fsutil import mkdirs

    media = _media(spark, sf_dir)
    root = str(tmp_path / "idx")
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    build_chunk_index(media.filter("media_id < 100"), root)
    n0 = spark.read.parquet(root + "/chunks").count()

    media.filter("media_id >= 100").filter("media_id < 150").coalesce(
        1
    ).write.parquet(src)
    mkdirs(spark, root + "/_applied_batches/b0")  # pre-upgrade marker
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    maintain_chunk_index(stream, root, ckpt).awaitTermination(120)
    assert spark.read.parquet(root + "/chunks").count() == n0
