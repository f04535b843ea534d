"""Perceptual dHash pins: oblivious-Python hash parity, banding
completeness (pigeonhole property), and the resize-invariance story
the operator exists for."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ureplicator_spark.sources.parquet import load_table


def _py_dhash(payload: bytes, w: int = 8, h: int = 8) -> int:
    """Oblivious reference: textbook dHash over a nearest-neighbor
    h x (w+1) sample of the byte stream, bits packed row-major into a
    signed 64-bit int (two's complement)."""
    n = len(payload)
    cells = h * (w + 1)
    grid = [payload[(i * n) // cells] for i in range(cells)]
    val = 0
    for k in range(w * h):
        r, c = divmod(k, w)
        bit = grid[r * (w + 1) + c] < grid[r * (w + 1) + c + 1]
        if not bit:
            continue
        val += -(1 << 63) if k == 63 else (1 << k)
    return val


def test_dhash_matches_oblivious_python(spark, sf_dir):
    from ureplicator_spark.operators.multimodal import (
        documents_as_media,
        image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    got = {
        r.media_id: r.dhash
        for r in image_dhash(documents_as_media(docs)).collect()
    }
    want = {
        r.doc_id: _py_dhash(r.text.encode("utf-8"))
        for r in docs.select("doc_id", "text").collect()
        if len(r.text.encode("utf-8")) > 0
    }
    assert got == want and len(got) > 50


def test_dhash_banding_complete(spark, sf_dir):
    """Pigeonhole completeness: the banded join returns EVERY pair at
    Hamming <= max_hamming — compared against an oblivious all-pairs
    scan over the same hash set."""
    from ureplicator_spark.operators.multimodal import (
        dhash_near_pairs,
        documents_as_media,
        image_dhash,
        media_with_resized_variants,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = media_with_resized_variants(documents_as_media(docs))
    hashes = image_dhash(media)
    hs = {r.media_id: r.dhash for r in hashes.collect()}
    ids = sorted(hs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
            if d <= 7:
                want.add((a, b, d))
    got = {
        (r.media_a, r.media_b, r.hamming)
        for r in dhash_near_pairs(hashes).collect()
    }
    assert got == want and want  # nonempty: resized variants pair up


def test_dhash_resize_variant_recall(spark, sf_dir):
    """The story the hash exists for: a resized payload shares no byte
    runs with its original, yet most originals land within 7 dHash
    bits of their own variant."""
    from ureplicator_spark.operators.multimodal import (
        dhash_near_pairs,
        documents_as_media,
        image_dhash,
        media_with_resized_variants,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    media = media_with_resized_variants(documents_as_media(docs))
    pairs = dhash_near_pairs(image_dhash(media))
    self_pairs = pairs.filter(
        F.col("media_b") - F.col("media_a") == 10_000_000
    ).count()
    assert self_pairs >= 0.8 * n_docs


def test_dhash_fused_variants_equal_pipeline(spark, sf_dir):
    """The fused one-round-trip hasher must be bit-identical to the
    materializing resize() -> image_dhash() pipeline it replaces."""
    from ureplicator_spark.operators.multimodal import (
        documents_as_media,
        image_dhash,
        image_dhash_with_variants,
        media_with_resized_variants,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    media = documents_as_media(docs)
    want = {
        r.media_id: r.dhash
        for r in image_dhash(media_with_resized_variants(media)).collect()
    }
    got = {
        r.media_id: r.dhash for r in image_dhash_with_variants(media).collect()
    }
    assert got == want and len(got) == 2 * docs.count()


def test_dhash_pigeonhole_guard():
    from ureplicator_spark.operators.multimodal import dhash_near_pairs

    with pytest.raises(ValueError, match="pigeonhole"):
        dhash_near_pairs(None, max_hamming=8, n_bands=8)


# ---------------------------------------------------------------------------
# Acoustic fingerprint (energy-delta hash) pins
# ---------------------------------------------------------------------------


def _py_audio_fp(payload: bytes, w: int = 65) -> int:
    """Oblivious reference: integer window energies over the
    ceil-boundary windows, mean-energy cross-multiply bits,
    two's-complement packing."""
    n = len(payload)
    cs = [0]
    for b in payload:
        cs.append(cs[-1] + (b - 128) ** 2)
    bounds = [(i * n + w - 1) // w for i in range(w + 1)]
    e = [cs[bounds[i + 1]] - cs[bounds[i]] for i in range(w)]
    sz = [bounds[i + 1] - bounds[i] for i in range(w)]
    val = 0
    for k in range(w - 1):
        if e[k] * sz[k + 1] < e[k + 1] * sz[k]:
            val += -(1 << 63) if k == 63 else (1 << k)
    return val


def test_audio_fp_matches_oblivious_python(spark, sf_dir):
    from ureplicator_spark.operators.multimodal import (
        audio_fingerprint,
        documents_as_media,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    got = {
        r.media_id: r.dhash
        for r in audio_fingerprint(documents_as_media(docs)).collect()
    }
    want = {
        r.doc_id: _py_audio_fp(r.text.encode("utf-8"))
        for r in docs.select("doc_id", "text").collect()
        if len(r.text.encode("utf-8")) > 0
    }
    assert got == want and len(got) > 50


def test_audio_fp_fused_variants_equal_pipeline(spark, sf_dir):
    """Fused hasher == materializing pcm_gain -> audio_fingerprint."""
    from ureplicator_spark.operators.multimodal import (
        audio_fingerprint,
        audio_fingerprint_with_variants,
        documents_as_media,
        pcm_gain,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    media = documents_as_media(docs)
    orig = {r.media_id: r.dhash for r in audio_fingerprint(media).collect()}
    gained = {
        r.media_id + 10_000_000: r.dhash
        for r in audio_fingerprint(pcm_gain(media)).collect()
    }
    got = {
        r.media_id: r.dhash
        for r in audio_fingerprint_with_variants(media).collect()
    }
    assert got == {**orig, **gained} and len(got) == 2 * docs.count()


def test_audio_fp_gain_recall_and_banding(spark, sf_dir):
    """Volume halving rewrites every byte, yet every original pairs
    with its own variant within 7 bits; and the banded join equals the
    oblivious all-pairs scan (pigeonhole completeness)."""
    from ureplicator_spark.operators.multimodal import (
        audio_fingerprint_with_variants,
        dhash_near_pairs,
        documents_as_media,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    hashes = audio_fingerprint_with_variants(documents_as_media(docs))
    hs = {r.media_id: r.dhash for r in hashes.collect()}
    ids = sorted(hs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
            if d <= 7:
                want.add((a, b, d))
    got = {
        (r.media_a, r.media_b, r.hamming)
        for r in dhash_near_pairs(hashes).collect()
    }
    assert got == want
    n = docs.count()
    self_pairs = sum(1 for a, b, _ in got if b - a == 10_000_000)
    assert self_pairs == n


# ---------------------------------------------------------------------------
# Standing media-fingerprint index lifecycle
# ---------------------------------------------------------------------------


def test_media_index_lifecycle(spark, sf_dir, tmp_path):
    """Probe ≡ from-scratch cross pairs; append ≡ rebuild; loud
    failure on a missing section."""
    from ureplicator_spark.operators.multimodal import (
        dhash_near_pairs,
        documents_as_media,
        image_dhash,
        resize,
    )
    from ureplicator_spark.sources.media_index import (
        append_to_media_index,
        build_media_index,
        incremental_media_dedup,
        index_fingerprints,
    )

    root = str(tmp_path / "media")
    docs = load_table(spark, sf_dir, "documents")
    corpus = documents_as_media(docs)
    build_media_index(corpus, root)

    # batch: resized re-encodes of every 5th item under fresh ids
    batch = resize(
        documents_as_media(docs.filter(F.col("doc_id") % 5 == 0))
    ).select((F.col("media_id") + 10_000_000).alias("media_id"), "payload")

    got = {
        (r.new_media, r.corpus_media, r.hamming)
        for r in incremental_media_dedup(spark, root, batch).collect()
    }
    # oblivious twin: near-pairs over corpus ∪ batch, cross pairs only
    all_hashes = image_dhash(corpus).unionByName(image_dhash(batch))
    want = {
        (r.media_b, r.media_a, r.hamming)
        for r in dhash_near_pairs(all_hashes).collect()
        if r.media_b >= 10_000_000 and r.media_a < 10_000_000
    }
    assert got == want and got  # most re-encodes must be flagged
    n_batch = batch.count()
    assert len({a for a, _, _ in got}) >= 0.8 * n_batch

    # append the batch: the index now equals a rebuild over old ∪ batch
    append_to_media_index(batch, root)
    idx = {
        r.media_id: r.dhash for r in index_fingerprints(spark, root).collect()
    }
    rebuilt = {r.media_id: r.dhash for r in all_hashes.collect()}
    assert idx == rebuilt

    # re-probing the same batch never matches itself under the same id
    again = incremental_media_dedup(spark, root, batch)
    assert again.filter(F.col("new_media") == F.col("corpus_media")).count() == 0

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="section missing"):
        index_fingerprints(spark, str(tmp_path / "nope"))


def test_frame_hashes_fused_variants_equal_standalone(spark, sf_dir):
    """The fused original+trimmed hasher must equal composing the trim
    with the standalone frame hasher (one kernel or they drift), and a
    trimmed clip's frame f must equal the original's frame f + trim."""
    from ureplicator_spark.operators.multimodal import (
        CLIP_TRIM_FRAMES,
        FRAME_STRIDE,
        documents_as_media,
        video_frame_hashes,
        video_frame_hashes_with_variants,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = documents_as_media(docs)
    fused = {
        (r.media_id, r.frame_idx): r.fhash
        for r in video_frame_hashes_with_variants(media).collect()
    }
    orig = {
        (r.media_id, r.frame_idx): r.fhash
        for r in video_frame_hashes(media).collect()
    }
    cut = CLIP_TRIM_FRAMES * FRAME_STRIDE
    trimmed = media.select(
        (F.col("media_id") + 10_000_000).alias("media_id"),
        F.expr(f"substring(payload, {cut + 1})").alias("payload"),
    )
    standalone_var = {
        (r.media_id, r.frame_idx): r.fhash
        for r in video_frame_hashes(trimmed).collect()
    }
    assert {k: v for k, v in fused.items() if k[0] < 10_000_000} == orig
    assert {k: v for k, v in fused.items() if k[0] >= 10_000_000} == standalone_var
    # frame alignment: variant frame f == original frame f + trim
    for (mid, f), v in standalone_var.items():
        assert v == orig[(mid - 10_000_000, f + CLIP_TRIM_FRAMES)]


def test_frame_near_pairs_catch_recut_clips(spark, sf_dir):
    """Every re-cut variant with >= shingle-size frames must pair with
    its source at overlap 1.0 (all its shingles come from the source's
    suffix) — the capability whole-payload hashes cannot provide."""
    from ureplicator_spark.operators.multimodal import (
        CLIP_TRIM_FRAMES,
        FRAME_SHINGLE_K,
        FRAME_STRIDE,
        documents_as_media,
        frame_shingle_near_pairs,
        video_frame_hashes_with_variants,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = documents_as_media(docs)
    pairs = {
        (r.media_a, r.media_b): r.overlap
        for r in frame_shingle_near_pairs(
            video_frame_hashes_with_variants(media)
        ).collect()
    }
    # docs with enough bytes that the VARIANT has k+1 full frames
    # (>= 2 shingles — min_shared filters single-shingle matches)
    need = (FRAME_SHINGLE_K + 1 + CLIP_TRIM_FRAMES) * FRAME_STRIDE
    planted = [
        r.doc_id
        for r in docs.select("doc_id", "n_chars").collect()
        if r.n_chars >= need
    ]
    assert len(planted) > 50
    for did in planted:
        assert pairs.get((did, did + 10_000_000)) == 1.0, did


def test_incremental_frame_dedup_equals_restricted_from_scratch(
    spark, sf_dir, tmp_path
):
    """The standing-index shot-level probe must equal the from-scratch
    near-pair operator over corpus ∪ batch restricted to cross pairs
    (same shingles, same counts, same overlap)."""
    from ureplicator_spark.operators.multimodal import (
        documents_as_media,
        frame_shingle_near_pairs,
        video_frame_hashes,
    )
    from ureplicator_spark.sources.media_index import (
        build_media_index,
        incremental_frame_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = documents_as_media(docs)
    root = str(tmp_path / "midx")
    build_media_index(media, root)

    batch = media.filter(F.col("media_id") % 5 == 0).select(
        (F.col("media_id") + 10_000_000).alias("media_id"),
        F.expr("substring(payload, 65)").alias("payload"),
    )
    got = {
        (r.new_media, r.corpus_media): (
            r.shared_shingles, r.n_new, r.n_corpus, r.overlap
        )
        for r in incremental_frame_dedup(spark, root, batch).collect()
    }

    full = frame_shingle_near_pairs(
        video_frame_hashes(
            media.select("media_id", "payload").unionByName(batch)
        )
    )
    want = {}
    for r in full.collect():
        # pairs are a < b, so corpus (< 10M) is media_a, batch media_b
        if r.media_b >= 10_000_000 and r.media_a < 10_000_000:
            want[(r.media_b, r.media_a)] = (
                r.shared_shingles, r.n_b, r.n_a, r.overlap
            )
    assert got == want and got


def test_frame_pair_hot_shingle_cap_bounds_degenerate_corpus(spark):
    """A degenerate corpus — many items with IDENTICAL payloads, so
    ONE shingle set is shared by all of them — must not go quadratic:
    with max_df below the duplicate-family size every hot shingle is
    dropped (0 pairs); with max_df at/above it the full C(n, 2) pair
    set appears. This is the stop-shingle cap's bound, mirroring
    winnowing_overlap_pairs' max_df."""
    from ureplicator_spark.operators.multimodal import (
        frame_shingle_near_pairs,
        video_frame_hashes,
    )

    payload = bytes((i * 37 + (i // 32) * 11) % 251 for i in range(32 * 8))
    media = spark.createDataFrame(
        [(i, bytearray(payload)) for i in range(5)],
        "media_id long, payload binary",
    )
    hashes = video_frame_hashes(media)
    capped = frame_shingle_near_pairs(hashes, max_df=2).collect()
    assert capped == []
    uncapped = frame_shingle_near_pairs(hashes, max_df=50).collect()
    assert len(uncapped) == 5 * 4 // 2
    assert all(r.overlap == 1.0 for r in uncapped)


_FINGERPRINTERS = [
    "image_dhash",
    "image_dhash_with_variants",
    "audio_fingerprint",
    "audio_fingerprint_with_variants",
    "video_frame_hashes",
    "video_frame_hashes_with_variants",
    "all_fingerprints",
]


def _small_media(spark, ids):
    return spark.createDataFrame(
        [(i, bytearray(bytes((i * 7 + j) % 256 for j in range(200)))) for i in ids],
        "media_id long, payload binary",
    )


@pytest.mark.parametrize("name", _FINGERPRINTERS)
def test_fingerprinter_plan_holds_one_arrow_pass(spark, name):
    """Each fingerprinter, the fused variants included, ships every
    payload across the JVM/Python boundary once: one MapInPandas."""
    from ureplicator_spark.operators import multimodal as MM
    from ureplicator_spark.plans import plan_string

    df = getattr(MM, name)(_small_media(spark, range(3)))
    assert plan_string(df, mode="simple").count("MapInPandas") == 1
    assert df.count() > 0


@pytest.mark.parametrize("name", [n for n in _FINGERPRINTERS if n.endswith("_with_variants")])
def test_with_variants_reject_media_id_in_variant_space(spark, name):
    """An original media_id at or past id_offset would collide with a
    variant's id: the fused hasher raises instead of emitting it."""
    from ureplicator_spark.operators import multimodal as MM

    fn = getattr(MM, name)
    assert fn(_small_media(spark, [0, 99]), id_offset=100).count() > 0
    with pytest.raises(Exception, match="ValueError: media_id 100 collides with id_offset=100"):
        fn(_small_media(spark, [0, 100]), id_offset=100).collect()
