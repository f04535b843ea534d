"""Multimodal column handling: image/audio/video as opaque binary
columns with typed metadata.

The container has no image/audio decode libraries, so the decode step
is a clearly-marked deterministic stub — but every Spark-side piece
(schema, binary columns, Arrow-batched mapInPandas plumbing, batch
shapes, partition discipline) is real and tested. Swapping the stub
for PIL/torchaudio is a one-function change.

Scale notes: binary payloads ride in parquet/Kafka ``BinaryType``;
decode/feature-extract runs as ``mapInPandas`` so each Arrow batch is
processed vectorized with bounded memory (never collect, never
per-row Python). Metadata-only queries never touch the bytes thanks
to parquet column pruning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ureplicator_spark.functions import fan_out

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("meta_json", T.StringType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def guard_media_id_space(col, id_offset: int):
    """Fail loudly when an original ``media_id`` would collide with
    the variant/batch id space (``media_id + id_offset``): downstream
    classification (e.g. the incremental-dedup oracle's
    ``media_id >= id_offset`` split) silently corrupts otherwise.
    Zero-cost per-row integer compare; no extra Spark job."""
    return (
        F.when(col < F.lit(id_offset), col)
        .otherwise(F.raise_error(
            F.concat(
                F.lit(f"media_id collides with id_offset={id_offset} variant space: "),
                col.cast("string"),
            )
        ).cast("long"))
        .alias("media_id")
    )


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapter: treat document text as an opaque binary payload —
    exercises the binary-column path with the driver fixtures."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
        F.to_json(F.struct("lang", "source")).alias("meta_json"),
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """Metadata-only scan: payload column pruned away → parquet reads
    only the narrow columns (check ReadSchema in .explain)."""
    return media.groupBy("mime").agg(
        F.count("*").alias("n_items"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.min("media_id").alias("min_media_id"),
    )


def _stub_decode(payload: bytes | None) -> tuple[int, int, list[float]]:
    """Deterministic fake decoder (NO real media libs in container).

    Replace with e.g. PIL.Image.open for images. Raises for non-stub
    use so nobody mistakes it for a real decode.
    """
    if payload is None:
        return 0, 0, []
    # deterministic pseudo-features from byte content
    n = len(payload)
    s = sum(payload[:64])
    return (n % 1920, (n * 7) % 1080, [float(n), float(s % 256), float(n % 97)])


def decode_features(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Arrow-batched decode/feature-extract via mapInPandas.

    Real decoding would go:  bytes → PIL/librosa → resize/frame-sample
    → feature vector. The stub keeps identical plumbing: per-batch
    vectorized transform, bounded memory, schema-stable output.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_stub_decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["n_bytes"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "feature": [d[2] for d in decoded],
                }
            )

    # fan_out: a single-split scan would run the whole Python/Arrow
    # stage on one core (see functions.fan_out; measured 1-partition
    # plans on the fixture) — no-op once the scan has enough splits
    return fan_out(media).mapInPandas(decode_batches, schema=FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 1000) -> DataFrame:
    """'Frame sampling' stub over binary payloads: emit one row per
    sampled window offset (video frame-sample shape: one input row →
    many frame rows, all computed JVM-side from metadata)."""
    return media.select(
        "media_id",
        "mime",
        F.explode(
            F.sequence(F.lit(0), F.greatest((F.col("n_bytes") - 1), F.lit(0)), F.lit(every_n_bytes))
        ).alias("frame_offset"),
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("target_w", T.IntegerType(), False),
        T.StructField("target_h", T.IntegerType(), False),
        T.StructField("n_bytes_in", T.LongType(), True),
        T.StructField("n_bytes_out", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def resize(media: DataFrame, target_w: int = 64, target_h: int = 64) -> DataFrame:
    """Resize stub via mapInPandas: deterministic byte re-sampling in
    place of a real image resize (no media libs in container — swap the
    inner function for PIL ``Image.resize``). Plumbing is real: Arrow
    batches in, binary payloads out, schema-stable, output size bounded
    by target dims so executor memory is independent of input size."""
    out_len = target_w * target_h

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        base = np.arange(out_len, dtype=np.int64)
        for pdf in batches:
            outs = []
            for p in pdf["payload"]:
                if p is None:
                    outs.append(None)
                    continue
                b = bytes(p)
                n = len(b)
                if n == 0:
                    outs.append(b"")
                else:
                    # nearest-neighbor byte sampling — deterministic
                    # stand-in, numpy-vectorized (the per-row Python
                    # byte loop cost ~0.5 s of the dhash pair query)
                    arr = np.frombuffer(b, dtype=np.uint8)
                    outs.append(arr[(base * n) // out_len].tobytes())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "target_w": target_w,
                    "target_h": target_h,
                    "n_bytes_in": pdf["n_bytes"],
                    "n_bytes_out": [len(o) if o is not None else None for o in outs],
                    "payload": outs,
                }
            )

    return fan_out(media).mapInPandas(resize_batches, schema=RESIZED_SCHEMA)


ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("window_idx", T.IntegerType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.LongType(), True),
    ]
)


def pcm_window_energy(media: DataFrame, window: int = 256) -> DataFrame:
    """Windowed audio energy over RAW PCM payloads — a real decode
    path, not a stub: unsigned 8-bit PCM needs no codec, so the bytes
    are interpreted directly (sample = byte - 128) and each full
    ``window``-sample frame yields RMS + peak. Compressed formats
    (mp3/ogg) would insert their decoder where ``np.frombuffer`` runs.

    Arrow-batched ``mapInPandas`` with numpy vectorization: each batch
    reshapes its payloads into (n_windows, window) int32 frames and
    reduces them column-free — no per-sample Python, no per-row UDF.
    Output size is n_bytes/window rows; payload bytes never shuffle."""

    def energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, widx, nsamp, rms, peak = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                buf = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int32)
                n_win = len(buf) // window
                if n_win == 0:
                    continue
                frames = buf[: n_win * window].reshape(n_win, window) - 128
                sq = (frames.astype(np.int64) ** 2).sum(axis=1)
                ids.extend([mid] * n_win)
                widx.extend(range(n_win))
                nsamp.extend([window] * n_win)
                # floor chain, not np.round: numpy rounds half-EVEN while
                # the oracle's ROUND rounds half-away — same divergence
                # class as ROUND(double) (r11 audit)
                rms.extend(np.floor(np.sqrt(sq / window) * 1e6 + 0.5) / 1e6)
                peak.extend(np.abs(frames).max(axis=1))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "window_idx": pd.Series(widx, dtype="int32"),
                    "n_samples": pd.Series(nsamp, dtype="int64"),
                    "rms": pd.Series(rms, dtype="float64"),
                    "peak": pd.Series(peak, dtype="int64"),
                }
            )

    return fan_out(media.select("media_id", "payload")).mapInPandas(
        energy_batches, schema=ENERGY_SCHEMA
    )


def pcm_decimate(media: DataFrame, factor: int = 4) -> DataFrame:
    """Integer-factor decimation (keep every ``factor``-th sample) of
    raw PCM payloads — the resample step of an audio curation
    pipeline, again real for PCM8 (an anti-alias filter would slot in
    before the take for production audio). Payload-in, payload-out so
    the result feeds any downstream media operator."""

    def decimate_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        out_cols = ["media_id", "payload", "n_bytes"]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((mid, None, 0))
                    continue
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)[::factor]
                rows.append((mid, buf.tobytes(), len(buf)))
            yield pd.DataFrame(rows, columns=out_cols)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("n_bytes", T.LongType(), False),
        ]
    )
    return fan_out(media.select("media_id", "payload")).mapInPandas(decimate_batches, schema)


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) over binary payloads
# ---------------------------------------------------------------------------

# Gear table: engine-reproducible (md5-derived, like every other
# portable hash in this repo — functions.md5_long) so any independent
# implementation regenerates identical boundaries.
def _gear_table():
    import hashlib

    return [
        int(hashlib.md5(bytes([b])).hexdigest()[:8], 16) & 0xFFFF for b in range(256)
    ]


CDC_MIN_SIZE = 16
CDC_MASK_BITS = 5  # expected chunk ~2^5 = 32 bytes
CDC_MAX_SIZE = 64

CDC_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("chunk_idx", T.IntegerType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("length", T.IntegerType(), False),
        T.StructField("chunk_hash", T.StringType(), False),
    ]
)


def cdc_chunk_payloads(
    media: DataFrame,
    min_size: int = CDC_MIN_SIZE,
    mask_bits: int = CDC_MASK_BITS,
    max_size: int = CDC_MAX_SIZE,
) -> DataFrame:
    """Content-defined chunking of binary payloads with a Gear rolling
    hash (the FastCDC family: Xia et al., USENIX ATC'16) — the dedup
    primitive for binary/multimodal data, where fixed-offset chunking
    breaks on any byte insertion but content-defined boundaries
    re-align immediately after the edit.

    Semantics: h = ((h << 1) + gear[byte]) & 0xFFFF, reset at each
    chunk start; cut after a byte when chunk length >= ``min_size``
    and (h & (2^mask_bits - 1)) == 0, forced at ``max_size``.

    Vectorization (the reason this scales): the 16-bit hash state
    forgets bytes more than 16 positions back (each step shifts one
    bit out), and ``min_size`` >= 16, so the boundary test NEVER
    depends on the reset — h at any testable position equals a pure
    16-byte windowed value. That turns the "inherently sequential"
    rolling scan into 16 shifted vector adds over the whole payload
    (numpy, per Arrow batch) plus a sparse walk over the ~1/2^mask_bits
    candidate positions. No per-byte Python anywhere.

    Output is (media_id, chunk_idx, start, length, chunk_hash) —
    chunk content itself never shuffles, only md5 identities (the
    dedup-join discipline of operators/dedup.py).
    """
    if min_size < 16:
        raise ValueError("min_size must be >= 16 (the Gear window) for exactness")
    mask = (1 << mask_bits) - 1

    def chunk_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        gear = np.asarray(_gear_table(), dtype=np.uint32)
        for pdf in batches:
            ids, cidx, starts, lengths, hashes = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                n = len(buf)
                if n == 0:
                    continue
                g = gear[buf]
                h = np.zeros(n, dtype=np.uint32)
                # payloads shorter than the 16-byte window still hash
                # correctly: only the first n shifts contribute
                for t in range(min(16, n)):
                    h[t:] += g[: n - t] << t
                h &= 0xFFFF
                cand = np.flatnonzero((h & mask) == 0)  # cut AFTER these
                cuts = []
                start = 0
                ci = 0
                while start < n:
                    end = min(start + max_size, n)
                    lo = start + min_size - 1
                    j = np.searchsorted(cand, lo)
                    if j < len(cand) and cand[j] < end:
                        end = int(cand[j]) + 1
                    cuts.append((start, end))
                    start = end
                    ci += 1
                for i, (s, e) in enumerate(cuts):
                    ids.append(mid)
                    cidx.append(i)
                    starts.append(s)
                    lengths.append(e - s)
                    hashes.append(hashlib.md5(buf[s:e].tobytes()).hexdigest())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "chunk_idx": pd.Series(cidx, dtype="int32"),
                    "start": pd.Series(starts, dtype="int32"),
                    "length": pd.Series(lengths, dtype="int32"),
                    "chunk_hash": pd.Series(hashes, dtype="object"),
                }
            )

    return fan_out(media.select("media_id", "payload")).mapInPandas(
        chunk_batches, schema=CDC_SCHEMA
    )


def cdc_chunk_dedup(media: DataFrame, **chunk_kw) -> DataFrame:
    """Cross-payload duplicate chunks: chunk every payload with CDC,
    then one hash-keyed aggregation — the storage/dedup planning view
    ("how many bytes does chunk-level dedup reclaim"). Only (hash,
    length) pairs shuffle; dedupable_bytes counts every copy beyond
    the first."""
    chunks = cdc_chunk_payloads(media, **chunk_kw)
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("media_id").alias("n_media"),
            F.count("*").alias("n_occur"),
            F.max("length").alias("chunk_bytes"),
            ((F.count("*") - F.lit(1)) * F.max("length")).alias("dedupable_bytes"),
        )
        .filter(F.col("n_media") >= 2)
        .orderBy("chunk_hash")
    )


_PANDAS_INT = {T.LongType(): "int64", T.IntegerType(): "int32"}


def _payload_pass(media: DataFrame, schema: T.StructType, rows_of) -> DataFrame:
    """The one Arrow pass every fingerprinter runs: ``rows_of(media_id,
    arr)`` over each non-empty payload, ``arr`` being its bytes as a
    uint8 array; NULL and empty payloads yield no row. Rows are tuples
    in ``schema``'s column order (integer columns only). Map-only
    ``mapInPandas``, zero shuffles."""
    import numpy as np

    cols = schema.fieldNames()
    dtypes = {f.name: _PANDAS_INT[f.dataType] for f in schema.fields}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None or len(p) == 0:
                    continue
                rows.extend(rows_of(int(mid), np.frombuffer(bytes(p), dtype=np.uint8)))
            yield pd.DataFrame(rows, columns=cols).astype(dtypes)

    return fan_out(media.select("media_id", "payload")).mapInPandas(run, schema=schema)


def _with_variant(rows_of, variant, id_offset: int):
    """``rows_of`` for a payload and for its in-process edit
    ``variant(arr)`` under id ``media_id + id_offset`` — bit-identical
    to materializing the edited payload and hashing it again, but the
    payload crosses the JVM/Python boundary once (the fused
    ``*_with_variants`` hashers). An original ``media_id`` inside the
    variant id space raises ``ValueError``."""

    def both(mid: int, arr):
        if mid >= id_offset:
            raise ValueError(
                f"media_id {mid} collides with id_offset={id_offset} variant space"
            )
        return [*rows_of(mid, arr), *rows_of(mid + id_offset, variant(arr))]

    return both


# ---------------------------------------------------------------------------
# Perceptual image hashing (dHash — difference hash; the standard
# near-duplicate signal for images: resize to a tiny grid, compare
# horizontally adjacent pixels, pack the comparison bits)
# ---------------------------------------------------------------------------

DHASH_W = 8   # comparisons per row  -> grid is DHASH_H x (DHASH_W+1)
DHASH_H = 8   # rows                 -> 64 bits total

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), False),
    ]
)


def _dhash_from_samples(arr, w: int, h: int, powers) -> int:
    """The single dHash kernel both the standalone hasher and the
    fused-variants hasher call (one implementation or they drift):
    nearest-neighbor h x (w+1) grid sample, horizontal comparisons,
    row-major two's-complement packing into a signed 64-bit int."""
    import numpy as np

    n = arr.shape[0]
    cells = h * (w + 1)
    idx = (np.arange(cells, dtype=np.int64) * n) // cells
    g = arr[idx].reshape(h, w + 1).astype(np.int16)
    bits = (g[:, :w] < g[:, 1:]).reshape(-1)
    val = int(bits[:-1].astype(np.int64) @ powers)
    if bits[-1]:
        val -= 1 << (w * h - 1)
    return val


def _dhash_rows(w: int, h: int):
    """``rows_of`` for :func:`_payload_pass`: one (media_id, dhash) row."""
    import numpy as np

    powers = np.int64(1) << np.arange(w * h - 1, dtype=np.int64)
    return lambda mid, arr: [(mid, _dhash_from_samples(arr, w, h, powers))]


def image_dhash(media: DataFrame, w: int = DHASH_W, h: int = DHASH_H) -> DataFrame:
    """64-bit perceptual difference hash per payload — the image
    near-dup primitive CDC's exact-bytes chunking cannot provide (a
    re-encoded/resized image shares no byte runs with its original but
    keeps its luminance gradients; dHash hashes the gradients).

    Stub domain, real pipeline: with no image libs in the container
    the "grayscale image" is the payload byte stream and the "resize"
    is the same nearest-neighbor sampling :func:`resize` uses — swap
    the sampling for a real decode+luma+resize and nothing downstream
    changes. The hash itself is the textbook dHash (e.g. pHash/
    imagehash libraries): sample an h x (w+1) grid, bit[r,c] =
    grid[r,c] < grid[r,c+1], pack row-major into a signed 64-bit int
    (bit 63 contributes -2^63 — two's complement, so any engine's
    BIGINT reproduces it). Integer-exact end to end ⇒ oracle-portable.
    Empty/NULL payloads are excluded (the hash is undefined).

    Scale shape: map-only mapInPandas (one Arrow batch in, one
    numpy-vectorized pass per row over a constant 72-sample grid —
    O(1) per payload after the byte view), zero shuffles; pairs come
    from :func:`dhash_near_pairs`' banded join, never all-pairs.
    """
    return _payload_pass(media, DHASH_SCHEMA, _dhash_rows(w, h))


def dhash_near_pairs(
    hashes: DataFrame,
    max_hamming: int = 7,
    n_bands: int = 8,
    id_col: str = "media_id",
) -> DataFrame:
    """Near-duplicate media pairs at Hamming distance <= ``max_hamming``
    over 64-bit dHashes, via the banding pigeonhole (the
    dedup.simhash_near_pairs discipline): split the hash into
    ``n_bands`` equal bit bands; two hashes within ``max_hamming``
    differ in at most that many bands, so with n_bands >= max_hamming+1
    at least one band matches EXACTLY — candidates come from a
    band-keyed equi-join (bucket-sized work, never all-pairs), then the
    exact XOR bit_count verifies. All integer ops ⇒ oracle-portable.
    """
    if n_bands < max_hamming + 1:
        raise ValueError(
            f"pigeonhole needs n_bands >= max_hamming+1 "
            f"({n_bands} < {max_hamming + 1})"
        )
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    keyed = hashes.select(
        F.col(id_col),
        "dhash",
        F.explode(F.array(*[F.lit(b) for b in range(n_bands)])).alias("band"),
    ).select(
        id_col,
        "dhash",
        "band",
        # arithmetic shift + mask == logical shift + mask for any band
        F.expr(f"shiftright(dhash, band * {band_bits}) & {mask}").alias("bv"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("media_a"),
            F.col(f"b.{id_col}").alias("media_b"),
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "media_a",
            "media_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("media_a", "media_b")
    )


def media_with_resized_variants(
    media: DataFrame, target_w: int = 64, target_h: int = 64, id_offset: int = 10_000_000
) -> DataFrame:
    """Originals ∪ their :func:`resize`-stub variants (variant ids =
    original + ``id_offset``) — the perceptual-dedup demonstration
    corpus: a resized image shares no exact bytes with its original
    (CDC finds nothing) but lands within a few dHash bits (the
    nearest-neighbor index maps compose almost exactly)."""
    originals = media.select(
        guard_media_id_space(F.col("media_id"), id_offset), "payload"
    )
    resized = resize(media, target_w, target_h).select(
        (F.col("media_id") + id_offset).alias("media_id"), "payload"
    )
    return originals.unionByName(resized)


def image_dhash_with_variants(
    media: DataFrame,
    w: int = DHASH_W,
    h: int = DHASH_H,
    target_w: int = 64,
    target_h: int = 64,
    id_offset: int = 10_000_000,
) -> DataFrame:
    """Fused :func:`media_with_resized_variants` → :func:`image_dhash`:
    ONE Arrow round-trip emits both the original's and the resized
    variant's dHash per payload, computing the variant's hash from the
    resized byte array in-process — bit-identical to materializing the
    resized payload and re-hashing (the composition the standalone
    pipeline runs, pinned in tests), but without shipping every
    payload JVM→Python→JVM→Python (two chained mapInPandas stages cost
    ~0.5 s of the pair query at sf0.1; media pipelines at 100 TB fuse
    per-item transforms for exactly this reason). Map-only, zero
    shuffles."""
    import numpy as np

    out_len = target_w * target_h
    base = np.arange(out_len, dtype=np.int64)
    def resized(arr):  # the resize() stub's exact byte map
        return arr[(base * arr.shape[0]) // out_len]

    return _payload_pass(
        media, DHASH_SCHEMA, _with_variant(_dhash_rows(w, h), resized, id_offset)
    )


# ---------------------------------------------------------------------------
# Acoustic fingerprinting (energy-delta hash — Haitsma & Kalker,
# "A Highly Robust Audio Fingerprinting System", ISMIR 2002: bits are
# signs of energy differences between adjacent bands/frames; here the
# stub domain is time-only — 65 windows over 8-bit PCM, 64 delta bits)
# ---------------------------------------------------------------------------

AUDIO_FP_WINDOWS = 65  # 64 adjacent-window energy comparisons


def _audio_fp_from_samples(arr, n_windows: int, powers) -> int:
    """64-bit energy-delta fingerprint from a uint8 sample array:
    integer window energies via one cumsum (window w spans samples
    p in [ceil(w*n/W), ceil((w+1)*n/W)) — the (p*W)//n assignment's
    boundary form), bit k = MEAN energy(k) < MEAN energy(k+1) via the
    integer cross-multiply e_k·sz_{k+1} < e_{k+1}·sz_k (window sizes
    differ by ±1 when W ∤ n; comparing raw SUMS leaks that size
    pattern into the bits and correlates hashes of same-length inputs
    — measured: 22 k spurious pairs at sf0.1, 0 true ones), then
    two's-complement packing. Headroom: e ≤ ceil(n/W)·128² and
    sz ≤ ceil(n/W), so the cross-product grows ~n²·128²/W² and int64
    holds to n ≈ 1.5·10⁹ samples (~1.5 GB of PCM8) — guarded below so
    a larger payload raises instead of silently wrapping (the gram()
    discipline; the oracle computes the same product exactly)."""
    import numpy as np

    n = arr.shape[0]
    sq = (arr.astype(np.int64) - 128) ** 2
    cs = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(sq)])
    bounds = (np.arange(n_windows + 1, dtype=np.int64) * n + (n_windows - 1)) // n_windows
    e = cs[bounds[1:]] - cs[bounds[:-1]]
    sz = bounds[1:] - bounds[:-1]
    # int64 multiplication wraps silently on overflow — raise instead
    wmax = (n + n_windows - 1) // n_windows
    if wmax and wmax * 128 * 128 > (2**63 - 1) // wmax:
        raise OverflowError(
            f"audio fingerprint cross-multiply would overflow int64: "
            f"{n} samples over {n_windows} windows (window size {wmax})"
        )
    bits = e[:-1] * sz[1:] < e[1:] * sz[:-1]
    val = int(bits[:-1].astype(np.int64) @ powers)
    if bits[-1]:
        val -= 1 << (n_windows - 2)
    return val


def _audio_fp_rows(n_windows: int):
    """``rows_of`` for :func:`_payload_pass`: one (media_id, dhash) row
    holding the audio fingerprint."""
    import numpy as np

    powers = np.int64(1) << np.arange(n_windows - 2, dtype=np.int64)
    return lambda mid, arr: [(mid, _audio_fp_from_samples(arr, n_windows, powers))]


def audio_fingerprint(media: DataFrame, n_windows: int = AUDIO_FP_WINDOWS) -> DataFrame:
    """64-bit acoustic fingerprint per payload (unsigned 8-bit PCM, the
    pcm_window_energy decode convention): split the sample stream into
    ``n_windows`` equal windows, bit k = energy(window k) < energy(
    window k+1). Energy ordering survives resampling/amplitude-
    preserving edits that destroy every exact byte (CDC finds nothing
    after decimation; this lands within a few bits) — the audio
    counterpart of :func:`image_dhash`. Integer-exact end to end
    (int64 window energies, strict comparisons, two's-complement
    packing) ⇒ oracle-portable. Map-only, zero shuffles."""
    return _payload_pass(media, DHASH_SCHEMA, _audio_fp_rows(n_windows))


def pcm_gain(media: DataFrame, shift: int = 1) -> DataFrame:
    """Volume change for unsigned 8-bit PCM: halve the deviation from
    the 128 midpoint per ``shift`` (byte' = 64 + byte//2 for shift=1 —
    a pure nonnegative byte op, identical floor semantics in any
    engine). The re-mastered-volume edit that defeats every
    byte-exact signal while preserving the energy ENVELOPE the
    fingerprint hashes. Payload-in, payload-out."""

    def gain_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        out_cols = ["media_id", "payload", "n_bytes"]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((mid, None, 0))
                    continue
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                out = ((buf >> shift) + (128 - (128 >> shift))).astype(np.uint8)
                rows.append((mid, out.tobytes(), len(out)))
            yield pd.DataFrame(rows, columns=out_cols)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("n_bytes", T.LongType(), False),
        ]
    )
    return fan_out(media.select("media_id", "payload")).mapInPandas(
        gain_batches, schema
    )


def audio_fingerprint_with_variants(
    media: DataFrame,
    n_windows: int = AUDIO_FP_WINDOWS,
    id_offset: int = 10_000_000,
) -> DataFrame:
    """Fused original + ``pcm_gain``-variant fingerprints in ONE Arrow
    round-trip (bit-identical to materializing the gained payload and
    re-fingerprinting — pinned in tests), the
    image_dhash_with_variants discipline: per-item media transforms
    fuse so payloads cross the JVM/Python boundary once."""
    import numpy as np

    def gained(arr):  # pcm_gain's exact byte map
        return (arr >> 1) + np.uint8(64)

    return _payload_pass(
        media, DHASH_SCHEMA, _with_variant(_audio_fp_rows(n_windows), gained, id_offset)
    )


# ---------------------------------------------------------------------------
# Frame-sequence (shot-level) near-dup — completes the perceptual
# family: image = whole-payload dHash, audio = energy-delta
# fingerprint, video-like = per-frame dHash SEQUENCES compared by
# frame shingles, so a re-cut clip (leading frames trimmed) still
# matches its source even though no whole-payload hash survives the
# edit. The shingle idea is winnowing/k-gram dedup applied to the
# frame-hash sequence instead of the token stream.
# ---------------------------------------------------------------------------

FRAME_STRIDE = 32     # bytes per stub "frame" (fixture docs are 48-553 B)
FRAME_SHINGLE_K = 4   # consecutive frames per shingle
CLIP_TRIM_FRAMES = 2  # the re-cut variant drops this many leading frames

FRAME_HASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("fhash", T.LongType(), False),
    ]
)


def _frame_hash_rows(buf, mid: int, stride: int, w: int, h: int, powers):
    """dHash of every FULL stride-byte frame of ``buf`` (the tail
    remainder is dropped — both engines see the same frame set).

    Vectorized across frames (r12): every frame is exactly ``stride``
    bytes, so the grid index vector is one constant and all frames
    hash as a single (n_frames × cells) gather + compare + uint64
    matmul — bit-identical to calling :func:`_dhash_from_samples` per
    frame (the top bit's two's-complement fold is the uint64→int64
    view), but ~n_frames fewer Python/numpy dispatches per payload.
    The per-frame scalar loop was the dominant cost of every
    frame-family query (~100k kernel calls per corpus pass at sf0.1).
    Equivalence pinned in tests/test_dhash.py."""
    import numpy as np

    n = buf.shape[0] // stride
    if n == 0:
        return []
    cells = h * (w + 1)
    idx = (np.arange(cells, dtype=np.int64) * stride) // cells
    g = buf[: n * stride].reshape(n, stride)[:, idx].reshape(n, h, w + 1)
    bits = (g[:, :, :w] < g[:, :, 1:]).reshape(n, w * h)
    upow = np.uint64(1) << np.arange(w * h, dtype=np.uint64)
    vals = (bits.astype(np.uint64) @ upow).view(np.int64)
    return [(mid, f, int(v)) for f, v in enumerate(vals)]


def _frame_rows(stride: int, w: int, h: int):
    """``rows_of`` for :func:`_payload_pass`: :func:`_frame_hash_rows`,
    which yields no row for a payload shorter than one frame."""
    import numpy as np

    powers = np.int64(1) << np.arange(w * h - 1, dtype=np.int64)
    return lambda mid, arr: _frame_hash_rows(arr, mid, stride, w, h, powers)


def video_frame_hashes(
    media: DataFrame, stride: int = FRAME_STRIDE, w: int = DHASH_W, h: int = DHASH_H
) -> DataFrame:
    """(media_id, frame_idx, fhash): per-frame 64-bit dHash over fixed
    stride-byte frames — the shot-signature table a video pipeline
    materializes once per item. Map-only mapInPandas (one Arrow pass,
    zero shuffles); output is ~n_bytes/stride rows of 12 bytes each,
    so the signature table is ~0.4% of the payload bytes at any
    corpus size."""
    return _payload_pass(media, FRAME_HASH_SCHEMA, _frame_rows(stride, w, h))


def video_frame_hashes_with_variants(
    media: DataFrame,
    stride: int = FRAME_STRIDE,
    trim_frames: int = CLIP_TRIM_FRAMES,
    id_offset: int = 10_000_000,
    w: int = DHASH_W,
    h: int = DHASH_H,
) -> DataFrame:
    """Fused original + RE-CUT-clip frame hashes in ONE Arrow
    round-trip (the image_dhash_with_variants discipline): the
    variant (id = original + ``id_offset``) is the payload with its
    first ``trim_frames`` frames cut — recomputed from the trimmed
    buffer, bit-identical to materializing the trim and re-hashing
    (pinned in tests/test_dhash.py)."""
    cut = trim_frames * stride
    return _payload_pass(
        media,
        FRAME_HASH_SCHEMA,
        _with_variant(_frame_rows(stride, w, h), lambda arr: arr[cut:], id_offset),
    )


ALL_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.IntegerType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("fp", T.LongType(), False),
    ]
)

# kind codes for the fused fingerprint pass (stable — persisted nowhere,
# but shared between all_fingerprints and its section splits)
FP_KIND_DHASH = 0
FP_KIND_AUDIO = 1
FP_KIND_FRAME = 2


def all_fingerprints(
    media: DataFrame,
    w: int = DHASH_W,
    h: int = DHASH_H,
    n_windows: int = AUDIO_FP_WINDOWS,
    stride: int = FRAME_STRIDE,
) -> DataFrame:
    """Every per-item fingerprint kind from ONE Arrow round-trip:
    (media_id, kind, frame_idx, fp) rows with kind ∈ {FP_KIND_DHASH,
    FP_KIND_AUDIO, FP_KIND_FRAME}. Calls the SAME kernels as the
    standalone hashers (:func:`_dhash_from_samples`,
    :func:`_audio_fp_from_samples`, :func:`_frame_hash_rows`), so each
    kind's rows are value-identical to the standalone operator's —
    pinned in tests/test_dhash.py. Exists for the standing media-index
    build, which previously shipped every payload across the
    JVM/Python boundary once per section (4 full corpus passes — the
    guide's 'move heavy bytes once' rule applied to the Arrow boundary
    instead of the network). Map-only, zero shuffles."""
    dhash, audio = _dhash_rows(w, h), _audio_fp_rows(n_windows)
    frames = _frame_rows(stride, w, h)

    def rows_of(mid: int, arr):
        return [
            *((m, FP_KIND_DHASH, 0, v) for m, v in dhash(mid, arr)),
            *((m, FP_KIND_AUDIO, 0, v) for m, v in audio(mid, arr)),
            *((m, FP_KIND_FRAME, f, v) for m, f, v in frames(mid, arr)),
        ]

    return _payload_pass(media, ALL_FP_SCHEMA, rows_of)


def frame_shingle_arrays(
    frame_hashes: DataFrame, k: int = FRAME_SHINGLE_K
) -> DataFrame:
    """(media_id, grams): each item's DISTINCT md5 shingle set of
    ``k`` consecutive frame hashes as ONE array row. array_distinct
    runs BEFORE any explode: the sequence collect leaves one row per
    media_id, so per-item set semantics are a map-only array dedup —
    the post-explode (media_id, gram) DISTINCT this replaces was a
    full exchange of the gram rows for the identical result (r12)."""
    seqs = frame_hashes.groupBy("media_id").agg(
        F.array_sort(F.collect_list(F.struct("frame_idx", "fhash"))).alias("seq")
    )
    hstr = F.transform(F.col("seq"), lambda s: s["fhash"].cast("string"))
    return seqs.filter(F.size("seq") >= k).select(
        "media_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("seq") - k),
                lambda i: F.md5(F.concat_ws(",", F.slice(hstr, i + 1, k))),
            )
        ).alias("grams"),
    )


def frame_shingles(
    frame_hashes: DataFrame, k: int = FRAME_SHINGLE_K
) -> DataFrame:
    """DISTINCT md5 shingles of ``k`` consecutive frame hashes per
    item — the shot-level signature set both the near-pair query and
    the standing media index persist/probe (one construction or they
    drift). Per-item local state: an item's shingles depend only on
    its own frame sequence, so the persisted section appends exactly
    (append ≡ rebuild, the fingerprint-section discipline)."""
    return frame_shingle_arrays(frame_hashes, k).select(
        "media_id", F.explode("grams").alias("gram")
    )


def frame_shingle_near_pairs(
    frame_hashes: DataFrame,
    k: int = FRAME_SHINGLE_K,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Shot-level near-pairs from frame-hash sequences: md5 shingles
    of ``k`` CONSECUTIVE frame hashes, distinct per item, then a
    shingle-keyed equi-join — a trimmed/re-cut clip re-aligns with its
    source after the edit exactly like CDC chunks re-align after a
    byte insertion, but at the perceptual-frame level.

    Output: (media_a, media_b, shared_shingles, n_a, n_b, overlap)
    with overlap = shared / least(n_a, n_b) (containment of the
    smaller side), floor-chained.

    Scale shape: sequences collect per media_id (bounded by
    n_bytes/stride — per-item state, never cross-item), shingles
    explode to ~frames-per-item rows, and candidates come from the
    shingle equi-join — bucketed by construction, never all-pairs.
    Shingles shared by more than ``max_df`` items are dropped before
    the join (stop-shingles — same discipline as the winnowing
    ``max_df`` cap): a degenerate corpus (constant-byte payloads →
    one hot shingle across thousands of items) would otherwise make
    that shingle's bucket quadratic; the cap bounds every bucket's
    pair fan-out at C(max_df, 2). The HOT-gram set (df > max_df) is a
    map-side-combinable aggregate whose size is at most
    |gram rows|/max_df — it anti-joins both sides as an AQE broadcast,
    adding NO exchange to either join branch (a per-branch df window
    re-shuffled the gram rows twice — measured in PLAN_REPORT before
    this shape). ``n_a``/``n_b`` stay UNCAPPED (an item's true
    signature size — the containment denominator)."""
    from ureplicator_spark.caching import pin
    from ureplicator_spark.functions import round6f

    # pin(): four branches read the shingle table (counts, hot-gram
    # df, both self-join sides) and their exchanges hash on DIFFERENT
    # keys (media_id / gram), so exchange reuse cannot dedup the
    # upstream — without the pin the frame-hash Python pass and the
    # sequence collect ran once per branch (the dedup.py shingles
    # discipline; caller's pin_scope releases it). The cache holds the
    # per-item ARRAY rows: per-item size() is then map-only (the
    # counts groupBy exchange disappears) and each branch's explode is
    # pure row expansion over already-hashed strings.
    arr = pin(frame_shingle_arrays(frame_hashes, k))
    grams = arr.select("media_id", F.explode("grams").alias("gram"))
    counts = arr.select("media_id", F.size("grams").alias("n_grams"))
    hot = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("gram")
    )
    capped = grams.join(hot, "gram", "left_anti")
    shared = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .groupBy(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
        )
        .agg(F.count("*").alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= min_shared)
    )
    ca = counts.select(F.col("media_id").alias("media_a"), F.col("n_grams").alias("n_a"))
    cb = counts.select(F.col("media_id").alias("media_b"), F.col("n_grams").alias("n_b"))
    return (
        shared.join(ca, "media_a")
        .join(cb, "media_b")
        .select(
            "media_a",
            "media_b",
            "shared_shingles",
            "n_a",
            "n_b",
            round6f(
                F.col("shared_shingles") / F.least(F.col("n_a"), F.col("n_b"))
            ).alias("overlap"),
        )
        .orderBy("media_a", "media_b")
    )
