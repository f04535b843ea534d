"""Standing-artifact registry.

A standing artifact is an index or model built once per corpus
snapshot and then read by many queries (IVF lists, the BM25 and
positional postings, the MinHash signature index, trained Lloyd / PQ /
language / BPE models, eval ground truth, media and chunk indexes).
``get(kind, spark, sf_dir)`` returns the artifact, building it on a
miss: parquet kinds return the root directory they were written to,
row kinds (``bpe``, ``langmodel``) return their collected driver rows.
Every builder is deterministic, so an artifact equals what its
from-scratch twin (and the DuckDB oracle) computes over the same files.

An artifact is reused only while its inputs are unchanged: the cache
key is ``(kind, sf_dir, snapshot(sf_dir))``, so rewriting any file
under ``sf_dir`` makes the next ``get`` rebuild and delete the
superseded root. Every build is logged in ``builds`` with its seconds
and the on-disk bytes of its root.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession


def _table(spark: SparkSession, sf_dir: str, name: str):
    from ureplicator_spark.sources.parquet import load_table

    return load_table(spark, sf_dir, name)


def _ivf(spark, sf_dir, root):
    from ureplicator_spark.sources.ivf_index import build_ivf_index

    build_ivf_index(_table(spark, sf_dir, "embeddings"), root)


def _lex(spark, sf_dir, root):
    from ureplicator_spark.sources.lexical_index import build_lexical_index

    build_lexical_index(spark, _table(spark, sf_dir, "documents"), root)


def _minhash(spark, sf_dir, root):
    """MinHash-LSH signatures plus the rarest-first shingle arrays the
    prefix-filter joins read."""
    from ureplicator_spark.sources.minhash_index import build_minhash_index

    docs = _table(spark, sf_dir, "documents")
    build_minhash_index(docs, root, shingle_arrays=True)


def _langmodel(spark, sf_dir, root):
    """(plang, g, rl) rows: L x profile_len, a model file's worth."""
    from ureplicator_spark.operators.text import lang_trigram_profiles

    model = lang_trigram_profiles(_table(spark, sf_dir, "documents"))
    return [(r["plang"], r["g"], r["rl"]) for r in model.collect()]


def _kmeans(spark, sf_dir, root):
    """Lloyd (vec_id, cluster_id, dist) map; ``dist`` feeds the
    cluster-inertia rollup."""
    from ureplicator_spark.operators.similarity import kmeans_assignments

    kmeans_assignments(_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "cluster_id", "dist"
    ).write.parquet(root + "/assignments")


def _bpe(spark, sf_dir, root):
    """The ordered merge rules (step, left, right, merged, pair_count)."""
    from ureplicator_spark.operators.bpe import learn_bpe_merges

    merges = learn_bpe_merges(_table(spark, sf_dir, "documents"))
    return [tuple(r) for r in merges.collect()]


def _pq(spark, sf_dir, root):
    from ureplicator_spark.caching import pin, pin_scope
    from ureplicator_spark.operators.similarity import pq_train_model

    with pin_scope():
        best, cents = pq_train_model(_table(spark, sf_dir, "embeddings"))
        # the codes plan embeds the codebook's training prefix; the pin
        # lets the second write read it instead of re-running Lloyd
        cents = pin(cents)
        best.write.parquet(root + "/codes")
        cents.write.parquet(root + "/codebook")


def _evaltruth(spark, sf_dir, root):
    """Exact neighbours of the bounded eval query set."""
    from ureplicator_spark.operators.similarity import cosine_knn, exact_l2_topk

    emb = _table(spark, sf_dir, "embeddings")
    cos = cosine_knn(emb, 10, 3).select("q_id", "c_id")
    cos.write.parquet(root + "/cosine_top3")
    exact_l2_topk(emb, 10, 5).write.parquet(root + "/l2_top5")


def _media_index(spark, sf_dir, root):
    from ureplicator_spark.operators.multimodal import documents_as_media
    from ureplicator_spark.sources.media_index import build_media_index

    build_media_index(documents_as_media(_table(spark, sf_dir, "documents")), root)


def _pos_index(spark, sf_dir, root):
    from ureplicator_spark.sources.lexical_index import build_positional_index

    build_positional_index(spark, _table(spark, sf_dir, "documents"), root)


def _chunk_index(spark, sf_dir, root):
    """Gear-CDC chunks of the 80% corpus split."""
    from ureplicator_spark.operators.multimodal import documents_as_media
    from ureplicator_spark.sources.chunk_index import build_chunk_index

    media = documents_as_media(_table(spark, sf_dir, "documents"))
    build_chunk_index(media.filter("media_id % 10 < 8"), root)


def _ivfpq(spark, sf_dir, root):
    from ureplicator_spark.sources.pq_index import build_ivfpq_index

    build_ivfpq_index(_table(spark, sf_dir, "embeddings"), root)


# kind -> builder(spark, sf_dir, root), in bench build order: parquet
# kinds write under root (the artifact), row kinds return their rows
BUILDERS = {
    "ivf": _ivf,
    "lex": _lex,
    "minhash": _minhash,
    "langmodel": _langmodel,
    "kmeans": _kmeans,
    "bpe": _bpe,
    "pq": _pq,
    "evaltruth": _evaltruth,
    "media_index": _media_index,
    "pos_index": _pos_index,
    "chunk_index": _chunk_index,
    "ivfpq": _ivfpq,
}


@dataclass(frozen=True)
class Build:
    kind: str
    sf_dir: str
    snapshot: tuple
    root: str
    value: object
    seconds: float
    bytes: int


builds: list[Build] = []
_current: dict[tuple[str, str], Build] = {}
_lock = threading.Lock()
_base: str | None = None  # parent of every root; removed at exit


def _stat(named) -> tuple:
    out = []
    for name, path in named:
        st = os.stat(path)
        out.append((name, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def stat_files(paths) -> tuple:
    """Sorted ``(path, size, mtime_ns)`` of each file in ``paths``: the
    identity of the input a derived answer is valid for. Raises
    ``OSError`` if a file is gone."""
    return _stat((path, path) for path in paths)


# sf_dir -> ({directory: mtime_ns}, [(name, path)]) of its last walk
_listings: dict[str, tuple[dict, list]] = {}
# a directory whose mtime is this close to its walk may have changed
# since within the filesystem clock's granularity: it is walked again
_RACY_NS = 1_000_000_000


def _listing(sf_dir: str) -> list:
    """``(path relative to sf_dir, path)`` of every file under
    ``sf_dir``, as ``os.walk`` finds them. The last walk is reused
    while no directory under ``sf_dir`` has a changed ``mtime_ns``
    (a file created, removed or renamed in it)."""
    known = _listings.get(sf_dir)
    if known is not None:
        dirs, files = known
        try:
            if all(os.stat(d).st_mtime_ns == m for d, m in dirs.items()):
                return files
        except OSError:  # a directory vanished
            pass
    try:
        # each directory's mtime is read before os.walk lists it
        dirs = {sf_dir: os.stat(sf_dir).st_mtime_ns}
    except OSError:
        return []
    files = []
    for d, subdirs, names in os.walk(sf_dir):
        for sub in subdirs:
            path = os.path.join(d, sub)
            try:
                dirs[path] = os.stat(path).st_mtime_ns
            except OSError:  # gone before os.walk reaches it
                pass
        for f in names:
            path = os.path.join(d, f)
            files.append((os.path.relpath(path, sf_dir), path))
    listed_at = time.time_ns()
    if all(m < listed_at - _RACY_NS for m in dirs.values()):
        _listings[sf_dir] = (dirs, files)
    else:
        _listings.pop(sf_dir, None)
    return files


def snapshot(sf_dir: str) -> tuple:
    """Sorted ``(path relative to sf_dir, size, mtime_ns)`` of every
    file under ``sf_dir``: the input identity an artifact is valid for.
    Every file is stat-ed on each call, so a file rewritten in place is
    seen; the tree is walked again only when a directory changed."""
    return _stat(_listing(sf_dir))


def _du(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


def get(kind: str, spark: SparkSession, sf_dir: str):
    """The ``kind`` artifact for ``sf_dir``'s current files; builds it
    (once, whichever thread asks first) when missing or stale."""
    global _base
    snap = snapshot(sf_dir)
    with _lock:
        old = _current.get((kind, sf_dir))
        if old is not None and old.snapshot == snap:
            return old.value
        if _base is None:
            _base = tempfile.mkdtemp(prefix="ureplicator_standing_")
            atexit.register(shutil.rmtree, _base, ignore_errors=True)
        root = tempfile.mkdtemp(prefix=kind + "_", dir=_base)
        t0 = time.perf_counter()
        try:
            rows = BUILDERS[kind](spark, sf_dir, root)
        except BaseException:
            shutil.rmtree(root, ignore_errors=True)
            raise
        seconds = time.perf_counter() - t0
        value = root if rows is None else rows
        new = Build(kind, sf_dir, snap, root, value, seconds, _du(root))
        _current[(kind, sf_dir)] = new
        builds.append(new)
    if old is not None:
        shutil.rmtree(old.root, ignore_errors=True)
    return value
