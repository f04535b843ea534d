"""Persisted IVF (inverted-file) ANN index — the amortized scale path.

`operators/similarity.ivf_ann` quantizes the corpus per query run; at
100 TB the coarse quantization is built ONCE and persisted as parquet
partitioned by centroid list, so a search touches only the probed
lists' directories (partition pruning) instead of re-scanning the
corpus. Layout (v2 — vectors stay ARRAYS, never exploded):

    <root>/vectors/cent_id=<c>/   (vec_id, embedding, norm)
    <root>/centroids/             (cent_id, embedding, cn)

Array storage halves the index size vs exploded (vec_id, i, x) rows
and, more importantly, makes the SEARCH a pure
map+broadcast+window pipeline: every dot product is a `zip_with`
fold over two arrays in one codegen stage — no per-dimension join, no
groupBy re-aggregation of components. With the probe side broadcast,
Spark's dynamic partition pruning (DPP) skips unprobed cent_id
directories at runtime (a `dynamicpruning` subquery on cent_id,
asserted in tests). Search cost is O(Q · nprobe · N/n_centroids) rows
read; the index build is one corpus pass.

Build, append and search rank lists through one function
(``_rank_lists``). Centroids default to the same deterministic pick
as `ivf_ann` (vec_id < n_centroids), so results are reproducible and
equal to it; ``trained=True`` persists Lloyd k-means centroids,
``operators/lloyd.lloyd_train``'s integer matrix over its qscale —
balanced lists keep the probed-partition read cost even at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ureplicator_spark.functions import round6s


def _dot(a, b):
    """zip_with fold dot product over two numeric array columns, each
    element cast to double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _rank_lists(centroids: DataFrame, vectors: DataFrame, depth: int) -> DataFrame:
    """(vec_id, embedding, norm, cent_id): each vector's ``depth``
    nearest centroid lists, the one list ranking the build, the append
    and the search all share. Cosine against the broadcast centroid
    arrays, ``try_divide`` (a zero norm on either side scores NULL,
    which ranks last), rounded by ``round6s``, ties to the lower
    cent_id. Norms are the same map-only array fold as
    ``operators.similarity.norms``, inline, so the vectors are scanned
    once; NULL embeddings drop, matching the norms() inner-join
    contract. ONE map pass plus the per-vector window."""
    v = vectors.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm")
    )
    c = centroids.select("cent_id", F.col("embedding").alias("c_emb"), "cn")
    ccos = round6s(
        F.try_divide(_dot(F.col("embedding"), F.col("c_emb")), F.col("norm") * F.col("cn"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cent_id"))
    return (
        v.crossJoin(F.broadcast(c))
        .withColumn("ccos", ccos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= depth)
        .select("vec_id", "embedding", "norm", "cent_id")
    )


def _write_lists(
    assigned: DataFrame, source: DataFrame, n_lists, root: str, mode: str
) -> None:
    """Write ``_rank_lists`` rows into the list directories, clustered
    by list: one file per cent_id directory instead of one per (task,
    cent_id) — guide §6, the chunk-index measurement; the file count
    per list is derived from ``source``'s size (1 at local SFs)."""
    from ureplicator_spark.fsutil import (
        cluster_for_partitioned_write,
        derived_files_per_partition,
    )

    cluster_for_partitioned_write(
        assigned, "cent_id", "vec_id", derived_files_per_partition(source, n_lists),
    ).write.mode(mode).partitionBy("cent_id").parquet(root + "/vectors")


def build_ivf_index(
    embeddings: DataFrame, root: str, n_centroids: int = 8, trained: bool = False
) -> None:
    """One-pass index build: assign every vector to its nearest
    centroid list (``_rank_lists``, rank 1 — the same ranking the
    append uses, so append ≡ rebuild holds by construction) and
    persist (vec_id, embedding, norm) partitioned by list.

    ``trained=True`` swaps the deterministic vec_id<k pick for Lloyd
    k-means centroids (``operators/lloyd.lloyd_train``, 2 passes at
    qscale 1000, a final update from the last assignment) — the
    offline-trained coarse quantizer a production IVF deployment
    uses."""
    spark = embeddings.sparkSession
    if trained:
        from ureplicator_spark.operators.lloyd import lloyd_train

        ids, C = lloyd_train(embeddings, n_centroids, 2, 1000, update_last=True)
        cent = spark.createDataFrame(
            [(int(c), [float(x) / 1000.0 for x in row]) for c, row in zip(ids, C)]
            if C is not None else [],
            "cent_id long, embedding array<double>",
        )
    else:
        cent = embeddings.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cent_id"),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
        )
    cn = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    if trained:
        # a degenerate all-zero trained centroid (possible on
        # pathological inputs) scores 0, not NULL
        cn = F.greatest(cn, F.lit(1e-12))
    cent.withColumn("cn", cn).write.mode("overwrite").parquet(root + "/centroids")

    # assign against the PERSISTED centroids (read back, as the append
    # and the search do): all three broadcast identical double arrays
    centroids = spark.read.parquet(root + "/centroids")
    _write_lists(
        _rank_lists(centroids, embeddings, 1), embeddings, n_centroids, root, "overwrite"
    )


def append_to_ivf_index(
    spark: SparkSession, root: str, new_embeddings: DataFrame
) -> int:
    """Grow the persisted index WITHOUT a rebuild: assign each new
    vector to its nearest EXISTING centroid list (``_rank_lists``,
    rank 1, as the build does, so appended vectors land where a full
    rebuild would put them) and append the rows partition-wise — the
    standard IVF maintenance move (new vectors join lists; the coarse
    quantizer is retrained only on drift, which is a rebuild by
    definition). Returns rows appended. Cost is O(new · n_centroids)
    — never touches existing lists' files.

    Crash contract: a crash mid-append can leave a partial batch
    (at-least-once, the same posture as the archive's blind-append
    sink); the streaming maintainer (``streaming/index_maintenance.py``)
    commits a marker AFTER each batch so normal micro-batch replays
    are no-ops."""
    from pyspark.sql import Observation

    centroids = spark.read.parquet(root + "/centroids")
    obs = Observation()
    assigned = _rank_lists(centroids, new_embeddings, 1).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    # n lists resolved lazily: the local fast path (batch bytes under
    # one target file) never pays the count job
    _write_lists(assigned, new_embeddings, lambda: centroids.count(), root, "append")
    return int(obs.get["n"])


def search_ivf_index(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 3,
) -> DataFrame:
    """Top-k cosine ANN over the persisted index. ``queries`` is
    (vec_id, embedding); only the ``nprobe`` nearest lists per query
    (``_rank_lists``, ranks up to ``nprobe``) are read, partition-
    pruned via the broadcast probe join. On an index built with the
    default centroids, answers equal ``operators.similarity.ivf_ann``.

    Plan shape: centroid probing is Q×n_centroids rows through one
    zip_with projection + a window; the probe rows carry the query
    vector and norm, so candidate scoring is one DPP-pruned scan joined
    to the broadcast probe with a per-row zip_with dot — no
    per-dimension join or component re-aggregation anywhere."""
    centroids = spark.read.parquet(root + "/centroids")
    vectors = spark.read.parquet(root + "/vectors")
    probe = _rank_lists(centroids, queries, nprobe).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("qn"),
        "cent_id",
    )
    # probe side is tiny (Q·nprobe rows) → broadcast; the join on the
    # partition column triggers DPP so unprobed cent_id dirs are skipped
    score = (
        vectors.join(F.broadcast(probe), "cent_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            round6s(
                F.try_divide(_dot(F.col("q_emb"), F.col("embedding")), F.col("qn") * F.col("norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        score.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cosine", "rank")
    )


def delete_from_ivf_index(
    spark: SparkSession, root: str, vec_ids: list[int]
) -> dict:
    """Right-to-be-forgotten for the IVF index: the ``vectors``
    section stores the RAW embedding per id — user content itself, so
    deletion must reach it, not just the source table. Partition-
    pruned rewrite of only the cent_id lists that held the doomed
    vectors (each vector lives in exactly one list); the centroid
    table is a k×dim MODEL, not member data, and k-means centroids are
    not decrementable per-member — production re-trains centroids on
    the next snapshot rebuild, exactly as it absorbs drift. Search
    correctness after delete needs no centroid change: a pruned list
    simply no longer returns the deleted ids. Idempotent; no derived
    stats to repair."""
    from ureplicator_spark.sources.rewrite import rewrite_partitioned_without

    ids = [int(i) for i in vec_ids]
    rewritten, removed = rewrite_partitioned_without(
        spark, root + "/vectors", "cent_id", "vec_id", ids
    )
    return {"lists_rewritten": rewritten, "removed_dirs": removed}
