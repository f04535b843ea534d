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

Centroids default to the same deterministic pick as `ivf_ann`
(vec_id < n_centroids) so results are reproducible;
``trained=True`` persists Lloyd k-means centroids
(`operators/similarity.kmeans_centroids`) — balanced lists keep the
probed-partition read cost even at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ureplicator_spark.functions import round6s



def _dot(a, b):
    """zip_with fold dot product over two double array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign_to_lists(centroids: DataFrame, vectors: DataFrame) -> DataFrame:
    """(vec_id, embedding, norm, cent_id): every vector assigned to
    its nearest centroid list — cosine against the broadcast centroid
    arrays rounded to 6 decimals, ties to the lower cent_id, norms by
    the same map-only array fold as ``operators.similarity.norms``
    (inline, so the vectors are scanned exactly once; NULL embeddings
    drop, matching the norms() inner-join contract). ONE map pass +
    the per-vector argmax window; shared by build and append."""
    v = (
        vectors.filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            "embedding",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v_emb"),
        )
        .withColumn("norm", F.sqrt(_dot(F.col("v_emb"), F.col("v_emb"))))
    )
    scored = v.crossJoin(
        F.broadcast(
            centroids.select("cent_id", F.col("embedding").alias("c_emb"), "cn")
        )
    ).select(
        "vec_id",
        "embedding",
        "norm",
        "cent_id",
        round6s(
            F.try_divide(_dot(F.col("v_emb"), F.col("c_emb")), F.col("norm") * F.col("cn"))
        ).alias("ccos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cent_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "norm", "cent_id")
    )


def build_ivf_index(
    embeddings: DataFrame, root: str, n_centroids: int = 8, trained: bool = False
) -> None:
    """One-pass index build: assign every vector to its nearest
    centroid list and persist (vec_id, embedding, norm) partitioned by
    list. Assignment is the same array formulation as
    ``append_to_ivf_index`` (one map pass over the vectors — inline
    array-fold norm, zip_with dot against the broadcast persisted
    centroids — then the per-vector argmax window), so append ≡
    rebuild holds by shared construction; the r12 rewrite dropped the
    exploded-component join + hash re-aggregation the build carried
    (one corpus-sized shuffle and two extra self-joins removed; the
    round-6 cosine absorbs the fold-vs-hash summation order exactly as
    it already did between build and append).

    ``trained=True`` swaps the deterministic vec_id<k pick for Lloyd
    k-means centroids — the offline-trained coarse quantizer a
    production IVF deployment uses."""
    if trained:
        from ureplicator_spark.operators.similarity import kmeans_centroids

        cent_comp = kmeans_centroids(embeddings, k=n_centroids)
        # assemble array rows: components arrive (cent_id, i, cx) with
        # i = 1..dim; sort_array on (i, cx) structs restores order
        cent = (
            cent_comp.groupBy("cent_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("i"), F.col("cx")))
                ).alias("ic")
            )
            .select(
                "cent_id",
                F.expr("transform(ic, s -> CAST(s.cx AS DOUBLE))").alias("embedding"),
            )
        )
        # floor the norm: a degenerate all-zero centroid (possible on
        # pathological inputs) must not inject NaN cosines
        cent = cent.select(
            "cent_id",
            "embedding",
            F.greatest(
                F.sqrt(_dot(F.col("embedding"), F.col("embedding"))), F.lit(1e-12)
            ).alias("cn"),
        )
    else:
        cent = embeddings.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cent_id"),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
        )
        cent = cent.withColumn(
            "cn", F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        )
    cent.write.mode("overwrite").parquet(root + "/centroids")

    # assign against the PERSISTED centroids (read back, like append):
    # the expensive trained-centroid subtree runs once, and both paths
    # broadcast the identical double-array rows a probe session reads
    centroids = embeddings.sparkSession.read.parquet(root + "/centroids")
    from ureplicator_spark.fsutil import (
        cluster_for_partitioned_write,
        derived_files_per_partition,
    )

    # clustered by list: one file per cent_id directory instead of one
    # per (task, cent_id) — guide §6, the chunk-index measurement;
    # file count per list size-derived (1 at local SFs)
    cluster_for_partitioned_write(
        _assign_to_lists(centroids, embeddings), "cent_id", "vec_id",
        derived_files_per_partition(embeddings, n_centroids),
    ).write.mode("overwrite").partitionBy("cent_id").parquet(root + "/vectors")


def append_to_ivf_index(
    spark: SparkSession, root: str, new_embeddings: DataFrame
) -> int:
    """Grow the persisted index WITHOUT a rebuild: assign each new
    vector to its nearest EXISTING centroid list (broadcast centroids,
    one map pass + the per-vector argmax window) and append the rows
    partition-wise — the standard IVF maintenance move (new vectors
    join lists; the coarse quantizer is retrained only on drift, which
    is a rebuild by definition). Returns rows appended.

    The assignment math mirrors ``build_ivf_index`` (cosine against
    the persisted centroids, rounded to 6, ties to the lower cent_id;
    norms by the same inline array fold), so appended vectors
    land where a full rebuild would put them. Cost is
    O(new · n_centroids) — never touches existing lists' files.

    Crash contract: a crash mid-append can leave a partial batch
    (at-least-once, the same posture as the archive's blind-append
    sink); the streaming maintainer (``streaming/index_maintenance.py``)
    commits a marker AFTER each batch so normal micro-batch replays
    are no-ops."""
    from pyspark.sql import Observation

    centroids = spark.read.parquet(root + "/centroids")
    assigned = _assign_to_lists(centroids, new_embeddings)
    obs = Observation()
    assigned = assigned.observe(obs, F.count(F.lit(1)).alias("n"))
    from ureplicator_spark.fsutil import (
        cluster_for_partitioned_write,
        derived_files_per_partition,
    )

    cluster_for_partitioned_write(
        assigned, "cent_id", "vec_id",
        # n lists resolved lazily: the local fast path (batch bytes
        # under one target file) never pays the count job
        derived_files_per_partition(new_embeddings, lambda: centroids.count()),
    ).write.mode("append").partitionBy("cent_id").parquet(root + "/vectors")
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
    are read (partition-pruned via the broadcast probe join).

    Plan shape: centroid probing is Q×n_centroids rows through one
    zip_with projection + a window; candidate scoring is one DPP-pruned
    scan joined to the broadcast query table with a per-row zip_with
    dot — no per-dimension join or component re-aggregation anywhere."""
    centroids = spark.read.parquet(root + "/centroids")
    vectors = spark.read.parquet(root + "/vectors")
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("q_emb"),
    ).withColumn(
        "qn", F.greatest(F.sqrt(_dot(F.col("q_emb"), F.col("q_emb"))), F.lit(1e-12))
    )

    qscore = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "q_id",
            "cent_id",
            round6s(
                _dot(F.col("q_emb"), F.col("embedding")) / (F.col("qn") * F.col("cn"))
            ).alias("ccos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("ccos").desc(), F.col("cent_id"))
    probe = (
        qscore.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "cent_id")
    )
    # probe side is tiny (Q·nprobe rows) → broadcast; the join on the
    # partition column triggers DPP so unprobed cent_id dirs are skipped
    cand = vectors.join(F.broadcast(probe), "cent_id").filter(
        F.col("vec_id") != F.col("q_id")
    )
    score = cand.join(F.broadcast(q), "q_id").select(
        "q_id",
        F.col("vec_id").alias("c_id"),
        round6s(
            F.try_divide(_dot(F.col("q_emb"), F.col("embedding")), F.col("qn") * F.col("norm"))
        ).alias("cosine"),
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        score.withColumn("rank", F.row_number().over(w2))
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
