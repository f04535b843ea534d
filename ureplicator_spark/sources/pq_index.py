"""Persisted IVF-PQ index — compressed ANN at corpus scale.

The FAISS IVFPQ architecture (Jégou et al., TPAMI'11 §V) re-expressed
as parquet + DataFrame ops: a coarse quantizer splits the corpus into
inverted lists, each vector's RESIDUAL from its coarse centroid is
product-quantized, and only the m·log2(k)-bit code survives — the
float corpus is not needed at search time at all. A search probes the
``nprobe`` nearest lists (partition-pruned directory reads), builds a
per-list lookup table from the query residual, and sums m table
entries per candidate.

Layout:

    <root>/coarse/                 (cent_id, i, c)     integer centroid components
    <root>/codebook/               (sub, code, i, c)   integer PQ codewords (residual domain)
    <root>/codes/cent_id=<list>/   (vec_id, codes array<int>)

Everything is integer-exact (round(x·qscale) components, exact
squared-L2, floor-div centroid updates) — the same determinism
discipline as ``operators/similarity.kmeans_clusters`` — so tests can
pin results against an oblivious NumPy reference bit-for-bit.

Scale notes: the codebook is m·k·(dim/m) rows and the coarse table
n_centroids·dim rows — both broadcast into the search, and both ride
in the task closure of the encode pass (``_encode``) that the build
and the append share. The build's corpus passes are map passes (Lloyd
rounds, then the encode); its one corpus-sized exchange is the
repartition by list before the write. The search reads ONLY probed list directories (asserted via the
``dynamicpruning``/partition-filter plan test) and its one shuffle is
the per-(query, candidate) ADC sum over probed-list rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _encode(embeddings: DataFrame, cids, CC, books, qscale: int, subdim: int) -> DataFrame:
    """(vec_id, codes array<int>, cent_id): the IVF-PQ encode pass, ONE
    map pass with the coarse model (``cids``, ``CC``) and the PQ
    ``books`` in the task closure. Each vector goes to its nearest
    coarse centroid by exact integer L2, and each subvector of its
    residual to the nearest codeword; ties go to the lower id (both
    models are sorted by id, and ``np.argmin`` takes the first
    minimum). The build and the append both encode here, so an
    appended vector gets the codes a rebuild would give it."""
    from ureplicator_spark.operators.lloyd import _assign_np, _quantize_np, _vec_rows

    def encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = _quantize_np(pdf["embedding"].to_numpy(), qscale)
            ca, _ = _assign_np(Q, CC)
            R = Q - CC[ca]
            codes = np.column_stack([
                ids[_assign_np(R[:, s * subdim : (s + 1) * subdim], C)[0]]
                for s, (ids, C) in enumerate(books)
            ]).astype(np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().astype("int64"),
                    "codes": list(codes),
                    "cent_id": cids[ca],
                }
            )

    return _vec_rows(embeddings).mapInPandas(
        encode, schema="vec_id long, codes array<int>, cent_id long"
    )


def _read_model(spark: SparkSession, root: str, m: int):
    """(cids, CC, books) from the persisted ``coarse`` and ``codebook``
    sections, rows sorted by ``cent_id`` and ``code`` as
    ``lloyd_train`` and ``pq_lloyd_train`` return them."""
    co = spark.read.parquet(root + "/coarse").toPandas().sort_values(["cent_id", "i"])
    cb = spark.read.parquet(root + "/codebook").toPandas().sort_values(["sub", "code", "i"])

    def model(rows, key):
        ids = rows[key].unique()
        return ids, rows["c"].to_numpy().reshape(len(ids), -1)

    return (*model(co, "cent_id"), [model(cb[cb["sub"] == s], "code") for s in range(m)])


def build_ivfpq_index(
    embeddings: DataFrame,
    root: str,
    n_centroids: int = 8,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
    qscale: int = 1000,
) -> None:
    """One corpus pass + bounded Lloyd rounds, then persist.

    Coarse quantizer: integer Lloyd (init = first ``n_centroids``
    vectors, ``iters`` assignment passes). PQ: per-subspace integer
    Lloyd over the RESIDUAL components (init = first ``k`` vectors'
    residuals). Codes are stored as one array<int> per vector,
    partitioned by coarse list for pruned probes."""
    from ureplicator_spark.operators.lloyd import (
        codebook_df,
        coarse_df,
        lloyd_train,
        pq_lloyd_train,
    )

    spark = embeddings.sparkSession
    subdim = dim // m
    # coarse quantizer, then the PQ codebook over residuals (every pass
    # quantizes, subtracts the nearest coarse centroid, and trains on
    # q − c); each update round is one map pass (operators/lloyd.py)
    cids, CC = lloyd_train(embeddings, n_centroids, iters, qscale, update_last=False)
    coarse_df(spark, cids, CC).write.mode("overwrite").parquet(root + "/coarse")
    books = pq_lloyd_train(embeddings, m, k, iters, dim, qscale, coarse=(cids, CC))
    codebook_df(spark, books, subdim).write.mode("overwrite").parquet(root + "/codebook")

    # one writer task per list
    _encode(embeddings, cids, CC, books, qscale, subdim).repartition(
        "cent_id"
    ).write.mode("overwrite").partitionBy("cent_id").parquet(root + "/codes")

    # persist the build geometry: the search must window residuals with
    # the SAME m/dim split (and quantization scale) the codes used — a
    # mismatched hardcoded subdim would silently drop codebook rows out
    # of the LUT join and return wrong neighbors
    import json

    with open(root + "/meta.json", "w") as f:
        json.dump({"n_centroids": n_centroids, "m": m, "k": k,
                   "dim": dim, "qscale": qscale}, f)


def append_to_ivfpq_index(
    spark: SparkSession, root: str, new_embeddings: DataFrame
) -> int:
    """Grow the compressed index WITHOUT retraining: encode new
    vectors with the EXISTING coarse centroids and PQ codebooks (the
    FAISS ``add`` operation — quantizers are fixed after training) and
    append the codes partition-wise to their coarse lists. Returns
    rows appended.

    The model is read back from the persisted sections and the vectors
    go through the build's own encode pass (``_encode``), at the
    index's persisted qscale. Cost is O(new · (n_centroids + m·k));
    existing lists' files are never touched. Crash contract matches
    ``append_to_ivf_index`` (at-least-once mid-append; the streaming
    maintainer's marker commit makes normal replays no-ops)."""
    import json

    from pyspark.sql import Observation

    with open(root + "/meta.json") as f:
        meta = json.load(f)
    qscale, subdim = meta["qscale"], meta["dim"] // meta["m"]
    cids, CC, books = _read_model(spark, root, meta["m"])
    obs = Observation()
    # same one-file-per-list write discipline as the build; counted
    # after the shuffle: counted below it, an empty batch reports no
    # metrics and Observation.get fails
    _encode(new_embeddings, cids, CC, books, qscale, subdim).repartition("cent_id").observe(
        obs, F.count(F.lit(1)).alias("n")
    ).write.mode("append").partitionBy("cent_id").parquet(root + "/codes")
    return int(obs.get["n"])


def search_ivfpq_index(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    nprobe: int = 2,
    top_k: int = 5,
) -> DataFrame:
    """ADC search over the persisted index: probe the ``nprobe``
    nearest coarse lists per query (exact integer L2 on the broadcast
    coarse table), build the residual lookup table for just those
    lists, and rank candidates by summed table entries. Only probed
    ``cent_id=`` directories are read. Geometry (m/dim/qscale) comes
    from the index's own meta.json, so the residual windowing always
    matches the build that produced the codes."""
    import json

    with open(root + "/meta.json") as f:
        meta = json.load(f)
    qscale = meta["qscale"]

    coarse = spark.read.parquet(root + "/coarse")
    cb = spark.read.parquet(root + "/codebook")
    codes = spark.read.parquet(root + "/codes")

    from ureplicator_spark.operators.similarity import _pq_components

    qcomp = _pq_components(queries, meta["m"], meta["dim"], qscale).withColumnRenamed(
        "vec_id", "q_id"
    )
    cdist = (
        qcomp.join(F.broadcast(coarse), "i")
        .groupBy("q_id", "cent_id")
        .agg(F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))).alias("dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("cent_id"))
    probe = (
        cdist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "cent_id")
    )

    # residual LUT for probed (query, list) pairs: Q·nprobe·m·k rows
    qresid = (
        qcomp.join(F.broadcast(probe), "q_id")
        .join(F.broadcast(coarse), ["cent_id", "i"])
        .select("q_id", "cent_id", "sub", "i", (F.col("q") - F.col("c")).alias("r"))
    )
    lut = (
        qresid.join(F.broadcast(cb), ["sub", "i"])
        .groupBy("q_id", "cent_id", "sub", "code")
        .agg(F.sum((F.col("r") - F.col("c")) * (F.col("r") - F.col("c"))).alias("pdist"))
    )

    # probed-list candidates: DPP prunes unprobed cent_id directories
    cand = (
        codes.join(F.broadcast(probe), "cent_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "cent_id", "vec_id", F.posexplode("codes").alias("sub", "code"))
    )
    adc = (
        cand.join(F.broadcast(lut), ["q_id", "cent_id", "sub", "code"])
        .groupBy("q_id", F.col("vec_id").alias("c_id"))
        .agg(F.sum("pdist").alias("adc_dist"))
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("c_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= top_k)
        .select("q_id", "c_id", "adc_dist", "rank")
    )


def delete_from_ivfpq_index(
    spark: SparkSession, root: str, vec_ids: list[int]
) -> dict:
    """Right-to-be-forgotten for the IVF-PQ index: the ``codes``
    section stores each vector's packed subquantizer codes — a lossy
    but member-specific encoding of user content. Partition-pruned
    rewrite of the affected cent_id lists; ``coarse`` and
    ``codebook`` are MODELS (k×dim / m·k×subdim), not member rows, and
    like the IVF centroids they are refreshed by the next snapshot
    re-train rather than per-member decrement. Idempotent."""
    from ureplicator_spark.sources.rewrite import rewrite_partitioned_without

    ids = [int(i) for i in vec_ids]
    rewritten, removed = rewrite_partitioned_without(
        spark, root + "/codes", "cent_id", "vec_id", ids
    )
    return {"lists_rewritten": rewritten, "removed_dirs": removed}
