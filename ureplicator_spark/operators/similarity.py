"""Similarity search over embedding columns (array<float>).

Two paths:
  * brute-force cosine top-k — the correctness baseline. Relational
    formulation (posexplode + join + sum) so the oracle reproduces it
    exactly.
  * hyperplane-LSH bucketing — the scale path: 2^P buckets from
    deterministic md5-derived random hyperplanes; ANN search only
    joins within a bucket, turning O(N·Q) into O(Q·bucket).

The LSH ANN family (``lsh_ann``, ``lsh_ann_filtered``, ``ann_recall``,
``lsh_ann_multiprobe``, ``multiprobe_recall_comparison``) runs in two
stages: a candidate builder (``_home_candidates`` or
``_probe_candidates``) and one exact scorer (``_score``) with a
per-query top-k (``_top_k``). The IVF path (``ivf_ann``) builds its
candidates from the probed centroid lists and scores them through the
same ``_score`` and ``_top_k``.

Scale notes: queries are broadcast (Q ≪ N); the corpus side never
shuffles for brute force. For LSH, the one shuffle keys on bucket id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ureplicator_spark.functions import micro6, round6f, round6s

from ureplicator_spark.caching import pin
from ureplicator_spark.functions import md5_long

N_PLANES = 8

# SemDeDup pair-kernel block size, in f64 cells of the (block × cluster)
# cosine slab (4M cells = 32 MB). Bounds the per-worker peak regardless
# of cluster skew; tests shrink it to force the multi-block path.
_PAIR_BLOCK_CELLS = 4 << 20


def _components(embeddings: DataFrame) -> DataFrame:
    """(vec_id, i, x) 1-based component view, double precision."""
    return embeddings.select(
        "vec_id", F.posexplode("embedding").alias("i0", "x")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), F.col("x").cast("double").alias("x"))


def norms(embeddings: DataFrame) -> DataFrame:
    """Per-vector L2 norm as a MAP-ONLY index-order array fold — no
    explode, no shuffle, and the summation order is the array order on
    any engine. SUM over the exploded component view was partition-
    order-dependent (f32×f32 products are exact in double; their sum
    is not), the r11 ROUND-audit refold class. SQL twin: list_reduce
    over list_transform, same left fold from 0.0.

    NULL embeddings produce NO row (the explode-era inner-join
    contract, re-pinned after the r11 map-only refold silently turned
    them into (vec_id, NULL) rows — r11 advisor). Pinned in
    tests/test_operators_extra.py."""
    sq = F.transform("embedding", lambda v: v.cast("double") * v.cast("double"))
    return embeddings.filter(F.col("embedding").isNotNull()).select(
        "vec_id",
        F.sqrt(F.aggregate(sq, F.lit(0.0), lambda a, v: a + v)).alias("norm"),
    )


def cosine_knn(
    embeddings: DataFrame, n_queries: int = 10, k: int = 3
) -> DataFrame:
    """Brute-force cosine top-k of every corpus vector for the first
    ``n_queries`` vectors (relational dot product — oracle-matched)."""
    queries = embeddings.filter(F.col("vec_id") < n_queries)
    qc = _components(queries).select(
        F.col("vec_id").alias("q_id"), "i", F.col("x").alias("qx")
    )
    cc = _components(embeddings).select(
        F.col("vec_id").alias("c_id"), "i", F.col("x").alias("cx")
    )
    dots = (
        F.broadcast(qc)
        .join(cc, "i")
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.sum(F.col("qx") * F.col("cx")).alias("dot"))
    )
    nq = norms(queries).select(F.col("vec_id").alias("q_id"), F.col("norm").alias("qn"))
    nc = norms(embeddings).select(F.col("vec_id").alias("c_id"), F.col("norm").alias("cn"))
    scored = (
        dots.join(F.broadcast(nq), "q_id")
        .join(nc, "c_id")
        .select(
            "q_id",
            "c_id",
            round6s(F.try_divide(F.col("dot"), F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )
    return _top_k(scored, k).select("q_id", "c_id", "cosine", "rank")


def retrieve_documents(
    embeddings: DataFrame,
    documents: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    snippet_len: int = 80,
) -> DataFrame:
    """Retrieval (the RAG shape): cosine top-k neighbors joined back to
    their documents — ids become answers a consumer can read
    (``q_id, rank, doc_id, cosine, lang, source, snippet``).

    Scale shape: the ranked id list is Q·k rows and BROADCASTS into
    the document join, so the corpus-sized documents table never
    shuffles — it is scanned once with doc_id pushdown-able and only
    the snippet prefix projected (column pruning keeps full text out
    of the exchange). Swap :func:`cosine_knn` for the LSH/IVF searcher
    at corpus scale; the join shape is identical."""
    topk = cosine_knn(embeddings, n_queries=n_queries, k=k)
    docs = documents.select(
        "doc_id",
        "lang",
        "source",
        F.substring("text", 1, snippet_len).alias("snippet"),
    )
    return (
        docs.join(F.broadcast(topk), docs.doc_id == topk.c_id)
        .select("q_id", "rank", "doc_id", "cosine", "lang", "source", "snippet")
        .orderBy("q_id", "rank")
    )


def hyperplanes(spark, dim: int, n_planes: int = N_PLANES) -> DataFrame:
    """Deterministic ±1 random hyperplanes from md5 — reproducible in
    any engine (the 'seeded RNG' of the relational world)."""
    planes = (
        spark.range(n_planes)
        .select(F.col("id").cast("int").alias("p"))
        .crossJoin(spark.range(1, dim + 1).select(F.col("id").cast("int").alias("i")))
    )
    sign = F.when(
        md5_long(F.concat_ws("_", F.col("p").cast("string"), F.col("i").cast("string"))) % 2 == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    return planes.select("p", "i", sign.alias("sign"))


def lsh_buckets(embeddings: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """vec_id → 2^P-ary bucket from hyperplane sign bits."""
    comp = _components(embeddings)
    planes = hyperplanes(embeddings.sparkSession, 64, n_planes)
    bits = (
        comp.join(F.broadcast(planes), "i")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("x") * F.col("sign")).alias("proj"))
        .select(
            "vec_id",
            "p",
            F.when(F.col("proj") > 0, F.lit(1)).otherwise(F.lit(0)).alias("bit"),
        )
    )
    return bits.groupBy("vec_id").agg(
        F.sum(F.col("bit") * F.pow(F.lit(2.0), F.col("p")).cast("long")).cast("long").alias("bucket")
    )


def lsh_bucket_histogram(embeddings: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """Bucket occupancy — the tuning view for recall/cost trade-off."""
    return (
        lsh_buckets(embeddings, n_planes)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
    )


def _query_buckets(buckets: DataFrame, n_queries: int) -> DataFrame:
    """(q_id, bucket) of the first ``n_queries`` vectors."""
    return buckets.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), "bucket"
    )


def _home_candidates(
    buckets: DataFrame, n_queries: int, corpus: DataFrame | None = None
) -> DataFrame:
    """(bucket, q_id, c_id, *corpus columns): every vector of ``corpus``
    (default: ``buckets`` itself; any ``(vec_id, bucket, ...)`` table)
    that shares a query's home bucket, the query itself excluded."""
    cb = (buckets if corpus is None else corpus).withColumnRenamed("vec_id", "c_id")
    return _query_buckets(buckets, n_queries).join(cb, "bucket").filter(
        F.col("q_id") != F.col("c_id")
    )


def _probe_candidates(buckets: DataFrame, n_queries: int, n_planes: int) -> DataFrame:
    """(q_id, c_id, in_home): every vector in a query's home bucket or
    in a Hamming-distance-1 bucket (one sign bit flipped), self
    excluded, once per pair. ``in_home`` says whether the home bucket
    is among the probes that found it.

    The probe list is Q·(P+1) rows (queries bounded, so it broadcasts);
    the candidate join stays bucket-local against the O(N) bucket
    table, never broadcast. The aggregate collapses the ≤P+1 ways a
    candidate can be probed before any component fetch."""
    probe_ids = buckets.sparkSession.range(n_planes + 1).select(
        F.col("id").cast("int").alias("pr")
    )
    # pr == n_planes is the home bucket; pr < n_planes flips bit pr.
    # pow(2, pr) is exact on doubles far past P, same construction as
    # the bucket id itself.
    probes = _query_buckets(buckets, n_queries).crossJoin(F.broadcast(probe_ids)).select(
        "q_id",
        F.when(F.col("pr") == n_planes, F.col("bucket"))
        .otherwise(
            F.col("bucket").bitwiseXOR(F.pow(F.lit(2.0), F.col("pr")).cast("long"))
        )
        .alias("probe_bucket"),
        (F.col("pr") == n_planes).alias("home"),
    )
    cb = buckets.select(F.col("vec_id").alias("c_id"), "bucket")
    return (
        probes.join(cb, probes.probe_bucket == cb.bucket)
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.max("home").alias("in_home"))
    )


def _score(
    embeddings: DataFrame, cand: DataFrame, n_queries: int, *carried: str
) -> DataFrame:
    """Exact cosine of each candidate pair: ``(q_id, c_id, *carried,
    cosine)``, rounded by ``round6s``. The dot product is the relational
    component join, the oracle's formulation.

    The query norms (Q rows) broadcast. The corpus norms are an O(N)
    table and take no hint: the candidate side is the bounded one
    (Q·bucket rows), so AQE broadcasts IT at runtime; a forced corpus
    broadcast dies at billion-vector scale."""
    comp = _components(embeddings)
    nr = norms(embeddings)
    qc = comp.select(F.col("vec_id").alias("q_id"), "i", F.col("x").alias("qx"))
    cc = comp.select(F.col("vec_id").alias("c_id"), "i", F.col("x").alias("cx"))
    dots = (
        cand.join(qc, "q_id")
        .join(cc, ["c_id", "i"])
        .groupBy("q_id", "c_id", *carried)
        .agg(F.sum(F.col("qx") * F.col("cx")).alias("dot"))
    )
    nq = nr.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("norm").alias("qn")
    )
    nc = nr.select(F.col("vec_id").alias("c_id"), F.col("norm").alias("cn"))
    return (
        dots.join(F.broadcast(nq), "q_id")
        .join(nc, "c_id")
        .select(
            "q_id", "c_id", *carried,
            round6s(F.try_divide(F.col("dot"), F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best-scored candidates per query with a 1-based
    ``rank``; ties break on ``c_id``."""
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _recall_hits(top: DataFrame, bf: DataFrame, name: str) -> DataFrame:
    """(q_id, ``name``): how many of a query's ANN results are in the
    ground truth ``bf`` ((q_id, c_id)); queries with no hit are absent."""
    return top.join(bf, ["q_id", "c_id"]).groupBy("q_id").agg(F.count("*").alias(name))


def lsh_ann(embeddings: DataFrame, n_queries: int = 10, n_planes: int = N_PLANES) -> DataFrame:
    """ANN: nearest neighbor per query vector, searched ONLY within the
    query's LSH bucket (the O(Q·bucket) scale path; recall traded for
    the 2^P candidate reduction)."""
    cand = _home_candidates(lsh_buckets(embeddings, n_planes), n_queries)
    scored = _score(embeddings, cand, n_queries, "bucket")
    return _top_k(scored, 1).select("q_id", "c_id", "bucket", "cosine")


def embedding_near_dup_pairs(
    embeddings: DataFrame, top_k: int = 10, n_planes: int = N_PLANES
) -> DataFrame:
    """Embedding-cosine near-dup: candidate pairs from shared LSH
    buckets, ranked by cosine — the scale-safe version of all-pairs
    near-dup (only same-bucket pairs are scored)."""
    buckets = lsh_buckets(embeddings, n_planes)
    a = buckets.select(F.col("vec_id").alias("vec_a"), "bucket")
    b = buckets.select(F.col("vec_id").alias("vec_b"), "bucket")
    cand = a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b"))

    comp = _components(embeddings)
    ca = comp.select(F.col("vec_id").alias("vec_a"), "i", F.col("x").alias("xa"))
    cb = comp.select(F.col("vec_id").alias("vec_b"), "i", F.col("x").alias("xb"))
    dots = (
        cand.join(ca, "vec_a")
        .join(cb, ["vec_b", "i"])
        .groupBy("vec_a", "vec_b", "bucket")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("dot"))
    )
    nr = norms(embeddings)
    na = nr.select(F.col("vec_id").alias("vec_a"), F.col("norm").alias("norm_a"))
    nb = nr.select(F.col("vec_id").alias("vec_b"), F.col("norm").alias("norm_b"))
    scored = (
        # na/nb are O(N)-row norm tables; the bucket-bounded dots side
        # is the broadcastable one — leave strategy to AQE
        dots.join(na, "vec_a")
        .join(nb, "vec_b")
        .select(
            "vec_a", "vec_b", "bucket",
            round6s(F.try_divide(F.col("dot"), F.col("norm_a") * F.col("norm_b"))).alias("cosine"),
        )
    )
    from ureplicator_spark.functions import top_k_ranked

    return top_k_ranked(
        scored, top_k, F.col("cosine").desc(), F.col("vec_a"), F.col("vec_b")
    )


def ivf_ann(
    embeddings: DataFrame,
    n_centroids: int = 8,
    n_queries: int = 10,
    nprobe: int = 2,
    k: int = 3,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into
    centroid lists, probe only the ``nprobe`` nearest lists per query.

    The second scale path next to hyperplane-LSH: search cost drops
    from O(Q·N) to O(Q · nprobe · N/n_centroids). Centroids here are a
    deterministic pick (vec_id < n_centroids) so the DuckDB oracle can
    reproduce the exact partitioning; a production deployment trains
    them offline (k-means on a sample) and broadcasts them identically.

    Plan shape: the centroid component table broadcasts into a single
    map-side join + partial agg for list assignment (corpus never
    shuffles by centroid); the probe joins only within probed lists,
    and those candidates score through ``_score`` and ``_top_k``.
    """
    comp = _components(embeddings)
    nrm = norms(embeddings)
    cent = comp.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), "i", F.col("x").alias("cx")
    )
    adot = (
        comp.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "cent_id")
        .agg(F.sum(F.col("x") * F.col("cx")).alias("dot"))
    )
    nv = nrm.select("vec_id", F.col("norm").alias("vn"))
    ncent = nrm.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("norm").alias("cn")
    )
    ascore = (
        adot.join(F.broadcast(ncent), "cent_id")
        # nv is the full per-vector norm table (O(N)) — co-keyed with
        # adot on vec_id; never force-broadcast it
        .join(nv, "vec_id")
        .select(
            "vec_id", "cent_id",
            round6s(F.try_divide(F.col("dot"), F.col("vn") * F.col("cn"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("cent_id"))
    # The centroid-assignment ranking feeds BOTH the corpus-assignment
    # side and the query-probe side; Catalyst plans no ReusedExchange
    # across the two branches, so without a checkpoint the full
    # quantization pipeline (component join + per-vector agg) runs
    # twice per query. persist() computes it once on first touch — the
    # in-query analog of the "build the index once" step that
    # sources/ivf_index.py persists to parquet for production use
    # (cache, not localCheckpoint, whose toRdd conversion under AQE
    # runs the whole pipeline at plan-construction time).
    ranked = pin(ascore.withColumn("rn", F.row_number().over(w)))
    assign = ranked.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("c_id"), "cent_id"
    )
    probe = ranked.filter(
        (F.col("vec_id") < n_queries) & (F.col("rn") <= nprobe)
    ).select(F.col("vec_id").alias("q_id"), "cent_id")
    # probe is Q·nprobe rows — always broadcastable; post-checkpoint
    # stats hide that from AQE, so force it (same shape as the DPP
    # probe join in sources/ivf_index.py).
    cand = (
        assign.join(F.broadcast(probe), "cent_id")
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id")
    )
    return _top_k(_score(embeddings, cand, n_queries), k)


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Per-vector int8 scalar quantization (the storage-compression
    step before ANN at scale): scale = 127/max|x|, q_i = round(x_i ·
    scale). Returns per-vector scale, reconstruction MSE, and max|q|
    (≤127 by construction). Map + two per-vector aggs — shuffles only
    on vec_id, component rows never leave their input split before the
    partial agg."""
    comp = _components(embeddings)
    mx = comp.groupBy("vec_id").agg(F.max(F.abs("x")).alias("mx"))
    scale = F.lit(127.0) / F.col("mx")
    qe = (
        comp.join(mx, "vec_id")
        .filter(F.col("mx") > 0)
        .select(
            "vec_id",
            "i",
            "x",
            scale.alias("scale"),
            round6s(F.col("x") * scale, 0).alias("q"),
        )
    )
    err = F.pow(F.col("x") - F.col("q") / F.col("scale"), 2)
    # mse folds the per-component error terms in index order (AVG over
    # doubles is partition-order-dependent; 64 bounded terms per vec)
    return qe.groupBy("vec_id").agg(
        round6f(F.min("scale")).cast("double").alias("scale"),
        round6f(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("i", err.alias("e")))),
                F.lit(0.0),
                lambda a, t: a + t["e"],
            )
            / F.count("*"),
            8,
        ).cast("double").alias("mse"),
        F.max(F.abs("q")).cast("int").alias("max_q"),
    )


def _label_scores(embeddings: DataFrame) -> DataFrame:
    """(vec_id, label, centroid_cosine): each vector scored against its
    own label centroid. Centroids are one (label, i) aggregation
    (K*dims rows, tiny) broadcast back against the component view; the
    centroid components are rounded to 1e-6 BEFORE the dot product so
    every engine scores identical inputs.

    Centroid mean is ORDER-CANONICAL (r11 advisor): per-component
    micro6 integer quantize → exact integer SUM (order-free, map-side
    combinable) → ONE double division → round6s (sign-aware —
    embedding components are signed; round6f's half-toward-+inf on a
    negative mean was the advisory). AVG(double) was partition-order-
    dependent near rounding boundaries even with a mirrored SQL twin."""
    comp = _components(embeddings)
    labeled = comp.join(embeddings.select("vec_id", "label"), "vec_id")
    cent = labeled.groupBy("label", "i").agg(
        round6s(
            F.sum(micro6(F.col("x"))) / (F.count("*") * F.lit(1e6))
        ).alias("cx")
    )
    # cnorm folds the k×dim centroid squares in index order (bounded)
    cnorm = cent.groupBy("label").agg(
        F.sqrt(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("i", (F.col("cx") * F.col("cx")).alias("s")))
                ),
                F.lit(0.0),
                lambda a, t: a + t["s"],
            )
        ).alias("cn")
    )
    vnorm = norms(embeddings).select("vec_id", F.col("norm").alias("vn"))
    dot = (
        labeled.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("x") * F.col("cx")).alias("dot"))
    )
    return (
        dot.join(vnorm, "vec_id")
        .join(F.broadcast(cnorm), "label")
        .select(
            "vec_id",
            "label",
            round6s(F.try_divide(F.col("dot"), F.col("vn") * F.col("cn"))).alias(
                "centroid_cosine"
            ),
        )
    )


def label_outliers(embeddings: DataFrame, worst_n: int = 3) -> DataFrame:
    """Per-label outlier detection: the ``worst_n`` vectors least
    cosine-similar to their own label centroid — the standard mislabel /
    contamination sweep over an embedded training set. The bottom-N
    window partitions by label."""
    scored = _label_scores(embeddings)
    w = Window.partitionBy("label").orderBy(
        F.col("centroid_cosine").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= worst_n)
        .select("label", "vec_id", "centroid_cosine", "rank")
    )


def lsh_ann_filtered(
    embeddings: DataFrame,
    label_pred,
    n_queries: int = 10,
    n_planes: int = N_PLANES,
    k: int = 3,
) -> DataFrame:
    """Metadata-filtered ANN — top-k within the query's LSH bucket
    restricted to corpus vectors whose ``label`` satisfies
    ``label_pred`` (a Column predicate). The production "filtered
    vector search" shape: the predicate prunes the candidate side
    BEFORE the bucket join (pre-filtering, exact w.r.t. the filter —
    never post-filtering a top-k that can come back short).

    Scale shape identical to lsh_ann: O(Q · bucket∩filter) candidate
    pairs, predicate pushed to the corpus scan, no forced broadcast of
    any O(N) side."""
    buckets = lsh_buckets(embeddings, n_planes)
    allowed = embeddings.filter(label_pred).select("vec_id", "label")
    cand = _home_candidates(buckets, n_queries, buckets.join(allowed, "vec_id"))
    scored = _score(embeddings, cand, n_queries, "label")
    return _top_k(scored, k).select("q_id", "c_id", "label", "cosine", "rank")


def kmeans_assignments(
    embeddings: DataFrame, k: int = 8, iters: int = 2, qscale: int = 1000
) -> DataFrame:
    """Per-vector Lloyd assignment ``(vec_id, cluster_id, dist)`` under
    the same integer-exact discipline as :func:`kmeans_clusters`
    (quantize → exact integer squared-L2 → exact floor-division centroid
    updates; init = first ``k`` vectors). Shared core for the cluster
    summary and the SemDeDup within-cluster dedup pass.

    Scale shape (r13, guide §4.2 — operators/lloyd.py): the k×dim
    centroid model lives in the task closure; each update round is ONE
    map pass emitting per-partition integer partial sums (order-free,
    exact), and the returned assignment is ONE map pass with no
    exchange at all — the corpus never shuffles. The former
    exploded-component formulation (broadcast join + hash aggregate
    over N·dim·k rows, three exchanges per round, lazily re-executed
    by every consumer action) computed the identical integers; value
    identity is pinned in tests/test_properties.py and the consumer
    oracle gates."""
    from ureplicator_spark.operators.lloyd import lloyd_assignments

    return lloyd_assignments(embeddings, k, iters, qscale)


def semantic_dedup_pairs(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic near-dup
    pairs found by clustering the corpus and comparing cosines ONLY
    within a cluster. Returns ``(cluster_id, vec_a, vec_b, cosine,
    keeper_vec_id)`` for pairs with cosine ≥ ``threshold``;
    ``keeper_vec_id`` is the pairwise keeper (the smaller id — always
    ``vec_a`` given the a<b pair orientation). For a GROUP-level
    keeper across chained pairs, feed these pairs to
    ``dedup.duplicate_clusters`` like the MinHash pipeline does.

    Scale shape — this is the entire point of SemDeDup: the O(N²)
    all-pairs comparison becomes k independent O((N/k)²) problems. At
    100 TB you raise ``k`` with the corpus (k ≈ N/C for a target
    cluster size C, e.g. C=10⁴), so per-cluster work stays bounded and
    the pair join keys on cluster_id — embarrassingly parallel, never
    a global self-join. Assignment reuses the broadcast-centroid Lloyd
    pass (:func:`kmeans_assignments`): the corpus-sized side shuffles
    once on vec_id for the argmin and once on cluster_id for the pair
    join. Cosines are exact double dots rounded to 6 dp (the oracle
    reproduces them)."""
    # persist: the pair self-join references the assignment TWICE, and
    # without it the whole multi-stage Lloyd DAG executes once per
    # branch (persist stays lazy and dedups by canonicalized plan —
    # see lsh_candidate_pairs for why not localCheckpoint). The table
    # is N rows of (id, cluster) — trivially memory-resident. Callers
    # that also need the assignment (the keep/drop summary) pass it in
    # so the Lloyd pass runs once across both outputs.
    assign = (
        assignments
        if assignments is not None
        else pin(
            kmeans_assignments(embeddings, k=k, iters=iters).select(
                "vec_id", "cluster_id"
            )
        )
    )
    # Per-cluster BLAS kernel (r12, guide §4.2): ship each cluster's
    # vectors to ONE Arrow batch and compute the full within-cluster
    # cosine matrix as a numpy gram product. The former relational
    # form built the N²/k pair list, exploded both sides to components
    # and hash-aggregated pairs × dim rows (16M intermediate rows at
    # sf0.1 — the query's dominant stage, measured 3.4 s); a zip_with
    # array-fold variant was ALSO measured and rejected (6.7 s: the
    # optimizer pushes the rounded-cosine filter into the join
    # condition, so the interpreted higher-order fold evaluates ~3×
    # per row). The kernel reproduces the exact output algebra:
    # f32→f64 component products, 6-dp sign-aware rounding
    # (round6s), zero-norm cosines undefined (nan here, NULL via
    # try_divide before) and excluded, pairs oriented vec_a < vec_b.
    # Double-sum order differs (BLAS vs partition order) exactly as it
    # already differed between Spark and DuckDB — absorbed by the 6-dp
    # rounding; re-gated vs the unchanged oracle at 3 SFs and pinned
    # vs the oblivious reference in tests/test_properties.py.
    # Scale shape unchanged: one shuffle keys on cluster_id and
    # per-cluster work is the same N²/k FLOPs, now vectorized.
    import pandas as pd

    vec = embeddings.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    ).select("vec_id", "embedding")
    data = assign.join(vec, "vec_id").select("cluster_id", "vec_id", "embedding")

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        E = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        nrm = np.sqrt((E * E).sum(axis=1))
        cid = pdf["cluster_id"].iloc[0]
        n = len(ids)
        # r13 (guide §5 — bound worker memory against cluster skew):
        # the cluster's embedding matrix still arrives whole (N/k × dim
        # — linear, the applyInPandas group), but the (N/k)² cosine
        # matrix is never materialized at once. Rows are processed in
        # blocks of B = _PAIR_BLOCK_CELLS // n, so peak extra memory is
        # B·n f64 cells (~32 MB) no matter how skewed the Lloyd
        # clusters come out. Each block computes the same f64
        # dot/outer-norm ratio over the same vectors (a BLAS gemm over
        # a row block has the same reduction dim as the full gram),
        # absorbed by the same 6-dp rounding — re-gated vs the
        # unchanged oracle at 3 SFs, skew-block identity pinned in
        # tests/test_properties.py.
        B = max(1, _PAIR_BLOCK_CELLS // max(n, 1))
        out_a = [np.empty(0, dtype=ids.dtype)]
        out_b = [np.empty(0, dtype=ids.dtype)]
        out_c = [np.empty(0, dtype="float64")]
        for s in range(0, n, B):
            e = min(s + B, n)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (E[s:e] @ E.T) / np.outer(nrm[s:e], nrm)
            # round6s: SIGN(x)*FLOOR(ABS(x)*1e6 + 0.5)/1e6 (+0.0 kills -0.0)
            r = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6 + 0.0
            keep = r >= threshold  # nan (zero norm) compares False
            ia, ib = np.nonzero(keep)
            up = ib > ia + s  # strict upper triangle: vec_a < vec_b
            ia, ib = ia[up], ib[up]
            out_a.append(ids[ia + s])
            out_b.append(ids[ib])
            out_c.append(r[ia, ib])
        vec_a = np.concatenate(out_a)
        return pd.DataFrame(
            {
                "cluster_id": np.full(len(vec_a), cid, dtype="int64"),
                "vec_a": vec_a,
                "vec_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
                "keeper_vec_id": vec_a,
            }
        )

    return data.groupBy("cluster_id").applyInPandas(
        cluster_pairs,
        schema="cluster_id long, vec_a long, vec_b long, cosine double, "
        "keeper_vec_id long",
    ).orderBy("cluster_id", "vec_a", "vec_b")


def semantic_dedup_summary(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """The actionable output of SemDeDup: per cluster, how many vectors
    survive the greedy min-id keeper policy — a vector is DROPPED when
    any smaller-id vector in its cluster is a semantic near-dup (so
    the smallest id of each dup chain survives; deterministic, no
    tie-breaking needed). Returns ``(cluster_id, n_vecs, n_dropped,
    keep_rate)`` — the dashboard row a curation run reports before
    materializing the kept subset.

    Scale shape: one shared Lloyd assignment feeds both the pair scorer
    and the cluster sizes (passed through, so the broadcast-centroid
    pass runs once); the drop set is a DISTINCT over the
    threshold-filtered pair list (N²/k-bounded), and everything after
    is cluster-cardinality-sized. ``assignments`` (vec_id, cluster_id)
    lets callers supply a precomputed/standing Lloyd assignment — the
    cluster map is a corpus-snapshot artifact every SemDeDup
    deployment materializes once (Abbas'23 runs clustering as its own
    stage)."""
    assign = (
        assignments
        if assignments is not None
        else pin(
            kmeans_assignments(embeddings, k=k, iters=iters).select(
                "vec_id", "cluster_id"
            )
        )
    )
    pairs = semantic_dedup_pairs(
        embeddings, k=k, iters=iters, threshold=threshold, assignments=assign
    )
    sizes = assign.groupBy("cluster_id").agg(F.count("*").alias("n_vecs"))
    drops = (
        pairs.select("cluster_id", "vec_b")
        .distinct()
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_dropped"))
    )
    return (
        sizes.join(drops, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_vecs",
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
            round6f(
                1 - F.coalesce("n_dropped", F.lit(0)) / F.col("n_vecs")
            ).alias("keep_rate"),
        )
        .orderBy("cluster_id")
    )


def kmeans_clusters(
    embeddings: DataFrame, k: int = 8, iters: int = 2, qscale: int = 1000
) -> DataFrame:
    """Lloyd's k-means over the embedding corpus, fully deterministic
    and engine-exact: components are quantized to integers
    (round(x·qscale)), distances are exact integer squared-L2, and
    centroid updates use exact floor division — so the oracle
    reproduces every assignment bit-for-bit (no float-order ties).
    Init is the first ``k`` vectors (vec_id < k); ``iters``
    assignment passes with ``iters-1`` centroid updates between.

    Scale shape (the MLlib Lloyd topology, minus the driver collect):
    centroids live in a k×dim DataFrame that BROADCASTS into the
    assignment join — the corpus-sized component table never shuffles
    for assignment; the only corpus-wide exchanges are the per-
    (vector) argmin and per-(cluster, dim) update aggregates, one pair
    per iteration. Inertia accumulates in decimal(38) so the final sum
    cannot overflow at any corpus size.

    Determinism note: round(CAST(x AS DOUBLE)·qscale) is computed
    identically in Spark and DuckDB (exact float→double widening, one
    correctly-rounded multiply, half-up round)."""
    return kmeans_clusters_from(
        kmeans_assignments(embeddings, k=k, iters=iters, qscale=qscale)
    )


def kmeans_clusters_from(assignments: DataFrame) -> DataFrame:
    """Cluster summary from an ALREADY-COMPUTED (vec_id, cluster_id,
    dist) assignment table — the probe half, split out so the standing
    persisted Lloyd map serves it without re-clustering (training is a
    corpus-snapshot stage; the SemDeDup consumers read the same
    map)."""
    return (
        assignments.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.col("dist").cast("decimal(38,0)")).cast("long").alias("inertia"),
        )
        .orderBy("cluster_id")
    )


def ann_recall(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    n_planes: int = N_PLANES,
    bf: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of bucket-local LSH ANN against the brute-force ground
    truth — the quality gauge every ANN deployment tracks next to its
    latency win. Per query: |ANN top-k ∩ exact top-k| / k.

    Scale shape: the exact side is brute force over the corpus (this
    is an OFFLINE evaluation run on a sample of queries — n_queries
    stays bounded, so O(Q·N) is a deliberate, sized cost, not a scale
    bug) unless a STANDING ground-truth table is supplied via ``bf``
    ((q_id, c_id) — offline eval sets cache exact neighbors once per
    corpus snapshot, ann-benchmarks style); the ANN side is the same
    bucket-local join the production path uses. Output is one row per
    query, ordered."""
    if bf is None:
        bf = cosine_knn(embeddings, n_queries, k).select("q_id", "c_id")
    cand = _home_candidates(lsh_buckets(embeddings, n_planes), n_queries)
    ann = _top_k(_score(embeddings, cand, n_queries), k)
    hits = _recall_hits(ann, bf, "n_hits")
    all_q = bf.select("q_id").distinct()
    return (
        all_q.join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall"),
        )
        .orderBy("q_id")
    )


def _pq_components(embeddings: DataFrame, m: int, dim: int, qscale: int) -> DataFrame:
    """(vec_id, sub, i, q): integer-quantized components tagged with
    their subspace (sub = (i-1) div (dim/m), 1-based i)."""
    subdim = dim // m
    return _components(embeddings).select(
        "vec_id",
        F.expr(f"(i - 1) div {subdim}").alias("sub"),
        "i",
        round6s(F.col("x") * qscale, 0).cast("long").alias("q"),
    )


def _pq_model_np(embeddings: DataFrame, m: int, k: int, iters: int,
                 dim: int, qscale: int):
    """Shared per-subspace integer Lloyd (r13 — vectorized through
    operators/lloyd.py): init = first k vectors' subvectors, exact
    squared-L2 assignment, floor-div codebook updates. Returns (best,
    cents): the per-(vec, sub) code assignment with its distance as
    ONE map pass, and the final codebook as m·k·(dim/m) driver rows —
    the single training path both pq_train_codes and pq_adc_search
    rely on, so the published code table and the searched code table
    can never desynchronize. The former exploded-component loop
    (broadcast join + hash aggregate over N·dim·k rows per round)
    computed the identical integers; value identity is pinned in
    tests/test_properties.py and the PQ oracle gates."""
    from ureplicator_spark.operators.lloyd import (
        codebook_df,
        pq_assignments,
        pq_lloyd_train,
    )

    books = pq_lloyd_train(embeddings, m, k, iters, dim, qscale)
    best = pq_assignments(embeddings, books, m, dim, qscale)
    # model-sized literal rows read by every ADC consumer
    return best, codebook_df(embeddings.sparkSession, books, dim // m)


def pq_train_model(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
    qscale: int = 1000,
):
    """Train the PQ model once: returns (codes, codebook) — codes =
    (vec_id, sub, code, dist) per subvector, codebook = (sub, code, i,
    c). The pair the standing persisted model stores; training is a
    corpus-snapshot pipeline stage (Jégou TPAMI'11), probes read it."""
    return _pq_model_np(embeddings, m, k, iters, dim, qscale)


def pq_train_codes(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
    qscale: int = 1000,
) -> DataFrame:
    """Product quantization (Jégou et al., TPAMI'11): split each
    vector into ``m`` subvectors, k-means each subspace independently,
    and represent every vector by its ``m`` nearest-codeword ids —
    the memory-reduction path that makes billion-vector ANN fit in
    RAM (m·log2(k) bits per vector instead of dim·32).

    Same integer-exact Lloyd discipline as ``kmeans_clusters`` (init =
    first k vectors' subvectors, exact squared-L2 on quantized
    components, floor-div centroid updates) so the oracle reproduces
    every code bit-for-bit. The codebook is m·k·(dim/m) rows — tiny —
    and BROADCASTS into every assignment join; the corpus never
    shuffles except for the per-(vec, sub) argmin aggregates.

    Returns (vec_id, subspace, code, sqerr) — the PQ code table that
    ``pq_adc_search`` consumes."""
    best, _cents = pq_train_model(embeddings, m, k, iters, dim, qscale)
    return best.select(
        "vec_id",
        F.col("sub").alias("subspace"),
        "code",
        F.col("dist").alias("sqerr"),
    ).orderBy("vec_id", "subspace")


def pq_adc_search(
    embeddings: DataFrame,
    n_queries: int = 10,
    top_k: int = 5,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
    qscale: int = 1000,
) -> DataFrame:
    """Asymmetric distance computation over PQ codes: the query stays
    exact, every corpus vector is its m codeword ids, and distance is
    the sum of per-subspace lookup-table entries — the scan pattern of
    a PQ/IVF-PQ index (Jégou et al., TPAMI'11 §IV).

    Scale shape: the LUT is queries×m×k rows (bounded — ADC evaluation
    runs on a bounded query batch) and broadcasts into one join
    against the corpus code table (N·m rows, the compressed corpus);
    the only corpus-sized exchange is the per-(query, candidate) sum.
    The full float corpus is never touched after training — that is
    the point of PQ."""
    # one shared training path (_pq_model_np) keeps the codes this
    # search scans identical to the codes pq_train_codes publishes
    best, cents = _pq_model_np(embeddings, m, k, iters, dim, qscale)
    return pq_adc_search_from(
        best.select("vec_id", "sub", "code"), cents, embeddings,
        n_queries=n_queries, top_k=top_k, m=m, dim=dim, qscale=qscale,
    )


def pq_adc_search_from(
    codes: DataFrame,
    cents: DataFrame,
    embeddings: DataFrame,
    n_queries: int = 10,
    top_k: int = 5,
    m: int = 4,
    dim: int = 64,
    qscale: int = 1000,
) -> DataFrame:
    """ADC search from an ALREADY-TRAINED (codes, codebook) pair — the
    probe half, split out so the standing persisted PQ model serves it
    without re-running Lloyd per query (training is a corpus-snapshot
    stage, Jégou TPAMI'11; the kmeans/BPE/langmodel amortization
    discipline). ``codes`` = (vec_id, sub, code); ``cents`` =
    (sub, code, i, c)."""
    comp = _pq_components(embeddings, m, dim, qscale)
    lut = (
        comp.filter(F.col("vec_id") < n_queries)
        .join(F.broadcast(cents), ["sub", "i"])
        .groupBy(F.col("vec_id").alias("q_id"), "sub", "code")
        .agg(F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))).alias("pdist"))
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("c_id"))
        .agg(F.sum("pdist").alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("c_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("q_id", "c_id", "adc_dist", "rank")
    )


def pq_adc_recall(
    embeddings: DataFrame,
    n_queries: int = 10,
    top_k: int = 5,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
    qscale: int = 1000,
) -> DataFrame:
    """Recall@k of PQ asymmetric-distance search against the EXACT
    integer-L2 top-k on the same quantized components — the quality
    gauge that decides whether m/k give enough resolution before a
    corpus commits to the compressed index (companion to
    ``ann_recall`` for the LSH path).

    The exact side is brute force over a bounded query batch (offline
    evaluation, deliberately O(Q·N)); the ADC side is the production
    search shape. One row per query, ordered."""
    best, cents = _pq_model_np(embeddings, m, k, iters, dim, qscale)
    return pq_adc_recall_from(
        best.select("vec_id", "sub", "code"), cents, embeddings,
        n_queries=n_queries, top_k=top_k, m=m, dim=dim, qscale=qscale,
    )


def exact_l2_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    top_k: int = 5,
    m: int = 4,
    dim: int = 64,
    qscale: int = 1000,
) -> DataFrame:
    """Exact integer-L2 top-k ground truth for the bounded eval query
    set (vec_id < n_queries) — the offline-evaluation artifact ANN
    deployments compute once per corpus snapshot and reuse across
    every recall gauge (ann-benchmarks practice: ground truth is
    cached, not recomputed per run). Deliberately O(Q·N); returns
    (q_id, c_id)."""
    comp = _pq_components(embeddings, m, dim, qscale)
    qc = comp.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), "i", F.col("q").alias("qq")
    )
    exd = (
        comp.join(F.broadcast(qc), "i")
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("c_id"))
        .agg(F.sum((F.col("qq") - F.col("q")) * (F.col("qq") - F.col("q"))).alias("d"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("c_id"))
    return (
        exd.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select("q_id", "c_id")
    )


def pq_adc_recall_from(
    codes: DataFrame,
    cents: DataFrame,
    embeddings: DataFrame,
    n_queries: int = 10,
    top_k: int = 5,
    m: int = 4,
    dim: int = 64,
    qscale: int = 1000,
    exact: DataFrame | None = None,
) -> DataFrame:
    """:func:`pq_adc_recall` from an already-trained (codes, codebook)
    pair — the ADC side reads the standing model; the exact brute side
    recomputes unless a standing ground-truth table (``exact`` =
    (q_id, c_id) from :func:`exact_l2_topk`) is supplied."""
    adc = pq_adc_search_from(
        codes, cents, embeddings,
        n_queries=n_queries, top_k=top_k, m=m, dim=dim, qscale=qscale,
    ).select("q_id", "c_id")
    if exact is None:
        exact = exact_l2_topk(
            embeddings, n_queries=n_queries, top_k=top_k,
            m=m, dim=dim, qscale=qscale,
        )
    exact = exact.select("q_id", "c_id", F.lit(1).alias("in_exact"))
    return (
        adc.join(exact, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(
            F.round(
                F.sum(F.coalesce("in_exact", F.lit(0))) / F.lit(float(top_k)), 6
            ).alias("recall")
        )
        .orderBy("q_id")
    )


def lsh_ann_multiprobe(
    embeddings: DataFrame,
    n_queries: int = 10,
    n_planes: int = N_PLANES,
    k: int = 3,
) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al., VLDB'07): each query searches
    its home bucket PLUS every Hamming-distance-1 bucket (one sign
    bit flipped), recovering the neighbors a single hyperplane
    boundary split away. Returns top-``k`` per query as ``(q_id,
    rank, c_id, cosine)``.

    The recall/cost trade vs :func:`lsh_ann`: P+1 bounded probes per
    query instead of raising 2^P bucket occupancy — candidate volume
    grows linearly in P while bucket selectivity stays exponential,
    which is why multi-probe is the production default in LSH systems.

    Scale shape: see :func:`_probe_candidates`; the cosine stage pays
    each (q, c) once."""
    buckets = lsh_buckets(embeddings, n_planes)
    cand = _probe_candidates(buckets, n_queries, n_planes).select("q_id", "c_id")
    return (
        _top_k(_score(embeddings, cand, n_queries), k)
        .select("q_id", "rank", "c_id", "cosine")
        .orderBy("q_id", "rank")
    )


def multiprobe_recall_comparison(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    bf: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of single-probe vs multi-probe LSH against brute-force
    truth, per query — the tuning table that justifies (or rejects)
    the extra probes: multi-probe recall is provably >= single-probe
    on the same bucketing since its candidate set is a superset.

    Scale shape: inherits the evaluated paths' shapes (offline gauge
    over a bounded query sample, like :func:`ann_recall`), but runs
    them FUSED: the multi-probe candidate set is a superset of the
    single-probe one, so one probe pipeline tags each candidate with
    whether its provenance includes the HOME bucket (``in_home``) and
    both rankings derive from one scored table — single-probe top-k is
    the rank over ``in_home`` candidates, byte-identical to
    :func:`ann_recall`'s ANN side (same candidates: home-bucket
    co-occupants minus self; same score: cosine rounded to 6; same
    tie-break: c_id). One brute-force truth pass, one bucket/component
    /norm pipeline, instead of the naive composition's two of each —
    measured ~2x on the fixture with identical output. ``bf`` supplies
    a standing ground-truth table ((q_id, c_id)) and skips the brute
    pass entirely — the ann_recall discipline."""
    if bf is None:
        bf = cosine_knn(embeddings, n_queries, k).select("q_id", "c_id")
    bf = pin(bf)
    cand = _probe_candidates(lsh_buckets(embeddings, N_PLANES), n_queries, N_PLANES)
    scored = pin(_score(embeddings, cand, n_queries, "in_home"))
    multi_top = _top_k(scored, k)
    single_top = _top_k(scored.filter(F.col("in_home")), k)
    return (
        bf.select("q_id")
        .distinct()
        .join(_recall_hits(single_top, bf, "sh"), "q_id", "left")
        .join(_recall_hits(multi_top, bf, "mh"), "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce("sh", F.lit(0)) / float(k), 6).alias("recall_single"),
            F.round(F.coalesce("mh", F.lit(0)) / float(k), 6).alias("recall_multi"),
        )
        .orderBy("q_id")
    )


def more_like_this_ranks(
    documents: DataFrame,
    n_queries: int = 5,
    depth: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Lexical more-like-this arm: BM25 ranks of every candidate doc
    against each query doc's own token bag → (q_id, c_id, l_rank),
    l_rank <= depth. Shared by the RRF fusion and the arm-agreement
    gauge so both see the identical ranking.

    Scale shape: the query side is ``n_queries`` docs — its token bag
    broadcasts, so the arm is one broadcast-hash semi-join into the
    corpus tf aggregate (df-bounded candidates per query term; the
    rank window partitions by q_id over those candidates only)."""
    from ureplicator_spark.operators.text import bm25_contribution, tokens

    tok = tokens(documents).select("doc_id", "token")
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corpus = dl.agg(F.avg("dl").alias("avgdl"), F.count("*").alias("n_docs"))
    dfreq = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # Explicit groupBy rather than .distinct(): same semantics, but the
    # Aggregate node marks the broadcast side as a bounded reduction
    # (n_queries · vocab rows) for the forced-broadcast plan guard.
    qtok = (
        tok.filter(F.col("doc_id") < n_queries)
        .groupBy(F.col("doc_id").alias("q_id"), F.col("token"))
        .agg(F.lit(1).alias("_one"))
        .select("q_id", "token")
    )
    tf = tok.groupBy(F.col("doc_id").alias("c_id"), "token").agg(
        F.count("*").alias("tf")
    )
    # MEASURED-AND-REJECTED (r13): deriving dl/df/qtok from the tf
    # aggregate (dl = Σ tf, df = tf's per-token row count) to "share"
    # one corpus explode does NOT share it in practice — column pruning
    # gives each consumer a differently-projected copy of the tf
    # subtree, so exchange reuse never fires, the executed plan gains
    # exchanges (15→17) and the interleaved A/B read a wash-to-worse
    # (old min 1.336/med 1.529 s vs new 1.376/1.683 s at sf0.1).
    # qtok (n_queries docs' bags) and the 1-row corpus scalar keep
    # their hints — bounded regardless of SF. dfreq is the FULL
    # vocabulary df table, which grows with the corpus: no hint (r7
    # advisor — a forced broadcast OOMs before 100 TB); AQE broadcasts
    # it at runtime while it fits and shuffle-joins past that.
    lex = (
        tf.join(F.broadcast(qtok), "token")
        .filter(F.col("c_id") != F.col("q_id"))
        .join(dl.withColumnRenamed("doc_id", "c_id"), "c_id")
        .join(dfreq, "token")
        .crossJoin(F.broadcast(corpus))
        .groupBy("q_id", "c_id")
        .agg(
            # r11 exactness v2: per-term contributions quantize to
            # integer micro-units, summed exactly (order-free,
            # plain-SUM plan — see text.dsir_weights)
            (F.sum(micro6(bm25_contribution(k1, b))).cast("double") / 1e6)
            .alias("bm25")
        )
    )
    wl = Window.partitionBy("q_id").orderBy(F.col("bm25").desc(), "c_id")
    return (
        lex.withColumn("l_rank", F.row_number().over(wl))
        .filter(F.col("l_rank") <= depth)
        .select("q_id", "c_id", "l_rank")
    )


def retrieval_arm_overlap(
    documents: DataFrame,
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-query agreement between the two retrieval arms: |lexical
    top-k ∩ dense top-k| and overlap@k — the diagnostic that tells a
    pipeline whether hybrid fusion is worth its cost (arms that always
    agree add nothing; arms that never agree need a bigger fusion
    depth). Both arms reuse the exact rankings the fusion consumes.
    Delta-sized output (n_queries rows); the intersection is a tiny
    (q_id, c_id) join, never corpus-sized."""
    lex = more_like_this_ranks(documents, n_queries, k, k1, b).select(
        "q_id", "c_id"
    )
    # pin(): the dense arm feeds BOTH the intersection and the q_id
    # spine and the two branches share no exchange, so without it the
    # whole brute-force scoring pipeline ran twice per invocation; the
    # cached relation is Q·k rows (caller's pin_scope releases it).
    den = pin(cosine_knn(embeddings, n_queries=n_queries, k=k).select("q_id", "c_id"))
    common = lex.join(den, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_common")
    )
    qs = den.groupBy("q_id").agg(F.count("*").alias("_n")).select("q_id")
    return (
        qs.join(common, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            F.round(F.coalesce("n_common", F.lit(0)) / float(k), 6).alias(
                "overlap_at_k"
            ),
        )
        .orderBy("q_id")
    )


def hybrid_rrf_retrieval(
    documents: DataFrame,
    embeddings: DataFrame,
    n_queries: int = 5,
    depth: int = 10,
    top_k: int = 5,
    rrf_k: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack SIGIR'09):
    fuse the dense arm (brute-force cosine top-``depth``) with a
    lexical more-like-this arm (BM25 where the query bag is the query
    doc's own distinct tokens) via ``sum 1/(rrf_k + rank)`` — the
    standard RAG retrieval shape where neither signal alone suffices.

    Scale shape: the query side is ``n_queries`` docs — its distinct
    token bag broadcasts, so the lexical arm is one broadcast-hash
    semi-join into the corpus tf aggregate (df-bounded candidates per
    query term; the corpus-wide window partitions by q_id over those
    candidates only). The dense arm here is the oracle-matched
    brute-force baseline; at fleet scale the same fusion consumes the
    IVF/LSH arm's (q_id, c_id, rank) output unchanged — RRF only needs
    ranks, which is exactly why it is the fusion of choice when the
    two arms' scores live on incomparable scales.

    Determinism/parity: BM25 sums are rounded (6 dp) before ranking;
    RRF values are sums of two exact IEEE divisions of integers, so
    both engines produce bit-identical fusion scores (rounded 9 dp for
    display); every window breaks ties on c_id.
    """
    lrank = more_like_this_ranks(documents, n_queries, depth, k1, b)
    vrank = cosine_knn(embeddings, n_queries=n_queries, k=depth).select(
        "q_id", "c_id", F.col("rank").alias("v_rank")
    )
    fused = lrank.join(vrank, ["q_id", "c_id"], "full_outer").select(
        "q_id",
        "c_id",
        "v_rank",
        "l_rank",
        round6f(
            F.coalesce(1.0 / (F.lit(rrf_k) + F.col("v_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("l_rank")), F.lit(0.0)),
            9,
        ).alias("rrf"),
    )
    wf = Window.partitionBy("q_id").orderBy(F.col("rrf").desc(), "c_id")
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= top_k)
        .select("q_id", "rank", "c_id", "rrf", "v_rank", "l_rank")
        .orderBy("q_id", "rank")
    )


def embedding_source_drift(
    embeddings: DataFrame, documents: DataFrame, qscale: int = 1000
) -> DataFrame:
    """Per-source embedding drift: the L2 distance between each
    source's mean embedding and the corpus mean, plus the worst
    single-dimension deviation — the monitoring gauge that catches a
    broken encoder, a mis-normalized ingest batch, or genuine domain
    shift BEFORE it skews ANN search and SemDeDup clustering (both of
    which assume one embedding geometry).

    Engine-exact without any order-dependent float sum: components
    quantize to integers (the kmeans qscale discipline), and the
    mean difference is cross-multiplied into an exact integer
    numerator, num_i = s_i·N − g_i·n (source dim-sum s_i over n
    vectors vs corpus dim-sum g_i over N), so
    drift = sqrt(Σ num_i²) / (n·N·qscale) with the CROSS-MULTIPLY AND
    the square-sum both in DECIMAL(38,0) — exact in any aggregation
    order, identical in any engine; the only float ops are one final
    divide+sqrt+round chain on deterministic operands. The dim-sums
    s_i, g_i and counts n, N are cast to DECIMAL(38,0) BEFORE the
    cross-multiply (r8 advisor: the products exceed 2^63 long before
    they exceed 38 digits — under ANSI the BIGINT multiply would
    throw ARITHMETIC_OVERFLOW, without ANSI it would silently wrap);
    the scale denominator n·N·qscale is computed in DOUBLE for the
    same reason (it only divides, so float is fine there). Honest
    headroom: |num_i| ≤ 2·qscale·max|x|·n·N, and Σ num_i² over d dims
    must stay under 10^38, so with qscale=1000, |x|≤1, d=64 the exact
    path holds up to n·N ≈ 10^15 (e.g. a 10^9-vector corpus with
    10^6-vector sources) — beyond that, drop qscale or pre-scale the
    numerator.

    Scale shape: one (source, dim) aggregation + one dim-keyed global
    aggregation (both map-side combined, dim·|sources| rows out), a
    broadcast join on dim, and a |sources|-row rollup — the corpus is
    read once and never reshuffled at row grain."""
    comp = _components(embeddings).select(
        "vec_id", "i", round6s(F.col("x") * qscale, 0).cast("long").alias("q")
    )
    src = documents.select(F.col("doc_id").alias("vec_id"), "source")
    per = (
        comp.join(src, "vec_id")
        .groupBy("source", "i")
        .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
    )
    glob = comp.groupBy("i").agg(F.sum("q").alias("gs"), F.count("*").alias("gn"))
    dec38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = dec38("s") * dec38("gn") - dec38("gs") * dec38("n")
    dec = num
    scale = (
        F.max("n").cast("double") * F.max("gn").cast("double") * float(qscale)
    )
    return (
        per.join(F.broadcast(glob), "i")
        .groupBy("source")
        .agg(
            F.max("n").alias("n_vecs"),
            # floor(x·1e6 + 0.5)/1e6 instead of round(x, 6): Spark's
            # round(double) goes through BigDecimal.valueOf (rounds the
            # SHORTEST DECIMAL REPR of the double) while DuckDB rounds
            # via float multiply — on a value landing within an ulp of
            # a .5·10⁻⁶ boundary the two disagree by one last digit
            # (caught by the full sf0.1 parity sweep: src18's
            # max_dim_drift, 0.031387 vs 0.031386). The floor chain is
            # mul/add/floor/div — IEEE primitives with identical
            # results on every engine; drift values are nonnegative so
            # floor(x+0.5) IS half-up.
            (
                F.floor(
                    F.sqrt(F.sum(dec * dec).cast("double")) / scale * 1e6
                    + F.lit(0.5)
                ).cast("double")
                / 1e6
            ).alias("centroid_drift"),
            (
                F.floor(
                    F.max(F.abs(num)).cast("double") / scale * 1e6 + F.lit(0.5)
                ).cast("double")
                / 1e6
            ).alias("max_dim_drift"),
        )
        .orderBy("source")
    )


def embedding_covariance(
    embeddings: DataFrame, qscale: int = 1000, dim: int = 64
) -> DataFrame:
    """Exact population covariance matrix of the embedding column —
    the statistics stage PCA / whitening / OPQ rotation training all
    start from (Jégou TPAMI'11 trains its rotations on exactly this).

    Engine-exact by the drift/kmeans discipline: components quantize
    JVM-side (``round(x·qscale)`` — Python never rounds, so the oracle
    reproduces every integer), each Arrow batch contributes its integer
    Gram matrix Q^T·Q via ONE numpy int64 matmul (the legitimately
    vectorized mapInPandas path — dense linear algebra that would cost
    N·d² exploded rows relationally), and the covariance numerator
    N·S_ij − S_i·S_j is cross-multiplied in DECIMAL(38,0) (BIGINT
    overflows long before 38 digits once dim-sums × corpus count
    grow). The only float ops are the final divide + floor-chain round
    on deterministic operands (sign-aware floor(|x|·1e6+0.5) — ROUND
    of a double is implementation-defined at .5e-6 boundaries, the
    drift-monitor lesson, and cov can be negative so the chain carries
    the sign explicitly). Headroom: each Gram entry satisfies
    |Σ q_i q_j| ≤ N_batch·(qscale·max|x|)², so with qscale=1000 and
    |x|≤1 the int64 per-batch matmul holds to N_batch ≈ 9·10^12 rows
    (2^63 / 10^6) — and ``gram`` asserts the derived bound from the
    batch's actual max|q| so an out-of-range embedding raises instead
    of silently wrapping int64. Across batches the entries are summed
    in Spark's 128-bit-checked long agg (overflow-raising under ANSI),
    and the DECIMAL(38,0) numerator holds to N ≈ 10^12 vectors.

    Scale shape: ONE corpus scan; every Arrow batch reduces to
    d(d+1)/2 rows map-side, so the single shuffle carries
    O(partitions·d²) rows regardless of corpus size. Output is the
    upper triangle (i ≤ j), d(d+1)/2 rows.
    """
    import numpy as np
    import pandas as pd

    qv = embeddings.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {qscale}) AS BIGINT))"
        ).alias("qv"),
    )
    iu, ju = np.triu_indices(dim)

    def gram(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
            m = int(np.abs(Q).max()) if Q.size else 0
            # int64 matmul wraps silently on overflow — raise instead.
            if m and Q.shape[0] > (2**63 - 1) // (m * m):
                raise OverflowError(
                    f"gram batch would overflow int64: {Q.shape[0]} rows "
                    f"with max|q|={m} (bound {(2**63 - 1) // (m * m)})"
                )
            G = Q.T @ Q
            s = Q.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu + 1,
                    "j": ju + 1,
                    "sp": G[iu, ju],
                    "si": s[iu],
                    "sj": s[ju],
                    "nv": np.full(len(iu), Q.shape[0], dtype=np.int64),
                }
            )

    parts = qv.mapInPandas(
        gram, "i int, j int, sp long, si long, sj long, nv long"
    )
    dec38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = parts.groupBy("i", "j").agg(
        F.sum("sp").alias("sp"),
        F.sum("si").alias("si"),
        F.sum("sj").alias("sj"),
        F.sum("nv").alias("n"),
    )
    num = dec38("sp") * dec38("n") - dec38("si") * dec38("sj")
    denom = (
        F.col("n").cast("double")
        * F.col("n").cast("double")
        * float(qscale * qscale)
    )
    x = num.cast("double") / denom
    return agg.select(
        "i",
        "j",
        "n",
        # sign-aware floor chain (drift-monitor lesson): round(double)
        # is implementation-defined within an ulp of a .5e-6 boundary
        # and cov = num/n² is a small-denominator rational that CAN
        # land there; signum/abs/floor are IEEE-identical on both
        # engines. + 0.0 canonicalizes the -0.0 a tiny negative cov
        # produces.
        (
            F.signum(x) * F.floor(F.abs(x) * 1e6 + F.lit(0.5)).cast("double") / 1e6
            + F.lit(0.0)
        ).alias("cov"),
    ).orderBy("i", "j")


def pca_components(
    embeddings: DataFrame, r: int = 8, qscale: int = 1000, dim: int = 64
) -> DataFrame:
    """Top-r principal components of the embedding column: the
    dimensionality-reduction stage in front of brute/IVF ANN (project
    to r ≪ d, search cheap, re-rank exact — the standard recipe when
    d·N no longer fits the distance budget).

    The d×d covariance is driver-sized METADATA (4096 scalars — the
    same disposition as the greedy packer's per-partition workloads):
    collect the exact upper triangle from
    :func:`embedding_covariance`, mirror it, `numpy.linalg.eigh` on
    the driver, return the component table. Sign convention: each
    eigenvector's largest-|weight| entry is made positive, and the
    descending eigenvalue sort is a STABLE argsort (ties keep eigh's
    ascending-index order), so the output is unique and reproducible
    for SIMPLE spectra — with (near-)degenerate eigenvalues the
    eigenvectors are only defined up to rotation within the eigenspace
    and eigh's basis choice is LAPACK-build-dependent, so the pytest
    pin assumes the simple spectrum real covariance data generically
    has. Eigendecomposition is genuinely
    non-SQL-expressible — the registry entry is rows-only (the BPE/CDC
    disposition); the covariance input IS hash-gated, and the
    components are pinned against an oblivious NumPy reference in
    pytest.
    """
    import numpy as np

    rows = embedding_covariance(embeddings, qscale, dim).collect()
    C = np.zeros((dim, dim))
    for row in rows:
        C[row["i"] - 1, row["j"] - 1] = row["cov"]
        C[row["j"] - 1, row["i"] - 1] = row["cov"]
    vals, vecs = np.linalg.eigh(C)
    # stable descending sort: ties (degenerate eigenvalues) keep
    # eigh's ascending-index order instead of the platform-dependent
    # order plain argsort[::-1] gives
    order = np.argsort(-vals, kind="stable")[:r]
    total = float(vals.sum())
    out = []
    for rank, idx in enumerate(order, 1):
        v = vecs[:, idx]
        m = int(np.argmax(np.abs(v)))
        if v[m] < 0:
            v = -v
        out.append(
            (
                rank,
                round(float(vals[idx]), 6),
                round(float(vals[idx] / total), 6) if total else 0.0,
                m + 1,
                round(float(v[m]), 6),
            )
        )
    return embeddings.sparkSession.createDataFrame(
        out,
        "component int, eigenvalue double, explained_ratio double, "
        "top_dim int, top_weight double",
    )


def pca_project(
    embeddings: DataFrame,
    components: "np.ndarray",
    qscale: int = 1000,
) -> DataFrame:
    """Project every embedding onto the given components (rows = PCs),
    integer-exact: both the vector and the weights quantize to ints,
    the dot product is a pure-Catalyst zip_with+aggregate fold over
    longs, and the only float op is the final descale — so the
    projection is bit-reproducible on any engine/partitioning given
    the same component matrix. Map-only; the weight matrix ships as a
    plan literal (r·d ints — bounded), never a shuffle."""
    import numpy as np

    W = np.asarray(components, dtype=np.float64) * qscale
    # HALF_UP like the engine's round(), not NumPy's half-even
    wq = (np.sign(W) * np.floor(np.abs(W) + 0.5)).astype(np.int64)
    qv = F.expr(
        f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {qscale}) AS BIGINT))"
    )
    cols = [F.col("vec_id")]
    for c, row in enumerate(wq, 1):
        lits = ", ".join(str(int(x)) + "L" for x in row)
        cols.append(
            F.expr(
                f"CAST(aggregate(zip_with(qv, array({lits}), (a, b) -> a * b), "
                f"0L, (acc, x) -> acc + x) AS DOUBLE) / {float(qscale * qscale)}"
            ).alias(f"pc{c}")
        )
    return embeddings.select("vec_id", qv.alias("qv")).select(*cols)
