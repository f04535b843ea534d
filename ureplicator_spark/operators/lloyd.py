"""Vectorized integer-exact Lloyd kernels (guide §4.2).

Every integer Lloyd model in the engine trains here: k-means
(``operators/similarity.kmeans_assignments``, hence SemDeDup), the
trained IVF coarse quantizer (``sources/ivf_index.build_ivf_index``),
product quantization (``operators/similarity._pq_model_np``) and the
IVF-PQ coarse quantizer and residual codebooks
(``sources/pq_index.build_ivfpq_index``). The algebra:

    quantize:  q = sign(x·qscale) · floor(|x·qscale| + 0.5)   (round6s)
    distance:  d(v, c) = Σ_i (q_i − c_i)²                     (exact int64)
    argmin:    lowest distance, ties to the lowest cluster id
    update:    c' = floor(s / n)  ≡  (s − pmod(s, n)) / n     (exact int64)

is evaluated in numpy over Arrow batches (guide §4.2 — hand whole
batches to vectorized native code):

  * one map pass per update round emits per-partition partial sums
    (≤ k·dim tiny rows per partition; integer addition is order-free,
    so partition order cannot change the result),
  * the final assignment is ONE map pass with the k×dim integer
    centroid model in the task closure (model-sized driver state —
    the lang-model / bloom-bitmask precedent),
  * the corpus itself never shuffles and never crosses the boundary
    more than once per round.

Every product stays within int64: |q| ≤ |x|·qscale + 1 and the
fixture/production embedding scale keeps Σ_i q_i·c_i ≪ 2^63.

numpy int64 matmul is exact (no BLAS float path for integer dtypes),
``np.argmin`` returns the FIRST minimum (= lowest cluster id when the
centroid matrix is sorted by id, matching ``F.min(struct(dist, id))``)
and ``np.floor_divide`` rounds toward −∞ (matching the pmod form).
Results are pinned against oblivious Python/NumPy references in
tests/test_properties.py and tests/test_plans.py; the affected
queries gate against their DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _quantize_np(emb_rows, qscale: int):
    """(n, dim) int64 from a sequence of embedding arrays — the exact
    numpy twin of ``round6s(x·qscale, 0).cast("long")`` (float32 →
    float64 is exact; multiply, abs, +0.5, floor, signum are the same
    IEEE ops Spark evaluates)."""
    import numpy as np

    X = np.stack(emb_rows).astype(np.float64)
    V = X * float(qscale)
    return (np.sign(V) * np.floor(np.abs(V) + 0.5)).astype(np.int64)


def _assign_np(Q, C):
    """Exact argmin over int64 centroids: returns (idx, dist) with
    ties to the lowest row of C (sort C by cluster id first)."""
    import numpy as np

    qq = (Q * Q).sum(axis=1)
    cc = (C * C).sum(axis=1)
    d = qq[:, None] - 2 * (Q @ C.T) + cc[None, :]
    a = np.argmin(d, axis=1)
    return a, d[np.arange(len(a)), a]


def _vec_rows(embeddings: DataFrame) -> DataFrame:
    """(vec_id, embedding) with the explode-era null contract: a NULL
    or empty embedding produced no component rows, hence no
    assignment."""
    return embeddings.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    ).select("vec_id", "embedding")


def _collect_init(vec: DataFrame, k: int, qscale: int):
    """Initial centroids = the first k vectors (vec_id < k), quantized.
    Returns (ids int64[], C int64[k,dim]) sorted by id."""
    import numpy as np

    rows = vec.filter(F.col("vec_id") < k).collect()
    rows.sort(key=lambda r: r["vec_id"])
    if not rows:
        return np.empty(0, dtype=np.int64), None
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    C = _quantize_np([r["embedding"] for r in rows], qscale)
    return ids, C


def _update_round(vec: DataFrame, ids, C, qscale: int):
    """One Lloyd update: assign every vector to its nearest current
    centroid and return the exact floor-div mean centroids. One map
    pass emitting per-partition integer partial sums, one tiny
    exchange, one collect of ≤ k·dim rows."""
    import numpy as np

    k, dim = C.shape

    def partials(batches):
        import numpy as np
        import pandas as pd

        S = np.zeros((k, dim), dtype=np.int64)
        n = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = _quantize_np(pdf["embedding"].to_numpy(), qscale)
            a, _ = _assign_np(Q, C)
            np.add.at(S, a, Q)
            n += np.bincount(a, minlength=k)
        nz = np.nonzero(n)[0]
        if len(nz) == 0:
            yield pd.DataFrame(
                {"cid": [], "i": [], "s": [], "n": []}
            ).astype({"cid": "int64", "i": "int32", "s": "int64", "n": "int64"})
            return
        cid = np.repeat(nz, dim)
        i = np.tile(np.arange(1, dim + 1, dtype=np.int32), len(nz))
        yield pd.DataFrame(
            {"cid": cid, "i": i, "s": S[nz].ravel(), "n": np.repeat(n[nz], dim)}
        )

    agg = (
        vec.mapInPandas(partials, schema="cid long, i int, s long, n long")
        .groupBy("cid", "i")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    if not agg:
        return np.empty(0, dtype=np.int64), None
    live = sorted({r["cid"] for r in agg})
    pos = {c: j for j, c in enumerate(live)}
    S = np.zeros((len(live), dim), dtype=np.int64)
    n = np.zeros(len(live), dtype=np.int64)
    for r in agg:
        S[pos[r["cid"]], r["i"] - 1] = r["s"]
        n[pos[r["cid"]]] = r["n"]
    newC = np.floor_divide(S, n[:, None])
    # `live` holds ROW POSITIONS of the previous centroid matrix (the
    # argmin index space); the caller maps them back to centroid ids.
    return np.asarray(live, dtype=np.int64), newC


def lloyd_train(
    embeddings: DataFrame,
    k: int,
    iters: int,
    qscale: int,
    update_last: bool,
):
    """Run the integer Lloyd loop and return (ids, C): the centroid id
    vector and the k×dim int64 centroid matrix after ``iters − 1``
    update rounds (``iters`` when ``update_last`` — the trained IVF
    centroids, whose persisted model reflects the final
    assignment)."""
    vec = _vec_rows(embeddings)
    ids, C = _collect_init(vec, k, qscale)
    rounds = iters if update_last else iters - 1
    for _ in range(max(0, rounds)):
        if C is None:
            break
        new_ids, C = _update_round(vec, ids, C, qscale)
        # update keys clusters by POSITION in the current matrix; map
        # surviving positions back to their original centroid ids
        ids = ids[new_ids] if C is not None else ids
    return ids, C


def lloyd_assignments(
    embeddings: DataFrame, k: int, iters: int, qscale: int
) -> DataFrame:
    """(vec_id, cluster_id, dist): the kmeans_assignments contract —
    nearest centroid after iters−1 updates, exact int64 distance.
    ONE map pass per action; no exchange at all."""
    vec = _vec_rows(embeddings)
    ids, C = lloyd_train(embeddings, k, iters, qscale, update_last=False)
    schema = "vec_id long, cluster_id long, dist long"
    if C is None:
        return vec.sparkSession.createDataFrame([], schema)

    def assign(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = _quantize_np(pdf["embedding"].to_numpy(), qscale)
            a, d = _assign_np(Q, C)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().astype("int64"),
                    "cluster_id": ids[a],
                    "dist": d,
                }
            )

    return vec.mapInPandas(assign, schema=schema)


# ---------------------------------------------------------------------------
# Product-quantization variant: independent integer Lloyd per subspace,
# optionally over RESIDUALS from a coarse quantizer (the IVF-PQ build).
# Same algebra and partial-sum/map-pass execution shape as the kmeans
# kernel, applied to each subspace's slice of the components.
# ---------------------------------------------------------------------------


def _residualize(Q, coarse):
    """Subtract each row's nearest coarse centroid (exact int64)."""
    if coarse is None:
        return Q
    _cids, CC = coarse
    a, _ = _assign_np(Q, CC)
    return Q - CC[a]


def pq_lloyd_train(
    embeddings: DataFrame,
    m: int,
    k: int,
    iters: int,
    dim: int,
    qscale: int,
    coarse=None,
):
    """Per-subspace integer Lloyd. Returns ``books``: a list over
    subspaces of (code_ids int64[], C_s int64[n_codes, subdim]) after
    ``iters − 1`` update rounds — the codebook the final assignment
    (``pq_assignments``) runs against. ``coarse=(ids, C)`` switches to
    RESIDUAL training (the IVF-PQ build): every pass quantizes, takes
    the nearest coarse centroid, and trains on q − c."""
    import numpy as np

    vec = _vec_rows(embeddings)
    subdim = dim // m
    rows = vec.filter(F.col("vec_id") < k).collect()
    rows.sort(key=lambda r: r["vec_id"])
    if not rows:
        return [
            (np.empty(0, dtype=np.int64), None) for _ in range(m)
        ]
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    Q = _quantize_np([r["embedding"] for r in rows], qscale)
    R = _residualize(Q, coarse)
    books = [
        (ids.copy(), R[:, s * subdim : (s + 1) * subdim].copy())
        for s in range(m)
    ]
    for _ in range(max(0, iters - 1)):
        books = _pq_update_round(vec, books, qscale, subdim, coarse)
    return books


def _pq_update_round(vec: DataFrame, books, qscale: int, subdim: int, coarse):
    import numpy as np

    m = len(books)
    mats = [b[1] for b in books]

    def partials(batches):
        import numpy as np
        import pandas as pd

        S = [
            np.zeros_like(C) if C is not None else None for C in mats
        ]
        n = [
            np.zeros(C.shape[0], dtype=np.int64) if C is not None else None
            for C in mats
        ]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = _quantize_np(pdf["embedding"].to_numpy(), qscale)
            R = _residualize(Q, coarse)
            for s in range(m):
                C = mats[s]
                if C is None:
                    continue
                Rs = R[:, s * subdim : (s + 1) * subdim]
                a, _d = _assign_np(Rs, C)
                np.add.at(S[s], a, Rs)
                n[s] += np.bincount(a, minlength=C.shape[0])
        out = {"sub": [], "pos": [], "i": [], "s": [], "n": []}
        for s in range(m):
            if mats[s] is None:
                continue
            nz = np.nonzero(n[s])[0]
            for p in nz:
                for i in range(subdim):
                    out["sub"].append(s)
                    out["pos"].append(int(p))
                    out["i"].append(i)
                    out["s"].append(int(S[s][p, i]))
                    out["n"].append(int(n[s][p]))
        import pandas as pd

        yield pd.DataFrame(out).astype(
            {"sub": "int32", "pos": "int32", "i": "int32", "s": "int64", "n": "int64"}
        )

    agg = (
        vec.mapInPandas(partials, schema="sub int, pos int, i int, s long, n long")
        .groupBy("sub", "pos", "i")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    new_books = []
    for s in range(m):
        ids_s, C_s = books[s]
        if C_s is None:
            new_books.append((ids_s, None))
            continue
        rows_s = [r for r in agg if r["sub"] == s]
        live = sorted({r["pos"] for r in rows_s})
        if not live:
            new_books.append((np.empty(0, dtype=np.int64), None))
            continue
        pos = {p: j for j, p in enumerate(live)}
        S = np.zeros((len(live), subdim), dtype=np.int64)
        n = np.zeros(len(live), dtype=np.int64)
        for r in rows_s:
            S[pos[r["pos"]], r["i"]] = r["s"]
            n[pos[r["pos"]]] = r["n"]
        newC = np.floor_divide(S, n[:, None])
        new_books.append((ids_s[np.asarray(live)], newC))
    return new_books


def pq_assignments(
    embeddings: DataFrame, books, m: int, dim: int, qscale: int
) -> DataFrame:
    """(vec_id, sub, code, dist) per subvector under ``books`` — the
    PQ code table (``similarity.pq_train_model``'s codes), as ONE map
    pass."""
    vec = _vec_rows(embeddings)
    subdim = dim // m
    schema = "vec_id long, sub long, code long, dist long"
    if any(b[1] is None for b in books):
        return vec.sparkSession.createDataFrame([], schema)

    def assign(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = _quantize_np(pdf["embedding"].to_numpy(), qscale)
            vid = pdf["vec_id"].to_numpy().astype("int64")
            cols = {"vec_id": [], "sub": [], "code": [], "dist": []}
            for s in range(m):
                ids_s, C_s = books[s]
                a, d = _assign_np(Q[:, s * subdim : (s + 1) * subdim], C_s)
                cols["vec_id"].append(vid)
                cols["sub"].append(np.full(len(vid), s, dtype=np.int64))
                cols["code"].append(ids_s[a])
                cols["dist"].append(d)
            yield pd.DataFrame({c: np.concatenate(v) for c, v in cols.items()})

    return vec.mapInPandas(assign, schema=schema)


def _literal_df(spark, rows: list, cols: str) -> DataFrame:
    """Model-sized literal rows as a VALUES LocalRelation
    (``functions.values_df``: no Python worker in the jobs that read
    them); an empty model is an empty frame of the same schema."""
    from ureplicator_spark.functions import values_df

    return values_df(spark, rows, cols) if rows else spark.createDataFrame([], cols)


def _component_rows(ids, C, i0: int = 0) -> list:
    """(id, i, c) per component of the integer centroids ``C`` (row j
    keyed by ``ids[j]``); ``i`` is 1-based, offset by ``i0``."""
    if C is None:
        return []
    return [
        (int(cid), i0 + i + 1, int(c)) for cid, row in zip(ids, C) for i, c in enumerate(row)
    ]


def coarse_df(spark, ids, C) -> DataFrame:
    """(cent_id, i, c): a coarse quantizer's integer centroids."""
    return _literal_df(spark, _component_rows(ids, C), "cent_id long, i int, c long")


def codebook_df(spark, books, subdim: int) -> DataFrame:
    """(sub, code, i, c): a PQ codebook, ``i`` the 1-based component
    of the whole vector (subspace ``sub`` covers ``sub·subdim + 1 ..
    (sub + 1)·subdim``)."""
    rows = [
        (s, *r) for s, (ids, C) in enumerate(books) for r in _component_rows(ids, C, s * subdim)
    ]
    return _literal_df(spark, rows, "sub long, code long, i int, c long")
