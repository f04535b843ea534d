"""Incremental IVF index maintenance: append without rebuild, correct
nearest-centroid placement (pinned against an oblivious NumPy
reference), replay-safe streaming apply, and a searchable index after
growth.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ureplicator_spark.sources.ivf_index import (
    append_to_ivf_index,
    build_ivf_index,
    search_ivf_index,
)
from ureplicator_spark.sources.parquet import load_table
from ureplicator_spark.streaming.index_maintenance import list_stats, maintain_ivf_index

SPLIT = 400  # initial corpus: vec_id < SPLIT; appended: the rest


@pytest.fixture()
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _expected_assignments(root: str, appended: pd.DataFrame) -> dict[int, int]:
    """Oblivious reference: argmax cosine against the persisted
    centroids, rounded to 6, ties to the lower cent_id — pure NumPy,
    no Spark code shared with the operator under test."""
    cents = pd.read_parquet(root + "/centroids").sort_values("cent_id")
    out = {}
    for _, row in appended.iterrows():
        v = np.asarray(row["embedding"], dtype=np.float64)
        vn = max(np.sqrt((v * v).sum()), 1e-12)
        best = None
        for _, c in cents.iterrows():
            ce = np.asarray(c["embedding"], dtype=np.float64)
            cos = round(float(v @ ce) / (vn * float(c["cn"])), 6)
            if best is None or cos > best[0]:
                best = (cos, int(c["cent_id"]))
        out[int(row["vec_id"])] = best[1]
    return out


@pytest.mark.slow
def test_append_places_vectors_like_a_rebuild_would(spark, emb, tmp_path):
    root = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < SPLIT), root)
    n0 = spark.read.parquet(root + "/vectors").count()

    new = emb.filter(F.col("vec_id") >= SPLIT)
    n_appended = append_to_ivf_index(spark, root, new)
    vectors = spark.read.parquet(root + "/vectors")
    assert n_appended == new.count()
    assert vectors.count() == n0 + n_appended
    # no duplicate identities after the append
    assert vectors.select("vec_id").distinct().count() == n0 + n_appended

    got = {
        int(r["vec_id"]): int(r["cent_id"])
        for r in vectors.filter(F.col("vec_id") >= SPLIT).collect()
    }
    want = _expected_assignments(root, new.toPandas())
    assert got == want  # nearest-existing-centroid, exactly

    # the grown index stays searchable and can surface appended ids
    queries = emb.filter(F.col("vec_id") < 5)
    res = search_ivf_index(spark, root, queries, nprobe=8, k=3)
    assert res.count() == 5 * 3
    assert res.filter(F.col("c_id") >= SPLIT).count() >= 0  # plan executes


@pytest.mark.slow
def test_streaming_maintenance_applies_once_and_replays_noop(
    spark, emb, tmp_path
):
    root = str(tmp_path / "ivf")
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    build_ivf_index(emb.filter(F.col("vec_id") < SPLIT), root)

    emb.filter(
        (F.col("vec_id") >= SPLIT) & (F.col("vec_id") < SPLIT + 50)
    ).coalesce(1).write.parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    maintain_ivf_index(stream, root, ckpt).awaitTermination(120)
    n1 = spark.read.parquet(root + "/vectors").count()
    assert n1 == SPLIT + 50

    # restart over the same source + checkpoint: nothing re-applied
    stream2 = spark.readStream.schema(static.schema).parquet(src)
    maintain_ivf_index(stream2, root, ckpt).awaitTermination(120)
    assert spark.read.parquet(root + "/vectors").count() == n1

    # late arrivals flow in; earlier batches untouched
    emb.filter(F.col("vec_id") >= SPLIT + 50).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream3 = spark.readStream.schema(static.schema).parquet(src)
    maintain_ivf_index(stream3, root, ckpt).awaitTermination(120)
    vectors = spark.read.parquet(root + "/vectors")
    assert vectors.count() == emb.count()
    assert vectors.select("vec_id").distinct().count() == emb.count()

    stats = list_stats(spark, root)
    assert stats.agg(F.sum("n_vecs")).collect()[0][0] == emb.count()
    assert abs(stats.agg(F.sum("share")).collect()[0][0] - 1.0) < 1e-4


def test_replay_marker_makes_duplicate_batch_a_noop(spark, emb, tmp_path):
    """The marker is the replay record: a second apply of the SAME
    batch id must not append (restart-from-checkpoint re-delivery)."""
    from ureplicator_spark.fsutil import fs_exists, mkdirs

    root = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < SPLIT), root)
    batch = emb.filter(F.col("vec_id") >= SPLIT).limit(20)

    # simulate the maintainer's apply-then-commit for batch 7
    append_to_ivf_index(spark, root, batch)
    mkdirs(spark, f"{root}/_applied_batches/b7")
    n1 = spark.read.parquet(root + "/vectors").count()

    # re-delivery of batch 7: marker present -> no-op by contract
    if not fs_exists(spark, f"{root}/_applied_batches/b7"):
        append_to_ivf_index(spark, root, batch)
    assert spark.read.parquet(root + "/vectors").count() == n1


def _expected_pq_codes(root: str, appended: pd.DataFrame, meta: dict):
    """Oblivious NumPy encode with the persisted quantizers: integer
    components, exact int-L2 coarse argmin (tie -> lower cent_id),
    per-sub residual argmin vs the codebook (tie -> lower code)."""
    qscale, m, dim = meta["qscale"], meta["m"], meta["dim"]
    subdim = dim // m
    coarse = pd.read_parquet(root + "/coarse")
    cmat = {}
    for cid, g in coarse.groupby("cent_id"):
        cmat[int(cid)] = g.sort_values("i")["c"].to_numpy(dtype=np.int64)
    cb = pd.read_parquet(root + "/codebook")
    cbmat = {}
    for (sub, code), g in cb.groupby(["sub", "code"]):
        cbmat[(int(sub), int(code))] = g.sort_values("i")["c"].to_numpy(np.int64)
    out = {}
    for _, row in appended.iterrows():
        q = np.round(
            np.asarray(row["embedding"], dtype=np.float64) * qscale
        ).astype(np.int64)
        best = min(
            (int(((q - c) ** 2).sum()), cid) for cid, c in cmat.items()
        )
        cid = best[1]
        r = q - cmat[cid]
        codes = []
        for sub in range(m):
            rs = r[sub * subdim:(sub + 1) * subdim]
            codes.append(
                min(
                    (int(((rs - cw) ** 2).sum()), code)
                    for (s, code), cw in cbmat.items()
                    if s == sub
                )[1]
            )
        out[int(row["vec_id"])] = (cid, codes)
    return out


@pytest.mark.slow
def test_pq_append_encodes_with_persisted_quantizers(spark, emb, tmp_path):
    import json

    from ureplicator_spark.sources.pq_index import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        search_ivfpq_index,
    )

    root = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb.filter(F.col("vec_id") < SPLIT), root)
    n0 = spark.read.parquet(root + "/codes").count()

    new = emb.filter(F.col("vec_id") >= SPLIT)
    n_appended = append_to_ivfpq_index(spark, root, new)
    codes = spark.read.parquet(root + "/codes")
    assert n_appended == new.count()
    assert codes.count() == n0 + n_appended
    assert codes.select("vec_id").distinct().count() == n0 + n_appended

    got = {
        int(r["vec_id"]): (int(r["cent_id"]), [int(c) for c in r["codes"]])
        for r in codes.filter(F.col("vec_id") >= SPLIT).collect()
    }
    meta = json.load(open(root + "/meta.json"))
    want = _expected_pq_codes(root, new.limit(50).toPandas(), meta)
    for vid, exp in want.items():
        assert got[vid] == exp, vid

    res = search_ivfpq_index(spark, root, emb.filter(F.col("vec_id") < 5))
    assert res.count() == 5 * 5  # searchable after growth


def test_streaming_pq_maintenance_replay_safe(spark, emb, tmp_path):
    from ureplicator_spark.sources.pq_index import build_ivfpq_index
    from ureplicator_spark.streaming.index_maintenance import maintain_ivfpq_index

    root = str(tmp_path / "ivfpq")
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    build_ivfpq_index(emb.filter(F.col("vec_id") < SPLIT), root)
    emb.filter(F.col("vec_id") >= SPLIT).coalesce(1).write.parquet(src)
    static = spark.read.parquet(src)

    stream = spark.readStream.schema(static.schema).parquet(src)
    maintain_ivfpq_index(stream, root, ckpt).awaitTermination(120)
    n1 = spark.read.parquet(root + "/codes").count()
    assert n1 == emb.count()

    # restart over the same source + checkpoint: no duplicates
    stream2 = spark.readStream.schema(static.schema).parquet(src)
    maintain_ivfpq_index(stream2, root, ckpt).awaitTermination(120)
    codes = spark.read.parquet(root + "/codes")
    assert codes.count() == n1
    assert codes.select("vec_id").distinct().count() == n1
