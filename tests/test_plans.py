"""Plan-shape assertions: the 100 TB scale contract of each operator,
checked against the actual Catalyst physical plan. A failure here means
a pushdown/broadcast/shuffle regression that correctness tests can't see.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ureplicator_spark import fixtures as FX
from ureplicator_spark.operators import dedup as DD
from ureplicator_spark.operators import relational as REL
from ureplicator_spark.operators import replicate as R
from ureplicator_spark.plans import (
    assert_broadcast_join,
    assert_max_shuffles,
    assert_pushed_filters,
    count_broadcast_joins,
    count_shuffles,
    plan_string,
    read_schemas,
)
from ureplicator_spark.queries import QUERIES
from ureplicator_spark.sources.parquet import load_table


def test_replicate_transform_is_shuffle_free(spark, sf_dir):
    """The data-plane hot path must be a pure map pipeline: one
    broadcast join against the composed route lookup, zero
    data-moving exchanges, at any input size."""
    out = R.replicate_transform(
        FX.records(spark, sf_dir),
        FX.topic_mapping(spark),
        FX.partition_counts(spark),
        drop_predicate=F.col("topic") == "error",
    )
    assert_max_shuffles(out, 0)
    assert count_broadcast_joins(out) == 1


def test_bounded_scan_pushes_offset_filters(spark, sf_dir):
    """S3 bounds must reach the parquet scan as row-group filters."""
    out = R.bounded_filter(FX.records(spark, sf_dir), 100, 600)
    assert_pushed_filters(out, "GreaterThanOrEqual(event_id,100)", "LessThan(event_id,600)")


def test_q6_scan_filter_pushdown_and_pruning(spark, sf_dir):
    """Q6: predicates pushed; scan reads only the 4 needed columns."""
    df = REL.forecast_revenue_change(load_table(spark, sf_dir, "lineitem"))
    assert_pushed_filters(df, "l_discount", "l_quantity")
    schemas = read_schemas(df)
    assert schemas, "no ReadSchema in plan"
    assert all("l_orderkey" not in s for s in schemas), f"pruning lost: {schemas}"
    assert_max_shuffles(df, 1)  # single global aggregate exchange


def test_q5_broadcasts_dimension_chain(spark, sf_dir):
    """Q5: every dim side broadcasts; only the fact join may shuffle."""
    df = QUERIES["q5_local_supplier_volume"][0](spark, sf_dir)
    assert_broadcast_join(df, at_least=3)


def test_q1_single_shuffle(spark, sf_dir):
    """Q1 is one partial-agg + one exchange on the group keys."""
    df = REL.pricing_summary(load_table(spark, sf_dir, "lineitem"))
    assert_max_shuffles(df, 1)


def test_exact_dedup_single_shuffle(spark, sf_dir):
    df = DD.exact_dedup_groups(load_table(spark, sf_dir, "documents"))
    assert_max_shuffles(df, 1)


def test_lag_join_reuses_aggregation_partitioning(spark, sf_dir):
    """consumer_lag computes the latest offset and the commit snapshot
    in one aggregation: one shuffle on (topic, partition), no join."""
    df = QUERIES["consumer_lag"][0](spark, sf_dir)
    assert count_shuffles(df) <= 1, f"lag plan shuffles: {count_shuffles(df)}"


def test_engine_lag_reads_are_one_aggregation(spark, sf_dir):
    """Engine.offsets(as_of) and Engine.no_progress are one
    aggregation each: one shuffle, no join."""
    from ureplicator_spark.api import Engine

    eng = Engine(spark, FX.records(spark, sf_dir))
    for df in (eng.offsets(FX.SNAPSHOT_T1), eng.no_progress(FX.SNAPSHOT_T1, FX.SNAPSHOT_T2)):
        assert count_shuffles(df) <= 1, f"lag plan shuffles: {count_shuffles(df)}"
        assert "Join" not in plan_string(df, mode="simple")


def test_events_scan_prunes_columns(spark, sf_dir):
    """records() projects 5 of 6 event columns; ReadSchema must shrink."""
    rec = FX.records(spark, sf_dir).select("topic", "offset")
    schemas = read_schemas(rec)
    assert schemas and all("props" not in s for s in schemas), schemas


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path_factory):
    """Both facts bucketed+sorted on the join key -> SortMergeJoin with
    zero Exchange and zero Sort on either side (write-time co-location,
    the 100 TB fact-fact join strategy)."""
    from pyspark.sql import functions as F

    from ureplicator_spark.plans.inspect import count_shuffles, plan_string
    from ureplicator_spark.sources.bucketed import read_table, write_bucketed
    from ureplicator_spark.sources.parquet import load_table

    # managed tables land in the session's warehouse dir; DROP TABLE in
    # the finally block removes the files again
    write_bucketed(load_table(spark, sf_dir, "orders"), "orders_b", ["o_orderkey"], 8)
    write_bucketed(load_table(spark, sf_dir, "lineitem"), "lineitem_b", ["l_orderkey"], 8)
    try:
        o, l = read_table(spark, "orders_b"), read_table(spark, "lineitem_b")
        j = (
            o.join(l, o["o_orderkey"] == l["l_orderkey"])
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        # disable AQE + auto-broadcast locally: at test scale Spark would
        # broadcast these tiny facts, hiding the bucket co-location this
        # test asserts (at 100 TB neither side is broadcastable)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = plan_string(j)
            n_shuffles = count_shuffles(j)
            # only the final tiny groupBy may shuffle — never the join sides
            assert "SortMergeJoin" in plan
            assert n_shuffles <= 1, plan
            got = {r.o_orderstatus: r.n for r in j.collect()}
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        expected = {
            r.o_orderstatus: r.n
            for r in load_table(spark, sf_dir, "orders")
            .join(
                load_table(spark, sf_dir, "lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_archive_partition_pruning(spark, sf_dir, tmp_path_factory):
    """Topic/date predicates on the archive must prune at the directory
    level (PartitionFilters), not scan-and-filter."""
    import re

    from pyspark.sql import functions as F

    from ureplicator_spark import fixtures as FX
    from ureplicator_spark.plans.inspect import plan_string
    from ureplicator_spark.sources.archive import read_archive, write_archive

    root = str(tmp_path_factory.mktemp("archive"))
    write_archive(FX.records(spark, sf_dir), root)
    pruned = read_archive(spark, root, topic="click", date_from="2024-01-10", date_to="2024-01-20")
    plan = plan_string(pruned)
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "topic" in pf.group(1) and "dt" in pf.group(1), plan
    # row parity with a full-scan filter
    expected = (
        FX.records(spark, sf_dir)
        .filter(
            (F.col("topic") == "click")
            & (F.to_date(F.timestamp_seconds("ts_sec")) >= F.lit("2024-01-10").cast("date"))
            & (F.to_date(F.timestamp_seconds("ts_sec")) < F.lit("2024-01-20").cast("date"))
        )
        .count()
    )
    assert pruned.count() == expected > 0


def test_correlated_exists_shapes_stay_hash_joins(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS with an inequality residual and Q16's
    NOT IN must plan as hash joins on the extracted equi key — a
    BroadcastNestedLoopJoin here would be quadratic in lineitem."""
    from ureplicator_spark.plans.inspect import plan_string
    from ureplicator_spark.queries import QUERIES

    for name in (
        "q21_sole_failed_supplier",
        "q16_supplier_part_counts",
        "q2_min_cost_supplier",
    ):
        plan = plan_string(QUERIES[name][0](spark, sf_dir))
        assert "NestedLoop" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_ivf_index_build_search_and_pruning(spark, sf_dir, tmp_path_factory):
    """Persisted IVF index: search over the partitioned index must (a)
    return exactly what the on-the-fly ivf_ann computes with the same
    deterministic centroids, and (b) prune unprobed cent_id partitions
    (dynamic partition pruning from the broadcast probe join)."""
    from pyspark.sql import functions as F

    from ureplicator_spark.operators.similarity import ivf_ann
    from ureplicator_spark.plans.inspect import plan_string
    from ureplicator_spark.sources.ivf_index import build_ivf_index, search_ivf_index
    from ureplicator_spark.sources.parquet import load_table

    root = str(tmp_path_factory.mktemp("ivf"))
    emb = load_table(spark, sf_dir, "embeddings")
    build_ivf_index(emb, root, n_centroids=8)

    queries = emb.filter(F.col("vec_id") < 10)
    got = search_ivf_index(spark, root, queries, nprobe=2, k=3)
    expected = ivf_ann(emb, n_centroids=8, n_queries=10, nprobe=2, k=3)
    as_set = lambda df: {
        (r.q_id, r.c_id, round(r.cosine, 5), r.rank) for r in df.collect()
    }
    assert as_set(got) == as_set(expected)
    assert "dynamicpruning" in plan_string(got).lower()


def test_ivf_index_search_with_a_zero_centroid_matches_ivf_ann(spark, tmp_path_factory):
    """An all-zero vector picked as a centroid (vec_id < n_centroids)
    has norm 0. The index search ranks lists as ivf_ann does: the zero
    norm scores NULL (try_divide), it does not raise DIVIDE_BY_ZERO
    under ANSI mode, and the zero query's own cosines are NULL too."""
    import numpy as np
    from pyspark.sql import functions as F

    from ureplicator_spark.operators.similarity import ivf_ann
    from ureplicator_spark.sources.ivf_index import build_ivf_index, search_ivf_index

    X = np.random.default_rng(16).normal(size=(40, 64)).astype(np.float32)
    X[0] = 0.0
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    )
    root = str(tmp_path_factory.mktemp("ivf_zero"))
    build_ivf_index(emb, root, n_centroids=4)

    got = search_ivf_index(spark, root, emb.filter(F.col("vec_id") < 10), nprobe=2, k=3)
    expected = ivf_ann(emb, n_centroids=4, n_queries=10, nprobe=2, k=3)
    as_set = lambda df: {
        (r.q_id, r.c_id, None if r.cosine is None else round(r.cosine, 5), r.rank)
        for r in df.collect()
    }
    want = as_set(expected)
    zero_query = [r for r in want if r[0] == 0]
    assert sorted(r[3] for r in zero_query) == [1, 2, 3]
    assert all(r[2] is None for r in zero_query)
    assert as_set(got) == want


def test_q20_single_wide_shuffle_and_broadcast_dims(spark, sf_dir):
    """Q20 shape: the only exchanges allowed are the (partkey,
    suppkey) fact aggregate and the tiny per-supplier excess agg —
    part/nation/supplier sides must broadcast, and the nested-IN must
    not degrade to a nested-loop join."""
    from ureplicator_spark.plans.inspect import (
        assert_broadcast_join,
        assert_max_shuffles,
        plan_string,
    )
    from ureplicator_spark.queries import QUERIES

    df = QUERIES["q20_excess_stock_suppliers"][0](spark, sf_dir)
    plan = plan_string(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert_broadcast_join(df, at_least=2)
    # lineitem agg + excess-per-supplier agg (+ AQE may add a read)
    assert_max_shuffles(df, 3)


@pytest.mark.slow
def test_no_forced_broadcast_of_sf_growing_tables(spark, sf_dir):
    """The 100 TB broadcast guard: no query may carry a programmer
    broadcast hint on customer/supplier/orders/lineitem/documents/
    embeddings/events — at sf100+ those are multi-GB and a forced
    broadcast is a driver/executor OOM. Fixed-cardinality dims
    (nation, region) and selectively-filtered part may hint."""
    from ureplicator_spark.plans import broadcast_hinted_tables
    from ureplicator_spark.queries import QUERIES

    growing = {"customer", "supplier", "orders", "lineitem",
               "documents", "embeddings", "events"}
    # Queries whose ONLY big-table hint is the query/centroid side of a
    # similarity search: embeddings filtered to a constant id range
    # (vec_id < n_queries/n_centroids), so the broadcast size is fixed
    # regardless of corpus SF — the broadcast-the-queries ANN design.
    bounded_query_side = {
        "similarity_knn_bruteforce",
        "similarity_lsh_ann",
        "similarity_ivf_ann",
        # incremental lifecycle: same search as similarity_ivf_ann
        # (broadcast sides are centroids, the Q·nprobe probe list and
        # the vec_id<n_queries slice; the append broadcasts the k×dim
        # centroid table against the batch) — never the corpus.
        "similarity_ivf_incremental",
        "dedup_embedding_cosine",
        "knn_label_vote",
        # kmeans: broadcast side is the k×dim centroid table (vec_id<k
        # init, then per-cluster aggregates) — size fixed by k, not SF.
        "embedding_kmeans",
        # recall gauges: broadcast only the vec_id<n_queries slice.
        "similarity_ann_recall",
        "similarity_multiprobe_recall",
        # multiprobe/filtered ANN: the hint is on the query-side norm
        # slice (vec_id < n_queries). Before r11 the norm derivation
        # contained a per-vector Aggregate the detector treated as
        # reducing (it wasn't — per-vector keys grow with the corpus);
        # the r11 map-only array-fold norms make the lineage honest
        # and the bounded-slice exemption applies like its siblings'.
        "similarity_multiprobe_ann",
        "similarity_filtered_ann",
        # PQ family: broadcast sides are the m·k·(dim/m)-row codebook
        # (size fixed by m/k, refreshed from per-code aggregates) and
        # the vec_id<n_queries LUT slice — never the corpus.
        "embedding_pq_codes",
        "similarity_pq_adc",
        "similarity_pq_recall",
        # SemDeDup: broadcast side is the k×dim Lloyd centroid table
        # (same shape as embedding_kmeans) — size fixed by k, not SF.
        "dedup_semantic_pairs",
        "dedup_semantic_summary",
        # retrieval: broadcasts the Q·k ranked-id list (plus the
        # vec_id<n_queries slice inside cosine_knn), never documents.
        "similarity_retrieve_docs",
        # hybrid RRF + arm gauge: dense arm is cosine_knn
        # (vec_id<n_queries slice); lexical broadcasts are the
        # query-doc token bag and the vocabulary-sized df table, both
        # Aggregate-reduced.
        "similarity_hybrid_rrf",
        "retrieval_arm_overlap",
    }
    offenders = {}
    for name, (fn, _sql) in sorted(QUERIES.items()):
        try:
            df = fn(spark, sf_dir)
        except Exception:
            continue  # streaming/stateful entries needing fixtures are covered elsewhere
        hinted = broadcast_hinted_tables(df) & growing
        if name in bounded_query_side:
            hinted -= {"embeddings"}
        if hinted:
            offenders[name] = sorted(hinted)
    assert not offenders, f"forced broadcast of SF-growing tables: {offenders}"


def test_ivf_index_kmeans_trained_build(spark, sf_dir, tmp_path_factory):
    """trained=True builds the index from Lloyd centroids: layout is
    still cent_id-partitioned with DPP-prunable search, every corpus
    vector lands in exactly one list, and the search returns a full
    top-k per query."""
    from pyspark.sql import functions as F

    from ureplicator_spark.plans.inspect import plan_string
    from ureplicator_spark.sources.ivf_index import build_ivf_index, search_ivf_index
    from ureplicator_spark.sources.parquet import load_table

    root = str(tmp_path_factory.mktemp("ivf_trained"))
    emb = load_table(spark, sf_dir, "embeddings")
    build_ivf_index(emb, root, n_centroids=8, trained=True)

    vecs = spark.read.parquet(root + "/vectors")
    n_emb = emb.count()
    assert vecs.select("vec_id").distinct().count() == n_emb
    # one list per vector (no duplicates across partitions)
    assert vecs.groupBy("vec_id").agg(
        F.countDistinct("cent_id").alias("n")
    ).filter(F.col("n") > 1).count() == 0
    assert spark.read.parquet(root + "/centroids").select("cent_id").distinct().count() <= 8

    queries = emb.filter(F.col("vec_id") < 5)
    got = search_ivf_index(spark, root, queries, nprobe=2, k=3)
    rows = got.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r.rank)
    assert set(per_q) == {0, 1, 2, 3, 4}
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    assert "dynamicpruning" in plan_string(got).lower()


def test_runtime_bloom_filter_injects_on_shuffle_joins(spark, sf_dir):
    """Runtime filtering (the 100 TB fact⋈fact path): when a selective
    dim slice joins a fact too big to broadcast, Spark must inject a
    bloom `might_contain` on the fact's scan side so unmatched rows
    die before the shuffle. At test SF every join broadcasts (bloom
    correctly suppressed — asserted first); disabling broadcast
    reproduces the at-scale shape and the filter must appear. Run on
    session confs, not magic: bloomFilter.enabled is on by default and
    session.py leaves it on."""
    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-02-01").cast("timestamp_ntz")
    )
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .count()
    )
    plan_bc = j._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" not in plan_bc  # broadcast join: no bloom needed

    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j2 = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .count()
        )
        plan = j2._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        # the filter guards the FACT side's orderkey
        assert "might_contain" in next(
            l for l in plan.splitlines() if "l_orderkey" in l and "Filter" in l
        )
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "10GB",
        )
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_ivfpq_index_matches_numpy_reference_and_prunes(spark, sf_dir, tmp_path_factory):
    """Persisted IVF-PQ: the full build+search path must reproduce an
    oblivious NumPy implementation of the same integer-exact math
    bit-for-bit (coarse Lloyd -> residuals -> per-subspace Lloyd ->
    ADC over probed lists), and the search must dynamic-partition-prune
    unprobed cent_id directories."""
    import numpy as np
    from pyspark.sql import functions as F

    from ureplicator_spark.plans.inspect import plan_string
    from ureplicator_spark.sources.parquet import load_table
    from ureplicator_spark.sources.pq_index import build_ivfpq_index, search_ivfpq_index

    root = str(tmp_path_factory.mktemp("ivfpq"))
    emb = load_table(spark, sf_dir, "embeddings")
    build_ivfpq_index(emb, root, n_centroids=8, m=4, k=4, iters=2)

    queries = emb.filter(F.col("vec_id") < 3)
    got_df = search_ivfpq_index(spark, root, queries, nprobe=2, top_k=5)
    got = {(r.q_id, r.rank): (r.c_id, r.adc_dist) for r in got_df.collect()}
    assert "dynamicpruning" in plan_string(got_df).lower()

    # ---- oblivious NumPy reference ------------------------------------
    rows = sorted(emb.select("vec_id", "embedding").collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    q = (np.sign(X) * np.floor(np.abs(X * 1000) + 0.5)).astype(np.int64)  # HALF_UP

    def argmin_tie(dists, cand_ids):
        # smallest distance, tie -> smallest id
        order = np.lexsort((cand_ids, dists))
        return order[0]

    def lloyd(pts, init_ids, iters):
        """id -> centroid dict + per-point assigned id. Faithful to the
        Spark side: a centroid whose cluster EMPTIES is dropped from
        the codebook (the update aggregates only over assigned rows),
        not kept stale."""
        cents = {cid: pts[pos].copy() for cid, pos in enumerate(init_ids)}
        assign = None
        for it in range(iters):
            cids = sorted(cents)
            carr = np.array([cents[c] for c in cids])
            d = ((pts[:, None, :] - carr[None, :, :]) ** 2).sum(axis=2)
            assign = np.array(
                [cids[argmin_tie(d[i], np.array(cids))] for i in range(len(pts))]
            )
            if it < iters - 1:
                cents = {
                    c: np.floor_divide(pts[assign == c].sum(axis=0),
                                       (assign == c).sum())
                    for c in cids if (assign == c).any()
                }
        return cents, assign

    coarse, cassign = lloyd(q, np.where(ids < 8)[0], 2)
    resid = q - np.array([coarse[c] for c in cassign])
    m, k, subdim = 4, 4, 16
    codebooks, codes = [], np.zeros((len(q), m), dtype=np.int64)
    for s in range(m):
        sub = resid[:, s * subdim:(s + 1) * subdim]
        cb, a = lloyd(sub, np.where(ids < k)[0], 2)
        codebooks.append(cb)
        codes[:, s] = a

    expect = {}
    for qi in range(3):
        ccids = sorted(coarse)
        cd = np.array([((q[qi] - coarse[c]) ** 2).sum() for c in ccids])
        probes = [ccids[p] for p in np.lexsort((np.array(ccids), cd))[:2]]
        cands = []
        for cent in probes:
            rq = q[qi] - coarse[cent]
            lut = [
                {c: int(((rq[s * subdim:(s + 1) * subdim] - codebooks[s][c]) ** 2).sum())
                 for c in codebooks[s]} for s in range(m)
            ]
            for j in np.where(cassign == cent)[0]:
                if ids[j] == qi:
                    continue
                cands.append((sum(lut[s][codes[j, s]] for s in range(m)), int(ids[j])))
        cands.sort()
        for rank, (dist, cid) in enumerate(cands[:5], start=1):
            expect[(qi, rank)] = (cid, dist)

    assert got == expect

    # append re-encodes with the model read back from coarse/codebook:
    # re-appending indexed vectors must give the reference's codes
    from ureplicator_spark.sources.pq_index import append_to_ivfpq_index

    assert append_to_ivfpq_index(spark, root, emb.filter(F.col("vec_id") < 0)) == 0
    assert append_to_ivfpq_index(spark, root, emb.filter(F.col("vec_id") < 20)) == 20
    pos = {int(v): j for j, v in enumerate(ids)}
    rows = spark.read.parquet(root + "/codes").filter(F.col("vec_id") < 20).collect()
    assert sorted((r.vec_id, r.cent_id, tuple(r.codes)) for r in rows) == sorted(
        (v, int(cassign[pos[v]]), tuple(int(c) for c in codes[pos[v]]))
        for v in range(20)
        for _copy in (0, 1)
    )


def test_ivfpq_index_non_default_geometry(spark, tmp_path_factory):
    """m=8 build must search correctly: geometry comes from the
    index's meta.json, not hardcoded defaults. On a duplicated-corpus
    fixture each query's twin ranks first at ADC distance 0."""
    from pyspark.sql import functions as F

    from ureplicator_spark.sources.pq_index import build_ivfpq_index, search_ivfpq_index

    patterns = []
    for p in range(4):
        vec = [0.0] * 64
        for i in range(8):
            vec[p * 8 + i] = float(1 + p)
        patterns.append(vec)
    emb = spark.createDataFrame(
        [(vid, patterns[vid % 4]) for vid in range(8)],
        "vec_id long, embedding array<float>",
    )
    root = str(tmp_path_factory.mktemp("ivfpq_m8"))
    build_ivfpq_index(emb, root, n_centroids=4, m=8, k=4, iters=2)
    got = {
        r.q_id: (r.c_id, r.adc_dist)
        for r in search_ivfpq_index(
            spark, root, emb.filter(F.col("vec_id") < 4), nprobe=1, top_k=1
        ).collect()
    }
    assert got == {0: (4, 0), 1: (5, 0), 2: (6, 0), 3: (7, 0)}


def _parquet_file_spans(path: str, col: str) -> list[tuple]:
    """Per-file (min, max) of ``col`` from parquet footer statistics —
    the exact numbers the reader's row-group skipping consults."""
    import glob

    import pyarrow.parquet as pq

    spans = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        j = names.index(col)
        mns, mxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(j).statistics
            mns.append(st.min)
            mxs.append(st.max)
        spans.append((min(mns), max(mxs)))
    return spans


def test_range_cluster_write_yields_disjoint_file_spans(spark, sf_dir, tmp_path):
    """1-D clustering contract: file min/max ranges on the sort column
    partition the key space, so a point predicate's stats-eligible
    file set is exactly one file."""
    from ureplicator_spark.sources.layout import range_cluster_write

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    out = str(tmp_path / "rc")
    range_cluster_write(ev, out, "event_id", n_files=8)
    spans = sorted(_parquet_file_spans(out, "event_id"))
    assert len(spans) == 8
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2  # disjoint, ordered
    probe = spans[3][0]  # an existing value
    assert sum(1 for lo, hi in spans if lo <= probe <= hi) == 1


def test_zorder_write_tightens_stats_on_every_clustered_column(spark, sf_dir, tmp_path):
    """Z-order contract: after clustering on (user_id, event_id), a
    point predicate on EITHER column is stats-eligible in at most half
    the files (each file covers a small hyper-rectangle), while the
    unclustered layout leaves ~every file eligible on at least one of
    them."""
    from ureplicator_spark.sources.layout import zorder_write

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    zpath, base = str(tmp_path / "z"), str(tmp_path / "flat")
    zorder_write(ev, zpath, ["user_id", "event_id"], n_files=16)
    # baseline: same file count, no clustering (round-robin repartition)
    ev.repartition(16).write.parquet(base)

    row = ev.agg(
        F.expr("percentile(user_id, 0.5)").alias("u"),
        F.expr("percentile(event_id, 0.5)").alias("e"),
    ).collect()[0]
    for col, probe in (("user_id", int(row.u)), ("event_id", int(row.e))):
        z = _parquet_file_spans(zpath, col)
        flat = _parquet_file_spans(base, col)
        z_hits = sum(1 for lo, hi in z if lo <= probe <= hi)
        flat_hits = sum(1 for lo, hi in flat if lo <= probe <= hi)
        assert 1 <= z_hits <= len(z) // 2, (col, z_hits, z)
        assert z_hits < flat_hits, (col, z_hits, flat_hits)

    # row counts survive the rewrite
    assert spark.read.parquet(zpath).count() == ev.count()


def test_table_profile_is_expand_free_with_one_column_branches(spark, sf_dir):
    """table_profile's scale contract (r7 shape, re-confirmed by the
    r13 double A/B — the typed melt was measured-and-rejected on a
    healthy host): NO Expand operator anywhere (the multi-distinct
    rewrite that replicates every row 11x through the first shuffle),
    and every parquet scan reads exactly ONE column (the union's
    branches must each prune to their own column, so total I/O is one
    full-width scan)."""
    from ureplicator_spark.plans.inspect import plan_string

    df = QUERIES["table_profile"][0](spark, sf_dir)
    plan = plan_string(df)
    assert "Expand" not in plan, "multi-distinct Expand is back"
    schemas = read_schemas(df)
    assert len(schemas) >= 11, f"expected 11 one-column scans, got {schemas}"
    for s in schemas:
        assert s.count("l_") == 1, f"branch scan reads >1 column: {s}"


def test_prefix_join_verification_has_no_token_level_pair_join(spark, sf_dir):
    """jaccard_prefix_join's r7 verification contract: intersection
    counts come from array_intersect over per-doc token arrays (a
    candidate-row map), not a token-level join whose intermediate is
    |cand| x tokens-per-doc rows."""
    from ureplicator_spark.plans.inspect import plan_string

    df = QUERIES["dedup_jaccard_prefix_join"][0](spark, sf_dir)
    plan = plan_string(df)
    assert "array_intersect" in plan


def test_winnowing_stats_is_map_only(spark, sf_dir):
    """winnowing_fingerprints' scale contract: a pure map pipeline —
    zero data-moving exchanges (per-doc array folds), with the
    short-doc filter reaching the scan."""
    from ureplicator_spark.operators.text import winnowing_stats

    out = winnowing_stats(load_table(spark, sf_dir, "documents"))
    assert_max_shuffles(out, 0)


def test_winnowing_pairs_never_all_pairs(spark, sf_dir):
    """winnowing_overlap_pairs joins on the fingerprint hash (bucket
    join) — no cartesian/nested-loop product anywhere, and the
    doc-frequency cap shares the join's h-exchange (≤ 2 data-moving
    exchanges: h, then the pair rollup)."""
    from ureplicator_spark.plans.inspect import plan_string

    df = QUERIES["winnowing_overlap_pairs"][0](spark, sf_dir)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert count_shuffles(df) <= 3  # h-exchange, pair rollup, top-k


def test_embedding_covariance_shuffles_only_gram_rows(spark, sf_dir):
    """embedding_covariance's scale contract: the corpus is scanned
    once and reduced to d(d+1)/2 rows per Arrow batch BEFORE the only
    data-moving exchanges (the (i,j) rollup + output ordering) — the
    shuffle carries O(partitions·d²) rows regardless of corpus size,
    and no per-vector row survives past the mapInPandas stage."""
    from ureplicator_spark.operators.similarity import embedding_covariance
    from ureplicator_spark.plans.inspect import plan_string

    out = embedding_covariance(load_table(spark, sf_dir, "embeddings"))
    assert_max_shuffles(out, 2)
    plan = plan_string(out)
    assert "CartesianProduct" not in plan
