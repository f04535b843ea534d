"""Tests for operator variants not covered by the SQL oracle gate:
scale-path equivalences, approximate aggregates, backup/restore,
multimodal plumbing.
"""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from ureplicator_spark import fixtures as FX
from ureplicator_spark.operators import backup as BK
from ureplicator_spark.operators import multimodal as MM
from ureplicator_spark.operators import similarity as SIM
from ureplicator_spark.operators.text import tokens
from ureplicator_spark.sources.parquet import load_table


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """SURVEY §7 approximate-aggregate path: HLL++ vs exact distinct."""
    tok = tokens(load_table(spark, sf_dir, "documents"))
    row = tok.agg(
        F.countDistinct("token").alias("exact"),
        F.approx_count_distinct("token", 0.02).alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) <= max(2, 0.05 * row.exact)


def test_backup_and_restore_roundtrip(spark, sf_dir, tmp_path):
    """S12: assignment snapshot → JSON → restore with identical rows
    (FileBackUpHandler.java:37-60 analog)."""
    from ureplicator_spark.operators.assignment import derive_assignments

    asg = derive_assignments(FX.records(spark, sf_dir), FX.N_INSTANCES)
    path = BK.backup_state(asg, str(tmp_path), "assignments", "20260813")
    assert path.endswith("snapshot=20260813")
    back = BK.restore_state(spark, str(tmp_path), "assignments", "20260813")
    assert back.count() == asg.count()
    orig = {tuple(r) for r in asg.select("topic", "partition", "instance", "state").collect()}
    rest = {
        tuple(r)
        for r in back.select(
            "topic", F.col("partition").cast("int"), "instance", "state"
        ).collect()
    }
    assert orig == rest
    assert BK.list_snapshots(spark, str(tmp_path), "assignments") == ["20260813"]


def test_multimodal_decode_plumbing(spark, sf_dir):
    """mapInPandas decode stub: schema-stable, one output row per
    payload, deterministic fake features."""
    media = MM.documents_as_media(load_table(spark, sf_dir, "documents"))
    feats = MM.decode_features(media)
    assert feats.schema == MM.FEATURE_SCHEMA
    assert feats.count() == media.count()
    row = feats.filter(F.col("media_id") == 0).collect()[0]
    assert row.n_bytes > 0 and len(row.feature) == 3
    assert row.feature[0] == float(row.n_bytes)  # deterministic stub


def test_frame_sample_row_counts(spark, sf_dir):
    media = MM.documents_as_media(load_table(spark, sf_dir, "documents"))
    frames = MM.frame_sample(media, 100)
    expected = media.select(
        F.sum(F.floor((F.col("n_bytes") - 1) / 100) + 1).alias("n")
    ).collect()[0].n
    assert frames.count() == expected


def test_md5_long_matches_python(spark):
    """Portable hash sanity: Spark md5_long == python hashlib-derived."""
    from ureplicator_spark.functions import md5_long

    df = spark.createDataFrame([("hello",)], "s string").select(md5_long("s").alias("h"))
    expected = int(hashlib.md5(b"hello").hexdigest()[:15], 16)
    assert df.collect()[0].h == expected


# ---------------------------------------------------------------------------
# As-of join (operators/asof.py)
# ---------------------------------------------------------------------------


def _asof_fixture(spark):
    from ureplicator_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 5, "x1"), ("a", 10, "x2"), ("a", 25, "x3"), ("b", 7, "y1"), ("c", 1, "z1")],
        "k string, ts long, tag string",
    )
    right = spark.createDataFrame(
        [("a", 4, 1.0), ("a", 10, 2.0), ("a", 12, 3.0), ("b", 99, 4.0)],
        "k string, ts long, v double",
    )
    return asof_join, left, right


def test_asof_join_basic(spark):
    """Latest right row at-or-before each left ts; ties match; keys
    with no eligible right row stay NULL (left-outer)."""
    asof_join, left, right = _asof_fixture(spark)
    out = {
        (r.k, r.ts): r.v
        for r in asof_join(left, right, ["k"], "ts", "ts", ["v"]).collect()
    }
    assert out == {
        ("a", 5): 1.0,   # 4 <= 5
        ("a", 10): 2.0,  # tie: right ts==left ts matches
        ("a", 25): 3.0,  # latest of {4,10,12}
        ("b", 7): None,  # right row is in the future
        ("c", 1): None,  # no right rows for key
    }


def test_asof_join_tolerance(spark):
    """Matches staler than `tolerance` are nulled (freshness cutoff,
    WorkloadInfoRetriever.java:209-237 analog)."""
    asof_join, left, right = _asof_fixture(spark)
    out = {
        (r.k, r.ts): r.v
        for r in asof_join(left, right, ["k"], "ts", "ts", ["v"], tolerance=5).collect()
    }
    assert out[("a", 25)] is None  # 12 < 25-5: too stale
    assert out[("a", 10)] == 2.0
    assert out[("a", 5)] == 1.0


def test_asof_join_no_cross_product(spark):
    """The plan must be union+window (one hash shuffle on the key),
    never a broadcast-nested-loop theta join."""
    from ureplicator_spark.operators.asof import asof_join
    from ureplicator_spark.plans.inspect import plan_string

    left = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("k"), F.col("id").alias("ts")
    )
    right = spark.range(10).select(
        (F.col("id") % 3).cast("string").alias("k"),
        (F.col("id") * 7).alias("ts"),
        F.col("id").cast("double").alias("v"),
    )
    plan = plan_string(asof_join(left, right, ["k"], "ts", "ts", ["v"]))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


def test_top_k_ranked_plan_and_values(spark):
    """Global top-k compiles to TakeOrderedAndProject (per-partition
    heap), not a single-partition sort; ranks are 1..k deterministic."""
    from ureplicator_spark.functions import top_k_ranked
    from ureplicator_spark.plans.inspect import plan_string

    df = spark.range(1000).select(F.col("id"), (F.col("id") * 37 % 101).alias("score"))
    top = top_k_ranked(df, 5, F.col("score").desc(), F.col("id"))
    assert "TakeOrderedAndProject" in plan_string(top)
    rows = top.collect()
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
    assert rows[0].score == max(i * 37 % 101 for i in range(1000))


def test_range_join_semantics_and_plan(spark):
    """Point-in-range matching with key equality; bounds broadcast
    (BroadcastHashJoin on keys, never a nested-loop over ranges)."""
    from ureplicator_spark.operators.rangejoin import range_join
    from ureplicator_spark.plans.inspect import assert_broadcast_join, plan_string

    left = spark.createDataFrame(
        [("t", 0, 5), ("t", 0, 14), ("t", 0, 15), ("t", 1, 5), ("u", 0, 5)],
        "topic string, partition int, offset long",
    )
    ranges = spark.createDataFrame(
        [("t", 0, 0, 10, 0), ("t", 0, 10, 15, 1), ("t", 1, 0, 100, 7)],
        "topic string, partition int, start_offset long, end_offset long, route_id int",
    )
    out = range_join(left, ranges, ["topic", "partition"], "offset", "start_offset", "end_offset")
    got = {(r.topic, r.partition, r.offset): r.route_id for r in out.collect()}
    assert got == {("t", 0, 5): 0, ("t", 0, 14): 1, ("t", 1, 5): 7}  # 15 excluded (end-exclusive), u unmatched
    assert_broadcast_join(out)
    plan = plan_string(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_multimodal_resize_plumbing(spark, sf_dir):
    """Resize stub: schema-stable, fixed output size, deterministic."""
    media = MM.documents_as_media(load_table(spark, sf_dir, "documents"))
    resized = MM.resize(media, 8, 8)
    assert resized.schema == MM.RESIZED_SCHEMA
    rows = resized.filter(F.col("media_id") < 2).collect()
    assert all(r.n_bytes_out == 64 and len(r.payload) == 64 for r in rows)
    again = {r.media_id: bytes(r.payload) for r in MM.resize(media, 8, 8).filter(F.col("media_id") < 2).collect()}
    assert all(bytes(r.payload) == again[r.media_id] for r in rows)
    assert resized.count() == media.count()


def test_salted_agg_matches_direct(spark, sf_dir):
    """Two-phase salted aggregation must equal the direct groupBy for
    all four algebraic aggregates (hot-key fan-out, streaming-safe)."""
    from ureplicator_spark.operators.skew import salted_agg

    rec = FX.records(spark, sf_dir)
    direct = {
        r.topic: (r.n, r.total, r.mn, r.mx)
        for r in rec.groupBy("topic").agg(
            F.count("*").alias("n"), F.sum("value_size").alias("total"),
            F.min("value_size").alias("mn"), F.max("value_size").alias("mx"),
        ).collect()
    }
    salted = {
        r.topic: (r.n, r.total, r.mn, r.mx)
        for r in salted_agg(
            rec, ["topic"],
            {"n": ("count", "value_size"), "total": ("sum", "value_size"),
             "mn": ("min", "value_size"), "mx": ("max", "value_size")},
            n_salt=8,
        ).collect()
    }
    assert direct == salted


def test_corpus_clean_pushes_lang_filter(spark, sf_dir):
    """The composed pipeline must push the lang filter into the parquet
    scan (a full-corpus decode at 100 TB otherwise)."""
    from ureplicator_spark.plans.inspect import assert_pushed_filters
    from ureplicator_spark.queries import QUERIES

    df = QUERIES["corpus_clean"][0](spark, sf_dir)
    assert_pushed_filters(df, "lang")


def test_greedy_assignment_balance_and_completeness(spark, sf_dir):
    """Greedy bin-packing (AutoRebalance core): every partition
    assigned exactly once; max instance load within the classic greedy
    bound (<= avg + heaviest item); heaviest-first determinism."""
    from ureplicator_spark.operators.assignment import greedy_assign
    from ureplicator_spark.operators.workload import partition_workload

    wl = partition_workload(FX.records(spark, sf_dir))
    asg = greedy_assign(wl, FX.N_INSTANCES)
    n_parts = wl.count()
    assert asg.count() == n_parts
    assert asg.select("topic", "partition").distinct().count() == n_parts

    loads = {
        r.instance: r.total
        for r in asg.groupBy("instance").agg(F.sum("bytes_per_sec").alias("total")).collect()
    }
    assert len(loads) == FX.N_INSTANCES
    total = sum(loads.values())
    heaviest = asg.agg(F.max("bytes_per_sec")).collect()[0][0]
    assert max(loads.values()) <= total / FX.N_INSTANCES + heaviest + 1e-9

    # determinism
    again = {
        (r.topic, r.partition): r.instance
        for r in greedy_assign(wl, FX.N_INSTANCES).collect()
    }
    first = {(r.topic, r.partition): r.instance for r in asg.collect()}
    assert first == again


def test_load_records_any_formats(spark, sf_dir, tmp_path):
    """csv/json interop paths produce the same rows as parquet; schema
    inference is refused (it would double-scan at 100 TB)."""
    import pytest

    from ureplicator_spark.sources.parquet import load_records_any

    rec = FX.records(spark, sf_dir).select("topic", "partition", "offset", "value_size")
    schema = "topic string, partition int, offset long, value_size int"
    pq, cs, js, oc = (str(tmp_path / d) for d in ("pq", "cs", "js", "oc"))
    rec.write.parquet(pq)
    rec.write.option("header", "true").csv(cs)
    rec.write.json(js)
    rec.write.orc(oc)

    base = {tuple(r) for r in rec.collect()}
    got_pq = {tuple(r) for r in load_records_any(spark, pq).select(*rec.columns).collect()}
    got_cs = {
        tuple(r)
        for r in load_records_any(spark, cs, "csv", schema, header="true").collect()
    }
    got_js = {tuple(r) for r in load_records_any(spark, js, "json", schema).collect()}
    got_oc = {tuple(r) for r in load_records_any(spark, oc, "orc").select(*rec.columns).collect()}
    assert base == got_pq == got_cs == got_js == got_oc
    with pytest.raises(ValueError, match="explicit schema"):
        load_records_any(spark, js, "json")


def test_parse_payloads_quarantine(spark):
    """Malformed payloads split into quarantine with raw bytes kept;
    valid rows get typed columns."""
    from ureplicator_spark.operators.replicate import parse_payloads

    rows = [
        ("t", 0, 1, 100, 9, '{"k": 42}'),
        ("t", 0, 2, 101, 9, "not-json"),
        ("t", 1, 3, 102, 9, '{"k": "wrongtype"}'),
        ("t", 1, 4, 103, 9, None),
    ]
    rec = spark.createDataFrame(
        rows, "topic string, partition int, offset long, ts_sec long, value_size int, props string"
    )
    parsed, quarantined = parse_payloads(rec, "k int")
    p = {r.offset: r.k for r in parsed.collect()}
    q = {r.offset: r.props for r in quarantined.collect()}
    assert p == {1: 42}
    # malformed JSON, type-mismatched field, and null payload all
    # quarantine with the raw payload preserved
    assert q == {2: "not-json", 3: '{"k": "wrongtype"}', 4: None}


def test_duplicate_clusters_connected_components(spark):
    """Label propagation finds components: a chain, a triangle-plus-tail,
    and an isolated pair; keeper = min id per component."""
    from ureplicator_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        # chain 1-2-3-4; component {10,11,12,13} via triangle+tail; pair {20,21}
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (12, 13), (20, 21)],
        "doc_a long, doc_b long",
    )
    out = duplicate_clusters(pairs)
    clusters = {r.doc_id: r.cluster_id for r in out.collect()}
    assert clusters == {1: 1, 2: 1, 3: 1, 4: 1,
                        10: 10, 11: 10, 12: 10, 13: 10,
                        20: 20, 21: 20}
    keepers = {r.doc_id for r in out.filter(F.col("is_keeper")).collect()}
    assert keepers == {1, 10, 20}


def test_duplicate_clusters_on_lsh_pairs(spark, sf_dir):
    """End-to-end: LSH candidate pairs -> clusters; every clustered doc
    appears exactly once and keepers are cluster minima."""
    from ureplicator_spark.operators.dedup import duplicate_clusters, lsh_candidate_pairs
    from ureplicator_spark.sources.parquet import load_table

    pairs = lsh_candidate_pairs(load_table(spark, sf_dir, "documents")).filter(
        F.col("est_jaccard") >= 0.5
    )
    out = duplicate_clusters(pairs)
    n_docs_in_pairs = (
        pairs.select(F.col("doc_a").alias("d")).union(pairs.select("doc_b")).distinct().count()
    )
    assert out.count() == n_docs_in_pairs
    # keeper is the min doc_id of its cluster
    mins = out.groupBy("cluster_id").agg(F.min("doc_id").alias("mn")).collect()
    assert all(r.cluster_id == r.mn for r in mins)


def test_duplicate_clusters_deep_path_bounded_plan(spark):
    """A path graph of diameter 20 must converge (min-label reaches the
    far end) and per-round localCheckpoint must keep the plan depth
    bounded — without it, lineage doubles every iteration and the
    analyzed plan string grows exponentially."""
    from ureplicator_spark.operators.dedup import duplicate_clusters

    n = 21  # path 0-1-2-...-20, diameter 20
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = duplicate_clusters(pairs, max_iter=40)
    clusters = {r.doc_id: r.cluster_id for r in out.collect()}
    assert clusters == {i: 0 for i in range(n)}
    # checkpointed lineage: the final plan must be shallow (a scan of
    # the checkpointed RDD + the keeper projection), not 20 nested joins
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("Join") <= 2, f"lineage not truncated:\n{plan[:2000]}"


def test_backup_versioned_history_and_prune(spark, sf_dir, tmp_path):
    """Git-handler analog: every backup call appends an immutable
    version; restore defaults to latest; prune keeps the newest K."""
    from ureplicator_spark.operators.assignment import derive_assignments

    asg = derive_assignments(FX.records(spark, sf_dir), FX.N_INSTANCES)
    v1 = BK.backup_versioned(asg, str(tmp_path), "assignments", version="20260813T000001-000000")
    v2 = BK.backup_versioned(asg.limit(2), str(tmp_path), "assignments", version="20260813T000002-000000")
    v3 = BK.backup_versioned(asg.limit(1), str(tmp_path), "assignments")  # auto timestamp
    assert BK.list_versions(str(tmp_path), "assignments") == sorted([v1, v2, v3])
    assert BK.restore_version(spark, str(tmp_path), "assignments", v2).count() == 2
    # latest (HEAD) is the auto-stamped one: current year >> 2026 fixture stamps
    assert BK.restore_version(spark, str(tmp_path), "assignments").count() == 1
    removed = BK.prune_versions(str(tmp_path), "assignments", keep=1)
    assert removed == sorted([v1, v2, v3])[:2]
    assert len(BK.list_versions(str(tmp_path), "assignments")) == 1


def test_fan_out_widens_single_file_scan(spark, sf_dir, tmp_path):
    """fan_out must widen a one-file scan to defaultParallelism without
    touching df.rdd (the RDD conversion added planning latency to every
    shingling query), and leave already-wide frames alone."""
    from ureplicator_spark.functions import fan_out
    from ureplicator_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_files = len(docs.inputFiles())
    target = spark.sparkContext.defaultParallelism
    widened = fan_out(docs)
    if n_files < max(2, target // 2):
        # single-file fixture scan: must gain a round-robin Exchange
        assert "Exchange" in widened._jdf.queryExecution().executedPlan().toString()
        assert widened.rdd.getNumPartitions() == target
    # Many SMALL files are NOT parallelism: Spark packs them into few
    # splits (maxPartitionBytes/openCostInBytes), so fan_out must still
    # widen despite inputFiles() >= target.
    many = str(tmp_path / "many")
    docs.repartition(8).write.parquet(many)
    wide_scan = spark.read.parquet(many)
    assert len(wide_scan.inputFiles()) >= 8
    assert fan_out(wide_scan, min_partitions=8) is not wide_scan
    # A scan whose split ESTIMATE already meets the target is returned
    # untouched — the 100 TB case, where an extra exchange would be a
    # regression. Shrink the split size so the same 8 files genuinely
    # scan wide, then assert the no-op identity.
    old_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384b")
        spark.conf.set("spark.sql.files.openCostInBytes", "16384b")
        assert fan_out(wide_scan, min_partitions=8) is wide_scan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def test_repetition_stats_short_and_repeated_docs(spark):
    """1-token docs must not crash the 2/3-gram builders (dup shares
    coalesce to 0); a fully repeated doc scores maximal shares."""
    from ureplicator_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "hello"), (2, "a a a a"), (3, "w x y z")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert rows[1].n_tokens == 1 and rows[1].dup_2gram_share == 0.0
    assert rows[1].top_token_share == 1.0
    # "a a a a": 4 tokens all 'a'; 3 identical 2-grams -> (3-1)/3
    assert rows[2].top_token_share == 1.0
    assert rows[2].dup_2gram_share == round(2 / 3, 6)
    assert rows[3].top_token_share == 0.25 and rows[3].dup_2gram_share == 0.0


def test_stratified_sample_deterministic_and_rate_bounded(spark, sf_dir):
    """Same survivors on repeated runs; per-lang survivor share is
    bounded by the configured rate (hash buckets are uniform-ish but
    the bound is exact: bucket < rate)."""
    from ureplicator_spark.functions import md5_long
    from ureplicator_spark.operators.text import LANG_SAMPLE_RATES, stratified_sample
    from ureplicator_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc_id for r in stratified_sample(docs).collect()}
    b = {r.doc_id for r in stratified_sample(docs).collect()}
    assert a == b and a
    kept = docs.filter(F.col("doc_id").isin(list(a)))
    buckets = kept.select(
        "lang", F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(100)).alias("bkt")
    ).collect()
    for r in buckets:
        assert r.bkt < LANG_SAMPLE_RATES[r.lang]


def test_stalled_override_no_t1_commit_parity(spark):
    """fixtures parity (VERDICT r4 #7): when the stalled partition has
    NO commit at T1 (c1 row absent), both the Spark
    ``stalled_commit_override`` and the DuckDB ``stalled_c2_cte`` twin
    must fall back to the T2 commit — neither side may NULL it out.
    Guards the COALESCE in fixtures.py:232 against drift."""
    import duckdb

    from ureplicator_spark import fixtures as FX
    from ureplicator_spark.operators import lag as LAG

    t1, t2 = FX.SNAPSHOT_T1, FX.SNAPSHOT_T2
    # The stalled partition (click, 0) has records only AFTER t1.
    rows = [
        ("click", 0, 100, t1 + 10),
        ("click", 1, 50, t1 - 10),
        ("click", 1, 60, t1 + 20),
        ("view", 0, 10, t1 - 5),
    ]
    rec = spark.createDataFrame(
        rows, "topic string, partition int, offset long, ts_sec long"
    )
    c1 = LAG.committed_offsets(rec, t1)
    c2 = FX.stalled_commit_override(LAG.committed_offsets(rec, t2), c1)
    got = {(r.topic, r.partition): r.commit_offset for r in c2.collect()}
    assert got[("click", 0)] == 100  # fell back to T2, not NULL

    con = duckdb.connect()
    values = ", ".join(f"('{t}', {p}, {o}, {ts})" for t, p, o, ts in rows)
    sql = (
        "WITH records AS (SELECT * FROM (VALUES "
        + values
        + ') AS t(topic, "partition", "offset", ts_sec)),\n'
        + f'c1 AS (SELECT topic, "partition", MAX("offset") AS commit_t1\n'
        f"       FROM records WHERE ts_sec <= {t1} GROUP BY 1, 2),\n"
        + FX.stalled_c2_cte(t2)
        + '\nSELECT topic, "partition" AS partition, commit_t2 FROM c2'
    )
    oracle = {(t, p): c for t, p, c in con.execute(sql).fetchall()}
    con.close()
    assert oracle == got


def test_funnel_strict_ordering_semantics(spark):
    """A user who purchases BEFORE viewing must not reach the purchase
    stage; equal timestamps do not advance (strictly-after chaining)."""
    from ureplicator_spark.operators.relational import funnel_counts

    rows = [
        # u1: full ordered funnel
        (1, "signup", 100), (1, "view", 200), (1, "purchase", 300),
        # u2: purchase before view -> stops at view
        (2, "signup", 100), (2, "purchase", 150), (2, "view", 200),
        # u3: view at the same second as signup -> not strictly after
        (3, "signup", 100), (3, "view", 100),
        # u4: never signed up -> not in the funnel at all
        (4, "view", 50), (4, "purchase", 60),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts_sec long")
    got = {r.event_type: r.n_users for r in funnel_counts(ev).collect()}
    assert got == {"signup": 3, "view": 2, "purchase": 1}


def test_retention_cohorts_offsets(spark):
    """Cohort = first-activity week; offsets count distinct users."""
    from ureplicator_spark.operators.relational import retention_cohorts

    wk = 604800
    rows = [
        (1, 0), (1, wk + 5), (1, 2 * wk + 5),   # cohort 0, offsets 0,1,2
        (2, 10), (2, 2 * wk),                   # cohort 0, offsets 0,2
        (3, wk), (3, wk + 60),                  # cohort 1, offset 0 (twice)
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts_sec long")
    got = {(r.cohort_week, r.week_offset): r.n_users
           for r in retention_cohorts(ev).collect()}
    assert got == {(0, 0): 2, (0, 1): 1, (0, 2): 2, (1, 0): 1}


def test_kmeans_invariants(spark, sf_dir):
    """Cluster sizes partition the corpus; a second run is identical
    (pure-plan determinism); inertia is non-negative."""
    from ureplicator_spark.operators.similarity import kmeans_clusters
    from ureplicator_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    out1 = kmeans_clusters(emb).collect()
    out2 = kmeans_clusters(emb).collect()
    assert out1 == out2
    assert sum(r.n_vecs for r in out1) == n
    assert all(r.inertia >= 0 for r in out1)
    assert len(out1) <= 8


def test_ann_recall_bounds_and_truth_subset(spark, sf_dir):
    """recall ∈ [0,1] for every query; n_hits can never exceed k; a
    query whose bucket holds the true top-k gets recall 1.0."""
    from ureplicator_spark.operators.similarity import ann_recall
    from ureplicator_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = ann_recall(emb).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.n_hits <= 3
        assert abs(r.recall - r.n_hits / 3.0) < 1e-6


def test_chunk_dedup_cross_doc_semantics(spark):
    """Identical chunks across docs are flagged with keeper = min doc;
    within-doc repeats alone don't qualify (n_docs >= 2)."""
    from ureplicator_spark.operators.text import chunk_dedup

    shared = " ".join(f"w{i}" for i in range(32))
    docs = spark.createDataFrame(
        [(1, shared), (2, shared), (3, "unique " * 32)],
        "doc_id long, text string",
    )
    rows = chunk_dedup(docs, size=32, stride=32).collect()
    assert len(rows) == 1
    assert rows[0].n_docs == 2 and rows[0].keeper_doc_id == 1


def test_compact_archive_shrinks_small_files(spark, sf_dir, tmp_path):
    """Compaction rewrites fragmented (topic, dt) partitions down to
    their size-justified file count, preserves rows exactly, and
    leaves already-compact partitions untouched."""
    from ureplicator_spark.sources.archive import (
        compact_archive,
        read_archive,
        write_archive,
    )

    root = str(tmp_path / "arch")
    rec = FX.records(spark, sf_dir)
    # fragment: 6 appends of the same slice → ≥6 files per partition
    one_day = rec.filter(F.col("topic") == "click").limit(200)
    for _ in range(6):
        write_archive(one_day, root)
    before_rows = read_archive(spark, root).count()
    before_files = len(read_archive(spark, root).inputFiles())
    assert before_files >= 6

    done = compact_archive(spark, root, target_bytes=128 * 1024 * 1024)
    assert done, "fragmented partitions should be rewritten"
    after = read_archive(spark, root)
    assert after.count() == before_rows
    after_files = len(after.inputFiles())
    assert after_files < before_files
    # every rewritten partition hit its target file count (directory
    # listing — inputFiles() ignores partition filters)
    import os

    for tval, dval, n_before, n_target in done:
        pdir = os.path.join(root, f"topic={tval}", f"dt={dval}")
        n_files = len(
            [f for f in os.listdir(pdir) if not f.startswith(("_", "."))]
        )
        assert n_files == n_target
        assert n_before > n_target
    # second pass: nothing left to do
    assert compact_archive(spark, root, target_bytes=128 * 1024 * 1024) == []


def test_read_archive_schema_drift(spark, sf_dir, tmp_path):
    """A column added mid-retention merges across partitions: old days
    read it as NULL, new days carry it; default read stays cheap (no
    footer sweep) and pruned reads still work."""
    from ureplicator_spark.sources.archive import read_archive, write_archive

    root = str(tmp_path / "arch")
    rec = FX.records(spark, sf_dir).filter(F.col("topic") == "click").limit(100)
    write_archive(rec.drop("props"), root)
    write_archive(rec.withColumn("schema_rev", F.lit(2)), root)

    merged = read_archive(spark, root, merge_schema=True)
    assert {"props", "schema_rev"} <= set(merged.columns)
    n = rec.count()
    assert merged.count() == 2 * n
    assert merged.filter(F.col("schema_rev").isNull()).count() == n
    assert merged.filter(F.col("props").isNull()).count() == n
    assert read_archive(spark, root, topic="click", merge_schema=True).count() == 2 * n


def test_minhash_index_incremental_dedup(spark, sf_dir, tmp_path):
    """Persisted-signature incremental dedup: a new batch containing a
    known near-dup of an indexed doc is flagged against the index
    WITHOUT re-shingling the corpus; appending the batch then makes a
    re-run of the same batch self-match-free but corpus-complete."""
    from ureplicator_spark.operators.dedup import lsh_candidate_pairs
    from ureplicator_spark.sources.minhash_index import (
        append_to_minhash_index,
        build_minhash_index,
        incremental_dedup,
    )

    root = str(tmp_path / "mh")
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 4000)
    build_minhash_index(corpus, root)

    # batch: copies of two corpus docs under fresh ids + the rest
    dup_src = docs.filter(F.col("doc_id") < 2).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    batch = docs.filter(F.col("doc_id") >= 4000).unionByName(dup_src)

    pairs = incremental_dedup(spark, root, batch)
    got = {(r.new_doc, r.corpus_doc): r.est_jaccard for r in pairs.collect()}
    # the planted exact copies must match their originals at 1.0
    assert got.get((1_000_000, 0)) == 1.0
    assert got.get((1_000_001, 1)) == 1.0
    # every flagged pair is batch-vs-corpus, never corpus-vs-corpus
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    assert all(n in batch_ids and c not in batch_ids or c < 4000 for n, c in got)

    # parity with the in-query pass: batch-vs-corpus pairs of the full
    # LSH run restricted to (batch, corpus) must equal the incremental
    # result (same bands, same estimates)
    full = lsh_candidate_pairs(corpus.unionByName(batch))
    expected = {}
    for r in full.collect():
        a, b = r.doc_a, r.doc_b
        if (a in batch_ids) != (b in batch_ids):
            n, c = (a, b) if a in batch_ids else (b, a)
            expected[(n, c)] = r.est_jaccard
    assert got == expected

    # append the batch; re-running the SAME batch now also matches the
    # batch's own indexed copies — but never itself under the same id
    append_to_minhash_index(batch, root)
    again = incremental_dedup(spark, root, batch)
    assert again.filter(F.col("new_doc") == F.col("corpus_doc")).count() == 0
    assert again.count() >= pairs.count()


@pytest.mark.slow
def test_minhash_index_standing_probes(spark, sf_dir, tmp_path):
    """The standing-index probes (r9) equal their from-scratch twins
    over the same corpus — LSH pairs from persisted signatures, and
    containment/PPJoin from the persisted rarest-first shingle arrays
    — and an append invalidates the snapshot-scoped shingle_arrays
    section (loud failure) until refresh restores parity."""
    import pytest

    from ureplicator_spark.operators.dedup import (
        containment_from_docarr,
        containment_pairs,
        jaccard_prefix_join,
        lsh_candidate_pairs,
        prefix_join_from_docarr,
    )
    from ureplicator_spark.operators.sketch import kmv_source_overlap
    from ureplicator_spark.sources.minhash_index import (
        append_to_minhash_index,
        build_minhash_index,
        index_kmv_synopses,
        index_lsh_pairs,
        index_pairs,
        index_shingle_arrays,
        refresh_kmv_synopses,
        refresh_pairs,
        refresh_shingle_arrays,
    )

    root = str(tmp_path / "mh")
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 4000)
    build_minhash_index(corpus, root, shingle_arrays=True)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    want_pairs = rows(lsh_candidate_pairs(corpus))
    assert rows(index_lsh_pairs(spark, root)) == want_pairs
    assert rows(index_pairs(spark, root)) == want_pairs  # materialized twin
    # persisted KMV synopses reproduce the from-scratch estimator
    from ureplicator_spark.operators.sketch import KMV_K, kmv_pairwise_estimates

    est_idx = kmv_pairwise_estimates(
        index_kmv_synopses(spark, root), "source", KMV_K
    ).orderBy("src_a", "src_b")
    assert rows(est_idx) == rows(kmv_source_overlap(corpus))
    arr = index_shingle_arrays(spark, root)
    assert rows(containment_from_docarr(arr)) == rows(containment_pairs(corpus))
    assert rows(prefix_join_from_docarr(arr)) == rows(jaccard_prefix_join(corpus))
    # persisted winnow fingerprints serve the stats + overlap probes
    # exactly as the from-scratch derivation does
    from ureplicator_spark.operators.text import (
        winnowing_overlap_pairs,
        winnowing_overlap_pairs_from_fp,
        winnowing_stats,
        winnowing_stats_from_fp,
    )
    from ureplicator_spark.sources.minhash_index import index_winnow_fingerprints

    fp_idx = index_winnow_fingerprints(spark, root)
    assert rows(winnowing_stats_from_fp(fp_idx)) == rows(winnowing_stats(corpus))
    assert rows(winnowing_overlap_pairs_from_fp(fp_idx)) == rows(
        winnowing_overlap_pairs(corpus)
    )

    # append: signatures stay current; the snapshot-scoped sections
    # (shingle_arrays, pairs) go stale → gone, loudly
    batch = docs.filter(F.col("doc_id") >= 4000)
    append_to_minhash_index(batch, root)
    full = corpus.unionByName(batch)
    assert rows(index_lsh_pairs(spark, root)) == rows(lsh_candidate_pairs(full))
    with pytest.raises(FileNotFoundError, match="invalidated"):
        index_shingle_arrays(spark, root)
    with pytest.raises(FileNotFoundError, match="invalidated"):
        index_pairs(spark, root)
    # ...and the winnow section is APPENDABLE (per-doc local state):
    # the appended section equals a full-corpus rebuild
    fp_app = index_winnow_fingerprints(spark, root)
    assert rows(winnowing_stats_from_fp(fp_app)) == rows(winnowing_stats(full))
    assert rows(winnowing_overlap_pairs_from_fp(fp_app)) == rows(
        winnowing_overlap_pairs(full)
    )
    # ...but the KMV section is MERGEABLE: the append folded the
    # batch's synopsis in, exactly equal to a full-corpus rebuild
    # (the Beyer merge property)
    est_merged = kmv_pairwise_estimates(
        index_kmv_synopses(spark, root), "source", KMV_K
    ).orderBy("src_a", "src_b")
    assert rows(est_merged) == rows(kmv_source_overlap(full))

    # refresh restores parity for the snapshot-scoped sections: pairs
    # from the appended signature sections alone, arrays from the
    # full corpus (and refresh_kmv equals the merged state)
    refresh_pairs(spark, root)
    assert rows(index_pairs(spark, root)) == rows(lsh_candidate_pairs(full))
    refresh_shingle_arrays(full, root)
    arr2 = index_shingle_arrays(spark, root)
    assert rows(prefix_join_from_docarr(arr2)) == rows(jaccard_prefix_join(full))
    merged_rows = rows(index_kmv_synopses(spark, root))
    refresh_kmv_synopses(full, root)
    assert rows(index_kmv_synopses(spark, root)) == merged_rows


def test_rate_spikes_flags_bursts_not_dips(spark):
    """A planted 10x burst window is flagged; steady windows and 2σ
    DIPS are not (the test is one-sided above the mean)."""
    from ureplicator_spark.operators.workload import rate_spikes

    rows = [("t", 0, i * 3 + j, 60 * i + j) for i in range(20) for j in range(3)]
    rows += [("t", 0, 900 + j, 60 * 20 + j) for j in range(40)]
    rows += [("t", 0, 990, 60 * 21)]  # 1-event dip window
    rec = spark.createDataFrame(
        rows, "topic string, partition int, offset long, ts_sec long"
    )
    out = {r.win_start: (r.n_events, r.is_spike) for r in rate_spikes(rec).collect()}
    assert out[60 * 20] == (40, True)
    assert not any(flag for w, (_, flag) in out.items() if w != 60 * 20)


def test_unigram_lm_known_values(spark):
    """Hand-computable corpus: counts a=3, b=1, total=4; doc0 ('a a')
    CE = ln(4/3), doc1 ('a b') CE = (ln(4/3) + ln(4)) / 2."""
    import math

    from ureplicator_spark.operators.text import unigram_lm_score

    docs = spark.createDataFrame(
        [(0, "a a"), (1, "a b")], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_tokens, r.cross_entropy)
           for r in unigram_lm_score(docs).collect()}
    assert got[0] == (2, round(math.log(4 / 3), 6))
    assert got[1] == (2, round((math.log(4 / 3) + math.log(4)) / 2, 6))


def test_source_kl_identical_vs_divergent(spark):
    """Sources with the corpus-identical token mix have KL 0; a source
    skewed to one token scores strictly positive."""
    from ureplicator_spark.operators.text import source_unigram_kl

    docs = spark.createDataFrame(
        [
            (0, "a b", "s_same1"), (1, "a b", "s_same2"),
            (2, "a a", "s_skew"), (3, "b b", "s_anti"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r.source: r.kl_divergence for r in source_unigram_kl(docs).collect()}
    # corpus is 4 a's and 4 b's -> uniform; the two 'same' sources match it
    assert got["s_same1"] == 0.0 and got["s_same2"] == 0.0
    assert got["s_skew"] > 0.0 and got["s_anti"] > 0.0


def test_shard_packing_matches_naive_cumsum_across_buckets(spark):
    """Two-phase prefix sum == the naive global cumsum semantics, with
    doc_ids straddling the 4096 bucket boundary so bucket offsets are
    actually exercised; shards are contiguous doc ranges."""
    from ureplicator_spark.operators.text import token_shard_packing

    rows = [(i, "w " * 6 + "w") for i in list(range(4090, 4100))]  # 7 tokens each
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = token_shard_packing(docs, budget=10).collect()
    # naive: cumsum of 7s; shard = (cum - 7) // 10
    cum, naive = 0, {}
    for i in range(4090, 4100):
        shard = cum // 10
        cum += 7
        naive.setdefault(shard, [0, 0, None, None])
        naive[shard][0] += 1
        naive[shard][1] += 7
        if naive[shard][2] is None:
            naive[shard][2] = i
        naive[shard][3] = i
    got = {r.shard_id: [r.n_docs, r.total_tokens, r.first_doc, r.last_doc]
           for r in out}
    assert got == naive
    # contiguity: ranges do not overlap and cover 4090..4099 in order
    spans = [got[s][2:] for s in sorted(got)]
    assert spans[0][0] == 4090 and spans[-1][1] == 4099
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))


def test_keep_best_per_cluster_policy(spark):
    """Longest doc wins, ties break to the smaller doc_id; dropped
    members/chars are the cluster remainder."""
    from ureplicator_spark.operators.dedup import keep_best_per_cluster

    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (7, 4), (8, 2)],
        "doc_id long, n_chars long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)],
        "doc_id long, cluster_id long",
    )
    got = {r.cluster_id: r for r in keep_best_per_cluster(docs, clusters).collect()}
    c1 = got[1]
    assert (c1.kept_doc, c1.kept_chars, c1.n_members, c1.n_dropped,
            c1.chars_dropped) == (2, 9, 3, 2, 14)
    c7 = got[7]
    assert (c7.kept_doc, c7.kept_chars, c7.n_dropped, c7.chars_dropped) == (7, 4, 1, 2)


def test_lag_weighted_dedicated_instance_selection(spark):
    """Weight = 1 + min(120, lag_minutes) for lagging partitions only;
    dedicated candidates = top floor(n*ratio) lag-serving instances by
    lagging share (ties -> instance name)."""
    from ureplicator_spark.operators.assignment import lag_weighted_instance_view

    assignments = spark.createDataFrame(
        [("t", 0, "w0", "ONLINE"), ("t", 1, "w0", "ONLINE"),
         ("t", 2, "w1", "ONLINE"), ("t", 3, "w1", "ONLINE"),
         ("t", 4, "w2", "ONLINE")],
        "topic string, partition int, instance string, state string",
    )
    lag_time = spark.createDataFrame(
        # w0: one lagging 90 s (1 min -> weight 2.0), one clean
        # w1: one lagging 10 h (600 min -> clamped to 121.0), one clean
        # w2: clean only
        [("t", 0, 10, 90.0), ("t", 1, 0, 0.0),
         ("t", 2, 99, 36000.0), ("t", 3, 0, 0.0),
         ("t", 4, 0, 0.0)],
        "topic string, partition int, lag long, lag_time_sec double",
    )
    got = {r.instance: r for r in
           lag_weighted_instance_view(assignments, lag_time, 4, 0.5).collect()}
    assert got["w0"].adjusted_weight == 3.0      # 2.0 + 1.0
    assert got["w1"].adjusted_weight == 122.0    # 121.0 clamped + 1.0
    assert got["w2"].adjusted_weight == 1.0
    # both lag-servers tie at 1/2 lagging share -> w0, w1 by name; cap=2
    assert got["w0"].is_dedicated_candidate and got["w1"].is_dedicated_candidate
    assert not got["w2"].is_dedicated_candidate
    assert (got["w0"].n_lagging, got["w2"].n_lagging) == (1, 0)


def test_pq_exact_on_codeword_corpus(spark):
    """A corpus that IS its codebook (4 distinct patterns, duplicated)
    must quantize with zero reconstruction error, and ADC must rank
    each query's duplicate first at distance 0."""
    from ureplicator_spark.operators.similarity import pq_adc_search, pq_train_codes

    patterns = []
    for p in range(4):
        vec = [0.0] * 64
        for i in range(16):
            vec[p * 16 + i] = 1.0 + p  # energy only in subspace p
        patterns.append(vec)
    rows = [(vid, patterns[vid % 4]) for vid in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    codes = pq_train_codes(emb).collect()
    assert len(codes) == 8 * 4  # one code per (vector, subspace)
    assert all(r.sqerr == 0 for r in codes)
    assert all(0 <= r.code < 4 for r in codes)
    # duplicates share the full code word
    by_vec = {}
    for r in codes:
        by_vec.setdefault(r.vec_id, {})[r.subspace] = r.code
    for vid in range(4):
        assert by_vec[vid] == by_vec[vid + 4]

    top = pq_adc_search(emb, n_queries=4, top_k=1).collect()
    got = {r.q_id: (r.c_id, r.adc_dist) for r in top}
    assert got == {0: (4, 0), 1: (5, 0), 2: (6, 0), 3: (7, 0)}


def test_exact_substring_spans_flags_shared_spans_only(spark):
    """Docs sharing a verbatim 48-char span score dup windows; a
    unique doc scores zero; sub-window docs are excluded."""
    from ureplicator_spark.operators.dedup import exact_substring_spans

    shared = "the quick brown fox jumps over the lazy dog again and again"  # 60 chars
    docs = spark.createDataFrame(
        [
            (1, shared + " tail one extra words here"),
            (2, shared + " completely different ending text"),
            (3, "x" * 20 + " unique middle content that matches nothing else " + "y" * 20),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in exact_substring_spans(docs).collect()}
    assert 4 not in got  # below window width
    assert got[1].n_dup_windows > 0 and got[2].n_dup_windows > 0
    assert got[3].n_dup_windows == 0 and got[3].dup_share == 0.0
    assert got[1].n_windows >= got[1].n_dup_windows


def test_pcm_energy_and_decimation_known_bytes(spark):
    """Hand-computable PCM: constant 128s give silence (rms 0); an
    alternating 0/255 square wave gives rms ~127.5; decimation keeps
    every k-th byte."""
    from ureplicator_spark.operators.multimodal import pcm_decimate, pcm_window_energy

    silence = bytes([128] * 512)           # 2 windows of rms 0
    square = bytes([0, 255] * 128)         # 1 window: samples -128/+127
    short = bytes([1, 2, 3])               # below one window -> no rows
    media = spark.createDataFrame(
        [(1, silence), (2, square), (3, short)],
        "media_id long, payload binary",
    )
    got = {(r.media_id, r.window_idx): (r.rms, r.peak)
           for r in pcm_window_energy(media).collect()}
    assert got[(1, 0)] == (0.0, 0) and got[(1, 1)] == (0.0, 0)
    import math
    exp_rms = round(math.sqrt((128 * 128**2 + 128 * 127**2) / 256), 6)
    assert got[(2, 0)] == (exp_rms, 128)
    assert not any(mid == 3 for mid, _ in got)

    dec = {r.media_id: bytes(r.payload) for r in pcm_decimate(media, 4).collect()}
    assert dec[1] == bytes([128] * 128)
    assert dec[2] == bytes([0] * 64)  # every 4th of 0,255,0,255,... is 0
    assert dec[3] == bytes([1])


def test_workload_trend_exact_linear(spark):
    """A perfectly linear per-window count sequence recovers its slope
    and intercept exactly; single-window topics claim no trend."""
    from ureplicator_spark.operators.workload import workload_trend

    rows = []
    for idx, n in [(0, 2), (1, 4), (2, 6)]:       # y = 2x + 2
        rows += [("lin", idx * 600 + j) for j in range(n)]
    rows += [("single", 10)]
    rec = spark.createDataFrame(rows, "topic string, ts_sec long")
    got = {r.topic: r for r in workload_trend(rec).collect()}
    lin = got["lin"]
    assert (lin.n_windows, lin.slope, lin.intercept, lin.forecast_next) == (3, 2.0, 2.0, 8.0)
    s = got["single"]
    assert s.n_windows == 1 and s.slope is None and s.forecast_next is None


def test_lexical_semantic_agreement_mixed_pairs(spark):
    """Identical texts pair up via LSH; the embedding side then
    separates a same-vector pair (agree) from an orthogonal pair
    (disagree); lexically unique docs never appear."""
    from ureplicator_spark.operators.dedup import lexical_semantic_agreement

    t1 = "alpha beta gamma delta epsilon zeta"
    t2 = "one two three four five six seven"
    docs = spark.createDataFrame(
        [(1, t1), (2, t1), (3, t2), (4, t2),
         (5, "completely unrelated text content here")],
        "doc_id long, text string",
    )
    v = lambda *idx: [1.0 if i in idx else 0.0 for i in range(8)]
    emb = spark.createDataFrame(
        [(1, v(0)), (2, v(0)), (3, v(1)), (4, v(2)), (5, v(3))],
        "vec_id long, embedding array<float>",
    )
    got = {(r.doc_a, r.doc_b): r for r in
           lexical_semantic_agreement(docs, emb).collect()}
    assert set(got) == {(1, 2), (3, 4)}
    assert got[(1, 2)].est_jaccard == 1.0 and got[(1, 2)].cosine == 1.0 and got[(1, 2)].agree
    assert got[(3, 4)].cosine == 0.0 and not got[(3, 4)].agree


def test_curation_pipeline_every_stage_accounts(spark):
    """Crafted corpus where each funnel stage drops exactly one doc:
    gate-fail (repetition), exact dup (min-id keeper), fuzzy near-dup
    (longest keeper); counts and token yield must reconcile."""
    from ureplicator_spark.operators.pipeline import curation_pipeline_report

    clean = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    near = clean + " kilo"  # superset shingles -> high jaccard, longer
    docs = spark.createDataFrame(
        [
            (1, "x " * 11 + "x", "s", 23),            # top-token share 1 -> gate fail
            (2, "one two three four five six seven eight nine ten", "s", 49),
            (3, "one two three four five six seven eight nine ten", "s", 49),  # exact dup of 2
            (4, clean, "s", len(clean)),
            (5, near, "s", len(near)),                # near-dup, longer -> keeper
            (6, "unique calm words spread evenly apart through this clean doc", "s", 60),
        ],
        "doc_id long, text string, source string, n_chars long",
    )
    r = curation_pipeline_report(docs).collect()[0]
    assert (r.n_input, r.n_gate_fail, r.n_exact_dropped, r.n_fuzzy_dropped, r.n_final) \
        == (6, 1, 1, 1, 3)
    # final corpus = docs 2 (keeper), 5 (longest near-dup), 6
    assert r.tokens_final == 10 + 11 + 10


def test_pq_recall_perfect_on_codeword_corpus(spark):
    """Zero quantization error ==> ADC ranks exactly like the exact
    integer-L2 ground truth, so recall@k is 1.0 for every query."""
    from ureplicator_spark.operators.similarity import pq_adc_recall

    patterns = []
    for p in range(4):
        vec = [0.0] * 64
        for i in range(16):
            vec[p * 16 + i] = 1.0 + p
        patterns.append(vec)
    emb = spark.createDataFrame(
        [(vid, patterns[vid % 4]) for vid in range(8)],
        "vec_id long, embedding array<float>",
    )
    got = pq_adc_recall(emb, n_queries=4, top_k=1).collect()
    assert len(got) == 4 and all(r.recall == 1.0 for r in got)


def test_capacity_forecast_trend_and_fallback(spark):
    """Rising-trend topic forecasts above its last window; a
    single-window topic falls back to its observed bytes; fleet size
    covers the summed forecast."""
    from ureplicator_spark.operators.workload import capacity_forecast

    rows = []
    # topic 'up': windows 0,1,2 with bytes 600, 1200, 1800 (slope 600/win)
    for idx, b in [(0, 600), (1, 1200), (2, 1800)]:
        rows.append(("up", idx * 600 + 1, b))
    rows.append(("one", 50, 900))  # single window -> fallback 900
    rec = spark.createDataFrame(rows, "topic string, ts_sec long, value_size long")
    r = capacity_forecast(rec, width_sec=600, per_worker=1.0).collect()[0]
    # forecast: up -> 2400 next window, one -> 900; (2400+900)/600 = 5.5
    assert r.forecast_bytes_per_sec == 5.5
    assert r.forecast_workers == 7  # round(5.5/1.0) + 1


def test_semantic_dedup_finds_within_cluster_pair_only(spark):
    """SemDeDup contract: an identical pair sharing a cluster is
    reported (cosine 1.0, min-id keeper); a high-cosine pair split
    across clusters is NOT — cross-cluster blindness is the documented
    trade the N²/k work bound buys (raise k with the corpus, not the
    comparison scope)."""
    d = 8

    def vec(hot, val=1.0):
        v = [0.0] * d
        v[hot] = val
        return v

    # vec 0/1 seed the two clusters (init = first k vectors). 2 and 3
    # duplicate vec 0 (same cluster); 4 duplicates vec 1's direction
    # with larger magnitude (same cluster as 1, cosine 1.0 with 1).
    rows = [
        (0, vec(0)),
        (1, vec(1)),
        (2, vec(0)),
        (3, vec(0)),
        (4, vec(1, 2.0)),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = SIM.semantic_dedup_pairs(emb, k=2, iters=2, threshold=0.99).collect()
    pairs = {(r.vec_a, r.vec_b): r for r in got}
    assert set(pairs) == {(0, 2), (0, 3), (2, 3), (1, 4)}
    assert all(abs(r.cosine - 1.0) < 1e-6 for r in got)
    assert pairs[(2, 3)].keeper_vec_id == 2
    # all members of each dup group share one cluster id
    assert len({pairs[p].cluster_id for p in [(0, 2), (0, 3), (2, 3)]}) == 1


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """DSIR sanity: among raw-pool docs, the one sharing the target's
    token distribution must out-score the one that doesn't; target
    docs are not scored."""
    from ureplicator_spark.operators.text import dsir_weights

    rows = [
        (0, "alpha alpha beta", "tgt"),
        (1, "alpha beta alpha", "tgt"),
        (2, "alpha alpha beta", "raw"),   # target-like
        (3, "gamma delta gamma", "raw"),  # raw-only tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string").withColumnRenamed("lang", "source")
    got = {r.doc_id: r for r in dsir_weights(docs, target_source="tgt").collect()}
    assert set(got) == {2, 3}
    assert got[2].n_tokens == 3 and got[3].n_tokens == 3
    assert got[2].log_weight > got[3].log_weight
    assert got[3].log_weight < 0  # anti-target evidence


def test_event_transitions_counts_and_tie_break(spark):
    """Known-value Markov matrix; same-second events order by
    event_id so the matrix is deterministic."""
    from ureplicator_spark.operators.relational import event_transitions

    rows = [
        # user 1: a -> b -> b (same second for the two b's: id order)
        (10, 1, 100, "a"),
        (11, 1, 200, "b"),
        (12, 1, 200, "b"),
        # user 2: a -> c
        (20, 2, 50, "a"),
        (21, 2, 60, "c"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_sec long, event_type string"
    )
    got = {(r.prev_type, r.curr_type): r for r in event_transitions(ev).collect()}
    assert got[("a", "b")].n == 1 and got[("a", "c")].n == 1
    assert got[("b", "b")].n == 1 and got[("b", "b")].p == 1.0
    assert got[("a", "b")].p == 0.5 and got[("a", "c")].p == 0.5
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "b")}


def test_upsert_archive_rewrites_only_touched_partitions(spark, sf_dir, tmp_path):
    """MERGE contract: updated keys replaced, new keys inserted, and a
    partition the batch does not touch keeps its exact files."""
    import glob

    from ureplicator_spark.sources.archive import read_archive, upsert_archive, write_archive

    root = str(tmp_path / "arch")
    rec = FX.records(spark, sf_dir).select(
        "topic", "partition", "offset", "ts_sec", "value_size"
    )
    write_archive(rec, root)
    topics = [r.topic for r in rec.select("topic").distinct().collect()]
    touched, untouched = topics[0], topics[1]
    untouched_files = sorted(glob.glob(f"{root}/topic={untouched}/*/*.parquet"))
    before_total = read_archive(spark, root).count()

    # one event-time day, so the batch touches exactly one (topic, dt)
    day0 = (
        rec.filter(F.col("topic") == touched)
        .agg(F.min(F.to_date(F.timestamp_seconds("ts_sec"))).alias("d"))
        .collect()[0]
        .d
    )
    base = (
        rec.filter(
            (F.col("topic") == touched)
            & (F.to_date(F.timestamp_seconds("ts_sec")) == F.lit(str(day0)).cast("date"))
        )
        .orderBy("partition", "offset")
        .limit(3)
    )
    upd = base.withColumn("value_size", F.lit(-7)).collect()
    max_off = rec.filter(F.col("topic") == touched).agg(F.max("offset")).collect()[0][0]
    rows = [tuple(r) for r in upd] + [
        (touched, 0, max_off + 1 + i, upd[0].ts_sec, -9) for i in range(2)
    ]
    # a duplicate-keyed row within the batch must collapse, not append
    rows.append(tuple(upd[0]))
    updates = spark.createDataFrame(
        rows, "topic string, partition int, offset long, ts_sec bigint, value_size int"
    )

    stats = upsert_archive(spark, root, updates)
    assert stats == {"partitions": 1, "replaced": 3, "inserted": 2}
    # untouched partition: identical file set
    assert sorted(glob.glob(f"{root}/topic={untouched}/*/*.parquet")) == untouched_files
    after = read_archive(spark, root)
    assert after.count() == before_total + 2
    got = {
        (r.partition, r.offset): r.value_size
        for r in after.filter(F.col("topic") == touched).collect()
    }
    for r in upd:
        assert got[(r.partition, r.offset)] == -7
    assert got[(0, max_off + 1)] == -9 and got[(0, max_off + 2)] == -9
    # idempotent under at-least-once replay
    stats2 = upsert_archive(spark, root, updates)
    assert stats2 == {"partitions": 1, "replaced": 5, "inserted": 0}
    assert read_archive(spark, root).count() == before_total + 2


def test_delete_from_archive_removes_keys_and_emptied_dirs(spark, sf_dir, tmp_path):
    """Right-to-be-forgotten contract: named keys disappear, a fully
    deleted (topic, dt) partition's directory is removed, untouched
    partitions keep their exact files."""
    import glob

    from ureplicator_spark.sources.archive import (
        delete_from_archive, read_archive, write_archive,
    )

    root = str(tmp_path / "arch")
    rec = FX.records(spark, sf_dir).select(
        "topic", "partition", "offset", "ts_sec", "value_size"
    )
    write_archive(rec, root)
    with_dt = rec.withColumn("dt", F.to_date(F.timestamp_seconds("ts_sec")))
    topics = sorted(r.topic for r in rec.select("topic").distinct().collect())
    t_partial, t_full = topics[0], topics[1]
    untouched = topics[2] if len(topics) > 2 else None

    # 2 specific rows from t_partial; EVERY row of t_full's first day
    part_rows = (
        with_dt.filter(F.col("topic") == t_partial).orderBy("partition", "offset").limit(2)
    ).collect()
    day0 = (
        with_dt.filter(F.col("topic") == t_full).agg(F.min("dt").alias("d")).collect()[0].d
    )
    full_rows = with_dt.filter(
        (F.col("topic") == t_full) & (F.col("dt") == F.lit(str(day0)).cast("date"))
    ).collect()
    kdf = spark.createDataFrame(
        [(r.topic, r.partition, r.offset) for r in part_rows + full_rows],
        "topic string, partition int, offset long",
    )
    if untouched:
        untouched_files = sorted(glob.glob(f"{root}/topic={untouched}/*/*.parquet"))
    before = read_archive(spark, root).count()

    stats = delete_from_archive(spark, root, kdf)
    assert stats["deleted"] == len(part_rows) + len(full_rows)
    assert stats["removed_dirs"] == 1
    assert not glob.glob(f"{root}/topic={t_full}/dt={day0}")
    after = read_archive(spark, root)
    assert after.count() == before - stats["deleted"]
    gone = after.join(kdf, ["topic", "partition", "offset"], "left_semi")
    assert gone.count() == 0
    if untouched:
        assert sorted(glob.glob(f"{root}/topic={untouched}/*/*.parquet")) == untouched_files
    # idempotent: a replayed deletion batch is a no-op
    assert delete_from_archive(spark, root, kdf) == {
        "partitions": 0, "deleted": 0, "removed_dirs": 0,
    }
    # purging EVERYTHING must remove the root (the canonical empty
    # state) — not leave a _SUCCESS-only directory that bricks reads
    import os

    all_keys = after.select("topic", "partition", "offset")
    delete_from_archive(spark, root, all_keys)
    assert not os.path.exists(root)


def test_multiprobe_ann_dominates_single_probe(spark, sf_dir):
    """Multi-probe's candidate set contains the home bucket, so its
    best cosine per query is >= single-probe lsh_ann's; probing
    Hamming-1 buckets must also never shrink the candidate pool."""
    from pyspark.sql import functions as F

    from ureplicator_spark.operators.similarity import lsh_ann, lsh_ann_multiprobe
    from ureplicator_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    single = {r.q_id: r.cosine for r in lsh_ann(emb).collect()}
    multi = lsh_ann_multiprobe(emb, k=1).collect()
    assert multi, "multiprobe returned no rows"
    best = {r.q_id: r.cosine for r in multi if r.rank == 1}
    # every query that found a single-probe neighbor must appear
    assert set(single) <= set(best)
    for q, cos in single.items():
        assert best[q] >= cos, f"q={q}: multiprobe {best[q]} < single {cos}"


def test_snapshot_diff_classification(spark):
    """added/removed/changed classification with null-safe column
    compare and multi-column changed_cols."""
    from ureplicator_spark.sources.archive import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", 30.0), (4, "e", 41.0), (5, "f", 50.0)],
        "k int, s string, v double",
    )
    rows = {r.k: r for r in snapshot_diff(old, new, ["k"]).collect()}
    assert rows[1].change_type == "removed" and rows[1].changed_cols == ""
    assert 2 not in rows  # unchanged keys drop out
    assert rows[3].change_type == "changed" and rows[3].changed_cols == "v"
    assert rows[4].change_type == "changed" and rows[4].changed_cols == "s,v"
    assert rows[5].change_type == "added" and rows[5].changed_cols == ""


def test_ngram_profile_classifier_learns_separable_langs(spark):
    """On genuinely separable languages the learned Cavnar-Trenkle
    profiles classify every held-out doc correctly (the fixture corpus
    has label-independent text, so separability is pinned here)."""
    from ureplicator_spark.operators.text import ngram_profile_confusion

    rows = []
    for d in range(20):
        lang = "aa" if d % 2 == 0 else "bb"
        body = ("abad abec abid " if lang == "aa" else "xyzo xyqu xyra ") * 4
        rows.append((d, body + f"tail{d}", lang))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {(r.lang, r.lang_pred): r.n_docs for r in ngram_profile_confusion(docs).collect()}
    assert out == {("aa", "aa"): 2, ("bb", "bb"): 2}


def test_hll_register_construction_and_merge(spark):
    """HLL gauge: estimate within the p=9 error envelope on a known
    cardinality, register state bounded by m, and insensitivity to
    duplication (max-merge idempotence: feeding every key twice
    changes nothing)."""
    from pyspark.sql import functions as F

    from ureplicator_spark.operators.sketch import HLL_M, hll_gauge

    keyed = spark.range(5000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("k")
    )
    out = hll_gauge(keyed, "g", "k").collect()[0]
    assert out.true_distinct == 5000
    assert out.v_nonempty <= HLL_M
    assert abs(out.rel_error) < 0.15  # ~3 sigma at 4.6% standard error

    doubled = keyed.unionAll(keyed)
    out2 = hll_gauge(doubled, "g", "k").collect()[0]
    assert out2.est_distinct == out.est_distinct
    assert out2.v_nonempty == out.v_nonempty


def test_multiprobe_recall_never_below_single(spark, sf_dir):
    """Superset candidates can only help: recall_multi >= recall_single
    for every query."""
    from ureplicator_spark.operators.similarity import multiprobe_recall_comparison
    from ureplicator_spark.sources.parquet import load_table

    rows = multiprobe_recall_comparison(
        load_table(spark, sf_dir, "embeddings")
    ).collect()
    assert rows
    for r in rows:
        assert r.recall_multi >= r.recall_single, r


def test_pmi_ranks_true_collocation_first(spark):
    """A pair that always co-occurs scores higher PMI than frequent
    pairs of independent tokens."""
    from ureplicator_spark.operators.text import collocation_pmi

    # 'san francisco' always adjacent; filler tokens shuffled context
    docs = [
        (i, "san francisco " + ("the of a to in " * 3) + "san francisco the of")
        for i in range(10)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = collocation_pmi(df, min_count=5, top_n=5).collect()
    assert out[0].a == "san" and out[0].b == "francisco"
    assert out[0].n_occur == 20


def test_cms_never_underestimates(spark, sf_dir):
    """Count-Min hard invariant: est >= true for every gauged key."""
    from pyspark.sql import functions as F

    from ureplicator_spark.operators.sketch import cms_topk_gauge
    from ureplicator_spark.sources.parquet import load_table

    tok = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    rows = cms_topk_gauge(tok, "token").collect()
    assert len(rows) == 20
    for r in rows:
        assert r.est_count >= r.true_count, r


def test_bloom_has_no_false_negatives(spark, sf_dir):
    """Bloom hard invariant: every exact hit is flagged
    (n_flagged >= n_exact per doc); false_positives is their gap."""
    from ureplicator_spark.operators.sketch import bloom_contamination
    from ureplicator_spark.sources.parquet import load_table

    rows = bloom_contamination(load_table(spark, sf_dir, "documents")).collect()
    assert rows
    for r in rows:
        assert r.n_flagged >= r.n_exact, r
        assert r.false_positives == r.n_flagged - r.n_exact


def test_weighted_sample_matches_oblivious_reference(spark, sf_dir):
    """A-ES sample reproduced by an oblivious hashlib/math
    implementation (third engine): same winners, same order."""
    import hashlib
    import math

    import pyarrow.parquet as pq

    from ureplicator_spark.operators.text import weighted_sample_docs
    from ureplicator_spark.sources.parquet import load_table

    tbl = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    scored = []
    for row in tbl:
        w = row["n_chars"]
        if w <= 0:
            continue
        h = int(hashlib.md5(f"wsample:{row['doc_id']}".encode()).hexdigest()[:15], 16)
        u = (h + 1) / float(1 << 60)
        scored.append((row["lang"], round(math.log(u) / w, 9), row["doc_id"]))
    want = {}
    for lang in {s[0] for s in scored}:
        grp = sorted(
            [s for s in scored if s[0] == lang], key=lambda s: (-s[1], s[2])
        )[:5]
        want[lang] = [s[2] for s in grp]

    got = {}
    for r in weighted_sample_docs(load_table(spark, sf_dir, "documents")).collect():
        got.setdefault(r.lang, []).append(r.doc_id)
    assert got == want


def test_prefix_join_complete_vs_bruteforce(spark, sf_dir):
    """Prefix filtering must find EXACTLY the brute-force Jaccard>=0.5
    pairs (completeness is the whole point vs LSH candidates)."""
    from itertools import combinations

    import pyarrow.parquet as pq

    from ureplicator_spark.operators.dedup import jaccard_prefix_join
    from ureplicator_spark.sources.parquet import load_table

    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    sets = {}
    for d in docs:
        toks = d["text"].split(" ")
        if len(toks) >= 3:
            sets[d["doc_id"]] = {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }
    want = set()
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if 3 * inter >= len(sets[a]) + len(sets[b]) and inter > 0:
            want.add((a, b))

    got_rows = jaccard_prefix_join(load_table(spark, sf_dir, "documents")).collect()
    got = {(r.doc_a, r.doc_b) for r in got_rows}
    assert got == want
    for r in got_rows:
        assert 3 * r.inter >= r.sa + r.sb
        assert r.jaccard >= 0.5


def test_bm25_matches_oblivious_reference(spark, sf_dir):
    """BM25 top-10 reproduced by a pure-Python implementation (third
    engine): same winners, same order, same 6-dp scores."""
    import math

    import pyarrow.parquet as pq

    from ureplicator_spark.operators.text import bm25_search
    from ureplicator_spark.sources.parquet import load_table

    terms = ("dup", "spark", "merge")
    rows = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    toks = {r["doc_id"]: r["text"].split(" ") for r in rows}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {q: sum(1 for t in toks.values() if q in t) for q in terms}
    def micro6(x: float) -> int:
        # the operator's r11 exactness contract: per-term integer
        # micro-units (6-dp floor chain kept in integer form)
        return int(math.copysign(math.floor(abs(x) * 1e6 + 0.5), x)) if x else 0

    scored = []
    for doc_id, t in toks.items():
        s6 = 0
        for q in terms:
            tf = t.count(q)
            if tf == 0 or df[q] == 0:
                continue
            idf = math.log(1.0 + (n - df[q] + 0.5) / (df[q] + 0.5))
            s6 += micro6(
                idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * len(t) / avgdl))
            )
        if s6 > 0:
            scored.append((s6 / 1e6, doc_id))
    want = sorted(scored, key=lambda x: (-x[0], x[1]))[:10]

    got = [
        (r.bm25, r.doc_id)
        for r in bm25_search(load_table(spark, sf_dir, "documents")).collect()
    ]
    assert got == want


def test_hybrid_rrf_prefers_doc_strong_in_both_arms(spark):
    """A candidate ranked #1 by BOTH arms must outrank candidates that
    win only one arm; the fused score must equal 1/(60+v)+1/(60+l)."""
    from ureplicator_spark.operators.similarity import hybrid_rrf_retrieval

    # doc 0 is the query. doc 1: lexically identical AND vector-near
    # (wins both arms). doc 2: vector-near only. doc 3: lexical only.
    docs = spark.createDataFrame(
        [
            (0, "join merge sort join merge", "en", "web", 25),
            (1, "join merge sort join merge", "en", "web", 25),
            (2, "scan filter window scan filter", "en", "web", 30),
            (3, "join merge sort sort join", "en", "web", 25),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0] + [0.0] * 63, 0),
            (1, [0.99, 0.1] + [0.0] * 62, 0),
            (2, [0.98, 0.15] + [0.0] * 62, 0),
            (3, [0.0, 1.0] + [0.0] * 62, 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = hybrid_rrf_retrieval(docs, emb, n_queries=1, depth=3, top_k=3)
    rows = {r.c_id: r for r in out.collect()}
    assert rows[1].rank == 1  # strong in both arms
    assert rows[1].v_rank is not None and rows[1].l_rank is not None
    for r in rows.values():
        expect = (1.0 / (60 + r.v_rank) if r.v_rank else 0.0) + (
            1.0 / (60 + r.l_rank) if r.l_rank else 0.0
        )
        assert abs(r.rrf - round(expect, 9)) < 1e-12


def test_retrieval_arm_overlap_counts_exact_intersection(spark):
    """overlap@k must be |lex top-k ∩ dense top-k| / k per query,
    with zero-overlap queries still present in the output."""
    from ureplicator_spark.operators.similarity import (
        cosine_knn,
        more_like_this_ranks,
        retrieval_arm_overlap,
    )

    docs = spark.createDataFrame(
        [
            (0, "join merge sort join", "en", "web", 20),
            (1, "join merge sort sort", "en", "web", 20),
            (2, "scan filter window scan", "en", "web", 24),
            (3, "join merge merge sort", "en", "web", 21),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0] + [0.0] * 62, 0),
            (1, [0.0, 1.0] + [0.0] * 62, 0),
            (2, [0.9, 0.1] + [0.0] * 62, 0),
            (3, [0.1, 0.9] + [0.0] * 62, 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    k = 2
    lex = {
        (r.q_id, r.c_id)
        for r in more_like_this_ranks(docs, n_queries=1, depth=k).collect()
    }
    den = {
        (r.q_id, r.c_id)
        for r in cosine_knn(emb, n_queries=1, k=k).collect()
    }
    want = len(lex & den)
    got = retrieval_arm_overlap(docs, emb, n_queries=1, k=k).collect()
    assert len(got) == 1
    assert got[0].n_common == want
    assert got[0].overlap_at_k == round(want / k, 6)


def test_nb_classifier_learns_separable_langs(spark):
    """NB must classify held-out docs of two vocabulary-disjoint
    languages perfectly (diagonal confusion matrix). doc_id % 10 >= 8
    selects ids 8, 9, 18, 19 as the test split."""
    from ureplicator_spark.operators.text import nb_lang_confusion

    rows = []
    for i in range(20):
        if i % 2 == 0:
            rows.append((i, "alpha beta gamma beta alpha", "aa", "s", 27))
        else:
            rows.append((i, "uno dos tres dos uno", "bb", "s", 20))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {(r.lang, r.lang_pred): r.n_docs for r in nb_lang_confusion(docs).collect()}
    assert got == {("aa", "aa"): 2, ("bb", "bb"): 2}


def test_bigram_lm_matches_hand_computation(spark):
    """Cross-entropy reproduced by a pure-Python reference on a tiny
    corpus (third engine), including the interpolation weights."""
    import math

    from ureplicator_spark.operators.text import bigram_lm_score

    texts = {0: "a b a b a", 1: "a b c a b", 2: "c c a b b"}
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    toks = {i: t.split(" ") for i, t in texts.items()}
    uni, big = {}, {}
    for t in toks.values():
        for w in t:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(t, t[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    n1 = sum(uni.values())
    def micro6(x: float) -> int:
        return int(math.copysign(math.floor(abs(x) * 1e6 + 0.5), x)) if x else 0

    want = {}
    for i, t in toks.items():
        ps = [
            0.75 * (big[(a, b)] / uni[a]) + 0.25 * (uni[b] / n1)
            for a, b in zip(t, t[1:])
        ]
        # r11 exactness contract: per-term micro-units, exact integer
        # sum, one division, 6-dp floor chain
        s6 = sum(micro6(-math.log(p)) for p in ps)
        want[i] = (
            len(ps),
            math.floor(s6 / (len(ps) * 1e6) * 1e6 + 0.5) / 1e6,
        )
    got = {
        r.doc_id: (r.n_bigrams, r.cross_entropy)
        for r in bigram_lm_score(docs).collect()
    }
    assert got == want


def test_kmv_overlap_exact_when_union_fits_synopsis(spark):
    """With fewer distinct shingles than k, the synopsis IS the set:
    union/intersection/Jaccard estimates must equal the exact values."""
    from ureplicator_spark.operators.sketch import kmv_source_overlap_gauged

    # src A: shingles over "w1..w6" (4 shingles); src B shares a
    # 3-token suffix window with A's text and adds its own.
    docs = spark.createDataFrame(
        [
            (0, "w1 w2 w3 w4 w5 w6", "en", "A", 17),
            (1, "w4 w5 w6 w7 w8", "en", "B", 14),
            (2, "w7 w8 w9", "en", "B", 8),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = kmv_source_overlap_gauged(docs, k=64).collect()
    assert len(rows) == 1
    r = rows[0]
    # A: {w1w2w3, w2w3w4, w3w4w5, w4w5w6}; B: {w4w5w6, w5w6w7, w6w7w8,
    # w7w8w9} -> union 7, intersection 1
    assert (r.true_union, r.true_inter) == (7, 1)
    assert r.n_synopsis == 7
    assert r.union_est == 7.0
    assert r.inter_est == 1.0
    assert r.jaccard_est == round(1 / 7, 6)


def _winnow_ref(text: str, k: int = 8, w: int = 4):
    """Oblivious Python winnowing (Schleimer SIGMOD'03): min per window,
    rightmost tie-break, distinct (pos, hash) fingerprints."""
    import hashlib
    import re

    s = re.sub(r"[^a-z0-9]", "", text.lower())
    n = len(s) - k + 1
    if n < w:
        return None
    hs = [
        int(hashlib.md5(s[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(n)
    ]
    sel = set()
    for j in range(n - w + 1):
        bh, bp = None, None
        for i in range(j, j + w):
            if bh is None or hs[i] <= bh:
                bh, bp = hs[i], i + 1  # 1-based, matching the engine
        sel.add((bp, bh))
    return n, sel


def test_winnowing_matches_python_reference(spark):
    """Engine fingerprints (positions AND hashes) equal the oblivious
    reference; short docs are excluded; density within the paper's
    bounds (every window selects ⇒ 1/w ≤ density ≤ 1)."""
    from ureplicator_spark.operators.text import winnow_fingerprints

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "aaaaaaaaaaaaaaaaaaaaaaaa"),  # degenerate: all grams equal
        (3, "tiny"),  # below k+w-1 after normalization → excluded
        (4, "punct-and CASE Should:not;matter 123 mixed!"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_kgrams"], {(p["p"], p["h"]) for p in r["fingerprints"]})
        for r in winnow_fingerprints(docs).collect()
    }
    assert 3 not in got
    for doc_id, text in rows:
        ref = _winnow_ref(text)
        if ref is None:
            continue
        assert got[doc_id] == ref, doc_id
        n, sel = ref
        density = len(sel) / (n - 4 + 1)
        assert 1 / 4 <= density <= 1.0


def test_winnowing_guarantee_shared_substring_is_detected(spark):
    """The winnowing guarantee: two docs sharing a substring of length
    ≥ k + w - 1 = 11 (normalized) ALWAYS share a fingerprint hash —
    the property that makes local fingerprints a partial-overlap
    detector. Also: disjoint-alphabet docs share nothing."""
    from ureplicator_spark.operators.text import winnowing_overlap_pairs

    shared = "zqxjvzqkwpfmbtrl"  # 16 rare chars ≥ guarantee threshold
    docs = spark.createDataFrame(
        [
            (1, "left context words here " + shared + " and a long unique tail one"),
            (2, "completely different opening " + shared + " other unique ending two"),
            (3, "disjoint document with none of that content anywhere inside it"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in winnowing_overlap_pairs(docs, min_shared=1).collect()
    }
    assert any(k == (1, 2) for k in pairs), pairs
    assert all(3 not in k for k in pairs), pairs


def test_split_leakage_classifies_pairs_by_split(spark):
    """Leakage matrix equals a hand computation: pair splits derived
    with the same md5 bucketing, canonical (least, greatest) ordering,
    exact sum_matches, sub-threshold pairs dropped."""
    import hashlib

    from ureplicator_spark.operators.text import split_leakage

    def split_of(doc_id: int) -> str:
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    docs = spark.createDataFrame(
        [(i, "t") for i in range(40)], "doc_id long, text string"
    )
    pair_rows = [
        (0, 1, 1.0),
        (2, 3, 0.875),
        (4, 5, 0.5),
        (6, 7, 0.25),  # below threshold → excluded
        (8, 9, 0.75),
    ]
    pairs = spark.createDataFrame(
        pair_rows, "doc_a long, doc_b long, est_jaccard double"
    )
    got = {
        (r["split_a"], r["split_b"]): (r["n_pairs"], r["sum_matches"], r["max_jaccard"])
        for r in split_leakage(docs, pairs).collect()
    }
    expect: dict = {}
    for a, b, j in pair_rows:
        if j < 0.5:
            continue
        key = tuple(sorted((split_of(a), split_of(b))))
        n, s, m = expect.get(key, (0, 0, 0.0))
        expect[key] = (n + 1, s + int(j * 8), max(m, j))
    assert got == expect, (got, expect)


def _quantized_embedding_matrix(spark, sf_dir):
    """Oblivious (vec_id-sorted) int64 matrix with the engine's HALF_UP
    quantization — NumPy's round is half-even, Spark/DuckDB's is not."""
    import numpy as np

    from ureplicator_spark.sources.parquet import load_table

    rows = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return (np.sign(X) * np.floor(np.abs(X * 1000) + 0.5)).astype(np.int64)


def _floor6_signed(x: float) -> float:
    """The shipped sign-aware floor chain (half away from zero in
    binary FP — NOT Python round()'s half-even on decimal values):
    sign(x)*floor(|x|*1e6 + 0.5)/1e6 + 0.0, op-for-op."""
    import math

    return math.copysign(1.0, x) * math.floor(abs(x) * 1e6 + 0.5) / 1e6 + 0.0 if x else 0.0


def test_embedding_covariance_matches_numpy_exact(spark, sf_dir):
    """Operator covariance equals the oblivious NumPy computation cell
    for cell — same integers, same DECIMAL-exact numerator, same final
    divide+round — regardless of Arrow batch boundaries."""
    import numpy as np

    from ureplicator_spark.operators.similarity import embedding_covariance
    from ureplicator_spark.sources.parquet import load_table

    Q = _quantized_embedding_matrix(spark, sf_dir)
    n = Q.shape[0]
    G = Q.T @ Q
    s = Q.sum(axis=0)
    got = {
        (r["i"], r["j"]): (r["n"], r["cov"])
        for r in embedding_covariance(
            load_table(spark, sf_dir, "embeddings")
        ).collect()
    }
    assert len(got) == 64 * 65 // 2
    for i in range(64):
        for j in range(i, 64):
            num = int(n) * int(G[i, j]) - int(s[i]) * int(s[j])
            ref = _floor6_signed(num / (float(n) * float(n) * 1e6))
            assert got[(i + 1, j + 1)] == (n, ref), (i, j)


def test_pca_components_match_oblivious_numpy(spark, sf_dir):
    """PCA component table equals an end-to-end NumPy reference (exact
    covariance → eigh → same sign/rounding conventions); explained
    ratios are a proper distribution over the full spectrum."""
    import numpy as np

    from ureplicator_spark.operators.similarity import pca_components
    from ureplicator_spark.sources.parquet import load_table

    Q = _quantized_embedding_matrix(spark, sf_dir)
    n = Q.shape[0]
    G, s = Q.T @ Q, Q.sum(axis=0)
    C = np.zeros((64, 64))
    for i in range(64):
        for j in range(i, 64):
            num = int(n) * int(G[i, j]) - int(s[i]) * int(s[j])
            C[i, j] = C[j, i] = _floor6_signed(num / (float(n) * float(n) * 1e6))
    vals, vecs = np.linalg.eigh(C)
    # stable descending sort — the shipped tie-break for degenerate
    # spectra (plain argsort[::-1] disagrees exactly there)
    order = np.argsort(-vals, kind="stable")[:8]
    total = float(vals.sum())
    expect = []
    for rank, idx in enumerate(order, 1):
        v = vecs[:, idx]
        m = int(np.argmax(np.abs(v)))
        if v[m] < 0:
            v = -v
        expect.append(
            (rank, round(float(vals[idx]), 6), round(float(vals[idx] / total), 6),
             m + 1, round(float(v[m]), 6))
        )
    got = [
        (r["component"], r["eigenvalue"], r["explained_ratio"], r["top_dim"],
         r["top_weight"])
        for r in pca_components(
            load_table(spark, sf_dir, "embeddings")
        ).orderBy("component").collect()
    ]
    assert got == expect
    assert all(g[1] >= 0 or abs(g[1]) < 1e-9 for g in got)  # PSD spectrum
    assert 0 < sum(g[2] for g in got) <= 1.0 + 1e-9


def test_pca_projection_integer_exact(spark, sf_dir):
    """pca_project equals the NumPy integer dot for every vector and
    component — the zip_with/aggregate fold introduces no float drift."""
    import numpy as np

    from ureplicator_spark.operators.similarity import pca_project
    from ureplicator_spark.sources.parquet import load_table

    rng = np.random.RandomState(7)
    W = rng.uniform(-1, 1, size=(3, 64))
    Q = _quantized_embedding_matrix(spark, sf_dir)
    Wq = (np.sign(W) * np.floor(np.abs(W * 1000) + 0.5)).astype(np.int64)
    ref = (Q @ Wq.T).astype(np.float64) / 1e6  # vec-id-sorted rows
    emb = load_table(spark, sf_dir, "embeddings")
    got = pca_project(emb, W).orderBy("vec_id").collect()
    assert len(got) == Q.shape[0]
    for row, expect in zip(got, ref):
        for c in range(3):
            assert row[f"pc{c + 1}"] == expect[c], (row["vec_id"], c)


def test_embedding_covariance_invariant_to_partitioning(spark, sf_dir):
    """The mapInPandas Gram path must give the SAME matrix for any
    Arrow batch boundaries — 1 partition vs many, tiny batches vs one:
    the integer partial sums are associative and the final combine is
    DECIMAL-exact, so partitioning can never leak into the result."""
    from ureplicator_spark.operators.similarity import embedding_covariance
    from ureplicator_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = {
        (r["i"], r["j"]): (r["n"], r["cov"])
        for r in embedding_covariance(emb).collect()
    }
    for parts in (1, 7):
        got = {
            (r["i"], r["j"]): (r["n"], r["cov"])
            for r in embedding_covariance(emb.repartition(parts)).collect()
        }
        assert got == base, parts


def test_winnowing_threshold_length_edge(spark):
    """A doc whose normalized length is EXACTLY k + w - 1 forms one
    window and yields exactly one fingerprint; one char shorter is
    excluded entirely."""
    from ureplicator_spark.operators.text import winnow_fingerprints

    docs = spark.createDataFrame(
        [(1, "abcdefghijk"), (2, "abcdefghij")],  # 11 and 10 chars
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in winnow_fingerprints(docs).collect()}
    assert set(rows) == {1}
    assert rows[1]["n_kgrams"] == 4  # 11 - 8 + 1
    assert len(rows[1]["fingerprints"]) == 1  # a single window selects once


def test_source_length_psi_hand_computed(spark):
    """PSI equals the hand formula on a tiny corpus with a MISSING
    bucket (smoothing must price it, not crash), identical sources
    score ~0, and a shifted source scores strictly higher."""
    import math

    from ureplicator_spark.operators.text import source_length_psi

    # srcA: lengths 3,3,7 (buckets 2,2,3); srcB: 3,7,15 (2,3,4) —
    # srcA misses bucket 4 entirely
    rows = [
        (1, "a", "srcA", 3), (2, "a", "srcA", 3), (3, "a", "srcA", 7),
        (4, "a", "srcB", 3), (5, "a", "srcB", 7), (6, "a", "srcB", 15),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    got = {r["source"]: r for r in source_length_psi(docs).collect()}

    corpus = {2: 3, 3: 2, 4: 1}  # bucket -> corpus count; T=6, B=3
    for source, counts in (
        ("srcA", {2: 2, 3: 1, 4: 0}),
        ("srcB", {2: 1, 3: 1, 4: 1}),
    ):
        ts = sum(counts.values())
        psi = 0.0
        for b, nc in corpus.items():
            p = (counts[b] + 1) / (ts + 3)
            q = (nc + 1) / (6 + 3)
            psi += (p - q) * math.log(p / q)
        expect = math.floor(psi * 1e6 + 0.5) / 1e6
        assert got[source]["psi"] == expect, source
        assert got[source]["n_buckets"] == 3

    # identical length distributions → psi == 0 for both sources
    same = spark.createDataFrame(
        [(i, "a", "s" + str(i % 2), 10 + (i // 2) % 3) for i in range(12)],
        "doc_id long, text string, source string, n_chars long",
    )
    for r in source_length_psi(same).collect():
        assert r["psi"] == 0.0 and r["band"] == "stable", r


def test_norms_null_embedding_produces_no_row(spark):
    """norms() contract: a NULL embedding yields NO output row (the
    explode-era inner-join semantics), not a (vec_id, NULL) row — the
    map-only r11 refold must not widen the relation silently."""
    from pyspark.sql import types as T

    from ureplicator_spark.operators.similarity import norms

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    emb = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, None), (2, [0.0, 0.0])], schema
    )
    got = {r.vec_id: r.norm for r in norms(emb).collect()}
    assert got == {0: 5.0, 2: 0.0}


def test_values_df_roundtrips_hostile_strings_and_floats(spark):
    """values_df (the VALUES LocalRelation that replaced hot-path
    createDataFrame calls in r13) must round-trip payloads exactly:
    backslashes (Spark's default parser C-escapes string literals, so
    a raw backslash must be doubled), quotes, newlines, unicode, and
    shortest-repr doubles."""
    from ureplicator_spark.functions import values_df

    rows = [
        (1, "back\\slash", 0.1),
        (2, "new\nline\tand'quote'", -1.5e-7),
        (3, "unié中", 2.0 / 3.0),
        (4, "\\n literal not newline", 1e300),
    ]
    got = sorted(
        tuple(r) for r in values_df(spark, rows, "k int, s string, x double").collect()
    )
    assert got == sorted(rows)
