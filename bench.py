#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE compact JSON line (the LAST
stdout line, sized well under the driver's 2000-char tail):
{"metric": ..., "value": cold_total_sec, "unit": "sec",
 "queries": {cold per-query}, "warm_sequential_total_sec": ...,
 "extended_total_sec": ..., "concurrent_makespan_sec": ..., "sf": ...}

Full per-query detail (warm/extended medians, every rep) goes to
bench_detail.json next to this file — r5/r6 printed the detail map
FIRST on stdout and the driver's tail truncation dropped the headline
two rounds running (r6 verdict #4).

Noise discipline: this host shows ~2x wall-clock spread on identical
code within one session (r6 verdict measured it), so single-shot
numbers cannot support regression calls. Warm and extended passes run
REPS (default 3) repetitions per query and report the MEDIAN; the
cold pass is single-shot by definition (first touch pays codegen +
plan construction exactly once).

Cache discipline: every timed run executes inside caching.pin_scope,
so operator-persisted intermediates (signature tables, shingle views)
are released per-invocation — the extended pass needs no clearCache
workaround and pinned-RDD population stays flat across the run
(asserted at the end; tests/test_api.py gates the same contract).

Each query is forced end-to-end with a noop sink (full computation,
no driver collect overhead).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

# headline set: data plane, control plane, relational, LLM-pipeline
BENCH_QUERIES = [
    "replicate_transform",
    "bounded_replication",
    "consumer_lag",
    "workload_windows",
    "workload_max_lookback",
    "instance_load",
    "event_sessionization",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "text_token_stats",
    "text_quality_score",
    "doc_fingerprint",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "similarity_knn_bruteforce",
    "similarity_lsh_buckets",
    "similarity_ivf_search",
    "workload_asof",
    "route_range_assignment",
    "promo_revenue_monthly",
    "large_volume_orders",
    "corpus_clean",
    "q8_market_share",
    "text_tfidf_top_terms",
    "topic_quota_sample",
    "q9_product_type_profit",
    "q13_customer_distribution",
    "q20_excess_stock_suppliers",
    "q21_sole_failed_supplier",
    "doc_chunks",
    "boilerplate_shingles",
]

# Round-5 additions, timed but kept OUT of the headline total so
# cross-round totals stay comparable on the original 34-query set.
EXTENDED_QUERIES = [
    "user_retention", "event_funnel", "embedding_kmeans",
    "similarity_ann_recall", "chunk_dedup", "token_count_bpe",
    "dedup_containment", "dedup_threshold_sweep", "workload_rate_spikes",
    "doc_perplexity_proxy", "source_unigram_kl", "token_shard_packing",
    "dedup_keep_best", "embedding_pq_codes", "similarity_pq_adc",
    "dedup_exact_substring", "multimodal_pcm_energy", "workload_trend",
    "dedup_signal_agreement", "curation_pipeline", "similarity_pq_recall",
    "lang_id_confusion", "workload_capacity_forecast", "event_props_stats",
    "dedup_semantic_pairs", "dsir_importance_weights", "event_transitions",
    "similarity_retrieve_docs", "workload_cube", "dedup_semantic_summary",
    "orders_snapshot_diff", "dedup_cluster_stats", "similarity_multiprobe_ann",
    "lang_ngram_classifier", "approx_distinct_tokens", "approx_distinct_orders",
    "similarity_multiprobe_recall", "token_pmi_collocations",
    "cms_token_counts", "bloom_decontamination", "weighted_sample_docs",
    "event_value_outliers", "dedup_token_savings",
    "approx_distinct_users_rolling", "dedup_jaccard_prefix_join",
    "table_profile", "histogram_quantiles",
    # round-7 additions: retrieval family + incremental-index lifecycles
    # (the two *_index lifecycles time build+append+search end-to-end).
    "similarity_ivf_incremental", "text_bm25_search",
    "similarity_hybrid_rrf", "bm25_index_search", "retrieval_arm_overlap",
    "doc_bigram_perplexity", "nb_lang_confusion", "kmv_source_overlap",
    # round-8 additions: the single-pass production profile twin,
    # in-engine BPE tokenizer training (iteration-constant-bound at
    # fixture SF, like the CC label-prop loop) and content-defined
    # chunk dedup over binary payloads.
    "table_profile_approx", "bpe_learn_merges", "bpe_segment_stats",
    "cdc_chunk_dedup", "sequence_packing", "training_shard_stats",
    "embedding_source_drift",
    # round-9 additions: winnowing local fingerprints + the cross-split
    # near-dup leakage audit (rides the standing LSH pair table).
    "winnowing_fingerprints", "winnowing_overlap_pairs",
    "split_leakage_check", "embedding_covariance",
    "embedding_pca_components", "source_length_psi",
    # round-10 additions: perceptual image near-dup (dHash + Hamming
    # banding over originals ∪ resize-stub variants) and the acoustic
    # energy-delta fingerprint twin (originals ∪ volume-halved).
    "media_dhash", "media_dhash_near_pairs",
    "media_audio_fingerprint", "media_audio_near_pairs",
    "media_incremental_dedup", "media_dedup_clusters",
    # round-11 additions: the mergeable HDR quantile sketch, its exact
    # gauge twin, and the hash-gated incremental TEXT dedup lifecycle.
    "workload_quantile_sketch", "workload_percentiles",
    "text_incremental_dedup", "cdc_incremental_dedup",
    # round-11: shot-level near-dup — per-frame dHash sequences +
    # frame shingles catch re-cut clips no whole-payload hash survives.
    "media_frame_signatures", "media_frame_near_pairs",
    "media_frame_incremental_dedup", "media_frame_dedup_clusters",
    # round-12: exact-phrase retrieval — batch positional intersection
    # and the bucket-pruned standing positional-index probe.
    "lexical_phrase_search", "phrase_index_search",
]


def F_col_id():
    from pyspark.sql import functions as F

    return F.col("id")


def _ivf_search(spark, sf_dir):
    """Timed side of the persisted-IVF pair: the index build is a
    one-off amortized cost (like building any secondary index); the
    production query shape is the DPP-pruned search, so that is what
    the bench times."""
    from ureplicator_spark import standing
    from ureplicator_spark.sources.ivf_index import search_ivf_index

    root = standing.get("ivf", spark, sf_dir)
    return search_ivf_index(spark, root, _q10(spark, sf_dir))


def _ivfpq_search(spark, sf_dir):
    from ureplicator_spark import standing
    from ureplicator_spark.sources.pq_index import search_ivfpq_index

    root = standing.get("ivfpq", spark, sf_dir)
    return search_ivfpq_index(spark, root, _q10(spark, sf_dir))


def _q10(spark, sf_dir):
    from pyspark.sql import functions as F

    from ureplicator_spark.sources.parquet import load_table

    return load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)


def main() -> None:
    import gc
    import shutil
    import tempfile

    from ureplicator_spark import standing
    from ureplicator_spark.caching import pin_scope
    from ureplicator_spark.queries import QUERIES
    from ureplicator_spark.session import get_spark

    # A ~250-query session under the 24g test default accumulates
    # enough heap litter that LATE sweeps degrade — measured
    # 2026-08-15: cdc_chunk_dedup timed reps 12-21 s at 24g vs
    # [5.1, 5.1, 4.4] at 48g (1.3 s standalone), extended_min_total
    # 111.7 -> 99.3 s. The bench sizes its one driver like a real
    # deployment would; tests keep the lean default.
    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    spark = get_spark("ureplicator-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def timed(fn) -> float:
        """One end-to-end run inside a pin scope: operator caches are
        alive for the action and released on exit, so no run inherits
        (or leaks) another's pinned blocks."""
        with pin_scope():
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            return round(time.perf_counter() - t0, 3)

    def pinned_rdd_count() -> int:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return jmap.size()

    # JVM/codegen warmup (not data-dependent): tiny SYNTHETIC jobs
    # through the operator classes the bench exercises, so the first
    # timed queries aren't paying generic JIT (Janino, parquet-mr,
    # window/join exec, Python worker fork + numpy import) on top of
    # their own codegen. r12: the single range→groupBy warmup left the
    # stated goal unmet — on a slow-single-thread host the first cold
    # query paid ~4.5 s of shared JIT (measured: q1 cold 4.5 s after
    # the old warmup vs 1.9 s after this one, warm 0.9 s either way).
    # Everything here is spark.range-derived; no benchmark table is
    # touched, nothing a timed query computes is precomputed.
    spark.range(1_000_000).groupBy((F_col_id() % 10).alias("k")).count().write.format(
        "noop"
    ).mode("overwrite").save()
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    _warm_dir = tempfile.mkdtemp(prefix="ureplicator_bench_warm_")
    _syn = spark.range(1_000_000).select(
        "id", (F.col("id") % 97).alias("k"), F.md5(F.col("id").cast("string")).alias("s")
    )
    _syn.write.mode("overwrite").parquet(_warm_dir + "/t")
    _p = spark.read.parquet(_warm_dir + "/t")
    _w = Window.partitionBy("k").orderBy("id")
    (
        _p.join(_p.groupBy("k").agg(F.count("*").alias("c")), "k")
        .join(F.broadcast(spark.range(97).select(F.col("id").alias("k"))), "k")
        .select(
            "id", "k", "c",
            F.row_number().over(_w).alias("rn"),
            F.explode(F.split("s", "a")).alias("tok"),
        )
        .groupBy("tok")
        .agg(F.sum("c"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    def _py_warm(batches):
        import numpy as np  # noqa: F401 — warm the worker-side import

        yield from batches

    _p.limit(10_000).mapInPandas(_py_warm, schema=_p.schema).write.format(
        "noop"
    ).mode("overwrite").save()

    # Standing-build codegen warmup (r13, measurement fix — guide §1):
    # the minhash signature fold and the media section chain compile
    # very large generated classes; their FIRST compile in a session
    # measured 6-66 s depending on C2 state (~4 s steady-state), i.e.
    # the reported *_build_sec was mostly a one-off JIT/codegen storm,
    # not the build (r13: four back-to-back builds in one process ran
    # 64.8 / 17.3 / 4.5 / 4.1 s on an idle host). Build each index once
    # over TINY SYNTHETIC parquet docs with the production schema (same
    # plan shapes -> codegen cache + C2 warm) so the timed builds below
    # report the build itself. Synthetic data only — no benchmark table
    # is touched, nothing a timed build or query computes is
    # precomputed; outputs are deleted immediately.
    _syn_docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.md5((F.col("id") * 37 + i).cast("string")) for i in range(12)]
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("syn").alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))
    _syn_docs.write.mode("overwrite").parquet(_warm_dir + "/docs")
    _fake_docs = spark.read.parquet(_warm_dir + "/docs")
    from ureplicator_spark.operators.multimodal import documents_as_media
    from ureplicator_spark.sources.media_index import build_media_index
    from ureplicator_spark.sources.minhash_index import build_minhash_index

    build_minhash_index(_fake_docs, _warm_dir + "/mh", shingle_arrays=True)
    build_media_index(documents_as_media(_fake_docs), _warm_dir + "/media")
    _syn_emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 16), i -> cast(pmod(vec_id * i, 97) as float) / 97.0)"
        ).alias("embedding"),
        F.lit(0).alias("label"),
    )
    from ureplicator_spark.operators.lloyd import lloyd_assignments

    lloyd_assignments(_syn_emb, k=8, iters=2, qscale=1000).write.format(
        "noop"
    ).mode("overwrite").save()
    shutil.rmtree(_warm_dir, ignore_errors=True)

    # Standing artifacts (indexes and trained models), built once here
    # and reported as <kind>_build_sec — NOT in the headline totals,
    # which time the production probe shapes, but visible so nothing is
    # silently off-the-clock. ivfpq builds after the pin gauge below.
    for kind in standing.BUILDERS:
        if kind != "ivfpq":
            standing.get(kind, spark, SF_DIR)
    extra = {"similarity_ivf_search": _ivf_search}

    pins_baseline = pinned_rdd_count()

    # Cold pass: single-shot by definition (first touch pays codegen +
    # plan construction once; a repeat is warm). Stays the headline
    # `value` for cross-round comparability.
    cold: dict[str, float] = {}
    for name in BENCH_QUERIES:
        fn = extra[name] if name in extra else QUERIES[name][0]
        cold[name] = timed(fn)

    # Steady-state sequential pass: same queries with codegen compiled
    # and fixture plans built — the recurring-query cost a long-lived
    # cluster actually pays. Runs IMMEDIATELY after the cold pass
    # (measuring at session end captured 60 queries' accumulated blocks
    # in r5's first cut). MEDIAN of REPS runs: host noise is ~2x.
    warm_runs: dict[str, list[float]] = {n: [] for n in BENCH_QUERIES}
    for _rep in range(REPS):
        for name in BENCH_QUERIES:
            fn = extra[name] if name in extra else QUERIES[name][0]
            warm_runs[name].append(timed(fn))
    warm = {n: round(statistics.median(r), 3) for n, r in warm_runs.items()}
    # MIN alongside the median: this host's contention noise is strictly
    # one-sided (a neighbor VM can only ADD wall-clock), so when >= half
    # the reps land in a contended window the median is contaminated too
    # (observed 2026-08-15: reps [16.2, 7.9, 0.7] on identical code right
    # after VM boot). min-of-reps is the standard noise-floor statistic
    # for "what does this code cost" under additive noise.
    warm_min = {n: round(min(r), 3) for n, r in warm_runs.items()}

    # Extended pass, median of REPS over REPS+1 sweeps with the FIRST
    # sweep dropped as an untimed warm-up: unlike the warm pass (whose
    # warm-up is the cold pass itself), extended queries' first touch
    # pays codegen + plan construction + any first-post-boot page-cache
    # misses, which contaminated two r7 medians (lang_ngram reps
    # [24.5, 13.8, 3.1] published a 13.8 s median for a 3.1 s query —
    # r7 verdict #5). Every sweep is still RECORDED in bench_detail so
    # the warm-up cost stays visible. No clearCache: pin_scope releases
    # each query's operator caches; gc keeps Py4J refs from delaying
    # the ContextCleaner on localCheckpoint blocks (CC rounds).
    ext_all_runs: dict[str, list[float]] = {}
    for _rep in range(REPS + 1):
        for name in EXTENDED_QUERIES:
            if name not in QUERIES:
                continue
            gc.collect()
            ext_all_runs.setdefault(name, []).append(timed(QUERIES[name][0]))
    ext_runs = {n: r[1:] for n, r in ext_all_runs.items()}
    extended = {n: round(statistics.median(r), 3) for n, r in ext_runs.items()}
    extended_min = {n: round(min(r), 3) for n, r in ext_runs.items()}

    # The no-leak contract the pin scopes guarantee (r6 verdict #5):
    # after cold + warm + extended, the persistent-RDD population must
    # be back at the pre-pass baseline without any clearCache. Gauged
    # HERE, before the IVF-PQ build below — its one-off localCheckpoint
    # (pq_index.py) is released asynchronously by the ContextCleaner
    # and would read as a false positive.
    gc.collect()
    pins_after = pinned_rdd_count()

    # IVF-PQ persisted index: build reported separately (amortized,
    # like ivf_build_sec), pruned ADC search timed in the extended set.
    standing.get("ivfpq", spark, SF_DIR)
    ivfpq_all_runs = [timed(_ivfpq_search) for _ in range(REPS + 1)]
    ivfpq_runs = ivfpq_all_runs[1:]  # first sweep = untimed warm-up
    ext_all_runs["similarity_ivfpq_search"] = ivfpq_all_runs
    ext_runs["similarity_ivfpq_search"] = ivfpq_runs
    extended["similarity_ivfpq_search"] = round(statistics.median(ivfpq_runs), 3)
    extended_min["similarity_ivfpq_search"] = round(min(ivfpq_runs), 3)

    # Concurrent makespan: the same 34 queries submitted together, the
    # way a shared cluster actually runs them. A single local[N] query
    # rarely saturates N cores (stage barriers, planning gaps), so the
    # scheduler overlaps jobs and most of the per-query fixed cost
    # amortizes away; the gap between sum-of-sequential and makespan is
    # the overhead that vanishes under real concurrency. pin_scope is
    # thread-local, so each worker releases exactly its own caches.
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    from concurrent.futures import ThreadPoolExecutor

    def run_one(name: str) -> None:
        fn = extra[name] if name in extra else QUERIES[name][0]
        timed(fn)

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(run_one, BENCH_QUERIES))
    concurrent_makespan = round(time.perf_counter() - t0, 3)

    built = [b for b in standing.builds if b.sf_dir == SF_DIR]
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    sf_val = float(sf) if sf else None
    totals = {
        "value": round(sum(cold.values()), 3),
        "warm_sequential_total_sec": round(sum(warm.values()), 3),
        "warm_min_total_sec": round(sum(warm_min.values()), 3),
        "extended_total_sec": round(sum(extended.values()), 3),
        "extended_min_total_sec": round(sum(extended_min.values()), 3),
        "concurrent_makespan_sec": concurrent_makespan,
        **{f"{b.kind}_build_sec": round(b.seconds, 3) for b in built},
    }

    # Full detail to a FILE (not stdout): per-query warm/extended
    # medians plus every rep, so round-over-round regression calls can
    # check spread instead of trusting one sample.
    detail = {
        "metric": "headline_query_wall_clock_total",
        "unit": "sec",
        "sf": sf_val,
        "reps": REPS,
        **totals,
        "queries": cold,
        "warm_queries": warm,
        "warm_min_queries": warm_min,
        "extended_queries": extended,
        "extended_min_queries": extended_min,
        "warm_runs": warm_runs,
        # first element of each list is the UNTIMED warm-up sweep,
        # excluded from extended/extended_min above
        "extended_runs": ext_all_runs,
        "pinned_rdds_baseline": pins_baseline,
        "pinned_rdds_after_passes": pins_after,
        "standing_bytes": {b.kind: b.bytes for b in built},
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    print(f"detail -> {detail_path}", file=sys.stderr)
    if pins_after > pins_baseline:
        print(
            f"WARNING: pinned RDDs grew {pins_baseline} -> {pins_after}",
            file=sys.stderr,
        )

    # THE one JSON line, printed LAST: compact headline (cold per-query
    # map + totals) — fits the driver's 2000-char tail.
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_clock_total",
                "unit": "sec",
                "sf": sf_val,
                "reps": REPS,
                **totals,
                "queries": cold,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
