"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one callable per implemented SURVEY.md §2 operator.
``oracle_sql()`` — DuckDB-equivalent SQL per query for the hash gate.

Implementations live in ``ureplicator_spark/``; this file only adapts
the registry to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ureplicator_spark.queries import QUERIES  # noqa: E402

# Registry order is the NATURAL (implementation) order of QUERIES,
# except that queries that were never driver-checked, or whose
# implementation or oracle SQL changed since their last driver
# hash-check, are hoisted to the front so the next driver window
# (first ~50 entries) verifies them. The full registry is ALSO gated
# locally every round by tests/test_oracle_parity.py against DuckDB at
# sf0.001 and sf0.01, so the driver window is a sample, not the only
# correctness gate.
_CHANGED_SINCE_LAST_CHECK = [
    # Every query that reads a standing artifact: the artifacts moved to
    # the ureplicator_spark.standing registry, keyed by an input
    # snapshot (values identical, oracle SQL untouched).
    "dedup_minhash_lsh_pairs", "fuzzy_dedup_clusters", "embedding_kmeans",
    "dedup_semantic_pairs", "dedup_semantic_summary", "similarity_ann_recall",
    "dedup_containment", "dedup_threshold_sweep", "dedup_keep_best",
    "embedding_pq_codes", "similarity_pq_adc", "dedup_signal_agreement",
    "similarity_pq_recall", "dedup_cluster_stats", "lang_ngram_classifier",
    "similarity_multiprobe_recall", "dedup_token_savings",
    "dedup_jaccard_prefix_join", "bm25_index_search", "phrase_index_search",
    "kmv_source_overlap", "bpe_learn_merges", "bpe_segment_stats",
    "cdc_incremental_dedup", "winnowing_fingerprints", "winnowing_overlap_pairs",
    "split_leakage_check", "media_incremental_dedup", "text_incremental_dedup",
    "media_frame_incremental_dedup",
    # The LSH ANN family now shares one candidate scorer, the media
    # fingerprinters one payload pass, and replicate_transform joins one
    # driver-composed route lookup (rows and oracle SQL untouched).
    "similarity_lsh_ann", "similarity_filtered_ann", "similarity_multiprobe_ann",
    "media_dhash", "media_dhash_near_pairs", "media_audio_fingerprint",
    "media_audio_near_pairs", "media_frame_signatures", "media_frame_near_pairs",
    "media_dedup_clusters", "media_frame_dedup_clusters", "replicate_transform",
]


def _ordered_names() -> list[str]:
    rest = [n for n in QUERIES if n not in _CHANGED_SINCE_LAST_CHECK]
    return _CHANGED_SINCE_LAST_CHECK + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's core replicate transform (P1-P4, J1)."""
    fn, _ = QUERIES["replicate_transform"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name][0] for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: QUERIES[name][1]
        for name in _ordered_names()
        if QUERIES[name][1] is not None
    }
