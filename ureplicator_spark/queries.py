"""Query registry: every implemented operator from SURVEY.md §2 as a
(spark_builder, duckdb_oracle_sql) pair.

``QUERIES[name] = (fn, sql)`` where ``fn(spark, sf_dir) -> DataFrame``
and ``sql`` is ANSI SQL DuckDB runs over the same parquet views. The
driver hash-compares both result sets (order-insensitive, columns
sorted by name) — so every computed column is aliased identically on
both sides, doubles are rounded/decimal-cast identically, and only
engine-portable primitives (integer math, md5, length/substr) feed
grouping keys.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ureplicator_spark import fixtures as FX
from ureplicator_spark import standing
from ureplicator_spark.functions import md5_long, round6f, round6s, values_df
from ureplicator_spark.operators import assignment as ASG
from ureplicator_spark.operators import lag as LAG
from ureplicator_spark.operators import replicate as R
from ureplicator_spark.operators import whitelist as WL
from ureplicator_spark.operators import workload as WKL

QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = (fn, sql)
        return fn

    return deco


def _with(*parts: str) -> str:
    """WITH cte1, cte2 ... SELECT-body (last arg is the body)."""
    *ctes, body = parts
    return "WITH " + ",\n".join(ctes) + "\n" + body


# ---------------------------------------------------------------------------
# Data plane: replicate transform (S1/S3, P1-P4, J1) over the record log
# ---------------------------------------------------------------------------

_REPLICATE_SQL = f"""
WITH {FX.RECORDS_CTE},
{FX.TOPIC_MAPPING_CTE},
{FX.PARTITION_COUNTS_CTE}
SELECT r.topic AS src_topic,
       r."partition" AS src_partition,
       r."offset" AS offset,
       COALESCE(m.dst_topic, r.topic) AS topic_out,
       CASE WHEN pc.num_partitions IS NOT NULL AND r."partition" >= 0
            THEN r."partition" % pc.num_partitions ELSE NULL END AS partition_out,
       CASE WHEN r.ts_sec <= 0 THEN NULL ELSE r.ts_sec END AS ts_out,
       r.value_size AS value_size
FROM records r
LEFT JOIN topic_mapping m ON r.topic = m.src_topic
LEFT JOIN partition_counts pc ON COALESCE(m.dst_topic, r.topic) = pc.topic
WHERE NOT r.topic = 'error'
"""


@register("replicate_transform", _REPLICATE_SQL)
def q_replicate_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 rename + P2 remap + P3 ts-normalize + P4 drop + J1 broadcast map."""
    rec = FX.records(spark, sf_dir)
    out = R.replicate_transform(
        rec,
        FX.topic_mapping(spark),
        FX.partition_counts(spark),
        drop_predicate=F.col("topic") == "error",
    )
    return out.select(
        F.col("topic").alias("src_topic"),
        F.col("partition").alias("src_partition"),
        F.col("offset"),
        F.col("dst_topic").alias("topic_out"),
        F.col("dst_partition").alias("partition_out"),
        F.col("ts_sec").alias("ts_out"),
        F.col("value_size"),
    )


_BOUNDED_SQL = f"""
WITH {FX.RECORDS_CTE}
SELECT topic, "partition" AS partition,
       COUNT(*) AS n_records,
       MIN("offset") AS min_offset,
       MAX("offset") AS max_offset,
       CAST(SUM(value_size) AS BIGINT) AS total_bytes
FROM records
WHERE "offset" >= 100 AND "offset" < 600
GROUP BY topic, "partition"
"""


@register("bounded_replication", _BOUNDED_SQL)
def q_bounded_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/T10: bounded [start, end) per-partition replication counts."""
    rec = FX.records(spark, sf_dir)
    out = R.bounded_counts(rec, 100, 600)
    return out.withColumn("total_bytes", F.col("total_bytes").cast("long"))


# ---------------------------------------------------------------------------
# Control plane: lag / no-progress (J2, A1, A2, F6)
# ---------------------------------------------------------------------------

_COMMITTED_CTE = f"""
committed AS (
  SELECT topic, "partition", MAX("offset") AS commit_offset
  FROM records WHERE ts_sec <= {FX.SNAPSHOT_T1}
  GROUP BY topic, "partition"
)
""".strip()

_LATEST_CTE = """
latest AS (
  SELECT topic, "partition", MAX("offset") AS latest_offset
  FROM records GROUP BY topic, "partition"
)
""".strip()

_LAG_SQL = _with(
    FX.RECORDS_CTE,
    _COMMITTED_CTE,
    _LATEST_CTE,
    """
SELECT l.topic, l."partition" AS partition, l.latest_offset,
       COALESCE(c.commit_offset, -1) AS commit_offset,
       GREATEST(0, l.latest_offset - GREATEST(COALESCE(c.commit_offset, 0), 0)) AS lag
FROM latest l LEFT JOIN committed c USING (topic, "partition")
""",
)


@register("consumer_lag", _LAG_SQL)
def q_consumer_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 latest ⋈ committed + A1/F6 clamped lag per partition."""
    rec = FX.records(spark, sf_dir)
    return LAG.consumer_lag(rec, FX.SNAPSHOT_T1)


_C1_CTE = f"""
c1 AS (SELECT topic, "partition", MAX("offset") AS commit_t1
       FROM records WHERE ts_sec <= {FX.SNAPSHOT_T1} GROUP BY topic, "partition")
""".strip()

_NO_PROGRESS_SQL = _with(
    FX.RECORDS_CTE,
    _C1_CTE,
    FX.stalled_c2_cte(FX.SNAPSHOT_T2),
    _LATEST_CTE,
    """
SELECT l.topic, l."partition" AS partition, c2.commit_t2,
       GREATEST(0, l.latest_offset - COALESCE(c2.commit_t2, 0)) AS lag
FROM latest l
LEFT JOIN c1 USING (topic, "partition")
LEFT JOIN c2 USING (topic, "partition")
WHERE c1.commit_t1 IS NOT NULL AND c1.commit_t1 = c2.commit_t2
  AND GREATEST(0, l.latest_offset - COALESCE(c2.commit_t2, 0)) > 0
""",
)


@register("no_progress", _NO_PROGRESS_SQL)
def q_no_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: commit offset stagnant between two monitor snapshots, lag > 0.
    The fixture seeds one stalled partition (FX.STALLED_*) so the result
    is non-empty — an empty-vs-empty oracle row proves nothing."""
    rec = FX.records(spark, sf_dir)
    c1 = LAG.committed_offsets(rec, FX.SNAPSHOT_T1)
    c2 = FX.stalled_commit_override(
        LAG.committed_offsets(rec, FX.SNAPSHOT_T2), c1
    )
    return LAG.no_progress(rec, FX.SNAPSHOT_T1, FX.SNAPSHOT_T2, c1=c1, c2=c2)


# ---------------------------------------------------------------------------
# Control plane: workload (A4-A8, T7)
# ---------------------------------------------------------------------------

_WINDOWS_CTE = f"""
ww AS (
  SELECT topic, ts_sec - (ts_sec % {FX.WINDOW_SEC}) AS window_start,
         FLOOR(CAST(SUM(value_size) AS BIGINT) / {FX.WINDOW_SEC}.0 * 1e6 + 0.5) / 1e6 AS bytes_per_sec,
         FLOOR(COUNT(*) / {FX.WINDOW_SEC}.0 * 1e6 + 0.5) / 1e6 AS msgs_per_sec
  FROM records GROUP BY topic, ts_sec - (ts_sec % {FX.WINDOW_SEC})
)
""".strip()

_WINDOWS_SQL = _with(FX.RECORDS_CTE, _WINDOWS_CTE, "SELECT * FROM ww")


@register("workload_windows", _WINDOWS_SQL)
def q_workload_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/T7: tumbling 10-min per-topic ingestion rates from the log."""
    return WKL.workload_windows(FX.records(spark, sf_dir))


_LOOKBACK_SEC = 25 * 3600  # reference coarse lookback (WorkloadInfoRetriever.java:59-64)

_MAX_LOOKBACK_SQL = _with(
    FX.RECORDS_CTE,
    _WINDOWS_CTE,
    "topics AS (SELECT DISTINCT topic FROM records UNION SELECT 'newtopic')",
    "h AS (SELECT MAX(window_start) AS max_ws FROM ww)",
    f"""
fresh AS (
  SELECT topic, MAX(bytes_per_sec) AS max_bytes_per_sec,
         MAX(msgs_per_sec) AS max_msgs_per_sec
  FROM ww, h WHERE window_start >= max_ws - {_LOOKBACK_SEC}
  GROUP BY topic
)
""".strip(),
    f"""
SELECT t.topic,
       COALESCE(f.max_bytes_per_sec, {FX.DEFAULT_BYTES_PER_SEC}) AS max_bytes_per_sec,
       COALESCE(f.max_msgs_per_sec, {FX.DEFAULT_MSGS_PER_SEC}) AS max_msgs_per_sec
FROM topics t LEFT JOIN fresh f USING (topic)
""",
)


@register("workload_max_lookback", _MAX_LOOKBACK_SQL)
def q_workload_max_lookback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-topic max rate within lookback; engineered defaults else."""
    rec = FX.records(spark, sf_dir)
    topics = rec.select("topic").distinct().union(
        values_df(spark, ["newtopic"], "topic string")
    ).distinct()
    return WKL.max_workload_lookback(
        WKL.workload_windows(rec), topics, _LOOKBACK_SEC
    )


_PARTITION_WL_CTE = """
partition_wl AS (
  SELECT topic, "partition",
         CAST(SUM(value_size) AS BIGINT) AS total_bytes,
         COUNT(*) AS total_msgs
  FROM records GROUP BY topic, "partition"
)
""".strip()

_SPAN_CTE = "span AS (SELECT CAST(MAX(ts_sec) - MIN(ts_sec) AS BIGINT) AS span_sec FROM records)"

_PARTITION_WL_SQL = _with(
    FX.RECORDS_CTE,
    _PARTITION_WL_CTE,
    _SPAN_CTE,
    """
SELECT topic, "partition" AS partition, total_bytes, total_msgs,
       FLOOR(total_bytes / span_sec * 1e6 + 0.5) / 1e6 AS bytes_per_sec,
       FLOOR(total_msgs / span_sec * 1e6 + 0.5) / 1e6 AS msgs_per_sec
FROM partition_wl, span
""",
)


@register("partition_workload", _PARTITION_WL_SQL)
def q_partition_workload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(topic, partition) exact totals + span rates (TopicWorkload)."""
    return WKL.partition_workload(FX.records(spark, sf_dir))


_INSTANCE_CTE = f"""
loads AS (
  SELECT 'worker-' || CAST(("partition" + length(topic)) % {FX.N_INSTANCES} AS VARCHAR) AS instance,
         CAST(SUM(total_bytes) AS BIGINT) AS total_bytes,
         CAST(SUM(total_msgs) AS BIGINT) AS total_msgs,
         COUNT(*) AS n_partitions
  FROM partition_wl GROUP BY 1
)
""".strip()

_INSTANCE_LOAD_SQL = _with(
    FX.RECORDS_CTE, _PARTITION_WL_CTE, _INSTANCE_CTE, "SELECT * FROM loads"
)


@register("instance_load", _INSTANCE_LOAD_SQL)
def q_instance_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: Σ workload per worker instance."""
    return WKL.instance_load(
        WKL.partition_workload(FX.records(spark, sf_dir)), FX.N_INSTANCES
    )


_OVERLOADED_SQL = _with(
    FX.RECORDS_CTE,
    _PARTITION_WL_CTE,
    _INSTANCE_CTE,
    "g AS (SELECT CAST(SUM(total_bytes) AS BIGINT) AS grand_bytes, COUNT(*) AS n_instances FROM loads)",
    """
SELECT instance, total_bytes, n_partitions,
       (total_bytes * n_instances * 5) > (grand_bytes * 6) AS overloaded
FROM loads, g
""",
)


@register("overloaded_instances", _OVERLOADED_SQL)
def q_overloaded_instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: load > avg × 1.2, in exact integer arithmetic."""
    return WKL.overloaded_instances(
        WKL.instance_load(
            WKL.partition_workload(FX.records(spark, sf_dir)), FX.N_INSTANCES
        )
    )


_EXPECTED_WORKERS_SQL = _with(
    FX.RECORDS_CTE,
    """
g AS (SELECT CAST(SUM(value_size) AS BIGINT) AS grand_bytes,
             CAST(MAX(ts_sec) - MIN(ts_sec) AS BIGINT) AS span_sec
      FROM records)
""".strip(),
    f"""
SELECT FLOOR(grand_bytes / span_sec * 1e6 + 0.5) / 1e6 AS total_bytes_per_sec,
       CAST(FLOOR((grand_bytes / span_sec) / {float(FX.MAX_WORKLOAD_PER_WORKER)} + 0.5) AS INT) + 1 AS expected_workers
FROM g
""",
)


@register("expected_workers", _EXPECTED_WORKERS_SQL)
def q_expected_workers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: round(total bytes/s ÷ 8 MiB) + 1."""
    return WKL.expected_workers(FX.records(spark, sf_dir))


# ---------------------------------------------------------------------------
# Control plane: assignment / validation (A9, A10, J5, O1, O2)
# ---------------------------------------------------------------------------

_ASSIGNMENTS_CTE = f"""
assignments AS (
  SELECT topic, "partition",
         'worker-' || CAST(("partition" + length(topic)) % {FX.N_INSTANCES} AS VARCHAR) AS instance,
         CASE WHEN ("partition" + length(topic)) % 5 = 0 THEN 'ERROR'
              WHEN ("partition" + length(topic)) % 5 = 1 THEN 'OFFLINE'
              ELSE 'ONLINE' END AS state
  FROM (SELECT DISTINCT topic, "partition" FROM records)
)
""".strip()

_VALIDATION_SQL = _with(
    FX.RECORDS_CTE,
    _ASSIGNMENTS_CTE,
    'SELECT state, COUNT(*) AS n_partitions FROM assignments GROUP BY state',
)


@register("validation_counts", _VALIDATION_SQL)
def q_validation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: ONLINE/OFFLINE/ERROR partition counts."""
    return ASG.validation_counts(
        ASG.derive_assignments(FX.records(spark, sf_dir), FX.N_INSTANCES)
    )


_VALIDATION_BY_INSTANCE_SQL = _with(
    FX.RECORDS_CTE,
    _ASSIGNMENTS_CTE,
    'SELECT instance, state, COUNT(*) AS n_partitions FROM assignments GROUP BY instance, state',
)


@register("validation_by_instance", _VALIDATION_BY_INSTANCE_SQL)
def q_validation_by_instance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 per-instance state counts."""
    return ASG.validation_by_instance(
        ASG.derive_assignments(FX.records(spark, sf_dir), FX.N_INSTANCES)
    )


_ASSIGNMENT_VIEW_SQL = _with(
    FX.RECORDS_CTE,
    _ASSIGNMENTS_CTE,
    """
SELECT instance, COUNT(*) AS n_partitions,
       array_to_string(list_sort(list(topic || ':' || CAST("partition" AS VARCHAR))), ',') AS serving
FROM assignments GROUP BY instance
""",
)


@register("assignment_view", _ASSIGNMENT_VIEW_SQL)
def q_assignment_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: per-instance canonical serving list."""
    return ASG.assignment_view(
        ASG.derive_assignments(FX.records(spark, sf_dir), FX.N_INSTANCES)
    )


_IDEAL_VS_ACTUAL_SQL = _with(
    FX.RECORDS_CTE,
    _ASSIGNMENTS_CTE,
    "ideal AS (SELECT topic, \"partition\", instance FROM assignments)",
    "actual AS (SELECT topic, \"partition\", instance AS actual_instance FROM assignments WHERE state <> 'ERROR')",
    """
SELECT topic, "partition" AS partition,
       CASE WHEN i.instance IS NULL THEN 'missing-in-ideal'
            WHEN a.actual_instance IS NULL THEN 'missing-in-external-view'
            WHEN i.instance <> a.actual_instance THEN 'instance-mismatch'
            ELSE 'match' END AS status
FROM ideal i FULL JOIN actual a USING (topic, "partition")
WHERE CASE WHEN i.instance IS NULL THEN 'missing-in-ideal'
           WHEN a.actual_instance IS NULL THEN 'missing-in-external-view'
           WHEN i.instance <> a.actual_instance THEN 'instance-mismatch'
           ELSE 'match' END <> 'match'
""",
)


@register("ideal_vs_actual", _IDEAL_VS_ACTUAL_SQL)
def q_ideal_vs_actual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: IdealState vs ExternalView full-outer mismatch set."""
    return ASG.ideal_vs_actual(
        ASG.derive_assignments(FX.records(spark, sf_dir), FX.N_INSTANCES)
    )


_TOP_PARTITIONS_SQL = _with(
    FX.RECORDS_CTE,
    _PARTITION_WL_CTE,
    """
SELECT topic, "partition" AS partition, total_bytes, rank FROM (
  SELECT topic, "partition", total_bytes,
         ROW_NUMBER() OVER (ORDER BY total_bytes DESC, topic, "partition") AS rank
  FROM partition_wl
) WHERE rank <= 5
""",
)


@register("top_partitions_by_workload", _TOP_PARTITIONS_SQL)
def q_top_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O3: heaviest partitions first (deterministic total order)."""
    return ASG.top_partitions_by_workload(
        WKL.partition_workload(FX.records(spark, sf_dir)), 5
    )


_LEAST_LOADED_SQL = _with(
    FX.RECORDS_CTE,
    _PARTITION_WL_CTE,
    _INSTANCE_CTE,
    """
SELECT instance, total_bytes, n_partitions,
       ROW_NUMBER() OVER (ORDER BY total_bytes ASC, n_partitions ASC, instance) AS pick_order
FROM loads
""",
)


@register("least_loaded_ranking", _LEAST_LOADED_SQL)
def q_least_loaded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: greedy assigner's instance preference order."""
    return ASG.least_loaded_ranking(
        WKL.instance_load(
            WKL.partition_workload(FX.records(spark, sf_dir)), FX.N_INSTANCES
        )
    )


# ---------------------------------------------------------------------------
# Control plane: whitelist set algebra (U1-U3, J3, J4, P7)
# ---------------------------------------------------------------------------

_WHITELIST_SQL = _with(
    FX.RECORDS_CTE,
    FX.SRC_EXTRA_TOPICS_CTE,
    FX.DST_TOPICS_CTE,
    FX.TOPIC_MAPPING_CTE,
    FX.BLACKLIST_CTE,
    "src_topics AS (SELECT DISTINCT topic FROM records UNION SELECT topic FROM src_extra_topics)",
    "current_wl AS (SELECT src_topic AS topic FROM topic_mapping)",
    f"""
SELECT topic FROM (
  SELECT topic FROM src_topics INTERSECT SELECT topic FROM dst_topics
) cand
WHERE topic NOT IN (SELECT topic FROM current_wl)
  AND topic NOT IN (SELECT topic FROM blacklist)
  AND NOT regexp_matches(topic, '{FX.EXCLUDE_REGEX}')
""",
)


@register("whitelist_candidates", _WHITELIST_SQL)
def q_whitelist_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2/J3/P7: (src ∩ dst) − whitelisted − blacklist − regex."""
    rec = FX.records(spark, sf_dir)
    src = rec.select("topic").distinct().union(FX.src_extra_topics(spark)).distinct()
    current = FX.topic_mapping(spark).select(F.col("src_topic").alias("topic"))
    return WL.whitelist_candidates(
        src, FX.dst_topics(spark), current, FX.blacklist(spark), FX.EXCLUDE_REGEX
    )


_MISMATCH_SQL = _with(
    FX.PARTITION_COUNTS_CTE,
    f"SELECT topic, num_partitions FROM partition_counts WHERE num_partitions <> {FX.N_SRC_PARTITIONS}",
)


@register("partition_count_mismatch", _MISMATCH_SQL)
def q_partition_count_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: destination topics whose partition count ≠ source count."""
    return WL.partition_count_mismatch(FX.partition_counts(spark), FX.N_SRC_PARTITIONS)


# ---------------------------------------------------------------------------
# Scalar functions (F1, F3, F4, F5)
# ---------------------------------------------------------------------------

_ROUTES = ["@sjc1a@sjc1-agg1@0", "@sjc1a@dca1a@1", "@dca2@dca3@0"]

_ROUTE_PARSE_SQL = (
    "SELECT route, split_part(route, '@', 2) AS src, split_part(route, '@', 3) AS dst, "
    "CAST(split_part(route, '@', 4) AS INT) AS route_id, "
    "substr(split_part(route, '@', 2), 1, 3) = substr(split_part(route, '@', 3), 1, 3) AS same_region "
    "FROM (VALUES " + ", ".join(f"('{r}')" for r in _ROUTES) + ") AS t(route)"
)


@register("route_parse", _ROUTE_PARSE_SQL)
def q_route_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 route string parse + F4 same-region prefix test."""
    from ureplicator_spark.functions import route_parse, same_region

    routes = values_df(spark, _ROUTES, "route string")
    parsed = routes.select("route", *route_parse("route"))
    return parsed.select(
        "route", "src", "dst", "route_id", same_region("src", "dst").alias("same_region")
    )


_FETCHER_SQL = _with(
    FX.RECORDS_CTE,
    f"""
SELECT topic, "partition" AS partition,
       CAST((('0x' || substr(md5(topic || '-' || CAST("partition" AS VARCHAR)), 1, 15))::BIGINT) % {FX.N_INSTANCES} AS INT) AS fetcher_id
FROM (SELECT DISTINCT topic, "partition" FROM records)
""",
)


@register("fetcher_routing", _FETCHER_SQL)
def q_fetcher_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: hash(topic-partition) % numFetchers thread routing (portable md5)."""
    tp = FX.records(spark, sf_dir).select("topic", "partition").distinct()
    key = F.concat_ws("-", F.col("topic"), F.col("partition").cast("string"))
    return tp.select(
        "topic",
        "partition",
        F.pmod(md5_long(key), F.lit(FX.N_INSTANCES)).cast("int").alias("fetcher_id"),
    )


_JSON_SQL = _with(
    FX.RECORDS_CTE,
    """
SELECT topic,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n
FROM records GROUP BY topic
""",
)


@register("json_payload_extract", _JSON_SQL)
def q_json_payload_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: JSON payload field extraction + aggregation."""
    rec = FX.records(spark, sf_dir)
    return rec.groupBy("topic").agg(
        F.sum(F.get_json_object("props", "$.k").cast("int")).cast("long").alias("sum_k"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# LLM-pipeline: text analysis (extension surface, SURVEY §7)
# ---------------------------------------------------------------------------

_TOKEN_STATS_SQL = """
SELECT doc_id, length(text) AS n_chars,
       length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
       FLOOR(length(replace(text, ' ', '')) * 1.0
             / (length(text) - length(replace(text, ' ', '')) + 1) * 1e6 + 0.5) / 1e6 AS avg_token_len,
       len(regexp_extract_all(text, '[aeiou]+')) AS n_subword_units
FROM documents
"""


@register("text_token_stats", _TOKEN_STATS_SQL)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + subword-unit proxy, no UDFs."""
    from ureplicator_spark.operators import text as TX
    from ureplicator_spark.sources.parquet import load_table

    return TX.token_stats(load_table(spark, sf_dir, "documents"))


_TOK_CTE = """
tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  )
)
""".strip()

_QUALITY_SQL = _with(
    _TOK_CTE,
    """
per AS (
  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS n_distinct,
         SUM(CASE WHEN token IN ('the', 'a', 'of') THEN 1 ELSE 0 END) AS n_stop
  FROM tok GROUP BY doc_id
)
""".strip(),
    """
SELECT doc_id, n_tokens, n_distinct,
       FLOOR(n_distinct * 1.0 / n_tokens * 1e6 + 0.5) / 1e6 AS type_token_ratio,
       FLOOR(n_stop * 1.0 / n_tokens * 1e6 + 0.5) / 1e6 AS stopword_ratio,
       (n_tokens >= 10 AND n_distinct * 10 >= n_tokens AND n_stop > 0) AS keep
FROM per
""",
)


@register("text_quality_score", _QUALITY_SQL)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-filter quality signals (TTR, stopword ratio, length)."""
    from ureplicator_spark.operators import text as TX
    from ureplicator_spark.sources.parquet import load_table

    return TX.quality_score(load_table(spark, sf_dir, "documents"))


from ureplicator_spark.operators.text import LANG_PROFILES  # noqa: E402

_PROFILES_CTE = (
    "profiles AS (SELECT * FROM (VALUES "
    + ", ".join(
        f"('{lang}', '{w}')" for lang, ws in LANG_PROFILES.items() for w in ws
    )
    + ") AS t(plang, token))"
)

_LANG_ID_SQL = _with(
    _TOK_CTE,
    _PROFILES_CTE,
    """
scores AS (
  SELECT doc_id, plang, COUNT(*) AS hits
  FROM tok JOIN profiles USING (token) GROUP BY doc_id, plang
)
""".strip(),
    """
best AS (
  SELECT doc_id, plang, hits FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang) AS rn
    FROM scores
  ) WHERE rn = 1
)
""".strip(),
    """
SELECT d.doc_id, d.lang,
       COALESCE(b.plang, 'unknown') AS lang_pred,
       CAST(COALESCE(b.hits, 0) AS BIGINT) AS hits,
       (COALESCE(b.plang, 'unknown') = d.lang) AS correct
FROM documents d LEFT JOIN best b USING (doc_id)
""",
)


@register("text_lang_id", _LANG_ID_SQL)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID with argmax + deterministic ties."""
    from ureplicator_spark.operators import text as TX
    from ureplicator_spark.sources.parquet import load_table

    return TX.lang_id(load_table(spark, sf_dir, "documents"), spark)


_FINGERPRINT_SQL = """
SELECT doc_id, md5(text) AS content_md5, md5(substr(text, 1, 64)) AS prefix_md5,
       ('0x' || substr(md5(text), 1, 15))::BIGINT AS fingerprint60,
       length(text) AS n_chars
FROM documents
"""


@register("doc_fingerprint", _FINGERPRINT_SQL)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content digests + 60-bit portable integer fingerprint."""
    from ureplicator_spark.operators import text as TX
    from ureplicator_spark.sources.parquet import load_table

    return TX.fingerprint(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# LLM-pipeline: dedup family
# ---------------------------------------------------------------------------

_EXACT_DEDUP_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_docs
FROM documents GROUP BY md5(text)
"""


@register("dedup_exact", _EXACT_DEDUP_SQL)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy (one shuffle on the digest)."""
    from ureplicator_spark.operators import dedup as DD
    from ureplicator_spark.sources.parquet import load_table

    return DD.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


def _shingles_cte(src: str = "documents") -> str:
    """Word-3-gram shingle CTE over ``src`` — parameterized so the
    curation pipeline can shingle a filtered survivor set without
    textually patching shared SQL."""
    return f"""
shingles AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {src})
    WHERE len(toks) >= 3
  )
)
""".strip()


_SHINGLES_CTE = _shingles_cte()

_MINHASH_CTE = """
mh AS (
  SELECT doc_id, seed,
         MIN(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || shingle), 1, 15))::BIGINT) AS minhash
  FROM shingles, (SELECT unnest(range(0, 8)) AS seed) s
  GROUP BY doc_id, seed
)
""".strip()

_MINHASH_SIG_SQL = _with(
    _SHINGLES_CTE,
    _MINHASH_CTE,
    "SELECT doc_id, CAST(seed AS INT) AS seed, minhash FROM mh",
)


@register("dedup_minhash_signatures", _MINHASH_SIG_SQL)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=8 md5-salted minhashes per doc over word-3-gram shingles."""
    from ureplicator_spark.operators import dedup as DD
    from ureplicator_spark.sources.parquet import load_table

    return DD.minhash_signatures(load_table(spark, sf_dir, "documents"))


_LSH_PAIRS_SQL = _with(
    _SHINGLES_CTE,
    _MINHASH_CTE,
    """
banded AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         md5(array_to_string(list(CAST(minhash AS VARCHAR) ORDER BY seed), ',')) AS band_hash
  FROM mh GROUP BY doc_id, CAST(seed // 2 AS INT)
)
""".strip(),
    """
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
""".strip(),
    """
SELECT c.doc_a, c.doc_b,
       ROUND(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS est_jaccard
FROM cand c
JOIN mh sa ON sa.doc_id = c.doc_a
JOIN mh sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
GROUP BY c.doc_a, c.doc_b
""",
)


@register("dedup_minhash_lsh_pairs", _LSH_PAIRS_SQL)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (band-bucket join) + estimated
    Jaccard, probed from the STANDING persisted signature index — the
    production shape: signatures are built once per corpus snapshot
    (`standing.get("minhash")`, reported as ``minhash_build_sec``
    in bench.py), each probe pays only the band self-join + K column
    compares. Provably equal to the from-scratch
    ``lsh_candidate_pairs`` the oracle mirrors (same signatures, same
    banding, same rounding); the from-scratch operator and the index
    lifecycle stay hash-gated in pytest."""
    return _standing_lsh_pairs(spark, sf_dir)


_SIMHASH_CTE = """
th AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  )
)
""".strip()

_SIMHASH_N_BITS = 60  # keep in lockstep with operators.dedup.SIMHASH_BITS

_SIMHASH_BITS_CTE = (
    "bitsums AS (\n  SELECT doc_id,\n"
    + ",\n".join(
        f"         SUM(((h >> {j}) & 1) * 2 - 1) AS s{j}"
        for j in range(_SIMHASH_N_BITS)
    )
    + "\n  FROM th GROUP BY doc_id\n)"
)

_SIMHASH_VALUE = " + ".join(
    f"CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END" for j in range(_SIMHASH_N_BITS)
)

_SIMHASH_SQL = _with(
    _SIMHASH_CTE,
    _SIMHASH_BITS_CTE,
    f"""
SELECT doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS simhash
FROM bitsums
""",
)


@register("dedup_simhash", _SIMHASH_SQL)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable 60-bit simhash per document (full md5_long width)."""
    from ureplicator_spark.operators import dedup as DD
    from ureplicator_spark.sources.parquet import load_table

    return DD.simhash(load_table(spark, sf_dir, "documents"))


_NGRAM_JACCARD_SQL = _with(
    _SHINGLES_CTE,
    "sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM shingles GROUP BY doc_id)",
    """
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
""".strip(),
    """
SELECT doc_a, doc_b, jaccard, rank FROM (
  SELECT doc_a, doc_b, jaccard,
         ROW_NUMBER() OVER (ORDER BY jaccard DESC, doc_a, doc_b) AS rank
  FROM (
    SELECT doc_a, doc_b,
           FLOOR(CAST(n_inter AS DOUBLE) / (sa.n_grams + sb.n_grams - n_inter) * 1e6 + 0.5) / 1e6 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
  )
) WHERE rank <= 20
""",
)


@register("dedup_ngram_jaccard", _NGRAM_JACCARD_SQL)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard on inverted-index candidates, global top-20."""
    from ureplicator_spark.operators import dedup as DD
    from ureplicator_spark.sources.parquet import load_table

    return DD.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# LLM-pipeline: similarity search over embeddings
# ---------------------------------------------------------------------------

_COMP_CTE = """
comp AS (
  SELECT vec_id, r.i, CAST(embedding[r.i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) r
)
""".strip()

_KNN_SQL = _with(
    _COMP_CTE,
    "nrms AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b)) AS nrm FROM embeddings)",
    """
dots AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, SUM(q.x * c.x) AS dot
  FROM comp q JOIN comp c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id
)
""".strip(),
    """
SELECT q_id, c_id, cosine, rank FROM (
  SELECT d.q_id, d.c_id,
         (SIGN(d.dot / (nq.nrm * nc.nrm)) * FLOOR(ABS(d.dot / (nq.nrm * nc.nrm)) * 1e6 + 0.5) / 1e6 + 0.0) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY d.q_id
                            ORDER BY (SIGN(d.dot / (nq.nrm * nc.nrm)) * FLOOR(ABS(d.dot / (nq.nrm * nc.nrm)) * 1e6 + 0.5) / 1e6 + 0.0) DESC, d.c_id) AS rank
  FROM dots d
  JOIN nrms nq ON nq.vec_id = d.q_id
  JOIN nrms nc ON nc.vec_id = d.c_id
) WHERE rank <= 3
""",
)


@register("similarity_knn_bruteforce", _KNN_SQL)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for the first 10 query vectors."""
    from ureplicator_spark.operators import similarity as SIM
    from ureplicator_spark.sources.parquet import load_table

    return SIM.cosine_knn(load_table(spark, sf_dir, "embeddings"))


_RETRIEVE_SQL = _with(
    _COMP_CTE,
    "nrms AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b)) AS nrm FROM embeddings)",
    """
dots AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, SUM(q.x * c.x) AS dot
  FROM comp q JOIN comp c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id
)
""".strip(),
    """
topk AS (
  SELECT q_id, c_id, cosine, rank FROM (
    SELECT d.q_id, d.c_id,
           (SIGN(d.dot / (nq.nrm * nc.nrm)) * FLOOR(ABS(d.dot / (nq.nrm * nc.nrm)) * 1e6 + 0.5) / 1e6 + 0.0) AS cosine,
           ROW_NUMBER() OVER (PARTITION BY d.q_id
                              ORDER BY (SIGN(d.dot / (nq.nrm * nc.nrm)) * FLOOR(ABS(d.dot / (nq.nrm * nc.nrm)) * 1e6 + 0.5) / 1e6 + 0.0) DESC, d.c_id) AS rank
    FROM dots d
    JOIN nrms nq ON nq.vec_id = d.q_id
    JOIN nrms nc ON nc.vec_id = d.c_id
  ) WHERE rank <= 3
)
""".strip(),
    """
SELECT t.q_id, t.rank, d.doc_id, t.cosine, d.lang, d.source,
       substr(d.text, 1, 80) AS snippet
FROM topk t JOIN documents d ON d.doc_id = t.c_id
ORDER BY t.q_id, t.rank
""",
)


@register("similarity_retrieve_docs", _RETRIEVE_SQL)
def q_similarity_retrieve_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval: ANN ids joined back to readable documents (snippet +
    metadata) — the query a RAG consumer actually issues. The ranked
    id list broadcasts; the documents table never shuffles."""
    from ureplicator_spark.operators.similarity import retrieve_documents
    from ureplicator_spark.sources.parquet import load_table

    return retrieve_documents(
        load_table(spark, sf_dir, "embeddings"),
        load_table(spark, sf_dir, "documents"),
    )


_LSH_HIST_SQL = _with(
    _COMP_CTE,
    """
planes AS (
  SELECT p, i,
         CASE WHEN (('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 15))::BIGINT) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS sign
  FROM (SELECT unnest(range(0, 8)) AS p) pp
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii
)
""".strip(),
    """
bits AS (
  SELECT c.vec_id, pl.p,
         CASE WHEN SUM(c.x * pl.sign) > 0 THEN 1 ELSE 0 END AS bit
  FROM comp c JOIN planes pl ON c.i = pl.i
  GROUP BY c.vec_id, pl.p
)
""".strip(),
    """
SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id FROM (
  SELECT vec_id, CAST(SUM(bit * (1 << p)) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id
) GROUP BY bucket
""",
)


@register("similarity_lsh_buckets", _LSH_HIST_SQL)
def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucket histogram (the ANN scale path)."""
    from ureplicator_spark.operators import similarity as SIM
    from ureplicator_spark.sources.parquet import load_table

    return SIM.lsh_bucket_histogram(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# LLM-pipeline: multimodal binary columns
# ---------------------------------------------------------------------------

_MEDIA_META_SQL = """
SELECT 'text/plain' AS mime, COUNT(*) AS n_items,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       MIN(doc_id) AS min_media_id
FROM documents GROUP BY 1
"""


@register("multimodal_metadata", _MEDIA_META_SQL)
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata rollup (payload column pruned at scan)."""
    from ureplicator_spark.operators import multimodal as MM
    from ureplicator_spark.sources.parquet import load_table

    media = MM.documents_as_media(load_table(spark, sf_dir, "documents"))
    return MM.media_metadata(media)


# ---------------------------------------------------------------------------
# General relational suite (bench headliners)
# ---------------------------------------------------------------------------

_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_charge,
       FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_qty,
       FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_price,
       FLOOR(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", _Q1_SQL)
def q_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: exact-decimal grouped pricing summary."""
    from ureplicator_spark.operators import relational as REL
    from ureplicator_spark.sources.parquet import load_table

    return REL.pricing_summary(load_table(spark, sf_dir, "lineitem"))


_Q3_SQL = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, revenue, rank FROM (
  SELECT l_orderkey, o_orderdate, revenue,
         ROW_NUMBER() OVER (ORDER BY revenue DESC, l_orderkey) AS rank
  FROM (
    SELECT l_orderkey, o_orderdate,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
  )
) WHERE rank <= 10
"""


@register("q3_shipping_priority", _Q3_SQL)
def q_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: broadcast dim chain + top-k revenue ranking."""
    from ureplicator_spark.operators import relational as REL
    from ureplicator_spark.sources.parquet import load_table

    return REL.shipping_priority(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


_Q5_SQL = """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


@register("q5_local_supplier_volume", _Q5_SQL)
def q_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join, dims broadcast, one fact shuffle."""
    from ureplicator_spark.operators import relational as REL
    from ureplicator_spark.sources.parquet import load_table

    return REL.local_supplier_volume(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


_Q6_SQL = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.02 AND l_discount <= 0.06
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", _Q6_SQL)
def q_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: scan-filter-agg with full predicate pushdown."""
    from ureplicator_spark.operators import relational as REL
    from ureplicator_spark.sources.parquet import load_table

    return REL.forecast_revenue_change(load_table(spark, sf_dir, "lineitem"))


_SESSION_SQL = _with(
    "ev AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_sec FROM events)",
    """
d AS (
  SELECT user_id,
         CASE WHEN LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
                   OR ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) > 21600
              THEN 1 ELSE 0 END AS is_start
  FROM ev
)
""".strip(),
    """
SELECT user_id, CAST(SUM(is_start) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM d GROUP BY user_id
""",
)


@register("event_sessionization", _SESSION_SQL)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via window lag (per-user ordering)."""
    from ureplicator_spark.operators import relational as REL

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = raw.select("user_id", "event_id", FX.event_ts_sec(raw).alias("ts_sec"))
    return REL.sessionize(ev)


# ---------------------------------------------------------------------------
# Second-wave coverage: A3, P6, LSH-ANN, embedding near-dup, frame sampling
# ---------------------------------------------------------------------------

_LAG_TIME_SQL = _with(
    FX.RECORDS_CTE,
    _COMMITTED_CTE,
    _LATEST_CTE,
    _PARTITION_WL_CTE,
    _SPAN_CTE,
    """
lagt AS (
  SELECT l.topic, l."partition",
         GREATEST(0, l.latest_offset - GREATEST(COALESCE(c.commit_offset, 0), 0)) AS lag
  FROM latest l LEFT JOIN committed c USING (topic, "partition")
)
""".strip(),
    """
pw AS (
  SELECT topic, "partition", FLOOR(total_msgs / span_sec * 1e6 + 0.5) / 1e6 AS msgs_per_sec
  FROM partition_wl, span
)
""".strip(),
    """
SELECT l.topic, l."partition" AS partition, l.lag,
       FLOOR(l.lag * 1.0 / GREATEST(1.0, COALESCE(p.msgs_per_sec, 0.0)) * 1e4 + 0.5) / 1e4 AS lag_time_sec
FROM lagt l LEFT JOIN pw p USING (topic, "partition")
""",
)


@register("lag_time_estimate", _LAG_TIME_SQL)
def q_lag_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: lagTime = lag / max(1, msgs_per_sec) (HelixMirrorMakerManager.java:398-420)."""
    rec = FX.records(spark, sf_dir)
    lag_df = LAG.consumer_lag(rec, FX.SNAPSHOT_T1).select("topic", "partition", "lag")
    return LAG.lag_time(lag_df, WKL.partition_workload(rec))


_REPLAY_SKIP_SQL = _with(
    FX.RECORDS_CTE,
    """
SELECT topic, "partition" AS partition, COUNT(*) AS n_records, MIN("offset") AS min_offset
FROM records WHERE "offset" >= 300
GROUP BY topic, "partition"
""",
)


@register("replay_skip", _REPLAY_SKIP_SQL)
def q_replay_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: records below consumeOffset skipped on chunk replay
    (ConsumerIterator.java:81-83)."""
    rec = R.bounded_filter(FX.records(spark, sf_dir), consume_offset=300)
    return rec.groupBy("topic", "partition").agg(
        F.count("*").alias("n_records"), F.min("offset").alias("min_offset")
    )


_FRAME_SAMPLE_SQL = """
SELECT media_id, mime, frame_offset FROM (
  SELECT doc_id AS media_id, 'text/plain' AS mime,
         unnest(range(0, length(text), 1000)) AS frame_offset
  FROM documents
)
"""


@register("multimodal_frame_sample", _FRAME_SAMPLE_SQL)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling shape: one row per sampled payload window."""
    from ureplicator_spark.operators import multimodal as MM
    from ureplicator_spark.sources.parquet import load_table

    media = MM.documents_as_media(load_table(spark, sf_dir, "documents"))
    return MM.frame_sample(media, 1000)


_PLANES_CTE = """
planes AS (
  SELECT p, i,
         CASE WHEN (('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 15))::BIGINT) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS sign
  FROM (SELECT unnest(range(0, 8)) AS p) pp
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii
)
""".strip()

_BITS_CTE = """
bits AS (
  SELECT c.vec_id, pl.p,
         CASE WHEN SUM(c.x * pl.sign) > 0 THEN 1 ELSE 0 END AS bit
  FROM comp c JOIN planes pl ON c.i = pl.i
  GROUP BY c.vec_id, pl.p
)
""".strip()

_BUCKETS_CTE = """
buckets AS (
  SELECT vec_id, CAST(SUM(bit * (1 << p)) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id
)
""".strip()

_NRM_CTE = "nrm AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b)) AS n FROM embeddings)"

_LSH_ANN_SQL = _with(
    _COMP_CTE,
    _PLANES_CTE,
    _BITS_CTE,
    _BUCKETS_CTE,
    _NRM_CTE,
    """
cand AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.bucket
  FROM buckets q JOIN buckets c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
)
""".strip(),
    """
dots AS (
  SELECT cand.q_id, cand.c_id, cand.bucket, SUM(q.x * c.x) AS dot
  FROM cand
  JOIN comp q ON q.vec_id = cand.q_id
  JOIN comp c ON c.vec_id = cand.c_id AND c.i = q.i
  GROUP BY cand.q_id, cand.c_id, cand.bucket
)
""".strip(),
    """
SELECT q_id, c_id, bucket, cosine FROM (
  SELECT d.q_id, d.c_id, d.bucket,
         (SIGN(d.dot / (nq.n * nc.n)) * FLOOR(ABS(d.dot / (nq.n * nc.n)) * 1e6 + 0.5) / 1e6 + 0.0) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY d.q_id
                            ORDER BY (SIGN(d.dot / (nq.n * nc.n)) * FLOOR(ABS(d.dot / (nq.n * nc.n)) * 1e6 + 0.5) / 1e6 + 0.0) DESC, d.c_id) AS rn
  FROM dots d
  JOIN nrm nq ON nq.vec_id = d.q_id
  JOIN nrm nc ON nc.vec_id = d.c_id
) WHERE rn = 1
""",
)


@register("similarity_lsh_ann", _LSH_ANN_SQL)
def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN nearest-neighbor within the query's LSH bucket."""
    from ureplicator_spark.operators import similarity as SIM
    from ureplicator_spark.sources.parquet import load_table

    return SIM.lsh_ann(load_table(spark, sf_dir, "embeddings"))


_NEAR_DUP_SQL = _with(
    _COMP_CTE,
    _PLANES_CTE,
    _BITS_CTE,
    _BUCKETS_CTE,
    _NRM_CTE,
    """
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
""".strip(),
    """
dots AS (
  SELECT cand.vec_a, cand.vec_b, cand.bucket, SUM(x1.x * x2.x) AS dot
  FROM cand
  JOIN comp x1 ON x1.vec_id = cand.vec_a
  JOIN comp x2 ON x2.vec_id = cand.vec_b AND x2.i = x1.i
  GROUP BY cand.vec_a, cand.vec_b, cand.bucket
)
""".strip(),
    """
SELECT vec_a, vec_b, bucket, cosine, rank FROM (
  SELECT d.vec_a, d.vec_b, d.bucket,
         (SIGN(d.dot / (na.n * nb.n)) * FLOOR(ABS(d.dot / (na.n * nb.n)) * 1e6 + 0.5) / 1e6 + 0.0) AS cosine,
         ROW_NUMBER() OVER (ORDER BY (SIGN(d.dot / (na.n * nb.n)) * FLOOR(ABS(d.dot / (na.n * nb.n)) * 1e6 + 0.5) / 1e6 + 0.0) DESC, d.vec_a, d.vec_b) AS rank
  FROM dots d
  JOIN nrm na ON na.vec_id = d.vec_a
  JOIN nrm nb ON nb.vec_id = d.vec_b
) WHERE rank <= 10
""",
)


@register("dedup_embedding_cosine", _NEAR_DUP_SQL)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: top same-bucket pairs by cosine."""
    from ureplicator_spark.operators import similarity as SIM
    from ureplicator_spark.sources.parquet import load_table

    return SIM.embedding_near_dup_pairs(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Stateful streaming (T8): the applyInPandasWithState no-progress detector,
# driven over derived snapshot ticks. The oracle is the closed form of the
# detector on exactly-two-snapshot input (stalled == T2 - T1 for stuck rows).
# ---------------------------------------------------------------------------

_STATEFUL_NP_SQL = _with(
    FX.RECORDS_CTE,
    _C1_CTE,
    FX.stalled_c2_cte(FX.SNAPSHOT_T2),
    _LATEST_CTE,
    f"""
SELECT l.topic, l."partition" AS partition, c2.commit_t2 AS commit_offset,
       GREATEST(0, l.latest_offset - COALESCE(c2.commit_t2, 0)) AS lag,
       CAST({FX.SNAPSHOT_T2 - FX.SNAPSHOT_T1} AS BIGINT) AS stalled_for_sec
FROM latest l
LEFT JOIN c1 USING (topic, "partition")
LEFT JOIN c2 USING (topic, "partition")
WHERE c1.commit_t1 IS NOT NULL AND c1.commit_t1 = c2.commit_t2
  AND GREATEST(0, l.latest_offset - COALESCE(c2.commit_t2, 0)) > 0
""",
)


@register("stateful_no_progress", _STATEFUL_NP_SQL)
def q_stateful_no_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8/A2: run the real applyInPandasWithState detector over two
    offset-snapshot ticks derived from the log; returns the stuck set.
    """
    import tempfile
    import time as _time

    from ureplicator_spark.streaming.stateful import no_progress_detector

    rec = FX.records(spark, sf_dir)
    c1 = LAG.committed_offsets(rec, FX.SNAPSHOT_T1)
    c2 = FX.stalled_commit_override(
        LAG.committed_offsets(rec, FX.SNAPSHOT_T2), c1
    )
    latest = LAG.latest_offsets(rec)
    tick1 = c1.select(
        "topic", "partition",
        F.col("commit_offset"),
        F.col("commit_offset").alias("latest_offset"),
        F.lit(FX.SNAPSHOT_T1).cast("long").alias("ts_sec"),
    )
    tick2 = (
        c2.join(latest, ["topic", "partition"])
        .select(
            "topic", "partition", "commit_offset",
            F.col("latest_offset"),
            F.lit(FX.SNAPSHOT_T2).cast("long").alias("ts_sec"),
        )
    )
    # one parquet dir, one availableNow batch: the detector's pandas fold
    # sorts by ts_sec per key, so batching is order-independent
    import atexit
    import shutil

    src = tempfile.mkdtemp(prefix="np_updates_")
    ck = tempfile.mkdtemp(prefix="np_ck_")
    atexit.register(shutil.rmtree, src, ignore_errors=True)
    atexit.register(shutil.rmtree, ck, ignore_errors=True)
    tick1.unionByName(tick2).coalesce(1).write.mode("overwrite").parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    qname = f"np_detect_{int(_time.time() * 1000)}"
    q = (
        no_progress_detector(stream, 600)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"select * from {qname}")


# ---------------------------------------------------------------------------
# Additional relational shapes: anti join, outer-join rollup, distinct agg
# ---------------------------------------------------------------------------

_ANTI_JOIN_SQL = """
SELECT o_orderkey, o_orderstatus
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
"""


@register("orders_without_lineitems", _ANTI_JOIN_SQL)
def q_orders_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (the U2/J4 set-minus shape on relational data)."""
    from ureplicator_spark.sources.parquet import load_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    return orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"], "left_anti"
    ).select("o_orderkey", "o_orderstatus")


_CUSTOMER_ROLLUP_SQL = """
SELECT c.c_custkey, c.c_mktsegment,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(COALESCE(CAST(o.o_totalprice AS DECIMAL(18,2)), 0)), 2) AS DOUBLE) AS total_spend
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_mktsegment
HAVING COUNT(o.o_orderkey) >= 3
"""


@register("customer_order_rollup", _CUSTOMER_ROLLUP_SQL)
def q_customer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join + grouped rollup + HAVING (null-safe counting)."""
    from ureplicator_spark.sources.parquet import load_table

    from ureplicator_spark.operators.relational import (
        money_round, money_units, sum_units, units_total,
    )

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    j = c.join(o, c["c_custkey"] == o["o_custkey"], "left")
    spend = F.coalesce(money_units("o_totalprice"), F.lit(0))
    return (
        j.groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            *sum_units(spend, "sh", "sl"),
        )
        .filter(F.col("n_orders") >= 3)
        .select(
            "c_custkey",
            "c_mktsegment",
            "n_orders",
            money_round(units_total("sh", "sl"), 2).alias("total_spend"),
        )
    )


_TOKEN_CARDINALITY_SQL = _with(
    _TOK_CTE.replace("documents", "documents"),
    """
SELECT d.lang, COUNT(DISTINCT d.doc_id) AS n_docs,
       COUNT(DISTINCT t.token) AS n_distinct_tokens
FROM documents d JOIN tok t ON t.doc_id = d.doc_id
GROUP BY d.lang
""",
)


@register("token_cardinality", _TOKEN_CARDINALITY_SQL)
def q_token_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation per group (the exact path; see
    test_dedup_text.py for the approx_count_distinct scale variant)."""
    from ureplicator_spark.operators.text import tokens
    from ureplicator_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(docs)
    return (
        docs.select("doc_id", "lang")
        .join(tok, "doc_id")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("token").alias("n_distinct_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join, window lag/lead, rollup, topic inventory
# ---------------------------------------------------------------------------

_ASOF_TOLERANCE = 3 * FX.WINDOW_SEC

_WORKLOAD_ASOF_SQL = _with(
    FX.RECORDS_CTE,
    _WINDOWS_CTE,
    f"""
avail AS (
  SELECT topic, window_start + {FX.WINDOW_SEC} AS avail_ts, bytes_per_sec
  FROM ww
)
""".strip(),
    """
sampled AS (
  SELECT topic, "offset", ts_sec FROM records WHERE "offset" % 97 = 0
)
""".strip(),
    f"""
SELECT s.topic, s."offset" AS offset, s.ts_sec,
       CASE WHEN a.avail_ts >= s.ts_sec - {_ASOF_TOLERANCE}
            THEN a.bytes_per_sec ELSE NULL END AS bytes_per_sec
FROM sampled s ASOF LEFT JOIN avail a
  ON s.topic = a.topic AND s.ts_sec >= a.avail_ts
""",
)


@register("workload_asof", _WORKLOAD_ASOF_SQL)
def q_workload_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each sampled record picks up the freshest COMPLETED
    workload window (available at window_start + width) at-or-before
    its timestamp, nulled beyond a staleness tolerance — the
    WorkloadInfoRetriever freshness semantics (:145-168, 209-237) as a
    general temporal-join operator (union+carry, no theta join)."""
    from ureplicator_spark.operators.asof import asof_join

    rec = FX.records(spark, sf_dir)
    sampled = rec.filter(F.col("offset") % 97 == 0).select("topic", "offset", "ts_sec")
    avail = WKL.workload_windows(rec).select(
        "topic",
        (F.col("window_start") + FX.WINDOW_SEC).alias("avail_ts"),
        "bytes_per_sec",
    )
    return asof_join(
        sampled,
        avail,
        on=["topic"],
        left_ts="ts_sec",
        right_ts="avail_ts",
        value_cols=["bytes_per_sec"],
        tolerance=_ASOF_TOLERANCE,
    )


_OFFSET_PROGRESSION_SQL = _with(
    FX.RECORDS_CTE,
    """
gaps AS (
  SELECT topic, "partition",
         "offset" - LAG("offset") OVER (PARTITION BY topic, "partition" ORDER BY "offset") AS gap
  FROM records
)
""".strip(),
    """
SELECT topic, "partition" AS partition,
       COUNT(*) AS n_gaps,
       MAX(gap) AS max_gap,
       FLOOR(CAST(SUM(gap) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_gap
FROM gaps WHERE gap IS NOT NULL
GROUP BY topic, "partition"
""",
)


@register("offset_progression", _OFFSET_PROGRESSION_SQL)
def q_offset_progression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-offset progression deltas (A2 precursor): per-partition
    LAG window — partitioned by the natural key, so the sort is
    per-group and scale-safe (no global window)."""
    from pyspark.sql import Window

    rec = FX.records(spark, sf_dir)
    w = Window.partitionBy("topic", "partition").orderBy("offset")
    gaps = rec.select(
        "topic",
        "partition",
        (F.col("offset") - F.lag("offset").over(w)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    from ureplicator_spark.functions import round6f

    # exact integer SUM then ONE double division, floor-chain rounded:
    # AVG(double) accumulation order and ROUND(double) are both
    # engine-implementation-defined; SUM(long)/COUNT is neither
    return gaps.groupBy("topic", "partition").agg(
        F.count("*").alias("n_gaps"),
        F.max("gap").alias("max_gap"),
        round6f(F.sum("gap").cast("double") / F.count("gap")).alias("avg_gap"),
    )


_WORKLOAD_ROLLUP_SQL = _with(
    FX.RECORDS_CTE,
    """
SELECT topic, "partition" AS partition,
       GROUPING(topic, "partition") AS gid,
       COUNT(*) AS n_records,
       CAST(SUM(value_size) AS BIGINT) AS total_bytes
FROM records
GROUP BY ROLLUP(topic, "partition")
""",
)


@register("workload_rollup", _WORKLOAD_ROLLUP_SQL)
def q_workload_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP(topic, partition) — per-partition,
    per-topic, and grand totals in one pass (partial aggregation keeps
    it a single shuffle). GROUPING bit-vector disambiguates NULL keys;
    Spark's grouping_id() and DuckDB's GROUPING() agree bit-for-bit."""
    rec = FX.records(spark, sf_dir)
    return rec.rollup("topic", "partition").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_records"),
        F.sum("value_size").cast("long").alias("total_bytes"),
    ).select("topic", "partition", "gid", "n_records", "total_bytes")


_WORKLOAD_CUBE_SQL = _with(
    FX.RECORDS_CTE,
    """
SELECT topic, "partition" AS partition,
       GROUPING(topic, "partition") AS gid,
       COUNT(*) AS n_records,
       CAST(SUM(value_size) AS BIGINT) AS total_bytes
FROM records
GROUP BY CUBE(topic, "partition")
""",
)


@register("workload_cube", _WORKLOAD_CUBE_SQL)
def q_workload_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(topic, partition): the rollup's lattice completion — adds
    the per-partition-across-topics slice a rollup omits (the view
    that answers 'is partition 3 hot on EVERY topic?'). Same single
    shuffle with partial aggregation; the grouping-id bit-vector
    disambiguates NULL keys identically in both engines."""
    rec = FX.records(spark, sf_dir)
    return rec.cube("topic", "partition").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_records"),
        F.sum("value_size").cast("long").alias("total_bytes"),
    ).select("topic", "partition", "gid", "n_records", "total_bytes")


_TOPIC_INVENTORY_SQL = _with(
    FX.RECORDS_CTE,
    """
SELECT topic,
       CAST(MAX("partition") + 1 AS INT) AS n_partitions,
       COUNT(*) AS n_records,
       MIN("offset") AS min_offset,
       MAX("offset") AS max_offset
FROM records GROUP BY topic
""",
)


@register("topic_inventory", _TOPIC_INVENTORY_SQL)
def q_topic_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/S10: broker topic observer — topics with partition counts and
    offset ranges (KafkaBrokerTopicObserver.java:113-270,
    TopicPartitionCountObserver.java:96-118), derived from the log."""
    rec = FX.records(spark, sf_dir)
    return rec.groupBy("topic").agg(
        (F.max("partition") + 1).cast("int").alias("n_partitions"),
        F.count("*").alias("n_records"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
    )


# ---------------------------------------------------------------------------
# Range join (route bounds) + wider relational shapes (Q14/Q17/Q18)
# ---------------------------------------------------------------------------

_ROUTE_RANGE_SQL = _with(
    FX.RECORDS_CTE,
    FX.ROUTE_BOUNDS_CTE,
    """
SELECT b.topic, b."partition" AS partition, b.route_id,
       COUNT(*) AS n_records,
       CAST(SUM(r.value_size) AS BIGINT) AS total_bytes
FROM records r
JOIN route_bounds b
  ON r.topic = b.topic AND r."partition" = b."partition"
 AND r."offset" >= b.start_offset AND r."offset" < b.end_offset
GROUP BY b.topic, b."partition", b.route_id
""",
)


@register("route_range_assignment", _ROUTE_RANGE_SQL)
def q_route_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: records → their [start, end) route bound (T10 partial
    replication, WorkerInstance.java:189-206). Bounds broadcast; the
    record log never shuffles until the per-route rollup."""
    from ureplicator_spark.operators.rangejoin import range_join

    rec = FX.records(spark, sf_dir)
    bounds = FX.route_bounds(spark, sf_dir)
    joined = range_join(
        rec, bounds, on=["topic", "partition"],
        point="offset", start="start_offset", end="end_offset",
    )
    return joined.groupBy("topic", "partition", "route_id").agg(
        F.count("*").alias("n_records"),
        F.sum("value_size").cast("long").alias("total_bytes"),
    )


_PROMO_SQL = """
SELECT strftime(l_shipdate, '%Y-%m') AS month,
       FLOOR(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS promo_pct,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY strftime(l_shipdate, '%Y-%m')
"""


@register("promo_revenue_monthly", _PROMO_SQL)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio, broadcast dim."""
    from ureplicator_spark.operators import relational as REL
    from ureplicator_spark.sources.parquet import load_table

    return REL.promo_revenue_monthly(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


_LARGE_ORDERS_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       total_qty
FROM orders
JOIN (SELECT l_orderkey,
             CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) > 300) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


@register("large_volume_orders", _LARGE_ORDERS_SQL)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered semi-ish join chain."""
    from ureplicator_spark.operators import relational as REL
    from ureplicator_spark.sources.parquet import load_table

    return REL.large_volume_orders(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


_SMALL_QTY_SQL = """
WITH parts AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
li AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l JOIN parts p ON l.l_partkey = p.p_partkey
),
stats AS (
  SELECT l_partkey AS s_partkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
         COUNT(*) AS n_li
  FROM li GROUP BY l_partkey
)
SELECT FLOOR(CAST(SUM(CAST(li.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 * 1e2 + 0.5) / 1e2 AS avg_yearly,
       COUNT(*) AS n_items
FROM li JOIN stats ON li.l_partkey = stats.s_partkey
WHERE CAST(li.l_quantity AS DECIMAL(18,2)) * 5 * stats.n_li < stats.sum_qty * 1
"""


@register("part_small_qty_revenue", _SMALL_QTY_SQL)
def q_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: decorrelated per-part average with an exact
    (rounding-free) below-average predicate."""
    from ureplicator_spark.operators import relational as REL
    from ureplicator_spark.sources.parquet import load_table

    return REL.small_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


_IVF_SQL = _with(
    _COMP_CTE,
    "nrms AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b)) AS nrm FROM embeddings)",
    """
adot AS (
  SELECT c.vec_id, ct.vec_id AS cent_id, SUM(c.x * ct.x) AS dot
  FROM comp c JOIN comp ct ON c.i = ct.i AND ct.vec_id < 8
  GROUP BY c.vec_id, ct.vec_id
)
""".strip(),
    """
ascore AS (
  SELECT a.vec_id, a.cent_id,
         (SIGN(a.dot / (n1.nrm * n2.nrm)) * FLOOR(ABS(a.dot / (n1.nrm * n2.nrm)) * 1e6 + 0.5) / 1e6 + 0.0) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY (SIGN(a.dot / (n1.nrm * n2.nrm)) * FLOOR(ABS(a.dot / (n1.nrm * n2.nrm)) * 1e6 + 0.5) / 1e6 + 0.0) DESC, a.cent_id) AS rn
  FROM adot a
  JOIN nrms n1 ON n1.vec_id = a.vec_id
  JOIN nrms n2 ON n2.vec_id = a.cent_id
)
""".strip(),
    "assign AS (SELECT vec_id AS c_id, cent_id FROM ascore WHERE rn = 1)",
    "probe AS (SELECT vec_id AS q_id, cent_id FROM ascore WHERE vec_id < 10 AND rn <= 2)",
    """
cand AS (
  SELECT p.q_id, a.c_id FROM probe p JOIN assign a USING (cent_id)
  WHERE a.c_id <> p.q_id
)
""".strip(),
    """
cdot AS (
  SELECT cd.q_id, cd.c_id, SUM(q.x * c.x) AS dot
  FROM cand cd
  JOIN comp q ON q.vec_id = cd.q_id
  JOIN comp c ON c.vec_id = cd.c_id AND c.i = q.i
  GROUP BY cd.q_id, cd.c_id
)
""".strip(),
    """
score AS (
  SELECT s.q_id, s.c_id, (SIGN(s.dot / (n1.nrm * n2.nrm)) * FLOOR(ABS(s.dot / (n1.nrm * n2.nrm)) * 1e6 + 0.5) / 1e6 + 0.0) AS cosine
  FROM cdot s
  JOIN nrms n1 ON n1.vec_id = s.q_id
  JOIN nrms n2 ON n2.vec_id = s.c_id
)
""".strip(),
    """
SELECT q_id, c_id, cosine, rank FROM (
  SELECT q_id, c_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
  FROM score
) WHERE rank <= 3
""",
)


@register("similarity_ivf_ann", _IVF_SQL)
def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic coarse quantization + nprobe=2 list probe
    (the second ANN scale path next to hyperplane LSH)."""
    from ureplicator_spark.operators import similarity as SIM
    from ureplicator_spark.sources.parquet import load_table

    return SIM.ivf_ann(load_table(spark, sf_dir, "embeddings"))


@register("similarity_ivf_incremental", _IVF_SQL + "\nORDER BY q_id, rank")
def q_similarity_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL index path under the hash gate: build the
    persisted IVF index on the first 400 vectors, grow it with
    ``append_to_ivf_index`` (the no-rebuild maintenance op,
    ``streaming/index_maintenance.py``'s per-batch apply), then run the
    DPP-pruned search. Because append places each vector exactly where
    a full rebuild would (nearest existing centroid, round-6 cosine,
    ties to the lower cent_id — pinned in
    tests/test_ann_index_maintenance.py), the result is provably equal
    to a search over a full build — which is what the inline IVF SQL
    oracle computes. A hash match here attests the whole
    build→append→search lifecycle, not just the search.

    Scale shape: the build is one corpus pass, the append is
    O(new · n_centroids) and never touches existing lists' files, and
    the search reads only probed cent_id directories (DPP,
    plan-asserted in test_plans.py)."""
    import atexit
    import shutil
    import tempfile

    from ureplicator_spark.sources.ivf_index import (
        append_to_ivf_index,
        build_ivf_index,
        search_ivf_index,
    )
    from ureplicator_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="ureplicator_ivf_inc_")
    # the returned frame reads the index lazily, so cleanup is deferred
    # to process exit (the lexical standing-index discipline)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    build_ivf_index(emb.filter(F.col("vec_id") < 400), root)
    append_to_ivf_index(spark, root, emb.filter(F.col("vec_id") >= 400))
    return search_ivf_index(
        spark, root, emb.filter(F.col("vec_id") < 10), nprobe=2, k=3
    ).orderBy("q_id", "rank")


# ---------------------------------------------------------------------------
# Corpus-clean pipeline + percentile workload stats
# ---------------------------------------------------------------------------

_CORPUS_CLEAN_SQL = _with(
    _TOK_CTE,
    """
per AS (
  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS n_distinct,
         SUM(CASE WHEN token IN ('the', 'a', 'of') THEN 1 ELSE 0 END) AS n_stop
  FROM tok GROUP BY doc_id
)
""".strip(),
    """
keepers AS (
  SELECT MIN(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(text) AS h FROM documents)
  GROUP BY h
)
""".strip(),
    """
SELECT d.doc_id, d.lang, per.n_tokens,
       ('0x' || substr(md5(d.text), 1, 15))::BIGINT AS fingerprint60
FROM documents d
JOIN keepers USING (doc_id)
JOIN per ON per.doc_id = d.doc_id
WHERE d.lang = 'en'
  AND per.n_tokens >= 10 AND per.n_distinct * 10 >= per.n_tokens AND per.n_stop > 0
""",
)


@register("corpus_clean", _CORPUS_CLEAN_SQL)
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning pipeline: language filter →
    quality filter (exact-arithmetic Gopher-style rules) → exact dedup
    keep-first → fingerprinted survivors. One composed DataFrame plan:
    Catalyst pushes the lang filter to the parquet scan; the dedup and
    quality aggregations are the only two shuffles."""
    from ureplicator_spark.functions import md5_long
    from ureplicator_spark.operators import text as TX
    from ureplicator_spark.operators.dedup import exact_dedup_groups
    from ureplicator_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    quality = TX.quality_score(docs).filter(F.col("keep")).select("doc_id", "n_tokens")
    keepers = exact_dedup_groups(docs).select(F.col("keeper_doc_id").alias("doc_id"))
    return (
        docs.filter(F.col("lang") == "en")
        .join(keepers, "doc_id")
        .join(quality, "doc_id")
        .select("doc_id", "lang", "n_tokens", md5_long(F.col("text")).alias("fingerprint60"))
    )


def _pctl_x100_sql_term(p: int) -> str:
    return f"""
       CAST(SUM(CASE WHEN rn = (n - 1) * {p} // 100 + 1
                     THEN value_size * (100 - (n - 1) * {p} % 100)
                WHEN rn = (n - 1) * {p} // 100 + 2 AND (n - 1) * {p} % 100 > 0
                     THEN value_size * ((n - 1) * {p} % 100)
                ELSE 0 END) AS BIGINT) AS p{p}_x100""".rstrip()


_PCTL_SQL = _with(
    FX.RECORDS_CTE,
    """
ranked AS (
  SELECT topic, value_size,
         ROW_NUMBER() OVER (PARTITION BY topic ORDER BY value_size) AS rn,
         COUNT(*) OVER (PARTITION BY topic) AS n
  FROM records
)
""".strip(),
    "SELECT topic,"
    + ",".join(_pctl_x100_sql_term(p) for p in (50, 95, 99))
    + ",\n       MAX(value_size) AS max_size\nFROM ranked GROUP BY topic",
)


def _pctl_x100_term(p: int):
    lo_rn = F.expr(f"(n - 1) * {p} div 100 + 1")
    rem = F.expr(f"(n - 1) * {p} % 100")
    return F.sum(
        F.when(F.col("rn") == lo_rn, F.col("value_size") * (100 - rem))
        .when((F.col("rn") == lo_rn + 1) & (rem > 0), F.col("value_size") * rem)
        .otherwise(F.lit(0))
    ).alias(f"p{p}_x100")


@register("workload_percentiles", _PCTL_SQL)
def q_workload_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-topic payload-size distribution (p50/p95/p99, ×100 integer
    fixed-point) — the capacity signal behind A4's max-over-lookback.

    Exact continuous-rank percentiles computed in PURE INTEGER
    arithmetic: for rank position (n-1)·p/100 = lo + rem/100, the
    interpolated value ×100 is v[lo]·(100-rem) + v[lo+1]·rem — the
    same (n-1)·p definition as F.percentile/quantile_cont, but with no
    doubles anywhere, so neither the engines' interpolation formulas
    nor their ROUNDs can diverge (the r10 verdict's divergence class;
    this site was its named example). One per-topic window sort + one
    aggregate — same plan shape as before. At 100 TB the sketch twin
    `workload_quantile_sketch` (mergeable HDR registers, no per-group
    sort) is the production row; exact kept here as its gauge."""
    from pyspark.sql import Window

    rec = FX.records(spark, sf_dir)
    w = Window.partitionBy("topic")
    ranked = rec.select(
        "topic",
        "value_size",
        F.row_number().over(w.orderBy("value_size")).alias("rn"),
        F.count("*").over(w).alias("n"),
    )
    return ranked.groupBy("topic").agg(
        *[_pctl_x100_term(p) for p in (50, 95, 99)],
        F.max("value_size").alias("max_size"),
    )


# ---------------------------------------------------------------------------
# Semi-join (Q4 shape), window frames, pivot
# ---------------------------------------------------------------------------

_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


@register("q4_order_priority", _Q4_SQL)
def q_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join (date-correlated), then a
    5-key aggregate. The semi join keys on orderkey so the lineitem
    probe side is both filter-pushed and never duplicated."""
    from ureplicator_spark.sources.parquet import load_table

    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_RUNNING_SQL = _with(
    FX.RECORDS_CTE,
    f"""
wwr AS (
  SELECT topic, ts_sec - (ts_sec % {FX.WINDOW_SEC}) AS window_start,
         CAST(SUM(value_size) AS BIGINT) AS window_bytes
  FROM records GROUP BY topic, ts_sec - (ts_sec % {FX.WINDOW_SEC})
)
""".strip(),
    f"""
SELECT topic, window_start,
       FLOOR(window_bytes / {FX.WINDOW_SEC}.0 * 1e6 + 0.5) / 1e6 AS bytes_per_sec,
       FLOOR(SUM(window_bytes) OVER (PARTITION BY topic ORDER BY window_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / {FX.WINDOW_SEC}.0 * 1e6 + 0.5) / 1e6 AS cum_bytes_per_sec,
       FLOOR(CAST(SUM(window_bytes) OVER (PARTITION BY topic ORDER BY window_start
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / (COUNT(*) OVER (PARTITION BY topic ORDER BY window_start
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * {FX.WINDOW_SEC}.0)
             * 1e6 + 0.5) / 1e6 AS ma3_bytes_per_sec
FROM wwr
""",
)


@register("workload_running_stats", _RUNNING_SQL)
def q_workload_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames over the workload series: per-topic running total
    (unbounded-preceding frame) and 3-window moving average (bounded
    rows frame) — per-key windows, so the sort is within-group and the
    state per frame is O(frame), scale-safe.

    Exactness: frames fold the INTEGER window byte sums and divide
    once at the end — folding the derived double rates would inherit
    each engine's window-summation association order (left fold vs
    segment tree), the same order-dependence class the PSI fix
    eliminated; the moving average is total/(n·width), identical to
    the mean of per-window rates but with no double accumulation."""
    from pyspark.sql import Window

    raw = WKL.workload_windows_raw(FX.records(spark, sf_dir))
    w = Window.partitionBy("topic").orderBy("window_start")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ma3 = w.rowsBetween(-2, Window.currentRow)
    width = float(FX.WINDOW_SEC)
    return raw.select(
        "topic",
        "window_start",
        round6f(F.col("window_bytes") / width).alias("bytes_per_sec"),
        round6f(F.sum("window_bytes").over(cum) / width).alias("cum_bytes_per_sec"),
        round6f(
            F.sum("window_bytes").over(ma3).cast("double")
            / (F.count("*").over(ma3) * width)
        ).alias("ma3_bytes_per_sec"),
    )


_PIVOT_SQL = _with(
    FX.RECORDS_CTE,
    """
SELECT topic,
       CAST(SUM(CASE WHEN "partition" = 0 THEN 1 ELSE 0 END) AS BIGINT) AS p0,
       CAST(SUM(CASE WHEN "partition" = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p1,
       CAST(SUM(CASE WHEN "partition" = 2 THEN 1 ELSE 0 END) AS BIGINT) AS p2,
       CAST(SUM(CASE WHEN "partition" = 3 THEN 1 ELSE 0 END) AS BIGINT) AS p3
FROM records GROUP BY topic
""",
)


@register("records_pivot", _PIVOT_SQL)
def q_records_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-topic record counts spread over the (fixed, known)
    partition domain. Spark's pivot with an explicit value list is a
    single-pass conditional aggregation — one shuffle, no second pass
    to discover the domain."""
    rec = FX.records(spark, sf_dir)
    out = (
        rec.groupBy("topic")
        .pivot("partition", [0, 1, 2, 3])
        .agg(F.count(F.lit(1)))  # count(*) is not allowed inside pivot
    )
    return out.select(
        "topic",
        *[F.coalesce(F.col(str(p)), F.lit(0)).alias(f"p{p}") for p in range(4)],
    )


# ---------------------------------------------------------------------------
# Per-topic quota sampling + greedy bin-packing assignment
# ---------------------------------------------------------------------------

_QUOTA_ROWS = [("click", 200), ("view", 150), ("purchase", 100)]

_QUOTA_SQL = _with(
    FX.RECORDS_CTE,
    "quotas AS (SELECT * FROM (VALUES "
    + ", ".join(f"('{t}', {q})" for t, q in _QUOTA_ROWS)
    + ") AS t(topic, quota))",
    """
SELECT topic, "partition" AS partition, "offset" AS offset, value_size
FROM (
  SELECT r.*, q.quota,
         ROW_NUMBER() OVER (PARTITION BY r.topic ORDER BY r."offset") AS rn
  FROM records r JOIN quotas q ON r.topic = q.topic
) WHERE rn <= quota
""",
)


@register("topic_quota_sample", _QUOTA_SQL)
def q_topic_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-topic quota (T4's 'per-topic quota needs custom pre-filter',
    SURVEY §2.8): deterministically keep the first `quota` records per
    topic in offset order. Per-key window → per-group sort only; the
    quota table broadcasts."""
    from pyspark.sql import Window

    rec = FX.records(spark, sf_dir)
    quotas = values_df(spark, _QUOTA_ROWS, "topic string, quota int")
    quoted = rec.join(F.broadcast(quotas), "topic")
    # Two-phase: the final per-topic window would buffer O(records/topic)
    # rows in one task. The per-(topic, partition) prefilter ranks inside
    # the natural shards first — any record in the topic's first `quota`
    # by offset is within its own partition's first `quota` — so the
    # topic window then runs over ≤ quota × #partitions rows.
    w_part = Window.partitionBy("topic", "partition").orderBy("offset")
    survivors = (
        quoted.withColumn("prn", F.row_number().over(w_part))
        .filter(F.col("prn") <= F.col("quota"))
    )
    w = Window.partitionBy("topic").orderBy("offset")
    return (
        survivors.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("quota"))
        .select("topic", "partition", "offset", "value_size")
    )


def _greedy_oracle_sql() -> str:
    """DuckDB twin of ``greedy_assign``: the heaviest-first / least-
    loaded-instance loop is sequential, but over O(#partitions)
    control-plane rows a recursive CTE replays it exactly — one
    recursion step per partition, instance loads carried as a DOUBLE
    list, argmin via list_position(loads, list_min(loads)) which
    breaks load ties toward the lower instance id exactly like the
    (load, instance) heap tuple ordering."""
    n = FX.N_INSTANCES
    pos = "list_position(s.loads, list_min(s.loads))"
    upd = ", ".join(
        f"CASE WHEN {pos} = {i} THEN s.loads[{i}] + r.bytes_per_sec ELSE s.loads[{i}] END"
        for i in range(1, n + 1)
    )
    zeros = ", ".join(["CAST(0 AS DOUBLE)"] * n)
    return f"""
WITH RECURSIVE {FX.RECORDS_CTE},
{_PARTITION_WL_CTE},
{_SPAN_CTE},
ranked AS (
  SELECT topic, "partition",
         FLOOR(total_bytes / span_sec * 1e6 + 0.5) / 1e6 AS bytes_per_sec,
         ROW_NUMBER() OVER (ORDER BY FLOOR(total_bytes / span_sec * 1e6 + 0.5) / 1e6 DESC, topic, "partition") AS rn
  FROM partition_wl, span
),
steps AS (
  SELECT CAST(0 AS BIGINT) AS rn, CAST(NULL AS VARCHAR) AS topic,
         CAST(NULL AS INTEGER) AS "partition", CAST(NULL AS DOUBLE) AS bytes_per_sec,
         CAST(NULL AS INTEGER) AS inst, [{zeros}] AS loads
  UNION ALL
  SELECT r.rn, r.topic, r."partition", r.bytes_per_sec,
         CAST({pos} - 1 AS INTEGER), [{upd}]
  FROM steps s JOIN ranked r ON r.rn = s.rn + 1
)
SELECT topic, "partition" AS partition,
       'instance-' || CAST(inst AS VARCHAR) AS instance, bytes_per_sec
FROM steps WHERE rn > 0
"""


@register("greedy_assignment", _greedy_oracle_sql())
def q_greedy_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workload-aware greedy bin-packing over the derived partition
    workloads (the auto-balance core,
    AutoRebalanceLiveInstanceChangeListener.java:594-630). The
    distributed part (workload table) stays in Spark; the O(P log I)
    decision runs driver-side like the reference controller, and the
    recursive-CTE oracle replays it step for step."""
    from ureplicator_spark.operators.assignment import greedy_assign

    wl = WKL.partition_workload(FX.records(spark, sf_dir))
    return greedy_assign(wl, FX.N_INSTANCES)


# ---------------------------------------------------------------------------
# Q10/Q12 shapes + kNN label vote
# ---------------------------------------------------------------------------

_Q10_SQL = """
SELECT c_custkey, c_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
       c_acctbal, c_mktsegment
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, c_mktsegment
"""


@register("q10_returned_items", _Q10_SQL)
def q_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer. The date
    and returnflag filters push to the scans; the orders slice grows
    with SF so AQE chooses its join strategy; customer joins the small
    aggregated result."""
    from ureplicator_spark.operators.relational import (
        money_round, rev_units, sum_units, units_total,
    )
    from ureplicator_spark.sources.parquet import load_table

    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = load_table(spark, sf_dir, "customer")
    agg = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(*sum_units(rev_units(), "rh", "rl"))
        .select(
            "o_custkey", money_round(units_total("rh", "rl"), 4).alias("revenue")
        )
    )
    return c.join(agg, F.col("c_custkey") == F.col("o_custkey")).select(
        "c_custkey", "c_name", "revenue", "c_acctbal", "c_mktsegment"
    )


_Q12_SQL = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN l_quantity < 25 THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderpriority
"""


@register("q12_priority_lines", _Q12_SQL)
def q_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts per priority after a
    fact-fact join; the shipdate filter prunes lineitem at the scan."""
    from ureplicator_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("l_quantity") >= 25, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(F.col("l_quantity") < 25, 1).otherwise(0))
            .cast("long")
            .alias("low_line_count"),
        )
    )


_KNN_VOTE_SQL = _with(
    _COMP_CTE,
    "nrms AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b)) AS nrm FROM embeddings)",
    """
dots AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, SUM(q.x * c.x) AS dot
  FROM comp q JOIN comp c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id
)
""".strip(),
    """
topk AS (
  SELECT q_id, c_id FROM (
    SELECT d.q_id, d.c_id,
           ROW_NUMBER() OVER (PARTITION BY d.q_id
                              ORDER BY (SIGN(d.dot / (n1.nrm * n2.nrm)) * FLOOR(ABS(d.dot / (n1.nrm * n2.nrm)) * 1e6 + 0.5) / 1e6 + 0.0) DESC, d.c_id) AS rn
    FROM dots d JOIN nrms n1 ON n1.vec_id = d.q_id JOIN nrms n2 ON n2.vec_id = d.c_id
  ) WHERE rn <= 5
)
""".strip(),
    """
SELECT q_id, label_pred, n_votes FROM (
  SELECT t.q_id, e.label AS label_pred, COUNT(*) AS n_votes,
         ROW_NUMBER() OVER (PARTITION BY t.q_id ORDER BY COUNT(*) DESC, e.label) AS rn
  FROM topk t JOIN embeddings e ON e.vec_id = t.c_id
  GROUP BY t.q_id, e.label
) WHERE rn = 1
""",
)


@register("knn_label_vote", _KNN_VOTE_SQL)
def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification by majority neighbor label (k=5): the
    label-propagation building block for weak supervision over an
    embedded corpus. Reuses the relational cosine path; the vote is a
    per-query count + rank (ties → smaller label)."""
    from pyspark.sql import Window

    from ureplicator_spark.operators import similarity as SIM
    from ureplicator_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    knn = SIM.cosine_knn(emb, n_queries=10, k=5).select("q_id", "c_id")
    labels = emb.select(F.col("vec_id").alias("c_id"), "label")
    votes = (
        knn.join(labels, "c_id")
        .groupBy("q_id", F.col("label").alias("label_pred"))
        .agg(F.count("*").alias("n_votes"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("n_votes").desc(), F.col("label_pred"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("q_id", "label_pred", "n_votes")
    )


# ---------------------------------------------------------------------------
# TF-IDF, Q15 top supplier, label centroids
# ---------------------------------------------------------------------------

_TFIDF_SQL = _with(
    _TOK_CTE,
    "ndocs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents)",
    """
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
)
""".strip(),
    """
df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
)
""".strip(),
    """
scored AS (
  SELECT tf.doc_id, tf.token,
         FLOOR(tf.tf * ln((n + 1.0) / (df.df + 1.0)) * 1e6 + 0.5) / 1e6 AS tfidf
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN ndocs
)
""".strip(),
    """
SELECT doc_id, token, tfidf FROM (
  SELECT doc_id, token, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
  FROM scored
) WHERE rn <= 3
""",
)


@register("text_tfidf_top_terms", _TFIDF_SQL)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with smoothed IDF ln((N+1)/(df+1)); top-3 terms per doc.
    Two aggregations (tf per doc-token, df per token) + a broadcast of
    the token-level df table; ranking windows are per-doc. The df table
    is vocabulary-sized — at 100 TB still far smaller than the corpus
    and safely broadcast after a frequency cut."""
    from pyspark.sql import Window

    from ureplicator_spark.operators.text import tokens
    from ureplicator_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(docs).select("doc_id", "token")
    n_docs = docs.select(F.countDistinct("doc_id").alias("n"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            round6f(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf")
    )


_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@register("q15_top_supplier", _Q15_SQL)
def q_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: scalar-subquery max over a derived view. The
    max broadcasts as a 1-row cross join (no correlated re-scan)."""
    from ureplicator_spark.operators.relational import (
        money_round, rev_units, sum_units, units_total,
    )
    from ureplicator_spark.sources.parquet import load_table

    revenue = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(*sum_units(rev_units(), "rh", "rl"))
        .select(
            "supplier_no",
            money_round(units_total("rh", "rl"), 4).alias("total_revenue"),
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        load_table(spark, sf_dir, "supplier")
        .join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


_CENTROID_SQL = _with(
    _COMP_CTE,
    # order-canonical signed mean (r12): micro6 integer sum -> one
    # division -> sign-aware 6dp round; mirrors label_centroids
    """
SELECT label, i,
       (SIGN(m) * FLOOR(ABS(m) * 1e6 + 0.5) / 1e6 + 0.0) AS centroid_x,
       n_vectors
FROM (
  SELECT label, i,
         CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
           / (COUNT(*) * 1e6) AS m,
         COUNT(*) AS n_vectors
  FROM comp JOIN embeddings USING (vec_id)
  GROUP BY label, i
)
""",
)


@register("label_centroids", _CENTROID_SQL)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components (the IVF/clustering training
    primitive): mean of each embedding dimension per label — one
    shuffle keyed on (label, i), component-relational so the oracle
    reproduces it exactly; at scale the same agg shape feeds k-means
    iterations."""
    from ureplicator_spark.operators.similarity import _components
    from ureplicator_spark.sources.parquet import load_table

    from ureplicator_spark.functions import micro6

    emb = load_table(spark, sf_dir, "embeddings")
    comp = _components(emb)
    return (
        comp.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("label", "i")
        .agg(
            round6s(
                F.sum(micro6(F.col("x"))) / (F.count("*") * F.lit(1e6))
            ).alias("centroid_x"),
            F.count("*").alias("n_vectors"),
        )
    )


# ---------------------------------------------------------------------------
# Q19 disjunctive join, Q22 anti join, nested headers (data model §1.1)
# ---------------------------------------------------------------------------

_Q19_SQL = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size <= 5 AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size <= 10 AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#34' AND p_size <= 15 AND l_quantity >= 20 AND l_quantity <= 30)
"""


@register("q19_discount_revenue", _Q19_SQL)
def q_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive (OR-of-ANDs) join predicates.
    Catalyst extracts the common join key (partkey) as the equi
    condition and keeps the disjunction as a post-join filter, so this
    stays a hash join — never a nested loop."""
    from ureplicator_spark.operators.relational import (
        money_round, rev_units, sum_units, units_total,
    )
    from ureplicator_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 5)
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 11))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 10)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size") <= 15)
           & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 30))
    )
    return (
        j.filter(cond)
        .agg(
            *sum_units(rev_units(), "rh", "rl"),
            F.count("*").alias("n_items"),
        )
        .select(
            money_round(units_total("rh", "rl"), 4).alias("revenue"), "n_items"
        )
    )


_Q22_SQL = """
WITH eligible AS (
  SELECT substr(c_name, 10, 1) AS bucket, c_custkey, c_acctbal
  FROM customer
  WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
)
SELECT bucket, COUNT(*) AS n_custs,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_acctbal
FROM eligible e
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = e.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
GROUP BY bucket
"""


@register("q22_global_sales_opportunity", _Q22_SQL)
def q_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average filter (1-row broadcast scalar)
    + anti join against orders + bucketed rollup."""
    from ureplicator_spark.sources.parquet import load_table

    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    eligible = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select(
            F.substring("c_name", 10, 1).alias("bucket"), "c_custkey", "c_acctbal"
        )
    )
    # "no RECENT order" keeps the anti join selective on this fixture
    # (every customer has some historical order)
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp_ntz")
    ).select("o_custkey")
    return (
        eligible.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_custs"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_acctbal"),
        )
    )


_HEADERS_SQL = _with(
    FX.RECORDS_CTE,
    """
hdr AS (
  SELECT topic, "offset",
         unnest([{'key': 'src_partition', 'value': CAST("partition" AS BIGINT)},
                 {'key': 'size', 'value': CAST(value_size AS BIGINT)}],
                recursive := false) AS h
  FROM records
)
""".strip(),
    """
SELECT topic, h.key AS header_key,
       CAST(SUM(h.value) AS BIGINT) AS value_sum,
       COUNT(*) AS n
FROM hdr GROUP BY topic, h.key
""",
)


@register("record_headers", _HEADERS_SQL)
def q_record_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data model's one nested structure (§1.1): headers as
    array<struct<key,value>> — built, exploded, and aggregated with
    pure array/struct ops (no UDF). Mirrors DefaultMessageTransformer
    carrying record.headers() through the pipeline
    (DefaultMessageTransformer.java:55)."""
    rec = FX.records(spark, sf_dir)
    with_headers = rec.select(
        "topic",
        "offset",
        F.array(
            F.struct(
                F.lit("src_partition").alias("key"),
                F.col("partition").cast("long").alias("value"),
            ),
            F.struct(
                F.lit("size").alias("key"),
                F.col("value_size").cast("long").alias("value"),
            ),
        ).alias("headers"),
    )
    exploded = with_headers.select(
        "topic", "offset", F.explode("headers").alias("h")
    )
    return exploded.groupBy("topic", F.col("h.key").alias("header_key")).agg(
        F.sum("h.value").cast("long").alias("value_sum"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# Q7 bi-national volume, Q8 market share
# ---------------------------------------------------------------------------

_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         strftime(l_shipdate, '%Y') AS l_year,
         CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY supp_nation, cust_nation, l_year
"""


@register("q7_nation_volume", _Q7_SQL)
def q_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bi-directional nation pair volume. Only the
    fixed-cardinality nation dims carry broadcast hints; supplier/
    customer/orders grow with SF, so AQE picks their join strategy
    (broadcast at small SF, shuffle-hash beyond the threshold — never
    a forced driver-side build of a multi-GB table). The disjunctive
    pair filter applies post-join on broadcast columns (no nested
    loop)."""
    from ureplicator_spark.operators.relational import (
        money_round, rev_units, sum_units, units_total,
    )
    from ureplicator_spark.sources.parquet import load_table

    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    j = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(load_table(spark, sf_dir, "supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(load_table(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(load_table(spark, sf_dir, "customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation",
            F.date_format("l_shipdate", "yyyy").alias("l_year"),
        )
        .agg(
            *sum_units(rev_units(), "rh", "rl"),
            F.count("*").alias("n_items"),
        )
        .select(
            "supp_nation", "cust_nation", "l_year",
            money_round(units_total("rh", "rl"), 4).alias("revenue"),
            "n_items",
        )
    )


_Q8_SQL = """
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN nation = 'NATION_5' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT strftime(o_orderdate, '%Y') AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
)
GROUP BY o_year
"""


@register("q8_market_share", _Q8_SQL)
def q_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional volume per year —
    a 7-table star join. Fixed-cardinality dims (nation, region) and
    the selective part filter broadcast; SF-growing supplier/customer/
    orders are left to AQE. The conditional share stays integer-exact
    before one double division."""
    from ureplicator_spark.operators.relational import (
        money_dec, rev_units, sum_units, units_total,
    )
    from ureplicator_spark.sources.parquet import load_table

    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    j = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(load_table(spark, sf_dir, "supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(load_table(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(load_table(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    nat_vol = F.when(F.col("nation") == "NATION_5", rev_units()).otherwise(F.lit(0))
    return (
        j.groupBy(F.date_format("o_orderdate", "yyyy").alias("o_year"))
        .agg(
            *sum_units(nat_vol, "nh", "nl"),
            *sum_units(rev_units(), "vh", "vl"),
        )
        .select(
            "o_year",
            round6f(
                money_dec(units_total("nh", "nl"), 4).cast("double")
                / money_dec(units_total("vh", "vl"), 4).cast("double")
            ).alias("mkt_share"),
        )
    )


# ---------------------------------------------------------------------------
# Remaining TPC-H shapes: correlated-min (Q2), profit rollup (Q9),
# HAVING vs scalar subquery (Q11), outer-join distribution (Q13),
# count-distinct + NOT IN (Q16), EXISTS + NOT EXISTS (Q21).
# No partsupp/commitdate in the fixture schema, so supply cost derives
# from lineitem (min extendedprice per part-supplier) and Q21's "kept
# waiting" becomes "sole returned-flag supplier on a finished order".
# ---------------------------------------------------------------------------

_Q2_SQL = """
WITH cost AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(l_extendedprice) AS unit_cost
  FROM lineitem GROUP BY 1, 2
),
eur AS (
  SELECT s_suppkey, s_name, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
rc AS (
  SELECT c.partkey, c.unit_cost, e.s_name, e.n_name
  FROM cost c JOIN eur e ON c.suppkey = e.s_suppkey
),
mn AS (SELECT partkey, MIN(unit_cost) AS min_cost FROM rc GROUP BY partkey)
SELECT p_partkey AS partkey, p_name AS part_name, rc.s_name AS supplier_name,
       rc.n_name AS nation, rc.unit_cost AS unit_cost
FROM rc JOIN mn ON rc.partkey = mn.partkey AND rc.unit_cost = mn.min_cost
JOIN part ON p_partkey = rc.partkey
WHERE p_size <= 5
"""


@register("q2_min_cost_supplier", _Q2_SQL)
def q_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery ("the supplier offering
    the minimum cost for this part"), decorrelated the way Catalyst
    rewrites it — aggregate-then-rejoin on the correlation key. Supply
    cost derives from lineitem (min extendedprice per part-supplier;
    no partsupp table in the fixtures). Scale shape: both sides of the
    min-rejoin are already partitioned on partkey from the groupBy, so
    the second shuffle is partial; region dims broadcast."""
    from ureplicator_spark.sources.parquet import load_table

    cost = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(F.min("l_extendedprice").alias("unit_cost"))
    )
    eur = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    rc = cost.join(eur, F.col("suppkey") == F.col("s_suppkey"))
    mn = rc.groupBy("partkey").agg(F.min("unit_cost").alias("min_cost"))
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    return (
        rc.join(mn, ["partkey"])
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("partkey"))
        .select(
            "partkey",
            F.col("p_name").alias("part_name"),
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation"),
            "unit_cost",
        )
    )


_Q9_SQL = """
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS yr,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


@register("q9_product_type_profit", _Q9_SQL)
def q_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by (supplier nation, ship year) for a
    part-name substring filter. Scale shape: the selective part filter
    broadcasts and prunes the fact FIRST (257/2000 parts); nation
    broadcasts; SF-growing supplier joins under AQE. The big shuffle is
    the final (nation, year) agg — map-side partials over ~25×|years|
    groups."""
    from ureplicator_spark.sources.parquet import load_table

    from ureplicator_spark.operators.relational import (
        money_round, rev_units, sum_units, units_total,
    )

    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    return (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            load_table(spark, sf_dir, "supplier"),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("yr"),
        )
        .agg(*sum_units(rev_units(), "rh", "rl"))
        .select(
            "nation", "yr", money_round(units_total("rh", "rl"), 4).alias("profit")
        )
    )


_Q11_SQL = """
WITH val AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  GROUP BY 1
)
SELECT partkey, CAST(ROUND(value_dec, 2) AS DOUBLE) AS part_value
FROM val
WHERE value_dec > (SELECT SUM(value_dec) * 0.001 FROM val)
"""


@register("q11_important_parts", _Q11_SQL)
def q_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a scalar subquery over the SAME
    aggregate (parts whose value exceeds 0.1% of total). The per-part
    agg is computed once and reused: the global total is a 1-row
    re-aggregation of it, broadcast back as a cross join — no second
    scan of the fact. Exact integer-units sums keep the > comparison
    deterministic across partitionings (decimal math only on the
    per-part aggregate rows)."""
    from ureplicator_spark.operators.relational import (
        money_dec, money_round, money_units, sum_units, units_total,
    )
    from ureplicator_spark.sources.parquet import load_table

    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    sup = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    )
    val = (
        load_table(spark, sf_dir, "lineitem")
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(*sum_units(money_units("l_extendedprice"), "vh", "vl"))
        .select(
            "partkey", money_dec(units_total("vh", "vl"), 2).alias("value_dec")
        )
    )
    total = val.agg((F.sum("value_dec") * F.lit(0.001)).alias("threshold"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec") > F.col("threshold"))
        .select(
            "partkey",
            F.round(F.col("value_dec"), 2).cast("double").alias("part_value"),
        )
    )


_Q13_SQL = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT n_orders, COUNT(*) AS n_customers
FROM per_cust GROUP BY n_orders
"""


@register("q13_customer_distribution", _Q13_SQL)
def q_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join with the filter INSIDE the join
    condition (customers with zero qualifying orders must survive with
    count 0), then a distribution-of-counts double aggregation. Scale
    shape: outer join shuffles on custkey; the second agg's key space
    is tiny (max orders per customer) so it collapses map-side."""
    from ureplicator_spark.sources.parquet import load_table

    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


_Q16_SQL = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 13, 17, 21)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
"""


@register("q16_supplier_part_counts", _Q16_SQL)
def q_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per part attribute
    bucket, excluding a NOT IN subquery of flagged suppliers. NOT IN
    over a provably non-null key is planned as a left anti join (the
    null-aware variant would force a broadcast nested loop). The
    distinct-agg expands to a two-phase agg keyed on
    (brand, size, suppkey) then (brand, size) — both map-side
    partial."""
    from ureplicator_spark.sources.parquet import load_table

    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        load_table(spark, sf_dir, "lineitem")
        .join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


_Q21_SQL = """
SELECT s_name AS supplier_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
"""


@register("q21_sole_failed_supplier", _Q21_SQL)
def q_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: correlated EXISTS + NOT EXISTS on the same key
    with inequality residuals — "the only supplier with a returned
    line on a multi-supplier finished order" (fixtures lack
    commit/receipt dates, so returnflag='R' stands in for late
    delivery). Spark plans both as hash joins on orderkey (left semi /
    left anti) with the suppkey<>suppkey residual — never a nested
    loop. All three lineitem branches shuffle on the SAME key
    (orderkey), so at scale the exchanges reuse one partitioning."""
    from ureplicator_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem")
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_3"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("s_name").alias("supplier_name"))
        .agg(F.count("*").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: chunking, split assignment, boilerplate
# ---------------------------------------------------------------------------

_CHUNKS_SQL = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(text, ' +') AS toks FROM documents
),
s AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(len(toks), 1), 24)) AS start
  FROM w
)
SELECT doc_id, CAST(start // 24 AS INTEGER) AS chunk_id,
       CAST(len(list_slice(toks, start + 1, start + 32)) AS INTEGER) AS n_tokens,
       ('0x' || substr(md5(array_to_string(list_slice(toks, start + 1, start + 32), ' ')), 1, 15))::BIGINT AS chunk_hash
FROM s
"""


@register("doc_chunks", _CHUNKS_SQL)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunks (size 32, stride 24) — the
    training-sample windowing pass. Map-only, zero shuffle."""
    from ureplicator_spark.operators.text import chunk_documents
    from ureplicator_spark.sources.parquet import load_table

    return chunk_documents(load_table(spark, sf_dir, "documents"), size=32, stride=24)


_SPLIT_SQL = """
WITH b AS (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
         n_chars
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY 1 ORDER BY 1
"""


@register("split_assignment", _SPLIT_SQL)
def q_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by doc_id hash
    bucket — reproducible across engines and runs."""
    from ureplicator_spark.operators.text import split_assign
    from ureplicator_spark.sources.parquet import load_table

    return split_assign(load_table(spark, sf_dir, "documents"))


_BOILERPLATE_SQL = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(text, ' +') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
  FROM w WHERE len(toks) >= 3
)
SELECT ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS shingle_hash,
       COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occur
FROM sh GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
"""


@register("boilerplate_shingles", _BOILERPLATE_SQL)
def q_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate: word 3-grams recurring across ≥2 distinct
    documents (candidates for removal)."""
    from ureplicator_spark.operators.text import boilerplate_shingles
    from ureplicator_spark.sources.parquet import load_table

    return boilerplate_shingles(load_table(spark, sf_dir, "documents"), k=3, min_docs=2)


# ---------------------------------------------------------------------------
# Embedding quantization + token redaction
# ---------------------------------------------------------------------------

_QUANT_SQL = _with(
    _COMP_CTE,
    "mx AS (SELECT vec_id, MAX(ABS(x)) AS mx FROM comp GROUP BY vec_id)",
    """qe AS (
  SELECT c.vec_id, c.i, c.x, 127.0 / m.mx AS scale,
         (SIGN(c.x * (127.0 / m.mx)) * FLOOR(ABS(c.x * (127.0 / m.mx)) + 0.5) + 0.0) AS q
  FROM comp c JOIN mx m ON c.vec_id = m.vec_id WHERE m.mx > 0
)""",
    """
SELECT vec_id,
       CAST(FLOOR(MIN(scale) * 1e6 + 0.5) / 1e6 AS DOUBLE) AS scale,
       CAST(FLOOR(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list(POWER(x - q / scale, 2) ORDER BY i)), (a, b) -> a + b)
            / COUNT(*) * 1e8 + 0.5) / 1e8 AS DOUBLE) AS mse,
       CAST(MAX(ABS(q)) AS INTEGER) AS max_q
FROM qe GROUP BY vec_id
""",
)


@register("embedding_quantize_int8", _QUANT_SQL)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization with per-vector scale + reconstruction
    MSE — the compression step before ANN storage at 100 TB."""
    from ureplicator_spark.operators.similarity import quantize_int8
    from ureplicator_spark.sources.parquet import load_table

    return quantize_int8(load_table(spark, sf_dir, "embeddings"))


_REDACT_SQL = """
WITH m AS (
  SELECT doc_id, regexp_split_to_array(text, ' +') AS toks,
         list_transform(regexp_split_to_array(text, ' +'),
            t -> CASE WHEN t IN ('key', 'value') OR regexp_matches(t, '[0-9]')
                 THEN '<MASK>' ELSE t END) AS masked
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len(list_filter(masked, t -> t = '<MASK>')) AS INTEGER) AS n_masked,
       ('0x' || substr(md5(array_to_string(masked, ' ')), 1, 15))::BIGINT AS redacted_hash
FROM m
"""


@register("text_redact", _REDACT_SQL)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token redaction (denylist + digit-bearing tokens → <MASK>) with
    stable redacted-text hashes; map-only."""
    from ureplicator_spark.operators.text import redact_tokens
    from ureplicator_spark.sources.parquet import load_table

    return redact_tokens(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Q20 shape: nested-IN + correlated aggregate threshold
# ---------------------------------------------------------------------------

_Q20_SQL = """
WITH shipped AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         SUM(l_quantity) AS total_qty,
         SUM(CASE WHEN EXTRACT(year FROM l_shipdate) = 1996
                  THEN l_quantity ELSE 0 END) AS qty_1996
  FROM lineitem GROUP BY 1, 2
),
excess AS (
  SELECT s.suppkey, COUNT(*) AS n_excess_parts
  FROM shipped s
  WHERE s.partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
    AND s.qty_1996 > 0 AND s.total_qty > 2 * s.qty_1996
  GROUP BY s.suppkey
)
SELECT s_suppkey AS suppkey, s_name AS supplier_name, n_name AS nation,
       CAST(n_excess_parts AS BIGINT) AS n_excess_parts
FROM supplier
JOIN excess ON s_suppkey = excess.suppkey
JOIN nation ON s_nationkey = n_nationkey
"""


@register("q20_excess_stock_suppliers", _Q20_SQL)
def q_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (Potential Part Promotion,
    reference-independent relational coverage): suppliers whose
    all-time shipped quantity of a name-filtered part exceeds 2x what
    they shipped in 1996 — the nested `IN (... IN (...) AND qty >
    correlated-agg)` pattern, decorrelated the way Catalyst rewrites
    it: one (partkey, suppkey) aggregate computes BOTH the total and
    the correlated-year quantity in a single shuffle (conditional
    partial aggs), the selective part-name dim broadcasts and prunes
    before the threshold filter, and the supplier/nation dims broadcast
    onto the small per-supplier excess counts. Scale shape: exactly one
    wide shuffle over lineitem; everything after is broadcast-side."""
    from ureplicator_spark.sources.parquet import load_table

    shipped = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.sum("l_quantity").alias("total_qty"),
            F.sum(
                F.when(F.year("l_shipdate") == 1996, F.col("l_quantity")).otherwise(
                    F.lit(0.0)
                )
            ).alias("qty_1996"),
        )
    )
    bolt = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    excess = (
        shipped.join(
            F.broadcast(bolt.select("p_partkey")),
            F.col("partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .filter((F.col("qty_1996") > 0) & (F.col("total_qty") > 2 * F.col("qty_1996")))
        .groupBy("suppkey")
        .agg(F.count("*").alias("n_excess_parts"))
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .join(excess, F.col("s_suppkey") == F.col("suppkey"))
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation"),
            F.col("n_excess_parts").cast("bigint").alias("n_excess_parts"),
        )
    )


_MIX_SQL = """
WITH g AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(text, ' +'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1, 2
)
SELECT source, lang, n_docs, n_tokens,
       CAST(FLOOR(n_tokens / (SELECT SUM(n_tokens) FROM g) * 1e6 + 0.5) / 1e6 AS DOUBLE)
         AS token_share
FROM g
"""


@register("corpus_mix", _MIX_SQL)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, lang) doc/token counts + global token share — the
    sampling-weight table for composing a training mixture."""
    from ureplicator_spark.operators.text import corpus_mix
    from ureplicator_spark.sources.parquet import load_table

    return corpus_mix(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Training-data curation: repetition gates, sampling, n-grams, outliers
# ---------------------------------------------------------------------------

_DTOKS_CTE = "dtoks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)"

_REP_TC_CTE = """
tc AS (
  SELECT doc_id, token, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS token FROM dtoks)
  GROUP BY doc_id, token
)
""".strip()

_REP_PER_CTE = """
per AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(MAX(c) AS BIGINT) AS top_token_n
  FROM tc GROUP BY doc_id
)
""".strip()

_REP_G2_CTE = """
g2 AS (
  SELECT doc_id, FLOOR((SUM(c) - COUNT(*)) * 1.0 / SUM(c) * 1e6 + 0.5) / 1e6 AS dup_2gram_share
  FROM (SELECT doc_id, gram, COUNT(*) AS c FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i+1])) AS gram
          FROM dtoks WHERE len(toks) >= 2) GROUP BY doc_id, gram)
  GROUP BY doc_id
)
""".strip()

_REP_G3_CTE = """
g3 AS (
  SELECT doc_id, FLOOR((SUM(c) - COUNT(*)) * 1.0 / SUM(c) * 1e6 + 0.5) / 1e6 AS dup_3gram_share
  FROM (SELECT doc_id, gram, COUNT(*) AS c FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
          FROM dtoks WHERE len(toks) >= 3) GROUP BY doc_id, gram)
  GROUP BY doc_id
)
""".strip()

_REPETITION_SQL = _with(
    _DTOKS_CTE,
    _REP_TC_CTE,
    _REP_PER_CTE,
    _REP_G2_CTE,
    _REP_G3_CTE,
    """
SELECT p.doc_id, p.n_tokens,
       FLOOR(p.top_token_n * 1.0 / p.n_tokens * 1e6 + 0.5) / 1e6 AS top_token_share,
       COALESCE(g2.dup_2gram_share, 0.0) AS dup_2gram_share,
       COALESCE(g3.dup_3gram_share, 0.0) AS dup_3gram_share
FROM per p LEFT JOIN g2 USING (doc_id) LEFT JOIN g3 USING (doc_id)
""",
)


@register("text_repetition_stats", _REPETITION_SQL)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-doc repetition signals (top-token share,
    duplicate 2-/3-gram shares) — the strongest single low-quality-web
    predictor; all per-doc aggs, map-side partial."""
    from ureplicator_spark.operators.text import repetition_stats
    from ureplicator_spark.sources.parquet import load_table

    return repetition_stats(load_table(spark, sf_dir, "documents"))


_QUALITY_GATE_SQL = _with(
    _DTOKS_CTE,
    _REP_TC_CTE,
    _REP_PER_CTE,
    _REP_G2_CTE,
    """
flags AS (
  SELECT d.source, d.lang,
         CASE WHEN p.n_tokens < 10 THEN 1 ELSE 0 END AS f_short,
         CASE WHEN p.n_tokens > 2000 THEN 1 ELSE 0 END AS f_long,
         CASE WHEN FLOOR(p.top_token_n * 1.0 / p.n_tokens * 1e6 + 0.5) / 1e6 > 0.2 THEN 1 ELSE 0 END AS f_top,
         CASE WHEN COALESCE(g2.dup_2gram_share, 0.0) > 0.3 THEN 1 ELSE 0 END AS f_dup
  FROM per p
  JOIN documents d USING (doc_id)
  LEFT JOIN g2 USING (doc_id)
)
""".strip(),
    """
SELECT source, lang, COUNT(*) AS n_docs,
       CAST(SUM(f_short) AS BIGINT) AS n_too_short,
       CAST(SUM(f_long) AS BIGINT) AS n_too_long,
       CAST(SUM(f_top) AS BIGINT) AS n_top_token,
       CAST(SUM(f_dup) AS BIGINT) AS n_dup_2gram,
       CAST(SUM(CASE WHEN f_short + f_long + f_top + f_dup = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM flags GROUP BY source, lang
""",
)


@register("quality_gate_summary", _QUALITY_GATE_SQL)
def q_quality_gate_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) tally of documents failing each pretraining
    gate — the report that picks sampling weights before training."""
    from ureplicator_spark.operators.text import quality_gate_summary
    from ureplicator_spark.sources.parquet import load_table

    return quality_gate_summary(load_table(spark, sf_dir, "documents"))


def _sample_rates_values() -> str:
    from ureplicator_spark.operators.text import LANG_SAMPLE_RATES

    vals = ", ".join(f"('{k}', {v})" for k, v in sorted(LANG_SAMPLE_RATES.items()))
    return f"rt AS (SELECT * FROM (VALUES {vals}) AS t(lang, rate))"


_STRATIFIED_SQL = _with(
    _sample_rates_values(),
    """
SELECT doc_id, source, lang, n_chars
FROM documents JOIN rt USING (lang)
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < rate
""",
)


@register("stratified_sample", _STRATIFIED_SQL)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling by content-independent
    md5 bucket — rebalance the corpus mix with zero sampling state and
    zero shuffles (broadcast literal rates + map-only predicate)."""
    from ureplicator_spark.operators.text import stratified_sample
    from ureplicator_spark.sources.parquet import load_table

    return stratified_sample(load_table(spark, sf_dir, "documents"))


_NGRAM_TOP_SQL = """
WITH grams AS (
  SELECT lang,
         unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i+1])) AS gram
  FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 2
),
gc AS (SELECT lang, gram, COUNT(*) AS c FROM grams GROUP BY lang, gram)
SELECT lang, gram, CAST(c AS BIGINT) AS n_occur, rank FROM (
  SELECT lang, gram, c,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, gram) AS rank
  FROM gc
) WHERE rank <= 10
"""


@register("ngram_top", _NGRAM_TOP_SQL)
def q_ngram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 word 2-grams per language (vocabulary/boilerplate
    report); the ranking window runs over the aggregated gram table,
    never the raw token stream."""
    from ureplicator_spark.operators.text import ngram_top
    from ureplicator_spark.sources.parquet import load_table

    return ngram_top(load_table(spark, sf_dir, "documents"))


_LENGTH_BUCKETS_SQL = """
SELECT source, CAST(length(bin(n_chars)) AS INT) AS len_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY source, len_bucket
"""


@register("doc_length_buckets", _LENGTH_BUCKETS_SQL)
def q_doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two doc-length histogram per source (bit-length bucket:
    integer-exact on every engine, no float log2 edges)."""
    from ureplicator_spark.operators.text import length_buckets
    from ureplicator_spark.sources.parquet import load_table

    return length_buckets(load_table(spark, sf_dir, "documents"))


_OUTLIER_SQL = _with(
    _COMP_CTE,
    """
labeled AS (
  SELECT c.vec_id, e.label, c.i, c.x
  FROM comp c JOIN embeddings e USING (vec_id)
)
""".strip(),
    # order-canonical signed mean (r12): micro6 integer sum -> one
    # division -> sign-aware 6dp round; mirrors _label_scores
    "cent AS (SELECT label, i, (SIGN(m) * FLOOR(ABS(m) * 1e6 + 0.5) / 1e6 + 0.0) AS cx"
    " FROM (SELECT label, i,"
    " CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 1e6 + 0.5) AS BIGINT)) AS BIGINT)"
    " / (COUNT(*) * 1e6) AS m"
    " FROM labeled GROUP BY label, i))",
    "cnorm AS (SELECT label, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(cx * cx ORDER BY i)), (a, b) -> a + b)) AS cn FROM cent GROUP BY label)",
    "vnorm AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b)) AS vn FROM embeddings)",
    """
dt AS (
  SELECT l.vec_id, l.label, SUM(l.x * c.cx) AS dot
  FROM labeled l JOIN cent c ON c.label = l.label AND c.i = l.i
  GROUP BY l.vec_id, l.label
)
""".strip(),
    """
scored AS (
  SELECT d.vec_id, d.label,
         (SIGN(d.dot / (v.vn * n.cn)) * FLOOR(ABS(d.dot / (v.vn * n.cn)) * 1e6 + 0.5) / 1e6 + 0.0) AS centroid_cosine
  FROM dt d JOIN vnorm v USING (vec_id) JOIN cnorm n USING (label)
)
""".strip(),
    """
SELECT label, vec_id, centroid_cosine, rank FROM (
  SELECT label, vec_id, centroid_cosine,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY centroid_cosine ASC, vec_id) AS rank
  FROM scored
) WHERE rank <= 3
""",
)


@register("embedding_label_outliers", _OUTLIER_SQL)
def q_embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mislabel sweep: the 3 vectors least cosine-similar to
    their own label centroid; centroids broadcast, one window over N
    scored rows."""
    from ureplicator_spark.operators.similarity import label_outliers
    from ureplicator_spark.sources.parquet import load_table

    return label_outliers(load_table(spark, sf_dir, "embeddings"))


# Shared connected-components CTE chain (minhash-LSH pairs at est
# Jaccard >= 0.5 -> undirected edges -> recursive transitive closure);
# used by fuzzy_dedup_clusters, dedup_keep_best, and (over the gated
# survivor set) curation_pipeline.
def _cc_ctes(src: str = "documents") -> str:
    return f"""
{_shingles_cte(src)},
{_MINHASH_CTE},
banded AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         md5(array_to_string(list(CAST(minhash AS VARCHAR) ORDER BY seed), ',')) AS band_hash
  FROM mh GROUP BY doc_id, CAST(seed // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN mh sa ON sa.doc_id = c.doc_a
  JOIN mh sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
  GROUP BY c.doc_a, c.doc_b
  HAVING ROUND(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT src, src AS node FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst AS node FROM reach r JOIN edges e ON e.src = r.node
)
""".strip()


_CC_CTES = _cc_ctes()

_CLUSTERS_SQL = f"""
WITH RECURSIVE {_CC_CTES}
SELECT src AS doc_id, MIN(node) AS cluster_id, (src = MIN(node)) AS is_keeper
FROM reach GROUP BY src
"""


@register("fuzzy_dedup_clusters", _CLUSTERS_SQL)
def q_fuzzy_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup: minhash-LSH candidate pairs (est
    Jaccard >= 0.5) -> connected components -> keep-one-per-cluster.
    The Spark side runs iterative min-label propagation (checkpointed
    per round, O(diameter) rounds); the oracle computes the same
    components via recursive transitive closure (exact for the
    control-sized sf0.01 graph). This hash-gates the full flagship
    dedup path, not just its pairwise stage. Pairs come from the
    standing signature index (r9): the CC fixpoint dominates, the
    signature build is amortized."""
    from ureplicator_spark.operators.dedup import duplicate_clusters

    pairs = _standing_lsh_pairs(spark, sf_dir).filter(F.col("est_jaccard") >= 0.5)
    return duplicate_clusters(pairs)


_CONTAMINATION_SQL = _with(
    _SHINGLES_CTE,
    "bench AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id < 10)",
    "corpus AS (SELECT doc_id, shingle FROM shingles WHERE doc_id >= 10)",
    """
SELECT c.doc_id, COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       FLOOR(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*) * 1e6 + 0.5) / 1e6 AS hit_share,
       FLOOR(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*) * 1e6 + 0.5) / 1e6 >= 0.5 AS contaminated
FROM corpus c LEFT JOIN bench b USING (shingle)
GROUP BY c.doc_id
""",
)


@register("benchmark_contamination", _CONTAMINATION_SQL)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination sweep: per-doc word-3-gram overlap against a
    fixed held-out benchmark set (docs 0-9 stand in); benchmark grams
    broadcast, corpus aggregates once."""
    from ureplicator_spark.operators.text import benchmark_contamination
    from ureplicator_spark.sources.parquet import load_table

    return benchmark_contamination(load_table(spark, sf_dir, "documents"))


_MIX_WEIGHTS_SQL = """
WITH g AS (
  SELECT source, lang,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source, lang
),
cells AS (
  SELECT source, lang, n_tokens,
         FLOOR(n_tokens * 1.0 / (SELECT SUM(n_tokens) FROM g) * 1e6 + 0.5) / 1e6 AS token_share,
         FLOOR(POW(FLOOR(n_tokens * 1.0 / (SELECT SUM(n_tokens) FROM g) * 1e6 + 0.5) / 1e6, 0.7) * 1e6 + 0.5) / 1e6 AS raw_w
  FROM g
)
SELECT source, lang, n_tokens, token_share,
       FLOOR(raw_w / (SELECT SUM(raw_w) FROM cells) * 1e6 + 0.5) / 1e6 AS weight
FROM cells
"""


@register("corpus_mix_weights", _MIX_WEIGHTS_SQL)
def q_corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.7) sampling weights per
    (source, lang) — the multinomial smoothing used to compose training
    mixtures; normalizers are 1-row broadcasts, corpus scanned once."""
    from ureplicator_spark.operators.text import corpus_mix_weights
    from ureplicator_spark.sources.parquet import load_table

    return corpus_mix_weights(load_table(spark, sf_dir, "documents"))


_SIMHASH_NEAR_SQL = _with(
    _SIMHASH_CTE,
    _SIMHASH_BITS_CTE,
    f"sims AS (SELECT doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS simhash FROM bitsums)",
    """
sbands AS (
  SELECT doc_id, simhash, band, (simhash >> (15 * band)) & 32767 AS band_val
  FROM sims CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(band)
)
""".strip(),
    """
scand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM sbands a JOIN sbands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
""".strip(),
    """
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM scand WHERE bit_count(xor(sim_a, sim_b)) <= 3
""",
)


@register("dedup_simhash_near_pairs", _SIMHASH_NEAR_SQL)
def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance <= 3 via 15-bit
    banding (Manku et al. WWW'07): by pigeonhole every qualifying pair
    shares an intact 15-bit band, so only bucket-local rows meet —
    the same no-all-pairs topology as MinHash-LSH, with 32k-value
    bands keeping bucket occupancy ~N/32768 as the corpus grows."""
    from ureplicator_spark.operators.dedup import simhash_near_pairs
    from ureplicator_spark.sources.parquet import load_table

    return simhash_near_pairs(load_table(spark, sf_dir, "documents"))


_BP_SPANS_SQL = _with(
    _DTOKS_CTE,
    """
posed AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> {'pos': i, 'gram': toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]})) AS s
  FROM dtoks WHERE len(toks) >= 3
)
""".strip(),
    "g AS (SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.gram AS gram FROM posed)",
    """
bp AS (
  SELECT gram, COUNT(DISTINCT doc_id) AS n_docs
  FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
)
""".strip(),
    """
SELECT g.doc_id, g.pos,
       ('0x' || substr(md5(g.gram), 1, 15))::BIGINT AS shingle_hash,
       bp.n_docs
FROM g JOIN bp USING (gram)
""",
)


@register("boilerplate_spans", _BP_SPANS_SQL)
def q_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 removal pass: 1-based token positions of every cross-doc
    boilerplate 3-gram occurrence per document (drives span deletion);
    map-only positioned explode + gram-keyed aggregate and join."""
    from ureplicator_spark.operators.text import boilerplate_spans
    from ureplicator_spark.sources.parquet import load_table

    return boilerplate_spans(load_table(spark, sf_dir, "documents"))


_FILTERED_ANN_SQL = _with(
    _COMP_CTE,
    _PLANES_CTE,
    _BITS_CTE,
    _BUCKETS_CTE,
    _NRM_CTE,
    """
fcand AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, e.label
  FROM buckets q
  JOIN buckets c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  JOIN embeddings e ON e.vec_id = c.vec_id AND e.label % 2 = 0
  WHERE q.vec_id < 10
)
""".strip(),
    """
fdots AS (
  SELECT f.q_id, f.c_id, f.label, SUM(q.x * c.x) AS dot
  FROM fcand f
  JOIN comp q ON q.vec_id = f.q_id
  JOIN comp c ON c.vec_id = f.c_id AND c.i = q.i
  GROUP BY f.q_id, f.c_id, f.label
)
""".strip(),
    """
SELECT q_id, c_id, label, cosine, CAST(rn AS INT) AS rank FROM (
  SELECT d.q_id, d.c_id, d.label,
         (SIGN(d.dot / (nq.n * nc.n)) * FLOOR(ABS(d.dot / (nq.n * nc.n)) * 1e6 + 0.5) / 1e6 + 0.0) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY d.q_id
                            ORDER BY (SIGN(d.dot / (nq.n * nc.n)) * FLOOR(ABS(d.dot / (nq.n * nc.n)) * 1e6 + 0.5) / 1e6 + 0.0) DESC, d.c_id) AS rn
  FROM fdots d
  JOIN nrm nq ON nq.vec_id = d.q_id
  JOIN nrm nc ON nc.vec_id = d.c_id
) WHERE rn <= 3
""",
)


@register("similarity_filtered_ann", _FILTERED_ANN_SQL)
def q_similarity_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ANN: top-3 within the query's LSH bucket
    restricted to even-label corpus vectors — pre-filtering (exact
    w.r.t. the predicate), never post-filtering a short top-k."""
    from ureplicator_spark.operators.similarity import lsh_ann_filtered
    from ureplicator_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_ann_filtered(emb, F.col("label") % 2 == 0)


# ---------------------------------------------------------------------------
# Event analytics: retention cohorts + ordered funnel (round 5)
# ---------------------------------------------------------------------------

_EV_SEC_CTE = (
    "ev AS (SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS ts_sec"
    " FROM events)"
)

_RETENTION_SQL = _with(
    _EV_SEC_CTE,
    "first AS (SELECT user_id, MIN(ts_sec) AS first_ts FROM ev GROUP BY user_id)",
    """
SELECT CAST(first_ts // 604800 AS BIGINT) AS cohort_week,
       CAST(ts_sec // 604800 - first_ts // 604800 AS BIGINT) AS week_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM ev JOIN first USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
""",
)


@register("user_retention", _RETENTION_SQL)
def q_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the event stream (first-touch
    cohorting; the training-telemetry twin of product retention)."""
    from ureplicator_spark.operators import relational as REL

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = raw.select("user_id", FX.event_ts_sec(raw).alias("ts_sec"))
    return REL.retention_cohorts(ev)


_FUNNEL_SQL = _with(
    _EV_SEC_CTE,
    "s0 AS (SELECT user_id, MIN(ts_sec) AS t FROM ev WHERE event_type = 'signup' GROUP BY user_id)",
    """
s1 AS (
  SELECT e.user_id, MIN(e.ts_sec) AS t
  FROM ev e JOIN s0 ON e.user_id = s0.user_id
  WHERE e.event_type = 'view' AND e.ts_sec > s0.t
  GROUP BY e.user_id
)
""".strip(),
    """
s2 AS (
  SELECT e.user_id, MIN(e.ts_sec) AS t
  FROM ev e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase' AND e.ts_sec > s1.t
  GROUP BY e.user_id
)
""".strip(),
    """
SELECT * FROM (
  SELECT CAST(0 AS INTEGER) AS stage, 'signup' AS event_type,
         (SELECT COUNT(*) FROM s0) AS n_users
  UNION ALL
  SELECT 1, 'view', (SELECT COUNT(*) FROM s1)
  UNION ALL
  SELECT 2, 'purchase', (SELECT COUNT(*) FROM s2)
) ORDER BY stage
""",
)


@register("event_funnel", _FUNNEL_SQL)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup→view→purchase funnel (min-ts chaining)."""
    from ureplicator_spark.operators import relational as REL

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = raw.select("user_id", "event_type", FX.event_ts_sec(raw).alias("ts_sec"))
    return REL.funnel_counts(ev).orderBy("stage")


_TRANSITIONS_SQL = _with(
    "ev AS (SELECT event_id, user_id, event_type,"
    " epoch_ns(ts) // 1000000000 AS ts_sec FROM events)",
    """
tpairs AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS prev_type,
         event_type AS curr_type
  FROM ev
)
""".strip(),
    """
tmatrix AS (
  SELECT prev_type, curr_type, COUNT(*) AS n
  FROM tpairs WHERE prev_type IS NOT NULL GROUP BY prev_type, curr_type
)
""".strip(),
    "ttot AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS t FROM tmatrix GROUP BY prev_type)",
    """
SELECT m.prev_type, m.curr_type, m.n, FLOOR(CAST(m.n AS DOUBLE) / t.t * 1e6 + 0.5) / 1e6 AS p
FROM tmatrix m JOIN ttot t USING (prev_type)
ORDER BY m.prev_type, m.curr_type
""",
)


@register("event_transitions", _TRANSITIONS_SQL)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams (LAG window, (ts, event_id)-deterministic ordering) — the
    behavioral-model complement of sessionization/funnel/retention."""
    from ureplicator_spark.operators import relational as REL

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = raw.select(
        "event_id", "user_id", "event_type", FX.event_ts_sec(raw).alias("ts_sec")
    )
    return REL.event_transitions(ev)


# ---------------------------------------------------------------------------
# Embedding clustering + ANN quality (round 5)
# ---------------------------------------------------------------------------

_KMEANS_COMPQ_CTE = """
compq AS (
  SELECT vec_id, r.i,
         CAST(round(CAST(embedding[r.i] AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) r
)
""".strip()

# Lloyd assignment chain (init c0 = first 8 vectors; 2 assignment
# passes with 1 exact-floor-division centroid update between): ends at
# a2 = (vec_id, cluster_id, dist). Shared by the kmeans summary and
# the SemDeDup within-cluster dedup oracle.
_KMEANS_ASSIGN_CTES = (
    _KMEANS_COMPQ_CTE,
    "c0 AS (SELECT vec_id AS cluster_id, i, q AS c FROM compq WHERE vec_id < 8)",
    """
d1 AS (
  SELECT v.vec_id, c.cluster_id, SUM((v.q - c.c) * (v.q - c.c)) AS dist
  FROM compq v JOIN c0 c ON v.i = c.i GROUP BY v.vec_id, c.cluster_id
)
""".strip(),
    """
a1 AS (
  SELECT vec_id, cluster_id FROM (
    SELECT vec_id, cluster_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
    FROM d1
  ) WHERE rn = 1
)
""".strip(),
    """
c1 AS (
  SELECT a.cluster_id, v.i,
         CAST((SUM(v.q) - ((SUM(v.q) % COUNT(*)) + COUNT(*)) % COUNT(*)) // COUNT(*) AS BIGINT) AS c
  FROM compq v JOIN a1 a ON v.vec_id = a.vec_id GROUP BY a.cluster_id, v.i
)
""".strip(),
    """
d2 AS (
  SELECT v.vec_id, c.cluster_id, SUM((v.q - c.c) * (v.q - c.c)) AS dist
  FROM compq v JOIN c1 c ON v.i = c.i GROUP BY v.vec_id, c.cluster_id
)
""".strip(),
    """
a2 AS (
  SELECT vec_id, cluster_id, dist FROM (
    SELECT vec_id, cluster_id, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
    FROM d2
  ) WHERE rn = 1
)
""".strip(),
)

_KMEANS_SQL = _with(
    *_KMEANS_ASSIGN_CTES,
    """
SELECT cluster_id, COUNT(*) AS n_vecs, CAST(SUM(dist) AS BIGINT) AS inertia
FROM a2 GROUP BY cluster_id ORDER BY cluster_id
""",
)


@register("embedding_kmeans", _KMEANS_SQL)
def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact Lloyd k-means (k=8, 2 assignment passes) — the
    corpus-clustering step behind IVF index builds and data-mixture
    balancing, deterministic enough for a bit-exact oracle. Summarizes
    the STANDING Lloyd map (`standing.get("kmeans")`) — the assignment table
    the SemDeDup family consumes; training reported as
    ``kmeans_build_sec``, from-scratch twin pinned in tests."""
    from ureplicator_spark.operators.similarity import kmeans_clusters_from

    return kmeans_clusters_from(_standing_kmeans_assignments(spark, sf_dir))


# scored within-cluster pair chain, shared by the pairs query and the
# keep/drop summary (threshold applied by each consumer)
_SEMANTIC_PAIR_CTES = (
    *_KMEANS_ASSIGN_CTES,
    _COMP_CTE,
    _NRM_CTE,
    """
sempairs AS (
  SELECT a.cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM a2 a JOIN a2 b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
)
""".strip(),
    """
semdots AS (
  SELECT p.cluster_id, p.vec_a, p.vec_b, SUM(qa.x * qb.x) AS dot
  FROM sempairs p
  JOIN comp qa ON qa.vec_id = p.vec_a
  JOIN comp qb ON qb.vec_id = p.vec_b AND qb.i = qa.i
  GROUP BY p.cluster_id, p.vec_a, p.vec_b
)
""".strip(),
    """
semscored AS (
  SELECT d.cluster_id, d.vec_a, d.vec_b,
         (SIGN(d.dot / (na.n * nb.n)) * FLOOR(ABS(d.dot / (na.n * nb.n)) * 1e6 + 0.5) / 1e6 + 0.0) AS cosine
  FROM semdots d
  JOIN nrm na ON na.vec_id = d.vec_a
  JOIN nrm nb ON nb.vec_id = d.vec_b
)
""".strip(),
)

_SEMANTIC_DEDUP_SQL = _with(
    *_SEMANTIC_PAIR_CTES,
    """
SELECT cluster_id, vec_a, vec_b, cosine, vec_a AS keeper_vec_id
FROM semscored WHERE cosine >= 0.45
ORDER BY cluster_id, vec_a, vec_b
""",
)


@register("dedup_semantic_pairs", _SEMANTIC_DEDUP_SQL)
def q_dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup pairs compared
    ONLY within a k-means cluster — N²/k work instead of all-pairs;
    at 100 TB, k grows with the corpus so per-cluster work is flat.
    The 0.45 threshold matches this synthetic corpus's cosine range
    (tops out ≈0.6); real embedding models use ≈0.95+."""
    from ureplicator_spark.operators.similarity import semantic_dedup_pairs
    from ureplicator_spark.sources.parquet import load_table

    return semantic_dedup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.45,
        assignments=_standing_kmeans_assignments(spark, sf_dir),
    )


_SEMANTIC_SUMMARY_SQL = _with(
    *_SEMANTIC_PAIR_CTES,
    "semdrops AS (SELECT DISTINCT cluster_id, vec_b FROM semscored WHERE cosine >= 0.45)",
    "semsizes AS (SELECT cluster_id, COUNT(*) AS n_vecs FROM a2 GROUP BY cluster_id)",
    """
SELECT s.cluster_id, s.n_vecs,
       CAST(COALESCE(dc.n_dropped, 0) AS BIGINT) AS n_dropped,
       FLOOR((1 - COALESCE(dc.n_dropped, 0) * 1.0 / s.n_vecs) * 1e6 + 0.5) / 1e6 AS keep_rate
FROM semsizes s
LEFT JOIN (SELECT cluster_id, COUNT(*) AS n_dropped FROM semdrops GROUP BY cluster_id) dc
  USING (cluster_id)
ORDER BY s.cluster_id
""",
)


@register("dedup_semantic_summary", _SEMANTIC_SUMMARY_SQL)
def q_dedup_semantic_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's actionable dashboard: per-cluster survivor counts
    under the greedy min-id keeper (drop anything with a smaller-id
    near-dup in its cluster). One Lloyd pass feeds both the pair
    scorer and the cluster sizes."""
    from ureplicator_spark.operators.similarity import semantic_dedup_summary
    from ureplicator_spark.sources.parquet import load_table

    return semantic_dedup_summary(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.45,
        assignments=_standing_kmeans_assignments(spark, sf_dir),
    )


_ANN_RECALL_SQL = _with(
    _COMP_CTE,
    _PLANES_CTE,
    _BITS_CTE,
    _BUCKETS_CTE,
    _NRM_CTE,
    """
bfdots AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, SUM(q.x * c.x) AS dot
  FROM comp q JOIN comp c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id
)
""".strip(),
    """
bf AS (
  SELECT q_id, c_id FROM (
    SELECT d.q_id, d.c_id,
           ROW_NUMBER() OVER (PARTITION BY d.q_id
                              ORDER BY (SIGN(d.dot / (nq.n * nc.n)) * FLOOR(ABS(d.dot / (nq.n * nc.n)) * 1e6 + 0.5) / 1e6 + 0.0) DESC, d.c_id) AS rn
    FROM bfdots d
    JOIN nrm nq ON nq.vec_id = d.q_id
    JOIN nrm nc ON nc.vec_id = d.c_id
  ) WHERE rn <= 3
)
""".strip(),
    """
cand AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id
  FROM buckets q JOIN buckets c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
)
""".strip(),
    """
anndots AS (
  SELECT cand.q_id, cand.c_id, SUM(q.x * c.x) AS dot
  FROM cand
  JOIN comp q ON q.vec_id = cand.q_id
  JOIN comp c ON c.vec_id = cand.c_id AND c.i = q.i
  GROUP BY cand.q_id, cand.c_id
)
""".strip(),
    """
ann AS (
  SELECT q_id, c_id FROM (
    SELECT d.q_id, d.c_id,
           ROW_NUMBER() OVER (PARTITION BY d.q_id
                              ORDER BY (SIGN(d.dot / (nq.n * nc.n)) * FLOOR(ABS(d.dot / (nq.n * nc.n)) * 1e6 + 0.5) / 1e6 + 0.0) DESC, d.c_id) AS rn
    FROM anndots d
    JOIN nrm nq ON nq.vec_id = d.q_id
    JOIN nrm nc ON nc.vec_id = d.c_id
  ) WHERE rn <= 3
)
""".strip(),
    """
hits AS (
  SELECT bf.q_id, COUNT(*) AS n_hits
  FROM bf JOIN ann ON bf.q_id = ann.q_id AND bf.c_id = ann.c_id
  GROUP BY bf.q_id
)
""".strip(),
    """
SELECT q.q_id, CAST(COALESCE(h.n_hits, 0) AS INTEGER) AS n_hits,
       ROUND(COALESCE(h.n_hits, 0) / 3.0, 6) AS recall
FROM (SELECT DISTINCT q_id FROM bf) q
LEFT JOIN hits h USING (q_id) ORDER BY q_id
""",
)


@register("similarity_ann_recall", _ANN_RECALL_SQL)
def q_similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the LSH bucket-local ANN vs brute-force truth.
    The truth side reads the STANDING eval ground-truth table (r10 —
    offline eval sets cache exact neighbors once per snapshot);
    from-scratch twin pinned in tests."""
    from ureplicator_spark.operators.similarity import ann_recall
    from ureplicator_spark.sources.parquet import load_table

    return ann_recall(
        load_table(spark, sf_dir, "embeddings"),
        bf=_standing_truth(spark, sf_dir, "cosine_top3"),
    )


_CHUNK_DEDUP_SQL = (
    "WITH chunks AS (\n" + _CHUNKS_SQL + "\n)\n"
    """
SELECT chunk_hash, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occur,
       MIN(doc_id) AS keeper_doc_id
FROM chunks GROUP BY chunk_hash HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY chunk_hash
"""
)


@register("chunk_dedup", _CHUNK_DEDUP_SQL)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document chunk dedup (C4 line-dedup at chunk granularity)."""
    from ureplicator_spark.operators.text import chunk_dedup
    from ureplicator_spark.sources.parquet import load_table

    return chunk_dedup(load_table(spark, sf_dir, "documents"))


_BPE_SQL = """
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), ' +')) AS INTEGER) AS n_words,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS INTEGER) AS n_bpe_tokens,
       FLOOR(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))
             * 1.0 / len(regexp_split_to_array(trim(text), ' +')) * 1e6 + 0.5) / 1e6 AS tokens_per_word
FROM documents
"""


@register("token_count_bpe", _BPE_SQL)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer size estimate (token-budget heuristic)."""
    from ureplicator_spark.operators.text import bpe_token_estimate
    from ureplicator_spark.sources.parquet import load_table

    return bpe_token_estimate(load_table(spark, sf_dir, "documents"))


_CONTAINMENT_SQL = _with(
    _SHINGLES_CTE,
    "sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM shingles GROUP BY doc_id)",
    """
inter AS (
  SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc, COUNT(*) AS n_shared
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
""".strip(),
    """
SELECT inner_doc, outer_doc, s.n_grams AS n_inner, n_shared,
       FLOOR(CAST(n_shared AS DOUBLE) / s.n_grams * 1e6 + 0.5) / 1e6 AS containment
FROM inter JOIN sizes s ON s.doc_id = inner_doc
WHERE n_shared * 1.0 / s.n_grams >= 0.9
ORDER BY inner_doc, outer_doc
""",
)


@register("dedup_containment", _CONTAINMENT_SQL)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-containment pairs (substring-dedup signal),
    probed from the standing index's persisted rarest-first shingle
    arrays (r9): the shingle→count→sort build is amortized into the
    snapshot build; the probe pays the asymmetric-prefix candidate
    join + array verification only. Equal by construction to the
    from-scratch ``containment_pairs`` (same arrays), which stays
    property-tested for completeness in tests/test_properties.py."""
    from ureplicator_spark.operators.dedup import containment_from_docarr

    return containment_from_docarr(_standing_shingle_arrays(spark, sf_dir))


_LSH_SWEEP_SQL = (
    "WITH pairs AS (\n" + _LSH_PAIRS_SQL + "\n)\n"
    """
SELECT est_jaccard, COUNT(*) AS n_pairs,
       CAST(SUM(COUNT(*)) OVER (ORDER BY est_jaccard DESC) AS BIGINT) AS n_pairs_at_or_above
FROM pairs GROUP BY est_jaccard ORDER BY est_jaccard
"""
)


@register("dedup_threshold_sweep", _LSH_SWEEP_SQL)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup tuning curve: candidate-pair volume per estimated-Jaccard
    level plus the cumulative count at-or-above each level — the view
    an operator reads to pick the near-dup threshold (how many pairs a
    cutoff keeps/drops) before launching a corpus-wide removal. Tiny
    rollup over the LSH pair set — served from the standing signature
    index (r9): one extra shuffle on the 9-value est_jaccard domain
    plus a window over ≤9 rows."""
    from pyspark.sql import Window

    pairs = _standing_lsh_pairs(spark, sf_dir)
    per_level = pairs.groupBy("est_jaccard").agg(F.count("*").alias("n_pairs"))
    w = Window.orderBy(F.col("est_jaccard").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_level.select(
        "est_jaccard",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_at_or_above"),
    ).orderBy("est_jaccard")


_SPIKES_SQL = _with(
    FX.RECORDS_CTE,
    """
counts AS (
  SELECT topic, (ts_sec // 60) * 60 AS win_start, COUNT(*) AS n_events
  FROM records GROUP BY 1, 2
)
""".strip(),
    """
moments AS (
  SELECT topic, COUNT(*) AS n_windows, SUM(n_events) AS s1,
         SUM(n_events * n_events) AS s2
  FROM counts GROUP BY topic
)
""".strip(),
    """
SELECT c.topic, CAST(c.win_start AS BIGINT) AS win_start, c.n_events,
       (m.n_windows * c.n_events - m.s1 > 0
        AND (m.n_windows * c.n_events - m.s1) * (m.n_windows * c.n_events - m.s1)
              > 4 * (m.n_windows * m.s2 - m.s1 * m.s1)) AS is_spike
FROM counts c JOIN moments m ON c.topic = m.topic
ORDER BY c.topic, c.win_start
""",
)


@register("workload_rate_spikes", _SPIKES_SQL)
def q_workload_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact 2σ ingestion-rate spike flags per topic window."""
    from ureplicator_spark.operators.workload import rate_spikes

    return rate_spikes(FX.records(spark, sf_dir))


_CORPUS_HEALTH_SQL = """
WITH eh AS (
  SELECT doc_id, source, md5(text) AS content_hash
  FROM documents
),
egroups AS (
  SELECT content_hash, COUNT(*) AS n, MIN(doc_id) AS keeper
  FROM eh GROUP BY content_hash
),
flags AS (
  SELECT e.doc_id, e.source,
         CASE WHEN g.n > 1 AND e.doc_id <> g.keeper THEN 1 ELSE 0 END AS is_exact_dup
  FROM eh e JOIN egroups g ON e.content_hash = g.content_hash
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(is_exact_dup) AS BIGINT) AS n_exact_dups,
       FLOOR(SUM(is_exact_dup) * 1.0 / COUNT(*) * 1e6 + 0.5) / 1e6 AS exact_dup_rate
FROM flags GROUP BY source ORDER BY source
"""


@register("corpus_health", _CORPUS_HEALTH_SQL)
def q_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health: exact-duplicate counts and rates —
    the dashboard row a curation pipeline watches per ingestion
    source. Keeper convention matches exact_dedup_groups (min doc_id
    survives); one shuffle on content hash + the per-source rollup."""
    from ureplicator_spark.operators.dedup import exact_dedup_groups
    from ureplicator_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    groups = exact_dedup_groups(docs)
    flagged = (
        docs.select("doc_id", "source", F.md5("text").alias("content_hash"))
        .join(groups, "content_hash")
        .select(
            "source",
            (
                (F.col("n_docs") > 1)
                & (F.col("doc_id") != F.col("keeper_doc_id"))
            ).cast("int").alias("is_exact_dup"),
        )
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("is_exact_dup").cast("long").alias("n_exact_dups"),
        )
        .select(
            "source",
            "n_docs",
            "n_exact_dups",
            round6f(F.col("n_exact_dups") / F.col("n_docs")).alias("exact_dup_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round-5 additions: unigram-LM quality proxy, source KL drift,
# token-budget shard packing, keep-best dedup retention
# ---------------------------------------------------------------------------

_PERPLEXITY_SQL = _with(
    _TOK_CTE,
    "model AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token)",
    "total AS (SELECT COUNT(*) AS t FROM tok)",
    "m6 AS (SELECT token, CAST(SIGN(ln(c)) * FLOOR(ABS(ln(c)) * 1e6 + 0.5) AS BIGINT) AS lnc6 FROM model)",
    """
per AS (
  SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(lnc6) AS BIGINT) AS slc6
  FROM tok JOIN m6 USING (token) GROUP BY doc_id
)
""".strip(),
    """
SELECT doc_id, n_tokens,
       FLOOR((ln(t) - CAST(slc6 AS DOUBLE) / (n_tokens * 1e6)) * 1e6 + 0.5) / 1e6
         AS cross_entropy
FROM per CROSS JOIN total ORDER BY doc_id
""",
)


@register("doc_perplexity_proxy", _PERPLEXITY_SQL)
def q_doc_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under a corpus-trained unigram LM — the
    cheap perplexity proxy that ranks raw documents before a
    model-based quality filter (the KenLM stage of CCNet,
    approximated in-engine). Model table is vocabulary-sized and
    broadcast; one shuffle for training counts, one for the per-doc
    average."""
    from ureplicator_spark.operators.text import unigram_lm_score
    from ureplicator_spark.sources.parquet import load_table

    return unigram_lm_score(load_table(spark, sf_dir, "documents"))


_DSIR_SQL = _with(
    _TOK_CTE,
    """
dsir_pre AS (
  SELECT t.doc_id, d.source,
         ('0x' || substr(md5(t.token), 1, 15))::BIGINT % 256 AS bucket,
         COUNT(*) AS cnt
  FROM tok t JOIN documents d USING (doc_id)
  GROUP BY t.doc_id, d.source, ('0x' || substr(md5(t.token), 1, 15))::BIGINT % 256
)
""".strip(),
    """
dsir_counts AS (
  SELECT bucket,
         SUM(CASE WHEN source = 'src0' THEN cnt ELSE 0 END) AS ct,
         SUM(CASE WHEN source <> 'src0' THEN cnt ELSE 0 END) AS cr
  FROM dsir_pre GROUP BY bucket
)
""".strip(),
    "dsir_tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr FROM dsir_counts)",
    """
dsir_model AS (
  SELECT bucket,
         CAST(SIGN(ln((ct + 1) / (tt + 256.0)) - ln((cr + 1) / (tr + 256.0))) * FLOOR(ABS(ln((ct + 1) / (tt + 256.0)) - ln((cr + 1) / (tr + 256.0))) * 1e6 + 0.5) AS BIGINT) AS lr6
  FROM dsir_counts CROSS JOIN dsir_tot
)
""".strip(),
    """
SELECT p.doc_id, CAST(SUM(p.cnt) AS BIGINT) AS n_tokens,
       CAST(SUM(p.cnt * m.lr6) AS DOUBLE) / 1e6 AS log_weight
FROM dsir_pre p JOIN dsir_model m USING (bucket)
WHERE p.source <> 'src0'
GROUP BY p.doc_id ORDER BY p.doc_id
""",
)


@register("dsir_importance_weights", _DSIR_SQL)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed-unigram importance
    weights scoring every raw-pool doc for target-likeness (target =
    source 'src0'). Both bucket distributions are 256 rows and
    broadcast; the corpus pays one doc_id shuffle however large the
    vocabulary — the point of hashed features."""
    from ureplicator_spark.operators.text import dsir_weights
    from ureplicator_spark.sources.parquet import load_table

    return dsir_weights(load_table(spark, sf_dir, "documents"))


_SOURCE_KL_SQL = """
WITH tok2 AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
st AS (SELECT source, token, COUNT(*) AS cs FROM tok2 GROUP BY source, token),
stot AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ts FROM st GROUP BY source),
corpus AS (SELECT token, COUNT(*) AS c FROM tok2 GROUP BY token),
grand AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM corpus)

SELECT source, COUNT(DISTINCT st.token) AS n_terms,
       CAST(SUM(CAST(SIGN((CAST(cs AS DOUBLE) / ts) * ln((CAST(cs AS DOUBLE) / ts) / (CAST(c AS DOUBLE) / t))) * FLOOR(ABS((CAST(cs AS DOUBLE) / ts) * ln((CAST(cs AS DOUBLE) / ts) / (CAST(c AS DOUBLE) / t))) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS kl_divergence
FROM st JOIN stot USING (source) JOIN corpus USING (token) CROSS JOIN grand
GROUP BY source ORDER BY source
"""


@register("source_unigram_kl", _SOURCE_KL_SQL)
def q_source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over unigram distributions — the drift
    gauge a mixing pipeline watches per ingestion source. One shuffle
    on (source, token); corpus vocabulary broadcast."""
    from ureplicator_spark.operators.text import source_unigram_kl
    from ureplicator_spark.sources.parquet import load_table

    return source_unigram_kl(load_table(spark, sf_dir, "documents"))


_SHARD_PACKING_SQL = """
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens, SUM(n_tokens) OVER (ORDER BY doc_id) AS cum FROM t
)
SELECT CAST((cum - n_tokens) // 20000 AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM c GROUP BY 1 ORDER BY 1
"""


@register("token_shard_packing", _SHARD_PACKING_SQL)
def q_token_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous token-budget sharding (20k tokens/shard): the layout
    step before writing tokenized trainer shards. Prefix sum is
    two-phase (per-bucket totals + bucket-offset window) so no global
    window ever sees the full corpus — the oracle's single ORDER BY
    window is the semantics, not the plan."""
    from ureplicator_spark.operators.text import token_shard_packing
    from ureplicator_spark.sources.parquet import load_table

    return token_shard_packing(load_table(spark, sf_dir, "documents"))


_KEEP_BEST_SQL = f"""
WITH RECURSIVE {_CC_CTES},
comp AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src),
sized AS (
  SELECT c.doc_id, c.cluster_id, d.n_chars
  FROM comp c JOIN documents d USING (doc_id)
),
best AS (
  SELECT cluster_id, doc_id AS kept_doc, n_chars AS kept_chars FROM (
    SELECT cluster_id, doc_id, n_chars,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM sized
  ) WHERE rn = 1
),
stats AS (
  SELECT cluster_id, COUNT(*) AS n_members,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM sized GROUP BY cluster_id
)
SELECT b.cluster_id, b.kept_doc, b.kept_chars, s.n_members,
       s.n_members - 1 AS n_dropped,
       s.total_chars - b.kept_chars AS chars_dropped
FROM best b JOIN stats s USING (cluster_id) ORDER BY cluster_id
"""


@register("dedup_keep_best", _KEEP_BEST_SQL)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention policy over fuzzy-dup clusters: keep the longest doc
    per cluster (tie → min doc_id), report members/chars dropped —
    the decision layer that turns cluster labels into curation
    output. Cluster rows only (near-dup fraction of the corpus) flow
    into the window; the corpus itself is never reshuffled. Pairs come
    from the standing signature index (r9)."""
    from ureplicator_spark.operators.dedup import (
        duplicate_clusters,
        keep_best_per_cluster,
    )
    from ureplicator_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = _standing_lsh_pairs(spark, sf_dir).filter(F.col("est_jaccard") >= 0.5)
    return keep_best_per_cluster(docs, duplicate_clusters(pairs))


_MAX_DEDICATED = int(FX.N_INSTANCES * 0.5)

_LAG_WEIGHTED_SQL = _with(
    FX.RECORDS_CTE,
    _COMMITTED_CTE,
    _LATEST_CTE,
    _PARTITION_WL_CTE,
    _SPAN_CTE,
    _ASSIGNMENTS_CTE,
    """
lagt AS (
  SELECT l.topic, l."partition",
         GREATEST(0, l.latest_offset - GREATEST(COALESCE(c.commit_offset, 0), 0)) AS lag
  FROM latest l LEFT JOIN committed c USING (topic, "partition")
)
""".strip(),
    """
pw AS (
  SELECT topic, "partition", FLOOR(total_msgs / span_sec * 1e6 + 0.5) / 1e6 AS msgs_per_sec
  FROM partition_wl, span
)
""".strip(),
    """
lt AS (
  SELECT l.topic, l."partition", l.lag,
         FLOOR(FLOOR(l.lag * 1.0 / GREATEST(1.0, COALESCE(p.msgs_per_sec, 0.0)) * 1e4 + 0.5) / 1e4 / 60)
           AS lag_min
  FROM lagt l LEFT JOIN pw p USING (topic, "partition")
)
""".strip(),
    """
pp AS (
  SELECT a.instance,
         CASE WHEN COALESCE(l.lag, 0) > 0 THEN 1 ELSE 0 END AS is_lagging,
         CASE WHEN COALESCE(l.lag, 0) > 0 THEN 1.0 + LEAST(120, l.lag_min)
              ELSE 1.0 END AS weight
  FROM assignments a LEFT JOIN lt l USING (topic, "partition")
)
""".strip(),
    """
inst AS (
  SELECT instance, COUNT(*) AS n_partitions,
         CAST(SUM(is_lagging) AS BIGINT) AS n_lagging,
         ROUND(SUM(weight), 6) AS adjusted_weight
  FROM pp GROUP BY instance
)
""".strip(),
    f"""
SELECT instance, n_partitions, n_lagging, adjusted_weight,
       (n_lagging > 0 AND rk <= {_MAX_DEDICATED}) AS is_dedicated_candidate
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_lagging * 1.0 / n_partitions DESC, instance) AS rk
  FROM inst
) ORDER BY instance
""",
)


@register("lag_weighted_assignment", _LAG_WEIGHTED_SQL)
def q_lag_weighted_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-weighted rebalancer analytics (A2 adjunct): which instances
    would serve as dedicated lagging-partition instances, and each
    instance's lag-adjusted workload weight
    (AutoRebalanceLiveInstanceChangeListener.java:482-592)."""
    rec = FX.records(spark, sf_dir)
    lag_df = LAG.consumer_lag(rec, FX.SNAPSHOT_T1).select("topic", "partition", "lag")
    lt = LAG.lag_time(lag_df, WKL.partition_workload(rec))
    assignments = ASG.derive_assignments(rec, FX.N_INSTANCES)
    return ASG.lag_weighted_instance_view(assignments, lt, FX.N_INSTANCES)


# ---------------------------------------------------------------------------
# Product quantization: codes + asymmetric-distance search
# ---------------------------------------------------------------------------

_PQ_TRAIN_CTES = (
    _KMEANS_COMPQ_CTE,
    "pcomp AS (SELECT vec_id, (i - 1) // 16 AS sub, i, q FROM compq)",
    "pc0 AS (SELECT sub, vec_id AS code, i, q AS c FROM pcomp WHERE vec_id < 4)",
    """
pd1 AS (
  SELECT v.vec_id, v.sub, c.code, SUM((v.q - c.c) * (v.q - c.c)) AS dist
  FROM pcomp v JOIN pc0 c ON v.sub = c.sub AND v.i = c.i
  GROUP BY v.vec_id, v.sub, c.code
)
""".strip(),
    """
pa1 AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM pd1
  ) WHERE rn = 1
)
""".strip(),
    """
pc1 AS (
  SELECT a.sub, a.code, v.i,
         CAST((SUM(v.q) - ((SUM(v.q) % COUNT(*)) + COUNT(*)) % COUNT(*)) // COUNT(*) AS BIGINT) AS c
  FROM pcomp v JOIN pa1 a ON v.vec_id = a.vec_id AND v.sub = a.sub
  GROUP BY a.sub, a.code, v.i
)
""".strip(),
    """
pd2 AS (
  SELECT v.vec_id, v.sub, c.code, SUM((v.q - c.c) * (v.q - c.c)) AS dist
  FROM pcomp v JOIN pc1 c ON v.sub = c.sub AND v.i = c.i
  GROUP BY v.vec_id, v.sub, c.code
)
""".strip(),
    """
pa2 AS (
  SELECT vec_id, sub, code, dist FROM (
    SELECT vec_id, sub, code, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM pd2
  ) WHERE rn = 1
)
""".strip(),
)

_PQ_CODES_SQL = _with(
    *_PQ_TRAIN_CTES,
    """
SELECT vec_id, CAST(sub AS BIGINT) AS subspace, code,
       CAST(dist AS BIGINT) AS sqerr
FROM pa2 ORDER BY vec_id, subspace
""",
)


def _standing_truth(spark: SparkSession, sf_dir: str, section: str) -> DataFrame:
    root = standing.get("evaltruth", spark, sf_dir)
    return spark.read.parquet(root + "/" + section)


def _standing_pq(spark: SparkSession, sf_dir: str):
    root = standing.get("pq", spark, sf_dir)
    return (
        spark.read.parquet(root + "/codes"),
        spark.read.parquet(root + "/codebook"),
    )


@register("embedding_pq_codes", _PQ_CODES_SQL)
def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code table (m=4 subspaces, k=4 codewords,
    integer-exact Lloyd per subspace) — the compressed-corpus artifact
    behind RAM-resident billion-vector ANN. Served from the STANDING
    persisted model (`standing.get("pq")`, reported as ``pq_build_sec`` in
    bench.py); the from-scratch twin stays pinned in tests."""
    best, _ = _standing_pq(spark, sf_dir)
    return best.select(
        "vec_id",
        F.col("sub").alias("subspace"),
        "code",
        F.col("dist").alias("sqerr"),
    ).orderBy("vec_id", "subspace")


_PQ_ADC_SQL = _with(
    *_PQ_TRAIN_CTES,
    """
lut AS (
  SELECT v.vec_id AS q_id, c.sub, c.code, SUM((v.q - c.c) * (v.q - c.c)) AS pdist
  FROM pcomp v JOIN pc1 c ON v.sub = c.sub AND v.i = c.i
  WHERE v.vec_id < 10
  GROUP BY v.vec_id, c.sub, c.code
)
""".strip(),
    """
adc AS (
  SELECT l.q_id, a.vec_id AS c_id, SUM(l.pdist) AS adc_dist
  FROM pa2 a JOIN lut l ON l.sub = a.sub AND l.code = a.code
  WHERE a.vec_id <> l.q_id
  GROUP BY l.q_id, a.vec_id
)
""".strip(),
    """
SELECT q_id, c_id, CAST(adc_dist AS BIGINT) AS adc_dist, CAST(rank AS INT) AS rank FROM (
  SELECT q_id, c_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, c_id) AS rank
  FROM adc
) WHERE rank <= 5 ORDER BY q_id, rank
""",
)


@register("similarity_pq_adc", _PQ_ADC_SQL)
def q_similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-5: LUT (queries x m x k, broadcast)
    joined against the compressed code table; the float corpus is
    never touched after training (Jégou et al., TPAMI'11 §IV). Probes
    the STANDING persisted model (r10) — train once per snapshot,
    search many."""
    from ureplicator_spark.operators.similarity import pq_adc_search_from
    from ureplicator_spark.sources.parquet import load_table

    best, cents = _standing_pq(spark, sf_dir)
    return pq_adc_search_from(
        best.select("vec_id", "sub", "code"),
        cents,
        load_table(spark, sf_dir, "embeddings"),
    )


_EXACT_SUBSTR_SQL = """
WITH wins AS (
  SELECT doc_id, md5(substr(text, CAST(p AS INT), 48)) AS win_hash
  FROM documents,
       LATERAL unnest(range(1, length(text) - 48 + 2, 8)) AS t(p)
  WHERE length(text) >= 48
),
rep AS (
  SELECT win_hash FROM wins GROUP BY win_hash HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT w.doc_id, COUNT(*) AS n_windows,
       CAST(SUM(CASE WHEN r.win_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_windows,
       FLOOR(CAST(SUM(CASE WHEN r.win_hash IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6
         AS dup_share
FROM wins w LEFT JOIN rep r USING (win_hash)
GROUP BY w.doc_id ORDER BY w.doc_id
"""


@register("dedup_exact_substring", _EXACT_SUBSTR_SQL)
def q_dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplication signal (Lee et al., ACL'22) via strided
    48-char windows: per doc, the share of character windows that
    recur verbatim in other documents — the span-removal criterion,
    without the suffix array's global sort. Window text never
    shuffles; only its hash does."""
    from ureplicator_spark.operators.dedup import exact_substring_spans
    from ureplicator_spark.sources.parquet import load_table

    return exact_substring_spans(load_table(spark, sf_dir, "documents"))


_PCM_ENERGY_SQL = """
WITH ascii_docs AS (
  -- the char-based oracle models BYTES only where byte length ==
  -- char length (pure ASCII); both engines apply the same guard so
  -- a fixture with multi-byte text cannot silently diverge
  SELECT doc_id, text FROM documents
  WHERE octet_length(encode(text)) = length(text)
),
s AS (
  SELECT doc_id AS media_id, CAST(w AS INT) AS window_idx,
         ascii(substr(text, CAST(w * 256 + k AS INT), 1)) - 128 AS v
  FROM ascii_docs,
       LATERAL unnest(range(0, length(text) // 256)) AS t(w),
       LATERAL unnest(range(1, 257)) AS u(k)
)
SELECT media_id, window_idx, COUNT(*) AS n_samples,
       FLOOR(sqrt(SUM(v * v) * 1.0 / COUNT(*)) * 1e6 + 0.5) / 1e6 AS rms,
       CAST(MAX(ABS(v)) AS BIGINT) AS peak
FROM s GROUP BY media_id, window_idx
ORDER BY media_id, window_idx
"""


@register("multimodal_pcm_energy", _PCM_ENERGY_SQL)
def q_multimodal_pcm_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed RMS/peak over binary payloads via Arrow-batched numpy
    (mapInPandas) — a REAL decode path (unsigned 8-bit PCM needs no
    codec). The oracle reproduces the byte math through the ASCII
    view of the same text-as-payload adapter, hash-gating the Python
    worker path itself."""
    from ureplicator_spark.operators.multimodal import (
        documents_as_media,
        pcm_window_energy,
    )
    from ureplicator_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.octet_length(F.encode("text", "utf-8")) == F.length("text")
    )
    media = documents_as_media(docs)
    return pcm_window_energy(media).orderBy("media_id", "window_idx")


_TREND_SQL = _with(
    FX.RECORDS_CTE,
    f"""
counts AS (
  SELECT topic, ts_sec - (ts_sec % {FX.WINDOW_SEC}) AS window_start, COUNT(*) AS n_msgs
  FROM records GROUP BY topic, ts_sec - (ts_sec % {FX.WINDOW_SEC})
)
""".strip(),
    f"""
regs AS (
  SELECT topic, COUNT(*) AS n, SUM(ix) AS sx, SUM(y) AS sy,
         SUM(ix * y) AS sxy, SUM(ix * ix) AS sxx, MAX(ix) AS max_idx
  FROM (SELECT topic, window_start // {FX.WINDOW_SEC} AS ix, n_msgs AS y FROM counts)
  GROUP BY topic
)
""".strip(),
    # integer-exact OLS: every sum/cross-product is exact (HUGEINT);
    # the ONLY float steps are the two divisions — mirrors the Spark
    # side's decimal(38) sums, so 6-dp rounding can never straddle a
    # summation-order ulp (which regr_slope's running means did at
    # sf0.1).
    """
reg AS (
  SELECT topic, n AS n_windows, max_idx,
         CASE WHEN n * sxx - sx * sx = 0 THEN NULL
              ELSE (SIGN(CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE))
                    * FLOOR(ABS(CAST(n * sxy - sx * sy AS DOUBLE)
                                / CAST(n * sxx - sx * sx AS DOUBLE)) * 1e6 + 0.5)
                    / 1e6 + 0.0) END AS slope,
         CASE WHEN n * sxx - sx * sx = 0 THEN NULL
              ELSE (SIGN(CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx AS DOUBLE)
                          / CAST(n * (n * sxx - sx * sx) AS DOUBLE))
                    * FLOOR(ABS(CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx AS DOUBLE)
                                / CAST(n * (n * sxx - sx * sx) AS DOUBLE)) * 1e6 + 0.5)
                    / 1e6 + 0.0) END AS intercept
  FROM regs
)
""".strip(),
    """
SELECT topic, n_windows, slope, intercept,
       (SIGN(intercept + slope * (max_idx + 1))
        * FLOOR(ABS(intercept + slope * (max_idx + 1)) * 1e6 + 0.5) / 1e6 + 0.0)
         AS forecast_next
FROM reg ORDER BY topic
""",
)


@register("workload_trend", _TREND_SQL)
def q_workload_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-topic ingestion trend (OLS over window counts) + next-window
    forecast — the proactive complement to the reference's reactive
    max-lookback sizing (WorkloadInfoRetriever.java:59-64)."""
    return WKL.workload_trend(FX.records(spark, sf_dir))


_AGREEMENT_SQL = _with(
    _SHINGLES_CTE,
    _MINHASH_CTE,
    """
banded AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         md5(array_to_string(list(CAST(minhash AS VARCHAR) ORDER BY seed), ',')) AS band_hash
  FROM mh GROUP BY doc_id, CAST(seed // 2 AS INT)
)
""".strip(),
    """
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
""".strip(),
    """
pairs AS (
  SELECT c.doc_a, c.doc_b,
         ROUND(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS est_jaccard
  FROM cand c
  JOIN mh sa ON sa.doc_id = c.doc_a
  JOIN mh sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
  GROUP BY c.doc_a, c.doc_b
  HAVING ROUND(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) >= 0.5
)
""".strip(),
    _COMP_CTE,
    _NRM_CTE,
    """
dots AS (
  SELECT p.doc_a, p.doc_b, p.est_jaccard, SUM(a.x * b.x) AS dot
  FROM pairs p
  JOIN comp a ON a.vec_id = p.doc_a
  JOIN comp b ON b.vec_id = p.doc_b AND b.i = a.i
  GROUP BY p.doc_a, p.doc_b, p.est_jaccard
)
""".strip(),
    """
SELECT d.doc_a, d.doc_b, d.est_jaccard,
       FLOOR(d.dot / (na.n * nb.n) * 1e6 + 0.5) / 1e6 AS cosine,
       FLOOR(d.dot / (na.n * nb.n) * 1e6 + 0.5) / 1e6 >= 0.5 AS agree
FROM dots d JOIN nrm na ON na.vec_id = d.doc_a JOIN nrm nb ON nb.vec_id = d.doc_b
ORDER BY d.doc_a, d.doc_b
""",
)


@register("dedup_signal_agreement", _AGREEMENT_SQL)
def q_dedup_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-signal dedup audit: lexical near-dup candidates scored by
    embedding cosine — the calibration table for reconciling MinHash
    and semantic dedup thresholds; disagreement rows are the audit
    targets. The lexical pair set comes from the standing signature
    index (r9); the probe pays one zip_with cosine fold per candidate
    pair."""
    from ureplicator_spark.operators.dedup import semantic_agreement_from_pairs
    from ureplicator_spark.sources.parquet import load_table

    pairs = _standing_lsh_pairs(spark, sf_dir).filter(F.col("est_jaccard") >= 0.5)
    return semantic_agreement_from_pairs(
        pairs, load_table(spark, sf_dir, "embeddings")
    )


_PIPELINE_SQL = f"""
WITH RECURSIVE
{_DTOKS_CTE},
{_REP_TC_CTE},
{_REP_PER_CTE},
{_REP_G2_CTE},
okd AS (
  SELECT p.doc_id FROM per p LEFT JOIN g2 USING (doc_id)
  WHERE p.n_tokens >= 10 AND p.n_tokens <= 2000
    AND FLOOR(p.top_token_n * 1.0 / p.n_tokens * 1e6 + 0.5) / 1e6 <= 0.2
    AND COALESCE(g2.dup_2gram_share, 0.0) <= 0.3
),
gated AS (SELECT d.* FROM documents d JOIN okd USING (doc_id)),
exk AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
kept AS (SELECT g.* FROM gated g JOIN exk ON md5(g.text) = exk.h AND g.doc_id = exk.doc_id),
{_cc_ctes("kept")},
comp AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src),
sized AS (SELECT c.doc_id, c.cluster_id, k.n_chars FROM comp c JOIN kept k USING (doc_id)),
bestk AS (
  SELECT cluster_id, doc_id AS kept_doc FROM (
    SELECT cluster_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
    FROM sized
  ) WHERE rn = 1
),
fdrop AS (SELECT s.doc_id FROM sized s JOIN bestk b USING (cluster_id) WHERE s.doc_id <> b.kept_doc),
final AS (SELECT k.* FROM kept k LEFT JOIN fdrop f USING (doc_id) WHERE f.doc_id IS NULL),
in_s AS (SELECT source, COUNT(*) AS n_input FROM documents GROUP BY source),
g_s AS (SELECT source, COUNT(*) AS n_gated FROM gated GROUP BY source),
e_s AS (SELECT source, COUNT(*) AS n_exact FROM kept GROUP BY source),
f_s AS (
  SELECT source, COUNT(*) AS n_final,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens_final
  FROM final GROUP BY source
)
SELECT i.source, i.n_input,
       i.n_input - COALESCE(g_s.n_gated, 0) AS n_gate_fail,
       COALESCE(g_s.n_gated, 0) - COALESCE(e_s.n_exact, 0) AS n_exact_dropped,
       COALESCE(e_s.n_exact, 0) - COALESCE(f_s.n_final, 0) AS n_fuzzy_dropped,
       COALESCE(f_s.n_final, 0) AS n_final,
       COALESCE(f_s.tokens_final, 0) AS tokens_final
FROM in_s i
LEFT JOIN g_s USING (source) LEFT JOIN e_s USING (source) LEFT JOIN f_s USING (source)
ORDER BY i.source
"""


@register("curation_pipeline", _PIPELINE_SQL)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation funnel: quality gates -> exact dedup
    (min-id keeper) -> MinHash-LSH keep-best (longest doc) ->
    per-source yield report — every stage an already-audited operator,
    wired in pipeline order with per-stage drop accounting."""
    from ureplicator_spark.operators.pipeline import curation_pipeline_report
    from ureplicator_spark.sources.parquet import load_table

    return curation_pipeline_report(load_table(spark, sf_dir, "documents"))


_PQ_RECALL_SQL = _with(
    *_PQ_TRAIN_CTES,
    """
lut AS (
  SELECT v.vec_id AS q_id, c.sub, c.code, SUM((v.q - c.c) * (v.q - c.c)) AS pdist
  FROM pcomp v JOIN pc1 c ON v.sub = c.sub AND v.i = c.i
  WHERE v.vec_id < 10
  GROUP BY v.vec_id, c.sub, c.code
)
""".strip(),
    """
adc AS (
  SELECT q_id, c_id FROM (
    SELECT l.q_id, a.vec_id AS c_id,
           ROW_NUMBER() OVER (PARTITION BY l.q_id
                              ORDER BY SUM(l.pdist), a.vec_id) AS rn
    FROM pa2 a JOIN lut l ON l.sub = a.sub AND l.code = a.code
    WHERE a.vec_id <> l.q_id
    GROUP BY l.q_id, a.vec_id
  ) WHERE rn <= 5
)
""".strip(),
    """
exd AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, SUM((q.q - c.q) * (q.q - c.q)) AS d
  FROM pcomp q JOIN pcomp c ON c.i = q.i AND c.sub = q.sub
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id
)
""".strip(),
    """
ext AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, c_id) AS rn
    FROM exd
  ) WHERE rn <= 5
)
""".strip(),
    """
SELECT a.q_id,
       ROUND(SUM(CASE WHEN e.c_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 6) AS recall
FROM adc a LEFT JOIN ext e ON e.q_id = a.q_id AND e.c_id = a.c_id
GROUP BY a.q_id ORDER BY a.q_id
""",
)


@register("similarity_pq_recall", _PQ_RECALL_SQL)
def q_similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of PQ ADC search vs exact integer-L2 ground truth —
    the resolution gauge for the compressed index (companion to
    similarity_ann_recall on the LSH path). The ADC side reads the
    STANDING model (r10); the exact brute side is the gauge and
    recomputes by design."""
    from ureplicator_spark.operators.similarity import pq_adc_recall_from
    from ureplicator_spark.sources.parquet import load_table

    best, cents = _standing_pq(spark, sf_dir)
    return pq_adc_recall_from(
        best.select("vec_id", "sub", "code"),
        cents,
        load_table(spark, sf_dir, "embeddings"),
        exact=_standing_truth(spark, sf_dir, "l2_top5"),
    )


_LANG_CONFUSION_SQL = _with(
    _TOK_CTE,
    _PROFILES_CTE,
    """
scores AS (
  SELECT doc_id, plang, COUNT(*) AS hits
  FROM tok JOIN profiles USING (token) GROUP BY doc_id, plang
)
""".strip(),
    """
best AS (
  SELECT doc_id, plang, hits FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang) AS rn
    FROM scores
  ) WHERE rn = 1
)
""".strip(),
    """
SELECT d.lang AS label, COALESCE(b.plang, 'unknown') AS predicted,
       COUNT(*) AS n_docs
FROM documents d LEFT JOIN best b USING (doc_id)
GROUP BY d.lang, COALESCE(b.plang, 'unknown')
ORDER BY label, predicted
""",
)


@register("lang_id_confusion", _LANG_CONFUSION_SQL)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-profile language classifier
    against the labeled lang column — the evaluation artifact that
    turns text_lang_id's per-doc rows into a model-quality readout."""
    from ureplicator_spark.operators.text import lang_id
    from ureplicator_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    preds = lang_id(docs, spark)
    return (
        preds.groupBy(
            F.col("lang").alias("label"), F.col("lang_pred").alias("predicted")
        )
        .agg(F.count("*").alias("n_docs"))
        .orderBy("label", "predicted")
    )


_CAPACITY_FORECAST_SQL = _with(
    FX.RECORDS_CTE,
    f"""
wb AS (
  SELECT topic, ts_sec - (ts_sec % {FX.WINDOW_SEC}) AS window_start,
         CAST(SUM(value_size) AS BIGINT) AS window_bytes
  FROM records GROUP BY topic, ts_sec - (ts_sec % {FX.WINDOW_SEC})
)
""".strip(),
    f"""
pts AS (
  SELECT topic, COUNT(*) AS n, SUM(ix) AS sx, SUM(y) AS sy,
         SUM(ix * y) AS sxy, SUM(ix * ix) AS sxx, MAX(ix) AS max_idx,
         arg_max(y, window_start) AS last_bytes
  FROM (SELECT topic, window_start,
               window_start // {FX.WINDOW_SEC} AS ix, window_bytes AS y
        FROM wb)
  GROUP BY topic
)
""".strip(),
    # integer-exact OLS (see workload_trend's reg CTE for rationale)
    """
pt AS (
  SELECT topic, max_idx, last_bytes,
         CASE WHEN n * sxx - sx * sx = 0 THEN NULL
              ELSE (SIGN(CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE))
                    * FLOOR(ABS(CAST(n * sxy - sx * sy AS DOUBLE)
                                / CAST(n * sxx - sx * sx AS DOUBLE)) * 1e6 + 0.5)
                    / 1e6 + 0.0) END AS slope,
         CASE WHEN n * sxx - sx * sx = 0 THEN NULL
              ELSE (SIGN(CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx AS DOUBLE)
                          / CAST(n * (n * sxx - sx * sx) AS DOUBLE))
                    * FLOOR(ABS(CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx AS DOUBLE)
                                / CAST(n * (n * sxx - sx * sx) AS DOUBLE)) * 1e6 + 0.5)
                    / 1e6 + 0.0) END AS intercept
  FROM pts
)
""".strip(),
    f"""
fvals AS (
  SELECT GREATEST(COALESCE(
           (SIGN(intercept + slope * (max_idx + 1))
            * FLOOR(ABS(intercept + slope * (max_idx + 1)) * 1e6 + 0.5) / 1e6 + 0.0),
           CAST(last_bytes AS DOUBLE)), 0.0) AS f
  FROM pt
),
tot AS (
  SELECT FLOOR(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(f ORDER BY f)),
                           (acc, x) -> acc + x) / {FX.WINDOW_SEC} * 1e6 + 0.5) / 1e6
           AS forecast_bytes_per_sec
  FROM fvals
)
""".strip(),
    f"""
SELECT forecast_bytes_per_sec,
       CAST(FLOOR(forecast_bytes_per_sec / {float(FX.MAX_WORKLOAD_PER_WORKER)} + 0.5) AS INT) + 1
         AS forecast_workers
FROM tot
""",
)


@register("workload_capacity_forecast", _CAPACITY_FORECAST_SQL)
def q_workload_capacity_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 made proactive: size the fleet for the trend-forecast
    next-window byte rate instead of the observed average
    (single-window topics fall back to their latest observation)."""
    return WKL.capacity_forecast(FX.records(spark, sf_dir))


_EVENT_PROPS_SQL = """
WITH e AS (
  SELECT event_type,
         TRY_CAST(CASE WHEN json_valid(props)
                       THEN json_extract_string(props, '$.k') END AS INTEGER) AS k
  FROM events
)
SELECT event_type, COUNT(*) AS n_events,
       COUNT(k) AS n_valid_props,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       FLOOR(CAST(SUM(k) AS DOUBLE) / COUNT(k) * 1e6 + 0.5) / 1e6 AS avg_k
FROM e GROUP BY event_type ORDER BY event_type
"""


@register("event_props_stats", _EVENT_PROPS_SQL)
def q_event_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON property extraction over the events fact table —
    corrupt JSON and missing/uncastable props decode to NULL and drop
    out of the typed aggregates (the F5 quarantine-by-null discipline
    at fact-table scale; extraction runs inside codegen, no UDF).
    get_json_object + cast (not from_json with a typed schema): the
    string-extract-then-cast route coerces '\"12\"' -> 12 exactly like
    the oracle's TRY_CAST, where a typed from_json schema would NULL
    string-typed numbers and silently diverge."""
    from ureplicator_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count("k").alias("n_valid_props"),
            F.sum("k").cast("long").alias("sum_k"),
            round6f(F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Snapshot CDC diff + dedup cluster-size statistics (round 5)
# ---------------------------------------------------------------------------

_SNAPSHOT_DIFF_SQL = """
WITH snap_a AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 7 <> 0
),
snap_b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 11 <> 3
)
SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
       CASE WHEN a.o_orderkey IS NULL THEN 'added'
            WHEN b.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type,
       CASE WHEN a.o_orderkey IS NULL OR b.o_orderkey IS NULL THEN ''
            ELSE concat_ws(',',
              CASE WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
                   THEN 'o_orderstatus' END,
              CASE WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice
                   THEN 'o_totalprice' END)
       END AS changed_cols
FROM snap_a a FULL OUTER JOIN snap_b b ON a.o_orderkey = b.o_orderkey
WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
   OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
   OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
ORDER BY o_orderkey
"""


@register("orders_snapshot_diff", _SNAPSHOT_DIFF_SQL)
def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot CDC over two deterministic versions of the
    orders table (membership and payload mutations keyed on order
    id): added / removed / changed keys plus which columns changed —
    the ``sources/archive.py::snapshot_diff`` operator under the
    driver's hash gate. One full-outer key shuffle; the delta-sized
    output is what an incremental downstream consumer ingests."""
    from ureplicator_spark.sources.archive import snapshot_diff
    from ureplicator_spark.sources.parquet import load_table

    o = load_table(spark, sf_dir, "orders")
    snap_a = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap_b = o.filter(F.col("o_orderkey") % 11 != 3).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return snapshot_diff(snap_a, snap_b, ["o_orderkey"]).orderBy("o_orderkey")


_CLUSTER_STATS_SQL = f"""
WITH RECURSIVE {_CC_CTES},
comp AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_droppable
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""


@register("dedup_cluster_stats", _CLUSTER_STATS_SQL)
def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup planning view
    (how much of the corpus sits in how-big dup families, and how many
    docs a keep-one policy would drop). Rolls the connected-components
    output up twice: per-cluster size, then a histogram over sizes —
    both aggregations are cluster-cardinality-sized, so everything
    after the shared LSH/CC pass is control-plane cheap. Pairs come
    from the standing signature index (r9)."""
    from ureplicator_spark.operators.dedup import duplicate_clusters

    pairs = _standing_lsh_pairs(spark, sf_dir).filter(F.col("est_jaccard") >= 0.5)
    sizes = (
        duplicate_clusters(pairs)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("long").alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("n_droppable"),
        )
        .orderBy("cluster_size")
    )


_MULTIPROBE_ANN_SQL = _with(
    _COMP_CTE,
    _PLANES_CTE,
    _BITS_CTE,
    _BUCKETS_CTE,
    _NRM_CTE,
    """
probes AS (
  SELECT vec_id AS q_id,
         CASE WHEN pr = 8 THEN bucket
              ELSE xor(bucket, CAST(1 << pr AS BIGINT)) END AS probe_bucket
  FROM buckets CROSS JOIN (SELECT unnest(range(0, 9)) AS pr) prs
  WHERE vec_id < 10
)
""".strip(),
    """
cand AS (
  SELECT DISTINCT p.q_id, c.vec_id AS c_id
  FROM probes p JOIN buckets c ON c.bucket = p.probe_bucket
  WHERE c.vec_id <> p.q_id
)
""".strip(),
    """
dots AS (
  SELECT cand.q_id, cand.c_id, SUM(q.x * c.x) AS dot
  FROM cand
  JOIN comp q ON q.vec_id = cand.q_id
  JOIN comp c ON c.vec_id = cand.c_id AND c.i = q.i
  GROUP BY cand.q_id, cand.c_id
)
""".strip(),
    """
SELECT q_id, rank, c_id, cosine FROM (
  SELECT d.q_id, d.c_id,
         (SIGN(d.dot / (nq.n * nc.n)) * FLOOR(ABS(d.dot / (nq.n * nc.n)) * 1e6 + 0.5) / 1e6 + 0.0) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY d.q_id
                            ORDER BY (SIGN(d.dot / (nq.n * nc.n)) * FLOOR(ABS(d.dot / (nq.n * nc.n)) * 1e6 + 0.5) / 1e6 + 0.0) DESC, d.c_id) AS rank
  FROM dots d
  JOIN nrm nq ON nq.vec_id = d.q_id
  JOIN nrm nc ON nc.vec_id = d.c_id
) WHERE rank <= 3
ORDER BY q_id, rank
""",
)


@register("similarity_multiprobe_ann", _MULTIPROBE_ANN_SQL)
def q_similarity_multiprobe_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: home bucket + all Hamming-1 probes per
    query, top-3 by exact cosine within the probed candidate union —
    linear probe cost for the recall a single bucket loses."""
    from ureplicator_spark.operators import similarity as SIM
    from ureplicator_spark.sources.parquet import load_table

    return SIM.lsh_ann_multiprobe(load_table(spark, sf_dir, "embeddings"))


_TEXTCAT_SQL = """
WITH tri AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(t) - 1), i -> substr(t, i, 3))) AS g
  FROM (SELECT doc_id, lang, lower(text) AS t FROM documents)
  WHERE len(t) >= 3
),
cnt AS (SELECT doc_id, lang, g, COUNT(*) AS c FROM tri GROUP BY doc_id, lang, g),
doc_prof AS (
  SELECT doc_id, lang, g, rd FROM (
    SELECT doc_id, lang, g,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rd
    FROM cnt
  ) WHERE rd <= 32
),
train AS (
  SELECT lang, g, SUM(c) AS c FROM cnt WHERE doc_id % 10 < 8 GROUP BY lang, g
),
lang_prof AS (
  SELECT plang, g, rl FROM (
    SELECT lang AS plang, g,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, g) AS rl
    FROM train
  ) WHERE rl <= 64
),
test_prof AS (SELECT * FROM doc_prof WHERE doc_id % 10 >= 8),
base AS (
  SELECT doc_id, lang, COUNT(*) * 64 AS base FROM test_prof GROUP BY doc_id, lang
),
adj AS (
  SELECT t.doc_id, lp.plang, SUM(64 - abs(t.rd - lp.rl)) AS adj
  FROM test_prof t JOIN lang_prof lp ON t.g = lp.g
  GROUP BY t.doc_id, lp.plang
),
langs AS (SELECT DISTINCT plang FROM lang_prof),
dist AS (
  SELECT b.doc_id, b.lang, l.plang, b.base - COALESCE(a.adj, 0) AS dist
  FROM base b CROSS JOIN langs l
  LEFT JOIN adj a ON a.doc_id = b.doc_id AND a.plang = l.plang
),
pred AS (
  SELECT doc_id, lang, plang AS lang_pred FROM (
    SELECT doc_id, lang, plang,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist, plang) AS rn
    FROM dist
  ) WHERE rn = 1
)
SELECT lang, lang_pred, COUNT(*) AS n_docs
FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred
"""


@register("lang_ngram_classifier", _TEXTCAT_SQL)
def q_lang_ngram_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle ranked-trigram language classifier trained
    in-engine on the 80% labeled split, evaluated as a held-out
    confusion matrix — integer ranks and out-of-place distances only,
    so the learned model and every prediction are engine-exact.

    r9 shape: the model comes from the STANDING trained profile table
    (`standing.get("langmodel")`, train-once-classify-many; training
    reported as ``langmodel_build_sec`` in bench.py), and the
    per-doc test profiles compute shuffle-free inside one projection
    (`doc_trigram_profiles` — the r8 shape paid a corpus-wide
    (doc, gram) shuffle plus a per-doc ranking window). Identical
    output to the from-scratch `ngram_profile_confusion`, which the
    oracle mirrors."""
    from ureplicator_spark.operators.text import (
        classify_with_profiles,
        doc_trigram_profiles,
    )
    from ureplicator_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    return classify_with_profiles(
        doc_trigram_profiles(docs), standing.get("langmodel", spark, sf_dir)
    )


_HLL_SQL = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
hashed AS (
  SELECT source, h % 512 AS j, h // 512 AS v
  FROM (SELECT source, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM tok)
),
regs AS (
  SELECT source, j,
         MAX(CASE WHEN v > 0 THEN 52 - len(bin(v)) ELSE 52 END) AS mj
  FROM hashed GROUP BY source, j
),
per_src AS (
  SELECT source, COUNT(*) AS v_nonempty,
         SUM(power(2.0, -mj)) AS s_present
  FROM regs GROUP BY source
),
exact AS (
  SELECT source, COUNT(*) AS n_rows, COUNT(DISTINCT token) AS true_distinct
  FROM tok GROUP BY source
),
calc AS (
  SELECT p.source, e.n_rows, p.v_nonempty, e.true_distinct,
         CASE WHEN (0.7213 / (1 + 1.079 / 512)) * 512 * 512
                     / ((512 - p.v_nonempty) + p.s_present) <= 1280.0
                   AND p.v_nonempty < 512
              THEN 512 * ln(512 / (512 - p.v_nonempty))
              ELSE (0.7213 / (1 + 1.079 / 512)) * 512 * 512
                     / ((512 - p.v_nonempty) + p.s_present)
         END AS est
  FROM per_src p JOIN exact e USING (source)
)
SELECT source, n_rows, v_nonempty,
       FLOOR(est * 1e4 + 0.5) / 1e4 AS est_distinct,
       true_distinct,
       (SIGN((FLOOR(est * 1e4 + 0.5) / 1e4 - true_distinct) / true_distinct)
        * FLOOR(ABS((FLOOR(est * 1e4 + 0.5) / 1e4 - true_distinct) / true_distinct) * 1e6 + 0.5)
        / 1e6 + 0.0) AS rel_error
FROM calc ORDER BY source
"""


@register("approx_distinct_tokens", _HLL_SQL)
def q_approx_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog (Flajolet'07, p=9) distinct-token estimate
    per source, reported against the exact count as a calibration
    gauge — registers derive from md5 arithmetic, so the oracle
    reproduces the sketch register-for-register (the fixed-state
    answer to COUNT(DISTINCT) at 100 TB)."""
    from ureplicator_spark.operators.sketch import hll_distinct_tokens
    from ureplicator_spark.sources.parquet import load_table

    return hll_distinct_tokens(load_table(spark, sf_dir, "documents"))


_HLL_ORDERS_CTES = """
keyed AS (
  SELECT l_returnflag AS flag, CAST(l_orderkey AS VARCHAR) AS k FROM lineitem
),
hashed AS (
  SELECT flag, h % 512 AS j, h // 512 AS v
  FROM (SELECT flag, ('0x' || substr(md5(k), 1, 15))::BIGINT AS h FROM keyed)
),
regs AS (
  SELECT flag, j,
         MAX(CASE WHEN v > 0 THEN 52 - len(bin(v)) ELSE 52 END) AS mj
  FROM hashed GROUP BY flag, j
),
per_g AS (
  SELECT flag, COUNT(*) AS v_nonempty,
         SUM(power(2.0, -mj)) AS s_present
  FROM regs GROUP BY flag
)
""".strip()

_HLL_EST_CASE = """
CASE WHEN (0.7213 / (1 + 1.079 / 512)) * 512 * 512
            / ((512 - p.v_nonempty) + p.s_present) <= 1280.0
          AND p.v_nonempty < 512
     THEN 512 * ln(512 / (512 - p.v_nonempty))
     ELSE (0.7213 / (1 + 1.079 / 512)) * 512 * 512
            / ((512 - p.v_nonempty) + p.s_present)
END
""".strip()

# production shape: register build + estimate, no exact side
_HLL_ORDERS_SQL = f"""
WITH {_HLL_ORDERS_CTES}
SELECT flag, v_nonempty, FLOOR(({_HLL_EST_CASE}) * 1e4 + 0.5) / 1e4 AS est_distinct
FROM per_g p ORDER BY flag
"""

# gauge shape (estimate vs exact COUNT(DISTINCT)) — the verification
# pairing, kept under pytest (tests/test_gauge_parity.py), not the
# bench/driver row: the exact side doubles the work with the very
# shuffle the sketch exists to avoid.
_HLL_ORDERS_GAUGE_SQL = f"""
WITH {_HLL_ORDERS_CTES},
exact AS (
  SELECT flag, COUNT(*) AS n_rows, COUNT(DISTINCT k) AS true_distinct
  FROM keyed GROUP BY flag
),
calc AS (
  SELECT p.flag, e.n_rows, p.v_nonempty, e.true_distinct,
         {_HLL_EST_CASE} AS est
  FROM per_g p JOIN exact e USING (flag)
)
SELECT flag, n_rows, v_nonempty,
       FLOOR(est * 1e4 + 0.5) / 1e4 AS est_distinct,
       true_distinct,
       (SIGN((FLOOR(est * 1e4 + 0.5) / 1e4 - true_distinct) / true_distinct)
        * FLOOR(ABS((FLOOR(est * 1e4 + 0.5) / 1e4 - true_distinct) / true_distinct) * 1e6 + 0.5)
        / 1e6 + 0.0) AS rel_error
FROM calc ORDER BY flag
"""


def _hll_orders_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ureplicator_spark.sources.parquet import load_table

    return load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_orderkey").cast("string").alias("k"),
    )


@register("approx_distinct_orders", _HLL_ORDERS_SQL)
def q_approx_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-HLL regime of the portable sketch: per returnflag
    approximate distinct order keys over the SF-growing lineitem fact
    (thousands of distinct keys per group, past the linear-counting
    crossover at sf0.01+) — constant register state per group where
    exact COUNT(DISTINCT) shuffles the whole key set. PRODUCTION
    shape: register build + estimate only; the exact-count gauge
    pairing (hll_gauge) is verification work that doubles the query
    and lives in tests/test_gauge_parity.py.

    (A pre-md5 dropDuplicates on the numeric pair was measured and
    rejected: the dedup exchange costs 0.49 s against 0.19 s of md5
    saved at this corpus' 1.8x duplication — the register math is
    invariant either way, so the cheaper plan wins.)"""
    from ureplicator_spark.operators.sketch import hll_estimate

    return hll_estimate(_hll_orders_keyed(spark, sf_dir), "flag", "k")


_MULTIPROBE_RECALL_SQL = _with(
    _COMP_CTE,
    _PLANES_CTE,
    _BITS_CTE,
    _BUCKETS_CTE,
    _NRM_CTE,
    """
bfdots AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, SUM(q.x * c.x) AS dot
  FROM comp q JOIN comp c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id
)
""".strip(),
    """
bf AS (
  SELECT q_id, c_id FROM (
    SELECT d.q_id, d.c_id,
           ROW_NUMBER() OVER (PARTITION BY d.q_id
                              ORDER BY (SIGN(d.dot / (nq.n * nc.n)) * FLOOR(ABS(d.dot / (nq.n * nc.n)) * 1e6 + 0.5) / 1e6 + 0.0) DESC, d.c_id) AS rn
    FROM bfdots d
    JOIN nrm nq ON nq.vec_id = d.q_id
    JOIN nrm nc ON nc.vec_id = d.c_id
  ) WHERE rn <= 3
)
""".strip(),
    """
scand AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id
  FROM buckets q JOIN buckets c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
)
""".strip(),
    """
sdots AS (
  SELECT scand.q_id, scand.c_id, SUM(q.x * c.x) AS dot
  FROM scand
  JOIN comp q ON q.vec_id = scand.q_id
  JOIN comp c ON c.vec_id = scand.c_id AND c.i = q.i
  GROUP BY scand.q_id, scand.c_id
)
""".strip(),
    """
sann AS (
  SELECT q_id, c_id FROM (
    SELECT d.q_id, d.c_id,
           ROW_NUMBER() OVER (PARTITION BY d.q_id
                              ORDER BY (SIGN(d.dot / (nq.n * nc.n)) * FLOOR(ABS(d.dot / (nq.n * nc.n)) * 1e6 + 0.5) / 1e6 + 0.0) DESC, d.c_id) AS rn
    FROM sdots d
    JOIN nrm nq ON nq.vec_id = d.q_id
    JOIN nrm nc ON nc.vec_id = d.c_id
  ) WHERE rn <= 3
)
""".strip(),
    """
probes AS (
  SELECT vec_id AS q_id,
         CASE WHEN pr = 8 THEN bucket
              ELSE xor(bucket, CAST(1 << pr AS BIGINT)) END AS probe_bucket
  FROM buckets CROSS JOIN (SELECT unnest(range(0, 9)) AS pr) prs
  WHERE vec_id < 10
)
""".strip(),
    """
mcand AS (
  SELECT DISTINCT p.q_id, c.vec_id AS c_id
  FROM probes p JOIN buckets c ON c.bucket = p.probe_bucket
  WHERE c.vec_id <> p.q_id
)
""".strip(),
    """
mdots AS (
  SELECT mcand.q_id, mcand.c_id, SUM(q.x * c.x) AS dot
  FROM mcand
  JOIN comp q ON q.vec_id = mcand.q_id
  JOIN comp c ON c.vec_id = mcand.c_id AND c.i = q.i
  GROUP BY mcand.q_id, mcand.c_id
)
""".strip(),
    """
mann AS (
  SELECT q_id, c_id FROM (
    SELECT d.q_id, d.c_id,
           ROW_NUMBER() OVER (PARTITION BY d.q_id
                              ORDER BY (SIGN(d.dot / (nq.n * nc.n)) * FLOOR(ABS(d.dot / (nq.n * nc.n)) * 1e6 + 0.5) / 1e6 + 0.0) DESC, d.c_id) AS rn
    FROM mdots d
    JOIN nrm nq ON nq.vec_id = d.q_id
    JOIN nrm nc ON nc.vec_id = d.c_id
  ) WHERE rn <= 3
)
""".strip(),
    """
shits AS (
  SELECT bf.q_id, COUNT(*) AS n FROM bf
  JOIN sann ON bf.q_id = sann.q_id AND bf.c_id = sann.c_id GROUP BY bf.q_id
)
""".strip(),
    """
mhits AS (
  SELECT bf.q_id, COUNT(*) AS n FROM bf
  JOIN mann ON bf.q_id = mann.q_id AND bf.c_id = mann.c_id GROUP BY bf.q_id
)
""".strip(),
    """
SELECT q.q_id,
       ROUND(COALESCE(s.n, 0) / 3.0, 6) AS recall_single,
       ROUND(COALESCE(m.n, 0) / 3.0, 6) AS recall_multi
FROM (SELECT DISTINCT q_id FROM bf) q
LEFT JOIN shits s USING (q_id)
LEFT JOIN mhits m USING (q_id)
ORDER BY q_id
""",
)


@register("similarity_multiprobe_recall", _MULTIPROBE_RECALL_SQL)
def q_similarity_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-probe vs multi-probe recall@3 against brute-force truth
    per query — the gauge that prices the Lv'07 probe trade. Truth
    from the STANDING eval ground-truth table (r10)."""
    from ureplicator_spark.operators.similarity import multiprobe_recall_comparison
    from ureplicator_spark.sources.parquet import load_table

    return multiprobe_recall_comparison(
        load_table(spark, sf_dir, "embeddings"),
        bf=_standing_truth(spark, sf_dir, "cosine_top3"),
    )


_PMI_SQL = """
WITH toks AS (SELECT string_split(text, ' ') AS toks FROM documents),
uni AS (
  SELECT t, COUNT(*) AS cu
  FROM (SELECT unnest(toks) AS t FROM toks) GROUP BY t
),
n1 AS (SELECT SUM(cu) AS n1 FROM uni),
big AS (
  SELECT toks[i] AS a, toks[i + 1] AS b
  FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM toks WHERE len(toks) >= 2)
),
bc AS (SELECT a, b, COUNT(*) AS cab FROM big GROUP BY a, b),
n2 AS (SELECT SUM(cab) AS n2 FROM bc),
scored AS (
  SELECT bc.a, bc.b, bc.cab,
         (SIGN(LN((CAST(bc.cab AS DOUBLE) * n1.n1 * n1.n1)
                   / (CAST(n2.n2 AS DOUBLE) * ua.cu * ub.cu)))
          * FLOOR(ABS(LN((CAST(bc.cab AS DOUBLE) * n1.n1 * n1.n1)
                         / (CAST(n2.n2 AS DOUBLE) * ua.cu * ub.cu))) * 1e6 + 0.5)
          / 1e6 + 0.0) AS pmi
  FROM bc
  JOIN uni ua ON ua.t = bc.a
  JOIN uni ub ON ub.t = bc.b
  CROSS JOIN n1 CROSS JOIN n2
  WHERE bc.cab >= 5
)
SELECT a, b, CAST(cab AS BIGINT) AS n_occur, pmi, rank FROM (
  SELECT a, b, cab, pmi,
         ROW_NUMBER() OVER (ORDER BY pmi DESC, a, b) AS rank
  FROM scored
) WHERE rank <= 20 ORDER BY rank
"""


@register("token_pmi_collocations", _PMI_SQL)
def q_token_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token collocations by PMI with min-support 5 —
    phrase-detection statistics; exact counts, one rounded ln."""
    from ureplicator_spark.operators.text import collocation_pmi
    from ureplicator_spark.sources.parquet import load_table

    return collocation_pmi(load_table(spark, sf_dir, "documents"))


_CMS_CTES = """
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
hashed AS (
  SELECT r, ('0x' || substr(md5('cms' || r || ':' || token), 1, 15))::BIGINT % 1024 AS b
  FROM tok CROSS JOIN (SELECT unnest(range(0, 4)) AS r) rs
),
counters AS (SELECT r, b, COUNT(*) AS cnt FROM hashed GROUP BY r, b)
""".strip()

# production shape: counter build + point queries for a bounded probe
# set (the lowest doc_id's distinct tokens — deterministic on any SF)
_CMS_SQL = f"""
WITH {_CMS_CTES},
probes AS (
  SELECT DISTINCT token FROM tok
  WHERE doc_id = (SELECT MIN(doc_id) FROM documents)
),
probed AS (
  SELECT p.token, rs.r,
         ('0x' || substr(md5('cms' || rs.r || ':' || p.token), 1, 15))::BIGINT % 1024 AS b
  FROM probes p CROSS JOIN (SELECT unnest(range(0, 4)) AS r) rs
)
SELECT p.token, MIN(COALESCE(c.cnt, 0)) AS est_count
FROM probed p LEFT JOIN counters c ON c.r = p.r AND c.b = p.b
GROUP BY p.token ORDER BY p.token
"""

# gauge shape (estimate vs exact counts for the exact top-20) — the
# verification pairing, kept under pytest (tests/test_gauge_parity.py)
_CMS_GAUGE_SQL = f"""
WITH {_CMS_CTES},
exact AS (SELECT token, COUNT(*) AS true_count FROM tok GROUP BY token),
top AS (
  SELECT token, true_count FROM (
    SELECT token, true_count,
           ROW_NUMBER() OVER (ORDER BY true_count DESC, token) AS rn
    FROM exact
  ) WHERE rn <= 20
),
probed AS (
  SELECT t.token, t.true_count, rs.r,
         ('0x' || substr(md5('cms' || rs.r || ':' || t.token), 1, 15))::BIGINT % 1024 AS b
  FROM top t CROSS JOIN (SELECT unnest(range(0, 4)) AS r) rs
),
est AS (
  SELECT p.token, p.true_count, MIN(COALESCE(c.cnt, 0)) AS est_count
  FROM probed p LEFT JOIN counters c ON c.r = p.r AND c.b = p.b
  GROUP BY p.token, p.true_count
)
SELECT token, true_count, est_count, est_count - true_count AS overestimate
FROM est ORDER BY true_count DESC, token
"""


def _cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ureplicator_spark.functions import fan_out
    from ureplicator_spark.sources.parquet import load_table

    # fan_out: d salted md5s per token is per-row CPU over a
    # few-split scan (no-op once the scan is wide)
    return fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )


@register("cms_token_counts", _CMS_SQL)
def q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode'05, d=4 w=1024) token-frequency point
    queries — pure integer counters reproduced exactly by the oracle;
    d·w state regardless of corpus size. PRODUCTION shape: counter
    build + broadcast probes for a bounded query set (the lowest
    doc_id's distinct tokens); the exact-count gauge pairing
    (cms_topk_gauge, which recounts the whole vocabulary exactly) is
    verification work and lives in tests/test_gauge_parity.py."""
    from ureplicator_spark.caching import pin
    from ureplicator_spark.operators.sketch import cms_estimate

    tok = pin(_cms_tokens(spark, sf_dir))
    probes = tok.join(
        F.broadcast(
            tok.select(F.min("doc_id").alias("doc_id")).limit(1)
        ),
        "doc_id",
    ).select("token")
    return cms_estimate(tok.select("token"), probes, "token")


_BLOOM_SQL = f"""
WITH {_SHINGLES_CTE},
bench AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id < 10),
corpus AS (SELECT doc_id, shingle FROM shingles WHERE doc_id >= 10),
bits AS (
  SELECT DISTINCT ('0x' || substr(md5('bloom' || j || ':' || shingle), 1, 15))::BIGINT % 4096 AS bit
  FROM bench CROSS JOIN (SELECT unnest(range(0, 3)) AS j) js
),
probed AS (
  SELECT c.doc_id, c.shingle, js.j,
         ('0x' || substr(md5('bloom' || js.j || ':' || c.shingle), 1, 15))::BIGINT % 4096 AS bit
  FROM corpus c CROSS JOIN (SELECT unnest(range(0, 3)) AS j) js
),
matched AS (
  SELECT doc_id, shingle FROM (
    SELECT p.doc_id, p.shingle, COUNT(*) AS n_set
    FROM probed p JOIN bits ON bits.bit = p.bit
    GROUP BY p.doc_id, p.shingle
  ) WHERE n_set = 3
),
hits AS (SELECT c.doc_id, c.shingle FROM corpus c JOIN bench b ON b.shingle = c.shingle),
per_doc AS (SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY doc_id),
fl AS (SELECT doc_id, COUNT(*) AS n_flagged FROM matched GROUP BY doc_id),
hh AS (SELECT doc_id, COUNT(*) AS n_exact FROM hits GROUP BY doc_id)
SELECT p.doc_id, p.n_grams,
       CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged,
       CAST(COALESCE(h.n_exact, 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(f.n_flagged, 0) - COALESCE(h.n_exact, 0) AS BIGINT) AS false_positives
FROM per_doc p LEFT JOIN fl f USING (doc_id) LEFT JOIN hh h USING (doc_id)
ORDER BY p.doc_id
"""


@register("bloom_decontamination", _BLOOM_SQL)
def q_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination by Bloom membership (m=4096, k=3): benchmark
    shingles fold into a constant-size bit set that replaces the
    benchmark broadcast; per corpus doc the flagged count is gauged
    against exact hits, pricing the false-positive budget."""
    from ureplicator_spark.operators.sketch import bloom_contamination
    from ureplicator_spark.sources.parquet import load_table

    return bloom_contamination(load_table(spark, sf_dir, "documents"))


_WSAMPLE_SQL = """
WITH scored AS (
  SELECT doc_id, lang, n_chars AS weight,
         (SIGN(LN((('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
                   / 1152921504606846976.0) / n_chars)
          * FLOOR(ABS(LN((('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
                         / 1152921504606846976.0) / n_chars) * 1e9 + 0.5)
          / 1e9 + 0.0) AS es_key
  FROM documents WHERE n_chars > 0
)
SELECT lang, rank, doc_id, weight, es_key FROM (
  SELECT lang, doc_id, weight, es_key,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY lang, rank
"""


@register("weighted_sample_docs", _WSAMPLE_SQL)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sample (5 docs per language,
    weight = n_chars) from deterministic md5 uniforms — weight-aware
    corpus mixing as a single engine-exact ranking."""
    from ureplicator_spark.operators.text import weighted_sample_docs
    from ureplicator_spark.sources.parquet import load_table

    return weighted_sample_docs(load_table(spark, sf_dir, "documents"))


# medians via EXPLICIT order statistics (the histogram_quantiles
# discipline): (v[(n+1)//2] + v[n//2+1]) / 2 — one shared IEEE
# formula; engine median()/percentile() interpolation internals are
# out of the loop, and the ROUNDs are floor chains.
_MAD_MED = "(MAX(CASE WHEN rn = (n + 1) // 2 THEN {v} END) + MAX(CASE WHEN rn = n // 2 + 1 THEN {v} END)) / 2"

_MAD_SQL = f"""
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
med AS (
  SELECT event_type, {_MAD_MED.format(v="value")} AS med
  FROM ranked GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
ranked2 AS (
  SELECT event_type, adev,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type, {_MAD_MED.format(v="adev")} AS mad
  FROM ranked2 GROUP BY event_type
)
SELECT d.event_type,
       COUNT(*) AS n_events,
       (SIGN(ANY_VALUE(d.med)) * FLOOR(ABS(ANY_VALUE(d.med)) * 1e6 + 0.5) / 1e6 + 0.0) AS med,
       FLOOR(ANY_VALUE(m.mad) * 1e6 + 0.5) / 1e6 AS mad,
       CAST(SUM(CASE WHEN FLOOR(d.adev * 1e6 + 0.5) > FLOOR(3 * m.mad * 1e6 + 0.5)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type ORDER BY d.event_type
"""


@register("event_value_outliers", _MAD_SQL)
def q_event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: median / MAD (the
    outlier test that, unlike mean/stddev z-scores, is not itself
    dragged by the outliers) with a 3-MAD cut on rounded deviations
    so the threshold comparison is engine-portable.

    Scale shape: two grouped exact-percentile aggregations over the
    fact table with the 5-row med/mad tables broadcast back — no
    window over raw events, no driver collect."""
    from ureplicator_spark.sources.parquet import load_table

    from pyspark.sql import Window

    def _median(df, col):
        # explicit order-statistic midpoint (v[(n+1)//2] + v[n//2+1])/2
        # — one shared IEEE formula on both engines; F.percentile /
        # median() interpolation internals are out of the loop (the
        # histogram_quantiles discipline, r11 audit)
        w = Window.partitionBy("event_type")
        ranked = df.select(
            "event_type",
            F.col(col).alias("val"),
            F.row_number().over(w.orderBy(col)).alias("rn"),
            F.count("*").over(w).alias("n"),
        )
        lo = F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("val")))
        hi = F.max(F.when(F.col("rn") == F.expr("n div 2 + 1"), F.col("val")))
        return ranked.groupBy("event_type").agg(((lo + hi) / 2).alias(col + "_med"))

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = _median(ev, "value").withColumnRenamed("value_med", "med")
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = _median(dev, "adev").withColumnRenamed("adev_med", "mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            round6s(F.any_value("med")).alias("med"),
            round6f(F.any_value("mad")).alias("mad"),
            F.sum(
                F.when(
                    F.floor(F.col("adev") * 1e6 + F.lit(0.5))
                    > F.floor(3 * F.col("mad") * 1e6 + F.lit(0.5)),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


_TOKEN_SAVINGS_SQL = f"""
WITH RECURSIVE {_CC_CTES},
comp AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src),
tk AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
cl AS (
  SELECT c.cluster_id, COUNT(*) AS cluster_size,
         SUM(t.n_tokens) AS tokens_total,
         SUM(CASE WHEN c.doc_id = c.cluster_id THEN t.n_tokens ELSE 0 END) AS tokens_kept
  FROM comp c JOIN tk t USING (doc_id) GROUP BY c.cluster_id
)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(SUM(tokens_total) AS BIGINT) AS tokens_total,
       CAST(SUM(tokens_total - tokens_kept) AS BIGINT) AS tokens_droppable
FROM cl GROUP BY cluster_size ORDER BY cluster_size
"""


@register("dedup_token_savings", _TOKEN_SAVINGS_SQL)
def q_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fuzzy dedup actually buys, in tokens: per duplicate-
    cluster size, the total token mass and the share a keep-one-
    per-cluster policy drops — the budget planner's view of dedup
    (docs saved is vanity, tokens saved is the training cost). The
    keeper is the min-id cluster representative; rollups run on
    cluster-cardinality rows after the shared LSH/CC pass. Pairs come
    from the standing signature index (r9)."""
    from ureplicator_spark.operators.dedup import duplicate_clusters
    from ureplicator_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = _standing_lsh_pairs(spark, sf_dir).filter(F.col("est_jaccard") >= 0.5)
    tk = docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    cl = (
        duplicate_clusters(pairs)
        .join(tk, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("cluster_size"),
            F.sum("n_tokens").alias("tokens_total"),
            F.sum(
                F.when(F.col("is_keeper"), F.col("n_tokens")).otherwise(0)
            ).alias("tokens_kept"),
        )
    )
    return (
        cl.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("tokens_total").cast("long").alias("tokens_total"),
            F.sum(F.col("tokens_total") - F.col("tokens_kept"))
            .cast("long")
            .alias("tokens_droppable"),
        )
        .orderBy("cluster_size")
    )


_HLL_ROLLING_SQL = """
WITH keyed AS (
  SELECT epoch_ns(ts) // 1000000000 // 86400 AS day,
         CAST(user_id AS VARCHAR) AS k
  FROM events
),
hashed AS (
  SELECT day, h % 512 AS j, h // 512 AS v
  FROM (SELECT day, ('0x' || substr(md5(k), 1, 15))::BIGINT AS h FROM keyed)
),
regs AS (
  SELECT day, j,
         MAX(CASE WHEN v > 0 THEN 52 - len(bin(v)) ELSE 52 END) AS mj
  FROM hashed GROUP BY day, j
),
days AS (SELECT DISTINCT day FROM regs),
merged AS (
  SELECT d.day, r.j, MAX(r.mj) AS mj
  FROM days d JOIN regs r ON r.day BETWEEN d.day - 6 AND d.day
  GROUP BY d.day, r.j
),
per_day AS (
  SELECT day, COUNT(*) AS v_nonempty,
         SUM(power(2.0, -mj)) AS s_present
  FROM merged GROUP BY day
),
exact AS (
  SELECT d.day, COUNT(DISTINCT k.k) AS true_distinct
  FROM days d JOIN keyed k ON k.day BETWEEN d.day - 6 AND d.day
  GROUP BY d.day
),
calc AS (
  SELECT p.day, p.v_nonempty, e.true_distinct,
         CASE WHEN (0.7213 / (1 + 1.079 / 512)) * 512 * 512
                     / ((512 - p.v_nonempty) + p.s_present) <= 1280.0
                   AND p.v_nonempty < 512
              THEN 512 * ln(512 / (512 - p.v_nonempty))
              ELSE (0.7213 / (1 + 1.079 / 512)) * 512 * 512
                     / ((512 - p.v_nonempty) + p.s_present)
         END AS est
  FROM per_day p JOIN exact e USING (day)
)
SELECT day, v_nonempty,
       FLOOR(est * 1e4 + 0.5) / 1e4 AS est_distinct,
       true_distinct,
       (SIGN((FLOOR(est * 1e4 + 0.5) / 1e4 - true_distinct) / true_distinct)
        * FLOOR(ABS((FLOOR(est * 1e4 + 0.5) / 1e4 - true_distinct) / true_distinct) * 1e6 + 0.5)
        / 1e6 + 0.0) AS rel_error
FROM calc ORDER BY day
"""


@register("approx_distinct_users_rolling", _HLL_ROLLING_SQL)
def q_approx_distinct_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day by HLL register merge —
    the re-aggregable distinct count (daily sketches MAX-merge into
    any window; the raw corpus is scanned once, every window is a
    register-table merge). Day is an epoch-day integer: no timezone
    semantics anywhere near the hash gate."""
    from ureplicator_spark import fixtures as FX
    from ureplicator_spark.operators.sketch import hll_rolling_distinct
    from ureplicator_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        FX.event_ts_sec(ev).alias("ts_sec"),
        F.col("user_id").cast("string").alias("k"),
    ).select(F.expr("ts_sec div 86400").alias("day"), "k")
    return hll_rolling_distinct(keyed)


_PREFIX_JOIN_SQL = f"""
WITH {_SHINGLES_CTE},
tok AS (SELECT doc_id, shingle AS token FROM shingles),
sizes AS (SELECT doc_id, COUNT(*) AS s FROM tok GROUP BY doc_id),
gcnt AS (SELECT token, COUNT(*) AS gc FROM tok GROUP BY token),
ordered AS (
  SELECT t.doc_id, t.token, s.s,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY g.gc, t.token) AS ord
  FROM tok t JOIN gcnt g USING (token) JOIN sizes s USING (doc_id)
),
prefix AS (SELECT doc_id, token, s FROM ordered WHERE ord <= s // 2 + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
  FROM prefix a JOIN prefix b
    ON a.token = b.token AND a.doc_id < b.doc_id
   AND a.s <= 2 * b.s AND b.s <= 2 * a.s
),
inter AS (
  SELECT c.doc_a, c.doc_b, c.sa, c.sb, COUNT(*) AS inter
  FROM cand c
  JOIN tok ta ON ta.doc_id = c.doc_a
  JOIN tok tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
  GROUP BY c.doc_a, c.doc_b, c.sa, c.sb
)
SELECT doc_a, doc_b, inter, sa, sb,
       FLOOR(CAST(inter AS DOUBLE) / (sa + sb - inter) * 1e6 + 0.5) / 1e6 AS jaccard
FROM inter
WHERE 3 * inter >= sa + sb
ORDER BY doc_a, doc_b
"""


@register("dedup_jaccard_prefix_join", _PREFIX_JOIN_SQL)
def q_dedup_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set similarity join at Jaccard >= 0.5 by prefix
    filtering (PPJoin family) — guaranteed-complete pairs without an
    all-pairs join; rarest-first prefixes keep candidate groups small
    (selective because the 3-gram universe is combinatorially large),
    and the threshold test is pure integer (3*inter >= sa+sb). Probed
    from the standing index's persisted rarest-first shingle arrays
    (r9) — the shingle→count→sort build is amortized into the snapshot
    build, and the one-shared-total-order invariant the completeness
    proof needs is exactly what the snapshot section guarantees."""
    from ureplicator_spark.operators.dedup import prefix_join_from_docarr

    return prefix_join_from_docarr(_standing_shingle_arrays(spark, sf_dir))


# Profiling: per-column stats in ONE aggregate pass over the fact
# table (the DESCRIBE/data-quality report). Both sides are generated
# from the same column list so they cannot drift.
_PROFILE_COLS: list[tuple[str, bool]] = [
    ("l_orderkey", True), ("l_partkey", True), ("l_suppkey", True),
    ("l_linenumber", True), ("l_quantity", True), ("l_extendedprice", True),
    ("l_discount", True), ("l_tax", True),
    ("l_returnflag", False), ("l_linestatus", False), ("l_shipdate", False),
]

_PROFILE_SQL = (
    "WITH a AS (SELECT "
    + ", ".join(
        f"COUNT(DISTINCT {c}) AS {c}_nd, "
        f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS {c}_nn"
        + (
            f", (SIGN(CAST(MIN({c}) AS DOUBLE)) * FLOOR(ABS(CAST(MIN({c}) AS DOUBLE)) * 1e6 + 0.5) / 1e6 + 0.0) AS {c}_mn"
            f", (SIGN(CAST(MAX({c}) AS DOUBLE)) * FLOOR(ABS(CAST(MAX({c}) AS DOUBLE)) * 1e6 + 0.5) / 1e6 + 0.0) AS {c}_mx"
            if num
            else ""
        )
        for c, num in _PROFILE_COLS
    )
    + " FROM lineitem)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name, CAST({c}_nn AS BIGINT) AS n_nulls, "
        f"CAST({c}_nd AS BIGINT) AS n_distinct, "
        + (
            f"{c}_mn AS min_num, {c}_mx AS max_num"
            if num
            else "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num"
        )
        + " FROM a"
        for c, num in _PROFILE_COLS
    )
    + "\nORDER BY col_name"
)


@register("table_profile", _PROFILE_SQL)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling report over lineitem: per column, null count,
    EXACT distinct count, and (numeric columns) rounded min/max - the
    data-quality check a 100 TB ingest runs before anything else.

    Shape history (all value-identical; the oracle SQL never changed):
    a single wide multi-COUNT(DISTINCT) aggregate plans via Expand
    (11x row replication, 47x the oracle, r5); a string-cast melt kept
    the explode but paid a string render per cell (~25x, r6); r6-r12
    ran a UNION of 11 per-column single-distinct aggregates (each
    branch Expand-free with a one-column ReadSchema, 22 exchanges).
    r13 measured a TYPED two-branch melt TWICE: on the throttled
    round-start host it won (melt 4.80 s vs union 8.89 s min-of-7
    interleaved — inflated stage constants penalized the union's 22
    tiny stages), but re-measured on a healthy host the union won
    rep-for-rep (union 1.68 s vs melt 2.53 s min-of-7 interleaved,
    6/7 aligned reps) — the branches are independent subtrees whose
    stages overlap inside one job, while the melt funnels 11x N rows
    through two hash aggregates. Measured-and-rejected: the union
    stays. At 100 TB the shuffled bytes are identical either way
    (per-partition-distinct values); total scan I/O is one full-width
    scan in both shapes (each union branch prunes to its own column).
    """
    from functools import reduce

    from ureplicator_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem")
    branches = []
    for c, num in _PROFILE_COLS:
        aggs = [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_nulls"),
            F.count_distinct(F.col(c)).cast("long").alias("n_distinct"),
        ]
        if num:
            aggs.append(round6s(F.min(c).cast("double")).alias("min_num"))
            aggs.append(round6s(F.max(c).cast("double")).alias("max_num"))
        branch = li.select(c).agg(*aggs).select(
            F.lit(c).alias("col_name"),
            "n_nulls",
            "n_distinct",
            (F.col("min_num") if num else F.lit(None).cast("double")).alias(
                "min_num"
            ),
            (F.col("max_num") if num else F.lit(None).cast("double")).alias(
                "max_num"
            ),
        )
        branches.append(branch)
    return reduce(DataFrame.unionByName, branches).orderBy("col_name")


# Canonical hash input per lineitem column type for the PORTABLE HLL
# profile (see operators/sketch.hll_profile): ints/strings direct,
# doubles through DECIMAL(28,6), timestamps through a fixed format —
# each verified byte-identical between Spark and DuckDB, so the oracle
# rebuilds the sketch register-for-register.
_PROFILE_KINDS: dict[str, str] = {
    "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
    "l_linenumber": "int", "l_quantity": "double",
    "l_extendedprice": "double", "l_discount": "double", "l_tax": "double",
    "l_returnflag": "str", "l_linestatus": "str", "l_shipdate": "ts",
}


def _profile_cell_sql(c: str, kind: str) -> str:
    if kind == "int":
        cs, num = f"CAST({c} AS VARCHAR)", f"CAST({c} AS DOUBLE)"
    elif kind == "double":
        cs = f"CAST(CAST({c} AS DECIMAL(28,6)) AS VARCHAR)"
        num = f"CAST({c} AS DOUBLE)"
    elif kind == "ts":
        cs, num = f"strftime({c}, '%Y-%m-%d %H:%M:%S')", "CAST(NULL AS DOUBLE)"
    else:
        cs, num = c, "CAST(NULL AS DOUBLE)"
    return (
        f"SELECT '{c}' AS col_name, {cs} AS cs, "
        f"CASE WHEN {c} IS NULL THEN 1 ELSE 0 END AS isn, {num} AS num "
        "FROM lineitem"
    )


_PROFILE_APPROX_SQL = (
    "WITH cell AS (\n"
    + "\nUNION ALL\n".join(
        _profile_cell_sql(c, _PROFILE_KINDS[c]) for c, _ in _PROFILE_COLS
    )
    + "\n),\n"
    + """
h AS (
  SELECT col_name, isn, num,
         CASE WHEN isn = 1 THEN NULL
              ELSE ('0x' || substr(md5(cs), 1, 15))::BIGINT END AS h
  FROM cell
),
regs AS (
  SELECT col_name, h % 512 AS j,
         MAX(CASE WHEN h // 512 > 0 THEN 52 - len(bin(h // 512)) ELSE 52 END) AS mj,
         SUM(isn) AS nn, MIN(num) AS mn, MAX(num) AS mx
  FROM h GROUP BY col_name, h % 512
),
per_col AS (
  SELECT col_name,
         SUM(CASE WHEN j IS NOT NULL THEN 1 ELSE 0 END) AS v_nonempty,
         SUM(CASE WHEN j IS NOT NULL THEN power(2.0, -mj) END) AS s_present,
         SUM(nn) AS nn,
         (SIGN(MIN(mn)) * FLOOR(ABS(MIN(mn)) * 1e6 + 0.5) / 1e6 + 0.0) AS min_num,
         (SIGN(MAX(mx)) * FLOOR(ABS(MAX(mx)) * 1e6 + 0.5) / 1e6 + 0.0) AS max_num
  FROM regs GROUP BY col_name
),
calc AS (
  SELECT col_name, nn, min_num, max_num,
         CASE WHEN (0.7213 / (1 + 1.079 / 512)) * 512 * 512
                     / ((512 - v_nonempty) + s_present) <= 1280.0
                   AND v_nonempty < 512
              THEN 512 * ln(512 / (512 - v_nonempty))
              ELSE (0.7213 / (1 + 1.079 / 512)) * 512 * 512
                     / ((512 - v_nonempty) + s_present)
         END AS est
  FROM per_col
)
SELECT col_name, CAST(nn AS BIGINT) AS n_nulls, FLOOR(est * 1e4 + 0.5) / 1e4 AS n_distinct_est,
       min_num, max_num
FROM calc ORDER BY col_name
""".strip()
)


@register("table_profile_approx", _PROFILE_APPROX_SQL)
def q_table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SINGLE-SCAN profiling twin of `table_profile`: every column's
    null count, min/max and a PORTABLE md5-HLL distinct estimate from
    one full-width pass — the shape a 100 TB profile actually runs
    (no Expand, no per-column jobs; the melt is a map-side struct
    explode and the register shuffle is bounded at |cols| × 513 rows
    per partition by the map-side partial MIN/MAX aggregates).

    r9: swapped native ``approx_count_distinct`` (engine-private
    xxhash sketch — the one indefensible rows-only entry in r8) for
    the engine's own md5 HLL (operators/sketch.py), whose registers
    the DuckDB oracle reproduces exactly — this query is now
    hash-gated like the rest of the sketch family. Estimates count
    values distinct at their canonical precision (doubles at 6-dp via
    DECIMAL(28,6) — exact for TPC-H money/quantity columns)."""
    from ureplicator_spark.operators.sketch import hll_profile
    from ureplicator_spark.sources.parquet import load_table

    return hll_profile(
        load_table(spark, sf_dir, "lineitem"), [c for c, _ in _PROFILE_COLS]
    )


def _hist_ex_sql(p: int) -> str:
    return f"""
         MAX(CASE WHEN rn = (n - 1) * {p} // 100 + 1 THEN val END) AS a{p},
         MAX(CASE WHEN rn = (n - 1) * {p} // 100 + 2 THEN val END) AS b{p},
         MAX((n - 1) * {p} % 100) AS r{p}""".rstrip()


def _hist_ex_out(p: int) -> str:
    x = f"a{p} + COALESCE((b{p} - a{p}) * (CAST(r{p} AS DOUBLE) / 100.0), 0.0)"
    return f"(SIGN({x}) * FLOOR(ABS({x}) * 1e6 + 0.5) / 1e6 + 0.0) AS ex{p}"


_HIST_QUANTILES_SQL = f"""
WITH ranked AS (
  SELECT event_type, value AS val,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
stats0 AS (
  SELECT event_type, MIN(val) AS mn, MAX(val) AS mx, COUNT(*) AS n_rows,{_hist_ex_sql(50)},{_hist_ex_sql(95)},{_hist_ex_sql(99)}
  FROM ranked GROUP BY event_type
),
stats AS (
  SELECT event_type, mn, mx, n_rows,
         {_hist_ex_out(50)}, {_hist_ex_out(95)}, {_hist_ex_out(99)}
  FROM stats0
),""" + """
hist AS (
  SELECT e.event_type,
         CASE WHEN s.mx > s.mn
              THEN LEAST(255, CAST(FLOOR((e.value - s.mn) / (s.mx - s.mn) * 256) AS INT))
              ELSE 0 END AS idx,
         COUNT(*) AS c
  FROM events e JOIN stats s USING (event_type)
  GROUP BY 1, 2
),
cum AS (
  SELECT event_type, idx,
         SUM(c) OVER (PARTITION BY event_type ORDER BY idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
targets AS (
  SELECT s.event_type, q.q, s.mn, s.mx, s.n_rows,
         (s.n_rows * q.q + 99) // 100 AS rank_q,
         CASE q.q WHEN 50 THEN ex50 WHEN 95 THEN ex95 ELSE ex99 END AS exact_value
  FROM stats s CROSS JOIN (SELECT unnest([50, 95, 99]) AS q) q
),
picked AS (
  SELECT t.event_type, t.q, t.mn, t.mx, t.n_rows, t.exact_value, MIN(c.idx) AS pick
  FROM targets t JOIN cum c USING (event_type)
  WHERE c.cum >= t.rank_q
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT event_type, q,
       (SIGN(mn + (pick + 0.5) * (mx - mn) / 256)
        * FLOOR(ABS(mn + (pick + 0.5) * (mx - mn) / 256) * 1e6 + 0.5) / 1e6
        + 0.0) AS est_value,
       exact_value, n_rows
FROM picked ORDER BY event_type, q
"""


@register("histogram_quantiles", _HIST_QUANTILES_SQL)
def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 per event type from a 256-bucket fixed-width
    histogram, gauged against the exact percentile — the mergeable,
    engine-exact alternative to order-dependent quantile sketches
    (KLL/t-digest); b rows of state per group however large the
    fact."""
    from ureplicator_spark.operators.sketch import histogram_quantiles
    from ureplicator_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return histogram_quantiles(ev, "event_type", "value")


# ---------------------------------------------------------------------------
# Lexical + hybrid retrieval: BM25 and reciprocal-rank fusion
# ---------------------------------------------------------------------------

# Every float literal is cast to DOUBLE: DuckDB parses bare literals
# as DECIMAL and would compute e.g. tf*2.2 and (df + 0.5) exactly in
# decimal before converting — a 1-ulp divergence from Spark's
# all-double chain that could flip the 6-dp rounding at some scale
# factor (r7 advisor). With the casts both engines run the identical
# IEEE operations.
_BM25_CONTRIB = (
    "ln(1 + (c.n_docs - d.df + CAST(0.5 AS DOUBLE))"
    " / (d.df + CAST(0.5 AS DOUBLE)))"
    " * ((t.tf * CAST(2.2 AS DOUBLE))"
    " / (t.tf + CAST(1.2 AS DOUBLE)"
    " * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * l.dl / c.avgdl)))"
)

_BM25_PARTS = (
    _TOK_CTE,
    "dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id)",
    "corpus AS (SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl)",
    """
hits AS (
  SELECT doc_id, token FROM tok WHERE token IN ('dup', 'spark', 'merge')
)
""".strip(),
    "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM hits GROUP BY doc_id, token)",
    "dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY token)",
    f"""
scored AS (
  SELECT t.doc_id,
         CAST(SUM(CAST(SIGN({_BM25_CONTRIB})
                  * FLOOR(ABS({_BM25_CONTRIB}) * 1e6 + 0.5) AS BIGINT))
              AS DOUBLE) / 1e6 AS bm25
  FROM tf t JOIN dfreq d USING (token) JOIN dl l USING (doc_id) CROSS JOIN corpus c
  GROUP BY t.doc_id
)
""".strip(),
    """
top AS (
  SELECT doc_id, bm25, rank FROM (
    SELECT doc_id, bm25,
           ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
    FROM scored
  ) WHERE rank <= 10
)
""".strip(),
)

_BM25_SQL = _with(
    *_BM25_PARTS,
    """
SELECT t.rank, t.doc_id, t.bm25, d.lang, d.source,
       substr(d.text, 1, 60) AS snippet
FROM top t JOIN documents d USING (doc_id)
ORDER BY t.rank
""",
)


@register("text_bm25_search", _BM25_SQL)
def q_text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval (Robertson-Walker '94, Lucene idf) for a
    fixed 3-term query — the lexical ranking arm of a curation/RAG
    pipeline. The term filter pushes into the token scan so only
    query-term postings shuffle; global top-k is
    TakeOrderedAndProject, never a corpus-wide single-partition
    window."""
    from ureplicator_spark.operators.text import bm25_search
    from ureplicator_spark.sources.parquet import load_table

    return bm25_search(load_table(spark, sf_dir, "documents"))


_HYBRID_PARTS = (
    _TOK_CTE,
    _COMP_CTE,
    "dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id)",
    "corpus AS (SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl)",
    "dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token)",
    "qtok AS (SELECT DISTINCT doc_id AS q_id, token FROM tok WHERE doc_id < 5)",
    "tf AS (SELECT doc_id AS c_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token)",
    f"""
lex AS (
  SELECT q.q_id, t.c_id,
         CAST(SUM(CAST(SIGN({_BM25_CONTRIB})
                  * FLOOR(ABS({_BM25_CONTRIB}) * 1e6 + 0.5) AS BIGINT))
              AS DOUBLE) / 1e6 AS bm25
  FROM tf t JOIN qtok q USING (token)
  JOIN dl l ON l.doc_id = t.c_id
  JOIN dfreq d USING (token)
  CROSS JOIN corpus c
  WHERE t.c_id <> q.q_id
  GROUP BY q.q_id, t.c_id
)
""".strip(),
    """
lrank AS (
  SELECT q_id, c_id, l_rank FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY bm25 DESC, c_id) AS l_rank
    FROM lex
  ) WHERE l_rank <= 10
)
""".strip(),
    "nrms AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b)) AS nrm FROM embeddings)",
    """
dots AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, SUM(q.x * c.x) AS dot
  FROM comp q JOIN comp c ON q.i = c.i AND q.vec_id < 5 AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id
)
""".strip(),
    """
vrank AS (
  SELECT q_id, c_id, v_rank FROM (
    SELECT d.q_id, d.c_id,
           ROW_NUMBER() OVER (PARTITION BY d.q_id
                              ORDER BY (SIGN(d.dot / (nq.nrm * nc.nrm)) * FLOOR(ABS(d.dot / (nq.nrm * nc.nrm)) * 1e6 + 0.5) / 1e6 + 0.0) DESC, d.c_id) AS v_rank
    FROM dots d
    JOIN nrms nq ON nq.vec_id = d.q_id
    JOIN nrms nc ON nc.vec_id = d.c_id
  ) WHERE v_rank <= 10
)
""".strip(),
)

_HYBRID_RRF_SQL = _with(
    *_HYBRID_PARTS,
    """
fused AS (
  SELECT COALESCE(l.q_id, v.q_id) AS q_id,
         COALESCE(l.c_id, v.c_id) AS c_id,
         v.v_rank, l.l_rank,
         FLOOR((COALESCE(1.0 / (60 + v.v_rank), 0.0)
               + COALESCE(1.0 / (60 + l.l_rank), 0.0)) * 1e9 + 0.5) / 1e9 AS rrf
  FROM lrank l FULL OUTER JOIN vrank v
    ON l.q_id = v.q_id AND l.c_id = v.c_id
)
""".strip(),
    """
SELECT q_id, rank, c_id, rrf, v_rank, l_rank FROM (
  SELECT q_id, c_id, rrf, v_rank, l_rank,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf DESC, c_id) AS rank
  FROM fused
) WHERE rank <= 5
ORDER BY q_id, rank
""",
)


@register("similarity_hybrid_rrf", _HYBRID_RRF_SQL)
def q_similarity_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack SIGIR'09) of
    the dense cosine arm and a BM25 more-like-this lexical arm for the
    first 5 query docs — the standard two-tower RAG retrieval shape.
    RRF consumes only ranks, so at fleet scale the dense arm swaps to
    the IVF/LSH index output unchanged."""
    from ureplicator_spark.operators.similarity import hybrid_rrf_retrieval
    from ureplicator_spark.sources.parquet import load_table

    return hybrid_rrf_retrieval(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


_BM25_INDEX_SQL = _with(
    *_BM25_PARTS,
    "SELECT rank, doc_id, bm25 FROM top ORDER BY rank",
)


def _standing_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs served from the standing index's
    MATERIALIZED pair table (equal to ``lsh_candidate_pairs`` over the
    same corpus — same signatures, banding, rounding; the band
    self-join ran once at snapshot build)."""
    from ureplicator_spark.sources.minhash_index import index_pairs

    return index_pairs(spark, standing.get("minhash", spark, sf_dir))


def _standing_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ureplicator_spark.sources.minhash_index import index_shingle_arrays

    return index_shingle_arrays(spark, standing.get("minhash", spark, sf_dir))


def _standing_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ureplicator_spark.sources.minhash_index import index_winnow_fingerprints

    return index_winnow_fingerprints(spark, standing.get("minhash", spark, sf_dir))


def _standing_kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ureplicator_spark.caching import pin

    root = standing.get("kmeans", spark, sf_dir)
    return pin(spark.read.parquet(root + "/assignments"))


@register("bm25_index_search", _BM25_INDEX_SQL)
def q_bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned BM25 search over the STANDING persisted inverted
    index — the production lexical-retrieval shape: postings scan
    statically pruned to the query terms' tb buckets, df/corpus stats
    broadcast from the maintained views, global top-k via
    TakeOrderedAndProject; work is O(query-term posting lists),
    independent of corpus size. The index itself is the one-off
    amortized build `standing.get("lex")` provides (reported
    separately as ``lex_build_sec``, like ``ivf_build_sec``). Because a
    standing full-corpus index yields exactly full-corpus df/dl/avgdl,
    the search is provably equal to full-corpus BM25 — which is what
    the oracle computes. The incremental lifecycle
    (build → append → RTBF delete → search ≡ rebuild) stays hash-gated
    in tests/test_lexical_index.py."""
    from ureplicator_spark.sources.lexical_index import search_lexical_index

    root = standing.get("lex", spark, sf_dir)
    return search_lexical_index(
        spark, root, ("dup", "spark", "merge"), top_k=10
    ).orderBy("rank")


# Exact-phrase retrieval (r12): positional posting intersection — the
# lexical capability BM25's bag-of-words scoring cannot express. One
# oracle serves BOTH the batch operator and the standing-index probe:
# positions are per-doc local state, so the persisted section equals a
# fresh tokenization row-for-row (append ≡ rebuild pinned in
# tests/test_lexical_index.py) and probe ≡ from-scratch follows. The
# probe phrase is anchored: tokens [1, 4) of the lowest doc_id with
# >= 5 tokens — the CMS probe-set convention, derivable on any engine.
_PHRASE_SQL = """
WITH tok AS (
  SELECT d.doc_id, t.i AS pos,
         list_extract(d.toks, CAST(t.i + 1 AS INT)) AS token
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
       LATERAL unnest(range(0, len(d.toks))) AS t(i)
),
mindoc AS (
  SELECT MIN(doc_id) AS doc_id FROM documents
  WHERE len(string_split(text, ' ')) >= 5
),
phrase AS (
  SELECT pos - 1 AS "offset", token AS term
  FROM tok JOIN mindoc USING (doc_id) WHERE pos BETWEEN 1 AND 3
),
kk AS (SELECT COUNT(*) AS k FROM phrase),
hits AS (
  SELECT t.doc_id, t.pos - p."offset" AS start,
         COUNT(DISTINCT p."offset") AS n_off
  FROM tok t JOIN phrase p ON t.token = p.term
  GROUP BY t.doc_id, t.pos - p."offset"
)
SELECT h.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MIN(h.start) AS BIGINT) AS first_pos
FROM hits h, kk
WHERE h.n_off = kk.k AND h.start >= 0
GROUP BY h.doc_id
ORDER BY h.doc_id
"""


@register("lexical_phrase_search", _PHRASE_SQL)
def q_lexical_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval, batch shape: the anchored 3-token probe
    phrase intersects the corpus's positional postings — a broadcast
    phrase join prunes the token stream to the phrase terms BEFORE any
    exchange (work ~ sum of the terms' posting lengths, never a LIKE
    scan over corpus strings), then one (doc_id, start) vote count and
    one per-doc aggregate. `phrase_index_search` is the standing-index
    twin that also prunes the postings SCAN to the terms' buckets."""
    from ureplicator_spark.operators.text import min_doc_phrase, phrase_search
    from ureplicator_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, min_doc_phrase(docs))


@register("phrase_index_search", _PHRASE_SQL)
def q_phrase_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval over the STANDING positional section —
    the production shape: the positions scan is statically pruned to
    the phrase terms' tb buckets (driver-side literals, the BM25-search
    discipline), the corpus text is never re-read, and work is O(sum
    of the terms' posting lists) independent of corpus size. The probe
    terms are collected once from the 3-row anchored phrase (model-
    sized driver state — literals are exactly what enable the static
    pruning). Provably equal to the batch `lexical_phrase_search`:
    positions are per-doc local state, so the standing section is a
    faithful materialization of the tokenization the batch op derives
    (append ≡ rebuild pinned in tests/test_lexical_index.py)."""
    from ureplicator_spark.operators.text import min_doc_phrase
    from ureplicator_spark.sources.lexical_index import phrase_index_search
    from ureplicator_spark.sources.parquet import load_table

    root = standing.get("pos_index", spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    terms = tuple(
        r.term for r in min_doc_phrase(docs).orderBy("offset").collect()
    )
    return phrase_index_search(spark, root, terms)


_ARM_OVERLAP_SQL = _with(
    *_HYBRID_PARTS,
    """
common AS (
  SELECT l.q_id, COUNT(*) AS n_common
  FROM lrank l JOIN vrank v ON l.q_id = v.q_id AND l.c_id = v.c_id
  GROUP BY l.q_id
)
""".strip(),
    """
SELECT q.q_id,
       COALESCE(c.n_common, 0) AS n_common,
       ROUND(COALESCE(c.n_common, 0) / 10.0, 6) AS overlap_at_k
FROM (SELECT DISTINCT q_id FROM vrank) q
LEFT JOIN common c ON c.q_id = q.q_id
ORDER BY q.q_id
""",
)


@register("retrieval_arm_overlap", _ARM_OVERLAP_SQL)
def q_retrieval_arm_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query overlap@10 between the lexical (BM25 more-like-this)
    and dense (cosine) retrieval arms — the diagnostic that prices
    hybrid fusion: arms that always agree make RRF redundant, arms
    that never agree need a deeper fusion depth. Reuses the exact arm
    rankings `similarity_hybrid_rrf` fuses; n_queries-row output."""
    from ureplicator_spark.operators.similarity import retrieval_arm_overlap
    from ureplicator_spark.sources.parquet import load_table

    return retrieval_arm_overlap(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


# ---------------------------------------------------------------------------
# Bigram LM perplexity proxy + Naive Bayes language classifier
# ---------------------------------------------------------------------------

_BIGRAM_LM_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
pairs AS (
  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        FROM toks WHERE len(toks) >= 2)
),
bc AS (SELECT a, b, COUNT(*) AS cab FROM pairs GROUP BY a, b),
uni AS (
  SELECT t, COUNT(*) AS cu
  FROM (SELECT unnest(toks) AS t FROM toks) GROUP BY t
),
n1 AS (SELECT SUM(cu) AS n1 FROM uni)
SELECT p.doc_id, COUNT(*) AS n_bigrams,
       FLOOR(CAST(SUM(CAST(SIGN(-LN(0.75 * (bc.cab / ua.cu) + 0.25 * (ub.cu / n1.n1))) * FLOOR(ABS(-LN(0.75 * (bc.cab / ua.cu) + 0.25 * (ub.cu / n1.n1))) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * 1e6) * 1e6 + 0.5) / 1e6
         AS cross_entropy
FROM pairs p
JOIN bc ON bc.a = p.a AND bc.b = p.b
JOIN uni ua ON ua.t = p.a
JOIN uni ub ON ub.t = p.b
CROSS JOIN n1
GROUP BY p.doc_id ORDER BY p.doc_id
"""


@register("doc_bigram_perplexity", _BIGRAM_LM_SQL)
def q_doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM cross-entropy per document
    (Jelinek-Mercer, lam=0.75) — the context-aware upgrade of
    doc_perplexity_proxy's unigram score for quality ranking."""
    from ureplicator_spark.operators.text import bigram_lm_score
    from ureplicator_spark.sources.parquet import load_table

    return bigram_lm_score(load_table(spark, sf_dir, "documents"))


_NB_CONFUSION_SQL = """
WITH tokl AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
),
tr AS (SELECT * FROM tokl WHERE doc_id % 10 < 8),
te AS (
  SELECT doc_id, lang, token, COUNT(*) AS tf
  FROM tokl WHERE doc_id % 10 >= 8 GROUP BY doc_id, lang, token
),
ctok AS (SELECT lang AS plang, token, COUNT(*) AS c FROM tr GROUP BY lang, token),
cl AS (SELECT plang, SUM(c) AS ctot FROM ctok GROUP BY plang),
v AS (SELECT COUNT(DISTINCT token) AS v FROM tr),
pri AS (SELECT lang AS plang, COUNT(DISTINCT doc_id) AS nl FROM tr GROUP BY lang),
ntr AS (SELECT SUM(nl) AS n FROM pri),
scored AS (
  SELECT te.doc_id, te.lang, p.plang,
         CAST(SUM(te.tf * CAST(SIGN(LN((COALESCE(ct.c, 0) + 1.0) / (cl.ctot + v.v))) * FLOOR(ABS(LN((COALESCE(ct.c, 0) + 1.0) / (cl.ctot + v.v))) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS ll_tok6
  FROM te CROSS JOIN (SELECT plang FROM pri) p
  LEFT JOIN ctok ct ON ct.plang = p.plang AND ct.token = te.token
  JOIN cl ON cl.plang = p.plang
  CROSS JOIN v
  GROUP BY te.doc_id, te.lang, p.plang
),
ll AS (
  SELECT s.doc_id, s.lang, s.plang,
         (SIGN(CAST(s.ll_tok6 AS DOUBLE) / 1e6 + LN(CAST(p.nl AS DOUBLE) / n.n))
          * FLOOR(ABS(CAST(s.ll_tok6 AS DOUBLE) / 1e6 + LN(CAST(p.nl AS DOUBLE) / n.n)) * 1e6 + 0.5)
          / 1e6 + 0.0) AS ll
  FROM scored s JOIN pri p ON p.plang = s.plang CROSS JOIN ntr n
),
pred AS (
  SELECT doc_id, lang, plang AS lang_pred FROM (
    SELECT doc_id, lang, plang,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ll DESC, plang) AS rn
    FROM ll
  ) WHERE rn = 1
)
SELECT lang, lang_pred, COUNT(*) AS n_docs
FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred
"""


@register("nb_lang_confusion", _NB_CONFUSION_SQL)
def q_nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier (add-one smoothing)
    trained in-engine on the 80% split, held-out confusion matrix —
    the probabilistic counterpart to lang_ngram_classifier's
    rank-based Cavnar-Trenkle."""
    from ureplicator_spark.operators.text import nb_lang_confusion
    from ureplicator_spark.sources.parquet import load_table

    return nb_lang_confusion(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# KMV synopsis: cross-source overlap estimation
# ---------------------------------------------------------------------------

_KMV_OVERLAP_SQL = _with(
    _SHINGLES_CTE,
    """
keyed AS (
  SELECT DISTINCT d.source,
         ('0x' || substr(md5(s.shingle), 1, 15))::BIGINT AS h
  FROM shingles s JOIN documents d USING (doc_id)
)
""".strip(),
    """
regs AS (
  SELECT source, h FROM (
    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS r
    FROM keyed
  ) WHERE r <= 64
)
""".strip(),
    """
prs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM (SELECT DISTINCT source FROM regs) a
  CROSS JOIN (SELECT DISTINCT source FROM regs) b
  WHERE a.source < b.source
)
""".strip(),
    """
marked AS (
  SELECT src_a, src_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
    SELECT p.src_a, p.src_b, r.h, 1 AS in_a, 0 AS in_b
    FROM prs p JOIN regs r ON r.source = p.src_a
    UNION ALL
    SELECT p.src_a, p.src_b, r.h, 0 AS in_a, 1 AS in_b
    FROM prs p JOIN regs r ON r.source = p.src_b
  ) GROUP BY src_a, src_b, h
)
""".strip(),
    """
per_pair AS (
  SELECT src_a, src_b,
         CAST(COUNT(*) AS BIGINT) AS n_synopsis,
         MAX(h) AS hk,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
  FROM (
    SELECT src_a, src_b, h, in_a, in_b,
           ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS r
    FROM marked
  ) WHERE r <= 64
  GROUP BY src_a, src_b
)
""".strip(),
    """
est AS (
  SELECT src_a, src_b, n_synopsis,
         FLOOR((CASE WHEN n_synopsis < 64 THEN CAST(n_synopsis AS DOUBLE)
                     ELSE 63.0 * 1152921504606846976.0 / hk END) * 1e4 + 0.5) / 1e4 AS union_est,
         FLOOR(n_both / n_synopsis * 1e6 + 0.5) / 1e6 AS jaccard_est,
         FLOOR((n_both / n_synopsis)
               * (CASE WHEN n_synopsis < 64 THEN CAST(n_synopsis AS DOUBLE)
                       ELSE 63.0 * 1152921504606846976.0 / hk END) * 1e4 + 0.5) / 1e4 AS inter_est
  FROM per_pair
)
""".strip(),
    """
SELECT src_a, src_b, n_synopsis, union_est, jaccard_est, inter_est
FROM est
ORDER BY src_a, src_b
""",
)


@register("kmv_source_overlap", _KMV_OVERLAP_SQL)
def q_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap estimation from KMV synopses
    (Beyer SIGMOD'07) over word-3-gram shingles — union, Jaccard and
    INTERSECTION estimates per source pair (the set operation HLL
    cannot provide). Synopsis-only (G·k rows of state, estimates on
    synopsis rows alone): the exact COUNT(DISTINCT) calibration the
    r7 query carried is test-only now (`kmv_source_overlap_gauged`,
    tests/test_operators_extra.py) — production never pays the
    corpus-sized overlap joins the sketch exists to replace. The
    dedup-planning query that prices a cross-source dedup run before
    paying for it. r9: KMV synopses are mergeable sketches, so they
    live as a G×k SECTION of the standing index (built once per
    corpus snapshot from the same distinct shingles the oracle
    hashes); the query reads synopsis rows and runs the estimator —
    no corpus-scale work at all, which is precisely the sketch's
    value proposition at 100 TB. The synopsis build path and the
    from-scratch operator stay hash-gated (full-registry parity suite
    + tests/test_operators_extra.py)."""
    from ureplicator_spark.operators.sketch import KMV_K, kmv_pairwise_estimates
    from ureplicator_spark.sources.minhash_index import index_kmv_synopses

    regs = index_kmv_synopses(
        spark, standing.get("minhash", spark, sf_dir)
    )
    return kmv_pairwise_estimates(regs, "source", KMV_K).orderBy(
        "src_a", "src_b"
    )


# ---------------------------------------------------------------------------
# In-engine BPE tokenizer training (Sennrich ACL'16)
# ---------------------------------------------------------------------------


@register("bpe_learn_merges", None)
def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 12 BPE merge rules from the corpus — the
    tokenizer-training step of an LLM data pipeline, in the engine.
    Scale shape (operators/bpe.py): ONE corpus-sized shuffle collapses
    the corpus to a (word, count) table (Heaps'-law-bounded even at
    100 TB); each merge iteration is a small pair-count shuffle, a
    scalar argmax to the driver and a pure-Catalyst fold rewrite,
    lineage truncated per round like the CC label propagation.

    Rows-only driver check: the merge chosen at step i depends on the
    rewrite at step i-1, so no single SQL statement reproduces the
    loop. The full hash gate lives in tests/test_bpe.py, where the
    merge table is compared rule-for-rule (including pair counts and
    tie-breaks) against an oblivious pure-Python BPE reference —
    the PQ-vs-NumPy discipline. r9: the registry query serves the
    STANDING merge table (trained once per corpus snapshot, reported
    as ``bpe_build_sec``); the from-scratch loop stays pinned in
    pytest."""
    from ureplicator_spark.operators.bpe import _merge_table

    return _merge_table(spark, standing.get("bpe", spark, sf_dir))


@register("bpe_segment_stats", None)
def q_bpe_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language compression under the learned BPE vocabulary:
    frequency-weighted avg symbols per word after 12 merges vs the
    character baseline — the gauge a tokenizer-training run reports.
    The vocabulary (not the corpus) is segmented — k narrow folds
    over the distinct-word table, joined back to (lang, word) counts
    on the skew-free word key. Rows-only for the same reason as
    `bpe_learn_merges`; segmentation application is pinned
    symbol-for-symbol against the Python reference in
    tests/test_bpe.py. r9: consumes the STANDING merge table instead
    of re-learning it per invocation (train-once-apply-many, the
    langmodel discipline)."""
    from ureplicator_spark.operators.bpe import bpe_segment_stats
    from ureplicator_spark.sources.parquet import load_table

    merges = [
        (left, right)
        for _, left, right, _, _ in standing.get("bpe", spark, sf_dir)
    ]
    return bpe_segment_stats(
        load_table(spark, sf_dir, "documents"), merges=merges
    )


# The Gear CDC boundary walk IS SQL-expressible (r11, converting a
# permanently-rows-only row to a full hash gate): the 16-bit Gear
# state forgets bytes >15 positions back and min_size >= 16 keeps
# every testable position reset-independent, so h at position i is a
# PURE 16-term windowed integer sum — 15 LAG terms over one per-doc
# ordered window — and only its low mask_bits matter for the cut test
# (mask_bits=5 < 16, so the & 0xFFFF never touches the tested bits).
# The sequential cut walk is a WITH RECURSIVE whose step advances
# every document one chunk per iteration (set-oriented recursion:
# depth = max chunks/doc, width = #docs). Gear table, byte
# extraction (ascii over the pure-ASCII fixture payloads — guarded by
# tests/test_fixture_ascii.py), chunk md5s: all engine-portable.
_CDC_LAG_TERMS = " + ".join(
    f"COALESCE(LAG(g, {k}) OVER w, 0) * {1 << k}" for k in range(1, 16)
)

# The reconstruction prefix (everything through the `chunks` CTE) and
# the two query tails are exposed separately so the LOCAL parity sweep
# can materialize `chunks` ONCE per (session, sf) and run both tails
# against the cached table (tests/oracle_harness.cdc_cached_sql) — the
# recursive walk costs ~25 s at sf0.1 and ran twice per sweep. The
# registered SQL strings remain self-contained (prefix + tail): the
# driver still runs them standalone.
_CDC_RECON_PREFIX = f"""
WITH RECURSIVE
ascii_docs AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
gear AS (
  SELECT b, ('0x' || substr(md5(chr(CAST(b AS INT))), 1, 8))::BIGINT & 65535 AS g
  FROM (SELECT unnest(range(1, 128)) AS b)
),
pos AS (
  SELECT d.media_id, t.i, g.g
  FROM ascii_docs d, LATERAL unnest(range(0, d.n)) AS t(i)
  JOIN gear g ON g.b = ascii(substr(d.text, CAST(t.i + 1 AS INT), 1))
),
hh AS (
  SELECT media_id, i, g + {_CDC_LAG_TERMS} AS hsum
  FROM pos WINDOW w AS (PARTITION BY media_id ORDER BY i)
),
cand AS (SELECT media_id, i FROM hh WHERE hsum % 32 = 0 AND i >= 15),
walk AS (
  SELECT d.media_id, 0 AS ci, 0 AS start,
         COALESCE((SELECT MIN(c.i) + 1 FROM cand c
                   WHERE c.media_id = d.media_id AND c.i >= 15 AND c.i < LEAST(64, d.n)),
                  LEAST(64, d.n)) AS fin, d.n AS n
  FROM ascii_docs d WHERE d.n > 0
  UNION ALL
  SELECT w.media_id, w.ci + 1, w.fin,
         COALESCE((SELECT MIN(c.i) + 1 FROM cand c
                   WHERE c.media_id = w.media_id AND c.i >= w.fin + 15 AND c.i < LEAST(w.fin + 64, w.n)),
                  LEAST(w.fin + 64, w.n)), w.n
  FROM walk w WHERE w.fin < w.n
),
chunks AS (
  SELECT w.media_id, w.ci AS chunk_idx, w.start, w.fin - w.start AS length,
         md5(substr(d.text, w.start + 1, w.fin - w.start)) AS chunk_hash
  FROM walk w JOIN ascii_docs d USING (media_id)
)
"""

_CDC_DEDUP_TAIL = """SELECT chunk_hash, COUNT(DISTINCT media_id) AS n_media, COUNT(*) AS n_occur,
       MAX(length) AS chunk_bytes, (COUNT(*) - 1) * MAX(length) AS dedupable_bytes
FROM chunks GROUP BY chunk_hash HAVING COUNT(DISTINCT media_id) >= 2
ORDER BY chunk_hash
"""

_CDC_CHUNK_DEDUP_SQL = _CDC_RECON_PREFIX + _CDC_DEDUP_TAIL


@register("cdc_chunk_dedup", _CDC_CHUNK_DEDUP_SQL)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup over binary payloads (Gear CDC,
    FastCDC family — Xia USENIX ATC'16): variable-size chunks whose
    boundaries re-align after byte insertions, so chunk-level dedup
    survives edits that break fixed-offset chunking (`doc_chunks`).
    The binary/multimodal counterpart of the text dedup family.

    Scale shape (operators/multimodal.py::cdc_chunk_payloads): the
    16-bit Gear state makes boundaries reset-independent, so the
    rolling scan vectorizes to 16 shifted numpy adds per Arrow batch —
    no per-byte Python; only (hash, length) identities shuffle into
    one hash-keyed aggregation. FULLY hash-gated as of r11: the same
    reset-independence makes the oracle expressible (windowed LAG sum
    + WITH RECURSIVE cut walk, see _CDC_CHUNK_DEDUP_SQL) — this row
    was previously rows-only; boundaries additionally stay pinned
    byte-for-byte against an oblivious per-byte Python reference in
    tests/test_cdc_chunking.py, shift-resilience property included."""
    from ureplicator_spark.operators.multimodal import (
        cdc_chunk_dedup,
        documents_as_media,
    )
    from ureplicator_spark.sources.parquet import load_table

    return cdc_chunk_dedup(documents_as_media(load_table(spark, sf_dir, "documents")))


# Same recursive chunk reconstruction, restricted to the 80/20
# index/batch split — chunk boundaries are per-payload local state,
# so the oracle's full recompute provably equals the probe against
# the persisted index (append ≡ rebuild pinned in
# tests/test_chunk_index.py); the bucket pruning in
# sources/chunk_index.py is a partition optimization, not semantics.
_CDC_INCR_TAIL = """, newch AS (SELECT * FROM chunks WHERE media_id % 10 >= 8),
corpch AS (SELECT * FROM chunks WHERE media_id % 10 < 8),
new_tot AS (SELECT media_id, CAST(SUM(length) AS BIGINT) AS new_bytes
            FROM newch GROUP BY media_id),
shared AS (
  SELECT DISTINCT n.media_id AS new_media, c.media_id AS corpus_media,
         n.chunk_idx AS new_chunk_idx, n.length AS length
  FROM newch n JOIN corpch c
    ON n.chunk_hash = c.chunk_hash AND n.media_id <> c.media_id
),
sagg AS (
  SELECT new_media, corpus_media, COUNT(*) AS shared_chunks,
         CAST(SUM(length) AS BIGINT) AS shared_bytes
  FROM shared GROUP BY new_media, corpus_media
)
SELECT a.new_media, a.corpus_media, a.shared_chunks, a.shared_bytes,
       FLOOR(CAST(a.shared_bytes AS DOUBLE) / t.new_bytes * 1e6 + 0.5) / 1e6
         AS containment
FROM sagg a JOIN new_tot t ON t.media_id = a.new_media
ORDER BY new_media, corpus_media
"""

_CDC_INCR_SQL = _CDC_RECON_PREFIX + _CDC_INCR_TAIL


@register("cdc_incremental_dedup", _CDC_INCR_SQL)
def q_cdc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental payload dedup against a persisted CDC chunk index —
    the lifecycle query (build 80% corpus index -> probe the 20%
    batch), the binary-payload counterpart of
    `similarity_ivf_incremental`. Production amortizes the build once
    per corpus snapshot; the probe chunks ONLY the batch, collects its
    <=64 bucket ids driver-side and statically prunes the bucket
    partitions before the chunk_hash equi-join — the corpus is never
    re-chunked (sources/chunk_index.py). FULLY hash-gated as of r11
    (with cdc_chunk_dedup): the oracle re-derives every payload's
    chunks via the recursive Gear walk and computes the restricted
    batch×corpus overlap — valid because chunk boundaries are
    per-payload local state (append ≡ rebuild pinned in
    tests/test_chunk_index.py, along with byte-identical-copy
    containment=1.0).

    r12: the 80%-corpus index build moved to the standing registry
    (`standing.get("chunk_index")`) — amortized once per input snapshot
    and reported by bench.py as ``chunk_index_build_sec``, exactly
    like the IVF/lexical/minhash/media standing builds. Every timed
    rep now measures the PRODUCTION probe shape; the previous in-query
    tempdir build made this the single most expensive bench row
    (7.35 s at sf0.1, ~6 s of it the rebuilt index)."""
    from ureplicator_spark.operators.multimodal import documents_as_media
    from ureplicator_spark.sources.chunk_index import incremental_payload_dedup
    from ureplicator_spark.sources.parquet import load_table

    root = standing.get("chunk_index", spark, sf_dir)
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return incremental_payload_dedup(spark, root, media.filter("media_id % 10 >= 8"))


# ---------------------------------------------------------------------------
# Training-sequence packing (concatenate-and-chunk loader shape)
# ---------------------------------------------------------------------------

_PACK_CAP = 256

_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n
  FROM documents
),
o AS (
  SELECT doc_id, n,
         CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
  FROM t
),
x AS (
  SELECT doc_id, n, s, s + n AS e,
         unnest(generate_series(s // {_PACK_CAP}, (s + n - 1) // {_PACK_CAP}))
           AS seq_id
  FROM o
)
SELECT CAST(seq_id AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN s < seq_id*{_PACK_CAP} OR e > (seq_id+1)*{_PACK_CAP}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_fragments,
       CAST(SUM(LEAST(e, (seq_id+1)*{_PACK_CAP})
                - GREATEST(s, seq_id*{_PACK_CAP})) AS BIGINT) AS seq_tokens
FROM x GROUP BY seq_id ORDER BY seq_id
"""


@register("sequence_packing", _PACK_SQL)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the corpus into fixed token-capacity training sequences
    (GPT-style concatenate-and-chunk) and report per-sequence fill
    stats. The oracle's single global window IS the scale strawman the
    implementation avoids: operators/packing.py runs the cumulative
    sum as a two-phase distributed scan (per-block totals -> driver
    prefix over n_blocks scalars -> block-local windows), so no stage
    ever funnels the corpus through one task."""
    from ureplicator_spark.operators.packing import pack_sequences
    from ureplicator_spark.sources.parquet import load_table

    return pack_sequences(load_table(spark, sf_dir, "documents"), capacity=_PACK_CAP)


# ---------------------------------------------------------------------------
# Balanced training-shard export
# ---------------------------------------------------------------------------

_SHARD_SQL = """
SELECT CAST((('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             % 16) AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS n_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars
FROM documents GROUP BY shard_id ORDER BY shard_id
"""


@register("training_shard_stats", _SHARD_SQL)
def q_training_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-assignment balance gauge for the training export: per
    deterministic md5 shard, doc/token/char mass. The assignment is
    the export's one shuffle key (sources/shards.py — each shard is
    one task's write at export time), and because it is portable md5
    arithmetic the oracle reproduces membership exactly, hash-gating
    the export layout itself."""
    from ureplicator_spark.sources.parquet import load_table
    from ureplicator_spark.sources.shards import shard_stats

    return shard_stats(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Embedding drift monitoring
# ---------------------------------------------------------------------------

_DRIFT_SQL = _with(
    _COMP_CTE,
    """
q AS (
  SELECT vec_id, i, CAST(SIGN(x * 1000) * FLOOR(ABS(x * 1000) + 0.5) AS BIGINT) AS q FROM comp
)""".strip(),
    """
per AS (
  SELECT d.source, q.i, CAST(SUM(q.q) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM q JOIN documents d ON q.vec_id = d.doc_id
  GROUP BY 1, 2
)""".strip(),
    """
g AS (
  SELECT i, CAST(SUM(q) AS BIGINT) AS gs, CAST(COUNT(*) AS BIGINT) AS gn
  FROM q GROUP BY 1
)""".strip(),
    # cross-multiply in DECIMAL(38,0), not BIGINT (r8 advisor: the
    # products overflow 2^63 long before 38 digits), mirroring the
    # Spark operator; the scale denominator runs in DOUBLE.
    """
t AS (
  SELECT source, n, gn,
         (CAST(s AS DECIMAL(38,0)) * CAST(gn AS DECIMAL(38,0))
          - CAST(gs AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))) AS num
  FROM per JOIN g USING (i)
)""".strip(),
    """
SELECT source,
       CAST(MAX(n) AS BIGINT) AS n_vecs,
       -- floor(x·1e6 + 0.5)/1e6, op-for-op the Spark chain: ROUND of a
       -- double is implementation-defined across engines at .5·10⁻⁶
       -- boundaries (BigDecimal-of-shortest-repr vs float multiply);
       -- the floor chain is pure IEEE and engine-exact
       CAST(FLOOR(sqrt(CAST(SUM(num * num) AS DOUBLE))
                  / (CAST(MAX(n) AS DOUBLE) * CAST(MAX(gn) AS DOUBLE) * 1000)
                  * 1000000 + 0.5) AS DOUBLE) / 1000000 AS centroid_drift,
       CAST(FLOOR(CAST(MAX(ABS(num)) AS DOUBLE)
                  / (CAST(MAX(n) AS DOUBLE) * CAST(MAX(gn) AS DOUBLE) * 1000)
                  * 1000000 + 0.5) AS DOUBLE) / 1000000 AS max_dim_drift
FROM t GROUP BY source ORDER BY source
""".strip(),
)


@register("embedding_source_drift", _DRIFT_SQL)
def q_embedding_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding-centroid drift vs the corpus centroid —
    the gauge that catches a broken encoder or mis-normalized ingest
    batch before it skews ANN/SemDeDup geometry. Hash-gated exactly:
    the distance numerators are cross-multiplied integers summed in
    DECIMAL(38,0) (order-free), so both engines run the identical
    final divide+sqrt+round chain (operators/similarity.py)."""
    from ureplicator_spark.operators.similarity import embedding_source_drift
    from ureplicator_spark.sources.parquet import load_table

    return embedding_source_drift(
        load_table(spark, sf_dir, "embeddings"),
        load_table(spark, sf_dir, "documents"),
    )


# ---------------------------------------------------------------------------
# LLM-pipeline (r9): winnowing local fingerprints + split-leakage audit
# ---------------------------------------------------------------------------

_WINNOW_K, _WINNOW_W = 8, 4

_WINNOW_SEL_CTES = f"""
norm AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s FROM documents
),
eligible AS (
  SELECT doc_id, s, len(s) - {_WINNOW_K} + 1 AS n_kgrams
  FROM norm WHERE len(s) >= {_WINNOW_K + _WINNOW_W - 1}
),
grams AS (
  SELECT doc_id, n_kgrams, i AS pos,
         ('0x' || substr(md5(substr(s, CAST(i AS INT), {_WINNOW_K})), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, s, n_kgrams, unnest(range(1, n_kgrams + 1)) AS i FROM eligible)
),
sel AS (
  SELECT DISTINCT doc_id, pos, h FROM (
    SELECT g2.doc_id, g2.pos, g2.h,
           ROW_NUMBER() OVER (PARTITION BY g1.doc_id, g1.pos
                              ORDER BY g2.h ASC, g2.pos DESC) AS rn
    FROM grams g1
    JOIN grams g2 ON g2.doc_id = g1.doc_id
                 AND g2.pos BETWEEN g1.pos AND g1.pos + {_WINNOW_W - 1}
    WHERE g1.pos <= g1.n_kgrams - {_WINNOW_W - 1}
  ) t WHERE rn = 1
)
""".strip()

_WINNOW_STATS_SQL = _with(
    _WINNOW_SEL_CTES,
    f"""
SELECT e.doc_id, e.n_kgrams, e.n_kgrams - {_WINNOW_W - 1} AS n_windows,
       fp.n_fp AS n_fingerprints, fp.n_h AS n_distinct_hashes,
       FLOOR(CAST(fp.n_fp AS DOUBLE) / (e.n_kgrams - {_WINNOW_W - 1}) * 1e6 + 0.5) / 1e6 AS density
FROM eligible e
JOIN (SELECT doc_id, COUNT(*) AS n_fp, COUNT(DISTINCT h) AS n_h
      FROM sel GROUP BY doc_id) fp USING (doc_id)
""".strip(),
)


@register("winnowing_fingerprints", _WINNOW_STATS_SQL)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc winnowed fingerprint report (Schleimer SIGMOD'03): the
    local-fingerprint counterpart of the whole-doc digests, with the
    2/(w+1) density bound observable per row. Served from the standing
    index's persisted ``winnow_fingerprints`` section (r10) — the
    fingerprint table is a corpus-snapshot artifact like signatures/
    shingles, so probes are a projection, not an md5+fold re-derive;
    the from-scratch twin stays hash-gated in tests."""
    from ureplicator_spark.operators.text import winnowing_stats_from_fp

    return winnowing_stats_from_fp(_standing_winnow_fingerprints(spark, sf_dir))


_WINNOW_PAIRS_SQL = _with(
    _WINNOW_SEL_CTES,
    "fps AS (SELECT DISTINCT doc_id, h FROM sel)",
    "keepable AS (SELECT h FROM fps GROUP BY h HAVING COUNT(*) <= 50)",
    """
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
  JOIN keepable k ON k.h = a.h
  GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2
)
""".strip(),
    """
SELECT doc_a, doc_b, n_shared, rank FROM (
  SELECT doc_a, doc_b, n_shared,
         ROW_NUMBER() OVER (ORDER BY n_shared DESC, doc_a, doc_b) AS rank
  FROM pairs) t WHERE rank <= 20
""".strip(),
)


@register("winnowing_overlap_pairs", _WINNOW_PAIRS_SQL)
def q_winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style shared-fingerprint pairs: any shared substring of
    ≥ k+w-1 chars is guaranteed to surface at least one shared
    fingerprint (the winnowing guarantee) — partial-overlap detection
    Jaccard-style whole-set measures dilute away. Fingerprint-bucket
    join with a doc-frequency cap; never all-pairs. Probes the
    standing index's persisted ``winnow_fingerprints`` section (r10)
    instead of re-deriving fingerprints per invocation — at 100 TB the
    fingerprint table is a corpus-snapshot artifact."""
    from ureplicator_spark.operators.text import winnowing_overlap_pairs_from_fp

    return winnowing_overlap_pairs_from_fp(
        _standing_winnow_fingerprints(spark, sf_dir)
    )


_SPLIT_LEAKAGE_SQL = (
    "WITH pairs AS (" + _LSH_PAIRS_SQL + """),
splits AS (
  SELECT doc_id,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT LEAST(sa.split, sb.split) AS split_a,
       GREATEST(sa.split, sb.split) AS split_b,
       COUNT(*) AS n_pairs,
       CAST(SUM(p.est_jaccard * 8) AS BIGINT) AS sum_matches,
       MAX(p.est_jaccard) AS max_jaccard
FROM pairs p
JOIN splits sa ON sa.doc_id = p.doc_a
JOIN splits sb ON sb.doc_id = p.doc_b
WHERE p.est_jaccard >= 0.5
GROUP BY 1, 2 ORDER BY 1, 2
"""
)


@register("split_leakage_check", _SPLIT_LEAKAGE_SQL)
def q_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test contamination matrix: near-dup pairs (standing
    LSH index) classified by the split membership of both sides.
    Cross-split rows are evaluation leakage — duplication is by
    content, the split is by doc_id, so only this audit sees it.
    sum_matches is exact integer math (est_jaccard·K with K a power of
    two), order-free on both engines."""
    from ureplicator_spark.operators.text import split_leakage
    from ureplicator_spark.sources.parquet import load_table

    return split_leakage(
        load_table(spark, sf_dir, "documents"),
        _standing_lsh_pairs(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# LLM-pipeline (r9): exact embedding covariance + PCA components
# ---------------------------------------------------------------------------

_COV_SQL = _with(
    _KMEANS_COMPQ_CTE,
    "sums AS (SELECT i, SUM(q) AS s FROM compq GROUP BY i)",
    "cnt AS (SELECT COUNT(*) AS n FROM embeddings)",
    """
prods AS (
  SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS sp
  FROM compq a JOIN compq b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
)
""".strip(),
    """
SELECT i, j, n,
       SIGN(x) * FLOOR(ABS(x) * 1e6 + 0.5) / 1e6 + 0.0 AS cov
FROM (
  SELECT p.i, p.j, CAST(c.n AS BIGINT) AS n,
         CAST(CAST(p.sp AS DECIMAL(38,0)) * CAST(c.n AS DECIMAL(38,0))
              - CAST(si.s AS DECIMAL(38,0)) * CAST(sj.s AS DECIMAL(38,0)) AS DOUBLE)
         / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE) * 1000000) AS x
  FROM prods p
  JOIN sums si ON si.i = p.i
  JOIN sums sj ON sj.i = p.j
  CROSS JOIN cnt c
) t
ORDER BY i, j
""".strip(),
)


@register("embedding_covariance", _COV_SQL)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact population covariance of the embedding column (the PCA /
    whitening / OPQ training statistic): integer Gram matrices per
    Arrow batch (one numpy matmul each), DECIMAL(38,0) cross-multiply —
    order-free, engine-exact; one corpus scan, O(partitions·d²) shuffle
    rows."""
    from ureplicator_spark.operators.similarity import embedding_covariance
    from ureplicator_spark.sources.parquet import load_table

    return embedding_covariance(load_table(spark, sf_dir, "embeddings"))


@register("embedding_pca_components", None)
def q_embedding_pca_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 principal components from the exact covariance (driver
    eigh over d² collected scalars — metadata-sized, the greedy-packer
    disposition). Rows-only: eigendecomposition is genuinely
    non-SQL-expressible; the covariance input is hash-gated
    (`embedding_covariance`) and the components are pinned vs an
    oblivious NumPy reference in tests/test_operators_extra.py."""
    from ureplicator_spark.operators.similarity import pca_components
    from ureplicator_spark.sources.parquet import load_table

    return pca_components(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# LLM-pipeline (r9): per-source length-distribution PSI
# ---------------------------------------------------------------------------

def _psi_sql() -> str:
    # DuckDB has no bin(); the bit-length bucket is floor(log2(n))+1,
    # computed exactly with an integer loop-free formula:
    # length(bin(n)) in Spark == 64 - leading zeros == bit_length(n).
    # DuckDB: bit_length of the minimal binary string via
    # CAST(floor(log2(n)) ...) risks float edges, so use the exact
    # string form: length(printf('%b', n)).
    return """
WITH sb AS (
  SELECT source, CAST(length(printf('%b', n_chars)) AS INT) AS b, COUNT(*) AS ns
  FROM documents GROUP BY source, 2
),
cb AS (SELECT b, SUM(ns) AS nc FROM sb GROUP BY b),
st AS (SELECT source, SUM(ns) AS ts FROM sb GROUP BY source),
tot AS (SELECT SUM(nc) AS t, CAST(COUNT(*) AS INT) AS nb FROM cb),
grid AS (
  SELECT st.source, cb.b, st.ts, cb.nc, COALESCE(sb.ns, 0) AS ns, tot.t, tot.nb
  FROM st CROSS JOIN cb
  LEFT JOIN sb ON sb.source = st.source AND sb.b = cb.b
  CROSS JOIN tot
),
terms AS (
  SELECT source, b, ts,
         ((ns + 1) * 1.0 / (ts + nb) - (nc + 1) * 1.0 / (t + nb))
         * ln(((ns + 1) * 1.0 / (ts + nb)) / ((nc + 1) * 1.0 / (t + nb))) AS term
  FROM grid
),
agg AS (
  -- fold the terms in canonical bucket order (matches the Spark
  -- side's sort_array+aggregate): SUM(double) is order-dependent
  SELECT source, CAST(MAX(ts) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS INT) AS n_buckets,
         CAST(FLOOR(list_reduce(list(term ORDER BY b), (x, y) -> x + y)
                    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS psi
  FROM terms GROUP BY source
)
SELECT source, n_docs, n_buckets, psi,
       CASE WHEN psi < 0.1 THEN 'stable'
            WHEN psi < 0.25 THEN 'moderate_shift'
            ELSE 'major_shift' END AS band
FROM agg ORDER BY source
""".strip()


@register("source_length_psi", _psi_sql())
def q_source_length_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PSI of the document-length distribution vs the
    pooled corpus (add-one-smoothed bit-length buckets) — the standard
    numeric drift score; catches truncation/concatenation artifacts
    before they move the vocabulary. One corpus aggregation, B-bounded
    math, floor-chain rounding (engine-exact)."""
    from ureplicator_spark.operators.text import source_length_psi
    from ureplicator_spark.sources.parquet import load_table

    return source_length_psi(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# LLM-pipeline (r10): perceptual image near-dup (dHash + Hamming banding)
# ---------------------------------------------------------------------------

# dHash bit k (k = r*8 + c) compares grid cells (r, c) and (r, c+1) of
# an 8x9 nearest-neighbor sample of the payload; the oracle reproduces
# the byte stream via ascii(substr(text, ...)) — the fixture corpus is
# pure ASCII, so codepoints == utf-8 payload bytes. Resized variants
# compose the resize stub's index map with the hash's sample map —
# exactly what the Spark side's real resize()->image_dhash() pipeline
# computes over the materialized resized payload.
_DHASH_HASHES_ORIG_CTE = """
g AS (
  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) > 0
),
cells AS (SELECT media_id, text, n, FALSE AS resized FROM g),
bits AS (
  SELECT media_id, k, CASE WHEN px1 < px2 THEN 1 ELSE 0 END AS b
  FROM (
    SELECT media_id, k,
      ascii(substr(text, CAST(CASE WHEN resized
        THEN ((((k // 8) * 9 + (k % 8)) * 4096 // 72) * n // 4096)
        ELSE (((k // 8) * 9 + (k % 8)) * n // 72) END + 1 AS INT), 1)) AS px1,
      ascii(substr(text, CAST(CASE WHEN resized
        THEN ((((k // 8) * 9 + (k % 8) + 1) * 4096 // 72) * n // 4096)
        ELSE (((k // 8) * 9 + (k % 8) + 1) * n // 72) END + 1 AS INT), 1)) AS px2
    FROM (SELECT media_id, text, n, resized, unnest(range(0, 64)) AS k FROM cells)
  )
),
hashes AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN k < 63 THEN CAST(b AS BIGINT) << k ELSE 0 END) AS BIGINT)
         + CASE WHEN MAX(CASE WHEN k = 63 THEN b ELSE 0 END) = 1
                THEN -9223372036854775808 ELSE 0 END AS dhash
  FROM bits GROUP BY media_id
)
""".strip()

_DHASH_SQL = _with(
    _DHASH_HASHES_ORIG_CTE,
    "SELECT media_id, dhash FROM hashes ORDER BY media_id",
)

_DHASH_PAIRS_SQL = _with(
    _DHASH_HASHES_ORIG_CTE.replace(
        "cells AS (SELECT media_id, text, n, FALSE AS resized FROM g)",
        "cells AS (SELECT media_id, text, n, FALSE AS resized FROM g\n"
        "           UNION ALL\n"
        "           SELECT media_id + 10000000, text, n, TRUE FROM g)",
    ),
    """
banded AS (
  SELECT media_id, dhash, band, (dhash >> CAST(band * 8 AS INT)) & 255 AS bv
  FROM (SELECT media_id, dhash, unnest(range(0, 8)) AS band FROM hashes)
)
""".strip(),
    """
cand AS (
  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
         a.dhash AS ha, b.dhash AS hb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bv = b.bv AND a.media_id < b.media_id
)
""".strip(),
    """
SELECT media_a, media_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 7
ORDER BY media_a, media_b
""".strip(),
)


@register("media_dhash", _DHASH_SQL)
def q_media_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit perceptual difference hash (dHash) per media payload —
    the image near-dup primitive (stub byte-stream "decode", real
    Arrow-batched mapInPandas pipeline; integer-exact packing, so the
    oracle reproduces every hash). Map-only, zero shuffles."""
    from ureplicator_spark.operators.multimodal import (
        documents_as_media,
        image_dhash,
    )
    from ureplicator_spark.sources.parquet import load_table

    return image_dhash(
        documents_as_media(load_table(spark, sf_dir, "documents"))
    ).orderBy("media_id")


@register("media_dhash_near_pairs", _DHASH_PAIRS_SQL)
def q_media_dhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate media pairs: dHash over originals ∪
    their resize-stub variants, banded 8×8-bit Hamming join (pigeonhole
    ≤ 7 — dedup.simhash discipline, never all-pairs). The resized
    variant shares NO byte runs with its original (CDC exact-chunk
    dedup finds nothing) yet ~90% of originals pair with their own
    variant within 7 bits — the re-encoded-image dedup story, measured
    on the fixtures (456/500 at sf0.001, 4514/5000 at sf0.1). Hashing
    runs FUSED (one Arrow round-trip emits original + variant hashes —
    bit-identical to the materializing resize()→image_dhash pipeline,
    pinned in tests/test_dhash.py)."""
    from ureplicator_spark.operators.multimodal import (
        dhash_near_pairs,
        documents_as_media,
        image_dhash_with_variants,
    )
    from ureplicator_spark.sources.parquet import load_table

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return dhash_near_pairs(image_dhash_with_variants(media))


# ---------------------------------------------------------------------------
# LLM-pipeline (r10): acoustic fingerprint (energy-delta hash) + near-pairs
# ---------------------------------------------------------------------------

# Window w of an n-sample stream spans p in [ceil(w*n/65), ceil((w+1)*n/65));
# bit k compares MEAN energies of windows k and k+1 via the integer
# cross-multiply e_k*sz_{k+1} < e_{k+1}*sz_k (raw sums leak the ±1
# window-size pattern of n mod 65 and correlate same-length docs —
# measured 22k spurious pairs at sf0.1). The variant stream is
# pcm_gain's byte map s//2 + 64 (volume halved), applied to the same
# ascii-codepoint samples the Spark side reads as utf-8 payload bytes
# (the corpus is pure ASCII).
_AUDIO_SAMP_CTE = """
g AS (
  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) > 0
),
samp AS (
  SELECT media_id, n, p, ascii(substr(text, CAST(p + 1 AS INT), 1)) AS s
  FROM (SELECT media_id, text, n, unnest(range(0, n)) AS p FROM g)
)
""".strip()

_AUDIO_HASH_TAIL = """
eo AS (
  SELECT media_id, MAX(n) AS n, (p * 65) // n AS w, SUM(sq) AS e
  FROM allsamp GROUP BY media_id, (p * 65) // n
),
grid AS (
  SELECT m.media_id, ws.w, COALESCE(e.e, 0) AS e,
         ((ws.w + 1) * m.n + 64) // 65 - (ws.w * m.n + 64) // 65 AS sz
  FROM (SELECT media_id, MAX(n) AS n FROM eo GROUP BY media_id) m
  CROSS JOIN (SELECT unnest(range(0, 65)) AS w) ws
  LEFT JOIN eo e ON e.media_id = m.media_id AND e.w = ws.w
),
bits AS (
  SELECT a.media_id, a.w AS k,
         CASE WHEN a.e * b.sz < b.e * a.sz THEN 1 ELSE 0 END AS b
  FROM grid a JOIN grid b ON b.media_id = a.media_id AND b.w = a.w + 1
  WHERE a.w < 64
),
hashes AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN k < 63 THEN CAST(b AS BIGINT) << k ELSE 0 END) AS BIGINT)
         + CASE WHEN MAX(CASE WHEN k = 63 THEN b ELSE 0 END) = 1
                THEN -9223372036854775808 ELSE 0 END AS dhash
  FROM bits GROUP BY media_id
)
""".strip()

_AUDIO_FP_SQL = _with(
    _AUDIO_SAMP_CTE,
    "allsamp AS (SELECT media_id, n, p, CAST((s - 128) * (s - 128) AS BIGINT) AS sq FROM samp)",
    _AUDIO_HASH_TAIL,
    "SELECT media_id, dhash AS fingerprint FROM hashes ORDER BY media_id",
)

_AUDIO_PAIRS_SQL = _with(
    _AUDIO_SAMP_CTE,
    """
allsamp AS (
  SELECT media_id, n, p, CAST((s - 128) * (s - 128) AS BIGINT) AS sq FROM samp
  UNION ALL
  SELECT media_id + 10000000, n, p,
         CAST((s // 2 - 64) * (s // 2 - 64) AS BIGINT) AS sq FROM samp
)
""".strip(),
    _AUDIO_HASH_TAIL,
    """
banded AS (
  SELECT media_id, dhash, band, (dhash >> CAST(band * 8 AS INT)) & 255 AS bv
  FROM (SELECT media_id, dhash, unnest(range(0, 8)) AS band FROM hashes)
)
""".strip(),
    """
cand AS (
  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
         a.dhash AS ha, b.dhash AS hb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bv = b.bv AND a.media_id < b.media_id
)
""".strip(),
    """
SELECT media_a, media_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 7
ORDER BY media_a, media_b
""".strip(),
)


@register("media_audio_fingerprint", _AUDIO_FP_SQL)
def q_media_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit acoustic fingerprint per media payload (energy-delta
    bits over 65 windows of unsigned 8-bit PCM — Haitsma & Kalker
    ISMIR'02's sign-of-energy-difference construction, time-only in
    the stub domain). Mean-energy cross-multiply keeps the bits
    integer-exact AND window-size-unbiased; one cumsum per payload in
    a single mapInPandas stage — map-only, zero shuffles."""
    from ureplicator_spark.operators.multimodal import (
        audio_fingerprint,
        documents_as_media,
    )
    from ureplicator_spark.sources.parquet import load_table

    return (
        audio_fingerprint(documents_as_media(load_table(spark, sf_dir, "documents")))
        .select("media_id", F.col("dhash").alias("fingerprint"))
        .orderBy("media_id")
    )


@register("media_audio_near_pairs", _AUDIO_PAIRS_SQL)
def q_media_audio_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic near-duplicate pairs: fingerprints over originals ∪
    their pcm_gain (volume-halved) variants, banded 8×8-bit Hamming
    join (pigeonhole ≤ 7). The gained payload shares not one exact
    byte with its original, yet EVERY original pairs with its own
    variant within 7 bits on the fixtures (500/500 at sf0.001,
    5000/5000 at sf0.1) — the re-mastered-audio dedup story. Hashing
    runs FUSED (one Arrow round-trip emits both hashes — bit-identical
    to the pcm_gain→audio_fingerprint pipeline, pinned in tests)."""
    from ureplicator_spark.operators.multimodal import (
        audio_fingerprint_with_variants,
        dhash_near_pairs,
        documents_as_media,
    )
    from ureplicator_spark.sources.parquet import load_table

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return dhash_near_pairs(audio_fingerprint_with_variants(media))


# ---------------------------------------------------------------------------
# LLM-pipeline (r10): incremental media dedup against the standing
# fingerprint index (the daily-ingest lifecycle, gated end-to-end)
# ---------------------------------------------------------------------------

_MEDIA_INCR_SQL = _with(
    _DHASH_HASHES_ORIG_CTE.replace(
        "cells AS (SELECT media_id, text, n, FALSE AS resized FROM g)",
        "cells AS (SELECT media_id, text, n, FALSE AS resized FROM g\n"
        "           UNION ALL\n"
        "           SELECT media_id + 10000000, text, n, TRUE FROM g\n"
        "           WHERE media_id % 5 = 0)",
    ),
    """
banded AS (
  SELECT media_id, dhash, band, (dhash >> CAST(band * 8 AS INT)) & 255 AS bv
  FROM (SELECT media_id, dhash, unnest(range(0, 8)) AS band FROM hashes)
)
""".strip(),
    """
cand AS (
  SELECT DISTINCT a.media_id AS new_media, b.media_id AS corpus_media,
         a.dhash AS ha, b.dhash AS hb
  FROM banded a JOIN banded b ON a.band = b.band AND a.bv = b.bv
  WHERE a.media_id >= 10000000 AND b.media_id < 10000000
)
""".strip(),
    """
SELECT new_media, corpus_media, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 7
ORDER BY new_media, corpus_media
""".strip(),
)


@register("media_incremental_dedup", _MEDIA_INCR_SQL)
def q_media_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest media-dedup lifecycle: a batch of RE-ENCODED
    copies (resize-stub variants of every 5th corpus item, fresh ids)
    probes the STANDING fingerprint index — the batch is hashed (it is
    small), the corpus is 16 bytes/item of persisted hashes, and the
    banded pigeonhole join flags each re-encode against its corpus
    original within 7 bits, never re-hashing (or re-reading!) the
    corpus payloads. Oracle-gated end-to-end: fingerprints are
    per-item recomputable, so DuckDB rebuilds both sides from the
    documents table; append ≡ rebuild and probe ≡ from-scratch cross
    pairs are pinned in tests/test_dhash.py."""
    from ureplicator_spark.operators.multimodal import (
        documents_as_media,
        guard_media_id_space,
        resize,
    )
    from ureplicator_spark.sources.media_index import incremental_media_dedup
    from ureplicator_spark.sources.parquet import load_table

    root = standing.get("media_index", spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    batch = resize(documents_as_media(docs)).select(
        (guard_media_id_space(F.col("media_id"), 10_000_000) + 10_000_000).alias(
            "media_id"
        ),
        "payload",
    )
    return incremental_media_dedup(spark, root, batch)


_MEDIA_CLUSTERS_SQL = "WITH RECURSIVE " + _with(
    _DHASH_HASHES_ORIG_CTE.replace(
        "cells AS (SELECT media_id, text, n, FALSE AS resized FROM g)",
        "cells AS (SELECT media_id, text, n, FALSE AS resized FROM g\n"
        "           UNION ALL\n"
        "           SELECT media_id + 10000000, text, n, TRUE FROM g)",
    ),
    """
banded AS (
  SELECT media_id, dhash, band, (dhash >> CAST(band * 8 AS INT)) & 255 AS bv
  FROM (SELECT media_id, dhash, unnest(range(0, 8)) AS band FROM hashes)
)
""".strip(),
    """
cand AS (
  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
         a.dhash AS ha, b.dhash AS hb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bv = b.bv AND a.media_id < b.media_id
)
""".strip(),
    "mpairs AS (SELECT media_a, media_b FROM cand WHERE bit_count(xor(ha, hb)) <= 7)",
    """
edges AS (
  SELECT media_a AS src, media_b AS dst FROM mpairs
  UNION SELECT media_b, media_a FROM mpairs
),
reach AS (
  SELECT src, src AS node FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst AS node FROM reach r JOIN edges e ON e.src = r.node
)
""".strip(),
    """
SELECT src AS media_id, MIN(node) AS cluster_id, (src = MIN(node)) AS is_keeper
FROM reach GROUP BY src ORDER BY media_id
""".strip(),
)[5:]  # _with emits "WITH "; the recursive reach CTE needs "WITH RECURSIVE "


@register("media_dedup_clusters", _MEDIA_CLUSTERS_SQL)
def q_media_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual duplicate CLUSTERS: connected components over the
    dHash near-pairs (originals ∪ resize re-encodes), min-id label
    propagation — the step that turns pairwise fingerprint output into
    keep-one-per-cluster retention, exactly as the text family does
    (fuzzy_dedup_clusters). Keepers are the min media_id per
    component, i.e. the ORIGINAL of each re-encode family by id
    construction. O(cluster diameter) label-prop rounds over
    pair-sized edges; the corpus itself never enters the loop."""
    from ureplicator_spark.operators.dedup import duplicate_clusters
    from ureplicator_spark.operators.multimodal import (
        dhash_near_pairs,
        documents_as_media,
        image_dhash_with_variants,
    )
    from ureplicator_spark.sources.parquet import load_table

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    pairs = dhash_near_pairs(image_dhash_with_variants(media)).select(
        F.col("media_a").alias("doc_a"), F.col("media_b").alias("doc_b")
    )
    return (
        duplicate_clusters(pairs)
        .select(F.col("doc_id").alias("media_id"), "cluster_id", "is_keeper")
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# LLM-pipeline (r11): incremental TEXT dedup against the standing
# MinHash index — the media_incremental_dedup discipline applied to the
# text family (the r10 verdict's remaining lifecycle gap)
# ---------------------------------------------------------------------------

_TEXT_INCR_SQL = _with(
    # the re-crawl batch: every 5th doc, lightly edited (first word
    # dropped — near-dup, not byte-identical), under fresh ids
    "batch AS (SELECT doc_id + 10000000 AS doc_id,\n"
    "                 regexp_replace(text, '^[^ ]+ ', '') AS text\n"
    "          FROM documents WHERE doc_id % 5 = 0)",
    "alldocs AS (SELECT doc_id, text FROM documents\n"
    "            UNION ALL SELECT doc_id, text FROM batch)",
    _shingles_cte("alldocs"),
    _MINHASH_CTE,
    """
banded AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         md5(array_to_string(list(CAST(minhash AS VARCHAR) ORDER BY seed), ',')) AS band_hash
  FROM mh GROUP BY doc_id, CAST(seed // 2 AS INT)
)
""".strip(),
    """
cand AS (
  SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS corpus_doc
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id >= 10000000 AND b.doc_id < 10000000
)
""".strip(),
    """
SELECT c.new_doc, c.corpus_doc,
       ROUND(SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS est_jaccard
FROM cand c
JOIN mh sa ON sa.doc_id = c.new_doc
JOIN mh sb ON sb.doc_id = c.corpus_doc AND sb.seed = sa.seed
GROUP BY c.new_doc, c.corpus_doc
ORDER BY new_doc, corpus_doc
""",
)


@register("text_incremental_dedup", _TEXT_INCR_SQL)
def q_text_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest TEXT-dedup lifecycle, gated end-to-end: a batch
    of lightly-edited re-crawls (every 5th doc minus its first word,
    fresh ids) probes the STANDING MinHash signature index — the batch
    is signed (it is small), banded, and joined against the persisted
    band sections; the corpus is NEVER re-shingled. O(batch·bands)
    work, never batch×corpus. The oracle recomputes the restricted
    LSH join (batch-side × corpus-side pairs only) from scratch —
    valid because index signatures are per-doc local state, provably
    equal to a fresh signing of the same corpus (the append≡rebuild
    and probe≡from-scratch equivalences stay pinned in
    tests/test_operators_extra.py::test_minhash_index_incremental_dedup)."""
    from ureplicator_spark.operators.multimodal import guard_media_id_space
    from ureplicator_spark.sources.minhash_index import incremental_dedup
    from ureplicator_spark.sources.parquet import load_table

    root = standing.get("minhash", spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    batch = docs.select(
        (guard_media_id_space(F.col("doc_id"), 10_000_000) + 10_000_000).alias(
            "doc_id"
        ),
        F.regexp_replace("text", r"^[^ ]+ ", "").alias("text"),
    )
    return incremental_dedup(spark, root, batch)


# ---------------------------------------------------------------------------
# LLM-pipeline (r11): mergeable quantile sketch (HDR histogram) — the
# missing sketch-family member; the 100 TB shape workload_percentiles'
# exact per-group percentile sort cannot take
# ---------------------------------------------------------------------------

_HDR_SKETCH_SQL = _with(
    FX.RECORDS_CTE,
    """
hkeys AS (
  SELECT topic,
         CASE WHEN value_size < 32 THEN value_size::BIGINT
              ELSE (length(bin(value_size)) - 1)::BIGINT * 32
                   + ((value_size >> (length(bin(value_size)) - 1 - 5)) - 32)
         END AS bucket_key
  FROM records
)
""".strip(),
    "hregs AS (SELECT topic, bucket_key, COUNT(*) AS cnt"
    " FROM hkeys GROUP BY topic, bucket_key)",
    """
hcum AS (
  SELECT topic, bucket_key, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY topic ORDER BY bucket_key) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY topic) AS BIGINT) AS n,
         CASE WHEN bucket_key < 32 THEN bucket_key
              ELSE ((bucket_key % 32 + 32) << ((bucket_key // 32)::INT - 5))
                   + (1::BIGINT << ((bucket_key // 32)::INT - 5)) - 1
         END AS hi
  FROM hregs
)
""".strip(),
    """
SELECT topic, MAX(n) AS n_records, COUNT(*) AS n_buckets,
       MIN(CASE WHEN cum * 100 >= n * 50 THEN hi END) AS p50_est,
       MIN(CASE WHEN cum * 100 >= n * 95 THEN hi END) AS p95_est,
       MIN(CASE WHEN cum * 100 >= n * 99 THEN hi END) AS p99_est
FROM hcum GROUP BY topic
""",
)


@register("workload_quantile_sketch", _HDR_SKETCH_SQL)
def q_workload_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-topic payload-size quantiles from a MERGEABLE HDR-histogram
    sketch (Tene, HdrHistogram.org): log-bucketed integer registers
    (exact below 2^5; (exponent, 5 mantissa bits) above — relative
    error <= 2^-5), nearest-rank reads via exact integer
    cross-multiplication (100·cum >= p·n). No doubles anywhere —
    floor-log2 is length(bin(v))-1, so any engine reproduces the
    registers AND the estimates bit-for-bit, unlike native
    approx_percentile (t-digest, engine-private and
    interpolation-bound).

    Scale shape: ONE shuffle on (topic, bucket) with map-side partial
    COUNT; state is bounded (~60·32 buckets/topic) however large the
    log, registers merge by plain SUM (append ≡ rebuild EXACTLY —
    pinned in tests/test_gauge_parity.py), and the rank walk windows
    over register rows, not data. `workload_percentiles` (exact
    interpolated percentiles, single-reducer per-group sort) is the
    gauge twin this sketch replaces at 100 TB."""
    from ureplicator_spark.operators.sketch import hdr_quantiles, hdr_registers

    regs = hdr_registers(FX.records(spark, sf_dir), "value_size", ["topic"])
    return hdr_quantiles(regs, ["topic"])


# ---------------------------------------------------------------------------
# LLM-pipeline (r11): frame-sequence (shot-level) near-dup — completes
# the perceptual multimodal family (image dHash, audio energy-delta,
# video-like frame sequences). Reference for the construction:
# winnowing/k-gram shingling applied to per-frame dHash sequences.
# ---------------------------------------------------------------------------

# Per-frame dHash over fixed 32-byte frames: the whole-payload dHash
# cell machinery parameterized by frame offset — every frame is
# exactly FRAME_STRIDE bytes, so the 72-cell grid offsets are
# CONSTANTS (j*32//72) and only the frame base offset varies.
_FRAME_HASHES_CTE = """
g AS (
  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) >= 32
),
fcells AS (SELECT media_id, text, n, 0 AS foffs FROM g),
frames AS (
  SELECT media_id, text, foffs, unnest(range(0, (n - foffs) // 32)) AS f
  FROM fcells
),
fbits AS (
  SELECT media_id, foffs, f, k, CASE WHEN px1 < px2 THEN 1 ELSE 0 END AS b
  FROM (
    SELECT media_id, foffs, f, k,
      ascii(substr(text, CAST(foffs + f * 32 + (((k // 8) * 9 + (k % 8)) * 32 // 72) + 1 AS INT), 1)) AS px1,
      ascii(substr(text, CAST(foffs + f * 32 + (((k // 8) * 9 + (k % 8) + 1) * 32 // 72) + 1 AS INT), 1)) AS px2
    FROM (SELECT media_id, text, foffs, f, unnest(range(0, 64)) AS k FROM frames)
  )
),
fhashes AS (
  SELECT media_id, CAST(f AS INT) AS frame_idx,
         CAST(SUM(CASE WHEN k < 63 THEN CAST(b AS BIGINT) << k ELSE 0 END) AS BIGINT)
         + CASE WHEN MAX(CASE WHEN k = 63 THEN b ELSE 0 END) = 1
                THEN -9223372036854775808 ELSE 0 END AS fhash
  FROM fbits GROUP BY media_id, f
)
""".strip()

_FRAME_SIG_SQL = _with(
    _FRAME_HASHES_CTE,
    "SELECT media_id, frame_idx, fhash FROM fhashes ORDER BY media_id, frame_idx",
)


@register("media_frame_signatures", _FRAME_SIG_SQL)
def q_media_frame_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame 64-bit dHash sequence over fixed 32-byte frames — the
    shot-signature table a video pipeline materializes once per item
    (~12 bytes per frame, ~0.4% of payload bytes at any scale).
    Map-only mapInPandas, zero shuffles; the oracle reproduces every
    frame hash from the byte stream (fixed frame size makes the
    72-cell dHash grid offsets compile-time constants)."""
    from ureplicator_spark.operators.multimodal import (
        documents_as_media,
        video_frame_hashes,
    )
    from ureplicator_spark.sources.parquet import load_table

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return video_frame_hashes(media).orderBy("media_id", "frame_idx")


_FRAME_PAIRS_SQL = _with(
    _FRAME_HASHES_CTE.replace(
        "fcells AS (SELECT media_id, text, n, 0 AS foffs FROM g)",
        "fcells AS (SELECT media_id, text, n, 0 AS foffs FROM g\n"
        "           UNION ALL\n"
        "           SELECT media_id + 10000000, text, n, 64 FROM g\n"
        "           WHERE n - 64 >= 32)",
    ),
    """
seqs AS (
  SELECT media_id, list(CAST(fhash AS VARCHAR) ORDER BY frame_idx) AS seq
  FROM fhashes GROUP BY media_id
)
""".strip(),
    """
grams AS (
  SELECT DISTINCT media_id, gram FROM (
    SELECT media_id,
           unnest(list_transform(range(0, len(seq) - 3),
                  i -> md5(array_to_string(
                         list_slice(seq, CAST(i + 1 AS INT), CAST(i + 4 AS INT)),
                         ',')))) AS gram
    FROM seqs WHERE len(seq) >= 4
  )
)
""".strip(),
    "gcounts AS (SELECT media_id, COUNT(*) AS n_grams FROM grams GROUP BY media_id)",
    # stop-shingle cap (max_df = 50): mirrors frame_shingle_near_pairs —
    # grams shared by more than 50 items are dropped before the pair
    # join; n_a/n_b denominators stay uncapped.
    "gcapped AS (SELECT media_id, gram FROM (SELECT media_id, gram,"
    " COUNT(*) OVER (PARTITION BY gram) AS df FROM grams) WHERE df <= 50)",
    """
gshared AS (
  SELECT a.media_id AS media_a, b.media_id AS media_b, COUNT(*) AS shared_shingles
  FROM gcapped a JOIN gcapped b ON a.gram = b.gram AND a.media_id < b.media_id
  GROUP BY a.media_id, b.media_id HAVING COUNT(*) >= 2
)
""".strip(),
    """
SELECT s.media_a, s.media_b, s.shared_shingles,
       ca.n_grams AS n_a, cb.n_grams AS n_b,
       FLOOR(CAST(s.shared_shingles AS DOUBLE) / LEAST(ca.n_grams, cb.n_grams)
             * 1e6 + 0.5) / 1e6 AS overlap
FROM gshared s
JOIN gcounts ca ON ca.media_id = s.media_a
JOIN gcounts cb ON cb.media_id = s.media_b
ORDER BY media_a, media_b
""",
)


@register("media_frame_near_pairs", _FRAME_PAIRS_SQL)
def q_media_frame_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-level near-dup: md5 shingles of 4 CONSECUTIVE frame hashes
    over originals ∪ RE-CUT variants (first 2 frames trimmed, fresh
    ids) — a trimmed clip re-aligns with its source at the next frame
    boundary exactly like CDC chunks re-align after a byte edit, so
    the pair survives an edit that kills every whole-payload hash.
    Hashing is FUSED (one Arrow round-trip emits original + variant
    frames; bit-identical to trimming then re-hashing, pinned in
    tests/test_dhash.py); candidates come from the shingle equi-join —
    bucketed by construction, never all-pairs."""
    from ureplicator_spark.operators.multimodal import (
        documents_as_media,
        frame_shingle_near_pairs,
        video_frame_hashes_with_variants,
    )
    from ureplicator_spark.sources.parquet import load_table

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return frame_shingle_near_pairs(video_frame_hashes_with_variants(media))


_FRAME_INCR_SQL = _with(
    _FRAME_HASHES_CTE.replace(
        "fcells AS (SELECT media_id, text, n, 0 AS foffs FROM g)",
        "fcells AS (SELECT media_id, text, n, 0 AS foffs FROM g\n"
        "           UNION ALL\n"
        "           SELECT media_id + 10000000, text, n, 64 FROM g\n"
        "           WHERE media_id % 5 = 0 AND n - 64 >= 32)",
    ),
    """
seqs AS (
  SELECT media_id, list(CAST(fhash AS VARCHAR) ORDER BY frame_idx) AS seq
  FROM fhashes GROUP BY media_id
)
""".strip(),
    """
grams AS (
  SELECT DISTINCT media_id, gram FROM (
    SELECT media_id,
           unnest(list_transform(range(0, len(seq) - 3),
                  i -> md5(array_to_string(
                         list_slice(seq, CAST(i + 1 AS INT), CAST(i + 4 AS INT)),
                         ',')))) AS gram
    FROM seqs WHERE len(seq) >= 4
  )
)
""".strip(),
    # corpus-side stop-shingle cap (max_df = 50): mirrors
    # incremental_frame_dedup — the standing section is the unbounded
    # side; grams held by more than 50 corpus items are dropped before
    # the probe join. n_corpus denominators stay uncapped.
    "ccapped AS (SELECT media_id, gram FROM (SELECT media_id, gram,"
    " COUNT(*) OVER (PARTITION BY gram) AS df FROM grams"
    " WHERE media_id < 10000000) WHERE df <= 50)",
    """
fshared AS (
  SELECT a.media_id AS new_media, b.media_id AS corpus_media,
         COUNT(*) AS shared_shingles
  FROM grams a JOIN ccapped b ON a.gram = b.gram
  WHERE a.media_id >= 10000000
  GROUP BY a.media_id, b.media_id HAVING COUNT(*) >= 2
)
""".strip(),
    "fcounts AS (SELECT media_id, COUNT(*) AS n_grams FROM grams GROUP BY media_id)",
    """
SELECT s.new_media, s.corpus_media, s.shared_shingles,
       ca.n_grams AS n_new, cb.n_grams AS n_corpus,
       FLOOR(CAST(s.shared_shingles AS DOUBLE) / LEAST(ca.n_grams, cb.n_grams)
             * 1e6 + 0.5) / 1e6 AS overlap
FROM fshared s
JOIN fcounts ca ON ca.media_id = s.new_media
JOIN fcounts cb ON cb.media_id = s.corpus_media
ORDER BY new_media, corpus_media
""",
)


@register("media_frame_incremental_dedup", _FRAME_INCR_SQL)
def q_media_frame_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest SHOT-LEVEL dedup lifecycle, gated end-to-end:
    a batch of RE-CUT clips (every 5th corpus item with its first 2
    frames trimmed, fresh ids) probes the STANDING frame-shingle
    section — the batch is frame-hashed and shingled locally, the
    corpus side is persisted (media_id, gram) rows joined by shingle,
    and the corpus payloads are never re-read. Completes the
    incremental-dedup lifecycle triple: exact-chunk
    (cdc_incremental_dedup), whole-payload perceptual
    (media_incremental_dedup), and shot-level sequence (this row).
    Oracle recomputes the restricted batch×corpus shingle join from
    the byte stream — valid because frame shingles are per-item local
    state (append ≡ rebuild + probe ≡ from-scratch pinned in
    tests/test_media_index_maintenance.py)."""
    from ureplicator_spark.operators.multimodal import (
        documents_as_media,
        guard_media_id_space,
    )
    from ureplicator_spark.sources.media_index import incremental_frame_dedup

    from ureplicator_spark.sources.parquet import load_table

    root = standing.get("media_index", spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    batch = documents_as_media(docs).select(
        (guard_media_id_space(F.col("media_id"), 10_000_000) + 10_000_000).alias(
            "media_id"
        ),
        F.expr("substring(payload, 65)").alias("payload"),
    )
    return incremental_frame_dedup(spark, root, batch)


_FRAME_CLUSTERS_SQL = "WITH RECURSIVE " + _with(
    _FRAME_HASHES_CTE.replace(
        "fcells AS (SELECT media_id, text, n, 0 AS foffs FROM g)",
        "fcells AS (SELECT media_id, text, n, 0 AS foffs FROM g\n"
        "           UNION ALL\n"
        "           SELECT media_id + 10000000, text, n, 64 FROM g\n"
        "           WHERE n - 64 >= 32)",
    ),
    """
seqs AS (
  SELECT media_id, list(CAST(fhash AS VARCHAR) ORDER BY frame_idx) AS seq
  FROM fhashes GROUP BY media_id
)
""".strip(),
    """
grams AS (
  SELECT DISTINCT media_id, gram FROM (
    SELECT media_id,
           unnest(list_transform(range(0, len(seq) - 3),
                  i -> md5(array_to_string(
                         list_slice(seq, CAST(i + 1 AS INT), CAST(i + 4 AS INT)),
                         ',')))) AS gram
    FROM seqs WHERE len(seq) >= 4
  )
)
""".strip(),
    # stop-shingle cap (max_df = 50), mirroring frame_shingle_near_pairs
    "gcapped AS (SELECT media_id, gram FROM (SELECT media_id, gram,"
    " COUNT(*) OVER (PARTITION BY gram) AS df FROM grams) WHERE df <= 50)",
    """
fpairs AS (
  SELECT a.media_id AS media_a, b.media_id AS media_b
  FROM gcapped a JOIN gcapped b ON a.gram = b.gram AND a.media_id < b.media_id
  GROUP BY a.media_id, b.media_id HAVING COUNT(*) >= 2
)
""".strip(),
    """
edges AS (
  SELECT media_a AS src, media_b AS dst FROM fpairs
  UNION SELECT media_b, media_a FROM fpairs
),
reach AS (
  SELECT src, src AS node FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst AS node FROM reach r JOIN edges e ON e.src = r.node
)
""".strip(),
    """
SELECT src AS media_id, MIN(node) AS cluster_id, (src = MIN(node)) AS is_keeper
FROM reach GROUP BY src ORDER BY media_id
""".strip(),
)[5:]  # _with emits "WITH "; the recursive reach CTE needs "WITH RECURSIVE "


@register("media_frame_dedup_clusters", _FRAME_CLUSTERS_SQL)
def q_media_frame_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-level duplicate CLUSTERS: connected components over the
    frame-shingle near-pairs (originals ∪ re-cut variants), min-id
    label propagation, keep-one retention — the pairs → clusters →
    retention shape every dedup family in this engine ends with
    (text fuzzy clusters, image dHash clusters, now frame sequences).
    Keepers are the min media_id per component, i.e. each clip
    family's original by id construction. O(cluster diameter)
    label-prop rounds over pair-sized edges."""
    from ureplicator_spark.operators.dedup import duplicate_clusters
    from ureplicator_spark.operators.multimodal import (
        documents_as_media,
        frame_shingle_near_pairs,
        video_frame_hashes_with_variants,
    )
    from ureplicator_spark.sources.parquet import load_table

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    pairs = frame_shingle_near_pairs(
        video_frame_hashes_with_variants(media)
    ).select(F.col("media_a").alias("doc_a"), F.col("media_b").alias("doc_b"))
    return (
        duplicate_clusters(pairs)
        .select(F.col("doc_id").alias("media_id"), "cluster_id", "is_keeper")
        .orderBy("media_id")
    )
