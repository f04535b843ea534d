"""Replication-domain views derived deterministically from the driver
fixture tables.

The driver's testdata has no Kafka-record table, so the replication
domain (records / mappings / clusters / assignments) is DERIVED from
``events`` with pure, engine-agnostic arithmetic. Each derivation
exists twice — as a DataFrame builder (Spark) and as a SQL CTE string
(DuckDB oracle) — with IDENTICAL semantics, using only constructs whose
behavior matches bit-for-bit across both engines (integer arithmetic,
md5, length, string ops).

Mapping of events → Kafka record (reference data unit,
DefaultMessageTransformer.java:44-56):
    topic      := event_type
    partition  := CAST(user_id % 4 AS INT)          (non-negative ids)
    offset     := event_id                          (unique, monotone)
    ts_sec     := ts // 1e9 (event ns → epoch secs, exact int division)
    value_size := length(props)                     (payload byte proxy)
    value      := value                             (numeric payload)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ureplicator_spark.functions import session_memo, values_df
from ureplicator_spark.sources.parquet import load_table

# ---------------------------------------------------------------------------
# constants shared by Spark builders and DuckDB oracle SQL
# ---------------------------------------------------------------------------

N_SRC_PARTITIONS = 4
N_INSTANCES = 3

# topicmapping.properties equivalent (WorkerInstance.java:385-397)
TOPIC_MAPPING_ROWS = [("click", "click_mirror"), ("purchase", "purchase_v2")]

# destination-cluster partition counts (TopicPartitionCountObserver.java:96-118)
# click_mirror < 4 exercises the p % dstCount remap; purchase_v2 likewise;
# topics absent here get partition NULL (reference: null → default partitioner)
PARTITION_COUNT_ROWS = [("click_mirror", 3), ("purchase_v2", 2), ("signup", 4)]

# topics present on the destination cluster (KafkaBrokerTopicObserver)
DST_TOPIC_ROWS = ["click", "purchase", "signup", "view", "dstonly"]
# extra source-cluster topics beyond the live event topics
SRC_EXTRA_TOPIC_ROWS = ["__consumer_offsets", "srconly"]
# ZK blacklist (AutoTopicWhitelistingManager ZK blacklist)
BLACKLIST_ROWS = ["purchase"]
# exclude regex (AutoTopicWhitelistingManager.java:174-185)
EXCLUDE_REGEX = "^__.*"

# offset snapshot cutoffs (epoch seconds, within the Jan-2024 event range)
SNAPSHOT_T1 = 1705708800  # 2024-01-20 00:00:00 UTC
SNAPSHOT_T2 = 1706313600  # 2024-01-27 00:00:00 UTC

# Seeded consumer stall: this partition's commit offset is frozen at its
# T1 value in the T2 snapshot, simulating what OffsetMonitor observes
# for a stuck consumer (commit unchanged while lag > 0,
# OffsetMonitor.java:293-307). Without it every partition in the
# synthetic log progresses organically and the A2 no-progress queries
# compare empty-vs-empty — a vacuous correctness row.
STALLED_TOPIC = "click"
STALLED_PARTITION = 0

# workload window width (reference 10-minute buckets, C3QueryUtils)
WINDOW_SEC = 600

# capacity constants (ControllerConf.java:161-171)
DEFAULT_BYTES_PER_SEC = 1000.0
DEFAULT_MSGS_PER_SEC = 1.0
MAX_WORKLOAD_PER_WORKER = 8 * 1024 * 1024  # 8 MiB/s

# ---------------------------------------------------------------------------
# Spark builders
# ---------------------------------------------------------------------------


def event_ts_sec(ev: DataFrame):
    """Epoch-seconds column for ``events.ts``, whichever physical type
    the driver generated it with: int64 nanoseconds (rounds 1-2, read as
    long via nanosAsLong) or timestamp[us] (round 3+, read as
    TIMESTAMP_NTZ; the session runs in UTC so ``unix_seconds`` matches
    DuckDB's ``epoch_ns(ts) // 1e9`` exactly)."""
    t = dict(ev.dtypes).get("ts", "")
    if t in ("bigint", "long"):
        return F.expr("ts div 1000000000")
    return F.unix_seconds(F.col("ts").cast("timestamp"))


def records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka-record-shaped log derived from events. Memoized on the
    ``load_table`` frame, so a rewritten events file (a new frame)
    derives a new log."""
    return _records(spark, load_table(spark, sf_dir, "events"))


@session_memo
def _records(spark: SparkSession, ev: DataFrame) -> DataFrame:
    return ev.select(
        F.col("event_type").alias("topic"),
        (F.col("user_id") % N_SRC_PARTITIONS).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        event_ts_sec(ev).alias("ts_sec"),
        F.length("props").alias("value_size"),
        F.col("value"),
        F.col("props"),
    )


N_ROUTES = 3


def route_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(topic, partition) offset ranges split into N_ROUTES routes —
    the partial-replication bounds table (PartitionOffsetInfo,
    WorkerInstance.java:189-206). width = ceil(span/3) so the three
    [start, end) ranges exactly cover [min_offset, max_offset]."""
    return _route_bounds(spark, records(spark, sf_dir))


@session_memo
def _route_bounds(spark: SparkSession, rec: DataFrame) -> DataFrame:
    base = (
        rec.groupBy("topic", "partition")
        .agg(F.min("offset").alias("mn"), F.max("offset").alias("mx"))
        .withColumn("width", F.expr("(mx - mn + 3) div 3"))
    )
    routes = spark.range(N_ROUTES).select(F.col("id").cast("int").alias("route_id"))
    return base.crossJoin(F.broadcast(routes)).select(
        "topic",
        "partition",
        "route_id",
        (F.col("mn") + F.col("route_id") * F.col("width")).alias("start_offset"),
        (F.col("mn") + (F.col("route_id") + 1) * F.col("width")).alias("end_offset"),
    )


def stalled_commit_override(c2: DataFrame, c1: DataFrame) -> DataFrame:
    """Apply the seeded stall to a T2 commit snapshot: the stalled
    partition's commit is replaced by its T1 value (columns of ``c2``
    are preserved; ``c1``/``c2`` both carry ``commit_offset``)."""
    frozen = c1.select(
        "topic", "partition", F.col("commit_offset").alias("_commit_t1")
    )
    stalled = (F.col("topic") == STALLED_TOPIC) & (
        F.col("partition") == STALLED_PARTITION
    )
    return (
        c2.join(frozen, ["topic", "partition"], "left")
        .withColumn(
            "commit_offset",
            F.when(stalled, F.coalesce("_commit_t1", F.col("commit_offset"))).otherwise(
                F.col("commit_offset")
            ),
        )
        .drop("_commit_t1")
    )


@session_memo
def topic_mapping(spark: SparkSession) -> DataFrame:
    return values_df(spark, TOPIC_MAPPING_ROWS, "src_topic string, dst_topic string")


@session_memo
def partition_counts(spark: SparkSession) -> DataFrame:
    return values_df(spark, PARTITION_COUNT_ROWS, "topic string, num_partitions int")


@session_memo
def dst_topics(spark: SparkSession) -> DataFrame:
    return values_df(spark, DST_TOPIC_ROWS, "topic string")


@session_memo
def src_extra_topics(spark: SparkSession) -> DataFrame:
    return values_df(spark, SRC_EXTRA_TOPIC_ROWS, "topic string")


@session_memo
def blacklist(spark: SparkSession) -> DataFrame:
    return values_df(spark, BLACKLIST_ROWS, "topic string")


# ---------------------------------------------------------------------------
# DuckDB oracle CTE fragments (same semantics as the builders above)
# ---------------------------------------------------------------------------

RECORDS_CTE = """
records AS (
  SELECT event_type AS topic,
         CAST(user_id % 4 AS INT) AS "partition",
         event_id AS "offset",
         epoch_ns(ts) // 1000000000 AS ts_sec,
         length(props) AS value_size,
         value,
         props
  FROM events
)
""".strip()

ROUTE_BOUNDS_CTE = """
route_bounds AS (
  SELECT b.topic, b."partition", r.route_id,
         b.mn + r.route_id * b.width AS start_offset,
         b.mn + (r.route_id + 1) * b.width AS end_offset
  FROM (SELECT topic, "partition", MIN("offset") AS mn,
               (MAX("offset") - MIN("offset") + 3) // 3 AS width
        FROM records GROUP BY topic, "partition") b
  CROSS JOIN (VALUES (0), (1), (2)) AS r(route_id)
)
""".strip()

TOPIC_MAPPING_CTE = (
    "topic_mapping AS (SELECT * FROM (VALUES "
    + ", ".join(f"('{s}', '{d}')" for s, d in TOPIC_MAPPING_ROWS)
    + ") AS t(src_topic, dst_topic))"
)

PARTITION_COUNTS_CTE = (
    "partition_counts AS (SELECT * FROM (VALUES "
    + ", ".join(f"('{t}', {n})" for t, n in PARTITION_COUNT_ROWS)
    + ") AS t(topic, num_partitions))"
)

DST_TOPICS_CTE = (
    "dst_topics AS (SELECT * FROM (VALUES "
    + ", ".join(f"('{t}')" for t in DST_TOPIC_ROWS)
    + ") AS t(topic))"
)

SRC_EXTRA_TOPICS_CTE = (
    "src_extra_topics AS (SELECT * FROM (VALUES "
    + ", ".join(f"('{t}')" for t in SRC_EXTRA_TOPIC_ROWS)
    + ") AS t(topic))"
)

def stalled_c2_cte(t2_sec: int) -> str:
    """DuckDB twin of ``stalled_commit_override``: a ``c2`` CTE whose
    stalled partition carries the T1 commit. Requires a ``c1`` CTE with
    (topic, partition, commit_t1) earlier in the WITH list."""
    return f"""
c2 AS (
  SELECT r.topic, r."partition",
         CASE WHEN r.topic = '{STALLED_TOPIC}' AND r."partition" = {STALLED_PARTITION}
              THEN COALESCE(c1.commit_t1, r.commit_t2) ELSE r.commit_t2 END AS commit_t2
  FROM (SELECT topic, "partition", MAX("offset") AS commit_t2
        FROM records WHERE ts_sec <= {t2_sec} GROUP BY topic, "partition") r
  LEFT JOIN c1 USING (topic, "partition")
)
""".strip()


BLACKLIST_CTE = (
    "blacklist AS (SELECT * FROM (VALUES "
    + ", ".join(f"('{t}')" for t in BLACKLIST_ROWS)
    + ") AS t(topic))"
)
