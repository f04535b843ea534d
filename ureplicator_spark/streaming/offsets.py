"""Queryable offset store — the ZookeeperCheckpointManager analog as
data (S8; ZookeeperCheckpointManager.java:73-130).

Spark's checkpoint directory already gives replication its offset
durability; this module additionally exposes commit progress as a
TABLE so the control plane (lag, no-progress, REST `/offset`) can
query it — which the reference does by reading ZK paths.

Design: append-only log + compacting read, the same shape as ZK's
versioned znodes. Each micro-batch appends its per-partition max
offsets via ``foreachBatch`` (a few rows per batch — O(#partitions),
never O(#records)); readers take the per-key max; ``compact()``
rewrites the log when it grows. Append-only keeps the sink idempotent
under at-least-once batch retries (a replayed batch re-appends the
same maxima, and the compacting read absorbs duplicates).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ureplicator_spark.streaming.batches import start


def offset_log_sink(
    records_stream: DataFrame,
    log_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Stream (topic, partition, offset, ts_sec) records; append each
    micro-batch's per-partition high-water marks to the offset log."""

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("topic", "partition")
            .agg(
                F.max("offset").alias("commit_offset"),
                F.max("ts_sec").alias("commit_ts_sec"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .coalesce(1)
            .write.mode("append")
            .parquet(log_dir)
        )

    writer = records_stream.writeStream.foreachBatch(append_batch)
    return start(writer, checkpoint_dir, "offset-log", available_now)


def current_offsets(spark: SparkSession, log_dir: str) -> DataFrame:
    """Compacting read: latest commit per (topic, partition)."""
    return (
        spark.read.parquet(log_dir)
        .groupBy("topic", "partition")
        .agg(
            F.max("commit_offset").alias("commit_offset"),
            F.max("commit_ts_sec").alias("commit_ts_sec"),
        )
    )


def compact(spark: SparkSession, log_dir: str) -> None:
    """Bound the log's read cost without stopping writers: compute the
    per-key maxima over a FIXED set of input files, APPEND them as one
    compacted file, then delete exactly the inputs that were read.

    A micro-batch append racing the compaction lands as a new file that
    is neither read nor deleted — the compacting read (per-key max)
    absorbs it, so committed offsets never regress. (A directory-level
    ``overwrite`` here would delete racing appends — the bug class this
    explicitly avoids.) Offsets are monotone per key, so max over
    (compacted row ∪ survivors) equals max over the full history.

    File enumeration and deletion go through the Hadoop FileSystem API
    resolved from ``log_dir``'s scheme, so the same code compacts
    local, HDFS, and S3A logs. Concurrent COMPACTORS are also safe: if
    a rival deletes our inputs between listing and reading, the read
    fails mid-job — we give up this cycle (the rival's compacted row
    carries the same maxima) and the next invocation retries.
    """
    jvm = spark._jvm
    hadoop_conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(log_dir)
    fs = root.getFileSystem(hadoop_conf)
    if not fs.exists(root):
        return
    inputs = sorted(
        str(st.getPath())
        for st in fs.listStatus(root)
        if st.isFile() and st.getPath().getName().endswith(".parquet")
    )
    if len(inputs) <= 1:
        return  # nothing to fold
    try:
        # the read can fail as early as schema resolution (plan time)
        # if a rival compactor deleted our inputs after the listing, so
        # the guard covers read construction AND the write action
        snap = (
            spark.read.parquet(*inputs)
            .groupBy("topic", "partition")
            .agg(
                F.max("commit_offset").alias("commit_offset"),
                F.max("commit_ts_sec").alias("commit_ts_sec"),
            )
            .withColumn("batch_id", F.lit(-1))
        )
        snap.coalesce(1).write.mode("append").parquet(log_dir)
    except Exception as e:  # noqa: BLE001 — filtered to missing-input below
        msg = str(e)
        if "FileNotFound" in msg or "does not exist" in msg or "PATH_NOT_FOUND" in msg:
            return  # racing compactor consumed our inputs; retry next cycle
        raise
    for f in inputs:
        try:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
        except Exception:  # noqa: BLE001
            pass  # another compactor got it first — harmless


def fetch_offset(spark: SparkSession, log_dir: str, topic: str, partition: int) -> int | None:
    """ZookeeperCheckpointManager.fetchOffset analog (:114-130)."""
    rows = (
        current_offsets(spark, log_dir)
        .filter((F.col("topic") == topic) & (F.col("partition") == partition))
        .collect()
    )
    return int(rows[0].commit_offset) if rows else None
