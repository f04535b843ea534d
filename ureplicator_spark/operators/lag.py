"""Offset / lag / no-progress analytics (OffsetMonitor).

Reference semantics:
  * J2 latest ⋈ committed per partition  (OffsetMonitor.java:276-292)
  * A1 lag = max(0, latest − commit)     (OffsetMonitor.java:391-400)
  * A2 no-progress: commit offset unchanged between two monitor ticks
    while lag > 0; stuck once stagnation exceeds MIN_NO_PROGRESS_TIME_MS
    (OffsetMonitor.java:78, 293-307, 458-474)
  * A3 lagTime = lag / max(1, msgsPerSecond)
    (HelixMirrorMakerManager.java:398-420)

Scale notes: a lag read is one scan of the log. The latest offset and
the commit at each snapshot are maxima over the same (topic, partition)
group — the commit over the rows at or before its snapshot — so one
aggregation computes all of them: one map-side partial aggregate, one
shuffle on (topic, partition), no join. Cardinality is #partitions, not
#records, so the answer stays small; the cost of a read is that one
pass over the log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ureplicator_spark.functions import clamp_lag, round6f


def committed_offsets(records: DataFrame, as_of_sec: int) -> DataFrame:
    """Checkpoint snapshot: highest offset consumed by time ``as_of_sec``.

    Stand-in for the ZK store read (ZookeeperCheckpointManager.java:114-130);
    partitions with no commit are absent (fetchOffset = -1 semantics).
    """
    return (
        records.filter(F.col("ts_sec") <= as_of_sec)
        .groupBy("topic", "partition")
        .agg(F.max("offset").alias("commit_offset"))
    )


def latest_offsets(records: DataFrame) -> DataFrame:
    """Broker end-offsets (OffsetMonitor.java:340-356)."""
    return records.groupBy("topic", "partition").agg(
        F.max("offset").alias("latest_offset")
    )


def snapshot_offsets(records: DataFrame, **commits: int) -> DataFrame:
    """Latest offset per partition plus, per ``name=as_of_sec``, the
    commit snapshot at ``as_of_sec`` as column ``name``, in one
    aggregation.

    A commit is NULL where no record is at or before its snapshot, and
    for a group whose topic or partition is NULL: the joins this
    replaces never match a NULL key, so such a group never had one.
    """
    keyed = F.col("topic").isNotNull() & F.col("partition").isNotNull()
    return records.groupBy("topic", "partition").agg(
        F.max("offset").alias("latest_offset"),
        *(
            F.when(keyed, F.max(F.when(F.col("ts_sec") <= as_of, F.col("offset")))).alias(name)
            for name, as_of in commits.items()
        ),
    )


def consumer_lag(records: DataFrame, as_of_sec: int) -> DataFrame:
    """J2 + A1: latest offset against the commit at ``as_of_sec`` and
    the clamped lag; missing commit → -1."""
    commit = F.col("commit_offset")
    return snapshot_offsets(records, commit_offset=as_of_sec).select(
        "topic",
        "partition",
        "latest_offset",
        F.coalesce(commit, F.lit(-1).cast("long")).alias("commit_offset"),
        clamp_lag(
            F.col("latest_offset"),
            F.greatest(F.coalesce(commit, F.lit(0).cast("long")), F.lit(0).cast("long")),
        ).alias("lag"),
    )


def no_progress(
    records: DataFrame,
    t1_sec: int,
    t2_sec: int,
    c1: DataFrame | None = None,
    c2: DataFrame | None = None,
) -> DataFrame:
    """A2: partitions whose commit is unchanged from t1→t2 with lag > 0.

    ``c1``/``c2`` override the derived snapshots (both with columns
    topic, partition, commit_offset) — the monitor compares whatever
    the checkpoint store reports, not necessarily what the log implies.
    Without them the read is one aggregation (``snapshot_offsets``).
    """
    snap = snapshot_offsets(records, commit_t1=t1_sec, commit_t2=t2_sec)
    for name, override in (("commit_t1", c1), ("commit_t2", c2)):
        if override is not None:
            snap = snap.drop(name).join(
                override.withColumnRenamed("commit_offset", name), ["topic", "partition"], "left"
            )
    lag = clamp_lag("latest_offset", F.coalesce("commit_t2", F.lit(0).cast("long")))
    return snap.withColumn("lag", lag).filter(
        F.col("commit_t1").isNotNull()
        & (F.col("commit_t1") == F.col("commit_t2"))
        & (F.col("lag") > 0)
    ).select("topic", "partition", "commit_t2", "lag")


def lag_time(lag_df: DataFrame, workload_df: DataFrame) -> DataFrame:
    """A3: estimated seconds of lag = lag / max(1, msgs_per_sec)."""
    j = lag_df.join(workload_df.select("topic", "partition", "msgs_per_sec"),
                    ["topic", "partition"], "left")
    return j.select(
        "topic",
        "partition",
        "lag",
        round6f(
            F.col("lag").cast("double")
            / F.greatest(F.lit(1.0), F.coalesce("msgs_per_sec", F.lit(0.0))),
            4,
        ).alias("lag_time_sec"),
    )
