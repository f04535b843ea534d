"""SparkSession construction and runtime tuning.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), adaptive broadcast selection, parquet filter pushdown and
column pruning left to Catalyst. On a real cluster the same code runs
unchanged; only ``master`` / executor sizing differ.

The engine's host sizing has one source, :func:`host_cpus`:
``$SPARK_GRAFT_CPUS`` when set, else the cores this process may run on.
It sizes the default ``local[...]`` master and the shuffle-partition
default.

File listing: under a ``local[...]`` master, :func:`tune` lists files
serially on the driver at any path count. Spark hands a listing of more
than ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
paths to a Spark job with one task per path. A file-stream micro-batch
re-lists every file it admits that way (``FileStreamSource.getBatch``),
and so does a batch read of many paths. Under a local master every such
task runs in the same JVM and pays a full Hadoop ``Configuration``
deserialization just to stat one local file, 15-20 ms of CPU per
file, where the serial path stats the same file in microseconds. On a
cluster the job can pay off against a remote store, so non-local
masters keep Spark's default, and an explicit user value always wins.

Checkpoint commits: under a ``local[...]`` master, and only while
``spark.sql.streaming.checkpointFileManagerClass`` is unset, :func:`tune`
sets it to Spark's ``FileSystemBasedCheckpointFileManager``. Spark's
default manager goes through Hadoop's ``FileContext``. On the local
filesystem without libhadoop, that forks a ``readlink`` process for
each link-status call a commit makes (``scripts/fork_probe.py`` counts 8
before a route's first micro-batch and 24 in each micro-batch), and
each such fork fails anyway, because Hadoop hands ``readlink`` a
``file:`` URI. On ``file:`` both managers keep the same
two-writer guard: a batch file is written to a temporary file and
renamed into place only if the destination does not exist yet, else
``FileAlreadyExistsException``. The FileContext rename
(``AbstractFileSystem.renameInternal``) makes that existence check and
then calls the same ``RawLocalFileSystem.rename`` the FileSystem
manager calls after its own check. On a cluster the store decides
which manager is atomic, so non-local masters keep Spark's default.
A second query started on the checkpoint of an active query is
refused (``spark.sql.streaming.stopActiveRunOnRestart`` false while
unset) instead of silently stopping the first, so two routes can never
take turns at one checkpoint's offsets.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs every entry point applies, so the engine
# behaves identically whether the session was built by us or handed to
# us (e.g. the verification driver builds its own).
_RUNTIME_CONFS = {
    # /root/testdata events.parquet stores TIMESTAMP(NANOS) which Spark
    # cannot represent natively; read as long (nanoseconds since epoch).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock math in queries (matches DuckDB's UTC).
    "spark.sql.session.timeZone": "UTC",
    # Runtime adaptivity: coalesce post-shuffle partitions, split skewed
    # joins — essential at 100 TB where static planning is wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}

CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FILESYSTEM_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
STOP_ACTIVE_RUN = "spark.sql.streaming.stopActiveRunOnRestart"


def host_cpus() -> int:
    """Cores the engine sizes for: ``$SPARK_GRAFT_CPUS`` when it is a
    number, else the cores in this process's affinity mask."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))


# Strong refs on purpose: pinning the handful of sessions a process
# creates is cheaper than risking an id() alias after GC (a new session
# reusing a dead one's id would silently skip tuning).
_TUNED: list[SparkSession] = []


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent).

    Skips sessions already tuned this process: each conf.set is a Py4J
    round-trip and tune() sits on every table-load path."""
    if any(s is spark for s in _TUNED):
        return spark
    _TUNED.append(spark)
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some envs
            pass
    try:
        # Spark's 200-partition default is wrong for local sessions and
        # can't be AQE-coalesced in stateful streaming stages (state
        # store partitioning is fixed at first checkpoint). Replace the
        # untouched default only — an explicit user setting wins.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(host_cpus()))
        # Driver-side listing under a local master (module docstring),
        # replacing the untouched default of 32 paths only. Int.MaxValue:
        # Spark compares the threshold against an Int path count.
        listing = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        local = spark.sparkContext.master.startswith("local")
        if local and spark.conf.get(listing) == "32":
            spark.conf.set(listing, "2147483647")
        # Fork-free checkpoint commits under a local master, and a
        # refused second writer (module docstring), while unset only.
        if local and spark.conf.get(CHECKPOINT_MANAGER, None) is None:
            spark.conf.set(CHECKPOINT_MANAGER, FILESYSTEM_CHECKPOINT_MANAGER)
        if spark.conf.get(STOP_ACTIVE_RUN, None) is None:
            spark.conf.set(STOP_ACTIVE_RUN, "false")
    except Exception:  # pragma: no cover
        pass
    return spark


def get_spark(
    app_name: str = "ureplicator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    ``local[host_cpus()]`` for tests/bench; on a cluster the master
    comes from spark-submit and this builder only sets SQL confs.
    """
    if master is None:
        master = f"local[{host_cpus()}]"
    if shuffle_partitions is None:
        shuffle_partitions = host_cpus()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        # local[...] puts every executor thread in the driver JVM: an
        # 8g heap showed multi-second GC stalls landing on random bench
        # queries (45-66s totals); 24g holds totals at ~32s on the same
        # workload. Cluster deployments size executors via spark-submit
        # and this default is inert there.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # Arrow for the few pandas-UDF paths (multimodal decode).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # STATIC conf (must be set before the JVM's first codegen; a
        # runtime set raises CANNOT_MODIFY_STATIC_CONFIG): the
        # generated-class cache defaults to 100 entries, so a
        # ~250-query session evicts every query's codegen between
        # visits and each revisit recompiles all its stages — the r9
        # "in-bench 1.3-1.5× session drift". Measured: interleaving 40
        # other queries between table_profile_approx reps costs
        # [8.8, 4.0, 3.3] s at the default vs [2.8, 2.8, 2.9] s at
        # 5000. A long-lived multi-tenant cluster wants the same
        # headroom; a few thousand compiled stages is tens of MB of
        # class metadata.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
