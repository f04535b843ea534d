"""ReplicationJob — the reference's WorkerInstance as ONE Structured
Streaming query (SURVEY.md §3.1, component map §7).

Reference lifecycle collapsed:
  WorkerInstance.start (WorkerInstance.java:100-139)   → job.start()
  Fetcher/Producer thread pipeline + bounded queues    → micro-batch
    execution (built-in backpressure, T5)
  DefaultMessageTransformer                             → replicate_transform
  ZookeeperCheckpointManager commit-after-flush (T1)   → batches.start's
    checkpoint: offset WAL + commit log per micro-batch (at-least-once)
  offset.commit.interval.ms (T3)                        → trigger interval
  RateLimiter (T4)                                      → maxOffsetsPerTrigger
    (kafka); files: maxBytesPerTrigger of one task wave
    (maxPartitionBytes × defaultParallelism) unless the route sets an
    explicit maxFilesPerTrigger
  bounded replication (T10, WorkerInstance.java:189-206)→ batch read with
    ending offsets

Source kinds:
  * ``kafka``  — production path (needs the Kafka connector jar).
  * ``files``  — parquet-dir stream of Kafka-record-shaped rows; used
    by tests and by any replay-from-archive deployment. Same schema,
    same transform, same checkpoint semantics.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ureplicator_spark.operators.replicate import bounded_filter, replicate_with_tables
from ureplicator_spark.session import tune
from ureplicator_spark.sources import kafka as K
from ureplicator_spark.streaming import batches


@dataclass
class Route:
    """Federation route '@src@dst@routeId' (ControllerHelixManager)."""

    src_cluster: str
    dst_cluster: str
    route_id: int = 0
    topic_mapping: dict[str, str] = field(default_factory=dict)
    partition_counts: dict[str, int] = field(default_factory=dict)
    max_records_per_trigger: int | None = None  # T4 rate limit (kafka source)
    # T4/T5 analog for the files source: None = one task wave of bytes
    # per trigger; an explicit file count overrides it
    max_files_per_trigger: int | None = None
    trigger_interval: str | None = None  # T3 commit cadence

    @property
    def name(self) -> str:
        return f"@{self.src_cluster}@{self.dst_cluster}@{self.route_id}"


class ReplicationJob:
    """One route = one streaming query (the Spark-first WorkerInstance)."""

    def __init__(
        self,
        spark: SparkSession,
        route: Route,
        checkpoint_dir: str,
        source_kind: str = "files",
        source_path: str | None = None,
        bootstrap_servers: str | None = None,
        topics: list[str] | None = None,
        transform=None,
    ) -> None:
        """``transform``: optional DataFrame→DataFrame callable REPLACING
        the default replicate transform — the IMessageTransformer hook
        (P5, uReplicator-Worker/.../interfaces/IMessageTransformer.java;
        WorkerInstance.createMessageTransformer override point,
        WorkerInstance.java:141-143). Declarative (Column-expression)
        callables stay entirely inside Catalyst."""
        self.spark = tune(spark)
        self.route = route
        self.checkpoint_dir = checkpoint_dir
        self.source_kind = source_kind
        self.source_path = source_path
        self.bootstrap_servers = bootstrap_servers
        self.topics = topics
        self.transform = transform
        self.query: StreamingQuery | None = None
        self.control = None  # live ControlDoc when started via start_dynamic
        self.dynamic_sink = None

    # -- source ------------------------------------------------------------
    @staticmethod
    def _kafka_view(df: DataFrame) -> DataFrame:
        """Kafka wire schema → engine record view (ts seconds + size)."""
        return df.select(
            "topic",
            "partition",
            "offset",
            F.col("timestamp").cast("long").alias("ts_sec"),
            F.octet_length("value").alias("value_size"),
            "key",
            "value",
        )

    def _source(self) -> DataFrame:
        if self.source_kind == "kafka":
            opts = K.source_options(
                self.bootstrap_servers or "",
                topics=self.topics,
                max_offsets_per_trigger=self.route.max_records_per_trigger,
            )
            df = self.spark.readStream.format("kafka").options(**opts).load()
            return self._kafka_view(df)
        if self.source_kind == "files":
            static = self.spark.read.parquet(self.source_path)
            # T4/T5: per-trigger intake bound (file-source analog of
            # maxOffsetsPerTrigger; RateLimiter.acquire,
            # ConsumerFetcherThread.java:144-146). By default a trigger
            # admits one task wave of bytes: the most a batch can hold
            # and still scan as one split per core, so a backlog pays
            # the per-batch planning and commit cost once per wave, not
            # once per few files. Spark always admits at least one file
            # and rejects both options together.
            if self.route.max_files_per_trigger is not None:
                key, bound = "maxFilesPerTrigger", self.route.max_files_per_trigger
            else:
                conf = self.spark._jsparkSession.sessionState().conf()
                key = "maxBytesPerTrigger"
                bound = (
                    conf.filesMaxPartitionBytes()
                    * self.spark.sparkContext.defaultParallelism
                )
            return (
                self.spark.readStream.schema(static.schema)
                .option(key, str(bound))
                .parquet(self.source_path)
            )
        raise ValueError(f"unknown source kind {self.source_kind!r}")

    # -- transform ---------------------------------------------------------
    def _transform(self, df: DataFrame) -> DataFrame:
        if self.transform is not None:  # P5 pluggable transformer
            return self.transform(df)
        return replicate_with_tables(
            df, self.route.topic_mapping, self.route.partition_counts
        )

    # -- sinks -------------------------------------------------------------
    def _start(
        self, writer, name_suffix: str, available_now: bool = False
    ) -> StreamingQuery:
        self.query = batches.start(
            writer,
            self.checkpoint_dir,
            self.route.name + name_suffix,
            available_now,
            self.route.trigger_interval,
        )
        return self.query

    def start(self, out_path: str, available_now: bool = False) -> StreamingQuery:
        """Streaming replication to a parquet sink (tests/archive) —
        checkpointed, at-least-once, per-micro-batch commit (T1/T3)."""
        out = self._transform(self._source())
        writer = out.writeStream.format("parquet").option("path", out_path)
        return self._start(writer, "", available_now)

    def start_dynamic(
        self, out_path: str, control, available_now: bool = False
    ) -> StreamingQuery:
        """Streaming replication under a LIVE control document — rate,
        blacklist, topic-mapping and partition-count changes apply at
        the next micro-batch with no restart (T4 live rate,
        RateLimiterResource.java:41-62; T9 non-stop topology,
        ConsumerFetcherThread.java:183-206; see
        ``streaming/dynamic.py``). The replicate transform runs
        BATCH-side in the sink (rebuilt from the doc per batch) rather
        than once in the streaming plan — that is what makes the
        topology live. ``control`` is a ``dynamic.ControlDoc``; the
        per-batch decision log is ``job.dynamic_sink.log``."""
        from ureplicator_spark.streaming.dynamic import DynamicSink

        self.control = control
        self.dynamic_sink = DynamicSink(
            control, out_path, route=self.route, transform=self.transform
        )
        writer = self._source().writeStream.foreachBatch(self.dynamic_sink)
        return self._start(writer, "-dynamic", available_now)

    def start_archive(self, root: str, available_now: bool = False) -> StreamingQuery:
        """Streaming replication into the partitioned record archive
        (``sources/archive.py`` layout: topic=<dst>/dt=<day>/) — the
        retention-independent replay store.

        Deliberately ``foreachBatch`` + plain batch appends, NOT the
        native streaming file sink: the file sink's ``_spark_metadata``
        manifest is the reader's source of truth, so any external
        rewrite (``compact_archive``) breaks every subsequent read
        with FileNotFound. A manifest-free directory keeps the archive
        compactable and readable by any engine; delivery downgrades
        from exactly-once to at-least-once per micro-batch — the SAME
        guarantee the reference offers end-to-end (T1: commit after
        flush, ProducerThread.java:172-188), and replays are idempotent
        downstream because records carry (topic, partition, offset)."""
        out = self._transform(self._source()).select(
            F.col("dst_topic").alias("topic"),
            F.col("dst_partition").alias("partition"),
            "offset",
            "ts_sec",
            "value_size",
            "value",
            "props",
            F.to_date(F.timestamp_seconds("ts_sec")).alias("dt"),
        )

        def _append(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode("append").partitionBy("topic", "dt").parquet(root)

        writer = out.writeStream.foreachBatch(_append)
        return self._start(writer, "-archive", available_now)

    def start_archive_effectively_once(
        self, root: str, available_now: bool = False
    ) -> StreamingQuery:
        """Streaming archive landing with EFFECTIVELY-ONCE results:
        at-least-once micro-batches (same checkpoint discipline as
        ``start_archive``) composed with the idempotent key upsert
        (``sources/archive.upsert_archive``), so a replayed batch
        REPLACES its rows by (topic, partition, offset) identity
        instead of appending duplicates. The reference stops at
        at-least-once and leaves dedup to consumers
        (ZookeeperCheckpointManager.java:43-45 class doc); here the
        record identity the log already carries makes the sink itself
        converge.

        Costs more than blind append (each batch reads the touched
        topic/day partitions back for the anti-join), which is why
        both sinks exist: high-throughput append + downstream dedup,
        or converge-at-the-sink for consumers that must never see a
        duplicate. Batches touch few (topic, dt) partitions, so the
        rewrite is partition-scoped, never archive-wide.

        The ``partition`` column is the SOURCE partition — the record
        identity the reference's log guarantees unique with offset.
        The destination partition (``p % dstCount``) is non-unique
        across source partitions (and null for round-robin topics),
        so it cannot key an upsert; it stays derivable from the
        route's partition counts."""
        from ureplicator_spark.sources.archive import upsert_archive, write_archive

        out = self._transform(self._source()).select(
            F.col("dst_topic").alias("topic"),
            F.col("partition"),
            "offset",
            "ts_sec",
            "value_size",
            "value",
            "props",
        )

        # on_nonempty: an empty micro-batch (normal before data arrives)
        # must write NOTHING — write_archive(empty) would leave a
        # _SUCCESS-only root that every later parquet read crashes on
        # (UNABLE_TO_INFER_SCHEMA), wedging the stream forever.
        def _upsert(spark, batch_df: DataFrame, _batch_id: int) -> None:
            jvm = spark.sparkContext._jvm
            conf = spark.sparkContext._jsc.hadoopConfiguration()
            Path = jvm.org.apache.hadoop.fs.Path  # noqa: N806
            fs = Path(root).getFileSystem(conf)
            # "exists" means HOLDS DATA — a schema-less root (crashed
            # first write, purged archive) counts as absent.
            has_data = fs.exists(Path(root)) and len(
                fs.globStatus(Path(f"{root}/topic=*"))
            ) > 0
            if has_data:
                upsert_archive(spark, root, batch_df)
            else:
                write_archive(batch_df, root)

        writer = out.writeStream.foreachBatch(batches.on_nonempty(_upsert))
        return self._start(writer, "-archive-once", available_now)

    def start_kafka(self, preserve_order: bool = True) -> StreamingQuery:
        """Streaming replication into the destination Kafka cluster with
        the reference's ordering contract (T2).

        The sink projection tolerates key-less sources (file archives
        replayed into Kafka have no key column) and coerces non-Kafka
        value types to string; real Kafka sources pass binary through
        untouched."""
        out = self._transform(self._source())
        key_col = (
            F.col("key")
            if "key" in out.columns
            else F.lit(None).cast("binary").alias("key")
        )
        value_type = out.schema["value"].dataType.simpleString()
        value_col = (
            F.col("value")
            if value_type in ("string", "binary")
            else F.col("value").cast("string").alias("value")
        )
        out = out.select(
            F.col("dst_topic").alias("topic"),
            F.col("dst_partition").alias("partition"),
            key_col,
            value_col,
        )
        writer = out.writeStream.format("kafka").options(
            **K.sink_options(self.bootstrap_servers or "", preserve_order)
        )
        return self._start(writer, "")

    # -- bounded mode (T10) -------------------------------------------------
    def run_bounded(
        self,
        out_path: str,
        start_offset: int | None = None,
        end_offset: int | None = None,
    ) -> int:
        """Bounded [start, end) replication as a batch job
        (PartitionOffsetInfo semantics); returns records written.

        The count comes from an ``Observation`` on the written DataFrame
        — exactly this batch's rows, measured inside the write job (no
        second pass, and no over-count from prior appends in
        ``out_path``)."""
        from pyspark.sql import Observation

        if self.source_kind == "files":
            src = self.spark.read.parquet(self.source_path)
        else:
            src = self._kafka_view(
                self.spark.read.format("kafka")
                .options(
                    **K.source_options(self.bootstrap_servers or "", topics=self.topics)
                )
                .load()
            )
        out = self._transform(bounded_filter(src, start_offset, end_offset))
        obs = Observation()
        out = out.observe(obs, F.count(F.lit(1)).alias("n_written"))
        out.write.mode("append").parquet(out_path)
        return int(obs.get["n_written"])


class RouteRegistry:
    """Manager-level route table (§3.3): route → running query, plus a
    DataFrame view for the control-plane queries. Every change to the
    table and every pass over it holds ``lock``; stopping a removed
    route's query, which can take seconds, does not."""

    def __init__(self, spark: SparkSession, lock=None) -> None:
        self.spark = spark
        self.jobs: dict[str, ReplicationJob] = {}
        self.lock = lock if lock is not None else threading.RLock()

    def add(self, job: ReplicationJob) -> None:
        with self.lock:
            self.jobs[job.route.name] = job

    def remove(self, name: str) -> ReplicationJob | None:
        """Drop route ``name`` and stop its query; the dropped job, or
        ``None`` if there was none."""
        with self.lock:
            job = self.jobs.pop(name, None)
        if job and job.query and job.query.isActive:
            job.query.stop()
        return job

    def snapshot(self) -> dict[str, ReplicationJob]:
        with self.lock:
            return dict(self.jobs)

    def to_df(self) -> DataFrame:
        rows = [
            (
                j.route.name,
                j.route.src_cluster,
                j.route.dst_cluster,
                j.route.route_id,
                bool(j.query and j.query.isActive),
            )
            for j in self.snapshot().values()
        ] or [("", "", "", 0, False)]
        return self.spark.createDataFrame(
            rows, "route string, src string, dst string, route_id int, active boolean"
        )
