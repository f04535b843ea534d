"""Live control-plane tests (streaming/dynamic.py): rate changes and
blacklist edits apply to a RUNNING query at the next micro-batch, and
a topic that did not exist at query start flows through — all with the
same runId (no restart). Mirrors the reference's live RateLimiter swap
(RateLimiterResource.java:41-62) and non-stop partition reconciliation
(ConsumerFetcherThread.java:183-206).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ureplicator_spark import fixtures as FX
from ureplicator_spark.streaming.dynamic import ControlDoc
from ureplicator_spark.streaming.replication import ReplicationJob, Route


def _route(max_files: int = 100) -> Route:
    return Route(
        src_cluster="sjc1",
        dst_cluster="dca1",
        route_id=7,
        topic_mapping=dict(FX.TOPIC_MAPPING_ROWS),
        partition_counts=dict(FX.PARTITION_COUNT_ROWS),
        max_files_per_trigger=max_files,
    )


@pytest.fixture()
def dyn(spark, sf_dir, tmp_path):
    """A running dynamic-controlled stream over a file source, plus the
    handles the tests poke: (job, query, control, src_dir, out_dir)."""
    src = str(tmp_path / "records")
    FX.records(spark, sf_dir).limit(400).coalesce(1).write.parquet(src)
    control = ControlDoc(str(tmp_path / "control.json"))
    job = ReplicationJob(
        spark,
        _route(),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_kind="files",
        source_path=src,
    )
    out = str(tmp_path / "out")
    q = job.start_dynamic(out, control)
    try:
        yield job, q, control, src, out
    finally:
        q.stop()


def _feed(spark, sf_dir, src, n: int, topic: str | None = None):
    """Append one more file of n records (optionally a single topic)."""
    df = FX.records(spark, sf_dir)
    if topic is not None:
        df = df.withColumn("topic", F.lit(topic))
    df.limit(n).coalesce(1).write.mode("append").parquet(src)


def test_live_rate_change_no_restart(spark, sf_dir, dyn):
    """PUT-a-new-rate semantics: unlimited → throttled at the NEXT
    batch, not at restart. The sink's decision log pins the applied
    rate and computed sleep per batch (no wall-clock racing)."""
    job, q, control, src, _out = dyn
    q.processAllAvailable()
    n0 = len(job.dynamic_sink.log)
    assert n0 >= 1
    assert all(
        b["rate"] is None and b["slept_sec"] == 0.0 for b in job.dynamic_sink.log
    )
    run_id = q.runId

    control.set_rate(2000)  # 400-record batch → ~0.2 s token-bucket sleep
    _feed(spark, sf_dir, src, 400)
    q.processAllAvailable()
    new = job.dynamic_sink.log[n0:]
    assert sum(b["rows_written"] for b in new) == 400
    assert all(b["rate"] == 2000 for b in new)
    assert sum(b["slept_sec"] for b in new) >= 400 / 2000 * 0.9
    assert q.runId == run_id and q.isActive  # never restarted

    control.set_rate(None)  # back to unlimited, again without restart
    _feed(spark, sf_dir, src, 100)
    q.processAllAvailable()
    last = job.dynamic_sink.log[-1]
    assert last["rate"] is None and last["slept_sec"] == 0.0
    assert q.runId == run_id


def test_live_blacklist_topic_remove(spark, sf_dir, dyn):
    """Topic REMOVE without stopping the query: blacklisted source
    topics vanish from batches after the edit; earlier output stays."""
    job, q, control, src, out = dyn
    q.processAllAvailable()
    before = spark.read.parquet(out)
    n_click_before = before.filter(F.col("topic") == "click").count()
    assert n_click_before > 0
    run_id = q.runId

    control.set_blacklist(["click"])
    _feed(spark, sf_dir, src, 300)
    q.processAllAvailable()
    after = spark.read.parquet(out)
    # no NEW click rows landed; other topics kept flowing
    assert after.filter(F.col("topic") == "click").count() == n_click_before
    assert after.count() > before.count()
    dropped = [b for b in job.dynamic_sink.log if b["blacklist"] == ["click"]]
    assert dropped and any(b["rows_in"] > b["rows_written"] for b in dropped)
    assert q.runId == run_id and q.isActive

    control.set_blacklist([])  # un-blacklist: next batches include it again
    _feed(spark, sf_dir, src, 300)
    q.processAllAvailable()
    assert (
        spark.read.parquet(out).filter(F.col("topic") == "click").count()
        > n_click_before
    )
    assert q.runId == run_id


def test_topic_add_without_restart(spark, sf_dir, dyn):
    """Topic ADD while running: records for a topic unknown at query
    start are discovered and replicated (P1 coalesce keeps the name),
    same runId throughout — the reference's non-stop reconciliation."""
    job, q, control, src, out = dyn
    q.processAllAvailable()
    run_id = q.runId
    assert spark.read.parquet(out).filter(F.col("topic") == "brand_new").count() == 0

    _feed(spark, sf_dir, src, 120, topic="brand_new")
    q.processAllAvailable()
    landed = spark.read.parquet(out).filter(F.col("topic") == "brand_new")
    assert landed.count() == 120
    # unmapped topic keeps its name (getOrDefault contract)
    assert landed.filter(F.col("dst_topic") == "brand_new").count() == 120
    assert q.runId == run_id and q.isActive


def test_live_topic_remap_and_expand(spark, sf_dir, dyn):
    """Runtime topology change WITHOUT restart: a new rename target and
    a bigger partition count land in the next batch's broadcast dims —
    the reference's topic-expand reconciliation
    (ConsumerFetcherThread.java:183-206)."""
    job, q, control, src, out = dyn
    q.processAllAvailable()
    run_id = q.runId
    before = spark.read.parquet(out)
    assert before.filter(F.col("dst_topic") == "click_v2").count() == 0
    max_p_before = (
        before.filter(F.col("topic") == "click")
        .agg(F.max("dst_partition"))
        .collect()[0][0]
    )
    assert max_p_before < 3  # static route maps click -> 3 partitions

    # rename click -> click_v2 and expand to 16 partitions, live
    control.set_topics({"click": "click_v2"}, {"click_v2": 16})
    _feed(spark, sf_dir, src, 400)
    q.processAllAvailable()
    after = spark.read.parquet(out)
    new_click = after.filter(
        (F.col("topic") == "click") & (F.col("dst_topic") == "click_v2")
    )
    assert new_click.count() > 0
    assert new_click.agg(F.max("dst_partition")).collect()[0][0] > 2
    # pre-change rows are untouched history
    assert after.filter(F.col("dst_topic") == "click_mirror").count() == before.filter(
        F.col("dst_topic") == "click_mirror"
    ).count()
    assert q.runId == run_id and q.isActive
    assert job.dynamic_sink.log[-1]["live_topology"] is True


def test_engine_applies_rate_and_blacklist_live(spark, sf_dir, tmp_path):
    """Engine.set_rate / blacklist_add reach a running dynamic route's
    ControlDoc (the REST PUT /ratelimiter path) — applied_live_routes
    names it and the next batch obeys."""
    from ureplicator_spark.api import Engine

    src = str(tmp_path / "records")
    FX.records(spark, sf_dir).limit(200).coalesce(1).write.parquet(src)
    control = ControlDoc(str(tmp_path / "control.json"))
    job = ReplicationJob(
        spark,
        _route(),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_kind="files",
        source_path=src,
    )
    eng = Engine(spark)
    eng.add_route(job)
    out = str(tmp_path / "out")
    q = job.start_dynamic(out, control)
    try:
        q.processAllAvailable()
        resp = eng.set_rate(5000)
        assert resp["applied_live_routes"] == [job.route.name]
        assert resp["running_routes_pending_restart"] == []
        eng.blacklist_add("view")
        FX.records(spark, sf_dir).limit(200).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        last = job.dynamic_sink.log[-1]
        assert last["rate"] == 5000
        assert last["blacklist"] == ["view"]

        # PUT /topics path: expand reaches the running route live
        eng.add_topic("click", dst_topic="click_wide", partitions=12)
        FX.records(spark, sf_dir).limit(200).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        assert job.dynamic_sink.log[-1]["live_topology"] is True
        landed = spark.read.parquet(out).filter(
            F.col("dst_topic") == "click_wide"
        )
        assert landed.count() > 0
    finally:
        q.stop()


def test_dynamic_route_checkpoint_restart_no_duplicates(
    spark, sf_dir, tmp_path
):
    """A clean stop + restart from the same checkpoint must not
    re-append committed batches (the T1 at-least-once window is only
    crash-mid-batch, never a clean restart), and the control doc keeps
    governing the resumed query."""
    src = str(tmp_path / "records")
    FX.records(spark, sf_dir).limit(300).coalesce(1).write.parquet(src)
    control = ControlDoc(str(tmp_path / "control.json"))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    job1 = ReplicationJob(
        spark, _route(), checkpoint_dir=ckpt,
        source_kind="files", source_path=src,
    )
    q1 = job1.start_dynamic(out, control)
    q1.processAllAvailable()
    q1.stop()
    n1 = spark.read.parquet(out).count()
    assert n1 == 300

    # restart: same checkpoint, nothing new -> nothing re-emitted
    job2 = ReplicationJob(
        spark, _route(), checkpoint_dir=ckpt,
        source_kind="files", source_path=src,
    )
    q2 = job2.start_dynamic(out, control)
    try:
        q2.processAllAvailable()
        assert spark.read.parquet(out).count() == n1

        # the resumed query still reads the live doc
        control.set_blacklist(["click"])
        _feed(spark, sf_dir, src, 200)
        q2.processAllAvailable()
        after = spark.read.parquet(out)
        assert after.count() > n1
        assert job2.dynamic_sink.log[-1]["blacklist"] == ["click"]
        assert job2.dynamic_sink.log[-1]["rows_in"] > job2.dynamic_sink.log[-1][
            "rows_written"
        ]
    finally:
        q2.stop()


def test_rest_route_teardown(spark, sf_dir, tmp_path):
    """DELETE /routes/{name} stops the query and drops it from the
    registry; checkpoint state survives for a later resume."""
    import json as _json
    import urllib.parse
    import urllib.request

    from ureplicator_spark.api import Engine
    from ureplicator_spark.api_http import RestServer

    src = str(tmp_path / "records")
    FX.records(spark, sf_dir).limit(100).coalesce(1).write.parquet(src)
    control = ControlDoc(str(tmp_path / "control.json"))
    job = ReplicationJob(
        spark, _route(), checkpoint_dir=str(tmp_path / "ckpt"),
        source_kind="files", source_path=src,
    )
    eng = Engine(spark)
    eng.add_route(job)
    srv = RestServer(eng, port=0).start()
    q = job.start_dynamic(str(tmp_path / "out"), control)
    try:
        q.processAllAvailable()
        quoted = urllib.parse.quote(job.route.name)
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/routes/{quoted}", method="DELETE"
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
            assert _json.loads(resp.read())["removed"] == job.route.name
        assert not q.isActive  # stopped by the teardown
        assert job.route.name not in eng.routes.jobs
    finally:
        if q.isActive:
            q.stop()
        srv.stop()


def test_create_route_seeds_doc_in_fresh_checkpoint_dir(spark, sf_dir, tmp_path):
    """With no ``control_path`` the doc lives at
    ``<checkpoint_dir>/control.json``; seeding it before Spark creates
    the checkpoint dir works, and the route's doc holds the blacklist."""
    import json as _json

    from ureplicator_spark.api import Engine

    src = str(tmp_path / "records")
    FX.records(spark, sf_dir).limit(100).coalesce(1).write.parquet(src)
    ckpt = tmp_path / "fresh" / "ckpt"
    eng = Engine(spark)
    eng.blacklist_add("view")
    created = eng.create_route(
        "sjc1", "dca1", 3, source_path=src, checkpoint_dir=str(ckpt),
        out_path=str(tmp_path / "out"), available_now=True,
    )
    job = eng.routes.jobs[created["route"]]
    try:
        job.query.awaitTermination(120)
        assert job.query.exception() is None
        with open(ckpt / "control.json") as fh:
            assert _json.load(fh)["blacklist"] == ["view"]
        assert job.dynamic_sink.log[-1]["blacklist"] == ["view"]
    finally:
        eng.routes.remove(created["route"])


def test_batch_log_keeps_the_newest_entries(spark, tmp_path, monkeypatch):
    from ureplicator_spark.streaming import dynamic

    monkeypatch.setattr(dynamic, "LOG_CAP", 3)
    sink = dynamic.DynamicSink(
        ControlDoc(str(tmp_path / "control.json")), str(tmp_path / "out")
    )
    batch = spark.range(2)
    for batch_id in range(5):
        sink(batch, batch_id)
    assert [b["batch_id"] for b in sink.log] == [2, 3, 4]


def _batch_jobs(spark, q) -> set[int]:
    """Ids of the Spark jobs ``q`` has run, from the status store (the
    stream thread runs its jobs in a group named by the run id)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(str(q.runId)))


def test_one_batch_runs_at_most_two_spark_jobs(spark, sf_dir, dyn):
    """A non-empty batch of a dynamic route broadcasts one composed
    route lookup and writes: two Spark jobs, not one per route table."""
    job, q, control, src, _out = dyn
    control.set_blacklist(["view"])
    q.processAllAvailable()
    before, n0 = _batch_jobs(spark, q), len(job.dynamic_sink.log)
    _feed(spark, sf_dir, src, 300)
    q.processAllAvailable()
    new = job.dynamic_sink.log[n0:]
    assert len(new) == 1 and new[0]["rows_in"] == 300
    assert 1 <= len(_batch_jobs(spark, q) - before) <= 2


def _count(spark, path: str, cond=None) -> int:
    df = spark.read.parquet(path)
    return (df if cond is None else df.filter(cond)).count()


def test_rows_in_exceed_rows_written_under_blacklist_and_live_topics(
    spark, sf_dir, tmp_path
):
    """Engine route with a blacklist, then a live ``PUT /topics``: every
    batch counts its input and what it wrote, and over the route the
    counts are the source rows and the sink rows exactly."""
    from ureplicator_spark.api import Engine

    src, out = str(tmp_path / "records"), str(tmp_path / "out")
    FX.records(spark, sf_dir).limit(400).coalesce(1).write.parquet(src)
    eng = Engine(spark)
    eng.blacklist_add("click")
    created = eng.create_route(
        "sjc1", "dca1", 5, source_path=src, checkpoint_dir=str(tmp_path / "ckpt"),
        out_path=out,
    )
    job = eng.routes.jobs[created["route"]]
    try:
        job.query.processAllAvailable()
        eng.add_topic("view", dst_topic="view_wide", partitions=8)
        _feed(spark, sf_dir, src, 300)
        job.query.processAllAvailable()
        log = job.dynamic_sink.log
        assert log[-1]["live_topology"] and log[-1]["blacklist"] == ["click"]
        assert all(b["rows_in"] > b["rows_written"] for b in log if b["rows_in"])
        n_click = _count(spark, src, F.col("topic") == "click")
        assert sum(b["rows_in"] for b in log) == _count(spark, src) == 700
        assert sum(b["rows_written"] for b in log) == _count(spark, out) == 700 - n_click
        assert _count(spark, out, F.col("topic") == "click") == 0
        assert _count(spark, out, F.col("dst_topic") == "view_wide") > 0
    finally:
        eng.routes.remove(created["route"])


def test_p5_hook_sees_only_rows_the_blacklist_keeps(spark, sf_dir, tmp_path):
    """A P5 hook that drops and renames rows runs after the blacklist:
    a blacklisted topic never reaches it (so never lands under the
    hook's name), and ``rows_written`` counts the hook's output."""
    src, out = str(tmp_path / "records"), str(tmp_path / "out")
    FX.records(spark, sf_dir).limit(400).coalesce(1).write.parquet(src)
    control = ControlDoc(str(tmp_path / "control.json"))
    control.set_blacklist(["click"])

    def hook(df):
        return df.filter(F.col("partition") != 0).withColumn(
            "topic", F.concat(F.lit("h_"), F.col("topic"))
        )

    job = ReplicationJob(
        spark, _route(), checkpoint_dir=str(tmp_path / "ckpt"),
        source_kind="files", source_path=src, transform=hook,
    )
    q = job.start_dynamic(out, control, available_now=True)
    q.awaitTermination(120)
    assert q.exception() is None
    log = job.dynamic_sink.log
    kept = (F.col("topic") != "click") & (F.col("partition") != 0)
    assert sum(b["rows_in"] for b in log) == 400
    assert sum(b["rows_written"] for b in log) == _count(spark, src, kept)
    assert _count(spark, out) == _count(spark, src, kept) < 400
    assert _count(spark, out, F.col("topic") == "h_click") == 0


def test_kill_after_sink_write_replays_only_that_batch(
    spark, sf_dir, tmp_path, monkeypatch
):
    """T1 at-least-once under the engine's checkpoint manager: the
    handler dies after batch 1's sink write, before its commit; the
    route restarts from its checkpoint. Nothing is missing, and the
    only duplicates are batch 1's records, replayed once."""
    import glob
    import json

    from ureplicator_spark.session import CHECKPOINT_MANAGER, FILESYSTEM_CHECKPOINT_MANAGER
    from ureplicator_spark.streaming import dynamic

    assert spark.conf.get(CHECKPOINT_MANAGER) == FILESYSTEM_CHECKPOINT_MANAGER
    src, out = str(tmp_path / "records"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    recs = FX.records(spark, sf_dir).select("topic", "partition", "offset", "ts_sec")
    for i in range(3):  # one file, so one batch, per slice of offsets
        recs.filter(F.col("offset") % 3 == i).limit(150).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    original, failed = dynamic.DynamicSink.__call__, []

    def dies_after_write(self, batch_df, batch_id):
        original(self, batch_df, batch_id)
        if batch_id == 1 and not failed:
            failed.append(batch_id)
            raise RuntimeError("killed after the sink write")

    monkeypatch.setattr(dynamic.DynamicSink, "__call__", dies_after_write)
    control = ControlDoc(str(tmp_path / "control.json"))
    control.set_blacklist(["view"])
    for _ in range(2):  # the killed run, then the restart
        job = ReplicationJob(
            spark, _route(max_files=1), checkpoint_dir=ckpt,
            source_kind="files", source_path=src,
        )
        q = job.start_dynamic(out, control, available_now=True)
        try:
            q.awaitTermination(120)
        except Exception:
            pass
    assert failed == [1] and q.exception() is None

    batch_file = {}
    for path in glob.glob(f"{ckpt}/sources/0/*"):
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    batch_file[e["batchId"]] = e["path"]
    assert sorted(batch_file) == [0, 1, 2]

    key = ["topic", "partition", "offset"]
    expected = spark.read.parquet(src).filter(F.col("topic") != "view").select(key)
    got = spark.read.parquet(out).select(key)
    assert expected.subtract(got).count() == 0  # nothing missing
    dups = {tuple(r) for r in got.groupBy(key).count().filter("count > 1").select(key).collect()}
    batch1 = {
        tuple(r)
        for r in spark.read.parquet(batch_file[1]).filter(F.col("topic") != "view").select(key).collect()
    }
    assert dups == batch1 and batch1
    assert got.count() == expected.count() + len(batch1)
