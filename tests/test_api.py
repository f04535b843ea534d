"""Engine facade tests — the REST-surface semantics (SURVEY §2.10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ureplicator_spark import fixtures as FX
from ureplicator_spark.api import Engine
from ureplicator_spark.operators import workload as WKL
from ureplicator_spark.operators.sketch import hdr_quantiles, hdr_registers
from ureplicator_spark.sources.kafka import (
    sink_options,
    source_options,
    starting_offsets_json,
)


@pytest.fixture()
def engine(spark, sf_dir):
    return Engine(spark, FX.records(spark, sf_dir))


def test_topic_management(engine):
    engine.add_topic("click", dst_topic="click_mirror", partitions=4)
    engine.add_topic("view")
    engine.expand_topic("view", 8)
    assert engine.topics().filter(F.col("topic") == "view").collect()[0].partitions == 8
    engine.delete_topic("view")
    assert engine.topics().filter(F.col("topic") == "view").count() == 0
    with pytest.raises(KeyError):
        engine.expand_topic("nope", 2)


def test_lag_and_offsets(engine):
    lag = engine.offsets(FX.SNAPSHOT_T1)
    row = lag.filter((F.col("topic") == "click") & (F.col("partition") == 0)).collect()[0]
    assert row.lag >= 0 and row.latest_offset >= row.commit_offset


def test_no_progress_and_validation(engine):
    np_df = engine.no_progress(FX.SNAPSHOT_T1, FX.SNAPSHOT_T2)
    assert np_df.filter(F.col("lag") <= 0).count() == 0
    states = {r.state for r in engine.validate().collect()}
    assert states <= {"ONLINE", "OFFLINE", "ERROR"} and "ONLINE" in states


def test_workload_and_sizing(engine):
    assert engine.expected_workers().collect()[0].expected_workers >= 1
    load = WKL.instance_load(WKL.partition_workload(engine.log), FX.N_INSTANCES)
    assert load.count() == FX.N_INSTANCES


def test_blacklist_and_whitelist(engine, spark):
    engine.add_topic("click")
    engine.blacklist_add("purchase")
    cands = {
        r.topic
        for r in engine.whitelist_candidates(FX.dst_topics(spark)).collect()
    }
    assert "purchase" not in cands  # blacklisted
    assert "click" not in cands  # already whitelisted
    assert "signup" in cands and "view" in cands


def test_health(engine):
    h = engine.health()
    assert h["status"] == "OK" and h["n_routes"] == 0


def test_kafka_option_builders():
    opts = source_options(
        "b:9092",
        assign={"click": [0, 1]},
        starting_offsets={"click": {"0": 100, "1": 200}},
        ending_offsets={"click": {"0": 500, "1": 600}},
        max_offsets_per_trigger=10000,
    )
    assert opts["assign"] == '{"click": [0, 1]}'
    assert opts["maxOffsetsPerTrigger"] == "10000"
    with pytest.raises(ValueError):
        source_options("b:9092")  # no selector
    with pytest.raises(ValueError):
        source_options("b:9092", topics=["a"], pattern=".*")  # two selectors

    sink = sink_options("b:9092")
    # the reference's ordering contract (ProducerThread.java:84-88)
    assert sink["kafka.max.in.flight.requests.per.connection"] == "1"
    assert sink["kafka.acks"] == "all"

    j = starting_offsets_json({("t", 0): 5, ("t", 1): 7, ("u", 0): 0})
    assert j == '{"t": {"0": 5, "1": 7}, "u": {"0": 0}}'


def test_backup_archive_percentiles(engine, tmp_path):
    paths = engine.backup(str(tmp_path), "20260813")
    assert len(paths) == 2
    assert engine.restore(str(tmp_path), "assignments", "20260813").count() > 0

    root = str(tmp_path / "arch")
    engine.archive(root)
    replayed = engine.replay(root, topic="click")
    assert replayed.count() > 0
    assert replayed.select("topic").distinct().collect()[0][0] == "click"

    regs = hdr_registers(engine.log, "value_size", ["topic"])
    pct = hdr_quantiles(regs, ["topic"], percentiles=(50, 95, 99, 100)).collect()
    # HDR-sketch reads: monotone by construction; the top-bucket hi
    # bound dominates every estimate.
    assert pct and all(r.p50_est <= r.p95_est <= r.p99_est <= r.p100_est for r in pct)


def test_log_derived_observer_matches_inventory(spark, sf_dir):
    """S9/S10: the default observer serves the same inventory the
    topic_inventory query reports (topics + observed partition counts)."""
    from ureplicator_spark import fixtures as FX
    from ureplicator_spark.sources.observers import LogDerivedTopicObserver

    rec = FX.records(spark, sf_dir)
    obs = LogDerivedTopicObserver(rec)
    want = {
        r["topic"]: r["n"]
        for r in rec.groupBy("topic")
        .agg((F.max("partition") + 1).cast("int").alias("n"))
        .collect()
    }
    assert obs.topics() == sorted(want)
    assert obs.partition_counts() == want


def test_admin_observer_caches_and_refreshes():
    """S9/S10 live path: reads serve from the cached snapshot inside
    refresh_sec (one list per window, KafkaBrokerTopicObserver's
    scheduled-refresh semantics) and re-list after expiry or on an
    explicit refresh(). Driven by an injected fake client — no broker
    in the sandbox (the real KafkaAdminClient path needs kafka-python
    and a reachable cluster)."""
    from ureplicator_spark.sources.observers import KafkaAdminTopicObserver

    calls = {"n": 0}
    inventory = {"click": 4, "view": 2}

    class FakeAdmin:
        def list_topics(self):
            calls["n"] += 1
            return list(inventory)

        def describe_topics(self, names):
            return [
                {"topic": t, "partitions": [{}] * inventory[t]} for t in names
            ]

    obs = KafkaAdminTopicObserver(
        "broker:9092", refresh_sec=3600, client_factory=FakeAdmin
    )
    assert obs.topics() == ["click", "view"]
    assert obs.partition_counts() == {"click": 4, "view": 2}
    assert calls["n"] == 1  # both reads served from one cached list

    inventory["purchase"] = 8
    assert "purchase" not in obs.topics()  # still cached
    obs.refresh()
    assert obs.partition_counts()["purchase"] == 8
    assert calls["n"] == 2


def test_admin_observer_without_dependency_raises_clearly():
    from ureplicator_spark.sources.observers import KafkaAdminTopicObserver

    try:
        import kafka.admin  # noqa: F401

        pytest.skip("kafka-python available; error path not reachable")
    except ImportError:
        pass
    with pytest.raises(ImportError, match="kafka-python"):
        KafkaAdminTopicObserver("broker:9092")


@pytest.mark.slow
def test_cache_hygiene_bounded_across_invocations(spark, sf_dir):
    """Service-mode cache growth must be bounded: repeated REST-style
    invocations of a cache-pinning query (the prefix join persists its
    shingle view) must not accumulate persisted RDDs — the per-result
    pin release in Engine.collect_query must return the block store to
    its pre-call population every time (VERDICT r5 item #4; ownership
    model per the r6 advisor's thread-safety finding)."""
    eng = Engine(spark, FX.records(spark, sf_dir), analytics_dir=sf_dir)
    baseline = len(eng._pinned_rdds())
    # a distinct limit per call: each one misses the stored answers and
    # runs (and releases) the query again
    for limit in (10, 11, 12):
        rows = eng.collect_query("dedup_jaccard_prefix_join", limit=limit)
        assert isinstance(rows, list)
        assert len(eng._pinned_rdds()) == baseline
    assert eng.health()["answers"]["misses"] == 3
    rows = eng.collect_sql("SELECT count(*) AS n FROM documents", limit=10)
    assert rows[0]["n"] > 0
    assert len(eng._pinned_rdds()) == baseline
