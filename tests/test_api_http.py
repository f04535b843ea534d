"""REST facade tests: the reference's user-facing query language
served over HTTP (ControllerRestApplication.java:40-72 analog),
driven end-to-end through a real socket with urllib."""

from __future__ import annotations

import json
import socket
import sys
import threading
import urllib.error
import urllib.parse
import urllib.request
from types import SimpleNamespace

import pytest

from ureplicator_spark import fixtures as FX
from ureplicator_spark.api import Engine
from ureplicator_spark.api_http import RestServer


@pytest.fixture()
def server(spark, sf_dir):
    eng = Engine(spark, FX.records(spark, sf_dir), analytics_dir=sf_dir)
    srv = RestServer(eng, port=0).start()
    yield srv
    srv.stop()


def _call(srv, method, path, body=None):
    url = f"http://127.0.0.1:{srv.port}{path}"
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method=method)
    if data:
        req.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def test_health_and_topic_lifecycle(server):
    code, health = _call(server, "GET", "/health")
    assert code == 200 and health["status"] == "OK"

    code, out = _call(server, "POST", "/topics",
                      {"topic": "click", "dst_topic": "click_mirror", "partitions": 4})
    assert code == 201 and out["added"] == "click"
    _call(server, "PUT", "/topics", {"topic": "click", "partitions": 8})
    code, topics = _call(server, "GET", "/topics")
    assert topics == [{"topic": "click", "dst_topic": "click_mirror", "partitions": 8}]
    code, out = _call(server, "DELETE", "/topics/click")
    assert code == 200
    assert _call(server, "GET", "/topics")[1] == []


def test_offset_and_lag_routes(server):
    code, one = _call(server, "GET", "/offset/click/0")
    assert code == 200 and one["topic"] == "click" and one["latest_offset"] >= 0

    code, rows = _call(server, "GET", "/offsets")
    assert code == 200 and len(rows) == 20  # 5 topics x 4 partitions

    code, lagged = _call(server, "GET", f"/offsets?as_of_sec={FX.SNAPSHOT_T1}")
    assert all(r["lag"] >= 0 for r in lagged)

    # raw log has no seeded stall between T1 and T2 → empty is correct
    code, np_rows = _call(
        server, "GET",
        f"/noprogress?t1_sec={FX.SNAPSHOT_T1}&t2_sec={FX.SNAPSHOT_T2}",
    )
    assert code == 200 and np_rows == []
    # t1 == t2 makes every lagging partition "no progress" by definition
    code, np_rows = _call(
        server, "GET",
        f"/noprogress?t1_sec={FX.SNAPSHOT_T1}&t2_sec={FX.SNAPSHOT_T1}",
    )
    assert code == 200 and len(np_rows) >= 1


@pytest.mark.slow
def test_admin_validation_and_blacklist(server):
    code, val = _call(server, "GET", "/validation")
    assert code == 200 and sum(r["n_partitions"] for r in val) == 20

    code, inst = _call(server, "GET", "/instances")
    assert code == 200 and len(inst) == FX.N_INSTANCES

    code, wl = _call(server, "GET", "/admin/workloadinfo")
    assert code == 200 and len(wl) > 0

    code, ew = _call(server, "GET", "/admin/expected_workers")
    assert code == 200 and ew["expected_workers"] >= 1

    _call(server, "POST", "/blacklist", {"topic": "error"})
    assert _call(server, "GET", "/blacklist")[1] == [{"topic": "error"}]
    _call(server, "DELETE", "/blacklist/error")
    assert _call(server, "GET", "/blacklist")[1] == []

    code, rate = _call(server, "PUT", "/ratelimiter?messagerate=500")
    assert code == 200 and rate["rate"] == 500


def test_unknown_routes_404(server):
    for method, path in [("GET", "/nope"), ("GET", "/offset/ghost/9")]:
        with pytest.raises(urllib.error.HTTPError) as e:
            _call(server, method, path)
        assert e.value.code == 404


def test_expand_unknown_topic_404(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _call(server, "PUT", "/topics", {"topic": "ghost", "partitions": 2})
    assert e.value.code == 404


def test_autobalancing_toggle_and_instance_view(server):
    assert _call(server, "GET", "/admin/autobalancing_status")[1] == {"autobalancing": True}
    _call(server, "POST", "/admin/disable_autobalancing")
    assert _call(server, "GET", "/admin/autobalancing_status")[1] == {"autobalancing": False}
    _call(server, "POST", "/admin/enable_autobalancing")
    assert _call(server, "GET", "/admin/autobalancing_status")[1] == {"autobalancing": True}

    code, allv = _call(server, "GET", "/instances")
    one_name = allv[0]["instance"]
    code, one = _call(server, "GET", f"/instances/{one_name}")
    assert code == 200 and one["instance"] == one_name
    with pytest.raises(urllib.error.HTTPError) as e:
        _call(server, "GET", "/instances/ghost-instance")
    assert e.value.code == 404


def test_validation_by_instance_option(server):
    code, rows = _call(server, "GET", "/validation/instance")
    assert code == 200
    assert sum(r["n_partitions"] for r in rows) == 20
    assert all("instance" in r and "state" in r for r in rows)


def test_ratelimiter_reports_restart_semantics(server):
    """PUT /ratelimiter documents its contract in the response: routes
    with a live ControlDoc (start_dynamic) get the rate at their next
    micro-batch (the reference's live RateLimiter swap,
    RateLimiterResource.java:41-62; see test_dynamic.py for the
    applied-live path); option-configured routes already running keep
    their old rate until restarted from checkpoint. With no running
    routes both lists are empty."""
    code, out = _call(server, "PUT", "/ratelimiter?messagerate=250")
    assert code == 200
    assert out == {
        "rate": 250,
        "applied_to_new_routes": True,
        "applied_live_routes": [],
        "running_routes_pending_restart": [],
    }


def test_handler_errors_return_500_not_dropped_connection(server, spark):
    """A handler bug must become HTTP 500, not a dead socket: drive the
    expected_workers route against an engine whose log lacks the
    value_size column the estimator needs."""
    from pyspark.sql import functions as F

    from ureplicator_spark.api import Engine
    from ureplicator_spark.api_http import RestServer

    broken = Engine(spark, spark.range(1).select(F.col("id").alias("topic")))
    srv = RestServer(broken, port=0).start()
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _call(srv, "GET", "/admin/workloadinfo")
        assert e.value.code == 500
        assert "error" in json.loads(e.value.read())
    finally:
        srv.stop()


def test_query_passthrough_lists_and_runs(server):
    """GET /query lists the registry; GET /query/<name> runs it against
    the engine's analytics dir with a row cap; unknown names 404; an
    engine without analytics_dir answers 500 with a message."""
    code, listing = _call(server, "GET", "/query")
    assert code == 200 and "consumer_lag" in listing["queries"]
    assert len(listing["queries"]) >= 100

    code, rows = _call(server, "GET", "/query/consumer_lag")
    assert code == 200 and rows and {"topic", "partition", "lag"} <= set(rows[0])

    code, rows = _call(server, "GET", "/query/q1_pricing_summary?limit=2")
    assert code == 200 and len(rows) <= 2

    import urllib.error

    try:
        _call(server, "GET", "/query/not_a_query")
        raise AssertionError("unknown query must 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_sql_endpoint_selects_and_rejects_ddl(server):
    """POST /sql completes the query language: ad-hoc SELECT over the
    registered tables, row-capped; anything but SELECT/WITH refused."""
    code, rows = _call(
        server, "POST", "/sql",
        {"sql": "SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang ORDER BY lang"},
    )
    assert code == 200 and len(rows) >= 2 and all(r["n"] > 0 for r in rows)

    code, rows = _call(
        server, "POST", "/sql",
        {"sql": "WITH t AS (SELECT 1 AS x) SELECT x FROM t", "limit": 10},
    )
    assert code == 200 and rows == [{"x": 1}]

    with pytest.raises(urllib.error.HTTPError) as e:
        _call(server, "POST", "/sql", {"sql": "DROP TABLE records"})
    # ValueError maps to the 4xx client-error path (existing contract)
    assert e.value.code == 404 and "SELECT" in json.loads(e.value.read())["error"]

    # WITH-prefixed DML must not execute: the subquery wrapper makes it
    # a parse error instead of a file write (the prefix check alone is
    # bypassable by exactly this statement)
    import os
    import tempfile

    target = os.path.join(tempfile.gettempdir(), "sql_endpoint_bypass_probe")
    import shutil

    shutil.rmtree(target, ignore_errors=True)
    with pytest.raises(urllib.error.HTTPError):
        _call(server, "POST", "/sql", {
            "sql": "WITH s AS (SELECT 1 AS x) "
                   f"INSERT OVERWRITE DIRECTORY '{target}' USING parquet SELECT * FROM s",
        })
    assert not os.path.exists(target)


def test_query_plan_route_explains(server):
    """GET /query/{name}/plan returns the physical plan text; bad
    names/modes surface as HTTP errors, not dropped connections."""
    code, out = _call(server, "GET", "/query/consumer_lag/plan")
    assert code == 200 and out["query"] == "consumer_lag"
    assert "Physical Plan" in out["plan"] or "AdaptiveSparkPlan" in out["plan"]

    code, out2 = _call(server, "GET", "/query/consumer_lag/plan?mode=simple")
    assert code == 200 and out2["plan"]

    with pytest.raises(urllib.error.HTTPError) as e:
        _call(server, "GET", "/query/consumer_lag/plan?mode=bogus")
    assert e.value.code in (400, 404, 500)
    with pytest.raises(urllib.error.HTTPError):
        _call(server, "GET", "/query/nope/plan")


def test_routes_listing_and_dynamic_batch_log(server, spark, sf_dir, tmp_path):
    """GET /routes lists registered routes; GET /routes/<name>/batches
    exposes a live dynamic route's per-batch decision log (the REST
    face of the live control plane, test_dynamic.py's engine path)."""
    import urllib.parse

    from ureplicator_spark.streaming.dynamic import ControlDoc
    from ureplicator_spark.streaming.replication import ReplicationJob, Route

    assert _call(server, "GET", "/routes")[1] == []

    src = str(tmp_path / "records")
    FX.records(spark, sf_dir).limit(100).coalesce(1).write.parquet(src)
    job = ReplicationJob(
        spark,
        Route(src_cluster="sjc1", dst_cluster="dca1", route_id=9,
              topic_mapping=dict(FX.TOPIC_MAPPING_ROWS),
              partition_counts=dict(FX.PARTITION_COUNT_ROWS)),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_kind="files",
        source_path=src,
    )
    server._httpd.RequestHandlerClass.engine.add_route(job)
    control = ControlDoc(str(tmp_path / "control.json"))
    q = job.start_dynamic(str(tmp_path / "out"), control)
    try:
        q.processAllAvailable()
        code, routes = _call(server, "GET", "/routes")
        assert code == 200
        assert [r["route"] for r in routes] == [job.route.name]
        assert routes[0]["active"] is True

        quoted = urllib.parse.quote(job.route.name)
        code, out = _call(server, "GET", f"/routes/{quoted}/batches")
        assert code == 200 and out["route"] == job.route.name
        assert sum(b["rows_written"] for b in out["batches"]) == 100
    finally:
        q.stop()


def test_route_creation_over_rest(server, spark, sf_dir, tmp_path):
    """POST /routes creates AND starts a live-controlled route from a
    JSON body — the Manager's route-creation flow
    (TopicManagementRestletResource.java:148-221) over the wire:
    POST → it replicates and appears in GET /routes → duplicate POST
    is 409 → DELETE tears it down → re-POST resumes from checkpoint."""
    import urllib.parse

    src = str(tmp_path / "records")
    FX.records(spark, sf_dir).limit(120).coalesce(1).write.parquet(src)
    body = {
        "src_cluster": "sjc1",
        "dst_cluster": "dca1",
        "route_id": 3,
        "source_path": src,
        "checkpoint_dir": str(tmp_path / "ckpt"),
        "out_path": str(tmp_path / "out"),
        "available_now": True,
    }
    code, created = _call(server, "POST", "/routes", body)
    assert code == 201
    assert created["route"] == "@sjc1@dca1@3"

    eng = server._httpd.RequestHandlerClass.engine
    job = eng.routes.jobs["@sjc1@dca1@3"]
    job.query.awaitTermination()  # availableNow drains then stops

    code, routes = _call(server, "GET", "/routes")
    assert code == 200 and [r["route"] for r in routes] == ["@sjc1@dca1@3"]

    quoted = urllib.parse.quote("@sjc1@dca1@3")
    code, out = _call(server, "GET", f"/routes/{quoted}/batches")
    assert code == 200
    assert sum(b["rows_written"] for b in out["batches"]) == 120
    out_rows = spark.read.parquet(str(tmp_path / "out")).count()
    assert out_rows == 120

    # duplicate name → 409, and the original job is left untouched
    with pytest.raises(urllib.error.HTTPError) as ei:
        _call(server, "POST", "/routes", body)
    assert ei.value.code == 409
    assert eng.routes.jobs["@sjc1@dca1@3"] is job

    code, _ = _call(server, "DELETE", f"/routes/{quoted}")
    assert code == 200
    assert _call(server, "GET", "/routes")[1] == []

    # recreate: checkpoint survives teardown, so the drained source
    # yields no new rows (exactly-once resume posture)
    code, created = _call(server, "POST", "/routes", body)
    assert code == 201
    eng.routes.jobs["@sjc1@dca1@3"].query.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 120
    _call(server, "DELETE", f"/routes/{quoted}")


def test_failed_route_start_rolls_back_reservation(server, spark, sf_dir, tmp_path):
    """A POST /routes whose streaming start blows up (nonexistent
    source path, straight from the untrusted body) must NOT leave a
    dead route registered: the name is rolled back (r8 advisor), so a
    corrected retry succeeds instead of 409ing forever."""
    body = {
        "src_cluster": "sjc1",
        "dst_cluster": "dca1",
        "route_id": 9,
        "source_path": str(tmp_path / "nonexistent"),
        "checkpoint_dir": str(tmp_path / "ckpt9"),
        "out_path": str(tmp_path / "out9"),
        "available_now": True,
    }
    with pytest.raises(urllib.error.HTTPError) as ei:
        _call(server, "POST", "/routes", body)
    assert ei.value.code == 500

    eng = server._httpd.RequestHandlerClass.engine
    assert "@sjc1@dca1@9" not in eng.routes.jobs

    # corrected retry: same name now starts cleanly
    src = str(tmp_path / "records9")
    FX.records(spark, sf_dir).limit(30).coalesce(1).write.parquet(src)
    body["source_path"] = src
    code, created = _call(server, "POST", "/routes", body)
    assert code == 201 and created["route"] == "@sjc1@dca1@9"
    eng.routes.jobs["@sjc1@dca1@9"].query.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "out9")).count() == 30
    _call(server, "DELETE", "/routes/" + urllib.parse.quote("@sjc1@dca1@9"))


@pytest.mark.parametrize("length", ["-1", "abc"])
def test_malformed_content_length_answers_400(server, length):
    """A Content-Length that is not a non-negative integer is refused
    at once: -1 would otherwise read until the client closes."""
    with socket.create_connection(("127.0.0.1", server.port), timeout=3) as sock:
        sock.sendall(
            f"POST /topics HTTP/1.1\r\nHost: x\r\nContent-Length: {length}\r\n\r\n".encode()
        )
        status = sock.makefile("rb").readline().split()
    assert status[1] == b"400"


def test_route_table_reads_survive_concurrent_add_and_remove(spark):
    """health() and set_rate() pass over the route table while another
    thread adds and removes routes: no pass sees the table change under
    it, and every route ends with the last rate applied."""
    eng = Engine(spark)

    def job(name):
        route = SimpleNamespace(name=name, max_records_per_trigger=None)
        return SimpleNamespace(route=route, query=None, control=None, source_kind="files")

    for i in range(8):
        eng.add_route(job(f"r{i}"))
    stop, errors = threading.Event(), []

    def churn():
        i = 0
        while not stop.is_set():
            eng.add_route(job(f"churn{i}"))
            eng.routes.remove(f"churn{i}")
            i += 1

    def repeat(fn):
        for k in range(20_000):
            try:
                fn(k)
            except RuntimeError as e:
                errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        churner = threading.Thread(target=churn)
        readers = [
            threading.Thread(target=repeat, args=(lambda k: eng.health(),)),
            threading.Thread(target=repeat, args=(eng.set_rate,)),
        ]
        churner.start()
        for t in readers:
            t.start()
        for t in readers:
            t.join(timeout=120)
    finally:
        stop.set()
        sys.setswitchinterval(interval)
    churner.join(timeout=30)
    assert not churner.is_alive() and not any(t.is_alive() for t in readers)
    assert not errors, f"{len(errors)} passes failed: {errors[0]!r}"
    assert eng.health()["n_routes"] == 8
    assert {j.route.max_records_per_trigger for j in eng.routes.jobs.values()} == {19_999}
