"""REST facade tests: the reference's user-facing query language
served over HTTP (ControllerRestApplication.java:40-72 analog),
driven end-to-end through a real socket with urllib."""

from __future__ import annotations

import hashlib
import json
import socket
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from types import SimpleNamespace

import pytest

from ureplicator_spark import api_http
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


def test_route_on_an_active_routes_checkpoint_answers_409(server, spark, sf_dir, tmp_path):
    """A second route on a running route's ``checkpoint_dir`` is a
    conflict, as a duplicate name is: 201 then 409, the first route
    keeps running, and only the first route is listed."""
    src = str(tmp_path / "records")
    FX.records(spark, sf_dir).limit(50).coalesce(1).write.parquet(src)
    body = {
        "src_cluster": "sjc1",
        "dst_cluster": "dca1",
        "route_id": 1,
        "source_path": src,
        "checkpoint_dir": str(tmp_path / "ckpt"),
        "out_path": str(tmp_path / "out1"),
    }
    code, first = _call(server, "POST", "/routes", body)
    assert code == 201
    job = server._httpd.RequestHandlerClass.engine.routes.jobs[first["route"]]
    try:
        job.query.processAllAvailable()
        with pytest.raises(urllib.error.HTTPError) as ei:
            _call(server, "POST", "/routes",
                  {**body, "route_id": 2, "out_path": str(tmp_path / "out2")})
        assert ei.value.code == 409
        assert "already active" in json.loads(ei.value.read())["error"]
        assert job.query.isActive
        code, routes = _call(server, "GET", "/routes")
        assert code == 200 and [r["route"] for r in routes] == [first["route"]]
    finally:
        _call(server, "DELETE", "/routes/" + urllib.parse.quote(first["route"]))


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


def _exchange(srv, data: bytes) -> tuple[str, dict, bytes]:
    """Send ``data`` on a fresh connection and read until the server
    closes it: the answer's status line, header fields and body."""
    with socket.create_connection(("127.0.0.1", srv.port), timeout=30) as sock:
        sock.sendall(data)
        raw = b"".join(iter(lambda: sock.recv(65536), b""))
    head, _, body = raw.partition(b"\r\n\r\n")
    status, *fields = head.decode("latin-1").split("\r\n")
    return status, dict(f.split(": ", 1) for f in fields), body


def _get(path: str, *fields: str) -> bytes:
    return "\r\n".join([f"GET {path} HTTP/1.1", "Host: x", *fields, "", ""]).encode()


@pytest.mark.parametrize("line", [
    b"GARBAGE", b"GET /health", b"GET /health HTTP/1.1 extra", b"GET /health HTTP/one",
])
def test_malformed_request_line_answers_400(server, line):
    status, _, _ = _exchange(server, line + b"\r\nHost: x\r\n\r\n")
    assert status.startswith("HTTP/1.0 400 "), status


def test_lower_case_content_length_reads_the_body(server):
    body = json.dumps({"topic": "lc"}).encode()
    status, _, got = _exchange(
        server,
        b"POST /topics HTTP/1.1\r\nhost: x\r\ncontent-length: %d\r\n\r\n%s"
        % (len(body), body),
    )
    assert status == "HTTP/1.0 201 Created" and json.loads(got) == {"added": "lc"}


def test_more_than_100_header_fields_answer_431(server):
    """100 header fields are read; a 101st answers 431."""
    fields = [f"X-F{i}: {i}" for i in range(99)]  # plus Host: 100 fields
    assert _exchange(server, _get("/health", *fields))[0] == "HTTP/1.0 200 OK"
    status, _, _ = _exchange(server, _get("/health", *fields, "X-F99: 99"))
    assert status.startswith("HTTP/1.0 431 "), status


def test_header_line_over_64_kib_answers_431(server):
    status, _, _ = _exchange(server, _get("/health", "X-Big: " + "a" * (1 << 16)))
    assert status.startswith("HTTP/1.0 431 "), status


def test_conflicting_content_lengths_answer_400(server):
    def post(*lengths):
        fields = "".join(f"Content-Length: {n}\r\n" for n in lengths)
        return _exchange(
            server, f"POST /topics HTTP/1.1\r\nHost: x\r\n{fields}\r\n".encode()
            + b'{"topic": "cl"}'
        )[0]

    assert post(15, 16).startswith("HTTP/1.0 400 ")
    assert post(15, 15) == "HTTP/1.0 201 Created"


# (path, Content-Length, sha256 of the body) of each whole-answer route
# over the sf0.001 fixtures, as the stdlib email-parser request path
# answered them
STDLIB_ANSWERS = [
    ("/offsets", "1172", "2ec0910e8a44632eb5174a217ee13e1267208cea7e933f0898f6b2238f8c20f0"),
    (f"/offsets?as_of_sec={FX.SNAPSHOT_T1}", "1852",
     "7b140666c41dfd0fc2750b62c39f56d82d668ad45f3a5b055fd32dc77eb4f78f"),
    (f"/noprogress?t1_sec={FX.SNAPSHOT_T1}&t2_sec={FX.SNAPSHOT_T1}", "1332",
     "8c98fd9ad3b6bc9ecad37921f3eb13f5e2b101cc7bf97e6de942987e97b8a4b7"),
    ("/validation", "121", "46ea6dfef8aecf79a7077957501c9ac492b40c03f9b7eee8b3f72892bf55c03b"),
    ("/validation/instance", "448",
     "f4f044e130ad284574ac0c9f5a49cd6916665661f73218019a80bd2f2f30a01a"),
    ("/instances", "349", "985c2db1a8e0fd0f9b5672e5187a3686ee14b816cbfe4f6712e112237a13e615"),
    ("/admin/workloadinfo", "96628",
     "797496adbbd6144a7bd912ba5e7a1b51f60c480ce55e78afc25634a8e2914aaf"),
    ("/query/consumer_lag", "1852",
     "7b140666c41dfd0fc2750b62c39f56d82d668ad45f3a5b055fd32dc77eb4f78f"),
    ("/query/workload_windows", "96628",
     "797496adbbd6144a7bd912ba5e7a1b51f60c480ce55e78afc25634a8e2914aaf"),
]


def test_whole_answer_routes_match_the_stdlib_answers(server):
    for path, length, digest in STDLIB_ANSWERS:
        status, fields, body = _exchange(server, _get(path))
        assert status == "HTTP/1.0 200 OK", path
        assert fields["Content-Type"] == "application/json", path
        assert fields["Content-Length"] == length == str(len(body)), path
        assert hashlib.sha256(body).hexdigest() == digest, path


class _SlowEngine:
    """Engine stand-in: ``/health`` answers at once, a log read blocks
    until ``release`` is set, after every reader reached ``inside``."""

    def __init__(self) -> None:
        self.inside: threading.Barrier | None = None
        self.release = threading.Event()

    def health(self) -> dict:
        return {"status": "OK"}

    def answer(self, read, *args, encode=None):
        self.inside.wait(timeout=30)
        self.release.wait(timeout=30)
        return encode([])


def _status(srv, path: str) -> int:
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}", timeout=30) as resp:
        return resp.status


def test_handler_threads_are_reused_and_end_at_stop():
    srv = RestServer(_SlowEngine(), port=0)
    seen = set()
    base = srv._httpd.RequestHandlerClass

    def _route(self, method):
        seen.add(threading.get_ident())
        base._route(self, method)

    srv._httpd.RequestHandlerClass = type("Recording", (base,), {"_route": _route})
    srv.start()
    try:
        assert all(_status(srv, "/health") == 200 for _ in range(200))
    finally:
        srv.stop()
    workers = srv._httpd.workers
    assert 1 <= len(seen) <= len(workers)
    assert seen <= {t.ident for t in workers}
    assert not any(t.is_alive() for t in workers)


def test_request_beyond_busy_workers_waits_then_is_answered():
    eng = _SlowEngine()
    srv = RestServer(eng, port=0).start()
    n = len(srv._httpd.workers)
    eng.inside = threading.Barrier(n + 1)
    got: list = []

    def ask(path):
        got.append(_status(srv, path))

    slow = [threading.Thread(target=ask, args=("/offsets",)) for _ in range(n)]
    try:
        for t in slow:
            t.start()
        eng.inside.wait(timeout=30)  # every worker holds a slow read
        extra = threading.Thread(target=ask, args=("/health",))
        extra.start()
        extra.join(timeout=0.5)
        assert extra.is_alive() and got == []
        eng.release.set()
        for t in [*slow, extra]:
            t.join(timeout=30)
        assert got == [200] * (n + 1)
    finally:
        eng.release.set()
        srv.stop()


def test_concurrent_requests_are_each_answered():
    srv = RestServer(_SlowEngine(), port=0).start()
    got: list = []

    def client():
        for _ in range(25):
            got.append(_status(srv, "/health"))

    clients = [threading.Thread(target=client) for _ in range(16)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in clients:
            t.start()
        for t in clients:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
        srv.stop()
    assert not any(t.is_alive() for t in clients)
    assert got == [200] * (16 * 25)


def test_stop_without_start_returns():
    srv = RestServer(_SlowEngine(), port=0)
    stopper = threading.Thread(target=srv.stop, daemon=True)
    stopper.start()
    stopper.join(timeout=30)
    assert not stopper.is_alive()
    assert not any(t.is_alive() for t in srv._httpd.workers)


def test_idle_connection_is_dropped_within_the_timeout(monkeypatch):
    monkeypatch.setattr(api_http, "CONNECTION_TIMEOUT_S", 0.5)
    srv = RestServer(_SlowEngine(), port=0).start()
    try:
        with socket.create_connection(("127.0.0.1", srv.port), timeout=10) as idle:
            t0 = time.monotonic()
            assert _status(srv, "/health") == 200
            assert idle.recv(1) == b""  # the server closed it
            assert time.monotonic() - t0 < 5
            assert _status(srv, "/health") == 200
    finally:
        srv.stop()


def test_stop_returns_promptly_with_every_worker_in_accept():
    """Idle workers block in ``accept()``; ``stop`` wakes each of them
    (not waiting out ``CONNECTION_TIMEOUT_S``), ends every thread and
    closes the listening socket."""
    srv = RestServer(_SlowEngine(), port=0).start()
    assert _status(srv, "/health") == 200
    time.sleep(0.2)  # the worker that answered is back in accept()
    t0 = time.monotonic()
    srv.stop()
    assert time.monotonic() - t0 < min(2.0, api_http.CONNECTION_TIMEOUT_S)
    assert not any(t.is_alive() for t in srv._httpd.workers)
    with pytest.raises(OSError):
        socket.create_connection(("127.0.0.1", srv.port), timeout=3).close()


def test_handler_class_swapped_after_start_serves_the_next_connection():
    srv = RestServer(_SlowEngine(), port=0).start()
    try:
        assert _status(srv, "/health") == 200
        base = srv._httpd.RequestHandlerClass

        def _route(self, method):
            self._send(200, {"swapped": self.headers.get("X-Probe")})

        srv._httpd.RequestHandlerClass = type("Swapped", (base,), {"_route": _route})
        status, _, body = _exchange(srv, _get("/health", "x-probe: 7"))
        assert status == "HTTP/1.0 200 OK" and json.loads(body) == {"swapped": "7"}
    finally:
        srv.stop()


def test_burst_beyond_the_worker_count_is_each_answered():
    """Three connections per worker, all sent before any answer is
    read: those beyond the busy workers wait in the listen backlog."""
    srv = RestServer(_SlowEngine(), port=0).start()
    socks = []
    try:
        for _ in range(3 * len(srv._httpd.workers)):
            sock = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
            sock.sendall(_get("/health"))
            socks.append(sock)
        answers = [b"".join(iter(lambda s=s: s.recv(65536), b"")) for s in socks]
    finally:
        for sock in socks:
            sock.close()
        srv.stop()
    assert all(a.startswith(b"HTTP/1.0 200 OK\r\n") for a in answers)
    assert all(a.endswith(b'{"status": "OK"}') for a in answers)
