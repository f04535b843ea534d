"""A stored answer carries its finished HTTP body, concurrent misses of
one read share a single computation, and a recompute after the log
changes reads the changed files."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tests.test_answer_memo import served  # noqa: F401 (fixture)
from tests.test_api_http import _call
from tests.test_standing import _copy_tables
from ureplicator_spark import api, api_http
from ureplicator_spark import fixtures as FX
from ureplicator_spark.api import Engine

T1 = FX.SNAPSHOT_T1

# every route that returns a whole stored answer, with the Engine call
# whose rows it serves
WHOLE_ANSWERS = [
    ("/offsets", lambda e: e.answer("offsets", None)),
    (f"/offsets?as_of_sec={T1}", lambda e: e.answer("offsets", T1)),
    (f"/noprogress?t1_sec={T1}&t2_sec={T1}", lambda e: e.answer("no_progress", T1, T1)),
    ("/validation", lambda e: e.answer("validate")),
    ("/validation/instance", lambda e: e.answer("validate_by_instance")),
    ("/instances", lambda e: e.answer("assignment_view")),
    ("/admin/workloadinfo", lambda e: e.answer("workload")),
    ("/query/consumer_lag", lambda e: e.collect_query("consumer_lag")),
    ("/query/workload_windows", lambda e: e.collect_query("workload_windows")),
]


def _raw_get(srv, path) -> bytes:
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}") as resp:
        assert resp.status == 200
        return resp.read()


def _run(threads, timeout=60) -> None:
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=timeout)
    assert not any(t.is_alive() for t in threads)


def test_concurrent_misses_of_one_read_compute_once():
    memo = api._AnswerMemo()
    n = 8
    lock = threading.Lock()
    callers, computed, got = [], [], []
    all_called = threading.Event()

    def compute():
        computed.append(1)
        all_called.wait(timeout=30)
        time.sleep(0.2)  # the last caller reaches the memo
        return [("row", len(computed))]

    def ask():
        with lock:
            callers.append(1)
            if len(callers) == n:
                all_called.set()
        got.append(memo.get(("log", "offsets", ()), "snap", compute))

    _run([threading.Thread(target=ask) for _ in range(n)])
    assert len(computed) == 1
    assert len(got) == n and all(rows == got[0] for rows in got)
    assert memo.stats() == {"entries": 1, "hits": n - 1, "misses": 1}


def test_raising_computation_hands_the_miss_to_one_waiter():
    memo = api._AnswerMemo()
    n = 8
    lock = threading.Lock()
    callers, computed, got, raised = [], [], [], []
    started, all_called = threading.Event(), threading.Event()

    def compute():
        computed.append(1)
        if len(computed) == 1:
            started.set()
            all_called.wait(timeout=30)
            time.sleep(0.2)  # the last waiter reaches the memo
            raise RuntimeError("first computation fails")
        all_called.wait(timeout=30)
        return [("ok",)]

    def first():
        try:
            memo.get(("log", "offsets", ()), "snap", compute)
        except RuntimeError as e:
            raised.append(e)

    def waiter():
        with lock:
            callers.append(1)
            if len(callers) == n - 1:
                all_called.set()
        got.append(memo.get(("log", "offsets", ()), "snap", compute))

    owner = threading.Thread(target=first)
    owner.start()
    assert started.wait(timeout=30)
    _run([threading.Thread(target=waiter) for _ in range(n - 1)])
    owner.join(timeout=60)
    assert not owner.is_alive()
    assert len(raised) == 1
    assert got == [[("ok",)]] * (n - 1)
    assert len(computed) == 2
    stats = memo.stats()
    assert stats["hits"] + stats["misses"] == n and stats["misses"] == 2


def test_whole_answer_routes_write_stored_bytes(spark, sf_dir, served, monkeypatch):
    eng = Engine(spark, FX.records(spark, sf_dir), analytics_dir=sf_dir)
    srv = served(eng)
    calls = []
    rows = api_http._rows
    monkeypatch.setattr(api_http, "_rows", lambda r: calls.append(1) or rows(r))
    for path, read in WHOLE_ANSWERS:
        first = _raw_get(srv, path)
        calls.clear()
        assert _raw_get(srv, path) == first, path
        assert calls == [], f"{path} encoded its rows on a hit"
        want = json.dumps([r.asDict(recursive=True) for r in read(eng)], default=str)
        assert first == want.encode(), path
        assert json.loads(first), f"{path} answered no rows"


def test_grown_log_is_relisted_before_recompute(spark, sf_dir, tmp_path, served):
    d = _copy_tables(sf_dir, tmp_path / "sf")
    srv = served(Engine(spark, FX.records(spark, d)))
    path = os.path.join(d, "events.parquet")

    def latest_from_files() -> list:
        latest: dict = {}
        for r in pq.read_table(path).to_pylist():
            k = (r["event_type"], r["user_id"] % FX.N_SRC_PARTITIONS)
            latest[k] = max(latest.get(k, r["event_id"]), r["event_id"])
        return sorted((*k, v) for k, v in latest.items())

    def served_latest() -> list:
        rows = _call(srv, "GET", "/offsets")[1]
        return sorted((r["topic"], r["partition"], r["latest_offset"]) for r in rows)

    assert served_latest() == latest_from_files()
    # The log grows: every event again, at offsets past the current end,
    # in small row groups a read through the old file length would skip.
    events = pq.read_table(path)
    ids = events["event_id"]
    span = pc.max(ids).as_py() - pc.min(ids).as_py() + 1
    later = events.set_column(
        events.schema.get_field_index("event_id"), "event_id", pc.add(ids, span)
    )
    pq.write_table(pa.concat_tables([events, later]), path, row_group_size=100)
    assert served_latest() == latest_from_files()
