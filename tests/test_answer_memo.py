"""REST reads are served from answers keyed by input snapshot: a stored
answer is reused exactly while the files behind it are unchanged, a
log with no file identity is recomputed every time, and writes to
engine state neither touch the stored answers nor are served from
them."""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from tests.oracle_harness import _norm, run_oracle
from tests.test_api_http import _call as _http_call
from tests.test_standing import _copy_tables
from ureplicator_spark import api
from ureplicator_spark import fixtures as FX
from ureplicator_spark.api import Engine
from ureplicator_spark.api_http import RestServer
from ureplicator_spark.queries import QUERIES


def _call(srv, method, path, body=None):
    return _http_call(srv, method, path, body)[1]


def _canon(cols, rows) -> list:
    keys = sorted(cols)
    return sorted(
        (tuple(_norm(r[cols.index(c)]) for c in keys) for r in rows), key=repr
    )


def _body(rows: list[dict]) -> list:
    cols = sorted(rows[0]) if rows else []
    return _canon(cols, [[r[c] for c in cols] for r in rows])


@pytest.fixture()
def served():
    servers = []

    def start(engine):
        servers.append(RestServer(engine, port=0).start())
        return servers[-1]

    yield start
    for srv in servers:
        srv.stop()


def test_identical_reads_miss_once_then_hit(spark, sf_dir, served):
    srv = served(Engine(spark, FX.records(spark, sf_dir)))
    first = _call(srv, "GET", "/offsets")
    assert _call(srv, "GET", "/offsets") == first
    assert _call(srv, "GET", "/health")["answers"] == {
        "entries": 1, "hits": 1, "misses": 1,
    }


def test_touched_or_rewritten_log_is_recomputed(spark, sf_dir, tmp_path):
    d = _copy_tables(sf_dir, tmp_path / "sf")
    eng = Engine(spark, FX.records(spark, d))
    calls = []
    base = eng.offsets
    eng.offsets = lambda *a: calls.append(a) or base(*a)

    first = eng.answer("offsets")
    assert eng.answer("offsets") == first and len(calls) == 1

    path = os.path.join(d, "events.parquet")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert eng.answer("offsets") == first and len(calls) == 2
    assert eng.answer("offsets") == first and len(calls) == 2

    shutil.copyfile(os.path.join(sf_dir, "events.parquet"), path)
    assert eng.answer("offsets") == first and len(calls) == 3


def test_rewritten_registry_input_matches_oracle(spark, sf_dir, tmp_path, served):
    d = _copy_tables(sf_dir, tmp_path / "sf")
    srv = served(Engine(spark, FX.records(spark, d), analytics_dir=d))
    sql = QUERIES["consumer_lag"][1]
    before = _body(_call(srv, "GET", "/query/consumer_lag"))
    assert before == _canon(*run_oracle(sql, d))
    assert _body(_call(srv, "GET", "/query/consumer_lag")) == before

    # a subset of the events: drop every event of one user bucket
    path = os.path.join(d, "events.parquet")
    events = pq.read_table(path)
    kept = events.filter(pc.not_equal(pc.bit_wise_and(events["user_id"], 3), 0))
    assert 0 < kept.num_rows < events.num_rows
    pq.write_table(kept, path)

    after = _body(_call(srv, "GET", "/query/consumer_lag"))
    assert after == _canon(*run_oracle(sql, d))
    assert after != before


def test_python_data_source_log_is_never_memoized(spark, tmp_path, served):
    from pyspark.sql.datasource import DataSource, DataSourceReader

    class JsonLog(DataSource):
        """Record-view rows from one JSON file, read afresh per scan."""

        @classmethod
        def name(cls):
            return "answer_memo_jsonlog"

        def schema(self):
            return "topic string, partition int, offset long, ts_sec long, value_size int"

        def reader(self, schema):
            path = self.options["path"]

            class Reader(DataSourceReader):
                def read(self, partition):
                    with open(path) as fh:
                        for r in json.load(fh):
                            yield (r["topic"], r["partition"], r["offset"],
                                   r["ts_sec"], r["value_size"])

            return Reader()

    def write(path, last_offset):
        rows = [{"topic": "click", "partition": 0, "offset": o,
                 "ts_sec": 1_700_000_000 + o, "value_size": 8}
                for o in range(last_offset + 1)]
        with open(path, "w") as fh:
            json.dump(rows, fh)

    spark.dataSource.register(JsonLog)
    path = str(tmp_path / "log.json")
    write(path, 4)
    log = spark.read.format("answer_memo_jsonlog").load(path)
    srv = served(Engine(spark, log))
    assert _call(srv, "GET", "/offsets") == [
        {"topic": "click", "partition": 0, "latest_offset": 4}
    ]
    write(path, 9)
    assert _call(srv, "GET", "/offsets") == [
        {"topic": "click", "partition": 0, "latest_offset": 9}
    ]
    assert _call(srv, "GET", "/health")["answers"] == {
        "entries": 0, "hits": 0, "misses": 0,
    }


def test_state_writes_leave_stored_reads_and_read_fresh(spark, sf_dir, served):
    srv = served(Engine(spark, FX.records(spark, sf_dir)))
    first = _call(srv, "GET", "/offsets")
    _call(srv, "POST", "/blacklist", {"topic": "error"})
    _call(srv, "POST", "/topics", {"topic": "click"})
    _call(srv, "PUT", "/topics", {"topic": "click", "partitions": 8})
    assert _call(srv, "GET", "/offsets") == first
    assert _call(srv, "GET", "/blacklist") == [{"topic": "error"}]
    assert _call(srv, "GET", "/health")["answers"] == {
        "entries": 1, "hits": 1, "misses": 1,
    }


def test_entries_stay_within_cap(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(api, "ANSWER_CAP", 2)
    eng = Engine(spark, FX.records(spark, sf_dir))
    as_of = [FX.SNAPSHOT_T1 + 60 * i for i in range(4)]
    for t in as_of:
        eng.answer("offsets", t)
    assert eng.health()["answers"] == {"entries": 2, "hits": 0, "misses": 4}
    eng.answer("offsets", as_of[-1])  # kept: among the two latest
    eng.answer("offsets", as_of[0])  # evicted first
    assert eng.health()["answers"] == {"entries": 2, "hits": 1, "misses": 5}


def test_memo_never_returns_rows_of_another_snapshot():
    """Threads reading two alternating snapshots under a short switch
    interval: every answer is the one computed for the caller's own
    snapshot, every call is counted once and the cap holds."""
    memo = api._AnswerMemo()
    n_threads, n_calls = 16, 300
    wrong: list = []

    def reader(tid: int) -> None:
        for i in range(n_calls):
            key, snap = ("log", "offsets", (i % 5,)), (tid + i) % 2
            rows = memo.get(key, snap, lambda: [(key, snap)])
            if rows != [(key, snap)]:
                wrong.append((key, snap, rows))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(t,)) for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not wrong
    stats = memo.stats()
    assert stats["hits"] + stats["misses"] == n_threads * n_calls
    assert stats["entries"] <= 5
