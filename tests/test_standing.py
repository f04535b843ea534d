"""The standing-artifact registry serves an artifact only while its
inputs are unchanged, and builds a cold artifact once however many
threads ask for it."""

from __future__ import annotations

import os
import shutil
import threading
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tests.oracle_harness import compare
from ureplicator_spark import standing
from ureplicator_spark.api import Engine
from ureplicator_spark.queries import QUERIES


def _copy_tables(src: str, dst) -> str:
    """Writable copy of a fixture directory (the fixtures are read-only)."""
    dst.mkdir()
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), dst / name)
    return str(dst)


def _kind_builds(kind: str, sf_dir: str) -> list:
    return [b for b in standing.builds if b.kind == kind and b.sf_dir == sf_dir]


def test_rewritten_input_rebuilds_instead_of_serving_stale(spark, sf_dir, tmp_path):
    d = _copy_tables(sf_dir, tmp_path / "sf")
    fn, sql = QUERIES["bm25_index_search"]
    assert not compare(fn(spark, d), sql, d)
    root = standing.get("lex", spark, d)

    # a different row set under the same path: drop every fourth document
    path = os.path.join(d, "documents.parquet")
    docs = pq.read_table(path)
    kept = docs.filter(pc.not_equal(pc.bit_wise_and(docs["doc_id"], 3), 0))
    assert 0 < kept.num_rows < docs.num_rows
    pq.write_table(kept, path)

    new_root = standing.get("lex", spark, d)
    assert new_root != root
    assert os.path.isdir(new_root) and not os.path.exists(root)
    assert len(_kind_builds("lex", d)) == 2
    problems = compare(fn(spark, d), sql, d)
    assert not problems, "; ".join(problems)


def test_concurrent_cold_get_builds_once(spark, sf_dir, tmp_path):
    d = _copy_tables(sf_dir, tmp_path / "sf")
    start = threading.Barrier(2)
    got: list = []

    def ask():
        start.wait()
        got.append(standing.get("langmodel", spark, d))

    threads = [threading.Thread(target=ask) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(got) == 2 and got[0] is got[1] and got[0]
    assert len(_kind_builds("langmodel", d)) == 1


def test_rewritten_events_refresh_fixture_views(spark, sf_dir, tmp_path):
    d = _copy_tables(sf_dir, tmp_path / "sf")
    fn, sql = QUERIES["consumer_lag"]
    assert not compare(fn(spark, d), sql, d)

    # The log grows: every event again, at offsets past the current end.
    # A frame listed before the rewrite keeps the old file length and
    # silently skips the row groups past it; a shorter subset would still
    # be read whole, so it could not show a stale view.
    path = os.path.join(d, "events.parquet")
    events = pq.read_table(path)
    ids = events["event_id"]
    span = pc.max(ids).as_py() - pc.min(ids).as_py() + 1
    later = events.set_column(
        events.schema.get_field_index("event_id"), "event_id", pc.add(ids, span)
    )
    pq.write_table(pa.concat_tables([events, later]), path, row_group_size=100)

    problems = compare(fn(spark, d), sql, d)
    assert not problems, "; ".join(problems)


def test_snapshot_walks_again_only_when_a_directory_changed(spark, tmp_path, monkeypatch):
    """``/query/{name}`` keys on ``standing.snapshot``: a file rewritten
    in place, one added in a subdirectory and one removed each force a
    recompute, and an unchanged hit walks no directory."""
    d = tmp_path / "sf"
    (d / "sub").mkdir(parents=True)
    (d / "a.parquet").write_bytes(b"a")
    (d / "sub" / "b.parquet").write_bytes(b"b")
    # directories last changed well before the first walk
    for path in (d, d / "sub"):
        os.utime(path, ns=(10**18, 10**18))
    walks, computed = [], []
    real_walk = os.walk
    monkeypatch.setattr(os, "walk", lambda *a, **k: walks.append(1) or real_walk(*a, **k))
    eng = Engine(spark, analytics_dir=str(d))
    stub = SimpleNamespace(collect=lambda: computed.append(1) or [len(computed)])
    monkeypatch.setattr(eng, "run_query", lambda name, limit: stub)

    def query() -> list:
        got = eng.collect_query("q")
        fresh = tuple(sorted(
            (os.path.relpath(os.path.join(p, f), d), os.stat(os.path.join(p, f)).st_size,
             os.stat(os.path.join(p, f)).st_mtime_ns)
            for p, _, fs in real_walk(d) for f in fs
        ))
        assert standing.snapshot(str(d)) == fresh
        return got

    assert query() == [1] and walks
    walks.clear()
    assert query() == [1] and walks == []  # unchanged: a hit, no walk
    (d / "a.parquet").write_bytes(b"aa")  # rewritten in place
    assert query() == [2] and walks == []
    (d / "sub" / "c.parquet").write_bytes(b"c")
    assert query() == [3] and walks
    (d / "a.parquet").unlink()
    assert query() == [4]
