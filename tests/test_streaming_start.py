"""Every streaming query starts through ``streaming/batches.start``: the
checkpoint, the query name and the trigger choice are set there and
nowhere else in the package. No Spark session needed."""

from __future__ import annotations

from pathlib import Path

import pytest

from ureplicator_spark.streaming import batches, replication
from ureplicator_spark.streaming.replication import ReplicationJob, Route

STREAMING_DIR = Path(replication.__file__).parent


class FakeWriter:
    """Records the ``DataStreamWriter`` calls ``start`` makes."""

    def __init__(self) -> None:
        self.calls: list[tuple] = []

    def option(self, key, value):
        self.calls.append(("option", key, value))
        return self

    def queryName(self, name):  # noqa: N802 — DataStreamWriter's name
        self.calls.append(("queryName", name))
        return self

    def trigger(self, **kw):
        self.calls.append(("trigger", kw))
        return self

    def start(self):
        self.calls.append(("start",))
        return "query"


def _started(**kw) -> list[tuple]:
    w = FakeWriter()
    assert batches.start(w, "/ck", **kw) == "query"
    assert w.calls[-1] == ("start",)
    return w.calls[:-1]


def test_checkpoint_always_set_and_name_only_when_given():
    assert _started() == [("option", "checkpointLocation", "/ck")]
    assert _started(name="q") == [
        ("option", "checkpointLocation", "/ck"),
        ("queryName", "q"),
    ]


@pytest.mark.parametrize(
    "kw, trigger",
    [
        ({"available_now": True, "interval": "5 seconds"}, {"availableNow": True}),
        ({"available_now": True}, {"availableNow": True}),
        ({"interval": "5 seconds"}, {"processingTime": "5 seconds"}),
        ({}, None),
    ],
)
def test_trigger_choice(kw, trigger):
    triggers = [c[1] for c in _started(**kw) if c[0] == "trigger"]
    assert triggers == ([trigger] if trigger else [])


def test_route_trigger_interval_reaches_the_start(monkeypatch):
    monkeypatch.setattr(replication, "tune", lambda spark: spark)
    route = Route("src", "dst", 7, trigger_interval="30 seconds")
    job = ReplicationJob(None, route, checkpoint_dir="/ck")
    w = FakeWriter()
    assert job._start(w, "-archive") == "query" and job.query == "query"
    assert w.calls == [
        ("option", "checkpointLocation", "/ck"),
        ("queryName", "@src@dst@7-archive"),
        ("trigger", {"processingTime": "30 seconds"}),
        ("start",),
    ]


@pytest.mark.parametrize("needle", ["checkpointLocation", ".trigger(", "batch_marker("])
def test_start_path_and_replay_guard_live_only_in_batches(needle):
    holders = sorted(
        p.name for p in STREAMING_DIR.glob("*.py") if needle in p.read_text()
    )
    assert holders == ["batches.py"]


def _package_holders(needle: str) -> list[str]:
    """Modules of ``ureplicator_spark/`` whose source contains ``needle``."""
    package = STREAMING_DIR.parent
    return sorted(
        str(p.relative_to(package))
        for p in package.rglob("*.py")
        if needle in p.read_text()
    )


@pytest.mark.parametrize("needle", ["maxFilesPerTrigger", "maxBytesPerTrigger"])
def test_files_intake_bound_set_only_in_replication(needle):
    """One intake-bound site for the files source in the package."""
    assert _package_holders(needle) == ["streaming/replication.py"]


def test_listing_threshold_set_only_in_session():
    """Driver-side file listing is one session default, not per-query."""
    assert _package_holders("parallelPartitionDiscovery") == ["session.py"]
