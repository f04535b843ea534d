"""Live control plane for RUNNING replication streams — rate changes,
topic blacklist edits, and topic add/remove without stopping the query.

Reference behavior this mirrors (the two SURVEY "accepted gaps" this
module closes):

* **T4 live rate** — a PUT to the worker applies the new rate to a
  LIVE Guava RateLimiter; in-flight fetchers see it at their next
  ``acquire`` (uReplicator-Worker/.../RateLimiterResource.java:41-62,
  FetcherManager.java:101-123). Before this module the engine applied
  a new rate only to routes started afterwards (restart semantics).
* **T9 non-stop topology** — the fetcher thread reconciles pending
  partition add/delete maps into the running fetch loop between polls,
  never stopping it (ConsumerFetcherThread.java:183-206). Before this
  module the engine restarted from checkpoint.

Spark-first translation: a Structured Streaming query's *source
options* are immutable after start, but the DRIVER runs arbitrary code
at every micro-batch boundary (``foreachBatch``). So the mutable
control state lives OUTSIDE the query in a single JSON document
(:class:`ControlDoc`, atomic replace on update), and the sink handler
re-reads it per batch — the same cadence at which the reference's
fetch loop re-checks its pending maps between polls. Consequences:

* **Rate** is enforced by the driver as a smoothed token-bucket sleep
  around the batch write (Guava ``SmoothBursty`` semantics: a batch
  "borrows" and the next one pays), bounding SUSTAINED throughput to
  ``records_per_sec``. A new rate applies at the next batch boundary —
  no restart, same checkpoint lineage, same ``runId``.
* **Topic remove** is the live blacklist filter (P7 as a per-batch
  predicate instead of a plan-time constant).
* **Topic add** needs no mechanism at all — it falls out of source
  discovery plus the P1 coalesce contract: the file/Kafka source
  notices new topics' records on its own (file listing / subscribed
  pattern), and ``replicate_transform`` maps unknown topics to
  themselves. The test pins this: records for a topic that did not
  exist at query start flow through with the SAME ``runId``.

Scale: the control read is one tiny driver-side file read per
micro-batch (seconds apart); nothing executor-side changes. The
blacklist reaches executors as an ``isin`` predicate on each batch's
plan — broadcast-trivial for the few-hundred-topic blacklists the
reference manages. The throttle sleeps the driver between batch
commits, which is exactly where a micro-batch engine's admission
control belongs (the executor fan-out inside a batch stays fully
parallel).
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ureplicator_spark.operators.replicate import replicate_with_tables

# Entries DynamicSink.log keeps (the newest), as ProgressMonitor bounds
# its events: a route runs indefinitely and adds one entry per batch.
LOG_CAP = 10_000


class ControlDoc:
    """Atomically-updated JSON control document shared by an operator
    (REST layer, CLI) and a running stream's per-batch handler.

    Keys: ``records_per_sec`` (float | None = unlimited) and
    ``blacklist`` (list[str], source-topic names). Updates are
    read-modify-write + ``os.replace`` so a concurrent reader sees
    either the old or the new document, never a torn one. A lock
    serializes writers in-process; cross-process writers are expected
    to be a single control plane (as in the reference, where Helix is
    the one writer)."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._lock = threading.Lock()

    def read(self) -> dict:
        try:
            with open(self.path) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            # absent or mid-create: default = unlimited, no blacklist
            return {}

    def update(self, **fields) -> dict:
        with self._lock:
            doc = self.read()
            doc.update(fields)
            # the default doc path sits in a checkpoint dir Spark has
            # not created yet when a route seeds its doc
            os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
            tmp = f"{self.path}.tmp.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(doc, fh)
            os.replace(tmp, self.path)
            return doc

    # -- convenience faces the Engine/REST layer calls ----------------------
    def set_rate(self, records_per_sec: float | None) -> dict:
        return self.update(records_per_sec=records_per_sec)

    def set_blacklist(self, topics: list[str]) -> dict:
        return self.update(blacklist=sorted(topics))

    def set_topics(
        self, topic_mapping: dict[str, str], partition_counts: dict[str, int]
    ) -> dict:
        """Live topology override: next batch renames/remaps with THESE
        tables (present-but-empty = no renames; key absent = keep the
        route's static tables). The reference's runtime topic
        expand/whitelist reconciliation
        (ConsumerFetcherThread.java:183-206)."""
        return self.update(
            topic_mapping=dict(topic_mapping),
            partition_counts=dict(partition_counts),
        )


class DynamicSink:
    """``foreachBatch`` handler enforcing the live control document.

    Per micro-batch: read the doc, apply the replicate transform with
    the doc's CURRENT topic mapping and partition counts (falling back
    to the route's static tables when the doc has no override), drop
    blacklisted source topics, append the batch to the parquet sink,
    then throttle so sustained throughput stays ≤ ``records_per_sec``.
    Row counts ride the write job via one ``Observation`` (no second
    pass over the batch): the transform keeps one row per input row and
    the source ``topic`` column, so a single observe after it and ahead
    of the blacklist filter counts both ``rows_in`` and
    ``rows_written``.

    Applying the transform batch-side (instead of once in the
    streaming plan) is what makes the TOPOLOGY live: a runtime topic
    expand (`PUT /topics`, the reference's
    ConsumerFetcherThread.java:183-206 reconciliation) lands in the
    very next batch's lookup table — one ``VALUES`` LocalRelation
    rebuilt per batch (``replicate_with_tables``). Its broadcast is one
    small Spark job per batch next to the write job, whatever the
    batch's size.
    A custom P5 transform hook, when provided, is applied batch-side
    unchanged (it is a plain DataFrame→DataFrame callable) to the rows
    the blacklist keeps. A hook may drop, add or reshape rows, so no
    single observe sees both its input and its output: hook routes take
    a second ``Observation`` for ``rows_in``.

    The throttle is Guava-``SmoothBursty``-shaped: ``_next_free`` is
    the earliest instant the NEXT batch may commit; a batch of ``n``
    rows pushes it ``n/rate`` into the future and sleeps off whatever
    part of that is already due. Rate changes re-anchor at the current
    clock (no retroactive debt from the old rate).

    ``log`` records (batch_id, rows_in, rows_written, rate, blacklist,
    live_topology, slept_sec) per batch, keeping the newest ``LOG_CAP``
    — driver-side, what tests and the REST status endpoint read
    instead of racing wall clocks."""

    def __init__(
        self, control: ControlDoc, out_path: str, route=None, transform=None
    ) -> None:
        self.control = control
        self.out_path = out_path
        self.route = route
        self.transform = transform
        self.log: list[dict] = []
        self._next_free = 0.0

    def _replicate(self, batch_df: DataFrame, doc: dict) -> DataFrame:
        if self.route is None:
            return batch_df
        mapping = doc.get("topic_mapping")
        counts = doc.get("partition_counts")
        return replicate_with_tables(
            batch_df,
            self.route.topic_mapping if mapping is None else mapping,
            self.route.partition_counts if counts is None else counts,
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation

        doc = self.control.read()
        rate = doc.get("records_per_sec")
        blacklist = doc.get("blacklist") or []
        # consume-side exclusion on the SOURCE topic (P7) — matching
        # the reference's whitelist check in the fetch loop, not at the
        # producer.
        kept = ~F.col("topic").isin(blacklist) if blacklist else F.lit(True)
        rows = before = Observation()
        if self.transform is None:
            out = self._replicate(batch_df, doc).observe(
                rows,
                F.count(F.lit(1)).alias("rows_in"),
                F.count_if(kept).alias("rows_written"),
            )
            if blacklist:
                out = out.filter(kept)
        else:  # P5 hook: caller-owned semantics, after the blacklist
            before = Observation()
            out = batch_df.observe(before, F.count(F.lit(1)).alias("rows_in"))
            if blacklist:
                out = out.filter(kept)
            out = self.transform(out).observe(
                rows, F.count(F.lit(1)).alias("rows_written")
            )
        out.write.mode("append").parquet(self.out_path)
        rows_in = int(before.get["rows_in"])
        rows_written = int(rows.get["rows_written"])

        slept = 0.0
        if rate and rows_written > 0:
            now = time.monotonic()
            due = max(self._next_free, now) + rows_written / float(rate)
            slept = max(0.0, due - now)
            self._next_free = due
            if slept > 0:
                time.sleep(slept)
        else:
            self._next_free = time.monotonic()
        self.log.append(
            {
                "batch_id": batch_id,
                "rows_in": rows_in,
                "rows_written": rows_written,
                "rate": rate,
                "blacklist": list(blacklist),
                "live_topology": doc.get("topic_mapping") is not None,
                "slept_sec": round(slept, 3),
            }
        )
        if len(self.log) > LOG_CAP:
            del self.log[: len(self.log) - LOG_CAP]
