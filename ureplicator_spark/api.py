"""Engine — the Python API mirroring the reference's REST surface
(SURVEY.md §2.10). Each GET endpoint is a DataFrame-returning method;
each POST/DELETE mutates the route/topic registry.

Controller routes → methods:
  POST/DELETE /topics[/{topic}]      → add_topic / delete_topic
  GET  /topics                       → topics()
  GET  /offset/{topic}/{partition}   → offsets()
  GET  /noprogress                   → no_progress()
  GET  /validation                   → validate() / validation_counts()
  GET  /instances                    → assignment_view()
  GET  /admin/workloadinfo           → workload() / expected_workers()
  GET/POST/DELETE /blacklist         → blacklist ops
  PUT  /ratelimiter?messagerate=     → set_rate()
  GET  /health                       → health()
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ureplicator_spark import fixtures as FX
from ureplicator_spark import standing
from ureplicator_spark.operators import assignment as ASG
from ureplicator_spark.operators import lag as LAG
from ureplicator_spark.operators import whitelist as WL
from ureplicator_spark.operators import workload as WKL
from ureplicator_spark.session import tune
from ureplicator_spark.streaming.replication import (
    ReplicationJob,
    Route,
    RouteRegistry,
)

# answers one engine keeps; past it the least recently read goes first
ANSWER_CAP = 256

# DataFrame methods whose answer depends on the log alone (never on the
# topic table, blacklist or rate), so ``answer`` may serve them stored
LOG_READS = frozenset({
    "offsets", "no_progress", "workload", "expected_workers", "validate",
    "validate_by_instance", "assignment_view",
})

# analyzed-plan leaves whose rows are fixed by their input files or are
# in the plan itself; any other leaf leaves a log without a snapshot
_FILE_LEAVES = {"LogicalRelation/HadoopFsRelation", "LocalRelation", "Range"}


def _local_input_files(df: DataFrame) -> list[str] | None:
    """Local paths of every file ``df`` reads, or ``None`` when some of
    its data comes from elsewhere (Kafka, a Python data source, a
    stream, a driver-side RDD, a remote filesystem)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRelation":
            kind += "/" + leaf.relation().getClass().getSimpleName()
        if kind not in _FILE_LEAVES:
            return None
    paths = []
    for uri in df.inputFiles():
        url = urlparse(uri)
        if url.scheme not in ("", "file"):
            return None
        paths.append(unquote(url.path))
    return paths


class _Answer:
    """One stored answer: its collected rows and, once a reader asked
    for it, the response body encoded from them. Racing first readers
    of the body encode equal bytes, so the body needs no lock."""

    __slots__ = ("rows", "_body")

    def __init__(self, rows: list) -> None:
        self.rows, self._body = rows, None

    def body(self, encode) -> bytes:
        if self._body is None:
            self._body = encode(self.rows)
        return self._body


class _Flight:
    """A computation in progress for one ``(key, snapshot)``: callers
    that miss on it wait for ``done`` and read ``answer``, which stays
    ``None`` when the computation raised."""

    __slots__ = ("done", "answer")

    def __init__(self) -> None:
        self.done, self.answer = threading.Event(), None


class _AnswerMemo:
    """Answers keyed by ``(domain, read, args)``. Each domain ("log",
    "registry") holds answers for one input snapshot: a lookup with a
    different snapshot drops the domain's answers first, and rows
    computed on a snapshot that has since been superseded are not
    stored. Concurrent misses of one key and snapshot share a single
    computation; its waiters count as hits."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._answers: OrderedDict = OrderedDict()
        self._snaps: dict = {}
        self._flights: dict = {}
        self.hits = self.misses = 0

    def get(self, key: tuple, snap, compute, encode=None):
        """Stored rows for ``key`` at ``snap``, else ``compute()``'s;
        with ``encode``, the body ``encode(rows)`` instead, encoded once
        per stored answer. ``snap=None`` means the input has no
        identity: always compute, never store."""
        answer = self._lookup(key, snap, compute, encode)
        return answer.body(encode) if encode is not None else list(answer.rows)

    def _lookup(self, key: tuple, snap, compute, encode) -> _Answer:
        if snap is None:
            return _Answer(compute())
        domain = key[0]
        while True:
            with self._lock:
                if self._snaps.get(domain) != snap:
                    for k in [k for k in self._answers if k[0] == domain]:
                        del self._answers[k]
                    self._snaps[domain] = snap
                answer = self._answers.get(key)
                if answer is not None:
                    self._answers.move_to_end(key)
                    self.hits += 1
                    return answer
                flight = self._flights.get((key, snap))
                if flight is None:
                    flight = self._flights[key, snap] = _Flight()
                    self.misses += 1
                    break
            flight.done.wait()
            if flight.answer is not None:
                with self._lock:
                    self.hits += 1
                return flight.answer
            # the computation raised: look again, and one waiter computes
        answer = None
        try:
            answer = _Answer(compute())
            if encode is not None:
                answer.body(encode)
        finally:
            with self._lock:
                if answer is not None and self._snaps.get(domain) == snap:
                    self._answers[key] = answer
                    while len(self._answers) > ANSWER_CAP:
                        self._answers.popitem(last=False)
                del self._flights[key, snap]
            flight.answer = answer
            flight.done.set()
        return answer

    def stats(self) -> dict:
        with self._lock:
            return {"entries": len(self._answers), "hits": self.hits, "misses": self.misses}


class Engine:
    """Facade over a record log (Kafka or record-shaped storage) +
    route registry. ``log_df`` must expose the engine record view:
    (topic, partition, offset, ts_sec, value_size).

    Reads are served from answers keyed by input snapshot — the analog
    of uReplicator's OffsetMonitor, whose REST reads return a map the
    monitor refreshed rather than recomputing per request. ``answer``
    (the ``LOG_READS``) keys on ``(path, size, mtime_ns)`` of every
    file the log reads; ``collect_query`` keys on
    ``standing.snapshot(analytics_dir)``. A stored answer is valid
    exactly while those inputs are unchanged: no TTL. A log that is not
    a fixed set of local files (Kafka, a Python data source, a stream)
    has no snapshot and is recomputed on every request, as is a
    registry read without a local ``analytics_dir``. Reads of mutable
    engine state (topics, blacklist, health) are never stored.

    With ``encode`` (the REST layer's row encoder), ``answer`` and
    ``collect_query`` return the response body stored with the answer,
    so a hit writes bytes encoded once. Concurrent misses of one read
    and snapshot compute once: the others wait for that computation
    and are served its answer. When the log's snapshot changes, the
    recompute first re-lists the log's files, so it never reads through
    the listing the frame took before the change."""

    def __init__(
        self,
        spark: SparkSession,
        log_df: DataFrame | None = None,
        analytics_dir: str | None = None,
    ) -> None:
        self.spark = tune(spark)
        self.log = log_df
        # data directory the registry queries read (GET /query/<name>)
        self.analytics_dir = analytics_dir
        self._topics: dict[str, dict] = {}
        self._blacklist: set[str] = set()
        self._rate: int | None = None
        self._autobalancing = True
        # The REST facade serves requests on a pool of concurrent
        # handler threads; every control-plane mutation and snapshot read goes through
        # this lock so concurrent admin calls can't interleave a
        # half-applied topic/blacklist/rate update. RLock because
        # snapshot methods (topics/blacklist) are also called from
        # locked mutators' callers.
        self._mutex = threading.RLock()
        # the route table is guarded by the same lock
        self.routes = RouteRegistry(spark, self._mutex)
        self._memo = _AnswerMemo()
        # (log frame, its local input files or None), found once per frame
        self._log_files: tuple = (None, None)
        # the log snapshot its files were last listed at
        self._listed = None
        self._listing_lock = threading.Lock()

    # -- autobalancing toggle (POST /admin/{enable,disable}_autobalancing,
    #    GET /admin/autobalancing_status; AdminRestletResource.java:60-89) --
    def enable_autobalancing(self) -> None:
        with self._mutex:
            self._autobalancing = True

    def disable_autobalancing(self) -> None:
        with self._mutex:
            self._autobalancing = False

    def autobalancing_status(self) -> bool:
        with self._mutex:
            return self._autobalancing

    # -- topic management (POST/DELETE /topics) ----------------------------
    def _push_topics(self) -> None:
        """Propagate the topic table to every live ControlDoc: running
        dynamic routes rename/remap with the NEW mapping and partition
        counts at their next batch — the reference's runtime topic
        expand reconciled without a restart
        (ConsumerFetcherThread.java:183-206). Counts are keyed by the
        DESTINATION topic (the P2 remap joins on dst_topic)."""
        mapping = {t: v["dst"] for t, v in self._topics.items()}
        counts = {
            v["dst"]: v["partitions"]
            for v in self._topics.values()
            if v["partitions"] is not None
        }
        for job in self.routes.jobs.values():
            if job.control is not None:
                job.control.set_topics(mapping, counts)

    def add_topic(self, topic: str, dst_topic: str | None = None, partitions: int | None = None) -> None:
        with self._mutex:
            self._topics[topic] = {"dst": dst_topic or topic, "partitions": partitions}
            self._push_topics()

    def expand_topic(self, topic: str, partitions: int) -> None:
        with self._mutex:
            if topic not in self._topics:
                raise KeyError(topic)
            self._topics[topic]["partitions"] = partitions
            self._push_topics()

    def delete_topic(self, topic: str) -> None:
        with self._mutex:
            self._topics.pop(topic, None)
            self._push_topics()

    def topics(self) -> DataFrame:
        with self._mutex:
            rows = [(t, v["dst"], v["partitions"]) for t, v in self._topics.items()]
        return self.spark.createDataFrame(
            rows or [("", "", None)], "topic string, dst_topic string, partitions int"
        )

    # -- routes (manager /topics?src=&dst=) ---------------------------------
    def add_route(self, job: ReplicationJob) -> None:
        self.routes.add(job)

    def create_route(
        self,
        src_cluster: str,
        dst_cluster: str,
        route_id: int,
        source_path: str,
        checkpoint_dir: str,
        out_path: str,
        control_path: str | None = None,
        available_now: bool = False,
    ) -> dict:
        """Create AND start a replication route from request parameters
        — the Manager's whole route-creation flow
        (TopicManagementRestletResource.java:148-221 builds the route
        from the POSTed src/dst/routeid and hands it to
        ControllerHelixManager.java:1110-1206 to instantiate), which
        until r8 existed only as the Python ``ReplicationJob`` path.

        The route starts under a LIVE ControlDoc seeded with the
        engine's current control plane (rate, blacklist, topic
        topology), so a route created over REST is immediately
        steerable by ``PUT /ratelimiter`` / ``POST /blacklist`` /
        ``PUT /topics`` with no restart — identical posture to routes
        started via ``start_dynamic`` directly. Raises ``ValueError``
        on a duplicate route name (the reference 409s) and when Spark
        refuses a ``checkpoint_dir`` an active route already holds
        (the message keeps Spark's "already active" text).

        Concurrency/failure posture (r8 advisor): the name is RESERVED
        under the engine mutex, but the streaming-query start runs
        OUTSIDE it — a query start takes seconds and the src/
        checkpoint/out paths come straight from the untrusted REST
        body, so holding the lock would stall every other
        control-plane call behind one slow or doomed create. If the
        start fails, the reservation is rolled back so the name does
        not 409 forever for a route that never ran."""
        from ureplicator_spark.streaming.dynamic import ControlDoc

        with self._mutex:
            route = Route(
                src_cluster=src_cluster,
                dst_cluster=dst_cluster,
                route_id=int(route_id),
                topic_mapping={t: v["dst"] for t, v in self._topics.items()},
                partition_counts={
                    v["dst"]: v["partitions"]
                    for v in self._topics.values()
                    if v["partitions"] is not None
                },
            )
            if route.name in self.routes.jobs:
                raise ValueError(f"route {route.name} already exists")
            job = ReplicationJob(
                self.spark,
                route,
                checkpoint_dir=checkpoint_dir,
                source_kind="files",
                source_path=source_path,
            )
            control = ControlDoc(control_path or f"{checkpoint_dir}/control.json")
            if self._rate is not None:
                control.set_rate(self._rate)
            if self._blacklist:
                control.set_blacklist(sorted(self._blacklist))
            # reserve the name while holding the lock; start outside it
            self.routes.add(job)
        try:
            job.start_dynamic(out_path, control, available_now=available_now)
        except BaseException as e:
            # drop the dead reservation (remove() also stops the
            # query defensively if the start half-succeeded)
            self.routes.remove(route.name)
            if "already active" in str(e):
                # Spark refused a checkpoint an active route holds: a
                # conflict, like a duplicate name
                raise ValueError(str(e)) from e
            raise
        with self._mutex:
            # push current topology into the new route's doc (same
            # propagation every control-plane mutation does)
            self._push_topics()
            return {
                "route": route.name,
                "src_cluster": src_cluster,
                "dst_cluster": dst_cluster,
                "route_id": int(route_id),
                "active": bool(job.query and job.query.isActive),
            }

    # -- rate limiting (PUT /ratelimiter) -----------------------------------
    def set_rate(self, records_per_trigger: int) -> dict:
        """Set the replication rate for all routes, matching the
        reference's live Guava RateLimiter swap
        (RateLimiterResource.java:41-62, FetcherManager.java:101-123)
        wherever it can be matched:

        * Routes started with ``start_dynamic`` carry a live
          ``ControlDoc`` — the new rate is written there and the
          running query applies it at its NEXT micro-batch, no restart
          (``applied_live_routes``).
        * Kafka-source routes without a ``ControlDoc`` read
          ``maxOffsetsPerTrigger`` at query START: the new rate applies
          to routes created afterwards, while running ones keep the old
          rate until restarted from checkpoint
          (``running_routes_pending_restart``).
        * Files-source routes without a ``ControlDoc`` bound intake by
          bytes or files per trigger, never by records, so the rate
          does not reach them even after a restart; they are listed
          in neither list."""
        with self._mutex:
            self._rate = records_per_trigger
            pending, live = [], []
            for job in self.routes.jobs.values():
                job.route.max_records_per_trigger = records_per_trigger
                if job.control is not None:
                    job.control.set_rate(records_per_trigger)
                    if job.query is not None and job.query.isActive:
                        live.append(job.route.name)
                elif (
                    job.source_kind == "kafka"
                    and job.query is not None
                    and job.query.isActive
                ):
                    pending.append(job.route.name)
            return {
                "rate": records_per_trigger,
                "applied_to_new_routes": True,
                "applied_live_routes": sorted(live),
                "running_routes_pending_restart": sorted(pending),
            }

    # -- blacklist (GET/POST/DELETE /blacklist) ------------------------------
    def _push_blacklist(self) -> None:
        """Propagate the current blacklist to every live ControlDoc —
        running dynamic routes drop the topic at their next batch
        (P7 live, the reference's non-stop whitelist reconciliation)."""
        topics = sorted(self._blacklist)
        for job in self.routes.jobs.values():
            if job.control is not None:
                job.control.set_blacklist(topics)

    def blacklist_add(self, topic: str) -> None:
        with self._mutex:
            self._blacklist.add(topic)
            self._push_blacklist()

    def blacklist_remove(self, topic: str) -> None:
        with self._mutex:
            self._blacklist.discard(topic)
            self._push_blacklist()

    def blacklist(self) -> DataFrame:
        with self._mutex:
            rows = [(t,) for t in sorted(self._blacklist)]
        return self.spark.createDataFrame(rows or [("",)], "topic string")

    # -- analytics over the log ---------------------------------------------
    def _require_log(self) -> DataFrame:
        if self.log is None:
            raise ValueError("Engine needs log_df for analytics")
        return self.log

    def _log_snapshot(self) -> tuple | None:
        log = self._require_log()
        frame, files = self._log_files
        if frame is not log:
            files = _local_input_files(log)
            self._log_files = (log, files)
        if files is None:
            return None
        try:
            return id(log), standing.stat_files(files)
        except OSError:  # a file vanished: the read fails or re-lists
            return None

    def _list_log(self, snap: tuple) -> None:
        """Re-list the files of every file relation under the log once
        per snapshot. Spark's file index keeps the listing (file lengths
        included) it took when the frame was built, and a read through
        it skips the row groups a rewrite put past the old length."""
        with self._listing_lock:
            if self._listed == snap:
                return
            leaves = self._require_log()._jdf.queryExecution().analyzed().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if leaf.getClass().getSimpleName() == "LogicalRelation":
                    leaf.relation().location().refresh()
            self._listed = snap

    def answer(self, read: str, *args, encode=None):
        """Collected rows of ``getattr(self, read)(*args)`` for a read
        in ``LOG_READS``, stored until the log's files change; with
        ``encode``, the response body ``encode(rows)`` stored with them."""
        if read not in LOG_READS:
            raise ValueError(f"{read!r} is not a log-derived read")
        snap = self._log_snapshot()

        def compute() -> list:
            if snap is not None:
                self._list_log(snap)
            return getattr(self, read)(*args).collect()

        return self._memo.get(("log", read, args), snap, compute, encode)

    def offsets(self, as_of_sec: int | None = None) -> DataFrame:
        log = self._require_log()
        if as_of_sec is None:
            return LAG.latest_offsets(log)
        return LAG.consumer_lag(log, as_of_sec)

    def no_progress(self, t1_sec: int, t2_sec: int) -> DataFrame:
        return LAG.no_progress(self._require_log(), t1_sec, t2_sec)

    def workload(self) -> DataFrame:
        return WKL.workload_windows(self._require_log())

    def expected_workers(self) -> DataFrame:
        return WKL.expected_workers(self._require_log())

    def validate(self) -> DataFrame:
        return ASG.validation_counts(
            ASG.derive_assignments(self._require_log(), FX.N_INSTANCES)
        )

    def validate_by_instance(self) -> DataFrame:
        """GET /validation/instance — A9 per worker instance."""
        return ASG.validation_by_instance(
            ASG.derive_assignments(self._require_log(), FX.N_INSTANCES)
        )

    def assignment_view(self) -> DataFrame:
        return ASG.assignment_view(
            ASG.derive_assignments(self._require_log(), FX.N_INSTANCES)
        )

    def whitelist_candidates(self, dst_topics: DataFrame, exclude_regex: str = FX.EXCLUDE_REGEX) -> DataFrame:
        log = self._require_log()
        src = log.select("topic").distinct()
        current = self.topics().select("topic").filter(F.col("topic") != "")
        bl = self.blacklist().filter(F.col("topic") != "")
        return WL.whitelist_candidates(src, dst_topics, current, bl, exclude_regex)

    # -- state backup (S12, ClusterInfoBackupManager) -------------------------
    def backup(self, base_dir: str, snapshot_id: str) -> list[str]:
        """Snapshot assignment + topic registry to JSON (daily-dump
        analog, ClusterInfoBackupManager.java:88-134)."""
        from ureplicator_spark.operators.backup import backup_state

        paths = [
            backup_state(
                ASG.derive_assignments(self._require_log(), FX.N_INSTANCES),
                base_dir, "assignments", snapshot_id,
            ),
            backup_state(self.topics(), base_dir, "topics", snapshot_id),
        ]
        return paths

    def restore(self, base_dir: str, name: str, snapshot_id: str) -> DataFrame:
        from ureplicator_spark.operators.backup import restore_state

        return restore_state(self.spark, base_dir, name, snapshot_id)

    # -- archive (replay beyond retention) ------------------------------------
    def archive(self, root: str) -> None:
        from ureplicator_spark.sources.archive import write_archive

        write_archive(self._require_log(), root)

    def replay(self, root: str, topic: str | None = None,
               date_from: str | None = None, date_to: str | None = None) -> DataFrame:
        from ureplicator_spark.sources.archive import read_archive

        return read_archive(self.spark, root, topic, date_from, date_to)

    # -- health (GET /health) -------------------------------------------------
    def health(self) -> dict:
        jobs = self.routes.snapshot()
        active = [j for j in jobs.values() if j.query and j.query.isActive]
        return {
            "status": "OK",
            "n_topics": len(self._topics),
            "n_routes": len(jobs),
            "n_active_queries": len(active),
            "rate_limit": self._rate,
            "answers": self._memo.stats(),
        }

    # -- analytics passthrough (GET /query[/name]) ----------------------------
    def query_names(self) -> list[str]:
        """Every registered analytics query (SURVEY §2 inventory)."""
        from ureplicator_spark.queries import QUERIES

        return sorted(QUERIES)

    def run_query(self, name: str, limit: int = 1000) -> DataFrame:
        """Run one registered analytics query against the engine's
        configured data directory — the 'engine face' of the registry:
        a reference user's REST habit extended to the full analytic
        surface. ``limit`` caps the driver materialization (REST
        responses are control-plane-sized by contract; large results
        belong in a sink, not an HTTP body)."""
        from ureplicator_spark.queries import QUERIES

        if self.analytics_dir is None:
            raise ValueError("engine has no analytics_dir configured")
        if name not in QUERIES:
            raise KeyError(f"unknown query {name!r}")
        fn, _sql = QUERIES[name]
        return fn(self.spark, self.analytics_dir).limit(limit)

    def _pinned_rdds(self) -> dict:
        """Currently persisted RDDs, id → JavaRDD handle (read-only
        introspection — the hygiene tests gauge block-store growth
        with it)."""
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        return {e.getKey(): e.getValue() for e in jmap.entrySet().toArray()}

    def collect_query(self, name: str, limit: int = 1000, encode=None):
        """``run_query`` + collect inside a cache-pin scope — the
        materializing form the REST layer uses. The rows, and with
        ``encode`` the response body ``encode(rows)`` returned instead,
        are stored until a file under ``analytics_dir`` changes. Each
        request stats every file there (``standing.snapshot``), but
        walks the directory tree again only when a directory changed.

        Release is OWNERSHIP-based, not global: operators persist
        shared intermediates through ``caching.pin``, which registers
        the handle with this call's thread-local ``pin_scope``; the
        scope releases exactly those handles after the collect. The
        previous implementation diffed the session-global
        ``getPersistentRDDs`` set, which under concurrent REST handler
        threads / streaming foreachBatch handlers could unpersist
        RDDs pinned mid-job by ANOTHER thread (round-6 advisor) —
        a thread-local scope cannot, by construction, touch caches
        pinned by other threads."""
        from ureplicator_spark.caching import pin_scope

        def compute() -> list:
            with pin_scope():
                return self.run_query(name, limit=limit).collect()

        local = self.analytics_dir is not None and os.path.isdir(self.analytics_dir)
        snap = (self.analytics_dir, standing.snapshot(self.analytics_dir)) if local else None
        return self._memo.get(("registry", name, limit), snap, compute, encode)

    def collect_sql(self, query: str, limit: int = 1000) -> list:
        """``sql`` + collect. No cache hygiene needed: the statement is
        structurally restricted to read-only SELECT/WITH over the
        registered parquet views (``sql``'s subquery wrapper), so it
        can neither reach the Python operators that pin caches nor
        issue CACHE TABLE — there is nothing to release."""
        return self.sql(query, limit=limit).collect()

    def explain_query(self, name: str, mode: str = "formatted") -> str:
        """EXPLAIN for a registered query: the physical plan the engine
        would execute against its configured data directory — the
        plan-introspection face of the registry (what PLAN_REPORT.md
        audits in bulk, exposed per-query for operators). ``mode`` is
        any Spark explain mode (``simple``/``extended``/``codegen``/
        ``cost``/``formatted``)."""
        from ureplicator_spark.queries import QUERIES

        if self.analytics_dir is None:
            raise ValueError("engine has no analytics_dir configured")
        if name not in QUERIES:
            raise KeyError(f"unknown query {name!r}")
        if mode not in {"simple", "extended", "codegen", "cost", "formatted"}:
            raise ValueError(f"unknown explain mode {mode!r}")
        from ureplicator_spark.plans.inspect import plan_string

        fn, _sql = QUERIES[name]
        return plan_string(fn(self.spark, self.analytics_dir), mode=mode)

    def sql(self, query: str, limit: int = 1000) -> DataFrame:
        """Ad-hoc Spark SQL over the engine's registered tables (the
        driver fixture views) — the free-form complement of the named
        registry, completing the user-facing query language. Read-only
        by contract: only SELECT / WITH statements are accepted (a
        query service, not a DDL endpoint); results are row-capped
        like every REST response.

        Enforcement is structural, not lexical: the statement is
        wrapped as a subquery (``SELECT * FROM ( ... )``) before
        parsing, and no DML/DDL can appear inside a subquery — a
        prefix check alone is bypassable ("WITH s AS (...) INSERT
        OVERWRITE DIRECTORY ..." starts with WITH but writes files).
        The prefix check stays only for a friendlier error message."""
        if self.analytics_dir is None:
            raise ValueError("engine has no analytics_dir configured")
        head = query.lstrip().split(None, 1)
        if not head or head[0].upper() not in ("SELECT", "WITH"):
            raise ValueError("only SELECT/WITH statements are accepted")
        from ureplicator_spark.sources.parquet import register_views

        register_views(self.spark, self.analytics_dir)
        return self.spark.sql(f"SELECT * FROM (\n{query}\n) __readonly_q").limit(limit)
