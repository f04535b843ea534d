"""HTTP/REST facade over ``Engine`` — the reference's user-facing
query language (controller/rest/ControllerRestApplication.java:40-72,
AdminRestletResource.java, TopicManagementRestletResource.java).

The reference serves control-plane queries over Restlet; here the same
routes are served straight from a stdlib socket (no extra
dependencies) delegating to the Engine's DataFrame methods. DataFrame
responses are materialized to JSON row lists — every endpoint returns
control-plane-sized results (O(#topics·#partitions)), never record
data, so the collect is bounded by design, exactly like the
reference's controller heap.

Request path: a fixed pool of reused handler threads, sized from
``session.host_cpus()`` with room for a few slow misses beside the
hits, each block in ``accept()`` on the one listening socket, so the
kernel hands a connection to an idle thread with no acceptor thread
or queue between them; a connection that arrives while every thread
is busy waits in the listen backlog (128). The thread reads the
request into one buffer with a ``recv`` loop and parses the request
line and header fields there, with stdlib's limits (a header line
over 64 KiB or more than 100 fields answers 431, a request line over
64 KiB 414, a malformed one 400, an HTTP/2+ version 505). It answers
with an ``HTTP/1.0`` status line, headers and body in one ``sendall``
and closes the connection. A connection that sends or takes nothing
for ``CONNECTION_TIMEOUT_S`` (read per connection) is dropped, so an
idle client holds a thread for a bounded time.

Stop: ``RestServer.stop`` sets a flag and makes one loopback
connection per thread, which wakes each thread blocked in
``accept()`` on every platform (closing the socket does not); a
thread busy with a request ends after it, waited for at most
``CONNECTION_TIMEOUT_S``; then the socket closes.

Reads are served from answers keyed by input snapshot, the analog of
the map uReplicator's OffsetMonitor refreshes and its ``/offset`` and
``/noprogress`` routes read: the log-derived routes (offsets,
noprogress, validation, instances, workloadinfo, expected_workers) go
through ``Engine.answer`` and ``/query/{name}`` through
``Engine.collect_query``, which recompute only when the files behind
the answer change. A stored answer keeps the response body encoded
from its rows, so a route that returns a whole answer writes those
bytes on a hit and encodes nothing; routes that pick or unwrap rows
(``/offset/{t}/{p}``, ``/instances/{i}``, ``/admin/expected_workers``)
encode their pick per request. Concurrent misses of one read compute
once; the other requests wait for that computation. A log that is not
a fixed set of local files (Kafka, a Python data source, a stream) is
recomputed on every request. Routes over mutable engine state (topics,
blacklist, routes, health) read it on every request.

Routes:
  GET    /health                       → Engine.health()
  GET    /query                        → registered analytics query names
  GET    /query/{name}[?limit=N]       → run one registry query (capped rows)
  GET    /query/{name}/plan[?mode=M]   → EXPLAIN (physical plan text)
  POST   /sql {sql, limit?}            → ad-hoc SELECT over registered tables
  POST   /routes {src_cluster,dst_cluster,route_id,source_path,
                  checkpoint_dir,out_path[,control_path,available_now]}
                                        → create + start a live route
  GET    /routes                        → route registry
  GET    /routes/{r}/batches            → per-batch decision log
  DELETE /routes/{r}                    → stop + drop a route
  GET    /topics                       → topics registry
  POST   /topics        {topic,dst_topic?,partitions?} → add_topic
  PUT    /topics        {topic,partitions}             → expand_topic
  DELETE /topics/{topic}                → delete_topic
  GET    /offset/{topic}/{partition}    → one partition's latest offset
  GET    /offsets[?as_of_sec=]          → latest (or lag vs commit)
  GET    /noprogress?t1_sec=&t2_sec=    → stalled partitions
  GET    /validation                    → assignment validation counts
  GET    /instances                     → assignment view
  GET    /instances/{instance}          → one instance's assignment
  GET    /admin/workloadinfo            → windowed workload
  GET    /admin/expected_workers        → worker-count estimate
  GET    /admin/autobalancing_status    → autobalancing flag
  POST   /admin/{enable,disable}_autobalancing → toggle
  GET    /blacklist                     → blacklist rows
  POST   /blacklist     {topic}         → blacklist_add
  DELETE /blacklist/{topic}             → blacklist_remove
  PUT    /ratelimiter?messagerate=N     → set_rate
"""

from __future__ import annotations

import json
import re
import socket
import threading
import time
import traceback
from email.utils import formatdate
from http import HTTPStatus
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ureplicator_spark.api import Engine
from ureplicator_spark.session import host_cpus

# seconds a connection may wait on its client (for request bytes, or to
# take the response) before its handler thread drops it
CONNECTION_TIMEOUT_S = 10.0
# stdlib's request limits (http.client's _MAXLINE and _MAXHEADERS)
_MAX_LINE = 65536
_MAX_HEADERS = 100
# connections the kernel holds while every handler thread is busy
_BACKLOG = 128
_METHODS = frozenset({"GET", "POST", "PUT", "DELETE"})
_REASONS = {s.value: s.phrase for s in HTTPStatus}
_VERSION = re.compile(r"HTTP/(\d{1,10})\.(\d{1,10})")
_FIELD_NAME = re.compile(r"[-!#$%&'*+.^_`|~0-9A-Za-z]+")
# the end of the request head: a line end followed by an empty line
_END_OF_HEAD = re.compile(rb"\n\r?\n")


def _rows(rows: list) -> list[dict]:
    return [row.asDict(recursive=True) for row in rows]


def _df_rows(df: DataFrame) -> list[dict]:
    return _rows(df.collect())


def _json(payload) -> bytes:
    # default=str: analytics rows carry dates/decimals/arrays the
    # stdlib encoder rejects; stringifying is the REST-safe fallback
    return json.dumps(payload, default=str).encode()


def _encode(rows: list) -> bytes:
    """The response body of a list of rows (what a stored answer keeps)."""
    return _json(_rows(rows))


class _BadRequest(Exception):
    """The request itself is malformed: answered 400."""


class _Headers(dict):
    """Request header fields keyed by lower-cased name; ``get`` matches
    a name case-insensitively and a repeated field keeps its first
    value, as ``email.message.Message.get`` does."""

    def get(self, name: str, default=None):
        return dict.get(self, name.lower(), default)


class _Handler:
    """One connection: read its request, answer it, and leave closing
    the socket to the caller. Routes read ``command``, ``path`` and
    ``headers`` and answer through ``_send``."""

    engine: Engine  # set by RestServer

    def __init__(self, sock: socket.socket) -> None:
        self.sock = sock
        self.command: str | None = None
        self.path = ""
        self.headers = _Headers()
        self._rest = b""  # bytes read past the head: the body's start

    def handle(self) -> None:
        if self._read_request():
            if self.command in _METHODS:
                self._route(self.command)
            else:
                self._send(501, {"error": f"Unsupported method ({self.command!r})"})

    # -- plumbing ----------------------------------------------------------
    def _read_request(self) -> bool:
        """Read the request line and header fields into ``command``,
        ``path`` and ``headers``; answer and return False when they are
        malformed or over the limits."""
        buf = bytearray()
        while (end := _END_OF_HEAD.search(buf)) is None:
            if buf[:1] in (b"\r", b"\n"):
                break  # an empty request line: the head ends there
            lines = buf.count(b"\n")
            if len(buf) - buf.rfind(b"\n") > _MAX_LINE:
                return self._refuse(414 if not lines else 431, "Line too long")
            if lines > _MAX_HEADERS + 1:
                return self._refuse(431, "Too many headers")
            chunk = self.sock.recv(65536)
            if not chunk:
                break  # the client stopped sending: the head is what came
            buf += chunk
        if end is None:
            head, self._rest = bytes(buf), b""
        else:
            head, self._rest = bytes(buf[: end.start()]), bytes(buf[end.end():])
        request_line, *fields = head.split(b"\n")
        if len(request_line) >= _MAX_LINE:
            return self._refuse(414, "Request-URI Too Long")
        line = str(request_line, "iso-8859-1").rstrip("\r")
        words = line.split()
        if not words:
            return False  # an empty line is no request: nothing to answer
        version = _VERSION.fullmatch(words[-1])
        if len(words) != 3 or version is None:
            return self._refuse(400, f"Bad request syntax ({line!r})")
        if int(version[1]) >= 2:
            return self._refuse(505, f"Invalid HTTP version ({words[2]})")
        self.command, path, _ = words
        # '//host/x' would read as a network location to urlparse
        self.path = "/" + path.lstrip("/") if path.startswith("//") else path
        if len(fields) > _MAX_HEADERS:
            return self._refuse(431, "Too many headers")
        headers = self.headers
        for raw in fields:
            if len(raw) >= _MAX_LINE:
                return self._refuse(431, "Line too long")
            name, colon, value = str(raw, "iso-8859-1").partition(":")
            if not colon or not _FIELD_NAME.fullmatch(name):
                return self._refuse(400, f"Bad header line ({name!r})")
            value = value.strip()
            key = name.lower()
            if headers.setdefault(key, value) != value and key == "content-length":
                return self._refuse(400, "Conflicting Content-Length")
        return True

    def _refuse(self, code: int, message: str) -> bool:
        self._send(code, {"error": message})
        return False

    def _send(self, code: int, payload) -> None:
        """``payload`` as JSON; bytes are a body encoded already. The
        status line, headers and body go out in one send."""
        body = payload if isinstance(payload, bytes) else _json(payload)
        head = (
            f"HTTP/1.0 {code} {_REASONS[code]}\r\n"
            "Server: ureplicator-spark\r\n"
            f"Date: {formatdate(usegmt=True)}\r\n"
            "Content-Type: application/json\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        )
        self.sock.sendall(head.encode("latin-1") + body)

    def _body(self) -> dict:
        # a length that is not a non-negative integer is refused before
        # any read: a negative one would read until the client closes
        raw = self.headers.get("Content-Length") or "0"
        try:
            n = int(raw)
        except ValueError:
            n = -1
        if n < 0:
            raise _BadRequest(f"bad Content-Length {raw!r}")
        if not n:
            return {}
        data = self._rest
        while len(data) < n and (chunk := self.sock.recv(n - len(data))):
            data += chunk
        try:
            return json.loads(data[:n] or b"{}")
        except json.JSONDecodeError:
            return {}

    def _route(self, method: str) -> None:
        url = urlparse(self.path)
        # unquote AFTER splitting so %2F inside a segment (e.g. a route
        # name) cannot inject extra path components
        parts = [unquote(p) for p in url.path.split("/") if p]
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        try:
            handled = self._dispatch(method, parts, q)
        except _BadRequest as e:
            self._send(400, {"error": str(e)})
            return
        except (KeyError, ValueError) as e:
            self._send(404, {"error": str(e)})
            return
        except Exception as e:  # noqa: BLE001 — a handler bug must
            # surface as HTTP 500, not kill the connection thread and
            # leave the client with a dropped socket.
            self._send(500, {"error": f"{type(e).__name__}: {e}"})
            return
        if handled is None:
            self._send(404, {"error": f"no route {method} {url.path}"})
        else:
            self._send(*handled)

    # -- routing table -----------------------------------------------------
    def _dispatch(self, method: str, parts: list[str], q: dict):
        eng = self.engine
        key = (method, parts[0] if parts else "")
        if key == ("GET", "health"):
            return 200, eng.health()
        if key == ("GET", "query"):
            if len(parts) == 1:
                return 200, {"queries": eng.query_names()}
            if len(parts) == 3 and parts[2] == "plan":
                mode = q.get("mode", "formatted")
                return 200, {
                    "query": parts[1],
                    "mode": mode,
                    "plan": eng.explain_query(parts[1], mode=mode),
                }
            limit = int(q.get("limit", "1000"))
            # collect_query releases any caches the query pinned —
            # unbounded REST traffic must not grow the block store
            return 200, eng.collect_query(parts[1], limit=limit, encode=_encode)
        if key == ("POST", "sql"):
            b = self._body()
            return 200, _rows(eng.collect_sql(b["sql"], limit=int(b.get("limit", 1000))))
        if key == ("GET", "routes") and len(parts) == 1:
            return 200, _df_rows(eng.routes.to_df().filter(F.col("route") != ""))
        if key == ("POST", "routes"):
            # route creation over REST — the Manager flow
            # (TopicManagementRestletResource.java:148-221): build the
            # route from the request, start it live-controlled. Paths
            # (source, checkpoint, sink) come from the request body the
            # way the reference takes them from the controller config.
            b = self._body()
            try:
                created = eng.create_route(
                    src_cluster=b["src_cluster"],
                    dst_cluster=b["dst_cluster"],
                    route_id=b.get("route_id", 0),
                    source_path=b["source_path"],
                    checkpoint_dir=b["checkpoint_dir"],
                    out_path=b["out_path"],
                    control_path=b.get("control_path"),
                    available_now=bool(b.get("available_now", False)),
                )
            except ValueError as e:  # duplicate route → 409 like the ref
                return 409, {"error": str(e)}
            return 201, created
        if key == ("GET", "routes") and len(parts) == 3 and parts[2] == "batches":
            # per-batch decision log of a live dynamic route: rows
            # written, applied rate, blacklist, sleep — the newest
            # dynamic.LOG_CAP batches
            job = eng.routes.jobs.get(parts[1])
            if job is None:
                raise KeyError(parts[1])
            log = job.dynamic_sink.log if job.dynamic_sink is not None else []
            return 200, {"route": parts[1], "batches": log}
        if key == ("DELETE", "routes") and len(parts) == 2:
            # route teardown: stop the streaming query (checkpoint
            # state survives — re-adding the route resumes exactly
            # where it left off) and drop it from the registry
            if eng.routes.remove(parts[1]) is None:
                raise KeyError(parts[1])
            return 200, {"removed": parts[1]}
        if key == ("GET", "topics"):
            return 200, _df_rows(eng.topics().filter(F.col("topic") != ""))
        if key == ("POST", "topics"):
            b = self._body()
            eng.add_topic(b["topic"], b.get("dst_topic"), b.get("partitions"))
            return 201, {"added": b["topic"]}
        if key == ("PUT", "topics"):
            b = self._body()
            eng.expand_topic(b["topic"], b["partitions"])
            return 200, {"expanded": b["topic"], "partitions": b["partitions"]}
        if key == ("DELETE", "topics") and len(parts) == 2:
            eng.delete_topic(parts[1])
            return 200, {"deleted": parts[1]}
        if key == ("GET", "offset") and len(parts) == 3:
            topic, partition = parts[1], int(parts[2])
            for row in eng.answer("offsets"):
                if row["topic"] == topic and row["partition"] == partition:
                    return 200, row.asDict(recursive=True)
            raise KeyError(f"{parts[1]}/{parts[2]}")
        if key == ("GET", "offsets"):
            as_of = q.get("as_of_sec")
            return 200, eng.answer("offsets", int(as_of) if as_of else None, encode=_encode)
        if key == ("GET", "noprogress"):
            return 200, eng.answer(
                "no_progress", int(q["t1_sec"]), int(q["t2_sec"]), encode=_encode
            )
        if key == ("GET", "validation") and parts[1:] == ["instance"]:
            return 200, eng.answer("validate_by_instance", encode=_encode)
        if key == ("GET", "validation"):
            return 200, eng.answer("validate", encode=_encode)
        if key == ("GET", "instances") and len(parts) == 2:
            for row in eng.answer("assignment_view"):
                if row["instance"] == parts[1]:
                    return 200, row.asDict(recursive=True)
            raise KeyError(parts[1])
        if key == ("GET", "instances"):
            return 200, eng.answer("assignment_view", encode=_encode)
        if key == ("GET", "admin") and parts[1:] == ["workloadinfo"]:
            return 200, eng.answer("workload", encode=_encode)
        if key == ("GET", "admin") and parts[1:] == ["expected_workers"]:
            rows = _rows(eng.answer("expected_workers"))
            if not rows:
                raise KeyError("no workload data to estimate workers from")
            return 200, rows[0]
        if key == ("GET", "admin") and parts[1:] == ["autobalancing_status"]:
            return 200, {"autobalancing": eng.autobalancing_status()}
        if key == ("POST", "admin") and parts[1:] == ["enable_autobalancing"]:
            eng.enable_autobalancing()
            return 200, {"autobalancing": True}
        if key == ("POST", "admin") and parts[1:] == ["disable_autobalancing"]:
            eng.disable_autobalancing()
            return 200, {"autobalancing": False}
        if key == ("GET", "blacklist"):
            return 200, _df_rows(eng.blacklist().filter(F.col("topic") != ""))
        if key == ("POST", "blacklist"):
            b = self._body()
            eng.blacklist_add(b["topic"])
            return 201, {"blacklisted": b["topic"]}
        if key == ("DELETE", "blacklist") and len(parts) == 2:
            eng.blacklist_remove(parts[1])
            return 200, {"unblacklisted": parts[1]}
        if key == ("PUT", "ratelimiter"):
            # Reference applies the new rate to a LIVE RateLimiter
            # (RateLimiterResource.java:41-62). Dynamic routes (live
            # ControlDoc) match that: next micro-batch, no restart.
            # Kafka routes read maxOffsetsPerTrigger at start and are
            # listed as pending-restart (Engine.set_rate docstring).
            return 200, eng.set_rate(int(q["messagerate"]))
        return None


class _PoolServer:
    """A listening socket served by ``workers`` reused handler threads,
    each blocking in ``accept()`` on it: the kernel hands each
    connection to one idle thread, and a connection that arrives while
    every thread is busy waits in the listen backlog. Each connection
    is served by a fresh ``RequestHandlerClass``, looked up when it is
    accepted, so a class swapped in after ``start`` serves the next
    one."""

    def __init__(self, address, handler, workers: int) -> None:
        self.RequestHandlerClass = handler
        self.socket = socket.create_server(address, backlog=_BACKLOG)
        self.server_address = self.socket.getsockname()[:2]
        self._closing = False
        self.workers = [
            threading.Thread(target=self._work, name=f"ureplicator-rest-{i}", daemon=True)
            for i in range(workers)
        ]

    def start(self) -> None:
        for t in self.workers:
            t.start()

    def _work(self) -> None:
        while not self._closing:
            try:
                sock, _ = self.socket.accept()
            except OSError:
                if self._closing:
                    return
                time.sleep(0.01)  # e.g. out of descriptors: retry shortly
                continue
            try:
                if self._closing:
                    return  # a wake-up from close(), or a client it turns away
                sock.settimeout(CONNECTION_TIMEOUT_S)
                self.RequestHandlerClass(sock).handle()
            except OSError:
                pass  # the client went away or timed out: nothing to answer
            except Exception:  # noqa: BLE001 — the thread must serve on
                traceback.print_exc()
            finally:
                sock.close()

    def close(self) -> None:
        """End the threads, then close the socket. A thread blocked in
        ``accept()`` wakes for one loopback connection per thread (closing
        the socket would not wake it on every platform); a thread on an
        idle connection is free within the timeout, and one computing an
        answer ends after it (daemon: exit never waits)."""
        self._closing = True
        running = [t for t in self.workers if t.is_alive()]
        host, port = self.server_address
        wake = "127.0.0.1" if host in ("", "0.0.0.0") else host
        for _ in running:
            try:
                socket.create_connection((wake, port), timeout=1.0).close()
            except OSError:
                break  # a full backlog: the busy threads see the flag after their request
        deadline = time.monotonic() + CONNECTION_TIMEOUT_S
        for t in running:
            t.join(timeout=max(0.0, deadline - time.monotonic()))
        self.socket.close()


class RestServer:
    """REST server bound to ``Engine``, served by a pool of reused
    handler threads. ``port=0`` picks a free port (tests); ``.port``
    reports the bound one."""

    def __init__(self, engine: Engine, host: str = "127.0.0.1", port: int = 0) -> None:
        handler = type("BoundHandler", (_Handler,), {"engine": engine})
        # twice the cores, at least 8: a few cold misses, each holding a
        # thread for about a second, leave threads free for hits
        workers = max(8, 2 * host_cpus())
        self._httpd = _PoolServer((host, port), handler, workers)

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "RestServer":
        self._httpd.start()
        return self

    def stop(self) -> None:
        self._httpd.close()


def serve(engine: Engine, host: str = "127.0.0.1", port: int = 8000) -> RestServer:
    """Start the REST facade on its handler threads and return it."""
    return RestServer(engine, host, port).start()
