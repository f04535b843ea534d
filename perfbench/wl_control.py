"""control-plane: the operator-facing REST surface.

An ``Engine`` over a seeded ``events.parquet`` (testdata schema, more
topics, planted stalls) serves through ``RestServer``.  A separate
client process runs a closed loop with one thread per core: ~90%
reads, ~10% writes that never change a read's answer.  Chosen because
small answers over a moderate log make per-request fixed cost
(planning, job launch, Py4J; the api and api_http layers) dominate,
and writes beside reads expose any read-path change that makes writes
wait on the Engine mutex."""

from __future__ import annotations

import json
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext

from perfbench import common as C
from perfbench import gen
from perfbench.client import request
from perfbench.oracle import digest, run_sql

N_EVENTS, WARM_EVENTS = 40_000, 5_000
WARM_PASSES = 4
T1, T2 = gen.SNAP_T1, gen.SNAP_T2

# (name, path, registry twin or None)
READS = [
    ("offsets_as_of", f"/offsets?as_of_sec={T1}", "consumer_lag"),
    ("offsets_latest", "/offsets", None),
    ("noprogress", f"/noprogress?t1_sec={T1}&t2_sec={T2}", "no_progress"),
    ("workloadinfo", "/admin/workloadinfo", "workload_windows"),
    ("expected_workers", "/admin/expected_workers", "expected_workers"),
    ("validation", "/validation", "validation_counts"),
    ("instances", "/instances", "assignment_view"),
    ("query_consumer_lag", "/query/consumer_lag", "consumer_lag"),
    ("query_workload_windows", "/query/workload_windows", "workload_windows"),
]
# Engine methods behind the read endpoints; traced runs time each call
ENGINE_READS = ("offsets", "no_progress", "workload", "expected_workers", "validate",
                "assignment_view", "run_query")


def generate(ctx) -> dict:
    from ureplicator_spark import fixtures as FX
    from ureplicator_spark.queries import QUERIES

    if (FX.SNAPSHOT_T1, FX.SNAPSHOT_T2) != (T1, T2):
        raise RuntimeError("registry snapshot times moved; regenerate the control-plane log")
    seed, warm_seed = ctx.args.seed, ctx.args.seed + 10_000_019
    data, warm = ctx.path("cp"), ctx.path("cp_warm")
    info = gen.control_plane_events(seed, data, 4_000 if ctx.args.smoke else N_EVENTS)
    gen.control_plane_events(warm_seed, warm, 1_000 if ctx.args.smoke else WARM_EVENTS)
    spec = []
    for name, path, twin in READS:
        entry = {"name": name, "path": path}
        if twin is not None:
            rows = run_sql(QUERIES[twin][1], data)
            entry["digest"] = digest(rows)
            if name == "noprogress":
                found = {(r["topic"], r["partition"]) for r in rows}
                missing = [s for s in map(tuple, info["stalls"]) if s not in found]
                ctx.check("planted_stalls_in_reference", len(info["stalls"]), len(missing))
        spec.append(entry)
    return {"data": data, "warm": warm, "spec": spec}


def _serve(spark, data: str, engine_cls=None):
    from ureplicator_spark import fixtures as FX
    from ureplicator_spark.api import Engine
    from ureplicator_spark.api_http import RestServer

    cls = engine_cls or Engine
    eng = cls(spark, FX.records(spark, data), analytics_dir=data)
    return eng, RestServer(eng).start()


def _get_all(port: int, paths: list[str], threads: int) -> None:
    with ThreadPoolExecutor(threads) as pool:
        for path, (status, _) in zip(paths, pool.map(
                lambda p: request(port, "GET", p, None, {}), paths)):
            if status != 200:
                raise RuntimeError(f"GET {path} answered {status}")


def warmup(ctx, spark, inputs) -> dict:
    """``WARM_PASSES`` concurrent passes over the reads on the warm-up
    log, then start the measured server."""
    state = dict(inputs)
    state["local"] = threading.local()
    state["plan_ms"] = []
    if ctx.tracer.enabled:
        _trace_layers(ctx.tracer, state["local"])
        state["local"].traced = True  # this thread starts both servers
    _, srv = _serve(spark, inputs["warm"])
    try:
        _get_all(srv.port, [path for _n, path, _t in READS] * WARM_PASSES, ctx.cores)
    finally:
        srv.stop()
    engine_cls = _traced_engine(ctx.tracer, state) if ctx.tracer.enabled else None
    state["eng"], state["srv"] = _serve(spark, inputs["data"], engine_cls)
    if ctx.tracer.enabled:
        _trace_handler(ctx.tracer, spark, state)
    return state


def reference(ctx, spark, state) -> None:
    """Single-client answers for endpoints with no registry twin."""
    for entry in state["spec"]:
        if "digest" not in entry:
            status, raw = request(state["srv"].port, "GET", entry["path"], None, {})
            if status != 200:
                raise RuntimeError(f"reference GET {entry['path']} answered {status}")
            body = json.loads(raw)
            entry["digest"] = digest(body if isinstance(body, list) else [body])


class _TimedFrame:
    """DataFrame stand-in whose ``collect`` is a span; everything else
    passes through."""

    def __init__(self, df, tracer: C.Tracer, plan_ms: list) -> None:
        self._df, self._tracer, self._plan_ms = df, tracer, plan_ms

    def collect(self):
        with self._tracer.span("api.collect", "api"):
            rows = self._df.collect()
        self._plan_ms.append(C.plan_phase_ms(self._df))
        return rows

    def __getattr__(self, name):
        return getattr(self._df, name)


def _traced_engine(tracer: C.Tracer, state: dict):
    from ureplicator_spark.api import Engine

    local = state["local"]

    def wrap(name):
        base = getattr(Engine, name)

        def method(self, *a, **k):
            if not getattr(local, "traced", False):
                return base(self, *a, **k)
            with tracer.span(f"api.{name}", "api"):
                df = base(self, *a, **k)
            return _TimedFrame(df, tracer, state["plan_ms"])

        return method

    return type("TracedEngine", (Engine,), {n: wrap(n) for n in ENGINE_READS})


def _trace_layers(tracer: C.Tracer, local) -> None:
    """Spans around the engine's sources and caching calls: the parquet
    table load behind ``fixtures.records`` (memoised per session, so it
    runs when a server starts) and the ``pin_scope`` that
    ``Engine.collect_query`` wraps around each registry read.  Handler
    threads record them only for traced requests."""
    from ureplicator_spark import caching, fixtures
    from ureplicator_spark.sources import parquet

    base_load, base_scope = parquet.load_table, caching.pin_scope

    def span(name, layer):
        return tracer.span(name, layer) if getattr(local, "traced", False) else nullcontext()

    def load_table(spark, sf_dir, name):
        with span("sources.load_table", "sources"):
            return base_load(spark, sf_dir, name)

    @contextmanager
    def pin_scope(*a, **k):
        with span("caching.pin_scope", "caching"), base_scope(*a, **k) as pins:
            yield pins

    parquet.load_table = fixtures.load_table = load_table
    caching.pin_scope = pin_scope


def _trace_handler(tracer: C.Tracer, spark, state: dict) -> None:
    """Record a server-side span per traced request, joined to the
    client's span by the request id, and tag its Spark jobs."""
    httpd = state["srv"]._httpd
    base = httpd.RequestHandlerClass
    local, sc = state["local"], spark.sparkContext

    def _route(self, method):
        req = self.headers.get("X-Request-Id")
        local.traced = self.headers.get("X-Trace") == "1"
        if local.traced:
            sc.setJobGroup(f"req:{req}", "perfbench request")
        span = (tracer.span("api_http.handle", "api_http", req=req, parent=f"c:{req}")
                if local.traced else nullcontext())
        with span:
            base._route(self, method)

    httpd.RequestHandlerClass = type("TracedHandler", (base,), {"_route": _route})


def measure(ctx, spark, state, mon) -> dict:
    seconds = ctx.args.seconds
    with open(ctx.path("spec.json"), "w") as fh:
        json.dump(state["spec"], fh)
    cmd = [sys.executable, "-m", "perfbench.client", "--port", str(state["srv"].port),
           "--seconds", str(seconds), "--threads", str(ctx.cores), "--seed",
           str(ctx.args.seed), "--spec", ctx.path("spec.json"), "--out", ctx.path("client.json")]
    if ctx.tracer.enabled:
        cmd.append("--trace")
    if ctx.args.plant_fault:
        cmd.append("--plant-fault")
    stages = C.StageStats(spark)
    stage0, mark = stages.max_stage_id(), mon.mark()
    client = subprocess.Popen(cmd, cwd=ctx.root)
    mon.exclude.add(client.pid)
    if client.wait(timeout=seconds + 150) != 0:
        raise RuntimeError("REST client failed")
    app_cpu_s = mon.busy_cpu_s(mark)
    task_cpu_ms = stages.totals(stage0)["cpu_ms"]
    with open(ctx.path("client.json")) as fh:
        recs = json.load(fh)

    ms = lambda r: (r["t1"] - r["t0"]) / 1e6
    reads = [ms(r) for r in recs if r["kind"] == "read"]
    writes = [ms(r) for r in recs if r["kind"] == "write"]
    # throughput counts requests completed inside the measured window;
    # those still in flight at its end are checked but not counted
    t_end = min(r["t0"] for r in recs) + seconds * 1e9
    done = sum(1 for r in recs if r["t1"] <= t_end)
    for kind in ("read", "write"):
        mine = [r for r in recs if r["kind"] == kind]
        bad = [r for r in mine if not r["ok"]]
        detail = ", ".join(sorted({f"{r['ep']}:{r['status']}" for r in bad}))
        ctx.check(f"rest_{kind}s", len(mine), len(bad), detail)

    tail_q = C.tail_percentile(len(reads))
    ctx.layer.update({
        "rest.read_tail_ms": C.percentile(reads, tail_q),
        "rest.write_p50_ms": C.median(writes),
    })
    ctx.row("rest.read_p50_ms", C.median(reads), "ms", len(reads))
    if tail_q > 50:
        ctx.row(f"rest.read_p{tail_q:g}_ms", C.percentile(reads, tail_q), "ms", len(reads))
    ctx.row("rest.write_p50_ms", C.median(writes), "ms", len(writes))
    ctx.row("rest.requests_s", done / seconds, "1/s", done)
    if ctx.tracer.enabled:
        _layer_metrics(ctx, spark, state, recs)
    cpu_us = app_cpu_s / len(recs) * 1e6
    task_us = task_cpu_ms / len(recs) * 1e3
    ctx.row("rest.task_cpu_ms_per_request", task_us / 1e3, "ms", len(recs))
    return {"throughput_per_s": done / seconds, "latency_p50_ms": C.median(reads),
            "cpu_us_per_op": cpu_us, "cpu.task_us_per_op": task_us}


def _layer_metrics(ctx, spark, state, recs: list) -> None:
    tracer = ctx.tracer
    for r in recs:
        if r["traced"]:
            tracer.add("client.request", "harness", r["t0"], r["t1"], None, r["req"],
                       sid=f"c:{r['req']}")
    spans = tracer.spans
    by_parent: dict = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    dur = lambda s: (s["end"] - s["start"]) / 1e6
    builds = [dur(s) for s in spans if s["layer"] == "api" and s["name"] != "api.collect"]
    collects = [dur(s) for s in spans if s["name"] == "api.collect"]
    handle = [dur(s) - sum(dur(c) for c in by_parent.get(s["id"], []))
              for s in spans if s["name"] == "api_http.handle"]
    loads = [dur(s) for s in spans if s["name"] == "sources.load_table"]
    groups = C.StageStats(spark).jobs_by_group()
    traced_reads = [r for r in recs if r["traced"] and r["kind"] == "read"]
    jobs = [groups.get(f"req:{r['req']}", []) for r in traced_reads]
    n = max(1, len(traced_reads))
    ctx.row("sources.load_ms_p50", C.median(loads), "ms", len(loads))
    ms = lambda r: (r["t1"] - r["t0"]) / 1e6
    on = [ms(r) for r in recs if r["kind"] == "read" and r["traced"]]
    off = [ms(r) for r in recs if r["kind"] == "read" and not r["traced"]]
    ctx.layer.update({
        "api.build_ms_p50": C.median(builds),
        "api.collect_ms_p50": C.median(collects),
        "api_http.handle_ms_p50": C.median(handle),
        "sources.load_ms_p50": C.median(loads),
        "catalyst.plan_ms_p50": C.median(state["plan_ms"]),
        "spark.jobs_per_request": sum(len(j) for j in jobs) / n,
        "spark.tasks_per_request": sum(t for j in jobs for _, t in j) / n,
        "trace.overhead_frac": C.median(on) / C.median(off) - 1.0 if on and off else 0.0,
    })


def traced_extra(ctx, spark, state):
    return spark


def close(ctx, state) -> None:
    state["srv"].stop()
