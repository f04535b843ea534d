"""replicate: the data plane.

One Engine holds the control plane (topic mapping, destination
partition counts, a blacklist covering a seeded share of topics).
Phase A: a route created through ``Engine.create_route`` runs while a
separate feeder process writes record files at a fixed rate (open
loop); latency runs from each file's due time to the commit of the
micro-batch that made it readable in the sink.  Phase B: two more
routes, one after the other, drain a pre-generated backlog with
``available_now``.
Chosen because per-micro-batch overhead (streaming) and the
transform + sink write (operators) do most of its work."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import pyarrow.dataset as pds

from perfbench import common as C
from perfbench import gen

SRC, DST = "src", "dst"
# traffic parameters (BENCHMARK.json records the same)
# phase A: 6,000 records/s as 5 files/s; the file source's per-file
# cost makes 10 files/s of the same records more than a route drains
RATE_FILES_S = 5
PER_FILE = 1200
BACKLOG_FILES, BACKLOG_PER_FILE = 48, 8000
# phase B drains the backlog twice, by two routes, so a hiccup of the
# host weighs less in the drain's CPU per record
PHASE_B_ROUTES = (2, 3)
WARM_FILES, WARM_PER_FILE = 12, 8000


def generate(ctx) -> dict:
    smoke = ctx.args.smoke
    plan = gen.replicate_plan(ctx.args.seed)
    n_b, per_b = (6, 1000) if smoke else (BACKLOG_FILES, BACKLOG_PER_FILE)
    n_w, per_w = (4, 500) if smoke else (WARM_FILES, WARM_PER_FILE)
    backlog_bytes = gen.write_backlog(ctx.args.seed, ctx.path("backlog"), n_b, per_b, 0)
    # warm-up records: another stream of the same topology, never timed
    gen.write_backlog(ctx.args.seed, ctx.path("warm"), n_w, per_w, 9)
    # the file source infers its schema at route creation, so the
    # open-loop directory starts with one empty record file
    os.makedirs(ctx.path("phase_a"))
    gen.write_table(gen.RECORD_SCHEMA.empty_table(), ctx.path("phase_a", "schema.parquet"))
    return {"plan": plan, "backlog_bytes": backlog_bytes,
            "rate": 5 if smoke else RATE_FILES_S, "per_file": 200 if smoke else PER_FILE}


def _engine(spark, plan):
    from ureplicator_spark.api import Engine

    eng = Engine(spark)
    for t in gen.TOPICS:
        dst = plan["mapping"].get(t, t)
        if t in plan["mapping"] or dst in plan["counts"]:
            eng.add_topic(t, dst, plan["counts"].get(dst))
    for t in plan["blacklist"]:
        eng.blacklist_add(t)
    return eng


def _route(ctx, eng, route_id: int, source: str, available_now: bool):
    tag = f"r{route_id}"
    with ctx.tracer.span("api.create_route", "api"):
        info = eng.create_route(
            SRC, DST, route_id, source, ctx.path(tag, "ck"), ctx.path(tag, "out"),
            control_path=ctx.path(f"{tag}-control.json"), available_now=available_now,
        )
    return eng.routes.jobs[info["route"]]


def _drain(ctx, eng, route_id: int, source: str) -> tuple[float, list]:
    """Create an available-now route over ``source``; seconds until it
    has committed everything, and its progress reports."""
    t0 = time.monotonic()
    with ctx.tracer.span("streaming.drain", "harness"):
        job = _route(ctx, eng, route_id, source, available_now=True)
        job.query.awaitTermination(120)
        if job.query.isActive:
            raise RuntimeError(f"route {route_id} did not drain within 120 s")
    dt = time.monotonic() - t0
    exc = job.query.exception()
    if exc is not None:
        raise RuntimeError(f"route {route_id} failed: {exc}")
    progress = [json.loads(p.json) for p in job.query.recentProgress]
    eng.routes.remove(job.route.name)
    return dt, progress


def warmup(ctx, spark, inputs) -> dict:
    eng = _engine(spark, inputs["plan"])
    for rid in (100, 101):
        _drain(ctx, eng, rid, ctx.path("warm"))
    return {"eng": eng, **inputs}


def _batch_files(ck: str) -> dict[str, int]:
    """file name -> micro-batch id, from the checkpoint's file-source log."""
    out = {}
    for path in glob.glob(os.path.join(ck, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _commit_ns(ck: str, batch: int) -> int | None:
    try:
        return os.stat(os.path.join(ck, "commits", str(batch))).st_mtime_ns
    except FileNotFoundError:
        return None


def _span_batches(ctx, progress: list, req_prefix: str) -> None:
    """Spans for each micro-batch from Spark's own progress reports."""
    if not ctx.tracer.enabled:
        return
    to_mono = time.monotonic_ns() - time.time_ns()
    for p in progress:
        d = p.get("durationMs", {})
        start = _iso_ns(p["timestamp"]) + to_mono
        end = start + int(d.get("triggerExecution", 0) * 1e6)
        req = f"{req_prefix}:{p['batchId']}"
        sid = ctx.tracer.add("streaming.batch", "streaming", start, end, None, req)
        t = start
        for key, layer in (("latestOffset", "streaming"), ("queryPlanning", "streaming"),
                           ("addBatch", "operators"), ("walCommit", "streaming")):
            if key in d:
                dur = int(d[key] * 1e6)
                ctx.tracer.add(f"streaming.{key}", layer, t, t + dur, sid, req)
                t += dur


def _iso_ns(ts: str) -> int:
    from datetime import datetime

    return int(datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e9)


def _expected(plan: dict, src: str):
    """Input records with the destination topic/partition and
    normalised timestamp the route must produce, blacklist removed."""
    t = pds.dataset(src, format="parquet").to_table(
        columns=["topic", "partition", "offset", "ts_sec"]).to_pandas()
    t = t[~t["topic"].isin(plan["blacklist"])].copy()
    t["dst_topic"] = t["topic"].map(lambda x: plan["mapping"].get(x, x))
    cnt = t["dst_topic"].map(plan["counts"])
    t["dst_partition"] = (t["partition"] % cnt).astype("Int64")
    t["ts_sec"] = t["ts_sec"].where(t["ts_sec"] > 0).astype("Int64")
    return t


def _check_sink(ctx, plan: dict, src: str, out: str, name: str, drop_one: bool) -> int:
    exp = _expected(plan, src)
    got = pds.dataset(out, format="parquet").to_table(
        columns=["topic", "partition", "offset", "ts_sec", "dst_topic", "dst_partition"]
    ).to_pandas()
    if drop_one:  # planted fault: one record lost in the sink
        got = got.iloc[1:]
    got["dst_partition"] = got["dst_partition"].astype("Int64")
    got["ts_sec"] = got["ts_sec"].astype("Int64")
    key = ["topic", "partition", "offset"]
    m = exp.merge(got, on=key, how="outer", suffixes=("", "_got"), indicator=True)
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum())  # blacklisted or invented
    both = m[m["_merge"] == "both"]
    wrong = int((
        (both["dst_topic"] != both["dst_topic_got"])
        | (both["dst_partition"].fillna(-1) != both["dst_partition_got"].fillna(-1))
        | (both["ts_sec"].fillna(-1) != both["ts_sec_got"].fillna(-1))
    ).sum())
    dups = int(got.duplicated(key).sum())
    total = len(pds.dataset(src, format="parquet").to_table(columns=["offset"]))
    ctx.check(name, total, missing + extra + wrong + dups,
              f"(missing={missing} unexpected={extra} wrong={wrong} duplicate={dups})")
    return total


def measure(ctx, spark, state, mon) -> dict:
    eng, plan = state["eng"], state["plan"]
    seconds = ctx.args.seconds
    rate, per_file = state["rate"], state["per_file"]
    n_files = max(1, int(seconds * rate))

    # -- phase A: open loop -------------------------------------------------
    job = _route(ctx, eng, 1, ctx.path("phase_a"), available_now=False)
    # feed only once the route has committed its first (empty-file)
    # batch, so query start-up is not mistaken for replication latency
    deadline = time.monotonic() + 60
    while _commit_ns(ctx.path("r1", "ck"), 0) is None:
        if time.monotonic() > deadline or not job.query.isActive:
            raise RuntimeError("phase A route did not start")
        time.sleep(0.05)
    feeder = subprocess.Popen(
        [sys.executable, "-m", "perfbench.feeder",
         "--seed", str(ctx.args.seed), "--stream", "1", "--rate", str(rate),
         "--per-file", str(per_file), "--files", str(n_files),
         "--out", ctx.path("phase_a"), "--log", ctx.path("feeder.json")],
        cwd=ctx.root,
    )
    mon.exclude.add(feeder.pid)
    with ctx.tracer.span("replicate.phase_a", "harness"):
        if feeder.wait(timeout=seconds + 60) != 0:
            raise RuntimeError("feeder failed")
        with open(ctx.path("feeder.json")) as fh:
            flog = json.load(fh)
        ck = ctx.path("r1", "ck")
        deadline = time.monotonic() + 60
        while True:
            bf = _batch_files(ck)
            batches = {bf.get(f["file"]) for f in flog}
            if None not in batches and all(_commit_ns(ck, b) for b in batches):
                break
            if time.monotonic() > deadline:
                raise RuntimeError("phase A files not committed within 60 s")
            time.sleep(0.05)
    progress_a = [json.loads(p.json) for p in job.query.recentProgress]
    eng.routes.remove(job.route.name)
    # every record of a file shares the file's creation stamp and commit,
    # so a file is one latency sample
    lat_ms = [(_commit_ns(ck, bf[f["file"]]) - f["due_ns"]) / 1e6 for f in flog]
    # files visible but not yet committed, at each visibility instant
    commit_of = {f["file"]: _commit_ns(ck, bf[f["file"]]) for f in flog}
    backlog_max = max(
        sum(1 for g in flog if g["visible_ns"] <= f["visible_ns"] < commit_of[g["file"]])
        for f in flog)

    # -- phase B: backlog drains ---------------------------------------------
    stages = C.StageStats(spark)
    stage0, mark = stages.max_stage_id(), mon.mark()
    drains = [_drain(ctx, eng, rid, ctx.path("backlog")) for rid in PHASE_B_ROUTES]
    app_cpu_s = mon.busy_cpu_s(mark)
    task_cpu_ms = stages.totals(stage0)["cpu_ms"]
    drain_s = sum(d for d, _ in drains)
    progress_b = [p for _, pr in drains for p in pr]
    state["drain_s"] = drain_s / len(drains)

    # -- checks --------------------------------------------------------------
    with ctx.tracer.span("replicate.check", "harness"):
        _check_sink(ctx, plan, ctx.path("phase_a"), ctx.path("r1", "out"), "phase_a_sink", False)
        for i, rid in enumerate(PHASE_B_ROUTES):
            n_backlog = _check_sink(ctx, plan, ctx.path("backlog"), ctx.path(f"r{rid}", "out"),
                                    f"backlog_sink_r{rid}", ctx.args.plant_fault and i == 0)
    n_drained = n_backlog * len(PHASE_B_ROUTES)

    _span_batches(ctx, progress_a, "a")
    _span_batches(ctx, progress_b, "b")
    rec_s = n_drained / drain_s
    mib_s = state["backlog_bytes"] * len(PHASE_B_ROUTES) / 2**20 / drain_s
    tail_q = C.tail_percentile(len(lat_ms))
    rows = [p["numInputRows"] for p in progress_a if p["numInputRows"] > 0]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in progress_a if p["numInputRows"] > 0]
    trig, addb = dur("triggerExecution"), dur("addBatch")
    out_files = glob.glob(ctx.path("r2", "out", "*.parquet"))
    in_files = glob.glob(ctx.path("backlog", "*.parquet"))
    ctx.layer.update({
        "streaming.batches": len(progress_a) + len(progress_b),
        "streaming.rows_per_batch_p50": C.median(rows),
        "streaming.trigger_ms_p50": C.median(trig),
        "streaming.add_batch_ms_p50": C.median(addb),
        "streaming.latest_offset_ms_p50": C.median(dur("latestOffset")),
        "streaming.query_planning_ms_p50": C.median(dur("queryPlanning")),
        "streaming.wal_commit_ms_p50": C.median(dur("walCommit")),
        "streaming.batch_overhead_ms_p50": C.median([a - b for a, b in zip(trig, addb)]),
        "sink.files_written": len(out_files),
        "sink.bytes_per_input_byte": sum(map(os.path.getsize, out_files))
        / max(1, sum(map(os.path.getsize, in_files))),
        "source.backlog_files_max": backlog_max,
        "generator.late_ms_max": max((f["visible_ns"] - f["due_ns"]) / 1e6 for f in flog),
        "replicate.drain_mib_s_per_core": mib_s / ctx.cores,
        "replicate.latency_tail_ms": C.percentile(lat_ms, tail_q),
    })
    ctx.row("replicate.drain_mib_s_per_core", mib_s / ctx.cores, "MiB/s", len(progress_b))
    ctx.row("replicate.drain_records_s", rec_s, "1/s", n_drained)
    ctx.row("replicate.latency_p50_ms", C.median(lat_ms), "ms", len(lat_ms))
    if tail_q > 50:
        ctx.row(f"replicate.latency_p{tail_q:g}_ms", C.percentile(lat_ms, tail_q), "ms",
                len(lat_ms))
    ctx.row("generator.late_ms_max", ctx.layer["generator.late_ms_max"], "ms", len(flog))
    ctx.row("source.backlog_files_max", backlog_max, "count", len(flog))
    cpu_us = app_cpu_s / n_drained * 1e6
    task_us = task_cpu_ms / n_drained * 1e3
    ctx.row("replicate.drain_task_cpu_us_per_record", task_us, "us", n_drained)
    return {"throughput_per_s": rec_s, "latency_p50_ms": C.median(lat_ms),
            "cpu_us_per_op": cpu_us, "cpu.task_us_per_op": task_us}


def traced_extra(ctx, spark, state):
    """Batch-job twin of the drain, an untraced re-drain for the
    tracing overhead, and the drain at local[1] for scaling."""
    from ureplicator_spark.functions import values_df
    from ureplicator_spark.operators.replicate import replicate_transform
    from pyspark.sql import functions as F

    plan, eng = state["plan"], state["eng"]
    t0 = time.monotonic()
    with ctx.tracer.span("operators.replicate_batch", "operators"):
        src = spark.read.parquet(ctx.path("backlog"))
        src = src.filter(~F.col("topic").isin(plan["blacklist"]))
        out = replicate_transform(
            src,
            values_df(spark, list(plan["mapping"].items()), "src_topic string, dst_topic string"),
            values_df(spark, list(plan["counts"].items()), "topic string, num_partitions int"),
        )
        out.write.mode("overwrite").parquet(ctx.path("batch_out"))
    ctx.layer["operators.replicate_batch_s"] = time.monotonic() - t0

    ctx.tracer.enabled = False
    untraced_s, _ = _drain(ctx, eng, 5, ctx.path("backlog"))
    ctx.tracer.enabled = True
    ctx.layer["trace.overhead_frac"] = state["drain_s"] / untraced_s - 1.0

    spark.stop()
    with ctx.tracer.span("session.start_local1", "session"):
        spark = C.start_session(master="local[1]")
    one_s, _ = _drain(ctx, _engine(spark, plan), 4, ctx.path("backlog"))
    ctx.layer["replicate.scaling_efficiency"] = one_s / (ctx.cores * state["drain_s"])
    return spark


def close(ctx, state) -> None:
    for name in list(state["eng"].routes.jobs):
        state["eng"].routes.remove(name)
