"""One benchmark run inside a fresh process (started by ``run.py``).

Order: generate inputs (not timed) -> start the session and warm up on
synthetic inputs (``setup_s``) -> measured phase (RSS sampled, Spark
counters diffed) -> output checks -> traced-only extras.  The result,
with a human-readable table, goes to ``--result`` as JSON."""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
from dataclasses import dataclass, field

from perfbench import common as C

MODULES = {"replicate": "perfbench.wl_replicate",
           "control-plane": "perfbench.wl_control"}


@dataclass
class Ctx:
    args: argparse.Namespace
    root: str
    work: str
    tracer: C.Tracer
    cores: int
    layer: dict = field(default_factory=dict)
    table: list = field(default_factory=list)
    checks: list = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def row(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        """One line of the printed metrics table."""
        self.table.append((name, value, unit, n))

    def check(self, name: str, attempted: int, failed: int, detail: str = "") -> None:
        self.checks.append({"name": name, "attempted": int(attempted),
                            "failed": int(failed), "detail": detail})


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--result", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--plant-fault", action="store_true")
    args = ap.parse_args()

    import ureplicator_spark  # noqa: F401 - fail before any work without the engine

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tracer = C.Tracer(bool(args.trace))
    ctx = Ctx(args, root, args.work, tracer, C.host_cores())
    wl = importlib.import_module(MODULES[args.workload])

    inputs = wl.generate(ctx)

    with tracer.span("session.start", "session"):
        t0 = time.monotonic()
        spark = C.start_session()
        start_s = time.monotonic() - t0
    with tracer.span("session.warmup", "session"):
        t1 = time.monotonic()
        state = wl.warmup(ctx, spark, inputs)
        warmup_s = time.monotonic() - t1
    setup_s = start_s + warmup_s
    if hasattr(wl, "reference"):  # reference answers: neither set-up nor measured
        wl.reference(ctx, spark, state)

    stats = C.StageStats(spark)
    stage0 = stats.max_stage_id()
    cg0 = C.codegen_compile_ns(spark)
    pins0 = C.persistent_rdds(spark)
    with C.TreeMonitor() as mon:
        cal = [C.calibrate_s() for _ in range(5)]
        e2e = wl.measure(ctx, spark, state, mon)
        cal += [C.calibrate_s() for _ in range(5)]
    # CPU per operation at the reference host's speed: a host that
    # shares its cores runs everything slower, the calibration too
    raw = e2e["cpu_us_per_op"]
    e2e["cpu_us_per_op"] = raw * C.CALIBRATE_REF_S / C.median(cal)
    ctx.row("cpu_us_per_op", e2e["cpu_us_per_op"], "us")
    ctx.row("cpu.raw_us_per_op", raw, "us")
    ctx.row("cpu.calibrate_ms", C.median(cal) * 1e3, "ms", len(cal))
    ex = stats.totals(stage0)
    ctx.layer.update({
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "codegen.compile_ms": (C.codegen_compile_ns(spark) - cg0) / 1e6,
        "caching.pins_after": C.persistent_rdds(spark) - pins0,
        "executor.run_ms": ex["run_ms"],
        "executor.cpu_ms": ex["cpu_ms"],
        "executor.gc_ms": ex["gc_ms"],
        "shuffle.write_bytes": ex["shuffle_write_bytes"],
        "shuffle.spill_bytes": ex["spill_bytes"],
        "jvm.jit_cpu_s": mon.aux_s["jit"],
        "jvm.gc_cpu_s": mon.aux_s["gc"],
        "cpu.raw_us_per_op": raw,
        "cpu.calibrate_ms": C.median(cal) * 1e3,
    })
    if args.trace:
        spark = wl.traced_extra(ctx, spark, state) or spark
    wl.close(ctx, state)
    spark.stop()

    attempted = sum(c["attempted"] for c in ctx.checks)
    failed = sum(c["failed"] for c in ctx.checks)
    correct = attempted > 0 and failed == 0
    ctx.layer.update(e2e)
    ctx.layer["peak_rss_mib"] = mon.peak
    e2e = {"setup_s": setup_s, **e2e}
    ctx.row("cpu.idle_rate_cores", mon.idle_cpu_rate, "cores")
    ctx.row("jvm.jit_cpu_s", mon.aux_s["jit"], "s")
    ctx.row("jvm.gc_cpu_s", mon.aux_s["gc"], "s")
    ctx.layer["failed_frac"] = failed / max(attempted, 1)

    if args.trace:
        selfs = C.self_times_ms(tracer.spans)
        for layer in (*C.LAYERS, "harness"):
            ctx.layer[f"self_ms.{layer}"] = selfs.get(layer, 0.0)
        trace_dir = os.path.join(os.path.dirname(args.work), "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))

    table = [f"# {args.workload} seed={args.seed} seconds={args.seconds} "
             f"trace={args.trace} cores={ctx.cores} driver_mem_mib={C.driver_memory_mib()}"]
    table.append(f"{'setup_s':<40} {setup_s:>14.4f} s")
    table.append(f"{'peak_rss_mib':<40} {mon.peak:>14.4f} MiB")
    table += [f"{n:<40} {v:>14.4f} {u}" + (f"  (n={k})" if k is not None else "")
              for n, v, u, k in ctx.table]
    table.append(f"{'failed_frac':<40} {ctx.layer['failed_frac']:>14.4f} ratio  "
                 f"(attempted={attempted}, failed={failed})")
    for c in ctx.checks:
        table.append(f"check {c['name']}: {c['failed']}/{c['attempted']} failed {c['detail']}")
    if args.trace:
        table.append("per-layer self time (ms): " + ", ".join(
            f"{k[8:]}={ctx.layer[k]:.1f}" for k in ctx.layer if k.startswith("self_ms.")))

    # every metric BENCHMARK.json declares for this mode; a layer the
    # workload does not exercise reads 0
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    get = (lambda n: ctx.layer.get(n, 0.0)) if args.trace else e2e.__getitem__
    metrics = {m["name"]: {"value": float(get(m["name"])), "unit": m["unit"]} for m in declared}
    C.write_json(args.result, {"correct": correct, "attempted": attempted,
                               "failed": failed, "metrics": metrics, "table": table})
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
