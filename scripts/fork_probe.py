"""Count the processes a live replication route forks, by command.

Usage:
  python scripts/fork_probe.py [--files 4] [--per-file 2000]
                               [--checkpoint-manager CLASS]

The script starts a fresh Spark session whose PATH begins with a shim
directory: one small bash script per command name found on the PATH,
each appending its name and a timestamp to a log and then exec-ing the
real program. Hadoop's shell helpers (``chmod``, ``readlink``, ``ls``
...) and Spark's Python workers are launched by bare name, so every
such fork lands in the log; programs started by absolute path do not.

It then writes a small backlog of record files and drains it through
``Engine.create_route`` with ``available_now``, one file per micro-batch
(``spark.sql.files.maxPartitionBytes`` is lowered so one task wave of
bytes, the route's per-trigger bound, holds a single file). Forks are
attributed from their timestamps and the query's progress reports:
"route start" is everything from ``create_route`` to the first
micro-batch's trigger, "per batch" the mean over the batches' trigger
windows.

``--checkpoint-manager`` sets ``spark.sql.streaming.checkpointFileManagerClass``
on the session after the engine has tuned it; pass
``org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager``
to count Spark's default manager.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import stat
import sys
import tempfile
import time
from datetime import datetime

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

SHIM = """#!/bin/bash
printf '%s %s\\n' "$EPOCHREALTIME" {name} >> {log}
exec {real} "$@"
"""


def install_shims(shim_dir: str, log: str) -> int:
    """One shim per command on PATH (the first match wins, as in a
    shell lookup); returns how many were written."""
    seen = set()
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            real = os.path.join(d, name)
            if name in seen or not (os.path.isfile(real) and os.access(real, os.X_OK)):
                continue
            seen.add(name)
            path = os.path.join(shim_dir, name)
            with open(path, "w") as fh:
                fh.write(SHIM.format(name=_quote(name), log=_quote(log), real=_quote(real)))
            os.chmod(path, stat.S_IRWXU)
    return len(seen)


def _quote(s: str) -> str:
    return "'" + s.replace("'", "'\\''") + "'"


def read_log(log: str) -> list[tuple[float, str]]:
    try:
        with open(log) as fh:
            return [(float(t), name) for t, name in (ln.rstrip("\n").split(" ", 1) for ln in fh)]
    except FileNotFoundError:
        return []


def write_backlog(out_dir: str, n_files: int, per_file: int) -> int:
    """Record files over five topics and four partitions; returns the
    largest file's size in bytes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    topics = ["click", "view", "purchase", "search", "error"]
    rng = np.random.default_rng(7)
    os.makedirs(out_dir)
    largest = 0
    for i in range(n_files):
        topic = rng.choice(topics, per_file)
        part = rng.integers(0, 4, per_file, dtype=np.int32)
        table = pa.table({
            "topic": pa.array(topic.tolist(), pa.string()),
            "partition": pa.array(part),
            "offset": pa.array(np.arange(i * per_file, (i + 1) * per_file, dtype=np.int64)),
            "ts_sec": pa.array(rng.integers(1_704_067_200, 1_706_745_600, per_file)),
            "value_size": pa.array(np.full(per_file, 9, dtype=np.int32)),
            "value": pa.array([b"123456789"] * per_file, pa.binary()),
        })
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        # dot-file then rename: the file source skips dot-files
        tmp = os.path.join(out_dir, f".part-{i:05d}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, path)
        largest = max(largest, os.path.getsize(path))
    return largest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--files", type=int, default=4)
    ap.add_argument("--per-file", type=int, default=2000)
    ap.add_argument("--checkpoint-manager", default=None)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="fork-probe-")
    try:
        shim_dir, log = os.path.join(work, "shims"), os.path.join(work, "forks.log")
        os.makedirs(shim_dir)
        n_shims = install_shims(shim_dir, log)
        os.environ["PATH"] = shim_dir + os.pathsep + os.environ.get("PATH", "")
        os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
        largest = write_backlog(os.path.join(work, "backlog"), args.files, args.per_file)
        report = probe(work, log, largest, args.checkpoint_manager)
        report["shims"] = n_shims
        print(json.dumps(report, indent=1, sort_keys=True))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def probe(work: str, log: str, largest: int, manager: str | None) -> dict:
    from ureplicator_spark.api import Engine
    from ureplicator_spark.session import CHECKPOINT_MANAGER, get_spark

    spark = get_spark("fork-probe")
    try:
        if manager:
            spark.conf.set(CHECKPOINT_MANAGER, manager)
        spark.sparkContext.setLogLevel("ERROR")
        cores = spark.sparkContext.defaultParallelism
        # one task wave of bytes (the route's per-trigger bound) = one file
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(-(-largest // cores)))
        eng = Engine(spark)
        eng.add_topic("click", "click_mirror", 3)
        eng.add_topic("purchase", "purchase", 4)
        eng.blacklist_add("error")
        t0 = time.time()
        info = eng.create_route(
            "src", "dst", 1, os.path.join(work, "backlog"), os.path.join(work, "ck"),
            os.path.join(work, "out"), available_now=True,
        )
        query = eng.routes.jobs[info["route"]].query
        query.awaitTermination(300)
        if query.isActive or query.exception() is not None:
            raise RuntimeError(f"route did not drain: {query.exception()}")
        progress = [json.loads(p.json) for p in query.recentProgress]
        used_manager = spark.conf.get(CHECKPOINT_MANAGER, None)
        eng.routes.remove(info["route"])
    finally:
        spark.stop()
    return attribute(read_log(log), t0, progress, used_manager)


def attribute(forks: list, t0: float, progress: list, manager: str | None) -> dict:
    windows = []
    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        windows.append((start, start + p["durationMs"]["triggerExecution"] / 1e3))
    first = windows[0][0] if windows else float("inf")
    start, batch, between = collections.Counter(), collections.Counter(), collections.Counter()
    for t, name in forks:
        if t < t0:
            continue  # session start-up
        if t < first:
            start[name] += 1
        # trigger timestamps have millisecond resolution
        elif any(a - 1e-3 <= t <= b + 1e-3 for a, b in windows):
            batch[name] += 1
        else:
            between[name] += 1
    n = len(windows)
    return {
        "checkpoint_manager": manager or "(Spark default)",
        "batches": n,
        "rows": sum(p["numInputRows"] for p in progress),
        "route_start_forks": dict(start),
        "route_start_total": sum(start.values()),
        "per_batch_forks": {k: v / n for k, v in batch.items()} if n else {},
        "per_batch_total": sum(batch.values()) / n if n else 0.0,
        "other_forks": dict(between),
    }


if __name__ == "__main__":
    main()
