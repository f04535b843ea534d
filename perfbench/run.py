"""Benchmark entry point.

    python3 perfbench/run.py --workload {replicate,control-plane}
                             --seed N --seconds S --trace {0,1}

Generates the workload's inputs from the seed into a private directory
inside the checkout, starts the engine in a fresh worker process,
measures, checks every output and prints a metrics table followed, on
the last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (see ``metrics.py``).  Exits non-zero when an output is wrong or
the run fails.

``--smoke`` shrinks the inputs; ``--plant-fault`` corrupts one output
before it is checked, to show the check catches it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("replicate", "control-plane")
TIMEOUT_S = 160


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="ureplicator-spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--plant-fault", action="store_true")
    return ap.parse_args(argv)


def main() -> int:
    args = parse_args()
    if args.seconds < 1:
        print("--seconds must be at least 1", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench-work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    cmd = [sys.executable, "-m", "perfbench.worker", "--result", result_path,
           "--work", work, *sys.argv[1:]]
    # a stop request to this process must still stop the worker's group
    signal.signal(signal.SIGTERM, _raise_exit)
    try:
        code = _run_worker(cmd, work)
        result = None
        if code in (0, 1):
            try:
                with open(result_path) as fh:
                    result = json.load(fh)
            except (OSError, ValueError):
                result = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if result is None:
        print(f"benchmark failed (worker exit {code})", file=sys.stderr)
        return 1
    for line in result.pop("table"):
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] and code == 0 else 1


def _run_worker(cmd: list[str], work: str) -> int | None:
    """Run the worker in its own process group; its exit code, or None
    on timeout.  The group (JVM, Python workers, feeder, client) is
    stopped, and waited for, whatever happens."""
    from perfbench.common import spark_env

    proc = subprocess.Popen(cmd, cwd=work, env=spark_env(ROOT, work),
                            start_new_session=True)
    try:
        return proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"worker exceeded {TIMEOUT_S}s; stopping it", file=sys.stderr)
        return None
    finally:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                break
            deadline = time.monotonic() + 5
            while time.monotonic() < deadline and _group_alive(proc.pid):
                time.sleep(0.05)
        if proc.poll() is None:
            proc.wait(timeout=10)


def _raise_exit(signum, _frame) -> None:
    raise SystemExit(128 + signum)


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


if __name__ == "__main__":
    sys.exit(main())
