"""Server CPU per REST request, measured against a stub engine.

Usage:
  python scripts/rest_cpu_probe.py [--requests 4000] [--threads 4]
                                   [--runs 3] [--path /offsets]

The script starts ``api_http.RestServer`` over a stub engine whose
reads answer at once: ``/health`` encodes a small dict per request,
and the log reads (``/offsets``, ``/noprogress`` ...) return a stored
response body, as ``Engine.answer`` does on a hit. No Spark session
starts, so what is measured is the REST layer alone: accepting the
connection, reading and parsing the request, routing, and sending the
answer.

A client in another process (this script with ``--client``) sends
``--requests`` requests from ``--threads`` threads, one connection per
request as the perfbench client does. The server process's CPU time
(user + system, from ``os.times``) over the client's run, divided by
the requests, is the server µs per request; the client's CPU is not
in it. Each run prints one JSON line; the last line is the median.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)

# a stored /offsets body: 20 partitions of (topic, partition, latest_offset)
_BODY = json.dumps([
    {"topic": t, "partition": p, "latest_offset": 1000 * i + p}
    for i, t in enumerate(["click", "view", "purchase", "search", "error"])
    for p in range(4)
]).encode()


class StubEngine:
    """The two ``Engine`` reads the probed routes call."""

    def health(self) -> dict:
        return {"status": "OK", "n_routes": 0}

    def answer(self, read, *args, encode=None):
        return _BODY


def client(port: int, path: str, requests: int, threads: int) -> None:
    left = iter(range(requests))
    lock = threading.Lock()
    failed = []

    def run() -> None:
        while True:
            with lock:
                if next(left, None) is None:
                    return
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
            try:
                conn.request("GET", path, headers={"X-Request-Id": "probe"})
                resp = conn.getresponse()
                resp.read()
                if resp.status != 200:
                    failed.append(resp.status)
            finally:
                conn.close()

    pool = [threading.Thread(target=run) for _ in range(threads)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    if failed:
        raise SystemExit(f"{len(failed)} requests failed: {sorted(set(failed))}")


def probe(path: str, requests: int, threads: int) -> dict:
    from ureplicator_spark.api_http import RestServer

    srv = RestServer(StubEngine(), port=0).start()
    try:
        cmd = [sys.executable, os.path.abspath(__file__), "--client", "--port",
               str(srv.port), "--path", path, "--requests", str(requests),
               "--threads", str(threads)]
        t0, wall0 = os.times(), time.perf_counter()
        subprocess.run(cmd, check=True)
        t1, wall1 = os.times(), time.perf_counter()
    finally:
        srv.stop()
    cpu_s = (t1.user - t0.user) + (t1.system - t0.system)
    return {
        "path": path,
        "requests": requests,
        "server_us_per_request": round(cpu_s / requests * 1e6, 1),
        "requests_s": round(requests / (wall1 - wall0), 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--requests", type=int, default=4000)
    ap.add_argument("--threads", type=int, default=4)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--path", default="/offsets")
    ap.add_argument("--client", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--port", type=int, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.client:
        client(args.port, args.path, args.requests, args.threads)
        return
    runs = []
    for _ in range(args.runs):
        runs.append(probe(args.path, args.requests, args.threads))
        print(json.dumps(runs[-1]))
    print(json.dumps({
        "path": args.path,
        "runs": len(runs),
        "median_server_us_per_request": statistics.median(
            r["server_us_per_request"] for r in runs),
    }))


if __name__ == "__main__":
    main()
