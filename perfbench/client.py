"""Closed-loop REST client for the control-plane workload.

``--threads`` threads each send a request, wait for the answer, check
it and send the next, until ``--seconds`` have passed.  The threads
take their next request from one shared sequence of passes over a
cycle, each pass in a fresh seeded order: every read of ``--spec``
(path and reference digest) once plus one write (topics, blacklist or
rate limiter, whose answers are known in advance).  Whatever the seed
and however many requests complete, the mix stays within one request
per endpoint of 90% reads spread evenly over the read endpoints.
Every request carries an ``X-Request-Id`` header; with ``--trace`` every other request also asks
the server to record spans (``X-Trace: 1``), so traced and untraced
latencies come from the same run.

    python3 perfbench/client.py --port P --seconds 8 --threads 4 --seed 7 \
        --spec spec.json --out out.json [--trace] [--plant-fault]
"""

from __future__ import annotations

import argparse
import http.client
import json
import random
import threading
import time

from perfbench.oracle import digest


def request(port: int, method: str, path: str, body, headers: dict):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        data = json.dumps(body).encode() if body is not None else None
        hdrs = dict(headers)
        if data is not None:
            hdrs["Content-Type"] = "application/json"
        conn.request(method, path, body=data, headers=hdrs)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _write_op(rng: random.Random, tid: int, i: int, state: dict):
    """(method, path, body, expected status, expected answer)."""
    op = rng.choice(("post_topic", "put_topic", "post_blacklist", "delete_blacklist",
                     "ratelimiter"))
    if op == "put_topic" and not state["topics"]:
        op = "post_topic"
    if op == "post_topic":
        t = f"w{tid}_{i}"
        state["topics"].append(t)
        return op, "POST", "/topics", {"topic": t, "dst_topic": t + "_dst", "partitions": 4}, \
            201, {"added": t}
    if op == "put_topic":
        t = rng.choice(state["topics"])
        return op, "PUT", "/topics", {"topic": t, "partitions": 8}, 200, \
            {"expanded": t, "partitions": 8}
    t = f"b{tid}_{rng.randrange(4)}"
    if op == "post_blacklist":
        return op, "POST", "/blacklist", {"topic": t}, 201, {"blacklisted": t}
    if op == "delete_blacklist":
        return op, "DELETE", f"/blacklist/{t}", None, 200, {"unblacklisted": t}
    n = rng.randrange(1000, 100000)
    return op, "PUT", f"/ratelimiter?messagerate={n}", None, 200, {
        "rate": n, "applied_to_new_routes": True, "applied_live_routes": [],
        "running_routes_pending_restart": []}


def _passes(cycle: list, rng: random.Random):
    """Endless passes over ``cycle``, each in a fresh seeded order, so
    which requests overlap changes from pass to pass."""
    while True:
        rng.shuffle(cycle)
        yield from list(cycle)


def run(port: int, seconds: float, threads: int, seed: int, spec: list[dict],
        trace: bool, plant_fault: bool) -> list[dict]:
    records: list[dict] = []
    lock = threading.Lock()
    deadline = time.monotonic() + seconds
    fault = {"pending": plant_fault}
    order = _passes([*spec, None], random.Random(seed))  # None: a write

    def loop(tid: int) -> None:
        rng = random.Random(seed * 1000 + tid)
        state = {"topics": []}
        i = 0
        while time.monotonic() < deadline:
            i += 1
            req = f"{tid}-{i}"
            traced = trace and i % 2 == 0
            headers = {"X-Request-Id": req, "X-Trace": "1" if traced else "0"}
            with lock:
                s = next(order)
            if s is None:
                ep, method, path, body, want_status, want = _write_op(rng, tid, i, state)
                kind = "write"
            else:
                ep, method, path, body, want_status, want = s["name"], "GET", s["path"], \
                    None, 200, None
                kind = "read"
            t0 = time.monotonic_ns()
            try:
                status, raw = request(port, method, path, body, headers)
            except OSError as e:
                status, raw = -1, str(e).encode()
            t1 = time.monotonic_ns()
            ok = status == want_status
            if ok:
                answer = json.loads(raw)
                if kind == "read":
                    with lock:
                        if fault["pending"] and isinstance(answer, list) and answer:
                            fault["pending"] = False  # planted fault: one altered body
                            k = next(iter(answer[0]))
                            answer[0][k] = f"{answer[0][k]}x"
                    rows = answer if isinstance(answer, list) else [answer]
                    ok = digest(rows) == s["digest"]
                else:
                    ok = answer == want
            with lock:
                records.append({"kind": kind, "ep": ep, "t0": t0, "t1": t1, "ok": ok,
                                "status": status, "req": req, "traced": traced})

    pool = [threading.Thread(target=loop, args=(t,), name=f"client-{t}") for t in range(threads)]
    for th in pool:
        th.start()
    for th in pool:
        th.join(timeout=seconds + 120)
        if th.is_alive():
            raise RuntimeError(f"{th.name} did not finish")
    return records


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--threads", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--spec", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--plant-fault", action="store_true")
    a = ap.parse_args()
    with open(a.spec) as fh:
        spec = json.load(fh)
    records = run(a.port, a.seconds, a.threads, a.seed, spec, a.trace, a.plant_fault)
    with open(a.out, "w") as fh:
        json.dump(records, fh)


if __name__ == "__main__":
    main()
