"""Seeded input generators, one per workload.

Every generator takes a seed and an output directory and writes only
there; the same seed writes the same bytes.  The engine later sees
nothing but these files.

    python3 -m perfbench.gen replicate --seed 7 --out DIR        (from the repo root)
    python3 -m perfbench.gen control-plane --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# traffic shape, measured on the testdata ``events`` table (TESTDATA.md)
# ---------------------------------------------------------------------------
#
# The engine's Kafka-record view of ``events`` (``fixtures.records``) is
# topic := event_type, partition := user_id % 4, value_size :=
# length(props).  Over the sf0.1 table (100,000 rows, seed 42):
#
#   SELECT event_type, user_id % 4, count(*) FROM events GROUP BY ALL
#   SELECT length(props), count(*) FROM events GROUP BY 1
#   SELECT count(*) / count(DISTINCT user_id) FROM events
#   SELECT avg(value), stddev(value) FROM events           -- 49.87, 49.56
#
# Topic and partition shares are flat (19.8-20.3% per topic, 24.4-26.2%
# per partition of a topic), values are 8 or 9 bytes (props is
# '{"k": N}', N uniform over 0-99), 66.7 events per user and ``value``
# is exponential (mean = standard deviation).

TOPIC_PARTITION_COUNTS = {
    "click": (4948, 4997, 4875, 5043),
    "error": (4981, 4843, 5026, 4960),
    "purchase": (5249, 4983, 4988, 4864),
    "signup": (5195, 4985, 5175, 4947),
    "view": (5027, 4955, 4968, 4991),
}
VALUE_SIZE_COUNTS = {8: 10269, 9: 89731}
EVENTS_PER_USER = 100_000 / 1_500
VALUE_MEAN = 49.87
N_PARTITIONS = 4  # user_id % 4

# The engine fixture's control plane (``fixtures.TOPIC_MAPPING_ROWS``,
# ``PARTITION_COUNT_ROWS``, ``BLACKLIST_ROWS``): two topics renamed,
# three destinations with a declared partition count (two below the
# source's four, so the p % count remap is used), one topic of five
# blacklisted.
FIXTURE_MAPPING = {"click": "click_mirror", "purchase": "purchase_v2"}
FIXTURE_COUNTS = {"click_mirror": 3, "purchase_v2": 2, "signup": 4}
FIXTURE_BLACKLIST = ("purchase",)

TOPICS = tuple(TOPIC_PARTITION_COUNTS)


def _shares(counts) -> np.ndarray:
    w = np.asarray(counts, dtype=float)
    return w / w.sum()


# ---------------------------------------------------------------------------
# replicate: Kafka-record-shaped files
# ---------------------------------------------------------------------------

RECORD_SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("ts_sec", pa.int64()),
        ("value_size", pa.int32()),
        ("value", pa.binary()),
        # creation stamp (epoch ns) shared by every record of one file
        ("created_ns", pa.int64()),
    ]
)
TS_BASE = 1_704_067_200  # 2024-01-01 00:00 UTC, the start of the testdata log


def replicate_plan(seed: int) -> dict:
    """Control plane for one route: the engine fixture's mapping,
    destination partition counts and blacklist, applied to a seeded
    permutation of the five topics, so the seed decides which topic is
    blacklisted or renamed while the shares stay the fixture's."""
    rng = np.random.default_rng([seed, 1])
    ren = dict(zip(TOPICS, (TOPICS[i] for i in rng.permutation(len(TOPICS)))))
    dst = lambda d: next((d.replace(t, ren[t], 1) for t in TOPICS if d.startswith(t)), d)
    return {
        "blacklist": sorted(ren[t] for t in FIXTURE_BLACKLIST),
        "mapping": {ren[s]: dst(d) for s, d in FIXTURE_MAPPING.items()},
        "counts": {dst(d): n for d, n in FIXTURE_COUNTS.items()},
    }


class RecordStream:
    """Deterministic record source: successive ``next_table`` calls
    continue every (topic, partition) offset sequence."""

    def __init__(self, seed: int, stream: int) -> None:
        self.rng = np.random.default_rng([seed, 2, stream])
        self.pair_p = _shares([c for t in TOPICS for c in TOPIC_PARTITION_COUNTS[t]])
        self.next_offset = np.zeros(len(self.pair_p), dtype=np.int64)

    def next_table(self, n: int, created_ns: int) -> pa.Table:
        rng = self.rng
        pair = rng.choice(len(self.pair_p), size=n, p=self.pair_p)
        t_idx, p_idx = np.divmod(pair, N_PARTITIONS)
        # offsets: contiguous per (topic, partition), continuing across files
        order = np.argsort(pair, kind="stable")
        sp = pair[order]
        starts = np.flatnonzero(np.r_[True, sp[1:] != sp[:-1]])
        rank = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n]))
        offsets = np.empty(n, dtype=np.int64)
        offsets[order] = self.next_offset[sp] + rank
        np.add.at(self.next_offset, pair, 1)
        sizes = rng.choice(list(VALUE_SIZE_COUNTS), size=n,
                           p=_shares(list(VALUE_SIZE_COUNTS.values()))).astype(np.int32)
        offs = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(sizes, out=offs[1:])
        data = rng.bytes(int(offs[-1]))
        values = pa.BinaryArray.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data)]
        )
        ts = TS_BASE + offsets
        names = np.array(TOPICS, dtype=object)[t_idx]
        return pa.table(
            [
                pa.array(names, pa.string()),
                pa.array(p_idx.astype(np.int32)),
                pa.array(offsets),
                pa.array(ts),
                pa.array(sizes),
                values,
                pa.array(np.full(n, created_ns, dtype=np.int64)),
            ],
            schema=RECORD_SCHEMA,
        )


def write_table(table: pa.Table, path: str) -> None:
    """Write a record file so it appears atomically: the file source
    skips dot-files, so the rename is the moment it becomes visible."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp, compression="none")
    os.replace(tmp, path)


def write_backlog(seed: int, out_dir: str, n_files: int, per_file: int, stream: int) -> int:
    """Pre-generated backlog: ``n_files`` record files.  Returns bytes
    of record values written."""
    os.makedirs(out_dir, exist_ok=True)
    rs = RecordStream(seed, stream)
    total = 0
    for i in range(n_files):
        tbl = rs.next_table(per_file, created_ns=0)
        total += int(pa.compute.sum(tbl["value_size"]).as_py())
        write_table(tbl, os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return total


# ---------------------------------------------------------------------------
# control-plane: events.parquet with the testdata schema
# ---------------------------------------------------------------------------

# Monitor snapshots the registry's lag / no-progress queries use
# (2024-01-20 and 2024-01-27 00:00 UTC).  Events come in two bursts,
# one before each snapshot and running past it, so both snapshots see
# lagging partitions while the log stays a few hundred windows long.
SNAP_T1 = 1_705_708_800
SNAP_T2 = 1_706_313_600
BURST_SEC = 3 * 3600
N_STALLS = 4


def control_plane_events(seed: int, out_dir: str, n_events: int) -> dict:
    """Write ``events.parquet``; return the planted stalls.

    Topics, users, ``value`` and ``props`` follow the testdata table.
    A stalled (topic, partition) has events in the first burst and
    after the second snapshot, but none between the first snapshot and
    the second: its commit does not move while its lag is positive."""
    rng = np.random.default_rng([seed, 3])
    topics = np.array(TOPICS, dtype=object)
    shares = _shares([sum(TOPIC_PARTITION_COUNTS[t]) for t in TOPICS])
    t_idx = rng.choice(len(TOPICS), size=n_events, p=shares)
    user = rng.integers(0, round(n_events / EVENTS_PER_USER), size=n_events)
    burst = rng.random(n_events) < 0.5
    start = np.where(burst, SNAP_T1 - BURST_SEC // 2, SNAP_T2 - BURST_SEC // 2)
    ts_sec = start + rng.integers(0, BURST_SEC, size=n_events)
    stalls = [(TOPICS[k], k % N_PARTITIONS) for k in range(N_STALLS)]
    keep = np.ones(n_events, dtype=bool)
    for t, p in stalls:
        hit = (topics[t_idx] == t) & (user % N_PARTITIONS == p)
        keep &= ~(hit & (ts_sec > SNAP_T1) & (ts_sec <= SNAP_T2))
    t_idx, user, ts_sec = t_idx[keep], user[keep], ts_sec[keep]
    # one late event per stalled partition keeps its lag positive
    for t, p in stalls:
        t_idx = np.append(t_idx, TOPICS.index(t))
        user = np.append(user, p + N_PARTITIONS * int(rng.integers(0, 100)))
        ts_sec = np.append(ts_sec, SNAP_T2 + BURST_SEC // 2 - 1)
    order = np.argsort(ts_sec, kind="stable")
    t_idx, user, ts_sec = t_idx[order], user[order], ts_sec[order]
    n = len(ts_sec)
    us = ts_sec * 1_000_000 + rng.integers(0, 1_000_000, size=n)
    props = [f'{{"k": {v}}}' for v in rng.integers(0, 100, size=n)]
    tbl = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(us, pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array(topics[t_idx], pa.string()),
            "value": pa.array(np.round(rng.exponential(VALUE_MEAN, size=n), 2)),
            "props": pa.array(props, pa.string()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(tbl, os.path.join(out_dir, "events.parquet"))
    return {"n_events": n, "stalls": stalls, "t1": SNAP_T1, "t2": SNAP_T2}


def main() -> None:
    from perfbench import wl_control, wl_replicate

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=["replicate", "control-plane"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    if a.workload == "replicate":
        plan = replicate_plan(a.seed)
        n = write_backlog(a.seed, os.path.join(a.out, "backlog"),
                          wl_replicate.BACKLOG_FILES, wl_replicate.BACKLOG_PER_FILE, stream=0)
        info = {"plan": plan, "backlog_value_bytes": n}
    else:
        info = control_plane_events(a.seed, a.out, wl_control.N_EVENTS)
    print(json.dumps(info))


if __name__ == "__main__":
    main()
