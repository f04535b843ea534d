"""Open-loop record feeder for the replicate workload.

Writes ``--files`` record files into ``--out`` on a fixed schedule,
``--rate`` files per second, whether or not the engine keeps up.
Each file's records carry the time the file was due as their creation
stamp; the log records when each file actually became visible, so
lateness of the feeder itself shows.

    python3 -m perfbench.feeder --seed 7 --stream 1 \
        --rate 10 --per-file 800 --files 100 --out DIR --log LOG
"""

from __future__ import annotations

import argparse
import json
import os
import time

import pyarrow as pa

from perfbench.gen import RecordStream, write_table


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--stream", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--per-file", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    rs = RecordStream(a.seed, a.stream)
    period_ns = int(1e9 / a.rate)
    # build every table before the schedule starts, so generation cost
    # never makes the feeder late
    tables = [rs.next_table(a.per_file, created_ns=0) for _ in range(a.files)]
    stamp = tables[0].schema.get_field_index("created_ns")
    start_ns = time.time_ns() + 100_000_000
    log = []
    for i, tbl in enumerate(tables):
        due = start_ns + i * period_ns
        tbl = tbl.set_column(stamp, "created_ns", pa.array([due] * tbl.num_rows, pa.int64()))
        wait = (due - time.time_ns()) / 1e9
        if wait > 0:
            time.sleep(wait)
        name = f"part-{i:05d}.parquet"
        write_table(tbl, os.path.join(a.out, name))
        log.append({"file": name, "due_ns": due, "visible_ns": time.time_ns(),
                    "records": tbl.num_rows})
    with open(a.log, "w") as fh:
        json.dump(log, fh)


if __name__ == "__main__":
    main()
