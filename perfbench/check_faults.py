"""Show that every output check catches a planted fault.

For each workload, runs a smoke-sized benchmark twice: clean, which
must pass, and with ``--plant-fault`` (replicate: one sink record
dropped; control-plane: one REST body altered), which must report
the fault, say ``"correct": false`` and exit non-zero.

    python3 perfbench/check_faults.py [workload ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("replicate", "control-plane")


def run(workload: str, fault: bool) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "2", "--trace", "0", "--smoke"]
    if fault:
        cmd.append("--plant-fault")
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else {}


def main() -> int:
    bad = 0
    for wl in sys.argv[1:] or WORKLOADS:
        rc, res = run(wl, False)
        clean_ok = rc == 0 and res.get("correct") is True and res.get("failed") == 0
        rc_f, res_f = run(wl, True)
        caught = rc_f != 0 and res_f.get("correct") is False and res_f.get("failed", 0) >= 1
        print(f"{wl}: clean run exit={rc} failed={res.get('failed')} -> "
              f"{'ok' if clean_ok else 'WRONG'}; planted fault exit={rc_f} "
              f"failed={res_f.get('failed')} -> {'caught' if caught else 'MISSED'}")
        bad += (not clean_ok) + (not caught)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
