#!/usr/bin/env python
"""Node counts of registry queries' executed plans, as JSON.

Run from the repository root, so Spark's Python workers import the
package: ``python scripts/plan_shape.py NAME [NAME ...]`` (``--sf DIR``
picks the scale factor; default sf0.001).

For each named query it runs the plan to completion and counts, in the
final adaptive plan, the shuffle ``Exchange`` nodes, the
``BroadcastExchange`` nodes, the ``MapInPandas`` nodes, the joins (any
``*Join`` or ``CartesianProduct`` node) and the ``Window`` nodes. A
refactor that must keep every plan's shape runs it at the parent and at
the change and diffs the two outputs.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_NODE = re.compile(r"^[\s:+\-]*(?:\*\(\d+\) )?([A-Za-z]+)")


def plan_shape(plan: str) -> dict[str, int]:
    """The five counts of one executed-plan string."""
    names = Counter(m.group(1) for m in map(_NODE.match, plan.splitlines()) if m)
    return {
        "Exchange": names["Exchange"],
        "BroadcastExchange": names["BroadcastExchange"],
        "MapInPandas": names["MapInPandas"],
        "join": sum(n for k, n in names.items() if k.endswith("Join") or k == "CartesianProduct"),
        "Window": names["Window"],
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="+", help="registry query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.001", help="scale-factor directory")
    args = ap.parse_args()

    from ureplicator_spark.plans.inspect import executed_plan_string
    from ureplicator_spark.queries import QUERIES
    from ureplicator_spark.session import get_spark

    spark = get_spark("plan-shape")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        out = {
            name: plan_shape(executed_plan_string(QUERIES[name][0](spark, args.sf)))
            for name in args.names
        }
    finally:
        spark.stop()
    print(json.dumps(out, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
