"""Physical-plan inspection and assertions.

The scale contract of every operator is encoded as checkable plan
properties (tests/test_plans.py):
  * filters/projection reach the parquet scan (PushedFilters, ReadSchema)
  * small sides broadcast (BroadcastHashJoin, no all-pairs shuffles)
  * shuffle counts stay at the operator's theoretical minimum

Catalyst owns the strategy; these helpers make regressions (a lost
pushdown, an accidental cartesian, an extra Exchange) fail CI instead
of surfacing as a 10× slowdown at 100 TB.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def count_shuffles(df: DataFrame) -> int:
    """Data-moving exchanges (broadcast exchanges excluded).

    Counted from simple-mode explain, where each shuffle prints as
    ``Exchange hashpartitioning(...)`` etc. on one line (formatted mode
    splits operator and arguments, so one-line regexes undercount)."""
    plan = plan_string(df, mode="simple")
    return len(
        re.findall(
            r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan
        )
    )


def executed_plan_string(df: DataFrame) -> str:
    """Run the plan to completion (noop sink) and return the FINAL
    adaptive physical plan — under AQE the pre-execution explain shows
    `isFinalPlan=false` placeholders without codegen markers or runtime
    join rewrites."""
    df.collect()  # a sink write would finalize a SEPARATE queryExecution
    full = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints "== Final Plan ==" followed by "== Initial Plan ==";
    # keep only the final section or every operator counts twice
    return full.split("== Initial Plan ==")[0]


def count_broadcast_joins(df: DataFrame) -> int:
    """Broadcast hash joins, counted from simple-mode explain, which
    prints each node once (formatted mode prints it in the tree and
    again in the details block)."""
    return plan_string(df, mode="simple").count("BroadcastHashJoin")


def assert_broadcast_join(df: DataFrame, at_least: int = 1) -> None:
    n = count_broadcast_joins(df)
    assert n >= at_least, f"expected ≥{at_least} BroadcastHashJoin, plan has {n}:\n{plan_string(df)}"


def assert_max_shuffles(df: DataFrame, limit: int) -> None:
    n = count_shuffles(df)
    assert n <= limit, f"expected ≤{limit} shuffles, plan has {n}:\n{plan_string(df)}"


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Every fragment must appear inside some PushedFilters: [...] list."""
    plan = plan_string(df)
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    assert pushed, f"no PushedFilters in plan:\n{plan}"
    for frag in fragments:
        assert frag in pushed, f"filter {frag!r} not pushed; PushedFilters={pushed}"


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema clauses — verify column pruning reached the scan."""
    return re.findall(r"ReadSchema: struct<[^>]*>", plan_string(df))


_TABLE_SIGNATURES = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "part": "p_partkey",
    "nation": "n_nationkey",
    "region": "r_regionkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "event_id",
}


def _tree_depth(line: str) -> int:
    m = re.match(r"^((?::  |   )*)([+:]- )?", line)
    return len(m.group(1)) // 3 + (1 if m.group(2) else 0)


def broadcast_hinted_tables(df: DataFrame) -> set[str]:
    """Base parquet tables sitting under an explicit broadcast hint in
    the ANALYZED logical plan (i.e. a programmer-forced F.broadcast,
    not an AQE/threshold decision).

    The scale guard: a forced broadcast of an SF-growing table is a
    driver OOM at the 100 TB design point, invisible to correctness
    tests and to small-SF benchmarks. Tables are recognized by their
    signature key column in leaf Relation nodes inside each
    ResolvedHint subtree.

    A leaf does NOT count when an Aggregate or Limit sits between the
    hint and the leaf: the broadcast side is then a reduction (a 1-row
    total, a per-key rollup, a top-k) whose size is bounded by its key
    space, not by the table's row count — the legitimate
    broadcast-the-summary pattern."""
    text = df._jdf.queryExecution().analyzed().toString()
    lines = text.splitlines()
    found: set[str] = set()
    reducing = re.compile(r"\b(Aggregate|GlobalLimit|LocalLimit)\b")
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line or "broadcast" not in line.lower():
            continue
        d = _tree_depth(line)
        # ancestor_path[k] = index of the most recent line at depth d+1+k
        path_at_depth: dict[int, int] = {}
        j = i + 1
        while j < len(lines) and _tree_depth(lines[j]) > d:
            sub = lines[j]
            dj = _tree_depth(lines[j])
            path_at_depth[dj] = j
            if "Relation" in sub and "parquet" in sub:
                reduced = any(
                    reducing.search(lines[path_at_depth[dk]])
                    for dk in range(d + 1, dj)
                    if dk in path_at_depth
                )
                if not reduced:
                    for table, sig in _TABLE_SIGNATURES.items():
                        if sig + "#" in sub:
                            found.add(table)
            j += 1
    return found
