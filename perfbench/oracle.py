"""Reference answers: the registry's own DuckDB oracle SQL over the
generated files, and an order-insensitive digest of result rows that
both the oracle side and the REST/Spark side reduce to."""

from __future__ import annotations

import decimal
import hashlib
import json
import os
import re

import duckdb


def run_sql(sql: str, data_dir: str) -> list[dict]:
    """Run ``sql`` with one view per parquet file of ``data_dir``.

    Every top-level CTE is marked MATERIALIZED.  The hint changes how
    DuckDB evaluates, not what: without it a recursive CTE re-derives
    its inputs on every iteration (the curation funnel oracle takes
    ~20 s instead of ~1.4 s on 1,000 docs, with the same digest)."""
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data_dir, f)}')")
        cur = con.execute(re.sub(r"^(\w+) AS \(", r"\1 AS MATERIALIZED (", sql, flags=re.M))
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]
    finally:
        con.close()


def _norm(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return round(float(v), 6) + 0.0
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return str(v)


def digest(rows: list[dict]) -> str:
    """Order-insensitive digest of a row multiset (numbers compared to
    six decimals, which is the rounding the registry's queries use)."""
    canon = sorted(json.dumps([[k, _norm(r[k])] for k in sorted(r)]) for r in rows)
    return hashlib.sha1("\n".join(canon).encode()).hexdigest()
