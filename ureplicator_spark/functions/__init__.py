"""Scalar function library (SURVEY.md §2.7, F3/F4/F6) plus shared
deterministic hashing used by the dedup/similarity operators.

Everything here is a Catalyst Column expression — JVM-side, codegen'd,
no Python UDFs. ``md5_long`` is the one hash primitive whose output is
reproducible in any engine (DuckDB, Trino, ...) for oracle checking,
unlike Spark's murmur3 ``F.hash``.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F


def session_memo(fn):
    """Memoize a ``(spark, *hashable_args) -> DataFrame`` builder per
    session.

    Profiling showed DataFrame CONSTRUCTION (Py4J round-trips, parquet
    footer/schema reads, conf handshakes) was ~half the wall-clock of
    control-plane-sized queries, so build each once per distinct
    argument tuple and reuse the analyzed plan — the same discipline a
    real deployment has where tables are registered once in a catalog,
    not re-derived per query. The memo is only as fresh as its key: a
    builder whose inputs can change must put their version in the
    arguments (``sources.parquet.load_table`` keys on the table file's
    size and mtime).

    Keys on the session OBJECT (not id()) so a GC'd session can never
    alias a live one; DataFrames pin their session anyway, so this adds
    no new lifetime. Concurrent callers may race to build the same
    entry — both results are equivalent, last write wins, no lock
    needed (dict writes are atomic under the GIL).
    """
    cache: dict = {}

    @functools.wraps(fn)
    def wrapper(spark, *args, **kwargs):
        if kwargs:
            return fn(spark, *args, **kwargs)
        key = (spark, args)
        try:
            return cache[key]
        except (KeyError, TypeError):
            out = fn(spark, *args)
            try:
                cache[key] = out
            except TypeError:
                pass
            return out

    return wrapper


def md5_long(col: Column | str, salt: str = "") -> Column:
    """Deterministic 60-bit hash: first 15 hex chars of md5 → bigint.

    Engine-portable (DuckDB: ``('0x' || substr(md5(x),1,15))::BIGINT``).
    Used for minhash/simhash/LSH where the oracle must reproduce values.
    """
    c = F.col(col) if isinstance(col, str) else col
    if salt:
        c = F.concat(F.lit(salt), F.lit(":"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def round6f(x: Column, k: int = 6) -> Column:
    """Cross-engine-exact k-dp (default 6) rounding for NONNEGATIVE
    deterministic doubles: ``floor(x·10^k + 0.5) / 10^k``.
    ROUND(double, k) is implementation-defined within an ulp of a
    .5·10^-k boundary (Spark rounds the shortest-decimal rendering,
    DuckDB the scaled double — the drift-monitor/covariance
    divergences), while multiply/add/floor are IEEE-identical on any
    engine, so the chain agrees bit-for-bit whenever ``x`` itself
    does. SQL twin: :func:`sql_round6f`. Operands must be
    deterministic — an order-dependent SUM(double) needs
    exact/canonical folding FIRST."""
    s = float(10**k)
    return F.floor(x * s + F.lit(0.5)).cast("double") / s


def round6s(x: Column, k: int = 6) -> Column:
    """Sign-aware :func:`round6f` for values that can be negative
    (half-away-from-zero, like ROUND); ``+ 0.0`` canonicalizes the
    ``-0.0`` a tiny negative operand would produce. SQL twin:
    :func:`sql_round6s`."""
    s = float(10**k)
    return (
        F.signum(x) * F.floor(F.abs(x) * s + F.lit(0.5)).cast("double") / s
        + F.lit(0.0)
    )


def micro6(x: Column) -> Column:
    """Integer MICRO-UNITS of a deterministic double: ``sign(x) ·
    floor(|x|·1e6 + 0.5)`` as BIGINT — the 6-dp floor chain kept in
    integer form. Summing micro-units is EXACT integer arithmetic
    (order-free, map-side combinable), so a per-term quantize →
    integer SUM → one final /1e6 replaces both the order-dependent
    SUM(double) AND the collect+sort canonical fold — the shape that
    scales (a sorted-list fold per group re-materializes every term).
    Quantization error ≤ 5e-7 per term, identical on both engines.
    SQL twin: :func:`sql_micro6`."""
    return (F.signum(x) * F.floor(F.abs(x) * 1e6 + F.lit(0.5))).cast("long")


def sql_micro6(x: str) -> str:
    """DuckDB twin of :func:`micro6`."""
    return f"CAST(SIGN({x}) * FLOOR(ABS({x}) * 1e6 + 0.5) AS BIGINT)"


def sql_round6f(x: str, k: int = 6) -> str:
    """DuckDB twin of :func:`round6f` (embed in oracle SQL)."""
    return f"FLOOR(({x}) * 1e{k} + 0.5) / 1e{k}"


def sql_round6s(x: str, k: int = 6) -> str:
    """DuckDB twin of :func:`round6s`."""
    return f"(SIGN({x}) * FLOOR(ABS({x}) * 1e{k} + 0.5) / 1e{k} + 0.0)"


def route_parse(route: Column | str) -> list[Column]:
    """F3: split '@src@dst@routeId' → (src, dst, route_id) (HelixUtils.java:114-120)."""
    c = F.col(route) if isinstance(route, str) else route
    parts = F.split(c, "@")
    return [
        parts.getItem(1).alias("src"),
        parts.getItem(2).alias("dst"),
        parts.getItem(3).cast("int").alias("route_id"),
    ]


def same_region(src: Column | str, dst: Column | str) -> Column:
    """F4: first-3-char region prefix equality (HelixMirrorMakerManager.java:422-428)."""
    s = F.col(src) if isinstance(src, str) else src
    d = F.col(dst) if isinstance(dst, str) else dst
    return F.substring(s, 1, 3) == F.substring(d, 1, 3)


def clamp_lag(latest: Column | str, commit: Column | str) -> Column:
    """F6: max(0, latest - commit) lag gauge clamp (OffsetMonitor.java:391-400)."""
    lt = F.col(latest) if isinstance(latest, str) else latest
    cm = F.col(commit) if isinstance(commit, str) else commit
    return F.greatest(F.lit(0).cast("long"), lt - cm)


def fan_out(df, min_partitions: int | None = None):
    """Widen a narrow scan before CPU-heavy per-row work.

    A few-hundred-KB parquet file arrives as ONE input split, so an
    expensive downstream map (k-gram shingling, K salted hashes per
    shingle) runs on one core while 31 idle. Repartitioning costs one
    tiny round-robin exchange and buys full parallelism. The guard
    makes it a no-op once the scan already has enough splits — the
    100 TB case — so at-scale plans keep zero extra shuffles. Batch
    only (streaming DataFrames skip it)."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    sc = spark.sparkContext
    target = min_partitions or sc.defaultParallelism
    # Probe the scan's file list — a driver-side plan walk, NOT df.rdd
    # (which converts the whole plan to an RDD and previously added a
    # visible planning stall to every shingling / simhash query).
    #
    # File COUNT alone is not scan parallelism: Spark packs small files
    # into splits (maxPartitionBytes / openCostInBytes), so 100 tiny
    # files can scan as 1-2 partitions. Estimate splits with the same
    # cost model Spark uses (each file costs max(size, openCost); a
    # split closes at maxPartitionBytes) and only skip the widening
    # when the ESTIMATE shows enough parallelism. Files whose size we
    # cannot stat cheaply (non-local URIs) fall back to requiring
    # n_files >= target outright — optimistic counting may only make
    # us skip, so the conservative branch must be the strict one.
    files = df.inputFiles()
    if files:
        try:
            max_split = int(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
                .lower().rstrip("b")
            )
            open_cost = int(
                spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
                .lower().rstrip("b")
            )
            import os as _os

            local = [p for p in files if p.startswith(("file:", "/"))]
            if len(local) == len(files):
                total_cost = sum(
                    max(_os.path.getsize(p.removeprefix("file:")), open_cost)
                    for p in local
                )
                # ceil(total_cost / maxPartitionBytes) under-estimates
                # (Spark may pick a smaller split size → more splits),
                # so a skip here is always safe.
                est_splits = max(1, -(-total_cost // max_split))
                if est_splits >= max(2, target // 2):
                    return df
                return df.repartition(target)
        except (OSError, ValueError):
            pass
        if len(files) >= target:
            return df
    # Non-file plans (LocalRelation test inputs, RDD-backed checkpoints)
    # report no files and get the widening unconditionally. Call sites
    # only apply fan_out to base corpus scans, so this never re-shuffles
    # an already-wide post-shuffle stage; if a new call site needs that,
    # pass min_partitions explicitly.
    return df.repartition(target)


def values_df(spark, rows, cols: str):
    """Small literal DataFrame as a JVM-side LocalRelation (SQL VALUES).

    ``spark.createDataFrame(list)`` plans as applySchemaToPythonRDD,
    which launches Python workers inside every job that evaluates the
    plan — including each broadcast-hash-table build, adding seconds of
    latency to otherwise pure-JVM queries. A VALUES clause plans as a
    LocalRelation: zero Python involvement, constant-folded, instantly
    broadcastable. ``cols`` is createDataFrame's DDL string
    ("name type, ...").
    """
    parts = [c.strip().split(None, 1) for c in cols.split(",")]
    names = [p[0] for p in parts]
    types = [p[1] for p in parts]

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            # backslash FIRST: Spark's default (non-ANSI) parser treats
            # \ as a C-style escape inside string literals, so a raw
            # payload backslash must be doubled or the literal silently
            # decodes (\n -> newline) — verified on 4.1.2
            return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
        return repr(v)

    rows_sql = ", ".join(
        "(" + ", ".join(lit(v) for v in (r if isinstance(r, (tuple, list)) else (r,))) + ")"
        for r in rows
    )
    sel = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in zip(names, types))
    return spark.sql(f"SELECT {sel} FROM (VALUES {rows_sql}) AS t({', '.join(names)})")


def top_k_ranked(df, k: int, *order_cols: Column, rank_col: str = "rank"):
    """Global top-k with a 1-based rank column, scale-safely.

    ``orderBy(...).limit(k)`` compiles to ``TakeOrderedAndProject`` —
    each task keeps a k-element heap and the driver merges k·p rows —
    instead of the single-partition total sort a global
    ``row_number()`` window forces. The rank window then runs over only
    the k surviving rows, so its single partition is harmless. Order
    columns must form a total order (include a tiebreaker) for the rank
    to be deterministic.
    """
    from pyspark.sql import Window

    topk = df.orderBy(*order_cols).limit(k)
    return topk.withColumn(rank_col, F.row_number().over(Window.orderBy(*order_cols)))


def word_kgrams(toks_col: str = "toks", k: int = 3) -> Column:
    """Array of space-joined word k-grams over a token-array column.

    Callers MUST pre-filter ``size(col) >= k``: for shorter docs
    ``sequence`` would descend through zero and ``slice`` throws
    INVALID_PARAMETER_VALUE.START, aborting the job (the short-doc
    crash class). Shared by shingling, boilerplate detection,
    repetition gates, and n-gram reports so the gram definition — and
    its DuckDB oracle twin (``list_transform(range(...), ...)``) —
    exists once."""
    return F.expr(
        f"transform(sequence(1, size({toks_col}) - {k - 1}),"
        f" i -> array_join(slice({toks_col}, i, {k}), ' '))"
    )


def stream_word_kgrams(df, k: int, gram_alias: str, *keep_cols: str):
    """Row-stream the word k-grams of a ``toks`` array column WITHOUT
    ever materializing the joined-string gram array: explode the
    integer index sequence, then join each gram once per OUTPUT row.
    Same values as ``explode(word_kgrams(...))``, measured ~4× faster
    at sf0.1 — building the per-doc array of gram STRINGS was the
    cost, not the explode. Only for occurrence-grain consumers
    (boilerplate counts, repetition shares, n-gram reports);
    per-doc-DISTINCT consumers must materialize the array for
    ``array_distinct`` (operators/dedup.shingles — the same rewrite
    measured flat there, the array has to exist anyway).

    Caller contract is word_kgrams': pre-filter ``size(toks) >= k``.
    """
    return df.select(
        *keep_cols,
        "toks",
        F.posexplode(F.expr(f"sequence(1, size(toks) - {k - 1})")).alias(
            "__p", "__i"
        ),
    ).select(
        *keep_cols,
        F.expr(f"array_join(slice(toks, __i, {k}), ' ')").alias(gram_alias),
    )
