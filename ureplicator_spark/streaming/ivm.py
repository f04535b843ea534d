"""Incremental view maintenance — keep a grouped COUNT/SUM aggregate
current from a CDC delta stream without ever re-reading the base table.

The classic IVM identity for distributive aggregates: a delta row
adjusts the view by (+1 row, +new value) when added, (-1 row, -old
value) when removed, and (new - old) when changed — so the maintained
table needs the before/after images ``snapshot_diff(...,
include_values=True)`` emits. Per micro-batch the work is
O(delta + |view|): one group-aggregate over the delta and one
full-outer merge against the (group-cardinality-sized) view — the
100 TB base table is never touched. This is the continuous form of the
controller's always-current workload tables (per-topic counts the
reference recomputes from metrics on every rebalance tick).

Effectively-once, crash-atomically: foreachBatch is at-least-once and
a Δ-apply is NOT idempotent, so each apply writes a NEW version
directory and the committer's ``_SUCCESS`` marker is simultaneously
(a) the data commit and (b) the replay record — there is no window
where the data is written but the batch id is not (the flaw of a
post-write sidecar: a crash between the two replays the batch into an
already-updated view). A replayed batch id sees the committed
high-water mark and is skipped; a crashed half-write has no
``_SUCCESS`` and is transparently overwritten by the retry.

Version naming separates ORDER from REPLAY STATE (round-6 advisor):
``v<seq>_b<hwm>`` where ``seq`` is a per-view monotone sequence (the
read order) and ``hwm`` is the applied-batch high-water mark. A
streaming apply of batch B commits ``v<seq+1>_b<B>``; an unmanaged
manual apply (no batch id) commits ``v<seq+1>_b<hwm>`` — it advances
the sequence but INHERITS the mark, so seeding a fresh view manually
yields ``v0`` (mark −1) and the first streaming batch (id 0) is
correctly applied, not skipped as a replay. Because every new version
carries the full replay state in its own name, pruning old versions
can never lose it. All existence checks go through the Hadoop
FileSystem API (fsutil) so HDFS/S3 view roots behave identically to
local ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ureplicator_spark.fsutil import (
    committed_parquet_exists,
    delete_recursive,
    list_subdirs,
)
from ureplicator_spark.streaming.batches import on_nonempty, start


def _parse_version(name: str) -> tuple[int, int] | None:
    """``v<seq>_b<hwm>`` → (seq, hwm); ``v<seq>`` → (seq, -1);
    anything else → None. Either form may carry a ``_d<tag>`` suffix —
    the commit-atomic identity tag an unmanaged applier (the lexical
    index's RTBF delete) uses to prove ITS decrement committed even
    when concurrent maintainer commits advance the sequence."""
    if not name.startswith("v"):
        return None
    body = name[1:]
    if "_d" in body:
        body = body.split("_d", 1)[0]
    if "_b" in body:
        seq_s, hwm_s = body.split("_b", 1)
        if seq_s.isdigit() and hwm_s.isdigit():
            return int(seq_s), int(hwm_s)
        return None
    if body.isdigit():
        return int(body), -1
    return None


def _committed_versions(
    spark: SparkSession, view_path: str
) -> list[tuple[int, int, str]]:
    """Committed (seq, hwm, dirname) triples, sorted by seq."""
    out = []
    for name in list_subdirs(spark, view_path):
        parsed = _parse_version(name)
        if parsed is not None and committed_parquet_exists(
            spark, f"{view_path}/{name}"
        ):
            out.append((parsed[0], parsed[1], name))
    return sorted(out)


def _last_applied(spark: SparkSession, view_path: str) -> int:
    """Applied-batch high-water mark = the NEWEST committed version's
    mark (each commit carries the full replay state forward)."""
    versions = _committed_versions(spark, view_path)
    return versions[-1][1] if versions else -1


def _last_seq(spark: SparkSession, view_path: str) -> int:
    versions = _committed_versions(spark, view_path)
    return versions[-1][0] if versions else -1


def read_view(spark: SparkSession, view_path: str) -> DataFrame | None:
    """Current committed contents of a maintained view, or None when no
    version has ever committed. A plain parquet directory at
    ``view_path`` itself (e.g. a one-off seed aggregate) is accepted as
    the pre-versioned state."""
    versions = _committed_versions(spark, view_path)
    if versions:
        return spark.read.parquet(f"{view_path}/{versions[-1][2]}")
    if committed_parquet_exists(spark, view_path):
        return spark.read.parquet(view_path)
    return None


def _require_view(spark: SparkSession, view_path: str, what: str) -> DataFrame:
    view = read_view(spark, view_path)
    if view is None:
        raise FileNotFoundError(
            f"no committed {what} view at {view_path!r}: seed it with an "
            "apply_delta_to_*_view call or run the streaming maintenance "
            "job before querying it"
        )
    return view


def _commit_version(
    spark: SparkSession,
    view_path: str,
    merged: DataFrame,
    batch_id: int,
    tag: str | None = None,
) -> None:
    """Write one new view version; the parquet ``_SUCCESS`` marker IS
    the atomic commit+replay record. ``batch_id`` < 0 means an
    unmanaged apply: the sequence advances, the high-water mark is
    inherited. ``tag`` stamps the version NAME with the applier's
    identity (``_d<tag>``) — committed atomically with the data, so
    "did MY apply land" is answerable even after concurrent commits
    advance the sequence. Prunes versions older than the immediately
    previous one (kept so a concurrent reader of the prior version is
    not yanked mid-scan) — always safe, because the newest version's
    name carries the full replay state."""
    seq = _last_seq(spark, view_path) + 1
    hwm = batch_id if batch_id >= 0 else _last_applied(spark, view_path)
    name = f"v{seq}_b{hwm}" if hwm >= 0 else f"v{seq}"
    if tag:
        name += f"_d{tag}"
    merged.write.mode("overwrite").parquet(f"{view_path}/{name}")
    for _seq, _hwm, dirname in _committed_versions(spark, view_path)[:-2]:
        delete_recursive(spark, f"{view_path}/{dirname}")


def committed_tag_present(spark: SparkSession, view_path: str, tag: str) -> bool:
    """True when a committed version carries ``_d<tag>`` — the
    commit-atomic evidence that a tagged apply landed. Only the two
    newest versions survive pruning, so callers needing durable
    evidence must ALSO write their own marker once the commit returns
    (see lexical_index._apply_delete_stats)."""
    suffix = f"_d{tag}"
    return any(
        dirname.endswith(suffix)
        for _s, _h, dirname in _committed_versions(spark, view_path)
    )


def _sum_result_type(
    delta: DataFrame, col: str, view: DataFrame | None
) -> T.DataType:
    """SUM result type for the maintained total: integrals widen to
    long (Spark's own SUM behavior); fractional/decimal inputs keep
    their value domain instead of being truncated to long.

    When the view already exists, the accumulated total's type is the
    floor — the result only ever WIDENS (long ∪ double → double,
    decimal ∪ decimal → max precision/scale): a later all-integral
    delta must not cast an existing double/decimal total down to long
    and silently truncate accumulated fractional state (round-6
    advisor)."""

    def of(dt: T.DataType) -> T.DataType:
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return T.LongType()
        if isinstance(dt, T.DecimalType):
            # SUM over decimal(p, s) is decimal(p+10, s) in both engines
            return T.DecimalType(min(dt.precision + 10, 38), dt.scale)
        return T.DoubleType()

    delta_t = of(delta.schema[col].dataType)
    if view is None or "total" not in view.columns:
        return delta_t
    view_t = view.schema["total"].dataType
    if isinstance(view_t, T.DecimalType) and isinstance(delta_t, T.DecimalType):
        return T.DecimalType(
            min(max(view_t.precision, delta_t.precision), 38),
            max(view_t.scale, delta_t.scale),
        )
    if type(view_t) is type(delta_t):
        return view_t
    if isinstance(view_t, T.DoubleType) or isinstance(delta_t, T.DoubleType):
        return T.DoubleType()
    # long ∪ decimal: the decimal side is the wider value domain
    return view_t if isinstance(view_t, T.DecimalType) else delta_t


def apply_delta_to_view(
    spark: SparkSession,
    view_path: str,
    delta: DataFrame,
    group_cols: list[str],
    sum_col: str,
    batch_id: int = -1,
) -> bool:
    """Fold one CDC delta batch (rows: group_cols + change_type +
    ``old_<sum_col>``/``new_<sum_col>`` images) into the maintained
    ``(group_cols..., n_records, total)`` view. Returns False when the
    batch id was already applied (replay skip); ``batch_id`` < 0 is an
    unmanaged apply that never triggers (or advances) replay
    protection. Groups whose count reaches zero are dropped from the
    view. ``total`` preserves the input column's value domain (long
    for integrals, double/decimal otherwise), widening only."""
    if batch_id >= 0 and batch_id <= _last_applied(spark, view_path):
        return False
    cur = read_view(spark, view_path)
    total_t = _sum_result_type(delta, f"new_{sum_col}", cur)

    d_count = (
        F.when(F.col("change_type") == "added", F.lit(1))
        .when(F.col("change_type") == "removed", F.lit(-1))
        .otherwise(F.lit(0))
    )
    d_sum = (
        F.when(F.col("change_type") == "added", F.col(f"new_{sum_col}"))
        .when(F.col("change_type") == "removed", -F.col(f"old_{sum_col}"))
        .otherwise(F.col(f"new_{sum_col}") - F.col(f"old_{sum_col}"))
    )
    adj = delta.groupBy(*group_cols).agg(
        F.sum(d_count).alias("_dn"), F.sum(d_sum).alias("_ds")
    )

    if cur is None:
        cur = (
            adj.select(*group_cols)
            .limit(0)
            .withColumn("n_records", F.lit(0).cast("long"))
            .withColumn("total", F.lit(0).cast(total_t))
        )
    merged = (
        cur.join(adj, group_cols, "full_outer")
        .select(
            *group_cols,
            (F.coalesce("n_records", F.lit(0)) + F.coalesce("_dn", F.lit(0)))
            .cast("long")
            .alias("n_records"),
            (
                F.coalesce(F.col("total").cast(total_t), F.lit(0).cast(total_t))
                + F.coalesce(F.col("_ds").cast(total_t), F.lit(0).cast(total_t))
            )
            .cast(total_t)
            .alias("total"),
        )
        .filter(F.col("n_records") > 0)
    )
    _commit_version(spark, view_path, merged, batch_id)
    return True


def streaming_view_maintenance(
    delta_stream: DataFrame,
    view_path: str,
    checkpoint_dir: str,
    group_cols: list[str],
    sum_col: str,
    available_now: bool = False,
):
    """Continuously maintain the grouped aggregate view from a CDC
    delta stream. foreachBatch by design: the merge reads and rewrites
    the same view table, and replay protection needs the batch id."""

    def _apply(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        apply_delta_to_view(spark, view_path, batch_df, group_cols, sum_col, batch_id)

    writer = delta_stream.writeStream.foreachBatch(on_nonempty(_apply))
    return start(writer, checkpoint_dir, available_now=available_now)


def apply_delta_to_distinct_view(
    spark: SparkSession,
    view_path: str,
    delta: DataFrame,
    group_cols: list[str],
    key_col: str,
    batch_id: int = -1,
) -> bool:
    """Exact incremental COUNT(DISTINCT key) per group, with DELETION
    support, from a CDC delta — the point on the distinct-count
    spectrum the sketches cannot reach: HLL registers are monotone
    (union-only; a removed key can never leave the sketch), while a
    reference-counted view retracts exactly. The price is the state
    the sketch exists to avoid: O(distinct (group, key)) rows.

    View: ``(group_cols..., key, refcount)``. An ``added`` delta row
    contributes +1 to its (group, key), ``removed`` -1, ``changed``
    0 (the key is part of row identity; a change re-keys via
    delete+insert). A key leaves the distinct set only when its
    refcount reaches zero — removing one of several referencing rows
    correctly keeps it. Same crash-atomic versioned commit as
    :func:`apply_delta_to_view` (sum deltas are not idempotent);
    ``batch_id`` < 0 is an unmanaged apply outside replay protection.

    Scale shape per batch: one group-aggregate over the delta + one
    full-outer merge on (group, key) against the view — O(delta +
    view); the base table is never re-read. ``distinct_counts`` folds
    the view to per-group counts (group-cardinality sized)."""
    if batch_id >= 0 and batch_id <= _last_applied(spark, view_path):
        return False

    d = (
        F.when(F.col("change_type") == "added", F.lit(1))
        .when(F.col("change_type") == "removed", F.lit(-1))
        .otherwise(F.lit(0))
    )
    adj = delta.groupBy(*group_cols, key_col).agg(F.sum(d).alias("_d"))

    merge_keys = [*group_cols, key_col]
    cur = read_view(spark, view_path)
    if cur is None:
        cur = adj.select(*merge_keys).limit(0).withColumn(
            "refcount", F.lit(0).cast("long")
        )
    merged = (
        cur.join(adj, merge_keys, "full_outer")
        .select(
            *merge_keys,
            (F.coalesce("refcount", F.lit(0)) + F.coalesce("_d", F.lit(0)))
            .cast("long")
            .alias("refcount"),
        )
        .filter(F.col("refcount") > 0)
    )
    _commit_version(spark, view_path, merged, batch_id)
    return True


def distinct_counts(
    spark: SparkSession, view_path: str, group_cols: list[str]
) -> DataFrame:
    """Per-group exact distinct counts from the maintained
    reference-counted view. Raises a descriptive FileNotFoundError
    when no version has ever committed (a missing view used to
    surface as AttributeError on None)."""
    view = _require_view(spark, view_path, "reference-counted distinct")
    return (
        view.groupBy(*group_cols)
        .agg(F.count("*").alias("n_distinct"))
        .orderBy(*group_cols)
    )
