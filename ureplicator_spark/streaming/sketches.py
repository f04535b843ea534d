"""Streaming sketch maintenance — distinct-count state kept current
from an unbounded stream in O(registers), not O(distinct keys).

The batch side (`operators/sketch.py`) established the portable HLL;
this module maintains its register table from a stream: per
micro-batch, build the batch's (group, bucket, rho-max) partial
registers and MAX-merge them into the persisted register table. Two
properties make this the *easy* streaming aggregate:

- **Associative**: batch registers merge with table registers in any
  grouping — the same map-side-partial argument that makes the batch
  build one shuffle.
- **Idempotent**: MAX-merge of a replayed batch changes nothing, so
  at-least-once delivery needs NO batch-id replay guard — contrast
  `streaming/ivm.py`, whose +/- SUM deltas are not idempotent and
  carry a last-applied-batch sidecar. Monotone sketch state is the
  textbook case where effectively-once falls out of the algebra.

State size: #groups x m rows forever, however many distinct keys the
stream carries — the streaming form of the sketch's whole reason to
exist. An estimate view (`hll_estimates`) folds the current registers
to per-group counts on demand; `dropDuplicates`-based exact streaming
distinct would hold O(distinct) state and can never be windowless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ureplicator_spark.functions import round6f

from ureplicator_spark.operators.sketch import HLL_M, _estimate, _registers
from ureplicator_spark.streaming.batches import on_nonempty, start
from ureplicator_spark.streaming.ivm import _commit_version, _require_view, read_view


def merge_registers_batch(
    spark: SparkSession,
    table_path: str,
    batch: DataFrame,
    group_col: str,
    key_col: str,
    m: int = HLL_M,
) -> None:
    """MAX-merge one batch's partial registers into the persisted
    register table (full-outer on (group, bucket); register-count
    sized, never key-count sized). Idempotent by construction."""
    newregs = _registers(batch, [group_col], key_col, m)
    cur = read_view(spark, table_path)
    if cur is not None:
        merged = cur.join(newregs, [group_col, "j"], "full_outer").select(
            group_col,
            "j",
            F.greatest(
                F.coalesce(cur["mj"], F.lit(0)),
                F.coalesce(newregs["mj"], F.lit(0)),
            ).alias("mj"),
        )
    else:
        merged = newregs
    # crash-atomic versioned commit (ivm._commit_version): a new
    # version directory per merge, _SUCCESS as the commit marker —
    # a crash mid-overwrite of a flat table would silently lose the
    # registers (monotone under-count, not an error). Existence goes
    # through the Hadoop FS API so HDFS/S3 roots work. batch_id=-1:
    # MAX-merge is idempotent, so these are unmanaged commits (the
    # sequence advances, no replay mark is consumed).
    _commit_version(spark, table_path, merged, -1)


def streaming_hll_maintenance(
    keyed_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    group_col: str,
    key_col: str,
    m: int = HLL_M,
    available_now: bool = False,
):
    """Continuously maintain per-group HLL registers from a keyed
    stream. foreachBatch by design (the merge reads and rewrites the
    register table); no replay guard needed — see module docstring."""

    def _merge(spark: SparkSession, batch_df: DataFrame, _batch_id: int) -> None:
        merge_registers_batch(spark, table_path, batch_df, group_col, key_col, m)

    writer = keyed_stream.writeStream.foreachBatch(on_nonempty(_merge))
    return start(writer, checkpoint_dir, available_now=available_now)


def hll_estimates(
    spark: SparkSession, table_path: str, group_col: str, m: int = HLL_M
) -> DataFrame:
    """Fold the maintained register table to per-group distinct
    estimates — the query side of the streaming sketch, group-
    cardinality sized. Raises a descriptive FileNotFoundError when no
    register version has ever committed (a missing table used to
    surface as AttributeError on None)."""
    regs = _require_view(spark, table_path, "HLL register")
    per_g, est = _estimate(regs, [group_col], m)
    return per_g.select(
        group_col, "v_nonempty", round6f(est, 4).alias("est_distinct")
    ).orderBy(group_col)


def merge_kmv_batch(
    spark: SparkSession,
    table_path: str,
    batch: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 64,
) -> None:
    """Fold one batch's KMV synopsis into the persisted per-group
    synopsis table: union of hash sets, re-ranked, truncated at k.
    Set union is idempotent and associative — a replayed batch
    re-contributes the same hashes and changes nothing, so KMV joins
    HLL in the no-replay-guard class (contrast the df +sums of the
    lexical index, which need the marker). State: #groups × k rows
    forever."""
    from ureplicator_spark.operators.sketch import kmv_registers

    newregs = kmv_registers(batch, group_col, key_col, k).select(group_col, "h")
    cur = read_view(spark, table_path)
    if cur is not None:
        merged_hashes = cur.select(group_col, "h").unionByName(newregs).groupBy(
            group_col, "h"
        ).agg(F.lit(1).alias("_one")).select(group_col, "h")
    else:
        merged_hashes = newregs
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy("h")
    merged = (
        merged_hashes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select(group_col, "h", "r")
    )
    _commit_version(spark, table_path, merged, -1)


def streaming_kmv_maintenance(
    keyed_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    group_col: str,
    key_col: str,
    k: int = 64,
    available_now: bool = False,
):
    """Continuously maintain per-group KMV synopses from a keyed
    stream — the streaming twin of ``operators/sketch.kmv_registers``,
    giving live distinct counts AND live cross-group overlap/Jaccard
    estimates (the set operations the streaming HLL cannot answer)."""

    def _merge(spark: SparkSession, batch_df: DataFrame, _batch_id: int) -> None:
        merge_kmv_batch(spark, table_path, batch_df, group_col, key_col, k)

    writer = keyed_stream.writeStream.foreachBatch(on_nonempty(_merge))
    return start(writer, checkpoint_dir, available_now=available_now)


def kmv_estimates(
    spark: SparkSession, table_path: str, group_col: str, k: int = 64
) -> DataFrame:
    """Per-group distinct estimates from the maintained synopses:
    (k-1) · 2^60 / h_k, exact count when the group never filled its
    synopsis. Group-cardinality-sized output."""
    regs = _require_view(spark, table_path, "KMV synopsis")
    per_g = regs.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_synopsis"),
        F.max("h").alias("hk"),
    )
    est = F.when(
        F.col("n_synopsis") < k, F.col("n_synopsis").cast("double")
    ).otherwise(F.lit(float(k - 1) * float(1 << 60)) / F.col("hk"))
    return per_g.select(
        group_col, "n_synopsis", round6f(est, 4).alias("est_distinct")
    ).orderBy(group_col)


def kmv_pair_estimates(
    spark: SparkSession, table_path: str, group_col: str, k: int = 64
) -> DataFrame:
    """Pairwise union/Jaccard/intersection estimates from the
    MAINTAINED synopsis table — the live overlap query the streaming
    HLL structurally cannot answer. Delegates to the batch estimator
    (`operators/sketch.kmv_pairwise_estimates`) over the current view,
    so streamed and one-shot overlap numbers are the same function of
    the same synopsis."""
    from ureplicator_spark.operators.sketch import kmv_pairwise_estimates

    regs = _require_view(spark, table_path, "KMV synopsis")
    return kmv_pairwise_estimates(regs, group_col, k).orderBy("src_a", "src_b")


# ---------------------------------------------------------------------------
# Streaming HDR-histogram quantile sketch maintenance (r11): the
# quantile counterpart of the HLL/KMV maintainers. HDR registers merge
# by SUM — associative and map-side combinable like the batch build,
# but NOT idempotent (contrast MAX/set-union above), so replayed
# batches are skipped via the managed batch-id high-water mark that
# `ivm._commit_version` stamps into the committed version name — the
# same replay contract as the IVM +/- deltas.
# ---------------------------------------------------------------------------


def merge_hdr_batch(
    spark: SparkSession,
    table_path: str,
    batch: DataFrame,
    value_col: str,
    group_cols: list[str],
    m: int | None = None,
    batch_id: int = -1,
) -> None:
    """SUM-merge one batch's HDR registers into the persisted table
    (register-count sized, never data sized). ``batch_id`` >= 0 is a
    managed apply: a replayed id <= the high-water mark no-ops."""
    from ureplicator_spark.operators.sketch import HDR_M_BITS, hdr_registers
    from ureplicator_spark.streaming.ivm import _last_applied

    if batch_id >= 0 and batch_id <= _last_applied(spark, table_path):
        return  # replayed batch: already summed, no-op
    newregs = hdr_registers(batch, value_col, group_cols, m or HDR_M_BITS)
    cur = read_view(spark, table_path)
    if cur is not None:
        merged = (
            cur.unionByName(newregs)
            .groupBy(*group_cols, "bucket_key")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        merged = newregs
    _commit_version(spark, table_path, merged, batch_id)


def streaming_hdr_maintenance(
    keyed_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    value_col: str,
    group_cols: list[str],
    m: int | None = None,
    available_now: bool = False,
):
    """Continuously maintain per-group HDR quantile registers from a
    stream — live percentiles in O(registers) state however many rows
    flow; `hdr_quantile_estimates` reads them on demand."""

    def _merge(spark: SparkSession, batch_df: DataFrame, batch_id: int) -> None:
        merge_hdr_batch(
            spark, table_path, batch_df, value_col, group_cols, m, batch_id
        )

    writer = keyed_stream.writeStream.foreachBatch(on_nonempty(_merge))
    return start(writer, checkpoint_dir, available_now=available_now)


def hdr_quantile_estimates(
    spark: SparkSession,
    table_path: str,
    group_cols: list[str],
    percentiles: tuple[int, ...] = (50, 95, 99),
    m: int | None = None,
) -> DataFrame:
    """Fold the maintained HDR registers to per-group nearest-rank
    quantile estimates on demand (register-count sized)."""
    from ureplicator_spark.operators.sketch import HDR_M_BITS, hdr_quantiles

    regs = _require_view(spark, table_path, "HDR register")
    return hdr_quantiles(regs, group_cols, percentiles, m or HDR_M_BITS)
