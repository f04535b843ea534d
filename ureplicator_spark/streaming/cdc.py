"""Streaming CDC apply — continuous convergence of the partitioned
archive onto an upstream table from a change feed.

Closes the loop the batch side opens: ``sources/archive.snapshot_diff``
produces the delta between two table versions; this module consumes a
stream of such deltas (rows = full record payload + ``change_type``)
and folds them into the archive with the existing partition-pruned
primitives — ``removed`` keys via ``delete_from_archive``,
``added``/``changed`` rows via ``upsert_archive``. The reference's
closest shape is the controller re-applying ideal-state diffs to live
routes (ValidationManager / AutoRebalance listeners); here the state
being converged is the replicated record archive itself.

Delivery: at-least-once micro-batches compose with idempotent
primitives — a replayed delete of absent keys is a no-op, a replayed
upsert replaces rows with identical ones — so archive state is
effectively-once, same contract as the streaming archive landing.

Scale shape: per batch, both primitives prune to exactly the
(topic, dt) partitions the delta touches; cost is O(delta + touched
partitions), never O(archive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ureplicator_spark.sources.archive import (
    delete_from_archive,
    upsert_archive,
    write_archive,
)
from ureplicator_spark.streaming.batches import on_nonempty, start

DEFAULT_KEYS = ("topic", "partition", "offset")


def _root_exists(spark: SparkSession, root: str) -> bool:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(root)
    return path.getFileSystem(conf).exists(path)


def apply_cdc_batch(
    spark: SparkSession,
    root: str,
    delta: DataFrame,
    keys: tuple[str, ...] = DEFAULT_KEYS,
) -> dict:
    """Fold one CDC delta batch into the archive. ``delta`` carries
    full record rows plus a ``change_type`` column (``added`` /
    ``removed`` / ``changed`` — the ``snapshot_diff`` vocabulary).
    Deletes run before upserts so a re-partitioned replay can never
    resurrect a row it also removes. Returns per-primitive stats."""
    stats: dict = {"deleted": 0, "upserted": 0}
    removes = delta.filter(F.col("change_type") == "removed").select(*keys)
    upserts = delta.filter(
        F.col("change_type").isin("added", "changed")
    ).drop("change_type")

    if removes.head(1):
        d = delete_from_archive(spark, root, removes, keys)
        stats["deleted"] = d["deleted"]
    if upserts.head(1):
        if _root_exists(spark, root):
            u = upsert_archive(spark, root, upserts, keys)
            stats["upserted"] = u["replaced"] + u["inserted"]
        else:
            # first delta against an empty archive: plain partitioned
            # append (upsert's partition-pruned read needs a root)
            n = upserts.count()
            write_archive(upserts, root)
            stats["upserted"] = n
    return stats


def streaming_cdc_apply(
    delta_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    available_now: bool = False,
):
    """Continuously apply a CDC delta stream to the archive.

    foreachBatch by design: each batch both reads and rewrites the
    same partitioned table (the read-write cycle the declarative sink
    API forbids), and the two primitives must run in delete-then-
    upsert order within the batch."""

    def _apply(spark: SparkSession, batch_df: DataFrame, _batch_id: int) -> None:
        apply_cdc_batch(spark, root, batch_df, keys)

    writer = delta_stream.writeStream.foreachBatch(on_nonempty(_apply))
    return start(writer, checkpoint_dir, available_now=available_now)
