"""The one start path and the one batch discipline of every streaming
query in the package.

The reference worker has a single commit rule — a batch's offsets are
committed only after its records are flushed (T1,
ProducerThread.java:172-188). Here that rule is the query checkpoint
(offset WAL + commit log per micro-batch, at-least-once), and
``start`` is the only code that sets it and picks the trigger. The
``foreachBatch`` sinks that read and rewrite their own tables share
``on_nonempty``; the index maintainers, whose appends are not
idempotent, share ``apply_once``.
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQuery

from ureplicator_spark.fsutil import batch_already_applied, batch_marker, mkdirs


def start(
    writer,
    checkpoint_dir: str,
    name: str | None = None,
    available_now: bool = False,
    interval: str | None = None,
) -> StreamingQuery:
    """Start ``writer`` (a configured ``DataStreamWriter``) against
    ``checkpoint_dir``. ``available_now`` drains what is there and
    stops, and wins over ``interval`` (a processing-time cadence such
    as ``"5 seconds"``, the T3 commit interval); with neither, batches
    run back to back."""
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if name:
        writer = writer.queryName(name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif interval:
        writer = writer.trigger(processingTime=interval)
    return writer.start()


def on_nonempty(apply):
    """``foreachBatch`` handler that calls ``apply(spark, batch_df,
    batch_id)`` for each non-empty micro-batch. The batch stays
    persisted for the call: the emptiness probe and the apply's own
    actions would otherwise each recompute it from the source, and a
    non-deterministic source could hand them different rows."""

    def handler(batch_df, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            if not batch_df.isEmpty():
                apply(batch_df.sparkSession, batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return handler


def apply_once(root: str, checkpoint_dir: str, append):
    """``on_nonempty`` handler that calls ``append(spark, batch_df)`` at
    most once per (checkpoint, batch) against the index at ``root``.

    A marker directory (``fsutil.batch_marker``, namespaced by the
    checkpoint so a fresh checkpoint's restarted batch ids never collide
    with an earlier run's markers) is created AFTER the append lands, so
    a micro-batch re-delivered on restart finds its marker and no-ops.
    A crash between append and marker leaves one at-least-once window,
    the engine's T1 posture."""

    def guarded(spark, batch_df, batch_id: int) -> None:
        if batch_already_applied(spark, root, checkpoint_dir, batch_id):
            return
        append(spark, batch_df)
        mkdirs(spark, batch_marker(root, checkpoint_dir, batch_id))

    return on_nonempty(guarded)
