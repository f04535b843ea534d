"""Data-plane replicate transform — the reference's core per-record
pipeline re-expressed as declarative DataFrame ops.

Reference semantics (DefaultMessageTransformer.java:44-56):
  * P1 topic rename:   ``dstTopic = mapping.getOrDefault(topic, topic)``
  * P2 partition remap: ``p % dstCount`` when dst count known and p >= 0,
    else NULL (sink default partitioner)
  * P3 timestamp normalization: ``ts <= 0 → NULL``
  * P4 record drop: transformer returning null drops the record,
    counted in ``numDroppedMessage`` (ProducerThread.java:150-155)
  * J1 the mapping lookup is a hash map per record — here an explicit
    BROADCAST hash join so the plan is shuffle-free at any scale.
  * S3 bounded scan: per-partition [start, end) offset bounds
    (PartitionOffsetInfo.java:29-78, ConsumerIterator.java:59)
  * P6 replay skip: offset < consumeOffset dropped on replay
    (ConsumerIterator.java:81-83)

``replicate_with_tables`` takes a route's two dicts, composes P1 and
P2's count lookup on the driver into one ``(src_topic, dst_topic,
num_partitions)`` table and joins once. ``replicate_transform`` takes
the mapping and the partition counts as two tables (the registry query
and any caller holding tables), collects them on the driver and runs
the same join. Every broadcast of a ``VALUES`` table is a Spark job of
its own (``BroadcastExchangeExec`` collects its child through a job,
and a ``LocalTableScanExec`` gets no shortcut), so the single lookup
saves one job per micro-batch on a live route. A literal map in place
of the join is slower at scale (13x at 10,000 entries on a 4-core
host): ``GetMapValue`` scans its keys.

Scale notes: the only joins are broadcast (route tables are tiny by
construction — config files in the reference); everything else is a
narrow projection/filter, so the whole transform pipelines inside one
WholeStageCodegen over the scan with zero shuffles, at any data size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ureplicator_spark.functions import values_df


def replicate_transform(
    records: DataFrame,
    topic_mapping: DataFrame,
    partition_counts: DataFrame,
    drop_predicate: Column | None = None,
) -> DataFrame:
    """Apply the full reference transform; returns the producer-side view.

    ``topic_mapping`` is ``(src_topic, dst_topic)`` and
    ``partition_counts`` is ``(topic, num_partitions)``; both are
    collected on the driver (route tables are small by construction)
    and applied by :func:`replicate_with_tables`. A NULL ``dst_topic``
    keeps the source name, as ``getOrDefault`` does. Output columns:
    those of ``records`` (``ts_sec`` normalized), then ``dst_topic``
    and ``dst_partition`` (nullable).
    """
    if drop_predicate is not None:
        # P4: dropped records counted via observe() → numDroppedMessage
        records = records.observe(
            "replicate_metrics",
            F.sum(F.when(drop_predicate, 1).otherwise(0)).alias("numDroppedMessage"),
        ).filter(~drop_predicate)
    mapping = [(r["src_topic"], r["dst_topic"]) for r in topic_mapping.collect()]
    return replicate_with_tables(
        records,
        {s: d for s, d in mapping if d is not None},
        {r["topic"]: r["num_partitions"] for r in partition_counts.collect()},
    )


def _route_lookup(
    topic_mapping: dict[str, str], partition_counts: dict[str, int]
) -> list[tuple[str, str, int | None]]:
    """P1 then P2's count lookup, composed: one ``(src_topic, dst_topic,
    num_partitions)`` row per source topic the route renames or counts.
    A renamed topic takes its destination's count; a topic that is only
    counted maps to itself. A rename is applied once, never chained."""
    rows = [(s, d, partition_counts.get(d)) for s, d in topic_mapping.items()]
    rows += [(t, t, n) for t, n in partition_counts.items() if t not in topic_mapping]
    return rows


def replicate_with_tables(
    records: DataFrame, topic_mapping: dict[str, str], partition_counts: dict[str, int]
) -> DataFrame:
    """The replicate transform over a route's topic-mapping and
    partition-count dicts, as one broadcast join against their
    composed lookup (``_route_lookup``, shipped as a ``VALUES``
    LocalRelation; with both dicts empty, one NULL row that matches no
    topic), then P2's remap against the destination's count and P3."""
    lookup = values_df(
        records.sparkSession,
        _route_lookup(topic_mapping, partition_counts) or [(None, None, None)],
        "src_topic string, dst_topic string, num_partitions int",
    )
    out = (
        records.join(
            F.broadcast(lookup), on=records["topic"] == lookup["src_topic"], how="left"
        )
        .withColumn("dst_topic", F.coalesce("dst_topic", "topic"))
        .drop("src_topic")
        .withColumn(
            "dst_partition",
            F.when(
                F.col("num_partitions").isNotNull() & (F.col("partition") >= 0),
                F.pmod(F.col("partition"), F.col("num_partitions")).cast("int"),
            ).otherwise(F.lit(None).cast("int")),
        )
        .drop("num_partitions")
    )
    # P3: non-positive timestamps → NULL
    return out.withColumn(
        "ts_sec",
        F.when(F.col("ts_sec") <= 0, F.lit(None).cast("long")).otherwise(F.col("ts_sec")),
    )


def bounded_filter(
    records: DataFrame,
    start_offset: int | None = None,
    end_offset: int | None = None,
    consume_offset: int | None = None,
) -> DataFrame:
    """S3/T10 bounded scan + P6 replay skip as predicates.

    ``[start, end)`` bounds mirror PartitionOffsetInfo semantics
    (startingOffset inclusive, endingOffset exclusive via
    ``consumedEndBounded``); ``consume_offset`` mirrors the replay-skip
    lower bound. Pure filters → parquet/Kafka pushdown.
    """
    out = records
    if consume_offset is not None:
        out = out.filter(F.col("offset") >= consume_offset)
    if start_offset is not None:
        out = out.filter(F.col("offset") >= start_offset)
    if end_offset is not None:
        out = out.filter(F.col("offset") < end_offset)
    return out


def bounded_counts(records: DataFrame, start_offset: int, end_offset: int) -> DataFrame:
    """Per-(topic, partition) record count + offset span within [start, end).

    The reference's bounded-replication invariant (WorkerInstanceTest.java:147-159):
    a bounded route delivers exactly the records inside the range.
    """
    return (
        bounded_filter(records, start_offset, end_offset)
        .groupBy("topic", "partition")
        .agg(
            F.count("*").alias("n_records"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
            F.sum("value_size").alias("total_bytes"),
        )
    )


def parse_payloads(records: DataFrame, json_schema: str) -> tuple[DataFrame, DataFrame]:
    """Typed payload decode with quarantine (the optional `from_json`
    path noted in SURVEY §1.1 — the reference keeps payloads opaque, so
    any decode is an extension and must not poison the pipeline).

    Returns (parsed, quarantined): rows whose ``props`` parses under
    ``json_schema`` get typed columns; the rest land in quarantine with
    the raw payload intact for replay after a schema fix. Both sides
    are column-pruned scans of the same input — no UDF, no second
    parse (from_json runs once per row; the null test reuses it).
    """
    from pyspark.sql import functions as F

    # permissive from_json yields an all-null struct for malformed
    # input; the corrupt-record column is the reliable detector
    full_schema = json_schema + ", _corrupt string"
    withp = records.withColumn(
        "parsed",
        F.from_json(
            F.col("props"), full_schema, {"columnNameOfCorruptRecord": "_corrupt"}
        ),
    )
    bad = F.col("parsed").isNull() | F.col("parsed._corrupt").isNotNull()
    parsed = (
        withp.filter(~bad)
        .select("topic", "partition", "offset", "ts_sec", "value_size", "parsed.*")
        .drop("_corrupt")
    )
    quarantined = withp.filter(bad).select(
        "topic", "partition", "offset", "ts_sec", "props"
    )
    return parsed, quarantined
