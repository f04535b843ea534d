"""Parquet fixture source.

The driver test tables (TESTDATA.md): region nation customer supplier
part orders lineitem events documents embeddings. Reads are plain
``spark.read.parquet`` so Catalyst keeps predicate pushdown + column
pruning (verify with ``.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ureplicator_spark.session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


from ureplicator_spark.functions import session_memo


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Memoized per session and table-file version: the footer/schema
    read plus conf handshake otherwise re-runs on every query
    (measurably ~100-300 ms of pure construction overhead). The file's
    ``(size, mtime_ns)`` is part of the key, so a rewritten table is
    re-listed instead of served from the memoized DataFrame's old file
    listing."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        version = (st.st_size, st.st_mtime_ns)
    except OSError:  # not a local path; Spark resolves (or rejects) it
        version = None
    return _read(spark, path, version)


@session_memo
def _read(spark: SparkSession, path: str, version) -> DataFrame:
    tune(spark)  # nanosAsLong for events.ts, UTC, AQE
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_records_any(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """Record-shaped log from any splittable format.

    The reference moves opaque bytes over Kafka; archived/replayed logs
    additionally arrive as files. parquet is the native path (pushdown
    + pruning); csv/json are supported for interop with an EXPLICIT
    schema — schema inference triggers a full extra pass over the data,
    which at 100 TB is a second scan, so it is refused here rather
    than silently paid.
    """
    tune(spark)
    if fmt == "parquet":
        return spark.read.options(**options).parquet(path)
    if fmt == "orc":
        # columnar like parquet: footer schema, pushdown, pruning —
        # no explicit-schema requirement
        return spark.read.options(**options).orc(path)
    if fmt in ("csv", "json"):
        if schema is None:
            raise ValueError(
                f"{fmt} source requires an explicit schema "
                "(inference would double-scan the data)"
            )
        reader = spark.read.schema(schema).options(**options)
        return reader.csv(path) if fmt == "csv" else reader.json(path)
    raise ValueError(f"unsupported format {fmt!r}")
