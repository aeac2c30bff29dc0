"""Table loading for the driver-generated parquet tables (TESTDATA.md).

The reference's "tables" are filesystem listings, XML trees and one SQLite
table (SURVEY.md §1); here every dataset is a parquet-backed DataFrame so
Catalyst gets pushdown/pruning for free. At 100 TB the same loader points at
partitioned parquet/iceberg paths — nothing in the engine assumes local files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Driver tables (TESTDATA.md) — TPC-H-ish star schema + events/documents/
#: embeddings extension tables.
TABLE_NAMES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table. Plain parquet scan → full pushdown support.

    ``events.ts`` is stored as parquet TIMESTAMP(µs) without a timezone,
    which Spark 4 infers as TIMESTAMP_NTZ by default
    (``spark.sql.parquet.inferTimestampNTZ.enabled``). Event-time operators
    (``unix_micros``, ``withWatermark``) require TIMESTAMP, so this loader is
    the one canonical place that normalizes ``ts`` to TIMESTAMP — under the
    UTC session timezone the cast is wall-clock-preserving and matches how
    the DuckDB oracle reads the same file (naive µs timestamps). Works for
    any caller-provided SparkSession (the correctness driver's vanilla
    session included); no session conf is touched on the normal path.

    Legacy fallback: older fixtures stored TIMESTAMP(NANOS), which Spark
    refuses to read unless ``spark.sql.legacy.parquet.nanosAsLong`` is on.
    If the plain read fails, the loader retries with that conf set (restoring
    the caller's value afterwards) and converts the nanosecond long to a µs
    timestamp via integer division — the same truncation DuckDB applies when
    reading ns parquet into its µs timestamps.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        df = spark.read.parquet(path)
    except Exception:
        # TIMESTAMP(NANOS) footer: retry with nanosAsLong. The conf is
        # consulted at schema-inference time and captured into the plan
        # (verified: the returned DataFrame executes correctly after the
        # conf reverts), so restore the caller's value instead of leaving a
        # session-wide behavior change behind.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            df = spark.read.parquet(path)
        finally:
            try:
                if prev is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prev)
            except Exception:
                pass
    for field in df.schema.fields:
        if field.name != "ts":
            continue
        kind = field.dataType.simpleString()
        if kind == "timestamp_ntz":
            # value-preserving under the UTC session tz (asserted in tests)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif kind == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all driver tables as a dict (lazy scans; nothing materializes)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def read_parquet_state(
    spark: SparkSession, path: str, **options
) -> DataFrame | None:
    """Read a parquet state/journal dir, returning None ONLY for the two
    "no usable state yet" error classes: the path not existing (first run)
    and no readable parquet footers (a first run killed mid-write leaves
    only committer debris — the replay's own overwrite heals it). Spark
    raises both, so this works on any filesystem the session can read
    (hdfs://, s3a://, URIs — an ``os.path`` check would silently disable
    the feature off local disk). Anything else (corrupt footer among
    valid partitions, FS errors) re-raises: mapping those to None would
    silently drop state with no error anywhere.

    The ONE shared classifier for every state consumer (ingest ledger,
    publish journal): a Spark error-class rename gets fixed here once,
    not per consumer. ``options`` pass through to the reader (the ingest
    ledger reads with ``mergeSchema`` so a half-upgraded dir — some
    partitions carrying a newer column — surfaces the union schema
    deterministically instead of whichever footer Spark sampled).

    An absent path is checked for first, through the same FileSystem
    API: Spark's own not-found path logs a WARN with a full
    ``FileNotFoundException`` stack trace before raising, once per
    absent state dir — dozens per first micro-batch."""
    from pyspark.errors import AnalysisException

    from . import fsutil

    if not fsutil.exists(spark, path):
        return None
    try:
        return spark.read.options(**options).parquet(path)
    except AnalysisException as exc:
        get = getattr(exc, "getCondition", None) or getattr(
            exc, "getErrorClass", lambda: ""
        )
        cls = get() or str(exc)
        if "PATH_NOT_FOUND" in cls or "UNABLE_TO_INFER_SCHEMA" in cls:
            return None
        raise


def tiny_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """A driver-local few-row DataFrame in ONE partition — for writing
    small sidecar artifacts (markers, config metas, id reservations).

    ``spark.createDataFrame(rows, schema)`` parallelizes into
    ``defaultParallelism`` partitions (31 of them empty for a 1-row
    frame), and each partition's compute is a PYTHON worker round-trip.
    The classic "one tidy file" follow-up ``.coalesce(1)`` then makes a
    SINGLE task iterate all 32 parent partitions SERIALLY — ~32 × ~170 ms
    of worker round-trips ≈ 5.5 s measured for a one-row marker write
    (round 14; the dominant cost of the bench's bucketize extra before
    the fix). One slice from the start is one task, one round-trip, one
    output file: ~0.4 s warm."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )
