"""Loaders for the driver-generated testdata (see TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under an ``sf_dir``.

Plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown,
column pruning and (on a partitioned lake) partition pruning.  At
100 TB these would be partitioned/bucketed tables; the query code never
assumes a physical layout, so swapping the loader is enough.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read that tolerates TIMESTAMP(NANOS) columns.

    Spark has no nanosecond timestamp type and refuses TIMESTAMP(NANOS)
    parquet columns outright (PARQUET_TYPE_ILLEGAL).  We read nanos as
    raw int64 (``nanosAsLong``) and convert to TimestampType at
    microsecond precision — a metadata-only footer inspection decides
    which columns need it, so non-nanos tables pay nothing.
    """
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # calendar functions (year/date_trunc/date_format) render instants in
    # the session TZ; the DuckDB oracle is TZ-naive — pin UTC so results
    # agree no matter what session the caller built.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # TIMESTAMP(isAdjustedToUTC=false) columns must read as TIMESTAMP
    # (instant), not TIMESTAMP_NTZ: instant functions (unix_millis,
    # window, watermark) reject NTZ, and under the UTC session the
    # instant's wall value equals the oracle's naive value.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    one_file = path
    if os.path.isdir(path):
        parts = [p for p in os.listdir(path) if p.endswith(".parquet")]
        if parts:
            one_file = os.path.join(path, parts[0])
    nanos_cols = []
    try:
        schema = pq.read_schema(one_file)
        nanos_cols = [
            f.name
            for f in schema
            if str(f.type) == "timestamp[ns]"
        ]
    except Exception:  # noqa: BLE001 - fall back to raw read
        pass
    from pyspark.sql.types import LongType

    df = spark.read.parquet(path)
    for c in nanos_cols:
        # guard: Spark-written INT96 timestamps also probe as
        # timestamp[ns] in pyarrow but Spark reads them as TIMESTAMP
        # already — only convert what actually came back as raw int64
        if isinstance(df.schema[c].dataType, LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition IFF the scan under-parallelized.

    Small single-file tables plan as ONE input split, so every
    expression upstream of the first shuffle runs on one core.  Heavy
    map-side operators (shingling, hashing, vector math) call this to
    spread that work across the cluster.  Guarded: when the input
    already has >= the session's default parallelism (any real lake at
    scale), it's an identity — no shuffle is added.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
