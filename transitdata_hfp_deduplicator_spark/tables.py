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
    """``spark.read.parquet`` under the two session confs the registry
    needs, pinned here because the caller may have built a plain
    session.  Spark has no nanosecond timestamp type: a TIMESTAMP(NANOS)
    column fails with PARQUET_TYPE_ILLEGAL (every testdata footer is
    ``timestamp[us]``)."""
    # calendar functions (year/date_trunc/date_format) render instants in
    # the session TZ; the DuckDB oracle is TZ-naive — pin UTC so results
    # agree no matter what session the caller built.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # TIMESTAMP(isAdjustedToUTC=false) columns must read as TIMESTAMP
    # (instant), not TIMESTAMP_NTZ: instant functions (unix_millis,
    # window, watermark) reject NTZ, and under the UTC session the
    # instant's wall value equals the oracle's naive value.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark.read.parquet(path)


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
