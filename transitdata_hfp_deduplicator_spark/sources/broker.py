"""Broker source adapters (reference A1: Pulsar consumer, 1..N topics).

No broker or connector jar ships with this project, so what lives here
is what runs without one:

* the COLUMN MAPPING from the Kafka source's and the StreamNative
  pulsar-spark connector's output shapes to the engine's message
  envelope (``kafka_to_envelope``, ``pulsar_to_envelope``) — plain
  column algebra, unit-tested against batch frames of the same shape
  (tests/test_sources.py).  A deployment with a connector jar applies
  it to its own ``spark.readStream.format("kafka"|"pulsar")`` frame;
* ``socket_line_stream`` — Spark's built-in socket source, the one
  live network source that needs no jar.

Everything downstream (canonicalize → dedup → sink) is
source-agnostic.  The application itself reads files through the
``hfp_text`` Python DataSource (sources/hfp_datasource.py), whose
``{"pos": N}`` byte offsets replay like broker offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def kafka_to_envelope(df: DataFrame) -> DataFrame:
    """Kafka source shape (key, value, timestamp, headers
    array<struct<key,value:binary>>) → engine envelope.  The headers
    carry the schema tag the reference reads from Pulsar properties
    (ITDeduplicatorTest.java:67-68)."""
    return df.select(
        F.col("key").cast("string").alias("key"),
        F.col("value"),
        F.col("timestamp").alias("event_time"),
        F.map_from_entries(
            F.expr(
                "transform(coalesce(headers, array()),"
                " h -> struct(h.key as key, cast(h.value as string) as value))"
            )
        ).alias("properties"),
    )


def pulsar_to_envelope(df: DataFrame) -> DataFrame:
    """StreamNative pulsar-spark source shape (__key, value,
    __eventTime, __properties) → engine envelope."""
    return df.select(
        F.col("__key").cast("string").alias("key"),
        F.col("value"),
        F.col("__eventTime").alias("event_time"),
        F.col("__properties").alias("properties"),
    )


def socket_line_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Unbounded line stream over TCP via Spark's built-in socket source
    — the one network source that needs no connector jar, so it is the
    executable stand-in for a live broker subscription: a real
    receiver-backed unbounded source driving the same micro-batch /
    incremental-execution machinery a Kafka/Pulsar subscription would
    (the reference's integration test sends the corpus over a live
    Pulsar connection and awaits the deduped output,
    ITDeduplicatorTest.java:64-113; tests/test_sources.py replays
    hfp-5000.txt through this source and asserts the same 4956).
    Single ``value: string`` column, exactly ``spark.read.text``'s
    shape, so ``sources.hfp.parse_lines`` applies unchanged."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
