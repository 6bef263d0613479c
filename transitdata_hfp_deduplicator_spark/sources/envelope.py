"""The message-envelope data model (SURVEY.md §1.1) and the typed
canonicalization path over it (reference A3).

The reference's unit of data is a Pulsar ``Message<byte[]>``: payload
bytes + key + eventTime + string properties (Deduplicator.java:117-123
forwards exactly these four).  The Spark-native shape is one DataFrame
row per message — the built-in Kafka source's schema, with the headers
as a ``properties`` map.

No broker or connector jar ships with this project and the application
reads ``hfp_text`` lines, so envelope frames are built from rows
(``envelope_from_rows``).  ``with_envelope_canonical`` is the realized
A3 projection: per-row schema tag → typed protobuf decode → canonical
re-encode, raw bytes on any failure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("event_time", T.TimestampType(), True),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# property key carrying the per-message schema tag
# (TransitdataSchema.parseFromPulsarMessage; ITDeduplicatorTest.java:67-68)
KEY_PROTOBUF_SCHEMA = "protobuf-schema"


def canonicalize_tagged_payload(value, tag):
    """Scalar dispatch (Deduplicator.java:71-106): typed canonical
    re-encode for the registered schemas, raw bytes for everything else
    — including PassengerCount, whose typed parse the reference throws
    on and swallows (:104, :86-93), and untagged messages (:93)."""
    from transitdata_hfp_deduplicator_spark.operators.canonicalize import (
        HFP_DATA_DESC,
        MQTT_RAW_MESSAGE_DESC,
        typed_canonicalize,
    )

    if value is None:
        return None
    b = bytes(value)
    try:
        if tag == "MqttRawMessage":
            return typed_canonicalize(b, MQTT_RAW_MESSAGE_DESC)
        if tag == "HfpData":
            return typed_canonicalize(b, HFP_DATA_DESC)
    except ValueError:
        return b  # parse failure -> raw-bytes identity (:86-93)
    return b


def with_envelope_canonical(
    df: DataFrame,
    value_col: str = "value",
    props_col: str = "properties",
    out_col: str = "canonical",
) -> DataFrame:
    """The realized A3 projection over an envelope frame: per-row schema
    tag -> typed protobuf decode -> canonical (field-sorted) re-encode,
    raw bytes on any failure or non-canonicalizable tag.  Arrow-batched
    mapInPandas — stateless, map-only, safe under any partitioning."""
    from collections.abc import Iterator

    import pandas as pd

    schema_str = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = f"{schema_str}, `{out_col}` binary"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            tags = [
                (p or {}).get(KEY_PROTOBUF_SCHEMA) for p in pdf[props_col]
            ]
            pdf[out_col] = [
                canonicalize_tagged_payload(v, t)
                for v, t in zip(pdf[value_col], tags)
            ]
            yield pdf

    return df.mapInPandas(kernel, out_schema)


def envelope_from_rows(spark: SparkSession, rows) -> DataFrame:
    return spark.createDataFrame(rows, ENVELOPE_SCHEMA)
