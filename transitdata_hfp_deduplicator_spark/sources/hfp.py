"""HFP (high-frequency positioning) corpus source.

Parses the reference's real-data fixture format (one message per line:
``serverTimestamp topic jsonPayload``) and the HFP domain model — topic
hierarchy + the 18-field ``VP`` JSON payload (SURVEY.md §1.3,
FIXTURES.md §A1).

Parse rule from ITDeduplicatorTest.java:138-148: split on the FIRST
space → timestamp; remainder up to the FIRST ``{`` → topic (trimmed —
topics may contain spaces); the rest → JSON payload.  All expressed as
column functions over ``spark.read.text`` so the parse distributes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

VP_SCHEMA = T.StructType(
    [
        T.StructField("desi", T.StringType(), True),
        T.StructField("dir", T.StringType(), True),
        T.StructField("oper", T.IntegerType(), True),
        T.StructField("veh", T.IntegerType(), True),
        T.StructField("tst", T.StringType(), True),
        T.StructField("tsi", T.LongType(), True),
        T.StructField("spd", T.DoubleType(), True),
        T.StructField("hdg", T.IntegerType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("long", T.DoubleType(), True),
        T.StructField("acc", T.DoubleType(), True),
        T.StructField("dl", T.IntegerType(), True),
        T.StructField("odo", T.IntegerType(), True),
        T.StructField("drst", T.IntegerType(), True),
        T.StructField("oday", T.StringType(), True),
        T.StructField("jrn", T.IntegerType(), True),
        T.StructField("line", T.IntegerType(), True),
        T.StructField("start", T.StringType(), True),
    ]
)

PAYLOAD_SCHEMA = T.StructType([T.StructField("VP", VP_SCHEMA, True)])

# /hfp/v1/{journey_type}/{temporal_type}/{transport_mode}/{operator_id}/
# {vehicle_number}/{route_id}/{direction}/{headsign}/{start_time}/
# {next_stop}/{geohash_level}/{geohash...}   (deadrun topics truncate)
TOPIC_PARTS = (
    "journey_type",
    "temporal_type",
    "transport_mode",
    "operator_id",
    "vehicle_number",
    "route_id",
    "direction",
    "headsign",
    "start_time",
    "next_stop",
    "geohash_level",
)


def parse_lines(lines: DataFrame, col: str = "value") -> DataFrame:
    """``ts topic json`` → (server_ts, topic, payload) columns.

    first space splits ts; first '{' starts the payload
    (ITDeduplicatorTest.java:138-148).
    """
    line = F.col(col)
    sp = F.instr(line, " ")
    brace = F.instr(line, "{")
    return lines.select(
        F.substring(line, 1, sp - 1).alias("server_ts"),
        F.trim(line.substr(sp + 1, brace - sp - 1)).alias("topic"),
        line.substr(brace, F.length(line) - brace + 1).alias("payload"),
    )


def read_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Load an hfp-5000.txt-format corpus as (server_ts, topic, payload).

    Lines split the way the app's ``hfp_text`` reader splits them
    (``hfp_datasource.read_lines``): only at ``\n``, with trailing
    ``\r`` stripped and empty lines skipped.  Spark's default text
    reader would also end a line at a bare ``\r`` and keep blank lines.
    """
    raw = spark.read.option("lineSep", "\n").text(path)
    lines = raw.select(F.rtrim("value", F.lit("\r")).alias("value"))
    return parse_lines(lines.filter(F.col("value") != ""))


def with_topic_struct(df: DataFrame, topic_col: str = "topic") -> DataFrame:
    """Explode the hierarchical topic into named columns.  Segment 1 is
    empty (leading '/'), 2-3 are the literal `hfp`/`v1` prefix."""
    parts = F.split(F.col(topic_col), "/")
    # F.get (not getItem): deadrun topics truncate after vehicle_number,
    # and ANSI mode makes out-of-bounds getItem THROW instead of null
    named = [F.get(parts, i + 3).alias(name) for i, name in enumerate(TOPIC_PARTS)]
    return df.withColumn("topic_parts", F.struct(*named))


def with_vp(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Decode the `{"VP": {...}}` JSON payload with the explicit
    18-field schema (no inference — §1.3)."""
    return df.withColumn("vp", F.from_json(F.col(payload_col), PAYLOAD_SCHEMA).getField("VP"))


def dedup_identity(df: DataFrame) -> DataFrame:
    """The golden-test identity: ``topic + " " + payload``
    (ITDeduplicatorTest.java:80-93)."""
    return df.withColumn("identity", F.concat_ws(" ", "topic", "payload"))
