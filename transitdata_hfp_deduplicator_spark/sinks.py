"""Sinks — the write side of the engine (reference A7/A8).

The reference forwards unique messages to an output Pulsar topic with
async fire-and-forget sends and ack-after-send-initiated, i.e.
at-least-once with silent drop on send failure (Deduplicator.java:
108-129).  Spark's write side is strictly stronger and these helpers
package the idiomatic patterns:

* ``write_stream_parquet`` — checkpointed streaming append: exactly-once
  into an idempotent file sink (checkpoint tracks committed batches).
* ``write_bucketed`` — a bucketed batch table, the co-located layout
  for a persisted dedup index.

The application's own sink is the parquet ``writeStream`` in
``__main__``; its alerts are the feed-health records printed by
``streaming/listener.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from transitdata_hfp_deduplicator_spark.streaming.runner import ephemeral_dir


def write_stream_parquet(
    sdf: DataFrame,
    path: str,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Checkpointed streaming parquet append (exactly-once: the
    checkpoint records committed epochs; replays after failure rewrite
    the same files)."""
    return (
        sdf.writeStream.format("parquet")
        .option("path", path)
        .option(
            "checkpointLocation",
            checkpoint or ephemeral_dir("sink_ckpt_"),
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    path: str | None = None,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a BUCKETED parquet table: rows are hash-partitioned
    into ``n_buckets`` files per write task by ``bucket_cols`` and the
    layout is recorded in the catalog, so any later equi-join or
    aggregation on the bucket key plans WITHOUT an Exchange on this
    side — the co-located-join layout for 100 TB fact tables (shuffle
    the table once at write time, never again at read time).

    The reference has no storage layer at all (its only persistence
    idea is "hashes could later live in Redis", Deduplicator.java:27);
    this is the Spark-native answer to the same externalize-the-index
    need: the DIGEST-bucketed dedup index joins against new batches
    with zero index-side shuffle (see q_dedup_incremental for the
    anti-join shape).

    ``sort_cols`` additionally sorts within each bucket file so
    bucket-key joins skip the Sort as well (SortMergeJoin reads
    pre-sorted runs).
    """
    writer = df.write.mode("overwrite").format("parquet")
    if path is not None:
        writer = writer.option("path", path)
    writer = writer.bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)

