"""Sinks — the write side of the engine (reference A7/A8).

The reference forwards unique messages to an output Pulsar topic with
async fire-and-forget sends and ack-after-send-initiated, i.e.
at-least-once with silent drop on send failure (Deduplicator.java:
108-129).  Spark's write side is strictly stronger:
``write_stream_parquet`` is a checkpointed streaming append, exactly-once
into an idempotent file sink (the checkpoint tracks committed batches);
``perfbench/traced_app.py`` runs it.

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
