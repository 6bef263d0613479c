from transitdata_hfp_deduplicator_spark.streaming.runner import (
    ephemeral_dir,
    parquet_stream,
    replay_shuffle_partitions,
    run_to_memory,
    scoped_conf,
    scoped_shuffle_partitions,
)
from transitdata_hfp_deduplicator_spark.streaming.dedup_stream import stream_dedup
from transitdata_hfp_deduplicator_spark.streaming.neardup_stream import (
    neardup_tag_stream,
)

__all__ = [
    "ephemeral_dir",
    "parquet_stream",
    "scoped_conf",
    "replay_shuffle_partitions",
    "neardup_tag_stream",
    "run_to_memory",
    "scoped_shuffle_partitions",
    "stream_dedup",
]
