"""The session factory (`session.get_spark`)."""

from __future__ import annotations

from transitdata_hfp_deduplicator_spark.session import get_spark


def test_get_spark_leaves_active_session_untouched(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    again = get_spark("another-app", cpus=int(before) + 1)
    assert again is spark
    assert spark.conf.get(key) == before


def test_get_spark_commits_checkpoints_through_filesystem_rename(spark):
    """Streaming checkpoints commit through ``FileSystem.rename``, and the
    manager class resolves in this Spark: a release that moves it again
    fails here rather than in the first streaming query."""
    name = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass", None) == name
    forname = spark._jvm.java.lang.Class.forName
    manager = forname(name)
    base = forname(name.rsplit(".", 1)[0] + ".CheckpointFileManager")
    assert base.isAssignableFrom(manager)
