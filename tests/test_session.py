"""The session factory (`session.get_spark`)."""

from __future__ import annotations

from transitdata_hfp_deduplicator_spark.session import get_spark


def test_get_spark_leaves_active_session_untouched(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    again = get_spark("another-app", cpus=2, shuffle_partitions=int(before) + 1)
    assert again is spark
    assert spark.conf.get(key) == before
