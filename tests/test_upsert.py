"""MERGE-upsert operator semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from transitdata_hfp_deduplicator_spark.operators.upsert import merge_upsert


def test_merge_updates_and_inserts(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, v string, x double"
    )
    updates = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "id long, v string, x double"
    )
    out = {r.id: (r.v, r.x) for r in merge_upsert(target, updates, ["id"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_cdc_compact_then_merge(spark):
    """The composed refresh: compact a change stream to its latest row
    per key, upsert into the snapshot — idempotent on re-application."""
    snapshot = spark.createDataFrame([(1, "old"), (2, "old")], "id long, s string")
    changes = spark.createDataFrame(
        [(2, 1, "mid"), (2, 2, "new"), (3, 1, "ins")], "id long, ver long, s string"
    )
    compacted = changes.groupBy("id").agg(F.max_by("s", "ver").alias("s"))
    merged = merge_upsert(snapshot, compacted, ["id"])
    once = {(r.id, r.s) for r in merged.collect()}
    twice = {(r.id, r.s) for r in merge_upsert(merged, compacted, ["id"]).collect()}
    assert once == {(1, "old"), (2, "new"), (3, "ins")}
    assert once == twice, "re-applying the same change set must be a no-op"
