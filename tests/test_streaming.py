"""Streaming operator semantics: stateful dedup and late-data handling."""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from transitdata_hfp_deduplicator_spark.streaming import (
    parquet_stream,
    run_to_memory,
    stream_dedup,
)


def test_stream_dedup_events(spark, sf_dir):
    from transitdata_hfp_deduplicator_spark.tables import read_parquet

    path = os.path.join(sf_dir, "events.parquet")
    stream = parquet_stream(spark, path)
    out = run_to_memory(
        stream_dedup(stream, ["user_id", "event_type", "props"], "ts"), "append"
    )
    expected = (
        read_parquet(spark, path)
        .select("user_id", "event_type", "props")
        .distinct()
        .count()
    )
    assert out.count() == expected


def _two_batch_replay(spark, tmp_path, batch0_rows, batch1_rows, schema):
    f0, f1 = str(tmp_path / "b0"), str(tmp_path / "b1")
    spark.createDataFrame(batch0_rows, schema).coalesce(1).write.parquet(f0)
    spark.createDataFrame(batch1_rows, schema).coalesce(1).write.parquet(f1)
    now = time.time()
    for i, d in enumerate((f0, f1)):
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now + i * 10, now + i * 10))
    return parquet_stream(spark, str(tmp_path) + "/*", max_files_per_trigger=1)


def _n_batch_replay(spark, tmp_path, batches, schema):
    now = time.time()
    for i, rows in enumerate(batches):
        d = str(tmp_path / f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now + i * 10, now + i * 10))
    return parquet_stream(spark, str(tmp_path) + "/*", max_files_per_trigger=1)


def test_dedup_ttl_reemits_after_state_eviction(spark, tmp_path):
    """The watermark is the dedup state TTL: a duplicate arriving after
    its key's state was evicted is re-emitted — exactly the reference's
    size-capped cache forgetting (Deduplicator.java:36-40), but bounded
    by TIME as its cacheTTL config intended.

    Empirical Spark 4.1 semantics (verified here): the watermark in
    dropDuplicatesWithinWatermark does NOT filter late input rows; it
    only expires state. Suppression holds while state lives."""
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    batches = [
        [("A", base)],
        # within TTL: duplicate suppressed (state alive)
        [("A", base + dt.timedelta(minutes=6))],
        # advance the watermark far past A's expiry
        [("PUSH1", base + dt.timedelta(hours=6))],
        # eviction lags one wm-advancing batch: this dup is STILL
        # suppressed (state removed at this batch's end)
        [("A", base + dt.timedelta(hours=6, minutes=1))],
        [("PUSH2", base + dt.timedelta(hours=12))],
        # state gone -> same key re-emitted
        [("A", base + dt.timedelta(hours=12, minutes=1))],
    ]
    stream = _n_batch_replay(spark, tmp_path, batches, "k string, ts timestamp")
    deduped = (
        stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["k"])
    )
    out = [r.k for r in run_to_memory(deduped, "append").collect()]
    assert sorted(out) == ["A", "A", "PUSH1", "PUSH2"], f"got {sorted(out)}"


def test_agg_late_row_behavior_documented(spark, tmp_path):
    """Empirical Spark 4.1 quirk the engine documents: UPDATE-mode
    windowed aggregation ACCEPTS a late row into a fresh window (it is
    not filtered by the watermark). If this ever starts failing, Spark
    changed late-row filtering and q_late_data's doc should be updated."""
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    batch0 = [(base + dt.timedelta(minutes=m), 1) for m in range(0, 60, 5)]
    batch1 = [(base - dt.timedelta(hours=2), 2)]
    stream = _two_batch_replay(spark, tmp_path, batch0, batch1, "ts timestamp, v int")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("win.start").alias("ws"), "n")
    )
    out = run_to_memory(agg, "update").collect()
    counted = sum(r.n for r in out)
    assert counted == len(batch0) + 1


def test_streaming_session_windows_match_batch(spark, sf_dir):
    """The merging session-window state operator must converge to the
    batch session_window result once the replay drains."""
    from transitdata_hfp_deduplicator_spark.queries import QUERIES

    batch = {
        tuple(r)
        for r in QUERIES["q_session_window"](spark, sf_dir).collect()
    }
    stream = {
        tuple(r)
        for r in QUERIES["q_session_window_stream"](spark, sf_dir).collect()
    }
    assert stream == batch


def test_anomaly_composes_over_streaming_stats(spark, sf_dir):
    """dup_ratio_anomaly is a pure batch transform over the aggregated
    minute table, so scoring the STREAMING stats spool must equal
    scoring the batch stats — the online feed-health-anomaly chain."""
    from transitdata_hfp_deduplicator_spark.operators.dedup import (
        dup_ratio_anomaly,
        dup_stats_tumbling,
    )
    from transitdata_hfp_deduplicator_spark.streaming.stateful import (
        dedup_tag_stream,
    )
    from transitdata_hfp_deduplicator_spark.tables import read_parquet

    path = os.path.join(sf_dir, "events.parquet")
    tagged = dedup_tag_stream(
        parquet_stream(spark, path),
        ["user_id", "event_type", "props"],
        "ts",
        ttl_ms=30 * 24 * 3600 * 1000,
    )
    out = run_to_memory(tagged, "append")
    stream_stats = (
        out.groupBy(((F.col("ts_ms") - F.col("ts_ms") % 60000) / 1000)
                    .cast("bigint").alias("window_start"))
        .agg(
            F.count_if(F.col("is_prime")).alias("primes"),
            F.count_if(~F.col("is_prime")).alias("duplicates"),
        )
    )
    batch_stats = dup_stats_tumbling(
        read_parquet(spark, path),
        ["user_id", "event_type", "props"],
        ["ts", "event_id"],
        "1 minute",
    )
    got = sorted(map(tuple, dup_ratio_anomaly(stream_stats).collect()))
    want = sorted(map(tuple, dup_ratio_anomaly(batch_stats).collect()))
    assert got == want
    assert any(r[4] for r in got) or all(r[3] is None or abs(r[3]) < 2 for r in got)


def test_nanosecond_timestamps_are_refused(spark, tmp_path):
    """Spark has no nanosecond timestamp type and the loaders convert
    nothing: a TIMESTAMP(NANOS) parquet column fails loudly through both
    the batch loader and the stream source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from transitdata_hfp_deduplicator_spark.tables import read_parquet

    path = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789, 86_400_000_000_001], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path)
    assert str(pq.read_schema(path).field("ts").type) == "timestamp[ns]"
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        read_parquet(spark, path)
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        parquet_stream(spark, path)


def test_parquet_stream_builds_with_one_job(spark, sf_dir):
    """Building a replay stream infers the parquet schema once: one
    Spark job, no second read."""
    sc = spark.sparkContext
    group = "parquet_stream_build"
    sc.setJobGroup(group, "build parquet_stream")
    try:
        parquet_stream(spark, os.path.join(sf_dir, "events.parquet"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
