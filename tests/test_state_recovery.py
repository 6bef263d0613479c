"""State-store durability: the two properties the reference's in-heap
Guava cache cannot provide (its state dies with the process,
re-emitting duplicates after every restart — Deduplicator.java:36-40).

1. Dedup state persists across QUERY RESTARTS via the checkpoint: a
   duplicate arriving after a stop/start is still suppressed.
2. The same pipeline runs on the RocksDB state store provider — the
   disk-backed backend that bounds executor memory at 100 TB state.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from pyspark.sql import functions as F

from transitdata_hfp_deduplicator_spark.operators.dedup import payload_digest


def _write_batch(spark, d, rows):
    spark.createDataFrame(rows, "k string, ts timestamp").coalesce(1).write.mode(
        "append"
    ).parquet(d)


def _run_available(spark, src, ckpt, out_dir):
    # parquet sink: the memory sink refuses checkpoint recovery
    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = (
        stream.withColumn("__key", payload_digest("k"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["__key"])
        .drop("__key")
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def test_dedup_state_survives_restart(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")

    _write_batch(spark, src, [("A", base), ("B", base + dt.timedelta(seconds=1))])
    out_dir = str(tmp_path / "out")
    out1 = _run_available(spark, src, ckpt, out_dir)
    assert {r.k for r in out1.collect()} == {"A", "B"}

    # the first query is STOPPED; a later run resumes from the same
    # checkpoint and must still remember A (the reference would not)
    time.sleep(1.1)  # ensure a newer mtime for the second file
    _write_batch(
        spark,
        src,
        [("A", base + dt.timedelta(minutes=5)), ("C", base + dt.timedelta(minutes=6))],
    )
    out2 = _run_available(spark, src, ckpt, out_dir)
    all_rows = [r.k for r in out2.collect()]
    new_rows = set(all_rows) - {"A", "B"} | ({"A"} if all_rows.count("A") > 1 else set())
    assert "C" in new_rows, "new key must pass after restart"
    assert "A" not in new_rows, (
        "duplicate after restart must be suppressed by RECOVERED state: "
        f"{new_rows}"
    )


def test_dedup_on_rocksdb_state_store(spark, tmp_path):
    """Full dedup run on the RocksDB provider (disk-backed state — the
    backend that holds 100 TB-scale key sets without executor OOM)."""
    from transitdata_hfp_deduplicator_spark.streaming.runner import scoped_conf

    key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    with scoped_conf(spark, key, rocksdb):
        base = dt.datetime(2024, 1, 1, 12, 0, 0)
        src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
        rows = [(f"k{i % 50}", base + dt.timedelta(seconds=i)) for i in range(500)]
        _write_batch(spark, src, rows)
        out = _run_available(spark, src, ckpt, str(tmp_path / "rocks_out"))
        assert out.count() == 50  # 500 rows -> 50 unique keys
        # the provider is recorded in the checkpoint: the run used RocksDB
        assert "RocksDB" in open(os.path.join(ckpt, "offsets", "0")).read()
