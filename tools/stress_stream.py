"""Scale stress for the streaming dedup core (the reference hot path,
Deduplicator.java:43-66): replay an N-row ~2x-duplicated feed through
(a) the JVM state operator (`dropDuplicatesWithinWatermark`) and
(b) the custom bucketed applyInPandasWithState operator that also
emits per-duplicate delays, and print throughput.

Usage: python tools/stress_stream.py [n_rows]   (default 5_000_000)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    from transitdata_hfp_deduplicator_spark.session import get_spark
    from transitdata_hfp_deduplicator_spark.streaming import (
        ephemeral_dir,
        parquet_stream,
        run_to_memory,
        scoped_shuffle_partitions,
        stream_dedup,
    )
    from transitdata_hfp_deduplicator_spark.streaming.stateful import (
        dedup_tag_stream,
    )

    spark = get_spark("stress-stream")
    src = os.path.join(ephemeral_dir("stress_feed_"), "feed")
    spark.range(0, n, 1, 32).select(
        (F.col("id") / 2).cast("long").alias("user_id"),
        F.pmod((F.col("id") / 2).cast("long"), F.lit(7)).cast("string").alias("event_type"),
        F.concat(
            F.lit('{"k":'), (F.col("id") / 2).cast("long").cast("string"), F.lit("}")
        ).alias("props"),
        F.timestamp_millis(F.lit(1700000000000) + F.col("id") * 10).alias("ts"),
    ).write.mode("overwrite").parquet(src)

    identity = ["user_id", "event_type", "props"]

    t0 = time.time()
    stream = parquet_stream(spark, src)
    deduped = stream_dedup(stream, identity, "ts", ttl="4 hours")
    out = run_to_memory(deduped, output_mode="append")
    n_uniq = out.count()
    t_jvm = time.time() - t0

    t0 = time.time()
    stream = parquet_stream(spark, src)
    with scoped_shuffle_partitions(spark, 32):
        tagged = run_to_memory(
            dedup_tag_stream(stream, identity, "ts"), output_mode="append"
        )
    n_primes = tagged.filter("is_prime").count()
    t_py = time.time() - t0

    assert n_uniq == n_primes == (n + 1) // 2, (n_uniq, n_primes)
    print(
        f"rows={n} jvm_dedup={t_jvm:.1f}s ({n/t_jvm/1e6:.2f}M rows/s) "
        f"python_tag_dedup={t_py:.1f}s ({n/t_py/1e6:.2f}M rows/s) "
        f"uniques={n_uniq}"
    )


if __name__ == "__main__":
    main()
