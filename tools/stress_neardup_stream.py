"""Scale stress for the ONLINE near-dup path (streaming/neardup_stream):
synthesize the planted-copy corpus from stress_similarity, spool it to
parquet in event-time order, replay it as a multi-micro-batch stream
through the stateful LSH index, and print throughput + planted recall.

The evidence this produces: per-row signatures are map-only inside the
micro-batch; state (the index) carries across batches; every planted
copy (J≈0.9 against its immediate predecessor) must be tagged against
that predecessor — P(miss) = (1-0.9²)⁸ ≈ 2e-6 at 16 hashes / 8 bands.

Usage: python tools/stress_neardup_stream.py [n_docs] [n_batches] [provider]
       (defaults 100_000, 10, "default"; provider ∈ default|rocksdb|both —
       "both" runs the replay twice, once per state store provider, and
       asserts the verdict sets are IDENTICAL: the state-larger-than-
       memory story for the LSH index state, not just exact dedup)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    from transitdata_hfp_deduplicator_spark.session import get_spark
    from transitdata_hfp_deduplicator_spark.streaming import (
        ephemeral_dir,
        neardup_tag_stream,
        parquet_stream,
        run_to_memory,
        scoped_shuffle_partitions,
    )

    spark = get_spark("stress-neardup-stream")
    base = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 9, F.col("id") - 1)
        .otherwise(F.col("id"))
        .alias("family"),
        (F.col("id") % 10 == 9).alias("is_copy"),
    )
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("family"), i), F.lit(1000)).cast("string"),
        ),
    )
    mutated = F.when(
        F.col("is_copy"),
        F.concat(F.slice(words, 1, 39), F.array(F.lit("zmut"))),
    ).otherwise(words)
    docs = base.select("doc_id", F.array_join(mutated, " ").alias("text"))

    # spool in event-time order: batch i holds doc_ids [i*n/b, (i+1)*n/b)
    spool = ephemeral_dir("neardup_stress_")
    per = n // n_batches
    now = time.time()
    for i in range(n_batches):
        d = os.path.join(spool, f"b{i:04d}")
        docs.filter(
            (F.col("doc_id") >= i * per)
            & (F.col("doc_id") < (i + 1) * per if i < n_batches - 1 else F.lit(True))
        ).coalesce(4).write.parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now + i * 10, now + i * 10))

    provider = sys.argv[3] if len(sys.argv) > 3 else "default"
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb_cls = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    planted = n // 10

    def run_once(label: str) -> set:
        stream = parquet_stream(
            spark, spool + "/*", max_files_per_trigger=4
        ).withColumn(
            "ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id"))
        )
        t0 = time.time()
        with scoped_shuffle_partitions(spark, 16):
            hits = run_to_memory(
                neardup_tag_stream(
                    stream, "doc_id", "text", "ts", n_buckets=256
                ),
                "append",
            )
            matched = (
                hits.filter(F.col("est_sim") >= 0.5)
                .groupBy("doc_id")
                .agg(F.min("first_id").alias("dup_of"))
            )
            verdicts = {
                (r.doc_id, r.dup_of) for r in matched.collect()
            }  # ~n/10 small rows — comparison set, not a data path
        dt = time.time() - t0
        planted_found = sum(
            1 for d, f in verdicts if d % 10 == 9 and f == d - 1
        )
        false_pos = sum(1 for d, _ in verdicts if d % 10 != 9)
        print(
            f"[{label}] n={n} batches={n_batches}: replay+score {dt:.1f}s "
            f"({n / dt / 1e3:.1f}k docs/s) | planted copies found "
            f"{planted_found}/{planted} | non-copy docs tagged {false_pos} "
            f"(vocab-collision near-dups, verified est>=0.5)",
            flush=True,
        )
        return verdicts

    if provider in ("default", "both"):
        v_default = run_once("default-provider")
    if provider in ("rocksdb", "both"):
        spark.conf.set(prov_key, rocksdb_cls)
        assert "RocksDB" in spark.conf.get(prov_key)
        try:
            v_rocks = run_once("rocksdb-provider")
        finally:
            spark.conf.unset(prov_key)
    if provider == "both":
        assert v_default == v_rocks, (
            f"provider verdict divergence: {len(v_default ^ v_rocks)} rows"
        )
        print(
            f"providers agree: {len(v_default)} identical verdicts "
            "(default vs RocksDB)",
            flush=True,
        )


if __name__ == "__main__":
    main()
