"""Scale stress for ONLINE heavy hitters (streaming/heavyhitters_stream):
synthesize a Zipf-ish keyed stream with planted closed-form heavy keys
plus a singleton flood, spool it to parquet shards, replay as a
multi-micro-batch stream through the bucket-sharded frequent-items
state, and check — exactly — that the stream-end summary:

* tracks EVERY planted heavy key (the capacity >= 1/phi superset
  guarantee, under constant decrement churn from the singleton flood),
* obeys the overestimate invariant true <= est <= true + err for every
  tracked key (planted truth is closed-form),
* stays capacity-bounded per bucket (state never grows with the
  millions-of-distinct-keys cardinality — the reason this operator
  exists),
* and that candidates + exact recount reproduce the closed-form phi
  set, key for key and count for count.

Usage: python tools/stress_heavyhitters_stream.py [n_tail] [n_batches] [provider]
       (defaults 2_000_000 singleton tail, 8 micro-batches, "default";
       provider ∈ default|rocksdb|both — "both" runs the replay twice
       and asserts the final summaries are IDENTICAL across state store
       providers: the state-larger-than-memory story for the frequency
       summary, same discipline as stress_neardup_stream)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

CAPACITY = 2048
N_BUCKETS = 8
N_HEAVY = 100
W = 40_000  # heavy key k gets W - 100k rows


def main() -> None:
    n_tail = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    provider = sys.argv[3] if len(sys.argv) > 3 else "default"
    from transitdata_hfp_deduplicator_spark.session import get_spark
    from transitdata_hfp_deduplicator_spark.streaming import (
        ephemeral_dir,
        parquet_stream,
        run_to_memory,
        scoped_shuffle_partitions,
    )
    from transitdata_hfp_deduplicator_spark.streaming.heavyhitters_stream import (
        final_snapshots,
        space_saving_stream,
    )

    spark = get_spark("stress-sshh")
    heavy_counts = {k: W - 100 * k for k in range(N_HEAVY)}
    heavy = (
        spark.range(0, N_HEAVY, 1, 16)
        .select(
            F.concat(F.lit("hot"), F.col("id").cast("string")).alias("k"),
            (F.lit(W) - 100 * F.col("id")).alias("c"),
        )
        .select("k", F.explode(F.sequence(F.lit(1), F.col("c"))))
        .select("k")
    )
    tail = spark.range(0, n_tail, 1, 32).select(
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("k")
    )
    n = n_tail + sum(heavy_counts.values())

    # spool as n_batches shards, heavy keys interleaved into every shard
    # (rand-free: shard = row hash mod n_batches) so state carries work
    # across batches instead of one batch swallowing all heavies
    d = ephemeral_dir("sshh_stress_")
    feed = heavy.unionAll(tail).withColumn(
        "shard",
        F.pmod(
            F.xxhash64("k", F.monotonically_increasing_id()), F.lit(n_batches)
        ),
    )
    for i in range(n_batches):
        # 2 files per shard: micro-batch count stays ~n_batches (the
        # state-carry evidence) instead of one batch per source partition
        feed.filter(F.col("shard") == i).select("k").coalesce(2).write.parquet(
            os.path.join(d, f"b{i}")
        )

    thr = heavy_counts[N_HEAVY // 2] + 50
    expect = {(f"hot{k}", c) for k, c in heavy_counts.items() if c >= thr}

    def run_once(label: str):
        stream = parquet_stream(spark, d + "/*", max_files_per_trigger=2)
        snaps = space_saving_stream(stream, "k", CAPACITY, n_buckets=N_BUCKETS)
        t0 = time.time()
        with scoped_shuffle_partitions(spark, N_BUCKETS):
            out = run_to_memory(snaps, output_mode="append")
        final = final_snapshots(out)
        rows = final.collect()
        dt = time.time() - t0

        # key=None rows are empty-summary SENTINELS (a wiped bucket's
        # final decrement total) — not candidates; count them separately
        got = {
            r["key"]: (r["est"], r["err"]) for r in rows if r["key"] is not None
        }
        per_bucket: dict = {}
        for r in rows:
            if r["key"] is not None:
                per_bucket[r["bucket"]] = per_bucket.get(r["bucket"], 0) + 1
        missing = [f"hot{k}" for k in range(N_HEAVY) if f"hot{k}" not in got]
        bad_inv = [
            k
            for k, (est, err) in got.items()
            if k.startswith("hot")
            and not (
                heavy_counts[int(k[3:])]
                <= est
                <= heavy_counts[int(k[3:])] + err
            )
        ]
        over_cap = {b: c for b, c in per_bucket.items() if c > CAPACITY}
        n_seen_total = sum({r["bucket"]: r["n_seen"] for r in rows}.values())

        # exact recount of the streamed candidates vs the closed-form set
        cand = (
            final.filter(F.col("key").isNotNull())
            .select("key")
            .distinct()
            .withColumnRenamed("key", "k")
        )
        hh = {
            (r["k"], r["cnt"])
            for r in heavy.unionAll(tail)
            .join(F.broadcast(cand), "k", "left_semi")
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= thr)
            .collect()
        }
        print(
            f"[{label}] rows={n:,} distinct~{n_tail + N_HEAVY:,} "
            f"batches>={n_batches} "
            f"heavy_tracked={N_HEAVY - len(missing)}/{N_HEAVY} "
            f"invariant_violations={len(bad_inv)} "
            f"buckets_over_cap={len(over_cap)} "
            f"n_seen_total={n_seen_total:,} (expect {n:,}) "
            f"recount_exact={hh == expect} ({len(hh)} keys) "
            f"wall={dt:.1f}s throughput={n / dt / 1e6:.2f}M rows/s",
            flush=True,
        )
        if missing or bad_inv or over_cap or n_seen_total != n or hh != expect:
            sys.exit(1)
        return got

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb_cls = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    g_default = g_rocks = None
    if provider in ("default", "both"):
        g_default = run_once("default-provider")
    if provider in ("rocksdb", "both"):
        spark.conf.set(prov_key, rocksdb_cls)
        assert "RocksDB" in spark.conf.get(prov_key)
        try:
            g_rocks = run_once("rocksdb-provider")
        finally:
            spark.conf.unset(prov_key)
    if provider == "both":
        diff = {
            k
            for k in set(g_default) | set(g_rocks)
            if g_default.get(k) != g_rocks.get(k)
        }
        assert not diff, f"provider summary divergence: {len(diff)} keys"
        print(
            f"providers agree: {len(g_default)} identical (est, err) "
            "summary entries (default vs RocksDB)",
            flush=True,
        )


if __name__ == "__main__":
    main()
