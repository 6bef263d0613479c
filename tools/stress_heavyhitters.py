"""Scale stress for exact heavy hitters: a synthesized Zipf-ish feed
with PLANTED ground truth (closed-form key frequencies), run through
the Misra-Gries + exact-recount operator far beyond the bench SF.

Checked properties, all exact:
* the output equals the closed-form phi-heavy-hitter set (every planted
  heavy key present with its exact count, nothing else),
* phase-1 candidate volume stays <= n_partitions * (capacity + 1)
  (the broadcast-small contract survives the scale-up),
* wall time scales ~linearly in N (two scans, no full-cardinality agg).

Key design: key k in [0, K) receives ``W - k`` rows for heavy keys
(k < H) and exactly 1 row for the long tail, so every key's true count
is closed-form and the phi threshold can be planted to split the heavy
block.  The long tail (millions of distinct singletons) is what a
full-cardinality groupBy would choke on at 100 TB — here it never
leaves the MG fold.

Usage: python tools/stress_heavyhitters.py [n_tail] [n_heavy]
       (default 50_000_000 tail singletons, 200 heavy keys)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n_tail = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
    n_heavy = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    from transitdata_hfp_deduplicator_spark.operators.heavyhitters import (
        heavy_hitters_exact,
        mg_partition_candidates,
    )
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark("stress-heavyhitters")
    w = 40_000  # heaviest key count; heavy key k gets (w - 100*k) rows
    heavy_counts = {k: w - 100 * k for k in range(n_heavy)}
    n_heavy_rows = sum(heavy_counts.values())
    n = n_tail + n_heavy_rows

    # heavy block: key k materializes exactly (w - 100k) rows via
    # sequence-explode, then spreads across partitions so every heavy
    # key crosses partition boundaries (the merge-bound path)
    heavy = (
        spark.range(0, n_heavy, 1, min(n_heavy, 32))
        .select(
            F.concat(F.lit("hot"), F.col("id").cast("string")).alias("k"),
            (F.lit(w) - 100 * F.col("id")).alias("c"),
        )
        .select("k", F.explode(F.sequence(F.lit(1), F.col("c"))))
        .select("k")
        .repartition(32)
    )
    tail = spark.range(0, n_tail, 1, 64).select(
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("k")
    )
    feed = heavy.unionAll(tail)

    # plant phi so exactly half the heavy block passes:
    # threshold between count(H/2-1) and count(H/2)
    thr = heavy_counts[n_heavy // 2] + 50
    phi_num, phi_den = thr, n  # phi = thr / N exactly
    expect = {
        (f"hot{k}", c) for k, c in heavy_counts.items() if c * phi_den >= n * phi_num
    }

    t0 = time.time()
    got = {
        (r["k"], r["cnt"])
        for r in heavy_hitters_exact(
            feed, "k", phi_num, phi_den, capacity=4096
        ).collect()
    }
    dt = time.time() - t0
    ok = got == expect

    cand = mg_partition_candidates(feed, "k", 4096)
    n_cand = cand.count()
    n_parts = feed.rdd.getNumPartitions()
    bound = n_parts * (4096 + 1)

    print(
        f"rows={n:,} distinct~{n_tail + n_heavy:,} heavy_expected={len(expect)} "
        f"got={len(got)} exact_match={ok} "
        f"candidates={n_cand:,} (bound {bound:,}, ok={n_cand <= bound}) "
        f"wall={dt:.1f}s throughput={n / dt / 1e6:.1f}M rows/s"
    )
    if not ok or n_cand > bound:
        sys.exit(1)


if __name__ == "__main__":
    main()
