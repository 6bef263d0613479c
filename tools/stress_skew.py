"""Scale stress for the salted skew join: a 50M-row fact where ONE key
owns 25% of all rows, shuffle-joined against a dimension too big to
broadcast (simulated via autoBroadcastJoinThreshold=-1).

Three strategies over identical data, result cardinality asserted equal:
  plain        AQE off — the degenerate case: the hot key's rows land in
               one shuffle partition = one straggler task
  salted       operators/skew.py::salted_join, AQE off — the hot key
               spreads over salt_buckets partitions by construction
  aqe          plain join, AQE skew-split on (session default) — the
               runtime fix; salting is the explicit fallback for a KEY
               hotter than an executor (AQE splits partitions, not keys)

Usage: python tools/stress_skew.py [n_rows] [hot_pct]  (default 50M, 25)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
    hot_pct = int(sys.argv[2]) if len(sys.argv) > 2 else 25
    n_keys = 1000
    from transitdata_hfp_deduplicator_spark.operators.skew import salted_join
    from transitdata_hfp_deduplicator_spark.session import get_spark
    from transitdata_hfp_deduplicator_spark.streaming import scoped_conf

    spark = get_spark("stress-skew")
    # hot_pct% of rows carry key 7; the rest spread evenly
    big = spark.range(0, n, 1, 64).select(
        F.when(F.pmod("id", F.lit(100)) < hot_pct, F.lit(7))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys)))
        .alias("k"),
        (F.col("id") % 1000).alias("v"),
    )
    dim = spark.range(0, n_keys).select(
        F.col("id").alias("dk"), F.concat(F.lit("d"), F.col("id")).alias("name")
    )
    big.write.format("noop").mode("overwrite").save()  # warm

    def timed(mk) -> tuple[float, int]:
        best, rows = None, None
        for _ in range(2):
            t0 = time.time()
            rows = mk().groupBy().count().collect()[0][0]
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return best, rows

    results = {}
    with scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        with scoped_conf(spark, "spark.sql.adaptive.enabled", "false"):
            results["plain"] = timed(
                lambda: big.join(dim, big["k"] == dim["dk"])
            )
            results["salted"] = timed(
                lambda: salted_join(big, dim, [("k", "dk")], salt_buckets=32)
            )
        results["aqe"] = timed(lambda: big.join(dim, big["k"] == dim["dk"]))
    counts = {r[1] for r in results.values()}
    assert len(counts) == 1, f"strategies disagree: {results}"
    print(
        f"n={n} hot_key={hot_pct}%: "
        + " | ".join(f"{k} {v[0]:.1f}s" for k, v in results.items())
        + f" | rows={counts.pop()} (equal across strategies)"
    )


if __name__ == "__main__":
    main()
