"""Scale stress for ANN: 1M synthetic clustered embeddings, planted
ground truth (each query is an exact copy of a known item), IVF top-1
must return the planted item — recall@1 and throughput at 1000x the
test embeddings table.

Usage: python tools/stress_ann.py [n_vecs] [n_queries]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    nq = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    dim, cells = 32, 64
    from transitdata_hfp_deduplicator_spark.operators.similarity import ivf_topk
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark("stress-ann")
    # cluster center from the cell id, member = center + per-item jitter
    # (deterministic hashes; jitter << center spread keeps cells tight)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            F.pmod(F.xxhash64(F.col("label"), i), F.lit(1000)).cast("double") / 500.0
            - 1.0
            + (
                F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(100)).cast("double")
                / 2000.0
            )
        ).cast("float"),
    )
    emb = spark.range(0, n, 1, 64).select(
        F.col("id").alias("vec_id"),
        F.pmod(F.xxhash64("id"), F.lit(cells)).cast("int").alias("label"),
    ).select("vec_id", "label", vec.alias("embedding"))
    emb.write.format("noop").mode("overwrite").save()  # warm

    step = max(1, n // nq)
    q = emb.filter(F.col("vec_id") % step == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    t0 = time.time()
    top1 = ivf_topk(emb, q, k=1, nprobe=2)
    hits = top1.filter(F.col("q_id") == F.col("vec_id")).count()
    total = q.count()
    dt = time.time() - t0
    print(
        f"vecs={n} queries={total} recall@1={hits}/{total} "
        f"ivf_time={dt:.1f}s ({n/dt/1e6:.1f}M vec-rows indexed+probed/s)"
    )


if __name__ == "__main__":
    main()
