"""Scale stress for the k-means IVF trainer: train learned cells on N
synthetic clustered embeddings (no label column used), then answer
planted exact-copy queries through the TRAINED index — recall@1 and
per-iteration training throughput at 1000x the test embeddings table.

The evidence this produces: every training iteration is one broadcast
scoring pass + one map-side-combinable argmax + one per-dimension mean
(no collect, no window sort), so train time scales linearly in n; and
cells learned from the data alone route queries as well as the natural
partition (stress_ann.py's planted recall protocol, same corpus shape).

Usage: python tools/stress_kmeans.py [n_vecs] [n_queries] [iters]
       (defaults 1_000_000, 100, 2)
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
    iters = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    dim, planted_cells, k = 32, 64, 64
    from transitdata_hfp_deduplicator_spark.operators.kmeans import (
        ivf_topk_trained,
        kmeans_cells,
    )
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark("stress-kmeans")
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
    emb = (
        spark.range(0, n, 1, 64)
        .select(
            F.col("id").alias("vec_id"),
            F.pmod(F.xxhash64("id"), F.lit(planted_cells)).cast("int").alias("label"),
        )
        .select("vec_id", "label", vec.alias("embedding"))
    )
    emb.write.format("noop").mode("overwrite").save()  # warm

    t0 = time.time()
    assigned, cents = kmeans_cells(emb, k=k, iters=iters)
    n_cells = cents.count()  # forces training (checkpointed per round)
    t_train = time.time() - t0

    step = max(1, n // nq)
    q = emb.filter(F.col("vec_id") % step == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    t0 = time.time()
    top1 = ivf_topk_trained(emb, q, k=1, nprobe=2, n_cells=k, iters=iters)
    hits = top1.filter(F.col("q_id") == F.col("item_id")).count()
    total = q.count()
    t_query = time.time() - t0
    print(
        f"vecs={n} k={k} iters={iters}: train {t_train:.1f}s "
        f"({n * iters / t_train / 1e3:.1f}k vec-rows/iter-s), live cells "
        f"{n_cells}/{k} | trained-IVF recall@1={hits}/{total} "
        f"(end-to-end retrain+probe {t_query:.1f}s)"
    )


if __name__ == "__main__":
    main()
