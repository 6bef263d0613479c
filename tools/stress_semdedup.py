"""Scale stress for SemDeDup (q_dedup_semantic's operator) at the
1M-embedding corpus: train cells with the k-means trainer, run the
per-cell row-blocked GEMM prune, and report planted-pair recall, false
positives, and wall time.

Corpus: 64 planted clusters (center + per-family noise at ~0.3
relative amplitude → intra-cluster cosine ≈ 0.9), with every
vec_id % 10 == 9 a NEAR-COPY of vec_id-1 (perturbation 1e-3 relative →
cosine ≈ 0.99999+).  tau = 0.999 sits between the two populations, so
ground truth is exact: verdicts must hit (almost) every copy and no
non-copy.  A copy can only be missed if k-means routes it to a
different cell than any tau-close neighbor — near-identical vectors
argmax to the same centroid, so the miss channel is empty by
construction; the assert pins it.

The evidence this produces: the per-cell quadratic at |cell| ≈ 15.6k
(1M / 64) is GEMM-bound and finishes in seconds — the SemDeDup recipe
(cluster first, prune inside cells) holds at 1000x the test table, and
at 100 TB you raise k to keep |cell| in exactly this regime.

Usage: python tools/stress_semdedup.py [n_vecs] [k_cells] [tau]
       (defaults 1_000_000, 64, 0.999)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    tau = float(sys.argv[3]) if len(sys.argv) > 3 else 0.999
    dim, planted_cells = 32, 64
    from transitdata_hfp_deduplicator_spark.operators.kmeans import (
        kmeans_cells,
        semdedup_verdicts,
    )
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark("stress-semdedup")
    # family = the original a copy duplicates; non-copies are their own
    # family.  Vector = cluster center (from label) + family noise
    # (0.3 rel) + per-copy perturbation (1e-3 rel).
    base = spark.range(0, n, 1, 64).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") % 10 == 9, F.col("id") - 1)
        .otherwise(F.col("id"))
        .alias("family"),
        (F.col("id") % 10 == 9).alias("is_copy"),
    )
    base = base.withColumn(
        "label", F.pmod(F.xxhash64("family"), F.lit(planted_cells))
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            F.pmod(F.xxhash64(F.col("label"), i), F.lit(1000)).cast("double")
            / 500.0
            - 1.0
            + F.pmod(F.xxhash64(F.col("family"), i), F.lit(1000)).cast(
                "double"
            )
            / 1666.0
            + F.when(
                F.col("is_copy"),
                F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(1000)).cast(
                    "double"
                )
                / 500_000.0,
            ).otherwise(F.lit(0.0))
        ).cast("float"),
    )
    emb = base.select("vec_id", "is_copy", vec.alias("embedding"))
    emb.write.format("noop").mode("overwrite").save()  # warm the feed

    t0 = time.time()
    assigned, _ = kmeans_cells(
        emb, k=k, iters=2, id_col="vec_id", vec_col="embedding"
    )
    t_train = time.time() - t0
    t0 = time.time()
    v = semdedup_verdicts(assigned, tau=tau).localCheckpoint()
    n_verdicts = v.count()
    t_prune = time.time() - t0

    copies_found = v.filter(
        (F.col("vid") % 10 == 9) & (F.col("dup_of") == F.col("vid") - 1)
    ).count()
    copies_tagged = v.filter(F.col("vid") % 10 == 9).count()
    false_pos = n_verdicts - copies_tagged
    planted = n // 10
    # the ONLY legitimate miss channel: k-means routed a copy and its
    # original to different cells (round-6 argmax boundary flip) — the
    # documented SemDeDup trade (the paper prunes within clusters too);
    # count it so misses are attributable, not mysterious
    cells = assigned.select("vid", "cell")
    split_pairs = (
        cells.filter(F.col("vid") % 10 == 9)
        .alias("c")
        .join(
            cells.alias("o"),
            F.col("c.vid") - 1 == F.col("o.vid"),
        )
        .filter(F.col("c.cell") != F.col("o.cell"))
        .count()
    )
    print(
        json.dumps(
            {
                "metric": "semdedup_1m",
                "n_vecs": n,
                "k_cells": k,
                "tau": tau,
                "sec_train": round(t_train, 2),
                "sec_prune": round(t_prune, 2),
                "planted": planted,
                "copies_tagged": copies_tagged,
                "copies_dup_of_original": copies_found,
                "cell_boundary_splits": split_pairs,
                "false_positives": false_pos,
                "vecs_per_sec": int(n / (t_train + t_prune)),
            }
        ),
        flush=True,
    )
    assert false_pos == 0, "no non-copy may cross tau=0.999"
    assert planted - copies_tagged <= split_pairs, (
        "every miss must be a cell-boundary split, nothing else"
    )
    assert copies_tagged >= 0.999 * planted, "recall floor"


if __name__ == "__main__":
    main()
