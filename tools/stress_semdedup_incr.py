"""Scale stress for INCREMENTAL SemDeDup (q_dedup_incr_semantic's
operators): frozen centroids trained on an 800k-vector history, a
200k-vector new batch assigned to those cells and judged against
same-cell history + lower-vid batch-mates — at the 1M scale of
tools/stress_semdedup.py, with BOTH verdict channels planted:

  - ids ending in 9 are near-copies of id-1 (ends in 8 -> HISTORY):
    must be flagged with dup_of == id-1 — the new-vs-history channel;
  - ids ending in 7 are near-copies of their century's first ending-7
    id (x07, itself unperturbed): x17..x97 must be flagged with
    dup_of == x07 — the new-vs-lower-batch-mate channel (all ending-7
    ids are new);
  - everything else is its own family (intra-cluster cosine ~0.9,
    far below tau=0.999): zero false positives expected.

History x history pairs (plenty exist: ending-8 originals sit next to
nothing tau-close in history, but the 64-cluster structure is shared)
must produce NO verdict rows — the operator only ever emits new vids.

The only legitimate miss channel is a k-means cell-boundary split
between a copy and its target (the documented SemDeDup trade); splits
are counted so every miss is attributable.

Usage: python tools/stress_semdedup_incr.py [n_vecs] [k_cells] [tau]
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
        assign_cells,
        kmeans_cells,
        semdedup_incr_verdicts,
    )
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark(
        "stress-semdedup-incr",
        extra_conf={"spark.cleaner.periodicGC.interval": "3600min"},
    )

    last = F.pmod(F.col("id"), F.lit(10))
    century7 = F.col("id") - F.pmod(F.col("id"), F.lit(100)) + F.lit(7)
    base = spark.range(0, n, 1, 64).select(
        F.col("id").alias("vec_id"),
        F.when(last == 9, F.col("id") - 1)
        .when(last == 7, century7)
        .otherwise(F.col("id"))
        .alias("family"),
        ((last == 9) | ((last == 7) & (century7 != F.col("id")))).alias(
            "is_copy"
        ),
        (last.isin(7, 9)).alias("is_new"),
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
    emb = base.select("vec_id", "is_new", vec.alias("embedding"))
    hist = emb.filter(~F.col("is_new")).select("vec_id", "embedding")
    new = emb.filter(F.col("is_new")).select("vec_id", "embedding")
    hist.write.format("noop").mode("overwrite").save()  # warm the feed

    t0 = time.time()
    assigned_h, cents = kmeans_cells(
        hist, k=k, iters=2, id_col="vec_id", vec_col="embedding"
    )
    t_train = time.time() - t0
    t0 = time.time()
    assigned_n = assign_cells(new, cents).localCheckpoint()
    v = semdedup_incr_verdicts(assigned_h, assigned_n, tau=tau)
    v = v.localCheckpoint()
    n_verdicts = v.count()
    t_judge = time.time() - t0

    last_v = F.pmod(F.col("vid"), F.lit(10))
    cent7_v = F.col("vid") - F.pmod(F.col("vid"), F.lit(100)) + F.lit(7)
    hist_hits = v.filter(
        (last_v == 9) & (F.col("dup_of") == F.col("vid") - 1)
    ).count()
    mate_hits = v.filter(
        (last_v == 7) & (F.col("dup_of") == cent7_v)
    ).count()
    tagged = v.filter(last_v.isin(7, 9)).count()
    false_pos = n_verdicts - tagged
    leaked_history = v.filter(~last_v.isin(7, 9)).count()
    planted_hist = n // 10
    planted_mate = (n // 100) * 9

    # attributable misses: copy and target routed to different cells
    cells = assigned_h.select("vid", "cell").unionByName(
        assigned_n.select("vid", "cell")
    )
    tgt = F.when(
        F.pmod(F.col("c.vid"), F.lit(10)) == 9, F.col("c.vid") - 1
    ).otherwise(F.col("c.vid") - F.pmod(F.col("c.vid"), F.lit(100)) + 7)
    splits = (
        cells.filter(F.pmod(F.col("vid"), F.lit(10)).isin(7, 9))
        .alias("c")
        .join(cells.alias("o"), tgt == F.col("o.vid"))
        .filter(
            (F.col("c.cell") != F.col("o.cell"))
            & (F.col("c.vid") != F.col("o.vid"))
        )
        .count()
    )
    assert leaked_history == 0, leaked_history
    assert false_pos == 0, false_pos
    assert hist_hits + mate_hits + splits >= planted_hist + planted_mate, (
        hist_hits, mate_hits, splits,
    )
    print(
        json.dumps(
            {
                "metric": "semdedup_incr_1m",
                "n_hist": n - n // 5,
                "n_new": n // 5,
                "k_cells": k,
                "tau": tau,
                "sec_train_hist": round(t_train, 2),
                "sec_assign_judge": round(t_judge, 2),
                "planted_vs_history": planted_hist,
                "hit_vs_history": hist_hits,
                "planted_vs_batchmate": planted_mate,
                "hit_vs_batchmate": mate_hits,
                "cell_boundary_splits": splits,
                "false_positives": false_pos,
                "history_rows_emitted": leaked_history,
                "new_vecs_per_sec": int((n // 5) / t_judge),
            }
        )
    )


if __name__ == "__main__":
    main()
