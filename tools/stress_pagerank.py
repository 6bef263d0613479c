"""Scale stress for the PageRank iteration shape (q_graph_pagerank's
loop): a synthetic graph ~10x the bench edge count, with an EXACT
closed-form check baked in.

Graph: a directed ring of N nodes (i -> (i+1) % N) plus R pseudo-random
extra edges per node (deterministic xxhash64 targets).  The ring alone
has uniform out-degree and a doubly-stochastic transition, so PageRank
is EXACTLY uniform (1/N) at every iteration — run with extra_per_node=0
to verify the distributed loop against that invariant bit-for-bit.
With extra edges the invariant is gone and the run measures throughput:
edges x iterations / wall.

Usage: python tools/stress_pagerank.py [n_nodes] [extra_per_node]
       (defaults 1_000_000 nodes, 4 extras -> 5M edges)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

ITERS = 3


def build_edges(spark, n: int, extra: int):
    base = spark.range(0, n, 1, 64).select(F.col("id").alias("src"))
    ring = base.select("src", F.pmod(F.col("src") + 1, F.lit(n)).alias("dst"))
    if extra == 0:
        return ring
    fan = base.select(
        "src",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(extra)),
                lambda i: F.pmod(F.xxhash64(F.col("src"), i), F.lit(n)),
            )
        ).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return ring.unionAll(fan).distinct()


def pagerank(edges, nodes, iters: int = ITERS):
    ed = edges.withColumn(
        "d", F.count(F.lit(1)).over(W.partitionBy("src"))
    ).localCheckpoint()
    nn = nodes.agg(F.count(F.lit(1)).alias("n")).localCheckpoint()
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "v", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(iters):
        contrib = (
            ed.join(r.withColumnRenamed("v", "src"), "src")
            .groupBy(F.col("dst").alias("cv"))
            .agg(
                (
                    F.sum(
                        F.floor(
                            F.col("r") / F.col("d") * 1e12 + F.lit(0.5)
                        ).cast("bigint")
                    ).cast("double")
                    / F.lit(1e12)
                ).alias("s")
            )
        )
        r = (
            nodes.crossJoin(F.broadcast(nn))
            .join(contrib, F.col("v") == F.col("cv"), "left")
            .select(
                "v",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return r


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    extra = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark(
        "stress-pagerank",
        extra_conf={"spark.cleaner.periodicGC.interval": "3600min"},
    )
    nodes = spark.range(0, n, 1, 64).select(F.col("id").alias("v"))

    # 1) exactness: ring-only graph => uniform PR at every iteration
    ring_r = pagerank(build_edges(spark, 100_000, 0),
                      spark.range(0, 100_000, 1, 32).select(F.col("id").alias("v")))
    expect = 1.0 / 100_000
    bad = ring_r.filter(F.abs(F.col("r") - expect) > 1e-15).count()
    assert bad == 0, f"{bad} ring nodes deviate from the uniform fixpoint"

    # 2) throughput at scale
    edges = build_edges(spark, n, extra).localCheckpoint()
    n_edges = edges.count()
    # warm (JIT/codegen), then measure steady-state (stress_dedup protocol)
    pagerank(edges, nodes).write.format("noop").mode("overwrite").save()
    t0 = time.time()
    out = pagerank(edges, nodes)
    n_out = out.count()
    dt = time.time() - t0
    print(
        json.dumps(
            {
                "n_nodes": n,
                "n_edges": n_edges,
                "iters": ITERS,
                "ring_uniform_violations": bad,
                "wall_s": round(dt, 2),
                "edge_iters_per_s": int(n_edges * ITERS / dt),
            }
        )
    )


if __name__ == "__main__":
    main()
