"""Scale stress for distributed connected components: a ≥5M-edge
synthetic near-dup graph through the large-star/small-star path
(operators/clusters.py:_large_small_star) — 5× the documented 1M-edge
driver union-find bound — with ground-truth verification, wall time,
and the ROUND COUNT (the O(log² n), diameter-independent claim), vs
the driver union-find on the same graph.

Graph (no testdata dependency, all spark.range):
- chains of length 100 over n_chain vertices (diameter stress — the
  quoted-paragraph A~B~C~… shape; min-label propagation would need 100
  rounds here)
- 20-vertex stars over n_star vertices (width stress — the boilerplate
  duplicate-blob shape)
Ground truth is closed-form (component = block base id), so the
verdict join is fully distributed — nothing collects.

Usage: python tools/stress_clusters.py [n_chain] [n_star]
       (defaults 3_000_000 / 2_100_000 → ~5.07M edges)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

CHAIN_LEN = 100
STAR_SIZE = 20


def main() -> None:
    n_chain = int(sys.argv[1]) if len(sys.argv) > 1 else 3_000_000
    n_star = int(sys.argv[2]) if len(sys.argv) > 2 else 2_100_000
    from transitdata_hfp_deduplicator_spark.operators.clusters import (
        _large_small_star,
        connected_components,
    )
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark("stress-clusters")
    # chains: vertices [0, n_chain), edge (i, i+1) unless i ends a chain
    chains = (
        spark.range(0, n_chain, 1, 32)
        .filter(F.pmod("id", F.lit(CHAIN_LEN)) != CHAIN_LEN - 1)
        .select(F.col("id").alias("i"), (F.col("id") + 1).alias("j"))
    )
    # stars: vertices [n_chain, n_chain + n_star), edge (v, block base)
    stars = (
        spark.range(n_chain, n_chain + n_star, 1, 32)
        .filter(F.pmod(F.col("id") - n_chain, F.lit(STAR_SIZE)) != 0)
        .select(
            F.col("id").alias("i"),
            (
                F.col("id")
                - F.pmod(F.col("id") - F.lit(n_chain), F.lit(STAR_SIZE))
            ).alias("j"),
        )
    )
    edges = chains.union(stars).localCheckpoint()
    n_edges = edges.count()

    sym = edges.select(F.col("i").alias("a"), F.col("j").alias("b"))
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint()

    stats: dict = {}
    t0 = time.perf_counter()
    comp = _large_small_star(sym, max_iter=25, stats=stats)
    expected = F.when(
        F.col("id") < n_chain,
        F.col("id") - F.pmod("id", F.lit(CHAIN_LEN)),
    ).otherwise(
        F.col("id") - F.pmod(F.col("id") - F.lit(n_chain), F.lit(STAR_SIZE))
    )
    mismatches = comp.filter(F.col("component") != expected).count()
    n_vertices = comp.count()
    t_dist = time.perf_counter() - t0

    t0 = time.perf_counter()
    comp_drv = connected_components(
        edges, "i", "j", small_graph_edges=1 << 60  # force the driver path
    )
    mism_drv = comp_drv.filter(F.col("component") != expected).count()
    t_drv = time.perf_counter() - t0

    print(
        json.dumps(
            {
                "metric": "cc_large_small_star",
                "n_edges": n_edges,
                "n_vertices": n_vertices,
                "rounds": stats.get("rounds"),
                "mismatches": mismatches,
                "sec_distributed": round(t_dist, 2),
                "driver_unionfind_mismatches": mism_drv,
                "sec_driver_unionfind": round(t_drv, 2),
                "edges_per_sec_distributed": int(n_edges / t_dist),
            }
        ),
        flush=True,
    )
    assert mismatches == 0 and mism_drv == 0


if __name__ == "__main__":
    main()
