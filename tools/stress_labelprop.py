"""Scale stress for synchronous min-tie-break label propagation
(q_graph_labelprop's plan): a synthetic graph ~2x the bench edge count
with an EXACT closed-form fixpoint, plus a mega-hub that stresses the
per-dst aggregation skew path.

Graph: K disjoint c-cliques (ids g*c .. g*c+c-1) plus one hub vertex
adjacent to EVERY clique vertex (id K*c).  Closed form for c >= 4 after
>= 2 synchronous iterations:
  - every clique-i vertex carries label i*c (iteration 1 takes each
    vertex to the min clique-mate id — g, or g+1 for g itself; the
    min-id label then wins the mode in iteration 2 with count >= c-2,
    the hub's single vote never outvoting it);
  - the hub carries label 0 (every clique contributes its min id c-1
    times — a K-way tie resolved to the smallest label).
The hub's count aggregation sees K*c rows for one dst — the skew the
dst-clustered fused aggregation must absorb without a dedicated path.

Usage: python tools/stress_labelprop.py [n_cliques] [clique_size] [iters]
       (defaults 25_000 cliques x 20 x 3 -> 500k vertices, 5.25M edges)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def build_edges(spark, k: int, c: int):
    """Symmetric (src, dst) edge list: K disjoint c-cliques + a hub
    adjacent to all clique vertices (both directions)."""
    v = spark.range(0, k * c, 1, 64)
    base = v.select(
        F.col("id").alias("u"),
        (F.col("id") - F.pmod(F.col("id"), c)).alias("g0"),
        F.pmod(F.col("id"), c).alias("i"),
    )
    within = (
        base.select(
            "u", "g0", "i",
            F.explode(F.sequence(F.lit(0), F.lit(c - 1))).alias("j"),
        )
        .filter(F.col("j") != F.col("i"))
        .select("u", (F.col("g0") + F.col("j")).alias("w"))
    )
    hub = F.lit(k * c).cast("long")
    spokes = v.select(F.col("id").alias("u"), hub.alias("w")).unionAll(
        v.select(hub.alias("u"), F.col("id").alias("w"))
    )
    return within.unionAll(spokes).select(
        F.col("u").alias("src"), F.col("w").alias("dst")
    )


def labelprop(edges, nodes, iters: int):
    """q_graph_labelprop's exact iteration over an arbitrary symmetric
    edge set: edges must arrive repartition("dst")-clustered so the
    broadcast join and both aggregations fuse per iteration."""
    lbl = nodes.select("v", F.col("v").alias("lbl"))
    for _ in range(iters):
        cnt = (
            edges.join(
                F.broadcast(
                    lbl.select(
                        F.col("v").alias("src"), F.col("lbl").alias("slbl")
                    )
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("cv"), F.col("slbl"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        win = cnt.groupBy("cv").agg(
            F.min(
                F.struct((-F.col("n")).alias("nn"), F.col("slbl").alias("l"))
            )
            .getField("l")
            .alias("wlbl")
        )
        lbl = nodes.join(win, F.col("v") == F.col("cv"), "left").select(
            "v", F.coalesce("wlbl", "v").alias("lbl")
        )
    return lbl


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 25_000
    c = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    iters = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    if k < 1 or c < 4 or iters < 2:
        raise SystemExit(
            f"need n_cliques >= 1, clique_size >= 4, iters >= 2 (got"
            f" {k}, {c}, {iters}): the closed form requires them"
        )
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark(
        "stress-labelprop",
        extra_conf={"spark.cleaner.periodicGC.interval": "3600min"},
    )

    edges = build_edges(spark, k, c).repartition("dst")
    nodes = (
        spark.range(0, k * c + 1, 1, 64)
        .select(F.col("id").alias("v"))
        .localCheckpoint()
    )
    n_edges = k * c * (c - 1) + 2 * k * c

    # warm (JIT/codegen), then measure steady-state (stress_dedup protocol)
    labelprop(edges, nodes, iters).write.format("noop").mode(
        "overwrite"
    ).save()
    t0 = time.time()
    out = labelprop(edges, nodes, iters).localCheckpoint()
    n_labeled = out.count()
    dt = time.time() - t0

    # closed form: clique vertex -> clique min id; hub -> 0
    bad = out.filter(
        (
            (F.col("v") < k * c)
            & (F.col("lbl") != F.col("v") - F.pmod(F.col("v"), c))
        )
        | ((F.col("v") == k * c) & (F.col("lbl") != 0))
    ).count()
    assert bad == 0 and n_labeled == k * c + 1, (bad, n_labeled)

    print(
        json.dumps(
            {
                "n_cliques": k,
                "clique_size": c,
                "iters": iters,
                "n_vertices": k * c + 1,
                "n_edges": n_edges,
                "hub_degree": k * c,
                "closed_form_violations": bad,
                "wall_s": round(dt, 2),
                "edge_iterations_per_s": int(n_edges * iters / dt),
            }
        )
    )


if __name__ == "__main__":
    main()
