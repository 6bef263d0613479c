"""Scale stress for degree-oriented triangle counting
(q_graph_triangles's plan): a synthetic graph ~10x the bench edge count
with an EXACT closed-form per-vertex check, plus a mega-hub that would
detonate an UNORIENTED wedge join.

Graph: K disjoint c-cliques (ids g*c .. g*c+c-1) plus one hub vertex
adjacent to EVERY clique vertex.  Closed form:
  - clique vertex: C(c-1,2) in-clique triangles + (c-1) hub triangles
  - hub:           K * C(c,2)  (one triangle per in-clique edge)
The hub has degree K*c — the unoriented algorithm would enumerate
C(K*c, 2) wedges at the hub (1.25e11 at the default size); under the
(degree, id) orientation every hub edge points INTO the hub, so the hub
emits exactly zero wedges and the skew disappears by construction.
That asymmetry is the whole point of the orientation and is what this
stress demonstrates at scale.

Usage: python tools/stress_triangles.py [n_cliques] [clique_size]
       (defaults 25_000 cliques x 20 -> 500k vertices, 5.25M edges)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def build_edges(spark, k: int, c: int):
    """K disjoint c-cliques + a hub adjacent to all clique vertices."""
    v = spark.range(0, k * c, 1, 64)
    base = v.select(
        F.col("id").alias("u"),
        (F.col("id") - F.pmod(F.col("id"), c)).alias("g0"),
        F.pmod(F.col("id"), c).alias("i"),
    )
    within = (
        base.select(
            "u", "g0", "i", F.explode(F.sequence(F.lit(0), F.lit(c - 1))).alias("j")
        )
        .filter(F.col("j") > F.col("i"))
        .select("u", (F.col("g0") + F.col("j")).alias("v"))
    )
    hub = v.select(F.col("id").alias("u"), F.lit(k * c).cast("long").alias("v"))
    return within.unionAll(hub)


def triangles(e0):
    """q_graph_triangles's exact plan over an arbitrary (u < v) edge
    set: (degree, id) orientation + adjacency-array intersection —
    wedges never hit an exchange."""
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        e0.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint()
    )
    adj = o.groupBy("s").agg(F.collect_list("t").alias("ns"))
    tri = (
        o.join(adj, "s")
        .select("s", F.col("t").alias("b"), "ns")
        .join(adj.select(F.col("s").alias("b"), F.col("ns").alias("nb")), "b")
        .select("s", "b", F.explode(F.array_intersect("ns", "nb")).alias("c"))
    )
    return (
        tri.select(F.col("s").alias("part_id"))
        .unionAll(tri.select(F.col("b").alias("part_id")))
        .unionAll(tri.select(F.col("c").alias("part_id")))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 25_000
    c = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    if k < 1 or c < 2:
        raise SystemExit(
            f"need n_cliques >= 1 and clique_size >= 2 (got {k}, {c}): "
            "the closed-form check requires every vertex in a triangle"
        )
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark(
        "stress-triangles",
        extra_conf={"spark.cleaner.periodicGC.interval": "3600min"},
    )

    edges = build_edges(spark, k, c).localCheckpoint()
    n_edges = edges.count()

    # warm (JIT/codegen), then measure steady-state (stress_dedup protocol)
    triangles(edges).write.format("noop").mode("overwrite").save()
    t0 = time.time()
    out = triangles(edges).localCheckpoint()
    n_vertices_with_tri = out.count()
    dt = time.time() - t0

    # closed-form check: clique vertex C(c-1,2)+(c-1); hub K*C(c,2)
    exp_clique = (c - 1) * (c - 2) // 2 + (c - 1)
    exp_hub = k * (c * (c - 1) // 2)
    bad = out.filter(
        (
            (F.col("part_id") < k * c) & (F.col("n_tri") != exp_clique)
        )
        | ((F.col("part_id") == k * c) & (F.col("n_tri") != exp_hub))
    ).count()
    missing = k * c + 1 - n_vertices_with_tri
    assert bad == 0 and missing == 0, (bad, missing)

    total = out.agg(F.sum("n_tri")).collect()[0][0]
    exp_total = 3 * (k * (c * (c - 1) * (c - 2) // 6) + k * (c * (c - 1) // 2))
    assert total == exp_total, (total, exp_total)

    print(
        json.dumps(
            {
                "n_cliques": k,
                "clique_size": c,
                "n_vertices": k * c + 1,
                "n_edges": n_edges,
                "hub_degree": k * c,
                "closed_form_violations": bad,
                "wall_s": round(dt, 2),
                "edges_per_s": int(n_edges / dt),
            }
        )
    )


if __name__ == "__main__":
    main()
