"""Trained IVF coarse quantizer (operators/kmeans.py): Lloyd's must
actually cluster, deterministically, and the trained index must recover
true neighbours — an approximate operator without a measured recall is
not 'done' (same bar as tests/test_similarity.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from transitdata_hfp_deduplicator_spark.functions import vectors as VEC
from transitdata_hfp_deduplicator_spark.operators.kmeans import (
    ivf_topk_trained,
    kmeans_cells,
)
from transitdata_hfp_deduplicator_spark.operators.similarity import cosine_topk


def _clustered(spark, n=500, k=10, dim=32):
    import numpy as np

    rng = np.random.default_rng(42)
    centers = rng.normal(size=(k, dim)) * 5
    rows = []
    for i in range(n):
        c = i % k
        v = centers[c] + rng.normal(size=dim)
        rows.append((i, [float(x) for x in v], c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_kmeans_recovers_planted_clusters(spark):
    """With k = the planted cluster count, trained cells must be pure:
    every planted cluster maps (almost) entirely into one learned cell."""
    e = _clustered(spark)
    assigned, _ = kmeans_cells(e, k=10, iters=3)
    joined = assigned.join(e.select(F.col("vec_id").alias("vid"), "label"), "vid")
    # majority cell per planted label, then the fraction of rows agreeing
    top = (
        joined.groupBy("label", "cell")
        .count()
        .groupBy("label")
        .agg(F.max("count").alias("maj"), F.sum("count").alias("tot"))
        .agg((F.sum("maj") / F.sum("tot")).alias("purity"))
        .collect()[0]
    )
    assert top.purity >= 0.95, f"cluster purity {top.purity}"


def test_kmeans_iterations_tighten_clusters(spark):
    """Mean similarity to the assigned centroid must not decrease from
    the hash init to the trained assignment (Lloyd's monotonicity,
    modulo the cosine-vs-mean objective mismatch — on planted Gaussian
    clusters the improvement is large, not marginal)."""
    e = _clustered(spark)

    def mean_sim(iters):
        assigned, cents = kmeans_cells(e, k=10, iters=iters)
        return (
            assigned.join(F.broadcast(cents), "cell")
            .select(VEC.cosine(F.col("v"), F.col("centroid")).alias("s"))
            .agg(F.avg("s").alias("m"))
            .collect()[0]
            .m
        )
    one, three = mean_sim(1), mean_sim(3)
    assert three >= one - 1e-9, f"{three} < {one}"
    # hash-mean init starts every centroid near the grand mean, so a
    # couple of the 10 cells lose the argmax race and go empty (local
    # optimum ~8 live cells here; measured mean-sim 0.47 -> 0.82).
    # That costs scan fraction, not recall — the recall test below is
    # the quality gate; this pins the clustering actually happening.
    assert three >= 0.75, f"trained clusters not tight: {three}"


def test_kmeans_deterministic(spark):
    e = _clustered(spark, n=200)
    a1, c1 = kmeans_cells(e, k=5, iters=2)
    a2, c2 = kmeans_cells(e, k=5, iters=2)
    assert {(r.vid, r.cell) for r in a1.collect()} == {
        (r.vid, r.cell) for r in a2.collect()
    }
    assert {(r.cell, tuple(r.centroid)) for r in c1.collect()} == {
        (r.cell, tuple(r.centroid)) for r in c2.collect()
    }


def test_trained_ivf_recall_on_clustered_data(spark):
    """Learned cells (no label column needed) must give the same recall
    the natural-partition IVF achieves on clusterable data."""
    e = _clustered(spark)
    q = e.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r.q_id, r.item_id) for r in cosine_topk(e, q, k=5).collect()}
    approx = {
        (r.q_id, r.item_id)
        for r in ivf_topk_trained(
            e, q, k=5, nprobe=2, n_cells=10, iters=3
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, f"trained-IVF nprobe=2 recall {recall}"


def test_incr_semdedup_new_judged_history_untouched(spark):
    """Incremental SemDeDup: a new exact copy of a history vector must
    be verdicted against it; a new copy of a LATER new vector must
    point at the lower batch id; history vectors never appear as
    duplicate rows; dup_of is always the minimum qualifying id."""
    import numpy as np

    from transitdata_hfp_deduplicator_spark.operators.kmeans import (
        assign_cells,
        semdedup_incr_verdicts,
    )

    rng = np.random.default_rng(7)
    base = [[float(x) for x in rng.normal(size=8)] for _ in range(6)]
    # history ids 0..5 (vectors 0..5); history 4 and 5 are EXACT copies
    # of history 0 — settled history dups that must NOT re-emit
    hist_rows = [(i, base[i]) for i in range(4)] + [(4, base[0]), (5, base[0])]
    # new ids: 10 = copy of history 2; 11 = fresh; 12 = copy of new 11;
    # 13 appears TWICE with another fresh vector — duplicate-vid
    # ingestion must not make the twins qualify against each other
    # (strict vid <, like the oracle), whichever sorts later
    fresh = [float(x) for x in rng.normal(size=8)]
    fresh2 = [float(x) for x in rng.normal(size=8)]
    new_rows = [
        (10, base[2]), (11, fresh), (12, fresh), (13, fresh2), (13, fresh2),
    ]
    hist = spark.createDataFrame(hist_rows, "vec_id long, embedding array<double>")
    new = spark.createDataFrame(new_rows, "vec_id long, embedding array<double>")

    # single-cell centroid => everything lands in one cell; the verdict
    # logic (not the clustering) is under test.  Must be non-zero: the
    # assignment cosine keeps the oracle-mirrored unguarded divide.
    cents = spark.createDataFrame(
        [(0, [1.0] * 8)], "cell long, centroid array<double>"
    )
    a_h = assign_cells(hist, cents)
    a_n = assign_cells(new, cents)
    out = {
        r.vid: r
        for r in semdedup_incr_verdicts(a_h, a_n, tau=0.999999).collect()
    }
    # 11 fresh, 13-twins excluded (equal vid), history never emits
    assert set(out) == {10, 12}, out
    assert out[10].dup_of == 2
    assert out[12].dup_of == 11  # lower-id batch-mate, not itself
    assert out[10].max_sim == 1.0 and out[12].max_sim == 1.0


def test_incr_semdedup_matches_bruteforce_randomized(spark):
    """Randomized parity: 25 cells of random history/new splits with
    planted exact and near copies, the distributed kernel vs a NumPy
    brute force applying the same rule (candidates = all same-cell
    history + strictly-lower-vid batch-mates; dup iff round(cos,6) >=
    tau; dup_of = min qualifying id; max_sim = max qualifying sim)."""
    import numpy as np

    from transitdata_hfp_deduplicator_spark.operators.kmeans import (
        semdedup_incr_verdicts,
    )

    rng = np.random.default_rng(23)
    tau = 0.9
    hist_rows, new_rows = [], []
    cells = {}  # cell -> list[(vid, vec, is_new)]
    vid = 0
    for cell in range(25):
        members = []
        pool = []
        for _ in range(rng.integers(1, 7)):
            if pool and rng.random() < 0.4:
                base = pool[rng.integers(0, len(pool))]
                v = base + (
                    rng.normal(scale=0.01, size=4) if rng.random() < 0.5
                    else 0.0
                )
            else:
                v = rng.normal(size=4)
            pool.append(v)
            is_new = bool(rng.random() < 0.5)
            members.append((vid, v, is_new))
            (new_rows if is_new else hist_rows).append(
                (vid, [float(x) for x in v], cell)
            )
            vid += 1
        cells[cell] = members

    # NumPy brute force
    expected = {}
    for cell, members in cells.items():
        V = np.array([m[1] for m in members], dtype=np.float64)
        n = np.linalg.norm(V, axis=1, keepdims=True)
        Vn = V / np.where(n == 0.0, 1.0, n)
        S = np.round(Vn @ Vn.T, 6)
        for j, (vj, _, newj) in enumerate(members):
            if not newj:
                continue
            hits = [
                (vi, S[j, i])
                for i, (vi, _, newi) in enumerate(members)
                if (not newi or vi < vj) and S[j, i] >= tau
            ]
            if hits:
                expected[vj] = (
                    min(h[0] for h in hits),
                    max(h[1] for h in hits),
                )

    schema = "vid long, v array<double>, cell long"
    a_h = spark.createDataFrame(hist_rows, schema)
    a_n = spark.createDataFrame(new_rows, schema)
    got = {
        r.vid: (r.dup_of, r.max_sim)
        for r in semdedup_incr_verdicts(a_h, a_n, tau=tau).collect()
    }
    assert got == expected
    assert expected, "degenerate draw: no planted duplicates survived"
