"""Distributed k-means (Lloyd's) for IVF coarse-quantizer training.

The IVF ANN path (operators/similarity.py:ivf_topk) routes queries to
cells; when no natural partition column exists the cells must be
LEARNED.  This trains them with a fixed, fully deterministic recipe so
the resulting index — like the reference's pinned murmur3 seed
(Deduplicator.java:27-28) — is a pure function of the data, never of
partition order, engine, or RNG state:

* **Init is a hash partition, not sampling.**  cell₀(v) = md5(id) mod k
  — deterministic, engine-independent (the same md5-hex-prefix trick as
  the MinHash family), and at 100 TB it needs no driver round-trip the
  way k-means++ seeding would.  Hash buckets start as near-uniform
  random subsets, so their means are k i.i.d. estimates of the data
  mean plus noise — a standard random-restart-quality init.
* **Centroid means are DECIMAL-routed** (the ``dsum`` convention):
  identical across partial-aggregation orders and engines, so every
  downstream assignment — and therefore the whole trained index — is
  bit-reproducible and oracle-checkable.
* **Assignment is round(cosine, 6) argmax with a cell tiebreaker**, so
  engines that differ in the last ulp still pick the same cell.
* **A fixed iteration count unrolls into ONE declarative plan.**  Each
  Lloyd iteration is a (broadcast-joined) scoring pass plus a map-side
  combinable ``max_by`` re-assignment and a per-dimension mean — no
  driver loop state, no collect; ``iters`` is config like ``nprobe``.

Known trade-off of the hash-mean init: every initial centroid sits near
the grand mean (bucket means of near-uniform random subsets), so on
strongly clustered data a few cells can lose the argmax race and end
EMPTY (measured: 8 live cells from k=10 on 10 planted Gaussian
clusters).  That costs IVF scan fraction — merged clusters share a cell
— but NOT recall, since true neighbours stay co-located; choose k with
margin over the expected cluster count.  (The fix at scale would be
k-means|| oversampling; rejected here because its sequential
cost-weighted rounds cannot be expressed as one deterministic,
oracle-checkable plan.)

Scale shape per iteration: score n×k rows (k tiny, centroids broadcast),
partial-combine the argmax per vector (shuffle ~n rows), posexplode for
the mean (shuffle n×dim scalar partials, map-side combined).  Lineage
growth is linear in ``iters``; callers chaining many iterations should
checkpoint — at the IVF-training depths that matter (2-4 passes over a
hash init) the plan stays small.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from transitdata_hfp_deduplicator_spark.functions import vectors as VEC


def hash_cell(id_col: Column | str, k: int) -> Column:
    """Deterministic engine-independent init cell: md5-prefix(id) mod k.

    DuckDB mirror: ``('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT
    % k`` — the 15-hex-digit prefix (60 bits) fits signed 64-bit in both
    engines, and both render BIGINT ids as plain decimal strings.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(
        F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("bigint"),
        F.lit(k),
    )


def _cell_means(assigned: DataFrame) -> DataFrame:
    """(cell, centroid): element-wise mean per cell.

    posexplode + per-(cell, dim) DECIMAL scalar aggregation — shuffles
    map-side combined partials, never whole vectors per group (the
    collect_list rebuild at the end is k×dim rows, trivially small);
    exact across partial orders/engines.
    """
    return (
        assigned.select("cell", F.posexplode("v"))
        .groupBy("cell", "pos")
        .agg(
            (
                F.sum(F.col("col").cast("decimal(30,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x.m
            ).alias("centroid")
        )
    )


def _assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Re-assign each vector to its round(cosine,6)-argmax centroid.

    Broadcast nested-loop against the tiny centroid table scored with
    the JVM zip_with/aggregate fold, then ONE map-side-combinable max_by
    per vector — no window sort, no shuffle of the scored n×k rows
    beyond the per-vector partial maxima.  Ties (equal rounded
    similarity) break toward the LOWER cell id via the (sim, -cell)
    struct ordering — the same verdict as the oracle's ``ORDER BY sim
    DESC, cell`` row_number.
    """
    scored = vectors.select("vid", "v").join(F.broadcast(centroids)).select(
        "vid",
        "v",
        "cell",
        F.round(VEC.cosine(F.col("v"), F.col("centroid")), 6).alias("sim"),
    )
    return (
        scored.groupBy("vid")
        .agg(
            F.max_by(
                "cell", F.struct(F.col("sim"), (-F.col("cell")).alias("nc"))
            ).alias("cell"),
            F.any_value("v").alias("v"),  # identical per vid by construction
        )
        .select("vid", "v", "cell")
    )


def kmeans_cells(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Train k cells; returns (assignments, centroids).

    assignments: (vid, v, cell) — final argmax assignment of every
    vector (v double-cast).  centroids: (cell, centroid) — the means
    the final assignment was scored against (i.e. the index to probe;
    one more ``_cell_means`` over assignments would start iteration
    ``iters+1``).
    """
    if iters < 1:
        # iters=0 would return centroids=None and crash downstream
        # (ivf_topk_trained's probe join) with an opaque error
        raise ValueError(f"iters must be >= 1, got {iters}")
    from transitdata_hfp_deduplicator_spark.tables import spread

    # spread(): iteration 1's mean fold (posexplode + per-(cell, dim)
    # partials) and scoring fan-out (n x k cosine folds) run upstream of
    # the first exchange, i.e. on the scan's splits — a single-file scan
    # serializes them on one core (guide §2.5).  Identity on any
    # multi-split lake scan; results are partition-independent by
    # construction (DECIMAL means, round-6 argmax).
    vecs = spread(
        embeddings.select(
            F.col(id_col).alias("vid"),
            VEC.as_double(F.col(vec_col)).alias("v"),
        )
    )
    assigned = vecs.withColumn("cell", hash_cell("vid", k))
    centroids = None
    for _ in range(iters):
        centroids = _cell_means(assigned)
        # materialize each round: the next iteration's mean AND argmax
        # both consume `assigned`, and downstream consumers (probe +
        # score) fan out again — unchecked, the unrolled lineage
        # re-executes every earlier iteration once PER CONSUMER (2^iters
        # corpus passes at cluster scale, where one pass is the whole
        # budget).  Lifetime = this plan; the ContextCleaner releases
        # the blocks when the frame is dropped.
        assigned = _assign(assigned.select("vid", "v", "cell"), centroids)
        assigned = assigned.localCheckpoint()
    return assigned, centroids


def ivf_topk_trained(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_cells: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF ANN over LEARNED cells: train k-means, then probe like
    ivf_topk (operators/similarity.py:626) with the trained assignment
    as the partition column.  The 100 TB deployment writes the
    assignment once (partitionBy(cell) parquet) and reuses it across
    queries; expressed inline here so the whole pipeline is one
    auditable plan."""
    from pyspark.sql.window import Window as W

    assigned, centroids = kmeans_cells(
        embeddings, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col
    )
    probes = (
        queries.join(F.broadcast(centroids))
        .select(
            query_id_col,
            query_vec_col,
            "cell",
            F.col("centroid"),
        )
        .withColumn(
            "c_sim",
            VEC.cosine(VEC.as_double(F.col(query_vec_col)), F.col("centroid")),
        )
        .withColumn(
            "c_rank",
            F.row_number().over(
                W.partitionBy(query_id_col).orderBy(
                    F.col("c_sim").desc(), F.col("cell")
                )
            ),
        )
        .filter(F.col("c_rank") <= nprobe)
        .select(query_id_col, query_vec_col, "cell")
    )
    scored = assigned.join(F.broadcast(probes), on="cell").select(
        F.col(query_id_col).alias("q_id"),
        F.col("vid").alias("item_id"),
        F.round(
            VEC.cosine(F.col("v"), VEC.as_double(F.col(query_vec_col))), 6
        ).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", "item_id", "cos_sim", "rank")
    )


def semdedup_verdicts(
    assigned: DataFrame,
    tau: float,
    block: int = 1024,
) -> DataFrame:
    """SemDeDup-shape semantic dedup verdicts over trained cells
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication").

    ``assigned`` is ``kmeans_cells``'s (vid, v, cell) output.  Inside
    each cell, a vector is a semantic duplicate iff a LOWER-id vector
    in the same cell has round(cosine, 6) >= tau — the keep-min-id
    discipline the whole dedup family uses (reference analog:
    first-wins, Deduplicator.java:43-66), made deterministic so DuckDB
    reproduces every verdict (the paper's greedy chain-prune depends on
    scan order; this variant is order-free).  Emits one row per
    duplicate: (vid, dup_of = min qualifying lower id, max_sim).

    Scale shape: the quadratic is bounded PER CELL — exactly why
    SemDeDup clusters first — and each cell runs ONE Arrow cogroup-free
    applyInPandas with a row-blocked GEMM (``block`` rows at a time
    against the cell matrix, peak memory block×|cell| floats, never
    |cell|²).  At 100 TB you raise k (cells) to hold |cell| roughly
    constant; the per-cell kernel is unchanged.
    """

    def cell_fn(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"vid": [], "dup_of": [], "max_sim": []}).astype(
            {"vid": "int64", "dup_of": "int64", "max_sim": "float64"}
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vid", kind="mergesort")
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        V = np.asarray(pdf["v"].tolist(), dtype=np.float64)
        # Zero-norm guard: an all-zero embedding (failed embed / padding
        # row) normalizes to the zero row, so every cosine involving it
        # is exactly 0 and can never clear tau > 0 — no NaN rows, and
        # identical verdicts to the DuckDB oracle, where x/0.0 is NULL
        # and NULL >= tau filters the pair out.
        n = np.linalg.norm(V, axis=1, keepdims=True)
        Vn = V / np.where(n == 0.0, 1.0, n)
        o_vid, o_dup, o_sim = [], [], []
        for lo in range(0, len(ids), block):
            hi = min(lo + block, len(ids))
            S = np.round(Vn[lo:hi] @ Vn.T, 6)  # (block, |cell|)
            for r in range(hi - lo):
                j = lo + r  # ids sorted: lower ids are columns < j
                if j == 0:
                    continue
                row = S[r, :j]
                hits = np.nonzero(row >= tau)[0]
                if hits.size:
                    o_vid.append(int(ids[j]))
                    o_dup.append(int(ids[hits[0]]))
                    o_sim.append(float(row[hits].max()))
        if not o_vid:
            return empty
        return pd.DataFrame(
            {"vid": o_vid, "dup_of": o_dup, "max_sim": o_sim}
        ).astype({"vid": "int64", "dup_of": "int64", "max_sim": "float64"})

    return assigned.select("vid", "v", "cell").groupBy("cell").applyInPandas(
        cell_fn, "vid long, dup_of long, max_sim double"
    )


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign NEW vectors to FROZEN trained centroids — the incremental
    path: centroids come from ``kmeans_cells(history)`` and the new
    batch never moves them (re-training would silently re-shuffle the
    historical cell assignments the index/verdict state depends on).
    Returns (vid, v, cell) in ``kmeans_cells`` assignment format."""
    from transitdata_hfp_deduplicator_spark.tables import spread

    # spread(): same single-split rationale as kmeans_cells — the n x k
    # scoring fan-out runs on the scan's splits (guide §2.5)
    vecs = spread(
        vectors.select(
            F.col(id_col).alias("vid"),
            VEC.as_double(F.col(vec_col)).alias("v"),
        )
    )
    return _assign(vecs, centroids)


def semdedup_incr_verdicts(
    assigned_hist: DataFrame,
    assigned_new: DataFrame,
    tau: float,
    block: int = 1024,
) -> DataFrame:
    """Incremental SemDeDup verdicts: NEW vectors judged against the
    historical corpus plus lower-id members of their own batch —
    history×history is never re-scored (those verdicts are already
    settled; the q_dedup_incremental discipline applied to the semantic
    rung).  A new vid is a duplicate iff some same-cell candidate —
    ANY history vector, or a new vector with a lower id — has
    round(cosine, 6) >= tau; dup_of is the minimum qualifying id.

    Scale shape: one cell-keyed applyInPandas over history∪new rows;
    per cell ONE row-blocked GEMM of the new rows against the cell
    matrix (peak block×|cell| floats).  The history side enters the
    exchange once per batch — at 100 TB you persist the assigned
    history partitioned by cell so only the (small) new batch shuffles.
    """
    both = assigned_hist.select(
        "vid", "v", "cell", F.lit(0).alias("is_new")
    ).unionByName(
        assigned_new.select("vid", "v", "cell", F.lit(1).alias("is_new"))
    )

    def cell_fn(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"vid": [], "dup_of": [], "max_sim": []}).astype(
            {"vid": "int64", "dup_of": "int64", "max_sim": "float64"}
        )
        if len(pdf) < 2 or not (pdf["is_new"] == 1).any():
            return empty
        pdf = pdf.sort_values("vid", kind="mergesort")
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        isn = pdf["is_new"].to_numpy(dtype=np.int64).astype(bool)
        V = np.asarray(pdf["v"].tolist(), dtype=np.float64)
        # zero-norm guard: same convention as semdedup_verdicts
        n = np.linalg.norm(V, axis=1, keepdims=True)
        Vn = V / np.where(n == 0.0, 1.0, n)
        pos = np.arange(len(ids))
        new_pos = pos[isn]
        o_vid, o_dup, o_sim = [], [], []
        for lo in range(0, len(new_pos), block):
            rows = new_pos[lo : lo + block]
            S = np.round(Vn[rows] @ Vn.T, 6)  # (block, |cell|)
            for r, j in enumerate(rows):
                # candidates: all history + STRICTLY-lower-vid new —
                # compare ids, not sorted positions: duplicate vids in
                # the batch must not qualify against each other (the
                # oracle's a.vid < b.vid), and which twin sorts later
                # is partition-arrival-dependent
                allowed = (~isn) | (ids < ids[j])
                row = S[r]
                hits = np.nonzero((row >= tau) & allowed)[0]
                if hits.size:
                    o_vid.append(int(ids[j]))
                    o_dup.append(int(ids[hits[0]]))  # min qualifying id
                    o_sim.append(float(row[hits].max()))
        if not o_vid:
            return empty
        return pd.DataFrame(
            {"vid": o_vid, "dup_of": o_dup, "max_sim": o_sim}
        ).astype({"vid": "int64", "dup_of": "int64", "max_sim": "float64"})

    return both.groupBy("cell").applyInPandas(
        cell_fn, "vid long, dup_of long, max_sim double"
    )
