"""Near-dup + ANN operator quality: the approximate paths (LSH, IVF,
SimHash) are judged against their exact counterparts — approximate
operators without a measured recall are not 'done'."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transitdata_hfp_deduplicator_spark.operators.similarity import (
    _exploded_shingles,
    _shingled,
    cosine_topk,
    ivf_topk,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_pairs,
)
from transitdata_hfp_deduplicator_spark.tables import table


@pytest.mark.parametrize("with_size", [False, True])
@pytest.mark.parametrize("shingle_n", [1, 3])
def test_exploded_shingles_match_plain_explode(spark, sf_dir, shingle_n, with_size):
    """``_exploded_shingles`` (explode_outer + a null filter) gives the
    rows a plain ``explode`` gives over every shingle producer — true
    only while no producer emits a null element, which this pins."""
    edge = spark.createDataFrame(
        [(-1, None), (-2, ""), (-3, "   "), (-4, "a"), (-5, "a a a b")],
        "doc_id long, text string",
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").unionByName(edge)
    sh = _shingled(docs, "doc_id", "text", shingle_n)
    keep = ["doc_id", "n_sh"] if with_size else ["doc_id"]
    plain = (
        sh.withColumn("n_sh", F.size("shingles"))
        .select(*keep, F.explode("shingles").alias("sh_raw"))
        .select(*keep, F.xxhash64("sh_raw").alias("s"))
    )
    got = sorted(map(tuple, _exploded_shingles(sh, with_size).collect()))
    assert got and got == sorted(map(tuple, plain.collect()))


def test_lsh_recall_vs_exact_jaccard(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    exact = {
        (r.i, r.j) for r in jaccard_pairs(d, threshold=0.5).collect()
    }
    lsh = {
        (r.i, r.j)
        for r in minhash_lsh_pairs(
            d, num_hashes=16, bands=8, threshold=0.5
        ).collect()
    }
    assert lsh <= exact, "LSH verification must kill all false positives"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.9, f"LSH recall {recall} too low for J>=0.5 pairs"


def test_minhash_signature_similarity_estimate(spark, sf_dir):
    """For a high-Jaccard pair, signature agreement should be high."""
    d = table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(d, threshold=0.8).limit(1).collect()
    if not pairs:
        return
    i, j = pairs[0].i, pairs[0].j
    sigs = minhash_signatures(d, num_hashes=16).filter(
        F.col("doc_id").isin(i, j)
    ).collect()
    a, b = sigs[0], sigs[1]
    agree = sum(1 for k in range(16) if a[f"mh_{k}"] == b[f"mh_{k}"])
    assert agree >= 8, f"signature agreement {agree}/16 too low for J>=0.8"


def test_simhash_near_dups_have_small_hamming(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    pairs = simhash_pairs(d, max_hamming=3)
    for r in pairs.collect():
        assert r.hamming <= 3


def test_ivf_recall_on_clustered_data(spark):
    """The driver's `embeddings` table is isotropic noise (labels are not
    cosine clusters — verified intra==inter similarity), so IVF recall is
    meaningless there.  On clusterable data the cell-probe path must
    recover nearly all true neighbours."""
    import numpy as np

    rng = np.random.default_rng(42)
    centers = rng.normal(size=(10, 32)) * 5
    rows = []
    for i in range(500):
        c = i % 10
        v = centers[c] + rng.normal(size=32)
        rows.append((i, [float(x) for x in v], c))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = e.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r.q_id, r.item_id) for r in cosine_topk(e, q, k=5).collect()}
    approx = {(r.q_id, r.item_id) for r in ivf_topk(e, q, k=5, nprobe=2).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, f"IVF nprobe=2 recall {recall} on clustered data"


def test_ivf_subset_of_probed_cells(spark, sf_dir):
    """On any data, IVF results must be correctly ranked within the
    probed cells (internal consistency)."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ivf_topk(e, q, k=5, nprobe=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append((r.rank, r.cos_sim))
    for q_id, rows in by_q.items():
        rows.sort()
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True), f"rank order broken for {q_id}"


def test_cosine_topk_self_is_rank_one(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    top = cosine_topk(e, q, k=1).collect()
    for r in top:
        assert r.item_id == r.q_id, "a vector's nearest neighbour is itself"
        assert abs(r.cos_sim - 1.0) < 1e-5


def test_cosine_dup_pairs_block_decomposition(spark):
    """The block-decomposed exact kernel must emit every unordered pair
    exactly once regardless of block count: a multi-block run (cross-
    block tiles exercised) equals the single-block run pair-for-pair."""
    import numpy as np

    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        cosine_dup_pairs,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(6, 32)) * 4
    rows = [
        (i, [float(x) for x in centers[i % 6] + rng.normal(size=32) * 0.5])
        for i in range(150)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    one = {(r.i, r.j): r.cos_sim for r in cosine_dup_pairs(e, 0.8, n_blocks=1).collect()}
    many = {(r.i, r.j): r.cos_sim for r in cosine_dup_pairs(e, 0.8, n_blocks=4).collect()}
    assert one, "blob data must contain high-cosine pairs"
    assert many == one, "block count must not change the result set"
    assert all(i < j for i, j in many), "pairs must be oriented i < j"


def test_rplsh_recall_on_clustered_data(spark):
    """RP-LSH must recover nearly all high-cosine pairs on clusterable
    data, and its verified output must be a subset of the exact pairs."""
    import numpy as np

    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        cosine_dup_pairs,
        rp_lsh_pairs,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 64)) * 4
    rows = []
    for i in range(240):
        v = centers[i % 8] + rng.normal(size=64) * 0.6
        rows.append((i, [float(x) for x in v]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r.i, r.j) for r in cosine_dup_pairs(e, threshold=0.8).collect()}
    lsh = {
        (r.i, r.j)
        for r in rp_lsh_pairs(e, threshold=0.8).collect()
    }
    assert lsh <= exact, "exact verification must kill false positives"
    assert exact, "blob data must contain high-cosine pairs"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"RP-LSH recall {recall}"


def test_simhash_pigeonhole_full_recall(spark, sf_dir):
    """The d+1-chunk pigeonhole must find EVERY pair within max_hamming
    — including values above the old fixed-4-chunk guarantee of 3 —
    verified against brute-force popcount over all signature pairs."""
    from itertools import combinations

    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        simhash_signatures,
    )

    d = table(spark, sf_dir, "documents")
    sigs = {r.doc_id: r.sh for r in simhash_signatures(d).collect()}
    for max_h in (3, 7, 12):
        expected = {
            (i, j)
            for i, j in combinations(sorted(sigs), 2)
            if bin((sigs[i] ^ sigs[j]) & ((1 << 64) - 1)).count("1") <= max_h
        }
        got = {(r.i, r.j) for r in simhash_pairs(d, max_hamming=max_h).collect()}
        assert got == expected, f"recall gap at max_hamming={max_h}"


def test_skew_caps_identity_and_bite(spark, sf_dir):
    """max_df / max_bucket caps: a cap at/above the corpus maximum is a
    no-op (identical pairs); an absurdly tight cap removes everything —
    the two endpoints that pin the cap is wired into the right stage."""
    d = table(spark, sf_dir, "documents")

    base_j = {(r.i, r.j, r.inter, r.jaccard) for r in jaccard_pairs(d).collect()}
    hi_j = {
        (r.i, r.j, r.inter, r.jaccard)
        for r in jaccard_pairs(d, max_df=10**9).collect()
    }
    assert hi_j == base_j, "max_df >= df-max must be a no-op"
    assert jaccard_pairs(d, max_df=1).count() == 0, (
        "max_df=1 leaves no shared shingles, hence no pairs"
    )

    base_m = {(r.i, r.j) for r in minhash_lsh_pairs(d).collect()}
    hi_m = {(r.i, r.j) for r in minhash_lsh_pairs(d, max_bucket=10**9).collect()}
    assert hi_m == base_m, "max_bucket >= largest bucket must be a no-op"
    assert minhash_lsh_pairs(d, max_bucket=1).count() == 0, (
        "max_bucket=1 drops every multi-doc bucket, hence no candidates"
    )


def test_containment_detects_subdocument(spark):
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        containment_pairs,
    )

    small = "alpha beta gamma delta epsilon zeta"
    big = small + " eta theta iota kappa " * 8
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, "totally unrelated words here now")],
        "doc_id long, text string",
    )
    rows = {
        (r.src, r.dst): r.containment
        for r in containment_pairs(df, threshold=0.5).collect()
    }
    # every shingle of doc 1 appears in doc 2 -> full containment forward
    assert rows[(1, 2)] == 1.0
    # the big doc is NOT contained in the small one
    assert (2, 1) not in rows
    assert all(3 not in k for k in rows)


def test_containment_consistent_under_max_df_cap(spark):
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        containment_pairs,
    )

    df = spark.createDataFrame(
        [(i, f"common one two three unique{i} four five six") for i in range(6)],
        "doc_id long, text string",
    )
    # cap >= corpus df-max is bit-identical to uncapped
    a = sorted(map(tuple, containment_pairs(df, threshold=0.1).collect()))
    b = sorted(map(tuple, containment_pairs(df, threshold=0.1, max_df=100).collect()))
    assert a == b


def test_incremental_lsh_matches_full_batch_verdicts(spark, sf_dir):
    """Splitting the corpus into history + batch must give each new doc
    exactly the verdict the FULL-corpus pair run implies for it (the
    incremental path only skips history×history work, never changes
    any new doc's answer)."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        minhash_lsh_incremental,
        minhash_lsh_pairs,
    )

    d = table(spark, sf_dir, "documents")
    cut = d.count() * 6 // 10
    hist = d.filter(F.col("doc_id") < cut)
    new = d.filter(F.col("doc_id") >= cut)
    got = {
        (r.doc_id, r.is_dup, r.dup_of, r.jaccard)
        for r in minhash_lsh_incremental(new, hist, "doc_id", "text").collect()
    }
    pairs = minhash_lsh_pairs(d, "doc_id", "text", threshold=0.5).collect()
    best: dict = {}
    for p in pairs:
        if p.j >= cut:  # full run orders i<j, so i is the earlier partner
            lo, hi = best.get(p.j, (None, None))
            best[p.j] = (
                p.i if lo is None else min(lo, p.i),
                p.jaccard if hi is None else max(hi, p.jaccard),
            )
    want = {
        (r.doc_id, r.doc_id in best, *best.get(r.doc_id, (None, None)))
        for r in new.select("doc_id").collect()
    }
    assert got == want
    assert any(v[1] for v in got), "corpus plants near-dups; some must hit"


def test_incremental_lsh_empty_history(spark, sf_dir):
    """With no history, incremental == within-batch-only verdicts."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        minhash_lsh_incremental,
    )

    d = table(spark, sf_dir, "documents").limit(100)
    empty = d.filter(F.lit(False))
    out = minhash_lsh_incremental(d, empty, "doc_id", "text").collect()
    assert len(out) == 100
    for r in out:
        assert (r.dup_of is None) == (not r.is_dup)
        if r.is_dup:
            assert r.dup_of < r.doc_id


def test_incremental_lsh_max_bucket_caps_both_sides(spark, sf_dir):
    """A max_bucket >= every bucket size must be a no-op on BOTH the
    within-batch posting lists and the history index (the cap's
    exactness contract); a tiny cap must only REMOVE verdicts."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        minhash_lsh_incremental,
    )

    d = table(spark, sf_dir, "documents").limit(200)
    cut = 120
    hist = d.filter(F.col("doc_id") < cut)
    new = d.filter(F.col("doc_id") >= cut)

    def run(cap):
        return {
            (r.doc_id, r.is_dup, r.dup_of, r.jaccard)
            for r in minhash_lsh_incremental(
                new, hist, "doc_id", "text", max_bucket=cap
            ).collect()
        }

    uncapped = run(None)
    assert run(10_000) == uncapped
    capped = run(1)  # bucket size 1 kills every posting list
    assert {x[0] for x in capped} == {x[0] for x in uncapped}
    dup_capped = {x[0] for x in capped if x[1]}
    dup_uncapped = {x[0] for x in uncapped if x[1]}
    assert dup_capped <= dup_uncapped
