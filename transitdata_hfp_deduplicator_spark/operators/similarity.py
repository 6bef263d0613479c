"""Near-duplicate detection and similarity search (north-star surface).

Five near-dup families (exact-digest, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine) plus brute-force and IVF-style ANN.  Scale
notes per operator inline; the common theme: every candidate-generation
step is an equi-join on a derived key (shingle, band hash, bucket,
centroid id) — never an unkeyed cross join — so the shuffle stays
partitionable at 100 TB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from transitdata_hfp_deduplicator_spark.functions import text as TXT
from transitdata_hfp_deduplicator_spark.functions import vectors as VEC
from transitdata_hfp_deduplicator_spark.tables import spread


def _pinned(df: DataFrame, *keys: str) -> DataFrame:
    """Pin the exchange feeding a pair-explosion aggregation at the
    session's default parallelism.

    AQE sizes reduce-side partitions by SHUFFLE bytes; posting lists
    are kilobytes on the wire but explode to Σ|ds|² pairs downstream,
    so coalescing serializes the whole pair-emission + count stage on
    2-6 tasks (measured via stage attribution at sf0.1: the posting →
    pair stage ran 4 tasks / 1.1-1.3s on q_containment,
    q_dedup_clusters and q_minhash_simdup while 28 cores idled —
    guide §2.5: partition sizing must reflect downstream work, not
    input bytes).  A NUMBERED repartition on the grouping key is
    exempt from AQE coalescing, and the groupBy on the same key reuses
    the exchange (guide §2.4), so the exchange COUNT is unchanged —
    only its width is fixed.  defaultParallelism scales with the
    cluster; per-task aggregation state stays bounded by the
    max_df/max_bucket caps.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, *keys)


def _shingled(docs: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    toks = TXT.tokenize(F.col(text_col))
    sh = TXT.shingles(toks, shingle_n) if shingle_n > 1 else F.array_distinct(toks)
    # spread: single-file scans plan as ONE split; shingling is the
    # dominant map cost, so under-parallelization serializes the query
    return spread(docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))).select(
        "doc_id", sh.alias("shingles")
    )


def _exploded_shingles(sh: DataFrame, with_size: bool = False) -> DataFrame:
    """``(doc_id[, n_sh], s)`` rows — one per shingle, pre-hashed.

    ``explode_outer`` + a null filter on the GENERATOR OUTPUT, not
    plain ``explode``: for ``explode`` Catalyst's
    InferFiltersFromGenerate adds ``size(shingles) > 0 AND
    isnotnull(shingles)`` on the generator INPUT, and predicate
    pushdown then carries that filter through the spread repartition
    to the single-split scan — where it evaluates the ENTIRE shingling
    expression (split + 2 zip_with + array_distinct) per document
    serially, discards it, and re-computes it after the exchange.
    Measured (guide §1.4 decomposition at sf0.1): the scan alone is
    0.08s and scan + full-text exchange 0.20s, yet the serial head
    stage ran 0.9-1.9s — the difference was this pushed-down filter.
    The rule skips outer generators, and the ``s IS NOT NULL`` filter
    on the output cannot push below the Generate.  Row-identical:
    explode skips null/empty arrays, explode_outer turns them into one
    null row each, which the filter drops; shingle arrays never
    contain null ELEMENTS (they are token concats), so no legitimate
    row matches the filter."""
    cols = ["doc_id"]
    if with_size:
        cols.append(F.size("shingles").alias("n_sh"))
    return (
        sh.select(*cols, F.explode_outer("shingles").alias("sh_raw"))
        .filter(F.col("sh_raw").isNotNull())
        .select(
            *(["doc_id", "n_sh"] if with_size else ["doc_id"]),
            F.xxhash64("sh_raw").alias("s"),
        )
    )


def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs: J(A,B) >= threshold.

    Inverted-index plan: explode(shingles) → groupBy(shingle) posting
    lists → emit ordered pairs → count per pair = |A∩B|.  One shuffle
    keyed by shingle hash — measured 4.4x faster than the sort-merge
    self-join formulation.  Per-doc sizes ride INSIDE the posting-list
    structs (n_sh is known at explode time), so |A∪B| needs no join at
    all — in particular no forced ``F.broadcast`` of a per-document
    frame, which at ~10⁹ docs would be a multi-GB driver-side
    materialization (the r3 verdict's one scale hazard).  The capped
    path, where sizes must be recounted over the retained-shingle
    space, joins them back at the pair level with a plain non-hinted
    join: threshold/stat-governed, so Catalyst broadcasts it only while
    it is actually small.

    ``max_df`` is the skew cap: a shingle appearing in more than
    ``max_df`` documents is dropped from the similarity space — BOTH
    from posting lists (its df² pair fan-out is the scale-killer: one
    stopword shingle across 1M docs alone emits 5·10¹¹ pairs) and from
    the union sizes, so the result is exact Jaccard over the reduced
    shingle space.  Hot shingles are by definition near-stopwords and
    carry no similarity signal.  With ``max_df`` ≥ the corpus df-max
    the result is bit-identical to the uncapped run (pinned in
    tests/test_similarity.py).
    """
    sh = _shingled(docs, id_col, text_col, shingle_n)
    # inverted index: shingle -> sorted posting list -> emit ordered pairs.
    # One shuffle (by shingle) instead of a sort-merge self-join; shingles
    # are pre-hashed to int64 so the shuffle moves 8-byte keys, not
    # strings (measured 4.4x on the near-dup corpus).
    if max_df is None:
        # n_sh is free at explode time — carry it through the posting
        # list (8 bytes/posting) so scoring never joins a sizes frame
        # hash AFTER explode: top-level xxhash64 stays in whole-stage
        # codegen; inside transform() it is a CodegenFallback HOF
        # (interpreted per element).  Same values, same 8-byte shuffle.
        ex = _exploded_shingles(sh, with_size=True)
        lists = (
            _pinned(ex, "s")
            .groupBy("s")
            .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
            .filter(F.size("ds") > 1)
        )
        pairs = lists.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, k) ->"
                    " transform(slice(ds, k+2, size(ds)), y ->"
                    " struct(x.doc_id as i, y.doc_id as j,"
                    " x.n_sh as ni, y.n_sh as nj))))"
                )
            ).alias("p")
        ).select("p.i", "p.j", "p.ni", "p.nj")
        # ni/nj are functions of i/j — grouping on them adds no groups
        inter = pairs.groupBy("i", "j", "ni", "nj").agg(
            F.count(F.lit(1)).alias("inter")
        )
        return (
            inter.withColumn(
                "jaccard",
                F.round(
                    F.col("inter") / (F.col("ni") + F.col("nj") - F.col("inter")), 6
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("i", "j", "inter", "jaccard")
        )
    ex = _exploded_shingles(sh)
    # Filter hot shingles BEFORE collect_list: a count aggregation
    # (map-side partial, 12-byte rows) finds over-cap shingles, and
    # a left-semi keyed on the same column drops them, so the 1M-doc
    # stopword shingle never materializes an O(df) array in any
    # aggregation buffer (single-task memory hazard at scale).  Both
    # the count agg and the posting-list agg hash-partition on `s`,
    # so AQE reuses the exchange layout.
    kept = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("s")
    )
    ex_kept = ex.join(kept, "s", "left_semi")
    # keep singleton lists here: per-doc sizes must count every
    # RETAINED shingle, including ones no other doc shares
    lists_all = _pinned(ex_kept, "s").groupBy("s").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds")
    )
    sizes = (
        lists_all.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    lists = lists_all.filter(F.size("ds") > 1)
    pairs = lists.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(ds, (x, i) ->"
                    " transform(slice(ds, i+2, size(ds)), y -> struct(x as i, y as j)))"
                )
            )
        ).alias("p")
    ).select("p.i", "p.j")
    inter = pairs.groupBy("i", "j").agg(F.count(F.lit(1)).alias("inter"))
    # plain joins at the PAIR level, no broadcast hint: sizes is one row
    # per corpus document, so a forced broadcast is a driver OOM at 10⁹
    # docs; un-hinted, Catalyst broadcasts only below the stat threshold
    # and falls back to a shuffle hash join keyed on i/j at scale.
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        inter.join(sa, F.col("i") == F.col("sa.doc_id"))
        .join(sb, F.col("j") == F.col("sb.doc_id"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "inter", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Shingle-containment pairs: C(A→B) = |A∩B| / |A| >= threshold.

    Containment is the asymmetric cousin of Jaccard — it catches
    SUB-document duplication (doc A quoted or embedded inside a longer
    doc B scores C(A→B)≈1 while Jaccard stays low because |B| dwarfs
    the intersection; Broder's resemblance/containment pair, 1997).
    The plan is jaccard_pairs' inverted index (one shuffle keyed by
    shingle hash, same ``max_df`` skew cap, sizes counted over the same
    retained-shingle space); only the final scoring differs: each
    unordered intersection count emits BOTH orientations, each
    normalized by its source side's shingle count.
    """
    sh = _shingled(docs, id_col, text_col, shingle_n)
    if max_df is None:
        # uncapped: postings per doc == size(shingles), so n_sh rides
        # in the posting-list structs and scoring is join-free (no
        # forced per-document broadcast — see jaccard_pairs)
        # hash AFTER explode: top-level xxhash64 stays in whole-stage
        # codegen; inside transform() it is a CodegenFallback HOF
        # (interpreted per element).  Same values, same 8-byte shuffle.
        ex = _exploded_shingles(sh, with_size=True)
        lists = (
            _pinned(ex, "s")
            .groupBy("s")
            .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
            .filter(F.size("ds") > 1)
        )
        pairs = lists.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, k) ->"
                    " transform(slice(ds, k+2, size(ds)), y ->"
                    " struct(x.doc_id as i, y.doc_id as j,"
                    " x.n_sh as ni, y.n_sh as nj))))"
                )
            ).alias("p")
        ).select("p.i", "p.j", "p.ni", "p.nj")
        both = pairs.groupBy("i", "j", "ni", "nj").agg(
            F.count(F.lit(1)).alias("inter")
        )
        fwd = both.select(
            F.col("i").alias("src"),
            F.col("j").alias("dst"),
            F.round(F.col("inter") / F.col("ni"), 6).alias("containment"),
        )
        rev = both.select(
            F.col("j").alias("src"),
            F.col("i").alias("dst"),
            F.round(F.col("inter") / F.col("nj"), 6).alias("containment"),
        )
        return fwd.unionAll(rev).filter(F.col("containment") >= threshold)
    ex = _exploded_shingles(sh)
    kept = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("s")
    )
    ex = ex.join(kept, "s", "left_semi")
    # per-doc sizes over the SAME reduced shingle space the
    # intersections are counted in — containment stays a true ratio
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    lists = (
        _pinned(ex, "s")
        .groupBy("s")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = lists.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) ->"
                " transform(slice(ds, i+2, size(ds)), y -> struct(x as i, y as j))))"
            )
        ).alias("p")
    ).select("p.i", "p.j")
    inter = pairs.groupBy("i", "j").agg(F.count(F.lit(1)).alias("inter"))
    # plain non-hinted joins at the pair level (see jaccard_pairs)
    sa, sb = sizes.alias("ca"), sizes.alias("cb")
    both = inter.join(sa, F.col("i") == F.col("ca.doc_id")).join(
        sb, F.col("j") == F.col("cb.doc_id")
    )
    fwd = both.select(
        F.col("i").alias("src"),
        F.col("j").alias("dst"),
        F.round(F.col("inter") / F.col("ca.n_sh"), 6).alias("containment"),
    )
    rev = both.select(
        F.col("j").alias("src"),
        F.col("i").alias("dst"),
        F.round(F.col("inter") / F.col("cb.n_sh"), 6).alias("containment"),
    )
    return fwd.unionAll(rev).filter(F.col("containment") >= threshold)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signatures: sig[k] = min over shingles of h_k(shingle).

    h_k is the md5-derived 60-bit hash (functions.text.hash64) so the
    signature is reproducible in any engine (oracle-checkable) — the
    same externalizability argument as the reference's fixed murmur3
    seed (Deduplicator.java:27-28).

    Plan shape: explode(shingles) → num_hashes top-level hash columns →
    groupBy(doc_id) with num_hashes min() aggregates.  The obvious
    ``array_min(transform(shingles, h_k))`` formulation is a
    higher-order function — CodegenFallback, so every md5 runs through
    interpreted ``eval()`` with per-element allocation; measured 2.4s →
    15-40s run-to-run on the SAME sf0.1 data depending on JIT profile
    state.  Exploded, the hashes sit in whole-stage codegen and the
    aggregation partial-combines map-side, so the exchange carries one
    num_hashes×8-byte row per doc per partition — deterministic.

    The md5 family uses Kirsch-Mitzenmacher double hashing: ONE md5
    per shingle yields two independent 60-bit halves (hex chars 1-15
    and 17-31) and h_k = (h1 + k·(h2 mod 2⁵⁸)) mod 2⁵⁹ — 16× less
    hashing than md5-per-hash-function, overflow-free in signed 64
    bits BEFORE the mask (max ≈ 5.5e18 < 2⁶³), and trivially
    reproducible in any engine (the oracle computes the same
    arithmetic in DuckDB SQL).  The 2⁵⁹ wrap is load-bearing — see the
    inline comment at the mask.
    explode_outer + null-guard keeps empty-shingle docs in the output
    with NULL signatures, exactly like array_min over an empty array.
    """
    sh = _shingled(docs, id_col, text_col, shingle_n)
    ex = sh.select("doc_id", F.explode_outer("shingles").alias("sh"))
    hexd = F.md5(F.col("sh").cast("binary"))
    h1 = F.conv(F.substring(hexd, 1, 15), 16, 10).cast("bigint")
    h2 = F.pmod(
        F.conv(F.substring(hexd, 17, 15), 16, 10).cast("bigint"),
        F.lit(2**58),
    )
    base = ex.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    # mask to 59 bits: WITHOUT the wrap, k*h2 dominates h1 for
    # large k and every component's argmin collapses onto the
    # min-h2 shingle — components correlate, and a J≈0.95 pair can
    # agree on 0/16 components when its one differing shingle holds
    # the min h2 (measured 4.2% of planted pairs below 8/16; zero
    # after the mask).  Overflow-free: h1 < 2^60, k*h2 < 15*2^58,
    # sum < 2^63 — identical wrap-free arithmetic in any engine.
    # one F.expr per hash column (not ~6 Column ops each): a py4j
    # round trip is ~1.7 ms, so the per-op spelling cost ~0.2 s of
    # driver time per construction; the parsed tree is the same
    # integer-exact arithmetic (guide §7.3)
    mask = (1 << 59) - 1
    hashed = base.select(
        "doc_id",
        *[
            F.expr(f"(h1 + {k} * h2) & {mask} AS h_{k}")
            for k in range(num_hashes)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.expr(f"min(h_{k}) AS mh_{k}") for k in range(num_hashes)]
    )


def _banded(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, band_hash) rows: all bands in ONE pass (a union of
    per-band selects would re-evaluate the signature subplan once per
    band — bands× the minhash work); xxhash64 mixes the band's
    signature values directly, no string concat.  band_hash equality ⇔
    signature-row equality modulo a 64-bit collision, which only ever
    ADDS a candidate that exact verification then rejects."""
    rows = num_hashes // bands
    # ONE parsed expression for the whole band array (vs ~6 py4j calls
    # per band): same named_struct/xxhash64 tree, one round trip
    band_structs = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band', {b}, 'band_hash', xxhash64({b}, "
            + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
            + "))"
            for b in range(bands)
        )
        + ")"
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("bh")).select(
        "doc_id",
        F.col("bh.band").alias("band"),
        F.col("bh.band_hash").alias("band_hash"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup pairs with exact-Jaccard verification.

    banding: rows_per_band = num_hashes/bands; docs agreeing on ALL rows
    of any band become candidates (equi-join on (band, band_hash) —
    partitionable, linear in candidates).  Candidates are then verified
    with exact Jaccard so no false positives remain; false negatives are
    the standard LSH S-curve tail.  This is THE 100 TB near-dup plan:
    signatures are map-only, the only shuffle keys are band buckets.

    ``max_bucket`` caps the per-bucket fan-out: a bucket of b docs
    emits b(b-1)/2 candidate pairs, so one degenerate band value (all
    boilerplate/empty docs hashing alike) turns the candidate join
    quadratic.  Oversized buckets are dropped — recall-only loss on
    degenerate mass, false-positive profile unchanged (verification is
    exact either way); with ``max_bucket`` ≥ the largest bucket the
    result is identical (pinned in tests/test_similarity.py).
    """
    rows = num_hashes // bands
    # band bucketing stays xxhash64 over the md5 signatures: bucket ids
    # never leave the plan, and bucket equality is signature-row
    # equality regardless of how rows were hashed
    sigs = minhash_signatures(docs, id_col, text_col, shingle_n, num_hashes)
    banded = _banded(sigs, num_hashes, bands)
    # candidate pairs via posting lists (groupBy bucket -> ordered pairs):
    # one evaluation of the banding subplan and one shuffle — a self-join
    # would re-evaluate the whole signature pipeline per branch
    # NOT _pinned: band buckets are max_bucket-capped and the banded
    # stream is num_hashes/bands-fold SMALLER than a shingle stream, so
    # the candidate explosion is light; pinning here was measured a
    # 0.75x/0.81x regression on q_dedup_ladder / q_corpus_curate (their
    # LSH rungs run on already-reduced survivor sets where 32 pinned
    # tasks are pure scheduling overhead), while AQE's byte-sized
    # coalesce was already adequate (q_dedup_minhash_lsh 1.04x, noise)
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ds") <= max_bucket)
    candidates = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(ds, (x, i) ->"
                        " transform(slice(ds, i+2, size(ds)), y -> struct(x as i, y as j)))"
                    )
                )
            ).alias("p")
        )
        .select("p.i", "p.j")
        .distinct()
        # materialize the SMALL pair list once (lifetime = this query;
        # the RDD is cleaner-released when the frame is dropped) so the
        # three consumers below don't re-run the signature+banding
        # pipeline per branch
        .localCheckpoint()
    )
    # exact-Jaccard verification joins the shingle sets back twice —
    # but only CANDIDATE docs need re-shingling: semi-join the corpus
    # down to ids that appear in some candidate pair first.  Verify
    # cost then scales with the candidate set, not the corpus (at
    # 100 TB re-tokenizing everything twice is the bottleneck; locally
    # it also keeps the interpreted zip_with shingle path off the hot
    # path — measured 4-18s -> ~2s run-to-run on the LSH query).
    cand_ids = (
        candidates.select(F.col("i").alias("cid"))
        .union(candidates.select(F.col("j").alias("cid")))
        .distinct()
    )
    cand_docs = docs.join(
        cand_ids, F.col(id_col) == F.col("cid"), "left_semi"
    )
    sh = _shingled(cand_docs, id_col, text_col, shingle_n)
    ci = candidates.join(sh.withColumnRenamed("doc_id", "i").withColumnRenamed("shingles", "sh_i"), "i")
    cij = ci.join(sh.withColumnRenamed("doc_id", "j").withColumnRenamed("shingles", "sh_j"), "j")
    verified = cij.withColumn(
        "jaccard",
        F.round(
            F.size(F.array_intersect("sh_i", "sh_j"))
            / F.size(F.array_union("sh_i", "sh_j")),
            6,
        ),
    )
    return verified.filter(F.col("jaccard") >= threshold).select("i", "j", "jaccard")


def minhash_lsh_incremental(
    new_docs: DataFrame,
    hist_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental near-dup dedup: per-NEW-doc verdicts against the
    historical corpus AND earlier docs of the same batch — the
    production ingest shape (q_dedup_incremental's exact-digest
    anti-join, lifted to Jaccard similarity).

    Scale shape: the HISTORICAL side contributes only its (band,
    band_hash) index rows — precomputed once and reused across batches
    in a real deployment — and candidates come from (a) an equi-join of
    the new batch's band rows against that index and (b) posting-list
    pairs WITHIN the new batch.  History×history pairs are never
    enumerated, so per-batch cost scales with the batch and the hit
    rate, not the corpus.  Verification re-shingles only candidate
    docs (semi-joined from both sides), exactly like minhash_lsh_pairs.

    Output: one row per new doc — (doc_id, is_dup, dup_of, jaccard)
    with dup_of = min qualifying partner id and jaccard = max
    qualifying similarity (independent aggregates, deterministic; they
    may come from different partners).
    """
    sig_new = minhash_signatures(new_docs, id_col, text_col, shingle_n, num_hashes)
    sig_hist = minhash_signatures(hist_docs, id_col, text_col, shingle_n, num_hashes)
    b_new = _banded(sig_new, num_hashes, bands)
    b_hist = _banded(sig_hist, num_hashes, bands)
    if max_bucket is not None:
        # cap the HISTORY side of the index too: a degenerate band value
        # (boilerplate/empty docs hashing alike) otherwise fans out
        # hist_bucket × new_bucket candidate rows — the same quadratic
        # hazard max_bucket exists for, from the other direction.  Same
        # contract: recall-only loss on degenerate mass, false-positive
        # profile unchanged (verification is exact either way).
        hist_ok = (
            b_hist.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= max_bucket)
            .select("band", "band_hash")
        )
        b_hist = b_hist.join(hist_ok, ["band", "band_hash"], "left_semi")
    cross = (
        b_new.join(
            b_hist.withColumnRenamed("doc_id", "i"), ["band", "band_hash"]
        )
        .select(F.col("i"), F.col("doc_id").alias("j"))
    )
    buckets = (
        b_new.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ds") <= max_bucket)
    within = buckets.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(ds, (x, i) ->"
                    " transform(slice(ds, i+2, size(ds)), y -> struct(x as i, y as j)))"
                )
            )
        ).alias("p")
    ).select("p.i", "p.j")
    candidates = cross.union(within).distinct().localCheckpoint()

    cand_i = candidates.select(F.col("i").alias("cid"))
    cand_j = candidates.select(F.col("j").alias("cid"))
    all_docs = hist_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).unionAll(
        new_docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )
    cand_docs = all_docs.join(
        cand_i.union(cand_j).distinct(),
        F.col("doc_id") == F.col("cid"),
        "left_semi",
    )
    sh = _shingled(cand_docs, "doc_id", "text", shingle_n)
    ci = candidates.join(
        sh.withColumnRenamed("doc_id", "i").withColumnRenamed("shingles", "sh_i"),
        "i",
    )
    cij = ci.join(
        sh.withColumnRenamed("doc_id", "j").withColumnRenamed("shingles", "sh_j"),
        "j",
    )
    hits = (
        cij.withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_i", "sh_j"))
                / F.size(F.array_union("sh_i", "sh_j")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .groupBy("j")
        .agg(F.min("i").alias("dup_of"), F.max("jaccard").alias("jaccard"))
    )
    return (
        new_docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, F.col("doc_id") == F.col("j"), "left")
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
            "jaccard",
        )
    )


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """SimHash per doc: per-bit majority vote of token hashes, packed
    into one BIGINT.

    Plan shape: explode(tokens) -> 64 columnar conditional SUMs with
    map-side partial aggregation -> pack.  Measured ~5x faster than a
    per-row aggregate() fold (the fold allocates a 64-wide array per
    token per row; the explode keeps everything in whole-stage codegen
    with flat ints).  Shuffle volume: one row of 64 ints per doc.
    """
    ex = spread(docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))).select(
        "doc_id", F.explode(TXT.tokenize(F.col(text_col))).alias("tok")
    ).withColumn(
        # md5-derived 60-bit family: reproduces in any engine (oracle parity)
        "h", TXT.hash64(F.col("tok"))
    )
    # one F.expr per aggregate / ONE for the 64-term pack: the per-op
    # Column API costs a ~1.7 ms py4j round trip per node (~840 calls
    # here ≈ 1.5 s of driver time PER CONSTRUCTION); the parsed SQL is
    # the same integer-exact expression tree (guide §7.3)
    aggs = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1"
            f" THEN 1 ELSE -1 END) AS v{i}"
        )
        for i in range(bits)
    ]
    votes = ex.groupBy("doc_id").agg(*aggs)
    packed = F.expr(
        " | ".join(
            ["CAST(0 AS BIGINT)"]
            + [
                f"(CASE WHEN v{i} > 0"
                f" THEN CAST({1 << i if i < 63 else -(1 << 63)} AS BIGINT)"
                f" ELSE CAST(0 AS BIGINT) END)"
                for i in range(bits)
            ]
        )
    )
    return votes.select("doc_id", packed.alias("sh"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: hamming(simhash_i, simhash_j) <= d.

    Pigeonhole candidate generation: split the 64-bit hash into
    ``max_hamming + 1`` chunks — a pair within hamming<=d differs in at
    most d chunks, so it agrees EXACTLY on >=1 of the d+1 chunks; an
    equi-join per chunk therefore finds ALL such pairs (full recall for
    ANY ``max_hamming`` in [0, 63] — a fixed chunk count would silently
    lose pairs differing in every chunk), then popcount(XOR) filters
    exactly.  Candidate joins are equi-joins on (chunk_idx, chunk_val)
    — partitionable.  Wider ``max_hamming`` means narrower chunks and
    more chance collisions per chunk — the usual pigeonhole cost trade.
    """
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    n_chunks = max_hamming + 1
    base_w, rem = divmod(64, n_chunks)
    widths = [base_w + 1 if c < rem else base_w for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]

    def _chunk(c: int) -> Column:
        shifted = F.shiftright(F.col("sh"), offsets[c])
        if widths[c] >= 64:
            return shifted  # single-chunk case: the whole hash
        return shifted.bitwiseAND(F.lit((1 << widths[c]) - 1))

    hashed = simhash_signatures(docs, id_col, text_col)
    chunks = hashed.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        _chunk(c).alias("chunk_val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "sh", "ch.chunk_idx", "ch.chunk_val")
    # candidate pairs via posting lists (groupBy chunk bucket → ordered
    # pairs): ONE evaluation of the signature subplan and one shuffle.
    # The previous self-join re-ran the whole explode+64-sum signature
    # pipeline per branch — measured ~1.8x slower at 5k docs.  The
    # 64-bit signature rides along in the bucket struct so the exact
    # hamming verify needs no join back.
    buckets = (
        chunks.groupBy("chunk_idx", "chunk_val")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sh"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if max_bucket is not None:
        # a degenerate chunk value (e.g. the zero chunk every empty doc
        # shares) fans out b(b-1)/2 — cap it like minhash_lsh_pairs;
        # recall-only on degenerate mass, hamming verify unchanged
        buckets = buckets.filter(F.size("ds") <= max_bucket)
    cand = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(ds, (x, i) ->"
                        " transform(slice(ds, i+2, size(ds)), y ->"
                        " struct(x.doc_id as i, y.doc_id as j,"
                        " x.sh as sh_i, y.sh as sh_j)))"
                    )
                )
            ).alias("p")
        )
        .select("p.i", "p.j", "p.sh_i", "p.sh_j")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_i").bitwiseXOR(F.col("sh_j"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("i", "j", "hamming")
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
) -> DataFrame:
    """Brute-force cosine top-k: every query scored against every item.

    The baseline ANN oracle.  Joined via broadcast of the (small) query
    set — the item side streams through map-side scoring + per-query
    top-k (window rank), so the big table is read once, never shuffled
    except the final k rows per query.  100 TB path: see ivf_topk.
    """
    scored = embeddings.join(F.broadcast(queries)).select(
        F.col(query_id_col).alias("q_id"),
        F.col(id_col).alias("item_id"),
        F.round(
            VEC.cosine(VEC.as_double(F.col(vec_col)), VEC.as_double(F.col(query_vec_col))),
            6,
        ).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", "item_id", "cos_sim", "rank")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    partition_col: str = "label",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF-style ANN: centroids per partition (here the given ``label``
    plays the coarse-quantizer cell), each query probes its ``nprobe``
    nearest centroids, exact scoring only inside probed cells.

    Scale shape: centroids are tiny (broadcast); the big table is
    pre-partitioned by cell, and each query touches nprobe/ncells of
    the data — the standard 10-100x scan reduction, with recall traded
    via nprobe.
    """
    # centroid = element-wise mean, computed by posexplode + per-dim avg
    # (shuffles n_rows x dim scalar rows with map-side partial agg —
    # scalable, unlike collecting whole vectors per group).  The mean
    # is DECIMAL-routed (dsum convention) so the centroid — and hence
    # which cells each query probes — is identical across partition
    # orders and engines: a reproducible index, not a float race.
    centroids = (
        embeddings.select(partition_col, F.posexplode(VEC.as_double(F.col(vec_col))))
        .groupBy(partition_col, "pos")
        .agg(
            (
                F.sum(F.col("col").cast("decimal(30,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .groupBy(partition_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x.m
            ).alias("centroid")
        )
    )
    probes = (
        queries.join(F.broadcast(centroids))
        .select(
            query_id_col,
            query_vec_col,
            partition_col,
            VEC.cosine(VEC.as_double(F.col(query_vec_col)), F.col("centroid")).alias(
                "c_sim"
            ),
        )
        .withColumn(
            "c_rank",
            F.row_number().over(
                W.partitionBy(query_id_col).orderBy(
                    F.col("c_sim").desc(), F.col(partition_col)
                )
            ),
        )
        .filter(F.col("c_rank") <= nprobe)
        .select(query_id_col, query_vec_col, partition_col)
    )
    scored = embeddings.join(F.broadcast(probes), on=partition_col).select(
        F.col(query_id_col).alias("q_id"),
        F.col(id_col).alias("item_id"),
        F.round(
            VEC.cosine(VEC.as_double(F.col(vec_col)), VEC.as_double(F.col(query_vec_col))),
            6,
        ).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", "item_id", "cos_sim", "rank")
    )


def cosine_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_block: int = 100_000,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs: cos(a,b) >= threshold.

    Brute-force all-pairs — the ground truth the RP-LSH path
    approximates; quadratic compute by definition (it exists to
    calibrate rp_lsh_pairs), but the PLAN is fully distributed: no
    collect, no broadcast of the table.

    Physical strategy — block-decomposed matmul, the standard
    distributed dense-GEMM tiling: each vector gets a hash block id in
    [0, B); the B*(B+1)/2 unordered block pairs form a tiny broadcast
    dimension; both sides equi-join on their block column and cogroup
    on (ba, bb), so each state group holds two ~rows_per_block tiles
    scored with one BLAS matmul.  Every unordered vector pair lands in
    exactly one group (block assignment is a function of id), executor
    memory is bounded by 2 tiles regardless of table size, and the
    quadratic work spreads over B^2/2 independent tasks.  Choose
    rows_per_block so a tile (rows x dim x 8 B) fits comfortably in an
    executor — the quadratic COST still rules out full-table runs at
    100 TB; this shape exists so exact calibration on a sampled slice
    runs distributed instead of through the driver.
    """
    spark = embeddings.sparkSession
    if n_blocks is None:
        n = embeddings.count()
        n_blocks = max(1, -(-n // rows_per_block))
    nb = int(n_blocks)
    margin = threshold - 1e-6  # prefilter; exact rounded filter below

    base = embeddings.select(
        F.col(id_col).alias("vid"), VEC.as_double(F.col(vec_col)).alias("v")
    )
    blocked = base.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("vid")), F.lit(nb)).cast("int")
    )
    block_pairs = spark.createDataFrame(
        [(a, b) for a in range(nb) for b in range(a, nb)], "ba int, bb int"
    )
    lhs = blocked.join(
        F.broadcast(block_pairs), blocked["blk"] == block_pairs["ba"]
    ).select("ba", "bb", "vid", "v")
    # disjoint column names on the right side: both tiles descend from
    # the same plan, and identical attribute ids would make the cogroup
    # an ambiguous self-join
    rhs = blocked.join(
        F.broadcast(block_pairs), blocked["blk"] == block_pairs["bb"]
    ).select(
        F.col("ba").alias("rba"),
        F.col("bb").alias("rbb"),
        F.col("vid").alias("rvid"),
        F.col("v").alias("rv"),
    )

    def kernel(key: tuple, l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"i": [], "j": [], "cos_sim": []}).astype(
            {"i": "int64", "j": "int64", "cos_sim": "float64"}
        )
        if len(l) == 0 or len(r) == 0:
            return empty
        ids_a = l["vid"].to_numpy(dtype=np.int64)
        ids_b = r["rvid"].to_numpy(dtype=np.int64)
        a = np.stack([np.asarray(v, dtype=np.float64) for v in l["v"]])
        b = np.stack([np.asarray(v, dtype=np.float64) for v in r["rv"]])
        sims = (a @ b.T) / (
            np.linalg.norm(a, axis=1)[:, None] * np.linalg.norm(b, axis=1)[None, :]
        )
        # same-block tiles hold identical vector sets: keep i<j once;
        # cross-block pairs are unique already — orient them i<j
        mask = sims >= margin
        mask &= ids_a[:, None] < ids_b[None, :]
        if key[0] != key[1]:
            swapped = (sims >= margin) & (ids_a[:, None] > ids_b[None, :])
            ii, jj = np.nonzero(swapped)
            mask_i, mask_j = np.nonzero(mask)
            i_out = np.concatenate([ids_a[mask_i], ids_b[jj]])
            j_out = np.concatenate([ids_b[mask_j], ids_a[ii]])
            c_out = np.concatenate([sims[mask_i, mask_j], sims[ii, jj]])
        else:
            mask_i, mask_j = np.nonzero(mask)
            i_out, j_out, c_out = ids_a[mask_i], ids_b[mask_j], sims[mask_i, mask_j]
        return pd.DataFrame(
            {"i": i_out, "j": j_out, "cos_sim": np.round(c_out, 6)}
        )

    out = (
        lhs.groupby("ba", "bb")
        .cogroup(rhs.groupby("rba", "rbb"))
        .applyInPandas(kernel, "i long, j long, cos_sim double")
    )
    return out.filter(F.col("cos_sim") >= threshold)


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (fixed seed —
    the reference pinned its hash seed for the same reproducibility,
    Deduplicator.java:27-28)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return [[float(x) for x in rng.randn(dim)] for _ in range(n_planes)]


def rp_lsh_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 60,
    bands: int = 10,
    max_bucket: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs with exact verification —
    the LINEAR-scale path for embedding near-dup (SimHash for vectors:
    Charikar, STOC 2002).

    sign(v·h_p) gives one bit per plane; planes are split into bands
    and vectors agreeing on ALL bits of any band become candidates
    (equi-join on (band, band_bits) via posting lists — the identical
    shuffle shape as minhash_lsh_pairs). Exact cosine then removes all
    false positives.  Collision probability per plane is 1 - θ/π, so
    recall is tunable with (n_planes, bands) per the LSH S-curve.

    Default banding is 10 bands x 6 rows: vs the old 8x4, a random pair
    (bit-agree p=0.5) collides in some band with prob 14.5% instead of
    40% (2.75x fewer junk candidates — the dominant cost at weak
    thresholds), while a 0.8-cosine pair (p=0.795) still collides at
    0.946.  ``max_bucket`` drops degenerate buckets (e.g. zero vectors
    all agreeing everywhere) whose b²/2 fan-out would dominate;
    recall-only, exact-verify unchanged.

    Verification strategy — verify INSIDE the bucket, not per pair:
    vectors ride along into the bucket groupBy (``bands`` copies of
    each vector through one shuffle) and each bucket is scored with a
    single BLAS gram matrix.  The previous shape (posting-list pair
    expansion → two vector joins → per-pair einsum) shipped BOTH full
    vectors per CANDIDATE PAIR through Arrow — at weak thresholds
    candidates ≈ 150x the vector count, i.e. ~30x the bytes of the
    bucket-carry (measured 8x wall-clock on 2k x 64 at θ=0.45).  A
    pair found in k bands is scored k times (cheap — the gram matrix
    is already paid for) and deduped by max; dedup input is only pairs
    ABOVE threshold, not the candidate set.
    """
    rows = n_planes // bands
    planes = _hyperplanes(n_planes, dim)
    # deliberately NOT spread(): banding is ONE small BLAS matmul per
    # Arrow batch — at lake scale the parquet scan already yields many
    # splits, and at replay scale forcing defaultParallelism partitions
    # just spawns (and cold-starts) one Python worker per partition for
    # microseconds of math (measured: 32-way spread costs ~2.5s of
    # worker spawn at 2k vectors vs ~0 compute).  Real parallelism
    # enters at the bucket shuffle below, where the heavy work is.
    vecd = embeddings.select(
        F.col(id_col).alias("vid"), VEC.as_double(F.col(vec_col)).alias("v")
    )
    # All n_planes sign bits in ONE BLAS matmul per Arrow batch, packed
    # into one int per band.  The previous pure-column formulation ran
    # n_planes separate zip_with+aggregate folds per row (each
    # materializes an intermediate array) — measured 5x slower at
    # 2k x 64.  Map-only: no shuffle until the bucket groupBy below.
    from pyspark.sql.pandas.functions import pandas_udf

    plane_t = np.array(planes, dtype=np.float64).T  # dim x n_planes
    weights = np.array([1 << r for r in range(rows)], dtype=np.int64)

    @pandas_udf("array<long>")
    def band_values(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        bits = (mat @ plane_t) >= 0  # n x n_planes
        packed = [
            bits[:, b * rows : (b + 1) * rows].astype(np.int64) @ weights
            for b in range(bands)
        ]  # bands arrays of n
        stacked = np.stack(packed, axis=1)  # n x bands
        return pd.Series(list(stacked))

    banded = vecd.select(
        "vid", "v", F.posexplode(band_values(F.col("v"))).alias("band", "band_bits")
    )
    margin = threshold - 1e-6

    def verify_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"i": [], "j": [], "cos_sim": []}).astype(
            {"i": "int64", "j": "int64", "cos_sim": "float64"}
        )
        n = len(pdf)
        if n < 2 or (max_bucket is not None and n > max_bucket):
            return empty
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        mat /= np.linalg.norm(mat, axis=1)[:, None]
        sims = mat @ mat.T
        ii, jj = np.nonzero(np.triu(sims >= margin, k=1))
        if len(ii) == 0:
            return empty
        i_ids, j_ids = ids[ii], ids[jj]
        lo = np.minimum(i_ids, j_ids)
        hi = np.maximum(i_ids, j_ids)
        return pd.DataFrame(
            {"i": lo, "j": hi, "cos_sim": np.round(sims[ii, jj], 6)}
        )

    scored = banded.groupBy("band", "band_bits").applyInPandas(
        verify_bucket, "i long, j long, cos_sim double"
    )
    # a pair can surface from several bands; max over float-identical
    # recomputations is the deterministic dedup
    return (
        scored.groupBy("i", "j")
        .agg(F.max("cos_sim").alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
