"""Scale stress for exact-substring dedup (q_dedup_substring's
pipeline): a synthetic corpus where every 10th document shares one
exact ~60-char run with its predecessor (surrounded by unrelated
words), run at 100x the bench corpus — planted recall, extras, and
throughput.

The evidence this produces: content-defined gram selection (hash%4==0
over 20-char grams) is alignment-free — the shared run sits at a
DIFFERENT character offset in each of the pair (the prefixes differ in
length), and detection must not care; a shared 60-char run carries ~41
grams, ~10 selected, P(none selected) = (3/4)^41 ≈ 8e-6, so planted
recall should be ~100%.  Extra pairs beyond the planted ones are docs
genuinely sharing a >= 20-char run (4+ consecutive vocab words by
chance) — true positives by the operator's definition, reported, not
failed.

Usage: python tools/stress_substring.py [n_docs]   (default 500_000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

K, SEL_MOD, DF_CAP = 20, 4, 20


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark("stress-substring")
    base = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 9, F.col("id") - 1)
        .otherwise(F.col("id"))
        .alias("family"),
    )

    def words(seed_col, label, count, vocab):
        return F.transform(
            F.sequence(F.lit(0), F.lit(count - 1)),
            lambda i: F.concat(
                F.lit(label),
                F.pmod(F.xxhash64(seed_col, F.lit(label), i), F.lit(vocab)).cast(
                    "string"
                ),
            ),
        )

    own = words(F.col("doc_id"), "w", 30, 1000)
    shared = words(F.col("family"), "s", 12, 1_000_000)
    text = F.array_join(
        F.concat(
            F.slice(own, 1, 15),
            shared,
            F.slice(own, 16, 15),
        ),
        " ",
    )
    docs = base.select("doc_id", text.alias("t")).localCheckpoint()
    n_chars = docs.agg(F.sum(F.length("t"))).first()[0]

    from transitdata_hfp_deduplicator_spark.operators.substring import (
        bucket_pairs,
        char_gram_postings,
        gram_buckets,
    )

    postings = char_gram_postings(docs, k=K, sel_mod=SEL_MOD)
    buckets = gram_buckets(postings, df_cap=DF_CAP)
    pairs_q = bucket_pairs(buckets).distinct()
    # steady-state protocol (as stress_dedup.py): a cold single shot
    # measures JIT/codegen compile, not the plan — measured 153s cold vs
    # ~4x less warm on the identical plan at 500k docs
    pairs_q.write.format("noop").mode("overwrite").save()  # warm
    t0 = time.time()
    pairs = pairs_q.localCheckpoint()
    n_pairs = pairs.count()
    dt = time.time() - t0

    planted_found = pairs.filter(
        (F.col("j") % 10 == 9) & (F.col("i") == F.col("j") - 1)
    ).count()
    planted = n // 10
    extras = n_pairs - planted_found
    print(
        json.dumps(
            {
                "metric": "substring_dedup",
                "n_docs": n,
                "n_chars": int(n_chars),
                "sec": round(dt, 2),
                "docs_per_sec": int(n / dt),
                "mb_chars_per_sec": round(n_chars / dt / 1e6, 1),
                "planted": planted,
                "planted_found": planted_found,
                "extra_true_shared_pairs": extras,
            }
        ),
        flush=True,
    )
    assert planted_found >= 0.9995 * planted, "planted recall floor"


if __name__ == "__main__":
    main()
