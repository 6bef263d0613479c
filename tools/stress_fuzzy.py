"""Scale stress for edit-distance-1 fuzzy dedup (q_dedup_fuzzy's
FastSS pipeline, Bocek et al. 2007): a synthetic corpus of random
20-char keys where every 10th document is its predecessor's key with
ONE character deleted at a hash-derived position — run at ~17x the
bench corpus — planted recall, extras, and throughput.

The evidence this produces: deletion-neighborhood candidacy is
DETERMINISTIC, not probabilistic — a key and its single-deletion twin
always share the deleted form as a variant (the twin's identity
variant is a member of the original's deletion set), so planted
recall must be exactly 100%; there is no analytic miss budget to
spend.  Random unrelated keys (26^20 space) share variants with
probability ~0, so extras should be 0 and the hot-variant cap
(variants shared by > 100 docs, dropped through the same size-gated
broadcast anti-join as the query) should never bite.  Candidacy is an
equi-join on deletion variants — <= 21 variant rows per doc, one
variant-keyed exchange, never corpus-quadratic — and the Levenshtein
verify touches candidate pairs only.

Usage: python tools/stress_fuzzy.py [n_docs]   (default 1_000_000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

KEY_LEN = 20
HOT_CAP = 100  # same degenerate-bucket cap as q_dedup_fuzzy


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    from transitdata_hfp_deduplicator_spark.queries import (
        _FUZZY_BROADCAST_MAX_VARIANTS,
        _broadcast_if_small,
    )
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark("stress-fuzzy")
    t0 = time.time()

    # every 10th doc copies its predecessor's key with one char deleted
    base = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 9, F.col("id") - 1)
        .otherwise(F.col("id"))
        .alias("family"),
        (F.col("id") % 10 == 9).alias("is_twin"),
    )
    full_key = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(KEY_LEN)),
            lambda i: F.char(
                F.pmod(F.xxhash64(F.col("family"), i), F.lit(26)) + 97
            ),
        ),
        "",
    )
    del_pos = F.pmod(F.xxhash64(F.col("family"), F.lit("del")), F.lit(KEY_LEN)) + 1
    twin_key = F.concat(
        full_key.substr(F.lit(1), (del_pos - 1).cast("int")),
        full_key.substr((del_pos + 1).cast("int"), F.lit(KEY_LEN)),
    )
    keyed = base.select(
        "doc_id",
        "family",
        F.when(F.col("is_twin"), twin_key).otherwise(full_key).alias("key"),
    )

    # FastSS index: identity variant + all single-char deletions
    dels = F.transform(
        F.sequence(F.lit(1), F.length(F.col("key"))),
        lambda i: F.concat(
            F.col("key").substr(F.lit(1), (i - 1).cast("int")),
            F.col("key").substr((i + 1).cast("int"), F.lit(KEY_LEN)),
        ),
    )
    dvars = keyed.select(
        "doc_id",
        "key",
        F.explode(
            F.array_distinct(F.concat(F.array(F.col("key")), dels))
        ).alias("v"),
    ).localCheckpoint()
    big = (
        dvars.groupBy("v")
        .agg(F.count(F.lit(1)).alias("nb"))
        .filter(F.col("nb") > HOT_CAP)
        .select("v")
        .localCheckpoint()
    )
    a = dvars.join(
        _broadcast_if_small(big, max_rows=_FUZZY_BROADCAST_MAX_VARIANTS),
        "v",
        "left_anti",
    ).select("v", F.col("doc_id").alias("doc_a"), F.col("key").alias("ka"))
    b = dvars.select(
        "v", F.col("doc_id").alias("doc_b"), F.col("key").alias("kb")
    )
    pairs = (
        a.join(b, "v")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ka", "kb")
        .distinct()
        .filter(F.levenshtein(F.col("ka"), F.col("kb")) <= 1)
        .localCheckpoint()
    )

    planted = n // 10
    found_planted = (
        pairs.join(
            keyed.select(F.col("doc_id").alias("doc_a"), "family"), "doc_a"
        )
        .join(
            keyed.select(
                F.col("doc_id").alias("doc_b"), F.col("family").alias("fb")
            ),
            "doc_b",
        )
        .filter(F.col("family") == F.col("fb"))
        .count()
    )
    total = pairs.count()
    secs = time.time() - t0
    print(
        json.dumps(
            {
                "tool": "stress_fuzzy",
                "n_docs": n,
                "planted": planted,
                "found_planted": found_planted,
                "extras": total - found_planted,
                "recall_ok": found_planted == planted,
                "secs": round(secs, 1),
                "docs_per_sec": round(n / secs, 1),
            }
        )
    )
    assert found_planted == planted, "planted recall must be exact"
    # Precision is equally deterministic here: unrelated random keys
    # (26^20 space) can only pair through a shared deletion variant,
    # whose collision probability is ~0 at this n — so any extra pair
    # is a FastSS candidacy/verify regression, not noise.
    assert total == found_planted, f"expected 0 extras, got {total - found_planted}"


if __name__ == "__main__":
    main()
