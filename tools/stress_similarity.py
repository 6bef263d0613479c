"""Scale stress for the near-dup path: synthesize an N-doc corpus with
planted near-duplicates (pure Spark expressions, no testdata), run
MinHash signatures and the full LSH candidate+verify pipeline (the
md5 Kirsch-Mitzenmacher signature family the registry queries run), and
print throughput.

The evidence this produces: signature generation is map-only and scales
with doc count; candidate generation shuffles only band buckets; verify
cost scales with the candidate set (docs are semi-joined down first).

Usage: python tools/stress_similarity.py [n_docs]   (default 100_000)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark("stress-similarity")
    # ~40-token docs from a 1000-word vocab; every 10th doc is a copy of
    # its predecessor with one word changed => planted near-dups with
    # jaccard >> 0.5 (shingle overlap ~0.9)
    base = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        # copies mirror their immediate predecessor; everyone else is
        # their own family => exactly one planted near-dup pair per copy
        F.when(F.col("id") % 10 == 9, F.col("id") - 1)
        .otherwise(F.col("id"))
        .alias("family"),
        (F.col("id") % 10 == 9).alias("is_copy"),
    )
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("family"), i), F.lit(1000)).cast("string"),
        ),
    )
    mutated = F.when(
        F.col("is_copy"),
        F.concat(F.slice(words, 1, 39), F.array(F.lit("zmut"))),
    ).otherwise(words)
    docs = base.select(
        "doc_id", F.array_join(mutated, " ").alias("text")
    )
    docs.write.format("noop").mode("overwrite").save()  # warm the feed

    def timed(mk) -> float:
        best = None
        for _ in range(2):
            t0 = time.time()
            mk().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return best

    t_sig = timed(lambda: minhash_signatures(docs, "doc_id", "text"))
    t_lsh = timed(
        lambda: minhash_lsh_pairs(
            docs, "doc_id", "text", shingle_n=3, num_hashes=16, bands=8,
            threshold=0.5,
        )
    )
    # sanity: the planted pairs are found
    found = minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_n=3, num_hashes=16, bands=8, threshold=0.5
    ).count()
    print(
        f"docs={n} signatures={t_sig:.1f}s ({n/t_sig/1e3:.0f}k docs/s) "
        f"lsh_pairs={t_lsh:.1f}s ({n/t_lsh/1e3:.0f}k docs/s) "
        f"pairs_found={found} (planted={n//10})"
    )


if __name__ == "__main__":
    main()
