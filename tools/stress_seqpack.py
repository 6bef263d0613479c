"""Scale stress for the sharded sequence-packing prefix sum: a planted
multi-language corpus with CLOSED-FORM packing truth, run through
``sharded_prefix_sum`` far beyond the bench SF.

This is the stage VERDICT r7 flagged as the one remaining single-task
funnel in a headline plan (the per-language running-sum window inside
q_seq_pack / q_corpus_curate).  The sharded two-pass form replaces it;
this stress proves the replacement at scale:

* correctness is exact and closed-form: doc i within its language gets
  weight ``w0 + (i % m)``, so its exclusive prefix sum is
  ``q*S + r*w0 + r(r-1)/2`` with q, r = divmod(i, m) and
  S = m*w0 + m(m-1)/2 — verified for EVERY row via one distributed
  comparison (no driver-side truth table),
* the skew shape is the 100 TB one: a handful of languages (default 8)
  over tens of millions of rows — the naive ``partitionBy(lang)``
  window would funnel N/8 rows through each of 8 task sorts; the
  sharded form's largest sort is N/(8*shards),
* wall time scales ~linearly in N (two narrow shuffles, one broadcast
  of a langs*shards offsets table).

Usage: python tools/stress_seqpack.py [n_rows] [n_langs] [shards]
       (default 50_000_000 rows, 8 languages, 64 shards)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000_000
    n_langs = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    shards = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    w0, m = 7, 1000  # weight cycle: doc i -> w0 + (i % m)

    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        sharded_prefix_sum,
    )
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark("stress-seqpack")

    # doc_id = global id; language = id % n_langs; within-language index
    # i = id div n_langs — dense per language, so the closed form below
    # is exact.  Weights cycle with period m.
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("lang"), (F.col("id") % n_langs).cast("string")).alias(
            "lang"
        ),
        (F.lit(w0) + (F.col("id") / n_langs).cast("long") % m).alias("n_tok"),
    )

    t0 = time.perf_counter()
    pre = sharded_prefix_sum(
        docs, "doc_id", "n_tok", part_cols=("lang",), shards=shards
    )
    # closed-form exclusive prefix for within-language index i:
    # full cycles q = i div m contribute q * S; the partial cycle r =
    # i mod m contributes r*w0 + r(r-1)/2.
    s_cycle = m * w0 + m * (m - 1) // 2
    i = F.expr(f"doc_id div {n_langs}")
    q, r = F.expr(f"(doc_id div {n_langs}) div {m}"), i % m
    want = q * s_cycle + r * w0 + (r * (r - 1)) / 2
    bad = pre.filter(F.col("prior") != want.cast("long")).count()
    dt = time.perf_counter() - t0
    total = n
    print(
        f"rows={total:,} langs={n_langs} shards={shards} "
        f"mismatches={bad} wall={dt:.1f}s rate={total / dt / 1e6:.1f}M rows/s"
    )
    assert bad == 0, f"{bad} prefix-sum mismatches"
    print("PASS")


if __name__ == "__main__":
    main()
