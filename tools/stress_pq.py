"""Scale stress for PQ ANN (operators/pq.py, q_embed_ann_pq's engine):
1M synthetic clustered embeddings (same generator discipline as
stress_ann), planted ground truth — every query is an exact copy of an
indexed item, so the TRUE nearest neighbor is known and has distance 0.

The evidence this produces:
* end-to-end PQ recall@1 with the deployed shortlist+re-rank shape
  (finely clustered data, ~15 items per cluster — the regime PQ is
  built for: the joint 32^8-cell code grid resolves distinct clusters
  to distinct codes, and the within-code tie class stays SMALLER than
  the 50-item shortlist, so the exact re-rank always sees the planted
  item.  The bench table's near-isotropic vectors are the opposite
  regime — documented shortlist recall ~0.6.  With COARSE clusters the
  planted item hides among ~1500 identical-code ties and recall@1
  drops to ~0.2: codes cannot rank inside one quantization cell —
  measured, and exactly why shortlist size must exceed the expected
  tie-class size in deployment);
* codes are ~60x smaller than the vectors (8 int codes vs 64 floats);
* throughput: codebook build + encode + ADC + re-rank wall time, with
  raw vectors read twice and shuffled never.

Usage: python tools/stress_pq.py [n_vecs] [n_queries]
       (defaults 1_000_000  100)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    nq = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    dim, cells = 64, 65536
    from transitdata_hfp_deduplicator_spark.operators.pq import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
        pq_rerank_topk,
        sub_vectors,
    )
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark("stress-pq")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            F.pmod(F.xxhash64(F.col("label"), i), F.lit(1000)).cast("double") / 500.0
            - 1.0
            + (
                F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(100)).cast("double")
                / 2000.0
            )
        ).cast("float"),
    )
    emb = (
        spark.range(0, n, 1, 64)
        .select(
            F.col("id").alias("vec_id"),
            F.pmod(F.xxhash64("id"), F.lit(cells)).cast("int").alias("label"),
        )
        .select("vec_id", "label", vec.alias("embedding"))
    )
    emb.write.format("noop").mode("overwrite").save()  # warm

    step = max(1, n // nq)
    t0 = time.time()
    # persist the subspace view: the synthetic generator computes 64
    # xxhash64 per vector, and codebook build + encode + query LUT all
    # re-derive from it otherwise
    sub = sub_vectors(emb, subspaces=8, sub_dim=8).persist()
    books = pq_codebooks(sub, k=32).persist()
    n_codewords = books.count()
    t_books = time.time() - t0

    t0 = time.time()
    codes = pq_encode(sub, books, sub_dim=8).persist()
    n_codes = codes.count()
    t_encode = time.time() - t0

    qsub = sub.filter(F.col("vid") % step == 0)
    t0 = time.time()
    # persist the shortlist: the re-rank broadcast and the recall count
    # would otherwise both re-run the full ADC scan
    short = pq_adc_topk(
        codes, qsub, books, k=50, sub_dim=8, subspaces=8
    ).persist()
    short.count()
    rr = pq_rerank_topk(
        short, emb, query_filter=F.col("vec_id") % step == 0, k=1
    )
    hits = rr.filter(F.col("q_id") == F.col("item_id")).count()
    total = emb.filter(F.col("vec_id") % step == 0).count()
    t_query = time.time() - t0

    out = {
        "n_vecs": n,
        "n_queries": total,
        "n_codewords": n_codewords,
        "codes_rows": n_codes,
        "codebook_sec": round(t_books, 1),
        "encode_sec": round(t_encode, 1),
        "encode_vecs_per_sec": int(n / t_encode),
        "query_sec": round(t_query, 1),
        "recall_at_1": f"{hits}/{total}",
    }
    print(json.dumps(out))
    assert hits == total, "planted exact-copy query missed its item"


if __name__ == "__main__":
    main()
