"""Scale stress for the Bloom build/probe operator (operators/bloom.py,
q_decontaminate_bloom's engine): a production-sized filter — 2^27 bits
(16 MB, the broadcast-is-cheap regime) built from 10M inserted hashes,
probed with 50M rows of which 2% are genuine members.

The evidence this produces:
* zero false negatives at scale (every planted member probes positive);
* observed FP rate vs the analytic (1 - e^{-kn/m})^k bound — the md5
  Kirsch-Mitzenmacher family behaves like the ideal hash family it
  replaces for engine-reproducibility;
* build and probe throughput: the build shuffle is bounded by
  words x partitions regardless of insert count (map-side bit_or), and
  the probe is 3 broadcast hash probes per row.

Usage: python tools/stress_bloom.py [n_inserts] [n_probes]
       (defaults 10_000_000  50_000_000)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

M_BITS = 1 << 27  # 16 MB bitmap
K = 3


def main() -> None:
    n_ins = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_probe = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000_000
    from transitdata_hfp_deduplicator_spark.operators.bloom import (
        bloom_build,
        bloom_member,
    )
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark("stress-bloom")

    # inserted hashes: a 60-bit-ish multiplicative sequence (positive)
    ins = spark.range(0, n_ins, 1, 32).select(
        (F.col("id") * F.lit(1_000_003) + F.lit(17)).alias("hv")
    )
    t0 = time.time()
    bloom = bloom_build(ins, m_bits=M_BITS, k=K).persist()
    n_words = bloom.count()
    t_build = time.time() - t0

    # probes: every 50th row is a planted member, the rest are from a
    # disjoint sequence (different multiplier, offset past any overlap)
    probes = spark.range(0, n_probe, 1, 64).select(
        F.col("id").alias("pid"),
        F.when(
            F.col("id") % 50 == 0, (F.col("id") % n_ins) * 1_000_003 + 17
        )
        .otherwise(F.col("id") * F.lit(999_983) + F.lit(7) + F.lit(2**45))
        .alias("hv"),
        (F.col("id") % 50 == 0).alias("planted"),
    )
    t0 = time.time()
    res = (
        bloom_member(probes, bloom, m_bits=M_BITS, k=K)
        .groupBy("planted", "bloom_member")
        .count()
        .collect()
    )
    t_probe = time.time() - t0
    cells = {(r.planted, r.bloom_member): r["count"] for r in res}
    fn = cells.get((True, False), 0)
    fp = cells.get((False, True), 0)
    tn_total = sum(v for (p, _), v in cells.items() if not p)
    fp_rate = fp / tn_total
    load = 1.0 - math.exp(-K * n_ins / M_BITS)
    analytic = load**K
    out = {
        "m_bits": M_BITS,
        "k": K,
        "n_inserts": n_ins,
        "n_probes": n_probe,
        "n_words": n_words,
        "build_sec": round(t_build, 2),
        "probe_sec": round(t_probe, 2),
        "probe_rows_per_sec": int(n_probe / t_probe),
        "false_negatives": fn,
        "fp_rate": round(fp_rate, 6),
        "fp_rate_analytic": round(analytic, 6),
    }
    print(json.dumps(out))
    assert fn == 0, "BLOOM FALSE NEGATIVE — impossible by construction"
    assert fp_rate < 3 * analytic + 1e-4, "FP rate far above analytic bound"


if __name__ == "__main__":
    main()
