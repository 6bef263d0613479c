"""Whole-registry plan audit: count Exchange / BroadcastExchange /
EvalPython / Sort nodes in every registered query's physical plan and
print a table, outliers first — the quick way to spot an accidental
extra shuffle or a Python detour that crept into a revision.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transitdata_hfp_deduplicator_spark.plans import physical_plan
from transitdata_hfp_deduplicator_spark.queries import QUERIES
from transitdata_hfp_deduplicator_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit", cpus=8)
    rows = []
    for name, fn in QUERIES.items():
        try:
            p = physical_plan(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 - streaming-only queries
            rows.append((name, None, str(e).splitlines()[0][:60]))
            continue
        counts = {
            k: len(re.findall(rf"\(\d+\) {k}\b", p))
            for k in ("Exchange", "BroadcastExchange", "Sort", "ArrowEvalPython",
                      "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
        }
        rows.append((name, counts, None))
    ok = [(n, c) for n, c, e in rows if c is not None]
    ok.sort(key=lambda r: -(r[1]["Exchange"] + r[1]["Sort"]))
    print(f"{'query':34s} exch bcast sort pyArrow pyBatch mapPd grpPd")
    for n, c in ok:
        print(
            f"{n:34s} {c['Exchange']:4d} {c['BroadcastExchange']:5d} "
            f"{c['Sort']:4d} {c['ArrowEvalPython']:7d} {c['BatchEvalPython']:7d} "
            f"{c['MapInPandas']:5d} {c['FlatMapGroupsInPandas']:5d}"
        )
    for n, _, e in rows:
        if e is not None:
            print(f"{n:34s} [unplannable batch-side: {e}]")


if __name__ == "__main__":
    main()
