"""End-to-end LLM-corpus curation pipeline over the ``documents`` table:

    documents → normalize-dedup → quality filter → train/valid/test
    hash split

Each stage is an operator this engine already oracle-checks in
isolation; this test pins that the COMPOSITION behaves — row
accounting balances exactly at every stage and the output is
deterministic across runs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.window import Window as W

from transitdata_hfp_deduplicator_spark import tables
from transitdata_hfp_deduplicator_spark.functions import text as TXT
from transitdata_hfp_deduplicator_spark.operators.sampling import hash_split


def _curate(docs):
    """(fingerprinted docs, dedup survivors, quality-kept, split)."""
    norm = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")),
        " +",
        " ",
    )
    fp = docs.withColumn("fp", F.md5(norm.cast("binary")))
    deduped = (
        fp.withColumn(
            "keep",
            F.row_number().over(W.partitionBy("fp").orderBy("doc_id")) == 1,
        )
        .filter("keep")
        .drop("keep")
    )
    scored = deduped.withColumn("q", TXT.quality_score(F.col("text")))
    kept = scored.filter(F.col("q") >= 0.5).drop("q")
    return fp, deduped, kept, hash_split(kept.drop("fp"), ["doc_id"])


def test_curation_pipeline_accounts_for_every_row(spark, sf_dir):
    docs = tables.table(spark, sf_dir, "documents")
    fp, deduped, kept, split = _curate(docs)
    n_in = docs.count()

    # dedup keeps exactly one row per normalized fingerprint
    n_fp = fp.select("fp").distinct().count()
    assert deduped.count() == n_fp
    assert deduped.select("fp").distinct().count() == n_fp
    # the quality filter only drops rows; the split only labels them
    n_kept = kept.count()
    assert 0 < n_kept <= n_fp <= n_in
    assert split.count() == n_kept
    assert split.select("doc_id").distinct().count() == n_kept
    counts = {r.split: r["count"] for r in split.groupBy("split").count().collect()}
    assert sum(counts.values()) == n_kept
    assert set(counts) <= {"train", "valid", "test"}


def test_curation_pipeline_is_deterministic(spark, sf_dir):
    docs = tables.table(spark, sf_dir, "documents")
    a = _curate(docs)[-1]
    b = _curate(docs.repartition(7))[-1]
    ra = {(r.doc_id, r.split) for r in a.select("doc_id", "split").collect()}
    rb = {(r.doc_id, r.split) for r in b.select("doc_id", "split").collect()}
    assert ra == rb
    # split labels are the declared 80/10/10 hash bands, not RNG
    assert {s for _, s in ra} <= {"train", "valid", "test"}
