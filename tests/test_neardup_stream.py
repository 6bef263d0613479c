"""Streaming MinHash-LSH near-dup index (streaming/neardup_stream.py):
batch-parity, cross-batch state, and TTL eviction.

The reference's integration test replays a corpus and compares the
surviving set (ITDeduplicatorTest.java:54-55,103-112); these do the
same for the NEAR-dup lift — the batch reference implementation here is
an independent formulation (groupBy-min over band keys) of the same
semantics, so agreement is evidence, not tautology.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from pyspark.sql import functions as F

from transitdata_hfp_deduplicator_spark.streaming import (
    neardup_tag_stream,
    parquet_stream,
    run_to_memory,
)


def _n_batch_replay(spark, tmp_path, batches, schema):
    now = time.time()
    for i, rows in enumerate(batches):
        d = str(tmp_path / f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now + i * 10, now + i * 10))
    return parquet_stream(spark, str(tmp_path) + "/*", max_files_per_trigger=1)


def _batch_reference_hits(spark, docs, num_hashes=16, bands=8):
    """Independent batch formulation of the streaming index semantics:
    per (band, full-sig-slice) bucket, first = min(doc_id); every later
    member is a hit scored against the first's full signature."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        minhash_signatures,
    )

    rows = num_hashes // bands
    sigs = minhash_signatures(
        docs,
        "doc_id",
        "text",
        shingle_n=3,
        num_hashes=num_hashes,
    ).filter(F.col("mh_0").isNotNull())
    keyed = sigs.select(
        "doc_id",
        F.array(*[F.col(f"mh_{k}") for k in range(num_hashes)]).alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array(
                            *[
                                F.col(f"mh_{b * rows + r}")
                                for r in range(rows)
                            ]
                        ).alias("ks"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select("doc_id", "sig", "bh.band", "bh.ks")
    firsts = keyed.groupBy("band", "ks").agg(
        F.min("doc_id").alias("first_id")
    )
    fsig = keyed.select(F.col("doc_id").alias("first_id"), F.col("sig").alias("fsig")).distinct()
    return (
        keyed.join(firsts, ["band", "ks"])
        .filter(F.col("doc_id") > F.col("first_id"))
        .join(fsig, "first_id")
        .select(
            "doc_id",
            "band",
            "first_id",
            (
                F.size(
                    F.filter(
                        F.zip_with("sig", "fsig", lambda a, b: (a == b).cast("int")),
                        lambda x: x == 1,
                    )
                )
                / F.lit(float(num_hashes))
            ).alias("est_sim"),
        )
    )


def _docs_stream(docs):
    return docs.withColumn(
        "ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id"))
    )


def test_stream_matches_batch_reference(spark, sf_dir):
    from transitdata_hfp_deduplicator_spark.tables import read_parquet

    path = os.path.join(sf_dir, "documents.parquet")
    docs = read_parquet(spark, path)
    tagged = neardup_tag_stream(
        _docs_stream(parquet_stream(spark, path)), "doc_id", "text", "ts"
    )
    got = {
        (r.doc_id, r.band, r.first_id, r.est_sim)
        for r in run_to_memory(tagged, "append").collect()
    }
    want = {
        (r.doc_id, r.band, r.first_id, r.est_sim)
        for r in _batch_reference_hits(spark, docs).collect()
    }
    assert got == want
    assert got, "corpus has planted near-dups; hit set must be non-empty"


def test_multi_batch_equals_single_batch(spark, sf_dir, tmp_path):
    """State must carry the index across micro-batches: splitting the
    replay into 3 doc_id-ordered batches yields the same hit set as one
    batch (winners are determined by event time, not batch boundaries)."""
    from transitdata_hfp_deduplicator_spark.tables import read_parquet

    path = os.path.join(sf_dir, "documents.parquet")
    docs = read_parquet(spark, path).select("doc_id", "text").limit(300)
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    rows.sort()
    thirds = [rows[:100], rows[100:200], rows[200:]]
    stream = _n_batch_replay(
        spark, tmp_path, thirds, "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.band, r.first_id, r.est_sim)
        for r in run_to_memory(
            neardup_tag_stream(_docs_stream(stream), "doc_id", "text", "ts"),
            "append",
        ).collect()
    }
    want = {
        (r.doc_id, r.band, r.first_id, r.est_sim)
        for r in _batch_reference_hits(
            spark, spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert got == want


def test_nondefault_band_widths_match_batch(spark, sf_dir):
    """Band identity must cover the FULL signature slice for any rows =
    num_hashes // bands — a fixed 2-component key loosens candidacy at
    rows=4 and reads out of bounds at rows=1 (the regression this pins)."""
    import pytest

    from transitdata_hfp_deduplicator_spark.tables import read_parquet

    path = os.path.join(sf_dir, "documents.parquet")
    docs = read_parquet(spark, path).select("doc_id", "text")
    for num_hashes, bands in [(16, 4), (8, 8)]:  # rows=4, rows=1
        tagged = neardup_tag_stream(
            _docs_stream(parquet_stream(spark, path)),
            "doc_id",
            "text",
            "ts",
            num_hashes=num_hashes,
            bands=bands,
        )
        got = {
            (r.doc_id, r.band, r.first_id, r.est_sim)
            for r in run_to_memory(tagged, "append").collect()
        }
        want = {
            (r.doc_id, r.band, r.first_id, r.est_sim)
            for r in _batch_reference_hits(
                spark, docs, num_hashes=num_hashes, bands=bands
            ).collect()
        }
        assert got == want, (num_hashes, bands)
        assert got, (num_hashes, bands)
    with pytest.raises(ValueError):
        neardup_tag_stream(
            _docs_stream(parquet_stream(spark, path)),
            "doc_id",
            "text",
            "ts",
            num_hashes=16,
            bands=5,
        )


def test_rocksdb_provider_identical_verdicts(spark, sf_dir):
    """The LSH index state must behave identically on the RocksDB
    state store provider (disk-backed — the state-larger-than-memory
    backend); tools/stress_neardup_stream.py 'both' carries the same
    check at 200k docs."""
    from transitdata_hfp_deduplicator_spark.tables import read_parquet

    key = "spark.sql.streaming.stateStore.providerClass"
    path = os.path.join(sf_dir, "documents.parquet")
    docs = read_parquet(spark, path)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        tagged = neardup_tag_stream(
            _docs_stream(parquet_stream(spark, path)), "doc_id", "text", "ts"
        )
        got = {
            (r.doc_id, r.band, r.first_id, r.est_sim)
            for r in run_to_memory(tagged, "append").collect()
        }
    finally:
        spark.conf.unset(key)
    want = {
        (r.doc_id, r.band, r.first_id, r.est_sim)
        for r in _batch_reference_hits(spark, docs).collect()
    }
    assert got == want
    assert got


def test_planted_pair_and_ttl_eviction(spark, tmp_path):
    """An identical doc within TTL hits with est_sim=1.0; after the TTL
    the bucket is forgotten and the same text becomes a fresh prime that
    later docs hit instead — the reference's cacheTTL forgetting
    (Deduplicator.java:36-40) lifted to the LSH index."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely unrelated words about spark shuffles and parquet files"
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    batches = [
        [(1, text, base)],
        [(2, text, base + dt.timedelta(minutes=1))],  # within TTL: hit on 1
        [(3, other, base + dt.timedelta(hours=3))],  # watermark push
        [(4, text, base + dt.timedelta(hours=3, minutes=1))],  # TTL passed: prime
        [(5, text, base + dt.timedelta(hours=3, minutes=2))],  # hits 4, not 1
    ]
    stream = _n_batch_replay(
        spark, tmp_path, batches, "doc_id long, text string, ts timestamp"
    )
    tagged = neardup_tag_stream(
        stream, "doc_id", "text", "ts", ttl_ms=3600 * 1000
    )
    hits = run_to_memory(tagged, "append").collect()
    by_doc = {}
    for r in hits:
        by_doc.setdefault(r.doc_id, set()).add((r.first_id, r.est_sim))
    assert by_doc.get(2) == {(1, 1.0)}
    assert 3 not in by_doc  # unrelated text: no bucket collision
    assert 4 not in by_doc  # state expired: fresh prime
    assert by_doc.get(5) == {(4, 1.0)}
