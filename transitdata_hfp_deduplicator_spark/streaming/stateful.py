"""Custom stateful streaming operator: dedup WITH online duplicate
metrics — the complete reference hot path (Deduplicator.java:43-66) in
one operator.

``dropDuplicatesWithinWatermark`` covers drop-the-duplicate but cannot
report ``elapsedSinceHit`` (the time since the key's first occurrence,
Deduplicator.java:56) for each suppressed message — the number the
analytics side channel averages (Analytics.java:72-75).  This operator
keeps (first_seen, hit_count) per digest in ``applyInPandasWithState``
state and emits EVERY row tagged ``is_prime`` + ``delay_ms``, so a
downstream tumbling aggregation (``q_dup_stats_stream`` in queries.py)
computes the reference's full metric set online.

Scale shape: state is hash-partitioned by digest; per-batch work is
Arrow-batched pandas per key-group; state TTL via event-time timeout =
the watermark-bounded eviction the reference's cacheTTL intended.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from transitdata_hfp_deduplicator_spark.operators.dedup import payload_digest


def _loop_keys(
    pdf: pd.DataFrame, firsts: dict, hits: dict, ttl_ms: int
) -> pd.DataFrame:
    """Exact per-row path for keys whose rows span the TTL (rare):
    enforces intra-batch TTL resets the vectorized path can't express.
    Mutates firsts/hits in place."""
    out_key, out_ts, out_prime, out_delay, out_hit = [], [], [], [], []
    for k, ts_ms in zip(pdf["key"].tolist(), pdf["ts_ms"].tolist()):
        ts_ms = int(ts_ms)
        first = firsts.get(k)
        if first is not None and ts_ms - first > ttl_ms:
            first = None
        if first is None:
            firsts[k] = ts_ms
            hits[k] = 1
            out_key.append(k)
            out_ts.append(ts_ms)
            out_prime.append(True)
            out_delay.append(None)
            out_hit.append(1)
        else:
            hits[k] = hits.get(k, 0) + 1
            out_key.append(k)
            out_ts.append(ts_ms)
            out_prime.append(False)
            out_delay.append(ts_ms - first)
            out_hit.append(hits[k])
    return pd.DataFrame(
        {
            "key": out_key,
            "ts_ms": out_ts,
            "is_prime": out_prime,
            "delay_ms": pd.array(out_delay, dtype="Int64"),
            "hit_no": out_hit,
        }
    )


def dedup_tag_stream(
    stream: DataFrame,
    identity_cols: Sequence[str],
    ts_col: str,
    ttl_ms: int = 4 * 3600 * 1000,
    n_buckets: int = 128,
) -> DataFrame:
    """Tag a stream prime/duplicate with per-duplicate delay, statefully.

    Output schema: key (digest), ts_ms, is_prime, delay_ms, hit_no.
    delay_ms = event-time ms since the key's first occurrence (NULL for
    primes) — ``elapsedSinceHit`` in event time.

    State layout: applyInPandasWithState pays a Python/pandas round
    trip PER STATE GROUP per batch, so grouping by the raw digest makes
    millions of tiny groups (measured 23s for 100k rows).  The state
    key is therefore a HASH BUCKET of the digest; each bucket's state
    is a digest→(first_ms, hits) map.  Per-batch Python overhead drops
    to ``n_buckets`` calls (measured ~10x), parallelism and state-store
    partitioning are preserved (buckets shard across executors), and
    per-key semantics are untouched — the in-bucket dict IS the
    reference's hashCache (Deduplicator.java:37-40), one shard per
    bucket.

    TTL: enforced row-wise in event time (a duplicate more than
    ``ttl_ms`` after its key's first occurrence is a fresh prime);
    expired entries are pruned once the watermark passes their expiry.
    Late-beyond-watermark duplicates may re-emit — the same contract as
    ``dropDuplicatesWithinWatermark`` and the reference's cache
    forgetting.
    """
    keyed = stream.select(
        payload_digest(*identity_cols).alias("key"),
        F.unix_millis(F.col(ts_col)).alias("ts_ms"),
        F.col(ts_col).alias("ts"),
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("key"), F.lit(n_buckets))
    ).withWatermark("ts", f"{max(ttl_ms // 1000, 1)} seconds")

    out_schema = (
        "key string, ts_ms long, is_prime boolean, delay_ms long, hit_no long"
    )
    # State rides as PICKLED BINARY, not map<string,long>: the Arrow
    # map state codec converts per entry through Python objects, and at
    # ~2.5M keys that conversion alone measured ~110s per batch (the
    # whole pandas compute is ~9s).  One pickle.dumps/loads per BUCKET
    # is a C-path memcpy-scale operation — same semantics, ~10x the
    # operator throughput at millions of keys.
    state_schema = "firsts binary, hits binary"

    def fn(
        bucket: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import pickle

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            fb, hb = state.get
            firsts = pickle.loads(bytes(fb)) if fb else {}
            hits = pickle.loads(bytes(hb)) if hb else {}
        else:
            firsts, hits = {}, {}
        wm = state.getCurrentWatermarkMs()
        frames = []
        # Materialize ALL Arrow chunks before sorting: a group larger than
        # arrow.maxRecordsPerBatch arrives as several chunks, and per-chunk
        # sorting replays rows in nondeterministic cross-chunk time order
        # (an out-of-order chunk could make delay_ms negative).
        chunks = [pdf[["key", "ts_ms"]] for pdf in pdfs]
        merged = (
            [pd.concat(chunks, ignore_index=True)] if len(chunks) > 1 else chunks
        )
        for pdf in merged:
            pdf = pdf.sort_values("ts_ms", kind="mergesort")
            keys = pdf["key"]
            ts = pdf["ts_ms"].astype("int64")
            # vectorized common path: effective first = state first if the
            # key is known, else the key's first (sorted) row this batch
            state_first = keys.map(firsts)  # NaN for unknown keys
            batch_first = ts.groupby(keys, sort=False).transform("min")
            eff_first = state_first.fillna(batch_first).astype("int64")
            span_resets = (ts - eff_first) > ttl_ms
            if span_resets.any():
                # rare: some key's rows span the TTL inside this batch (or
                # against old state) — exact per-row loop for those keys only
                frames.append(
                    _loop_keys(
                        pdf[keys.isin(set(keys[span_resets]))], firsts, hits, ttl_ms
                    )
                )
                pdf = pdf[~keys.isin(set(keys[span_resets]))]
                keys, ts = pdf["key"], pdf["ts_ms"].astype("int64")
                state_first = keys.map(firsts)
                batch_first = ts.groupby(keys, sort=False).transform("min")
                eff_first = state_first.fillna(batch_first).astype("int64")
            known = state_first.notna()
            cum = ts.groupby(keys, sort=False).cumcount()
            is_prime = (~known) & (cum == 0)
            prev_hits = keys.map(hits).fillna(0).astype("int64")
            hit_no = prev_hits + cum + 1
            delay = (ts - eff_first).where(~is_prime)
            frames.append(
                pd.DataFrame(
                    {
                        "key": keys,
                        "ts_ms": ts,
                        "is_prime": is_prime,
                        "delay_ms": delay.astype("Int64"),
                        "hit_no": hit_no,
                    }
                )
            )
            # fold this batch into state (dict.update keeps older firsts
            # out: only write keys that were unknown)
            new_first = ts[is_prime]
            for k, f in zip(keys[is_prime].tolist(), new_first.tolist()):
                firsts[k] = int(f)
            last_hit = hit_no.groupby(keys, sort=False).transform("max")
            tail = ~keys.duplicated(keep="last")
            for k, h in zip(keys[tail].tolist(), last_hit[tail].tolist()):
                hits[k] = int(h)
        # prune entries the watermark has passed (can only suppress rows
        # that would be late anyway)
        if wm > 0:
            expired = [k for k, f in firsts.items() if f + ttl_ms < wm]
            for k in expired:
                firsts.pop(k, None)
                hits.pop(k, None)
        state.update(
            (
                pickle.dumps(firsts, protocol=pickle.HIGHEST_PROTOCOL),
                pickle.dumps(hits, protocol=pickle.HIGHEST_PROTOCOL),
            )
        )
        state.setTimeoutTimestamp(wm + ttl_ms + 1 if wm > 0 else ttl_ms)
        yield pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
            {
                "key": pd.Series(dtype="object"),
                "ts_ms": pd.Series(dtype="int64"),
                "is_prime": pd.Series(dtype="bool"),
                "delay_ms": pd.array([], dtype="Int64"),
                "hit_no": pd.Series(dtype="int64"),
            }
        )

    return keyed.groupBy("bucket").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
