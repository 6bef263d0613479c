"""Structured-Streaming harness utilities.

`parquet_stream` replays a parquet table as a file-source stream (the
test stand-in for the Pulsar/Kafka source — same micro-batch execution,
same state-store codepath).  `run_to_memory` drives a streaming
DataFrame synchronously to completion (trigger availableNow) into a
memory sink and returns the materialized result — the pattern the
reference's integration tests use (send corpus, await output,
compare — ITDeduplicatorTest.java:54-55,103-112).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

_EPHEMERAL_ROOT: str | None = None


def ephemeral_dir(prefix: str) -> str:
    """Temp dir for THROWAWAY streaming artifacts (replay spools,
    availableNow checkpoints, symlinked source dirs) — data whose
    lifetime is one process.

    Two deliberate differences from a bare ``tempfile.mkdtemp``:

    * RAM-backed when possible (``/dev/shm``): every streaming commit
      fsyncs its offset/commit WAL and state-delta files, and on the
      shared bench disk those fsyncs stall 10-30s whenever the page
      cache is draining (e.g. right after a test-suite run — exactly
      when the driver benches).  tmpfs makes fsync free, so the bench
      measures the engine, not the disk.  Real deployments pass a real
      checkpoint dir to the sink API; this helper is only for
      ephemeral harness state.
    * Registered for removal at interpreter exit — a long session
      replays dozens of streams and would otherwise litter gigabytes
      of dead spool dirs.
    """
    global _EPHEMERAL_ROOT
    if _EPHEMERAL_ROOT is None:
        base = "/dev/shm" if os.path.isdir("/dev/shm") else None
        root = tempfile.mkdtemp(prefix="spark_graft_eph_", dir=base)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _EPHEMERAL_ROOT = root
    return tempfile.mkdtemp(prefix=prefix, dir=_EPHEMERAL_ROOT)


def parquet_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    spread: bool = False,
) -> DataFrame:
    """File-source stream over parquet path(s); its schema comes from
    one batch read through ``tables.read_parquet`` (same session confs,
    one schema-inference job).

    ``spread=True`` round-robin-repartitions each micro-batch to the
    session's default parallelism — the replay twin of
    ``tables.spread``: a single-file replay plans every micro-batch as
    ONE input split, so heavy per-row map work (shingling, digest
    hashing) upstream of the first keyed exchange serializes on one
    core (measured 14s -> 6s on the decontamination replay at sf0.1).
    A real broker source arrives already partitioned (one partition
    per topic partition), so production callers leave this off; a
    streaming DataFrame cannot probe its partition count, hence an
    explicit flag instead of tables.spread's guard.
    """
    from transitdata_hfp_deduplicator_spark.tables import read_parquet

    if os.path.isfile(path):
        # the file source requires a directory; symlink, don't copy
        d = ephemeral_dir("stream_src_")
        os.symlink(path, os.path.join(d, os.path.basename(path)))
        path = d
    # a file stream needs an explicit schema
    reader = spark.readStream.schema(read_parquet(spark, path).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = reader.parquet(path)
    if spread:
        sdf = sdf.repartition(spark.sparkContext.defaultParallelism)
    return sdf


def run_to_memory(
    sdf: DataFrame,
    output_mode: str = "append",
) -> DataFrame:
    """Execute a streaming DataFrame to completion; returns the result
    as a batch DataFrame.

    Despite the (kept-for-compatibility) name, the sink is a
    ``foreachBatch`` parquet spool in a temp dir, not Spark's memory
    sink: the memory sink pins every replay's FULL output in driver
    memory for the life of its temp view, so a long session (the bench
    runs 60+ queries) accumulates gigabytes of dead results.  Parquet
    spooling keeps the output off-heap (OS page cache), survives any
    output mode (append/update spool the per-batch delta exactly as the
    memory sink would; complete overwrites so the last batch wins), and
    leaves nothing referenced when the returned frame is dropped.
    """
    spark = sdf.sparkSession
    base = ephemeral_dir("stream_out_")
    out_dir = os.path.join(base, "data")
    ckpt = os.path.join(base, "ckpt")
    schema = sdf.schema

    def spool(batch_df: DataFrame, _batch_id: int) -> None:
        mode = "overwrite" if output_mode == "complete" else "append"
        batch_df.write.mode(mode).parquet(out_dir)

    q = (
        sdf.writeStream.foreachBatch(spool)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.isdir(out_dir):  # zero batches -> empty result
        return spark.createDataFrame([], schema)
    return spark.read.parquet(out_dir)


import contextlib

# replay_shuffle_partitions: source bytes per partition, and the clamp
REPLAY_PARTITION_BYTES = 256 << 10
REPLAY_PARTITIONS_MIN = 2
REPLAY_PARTITIONS_MAX = 32


def replay_shuffle_partitions(path: str) -> int:
    """Size-derived shuffle/state-partition count for a replay stream.

    Stateful operators create one state store per shuffle partition per
    operator, and every micro-batch pays a per-store commit cost — at
    replay scale (KB..MB of source parquet) that fixed cost dominates,
    while at cluster scale the count must grow with state size.  Derive
    it from the source size, clamped to [2, 32]; 256 KiB/partition
    reproduces the empirically tuned points (2 stores at sf0.01, 8 at
    sf0.1 — a 3.7x win over the session-wide 32 on a stream-stream
    join).
    """
    p = path[:-2] if path.endswith("/*") else path
    if os.path.isfile(p):
        total = os.path.getsize(p)
    elif os.path.isdir(p):
        total = 0
        for root, _, files in os.walk(p):
            for f in files:
                if not f.startswith((".", "_")):
                    total += os.path.getsize(os.path.join(root, f))
    else:
        return REPLAY_PARTITIONS_MAX
    n = (total + REPLAY_PARTITION_BYTES - 1) // REPLAY_PARTITION_BYTES
    return max(REPLAY_PARTITIONS_MIN, min(REPLAY_PARTITIONS_MAX, n))


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Temporarily set one session conf, restoring the prior value (or
    unsetting, if it was unset) on exit — so library code never leaks a
    config change into the caller's session."""
    try:
        old = spark.conf.get(key)
    except Exception:  # noqa: BLE001 - unset key
        old = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily set the shuffle-partition count for a streaming
    query's lifetime.

    Stateful operators create one state store per shuffle partition per
    operator; for replay-scale state the per-partition fixed cost
    dominates (measured 3.7x on a stream-stream join: 32 -> 8
    partitions).  At cluster scale the right value grows with state
    size — this scopes the choice to one query instead of mutating the
    session-wide default.
    """
    return scoped_conf(spark, "spark.sql.shuffle.partitions", str(n))
