"""Kill the CLI inside a micro-batch and restart it on the same checkpoint:
the forwarded set is still exactly the planted uniques, each once.

The CLI runs as a subprocess in its own session with ``--follow`` while
the seeded two-feed file (tests/conftest.py) grows slice by slice.  The
kill point is chosen from outside by polling ``<ckpt>/forward``: batch
N ≥ 1 has written ``offsets/N`` but not ``commits/N``, so its sink write
and state commit may be partly done.  The CLI and everything it started,
JVM and Python worker daemon included, is SIGKILLed.  The rest of the feed is then
appended and the CLI restarted without ``--follow``: it replays batch N
from its offset and drains the rest.  The output is read from the
parquet files the file sink's ``_spark_metadata`` log lists, which is
the sink's exactly-once contract.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parent.parent
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
SLICE = 50  # lines per append


def _env(tmp_path: Path, provider: str) -> dict[str, str]:
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": str(ROOT),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_DRIVER_MEM": "1g",
            "SPARK_GRAFT_WAREHOUSE": str(tmp_path / "warehouse"),
            "APPLICATION_ALERT_POLL_INTERVAL": "1 hour",
        }
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if provider == "rocksdb":
        env["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.sql.streaming.stateStore.providerClass={ROCKSDB} pyspark-shell"
        )
    return env


def _cli(source: str, out: str, ckpt: str, *extra: str) -> list[str]:
    return [sys.executable, "-m", "transitdata_hfp_deduplicator_spark",
            "--source", source, "--out", out, "--checkpoint", ckpt, "--cpus", "1", *extra]


def _processes() -> dict[int, tuple[str, int, int]]:
    """``pid -> (state, ppid, pgid)`` of every process."""
    out = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            state, ppid, pgid = stat.read_text().rsplit(")", 1)[1].split()[:3]
        except OSError:
            continue
        out[int(stat.parent.name)] = (state, int(ppid), int(pgid))
    return out


def _kill_tree(proc: subprocess.Popen) -> None:
    """SIGKILL the process group of ``proc`` and those of its descendants
    (PySpark's worker daemon starts a group of its own), then wait until
    none of their processes is left."""
    procs = _processes()
    tree = {proc.pid}
    while grown := {p for p, (_, ppid, _) in procs.items() if ppid in tree} - tree:
        tree |= grown
    groups = {proc.pid} | {procs[p][2] for p in tree if p in procs}
    for group in groups:
        try:
            os.killpg(group, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait(30)
    deadline = time.monotonic() + 30
    while any(s != "Z" and g in groups for s, _, g in _processes().values()):
        assert time.monotonic() < deadline, "killed processes still running"
        time.sleep(0.1)


def _open_batch(ckpt: Path) -> int | None:
    """The id N ≥ 1 of a batch whose offsets are logged but not committed."""
    for n in sorted(int(p.name) for p in (ckpt / "offsets").glob("[0-9]*")):
        if n >= 1 and not (ckpt / "commits" / str(n)).exists():
            return n
    return None


def _sink_files(out: Path) -> list[str]:
    """The parquet files the file sink's metadata log lists: the newest
    compaction plus every batch log after it."""
    log = out / "_spark_metadata"
    batches = {}
    for p in log.iterdir():
        stem = p.name.removesuffix(".compact")
        if stem.isdigit():
            batches[int(stem)] = p
    compacted = [n for n, p in batches.items() if p.name.endswith(".compact")]
    first = max(compacted, default=0)
    files: dict[str, bool] = {}
    for n in sorted(b for b in batches if b >= first):
        version, *entries = batches[n].read_text().splitlines()
        assert version == "v1"
        for entry in map(json.loads, entries):
            files[entry["path"]] = entry["action"] == "add"
    return [unquote(urlparse(path).path) for path, added in files.items() if added]


@pytest.mark.parametrize("provider", ["default", "rocksdb"])
def test_kill_inside_batch_then_restart_forwards_each_unique_once(
    tmp_path, make_hfp_feed, provider
):
    feed = make_hfp_feed()
    source, out, ckpt = feed.path, tmp_path / "out", tmp_path / "ckpt"
    forward, appended_after = ckpt / "forward", -1
    env = _env(tmp_path, provider)
    feed.write(feed.lines[:SLICE])
    sent = SLICE

    proc = subprocess.Popen(
        _cli(source, str(out), str(ckpt), "--follow"), cwd=ROOT, env=env,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, start_new_session=True,
    )
    try:
        deadline, killed_in = time.monotonic() + 180, None
        while killed_in is None:
            assert proc.poll() is None, "the CLI exited before the kill"
            assert time.monotonic() < deadline, "no batch N >= 1 was caught open"
            if (forward / "commits").is_dir():
                killed_in = _open_batch(forward)
                if killed_in is not None:
                    break  # the kill is the finally clause
                # one new slice after each commit starts the next batch
                committed = len(list((forward / "commits").glob("[0-9]*")))
                if committed > appended_after and sent < feed.messages - SLICE:
                    feed.write(feed.lines[sent : sent + SLICE], mode="a")
                    sent, appended_after = sent + SLICE, committed
            time.sleep(0.005)
    finally:
        _kill_tree(proc)
    assert not (forward / "commits" / str(killed_in)).exists()

    feed.write(feed.lines[sent:], mode="a")
    restart = subprocess.Popen(
        _cli(source, str(out), str(ckpt)), cwd=ROOT, env=env,
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        _, err = restart.communicate(timeout=300)
    finally:
        _kill_tree(restart)
    assert restart.returncode == 0, err[-3000:]
    assert (forward / "commits" / str(killed_in)).exists()

    rows = [
        (topic, payload)
        for path in _sink_files(out)
        for topic, payload in zip(
            *pq.read_table(path, columns=["topic", "payload"]).to_pydict().values()
        )
    ]
    assert len(rows) == len(feed.uniques)
    assert set(rows) == feed.uniques
