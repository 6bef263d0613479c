"""Tests of the benchmark's pure logic.

Run from the root of a checkout: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import measure  # noqa: E402


# -- offset -> committed batch -> latency ------------------------------------


def _checkpoint(tmp_path, batches):
    """A query checkpoint dir with offsets/ and commits/ for
    ``[(batch id, end offset, commit mtime or None)]``."""
    for sub in ("offsets", "commits"):
        (tmp_path / sub).mkdir()
    for b, pos, at in batches:
        (tmp_path / "offsets" / str(b)).write_text(
            "v1\n" + json.dumps({"batchWatermarkMs": 0}) + "\n" + json.dumps({"pos": pos})
        )
        if at is not None:
            p = tmp_path / "commits" / str(b)
            p.write_text("v1\n{}")
            os.utime(p, (at, at))
    (tmp_path / "offsets" / ".0.crc").write_text("")
    return str(tmp_path)


def test_checkpoint_maps_lines_to_committing_batch(tmp_path):
    # lines of 10 bytes: ends 10, 20, ... 100
    ends = list(range(10, 101, 10))
    d = _checkpoint(tmp_path, [(0, 30, 1000.0), (1, 70, 1002.0), (2, 100, None)])
    batches = measure.committed_batches(measure.read_offsets(d), measure.read_commit_times(d))
    assert [(b, e) for b, e, _ in batches] == [(0, 30), (1, 70)]
    idx = measure.line_batches(ends, batches)
    # a line ending exactly on a batch's end offset belongs to that batch
    assert idx == [0, 0, 0, 1, 1, 1, 1, None, None, None]
    due = [999.0 + 0.1 * i for i in range(10)]
    lat, of = measure.latencies_ms(due, idx, batches)
    assert of == [0, 0, 0, 1, 1, 1, 1]
    assert lat[0] == pytest.approx(1000.0)  # due 999.0, committed 1000.0
    assert lat[3] == pytest.approx((1002.0 - 999.3) * 1000)
    # uncommitted lines have no latency, and are not silently zero
    assert len(lat) == 7


def test_offsets_skip_batches_without_source_offset(tmp_path):
    (tmp_path / "offsets").mkdir()
    (tmp_path / "offsets" / "0").write_text("v1\n{}\n")
    assert measure.read_offsets(str(tmp_path)) == {}


# -- tail percentile ------------------------------------------------------


def test_tail_needs_ten_batches_beyond():
    # one batch: no value is reached by samples of 10 batches
    lat = [float(i) for i in range(1000)]
    p, v = measure.tail_percentile(lat, [0] * 1000)
    assert (p, v) == (50.0, measure.percentile(lat, 50))


def test_tail_is_reached_by_ten_batches():
    # 20 batches of 100 samples; batch b's latencies are b .. b + 99
    lat, of = [], []
    for b in range(20):
        lat += [float(b + x) for x in range(100)]
        of += [b] * 100
    p, v = measure.tail_percentile(lat, of)
    # per-batch maxima are 99..118; the 10th largest is 109
    assert v == 109.0
    assert len({b for x, b in zip(lat, of) if x >= v}) == 10
    assert p == pytest.approx(100.0 * sum(x < 109.0 for x in lat) / len(lat))


def test_tail_is_never_below_the_median():
    # twelve one-sample batches: the 10th largest is near the bottom
    lat = [float(x) for x in range(12)]
    assert measure.tail_percentile(lat, range(12)) == (50.0, measure.percentile(lat, 50))


def test_tail_ignores_one_slow_batch():
    # 30 fast batches and one slow one: the slow batch alone sets no tail
    lat, of = [], []
    for b in range(30):
        lat += [100.0 + b * 0.01] * 100
        of += [b] * 100
    lat += [5000.0] * 100
    of += [30] * 100
    p, v = measure.tail_percentile(lat, of)
    assert v < 5000.0
    assert len({b for x, b in zip(lat, of) if x >= v}) >= measure.MIN_BATCHES_BEYOND


def test_latency_summary_counts():
    s = measure.latency_summary([1.0, 2.0, 3.0], [0, 0, 1])
    assert s["samples"] == 3 and s["batches"] == 2 and s["p50_ms"] == 2.0


# -- truth diff ------------------------------------------------------------


def test_truth_diff_counts_lost_duplicate_and_foreign():
    truth = [("t", "a"), ("t", "b"), ("t", "c")]
    fwd = [("t", "a"), ("t", "a"), ("t", "x")]
    d = measure.truth_diff(truth, fwd, expected=[("t", "a"), ("t", "b")])
    assert d == {
        "truth": 3, "forwarded": 3, "duplicates": 1, "foreign": 1,
        "lost": 2, "lost_consumed": 1,
    }


def test_truth_diff_exact_forward_is_clean():
    truth = [("t", str(i)) for i in range(5)]
    d = measure.truth_diff(truth, reversed(truth))
    assert d["lost"] == d["duplicates"] == d["foreign"] == 0
    assert "lost_consumed" not in d


# -- CPU across the process tree ----------------------------------------------


def _stat(pid, comm, ppid, utime, stime, cutime=0, cstime=0, rss=10):
    fields = ["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime] + [0] * 6 + [rss]
    return f"{pid} ({comm}) " + " ".join(str(f) for f in fields)


def test_parse_stat_handles_spaces_in_command():
    p = measure.parse_stat(_stat(7, "python3 -m x) y", 1, 11, 12, 13, 14, rss=99))
    assert p == {"ppid": 1, "utime": 11, "stime": 12, "cutime": 13, "cstime": 14, "rss_pages": 99}


def test_tree_cpu_sums_descendants_only_by_role():
    procs = {
        1: measure.parse_stat(_stat(1, "init", 0, 500, 500)),
        10: measure.parse_stat(_stat(10, "python3", 1, 100, 10)),  # driver
        11: measure.parse_stat(_stat(11, "java", 10, 300, 30)),
        12: measure.parse_stat(_stat(12, "python3", 11, 40, 4, cutime=20, cstime=2)),
        13: measure.parse_stat(_stat(13, "python3", 12, 5, 1)),
        20: measure.parse_stat(_stat(20, "other", 1, 999, 999)),
    }
    roles = {10: "driver", 11: "jvm", 12: "pyworker", 13: "pyworker"}
    ticks = measure.tree_cpu_ticks(procs, 10, roles.get)
    # the worker daemon's reaped children (cutime/cstime) count once;
    # processes outside the tree do not count
    assert ticks == {"driver": 110, "jvm": 330, "pyworker": 44 + 22 + 6}


def test_tree_cpu_is_continuous_when_a_child_is_reaped():
    before = {
        10: measure.parse_stat(_stat(10, "python3", 1, 100, 0)),
        11: measure.parse_stat(_stat(11, "python3", 10, 50, 0)),
    }
    after = {10: measure.parse_stat(_stat(10, "python3", 1, 100, 0, cutime=50))}
    role = lambda pid: "x"  # noqa: E731
    assert measure.tree_cpu_ticks(before, 10, role) == measure.tree_cpu_ticks(after, 10, role)


def test_role_of_cmdline():
    assert measure.role_of_cmdline("/usr/lib/jvm/bin/java -cp x org.apache.spark.deploy.SparkSubmit") == "jvm"
    assert measure.role_of_cmdline("/usr/bin/python3 -m pyspark.daemon") == "pyworker"


def test_interpolate_cumulative_series():
    s = [(0.0, 0.0), (1.0, 10.0), (2.0, 30.0)]
    assert measure.interpolate(s, 1.5) == 20.0
    assert measure.interpolate(s, -1.0) == 0.0
    assert measure.interpolate(s, 5.0) == 30.0


# -- query result digests --------------------------------------------------


def test_frame_digest_ignores_row_order_and_numeric_type():
    pd = pytest.importorskip("pandas")
    from decimal import Decimal

    a = pd.DataFrame({"k": [1, 2], "v": [Decimal("1.5"), None]})
    b = pd.DataFrame({"v": [float("nan"), 1.5], "k": [2.0, 1.0]})
    assert measure.frame_digest(a) == measure.frame_digest(b)
    c = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5]})
    assert measure.frame_digest(a) != measure.frame_digest(c)
