"""The generator's planted truth matches an independent recount of the
file it writes."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import hfpgen  # noqa: E402


def test_recount_matches_planted_truth(tmp_path):
    path = tmp_path / "feed.txt"
    assert hfpgen.main(["7", "40", "5", str(path)]) == 0
    truth = json.loads((tmp_path / "feed.txt.truth.json").read_text())
    feed = hfpgen.generate(seed=7, vehicles=40, seconds=5)
    got = hfpgen.recount(str(path))
    assert got["messages"] == truth["messages"] == sum(truth["per_feed"].values())
    assert got["uniques"] == truth["uniques"] == 40 * 5
    # every unique arrives exactly once per feed
    assert got["copies"] == [len(hfpgen.FEEDS)]
    assert got["unique_sha1"] == sorted(truth["unique_sha1"])
    assert os.path.getsize(path) == feed.size == feed.ends[-1]


def test_same_seed_same_bytes_other_seed_other_bytes():
    a = hfpgen.generate(seed=1, vehicles=10, seconds=3)
    b = hfpgen.generate(seed=1, vehicles=10, seconds=3)
    c = hfpgen.generate(seed=2, vehicles=10, seconds=3)
    assert a.lines == b.lines
    assert a.lines != c.lines


def test_lines_are_in_arrival_order_with_bounded_jitter():
    feed = hfpgen.generate(seed=3, vehicles=20, seconds=4, jitter_s=0.5)
    assert feed.due == sorted(feed.due)
    first: dict[int, float] = {}
    for d, k in zip(feed.due, feed.key_of):
        if k in first:
            assert 0.0 <= d - first[k] <= 0.5
        else:
            first[k] = d
