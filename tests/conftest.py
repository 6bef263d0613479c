from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import random
import sys
from dataclasses import dataclass

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transitdata_hfp_deduplicator_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Slow-tier policy (pytest.ini declares the marker).  The pre-commit
# loop runs `pytest -m "not slow"` (< ~3 min); CI/the driver runs the
# full suite.  Two tiers, one table:
#   * SLOW_FILES — files where essentially every test replays a real
#     micro-batch stream (checkpoint dirs, state stores, availableNow
#     drains): multi-second each by machinery, not data volume.
#   * SLOW_TESTS — individually heavy tests (>= ~3s measured) in
#     otherwise-fast files: property sweeps vs pure-python references,
#     stress-adjacent recall/scale checks.  The file's remaining tests
#     keep fast-tier coverage of the same operator.
# Durations measured on the full suite at HEAD (round 9); re-derive
# with `pytest --durations=0` if the split drifts.
# ---------------------------------------------------------------------------

SLOW_FILES = {
    "test_app_main.py",
    "test_heavyhitters_stream.py",
    "test_hfp_datasource.py",
    "test_lru_state.py",
    "test_neardup_stream.py",
    "test_state_recovery.py",
    "test_stateful.py",
    "test_streaming.py",
}

SLOW_TESTS = {
    "test_heavyhitters.py::test_property_matches_groupby_having",
    "test_properties.py::test_minhash_family_matches_pure_python",
    "test_properties.py::test_asof_join_matches_pure_python",
    "test_properties.py::test_containment_matches_reference",
    "test_properties.py::test_sharded_prefix_sum_matches_window_property",
    "test_similarity.py::test_simhash_pigeonhole_full_recall",
    "test_similarity.py::test_incremental_lsh_max_bucket_caps_both_sides",
    "test_similarity.py::test_skew_caps_identity_and_bite",
    "test_similarity.py::test_incremental_lsh_matches_full_batch_verdicts",
    "test_similarity.py::test_rplsh_recall_on_clustered_data",
    "test_corpus_ops.py::test_curate_and_seqpack_engine_parity_on_whitespace_runs",
    "test_kmeans.py::test_trained_ivf_recall_on_clustered_data",
    "test_clusters.py::test_large_small_star_random_graphs",
    "test_clusters.py::test_large_small_star_deep_chain",
    "test_clusters.py::test_distributed_path_matches_unionfind",
    "test_sources.py::test_stream_dedup_canonicalizes_typed_payloads",
    "test_listener.py::test_listener_captures_failure",
    "test_listener.py::test_listener_reads_real_progress_from_json",
    "test_similarity.py::test_exploded_shingles_match_plain_explode",
    "test_pq.py::test_ivfadc_shortlist_restricted_to_probed_cells",
    "test_pq.py::test_ivfadc_query_self_recall",
    "test_pq.py::test_rerank_is_exact_within_shortlist",
    "test_pq.py::test_adc_equals_manual_lut_sum",
    "test_bpe.py::test_apply_merges_reproduces_trainer_final_state",
    "test_bpe.py::test_train_merges_matches_sequential_reference",
    "test_bloom.py::test_no_false_negatives",
    "test_scale_patterns.py::test_streaming_parquet_sink_exactly_once",
    "test_plans.py::test_embed_ann_ivfpq_codes_join_cell_pruned",
    "test_plans.py::test_similarity_pair_joins_no_cartesian",
    "test_plans.py::test_embed_ann_pq_raw_vectors_never_shuffled",
    "test_plans.py::test_incremental_lsh_keyed_joins_only",
    "test_plans.py::test_size_gate_arms_produce_identical_rows",
    "test_properties.py::test_dedup_first_wins_random_envelopes",
    "test_timeseries_sampling.py::test_sharded_prefix_sum_matches_single_window",
    "test_timeseries_sampling.py::test_stratified_quota_shrink_stable_and_partition_invariant",
    "test_bpe.py::test_apply_merges_encodes_held_out_docs",
    "test_kmeans.py::test_kmeans_iterations_tighten_clusters",
    "test_kmeans.py::test_kmeans_recovers_planted_clusters",
    "test_kmeans.py::test_kmeans_deterministic",
    "test_similarity.py::test_simhash_near_dups_have_small_hamming",
    "test_similarity.py::test_lsh_recall_vs_exact_jaccard",
    "test_similarity.py::test_cosine_dup_pairs_block_decomposition",
    "test_hfp.py::test_golden_unique_count_streaming",
    "test_canonicalize.py::test_dataframe_kernel_dedups_across_orders",
    "test_bloom.py::test_member_rowjoin_agrees_with_probe",
    "test_bloom.py::test_probe_is_deterministic_and_keeps_schema",
    "test_corpus_pipeline.py::test_curation_pipeline_accounts_for_every_row",
    "test_app_crash.py::test_kill_inside_batch_then_restart_forwards_each_unique_once",
}


def pytest_collection_modifyitems(config, items):
    # Match on originalname (the bare function name), not item.name:
    # a later-parametrized test's ids become name[param] and would
    # silently drop out of the slow tier into the fast pre-commit run
    # (ADVICE r9).  Every SLOW_FILES and SLOW_TESTS entry must match at
    # least one collected item so a renamed/deleted test or file can't
    # leave a stale row.
    matched: set[str] = set()
    for item in items:
        fname = os.path.basename(str(item.fspath))
        base = getattr(item, "originalname", None) or item.name.split("[", 1)[0]
        key = f"{fname}::{base}"
        if fname in SLOW_FILES or key in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
            matched.add(key)
    # only enforce on full-suite collections: a single-file/-k run
    # legitimately collects a subset of the table
    if len(items) > 200:
        stale = SLOW_TESTS - matched
        assert not stale, f"SLOW_TESTS entries matched no collected test: {stale}"
        stale = SLOW_FILES - {key.split("::", 1)[0] for key in matched}
        assert not stale, f"SLOW_FILES entries matched no collected test: {stale}"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@dataclass
class HfpFeed:
    """A seeded HFP line file (FIXTURES.md A1) and its planted truth.
    Each vehicle reports once a second; each report is one unique
    (topic, payload), delivered once per feed, feed b trailing feed a by
    up to 0.5 s.  Lines are in arrival order, stamped on arrival."""

    path: str
    lines: list[str]
    keys: list[tuple[str, str]]  # (topic, payload) of each line

    @property
    def messages(self) -> int:
        return len(self.lines)

    @property
    def uniques(self) -> set[tuple[str, str]]:
        return set(self.keys)

    def write(self, lines: list[str] | None = None, mode: str = "w") -> None:
        with open(self.path, mode, encoding="utf-8") as f:
            f.writelines(self.lines if lines is None else lines)


def _iso(t: float) -> str:
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")


@pytest.fixture
def make_hfp_feed(tmp_path):
    """``make_hfp_feed(name, seed, vehicles, seconds, feeds, pad)`` writes
    a feed under ``tmp_path``; ``pad`` bytes of filler per payload make
    a large file of few lines."""

    def make(name="hfp.txt", seed=1, vehicles=12, seconds=25, feeds=2, pad=0) -> HfpFeed:
        rng, t0, arrivals = random.Random(seed), 1539059572.0, []
        for s, v in itertools.product(range(seconds), range(vehicles)):
            event = t0 + s + v / vehicles
            topic = (
                f"/hfp/v1/journey/ongoing/bus/0018/{100 + v:05d}/1057/1/"
                f"Munkkiniemi/07:32/{1471139 + s}/3/60;25/20/38/71"
            )
            vp = {"desi": "57", "veh": 100 + v, "tst": _iso(event)[:-3] + "Z",
                  "lat": round(60.17 + rng.random() * 0.1, 6),
                  "long": round(24.90 + rng.random() * 0.1, 6),
                  "spd": round(rng.random() * 15, 2), **({"pad": "x" * pad} if pad else {})}
            payload = json.dumps({"VP": vp}, separators=(",", ":"))
            arrived = event + 0.05 + rng.random() * 0.25
            for f in range(feeds):
                arrivals.append((arrived + f * rng.random() * 0.5, topic, payload))
        arrivals.sort()
        feed = HfpFeed(
            str(tmp_path / name),
            [f"{_iso(a)}+0000 {topic} {payload}\n" for a, topic, payload in arrivals],
            [(topic, payload) for _, topic, payload in arrivals],
        )
        feed.write()
        return feed

    return make


@pytest.fixture
def hfp_feed(make_hfp_feed) -> HfpFeed:
    """The default two-feed file: 300 uniques, 600 lines."""
    return make_hfp_feed()
