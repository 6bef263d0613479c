"""The driver parses bench.py's FINAL stdout line from a ~2000-char
tail capture.  Four rounds of BENCH_r{N}.json carried "parsed": null
because the 90+-entry per-query dict rode the final line and overflowed
that window — pin the split-output contract so it cannot regress."""

from __future__ import annotations

import json

from bench import format_output
from transitdata_hfp_deduplicator_spark.queries import QUERIES


def test_final_line_compact_and_parseable():
    timings = {name: 123.4567 for name in QUERIES}
    assert len(timings) >= 90  # the regime that broke the old format
    detail, final = format_output(timings, 0.1, 0.3634)
    assert len(final) < 200, f"final line {len(final)} chars"
    d = json.loads(final)
    assert d["metric"] == "total_query_runtime"
    assert d["unit"] == "sec"
    assert isinstance(d["value"], float)
    assert d["sf"] == 0.1 and d["calib_sec"] == 0.3634
    assert d["n_queries"] == len(timings)
    # per-query detail fully recoverable from its own line
    dd = json.loads(detail)
    assert dd["queries"] == timings


def test_final_line_is_last_and_detail_precedes():
    detail, final = format_output({"q_x": 1.0}, 0.01, None)
    # contract: main() prints detail then final; both single-line JSON
    assert "\n" not in detail and "\n" not in final
    assert json.loads(final)["calib_sec"] is None


def test_failed_queries_excluded_from_total():
    _, final = format_output({"q_a": 2.0, "q_b": -1.0, "q_c": -1.0}, 0.1, 0.4)
    assert json.loads(final)["value"] == 2.0
    assert json.loads(final)["n_errors"] == 2
    _, clean = format_output({"q_a": 2.0}, 0.1, 0.4)
    assert json.loads(clean)["n_errors"] == 0
    # a full sweep with three-digit error and two-digit retry counts
    # stays tail-parseable
    names = sorted(QUERIES)
    timings = {q: (-1.0 if i < 100 else 1234.5678) for i, q in enumerate(names)}
    retries = {q: {"sec": 9.0, "retry_sec": 1.0, "transient": True} for q in names[-10:]}
    _, final = format_output(timings, 0.1, 3.0512, retries=retries)
    assert json.loads(final)["n_errors"] == 100
    assert len(final) < 200, f"final line {len(final)} chars"
    # ... and so does a subset run that also carries twelve retries
    retries = {q: {"sec": 9.0, "retry_sec": 1.0, "transient": True} for q in names[-12:]}
    _, final = format_output(timings, 0.1, 3.0512, retries=retries, subset=set(names))
    assert json.loads(final)["retried"] == 12 and json.loads(final)["subset"] is True
    assert len(final) < 200, f"final line {len(final)} chars"


def test_calibrate_median_sheds_cold_run_and_outlier():
    """The r9 verdict flagged the old min-of-2 ~0.3s probe: driver calib
    0.2561 vs 0.33-0.45 across four same-day local runs made cross-host
    normalization contradict the per-query bands.  Pin the replacement
    estimator: median-of-5 ignores both the cold first run and a single
    GC-pause outlier, so two back-to-back probes on the same box agree."""
    from bench import calibrate

    # a cold first run + one mid-sweep GC spike; steady state ~3.0s
    run_a = iter([9.2, 3.1, 2.95, 7.8, 3.05])
    run_b = iter([8.7, 3.0, 3.1, 2.9, 3.2])
    calib_a = calibrate(None, probe=lambda _s: next(run_a))
    calib_b = calibrate(None, probe=lambda _s: next(run_b))
    assert calib_a == 3.1 and calib_b == 3.1
    assert abs(calib_a - calib_b) <= 0.10 * max(calib_a, calib_b)


def test_calibrate_even_run_count_uses_midpoint():
    from bench import calibrate

    it = iter([4.0, 2.0, 3.0, 5.0])
    assert calibrate(None, runs=4, probe=lambda _s: next(it)) == 3.5


def test_calib_workload_is_multisecond_scale():
    """The probe job must be big enough (~2-4s measured at 4B rows)
    that scheduler jitter and turbo windows amortize — the old 20M-row
    job was ~90% fixed overhead (200M rows timed only ~0.45s)."""
    from bench import CALIB_ROWS, CALIB_RUNS

    assert CALIB_ROWS >= 2_000_000_000
    assert CALIB_RUNS >= 5


def test_detail_line_carries_sf_and_calib():
    """BENCH_detail.json is the detail line verbatim; it must be
    self-contained (sf + calib ride along with the per-query dict)."""
    detail, _ = format_output({"q_x": 1.0}, 0.1, 3.05)
    d = json.loads(detail)
    assert d["sf"] == 0.1 and d["calib_sec"] == 3.05
    assert d["queries"] == {"q_x": 1.0}


def test_compare_bench_cross_generation_calib_disables_normalization():
    """The calib probe changed scale in round 10 (~0.4s min-of-2 ->
    ~3.4s median-of-5), so old-vs-new BENCH files show an ~8.5x calib
    ratio that is probe generation, not host speed.  Normalizing by it
    would divide every per-query ratio by ~8.5 and mask any real
    regression — the comparator must fall back to raw instead."""
    from tools.compare_bench import effective_speed

    # cross-generation: old probe ~0.41s vs new probe ~3.4s -> raw
    speed, note = effective_speed(0.41, 3.4)
    assert speed == 1.0 and "cross-generation" in note
    speed, note = effective_speed(3.4, 0.41)
    assert speed == 1.0 and "cross-generation" in note
    # same-probe host drift (the measured 1.3x between driver runs)
    # still normalizes
    speed, note = effective_speed(3.0, 3.9)
    assert abs(speed - 1.3) < 1e-9 and note == " — normalized"
    # missing calib on either side -> raw, labeled as such
    speed, note = effective_speed(None, 3.4)
    assert speed == 1.0 and "no calib" in note


def test_compare_bench_probe_generation_tag_is_deterministic():
    """ADVICE r10: the [0.4, 2.5] heuristic conflates a probe-generation
    mismatch with a legitimately much-faster/slower host.  Artifacts
    since round 11 stamp `calib_probe` (bench.py CALIB_PROBE), and when
    both sides carry the tag the comparator decides deterministically:
    same tag -> normalize even OUTSIDE the heuristic window (a genuine
    3x-faster host no longer silently loses normalization); different
    tags -> raw even INSIDE the window."""
    from tools.compare_bench import effective_speed

    # same tag, host 4x faster: the heuristic alone would go raw —
    # with tags it normalizes
    speed, note = effective_speed(3.2, 0.8, "r10", "r10")
    assert abs(speed - 0.25) < 1e-9 and "normalized" in note
    # different tags, ratio innocently inside the window: raw anyway
    speed, note = effective_speed(3.0, 3.3, "r10", "r11")
    assert speed == 1.0 and "cross-generation" in note and "tagged" in note
    # tag on only one side (pre-round-11 artifact): heuristic applies
    speed, note = effective_speed(0.41, 3.4, None, "r10")
    assert speed == 1.0 and "cross-generation" in note
    speed, note = effective_speed(3.0, 3.9, None, "r10")
    assert abs(speed - 1.3) < 1e-9 and "normalized" in note


def test_bench_output_stamps_probe_generation():
    """Both bench lines must carry calib_probe so any future comparator
    input is tagged; the final line stays tail-parseable."""
    from bench import CALIB_PROBE

    detail, final = format_output({"q_x": 1.0}, 0.1, 3.05)
    assert json.loads(detail)["calib_probe"] == CALIB_PROBE
    d = json.loads(final)
    assert d["calib_probe"] == CALIB_PROBE
    assert len(final) < 200


def test_gate_rotation_covers_registry():
    """Every registered query must appear in GATE_ROTATION exactly once
    (a query added without a rotation slot would silently never reach
    the driver's 50-entry correctness window); forward-declared names
    for unreleased queries are allowed, duplicates are not."""
    from transitdata_hfp_deduplicator_spark.queries import GATE_ROTATION

    dupes = {n for n in GATE_ROTATION if GATE_ROTATION.count(n) > 1}
    assert not dupes, f"duplicate rotation entries: {dupes}"
    missing = set(QUERIES) - set(GATE_ROTATION)
    assert not missing, f"registered but not rotated: {missing}"


def test_gate_ordered_is_registry_permutation():
    from transitdata_hfp_deduplicator_spark.queries import gate_ordered

    ordered = gate_ordered()
    assert set(ordered) == set(QUERIES)
    assert list(ordered) != list(QUERIES) or len(QUERIES) <= 1


def test_retry_candidates_gate():
    """VERDICT r11 #1: the bench must self-diagnose outliers.  Only
    readings over RETRY_FACTOR x their idle-box spread median qualify;
    errored queries (negative sentinel) and queries without a reference
    median are skipped."""
    from bench import RETRY_FACTOR, retry_candidates

    assert RETRY_FACTOR == 3.0
    timings = {
        "q_tri": 38.38,   # the r11 contention artifact: 8.2x its median
        "q_ok": 4.70,     # 1.01x — in band
        "q_edge": 14.0,   # exactly 3.0x — NOT an outlier (strict >)
        "q_err": -1.0,    # errored: nothing to re-run
        "q_new": 9.9,     # no spread median: nothing to band-check
    }
    medians = {"q_tri": 4.66, "q_ok": 4.66, "q_edge": 14.0 / 3.0,
               "q_err": 1.0}
    assert retry_candidates(timings, medians) == ["q_tri"]
    assert retry_candidates({}, medians) == []
    assert retry_candidates(timings, {}) == []


def test_resolve_retry_records_both_readings():
    """The record keeps BOTH readings plus the verdict; the reported
    timing is the min (the loop's own estimator), so a transient
    contention reading no longer contaminates the total — and a real
    regression (retry also over band) keeps its inflated number AND is
    labeled non-transient for the judge."""
    from bench import resolve_retry

    # the r11 case: 38.38s contention, 5.74s idle re-run, median 4.66
    t, rec = resolve_retry(38.38, 5.74, 4.66)
    assert t == 5.74
    assert rec == {"sec": 38.38, "retry_sec": 5.74, "transient": True}
    # genuine regression: the retry confirms the slow reading
    t, rec = resolve_retry(38.38, 36.9, 4.66)
    assert t == 36.9 and rec["transient"] is False
    # boundary: retry exactly at 3x median counts as in-band
    t, rec = resolve_retry(20.0, 13.98, 4.66)
    assert rec["transient"] is True


def test_format_output_carries_retries_and_subset():
    """Detail line: full retry records + the subset list; final line:
    compact retried/transient counts + a subset boolean — and it stays
    tail-parseable (<200 chars) in the no-retry full-sweep case, which
    is the driver path (ADVICE r11 #4 + VERDICT r11 #1)."""
    retries = {"q_tri": {"sec": 38.38, "retry_sec": 5.74,
                         "transient": True}}
    detail, final = format_output(
        {"q_tri": 5.74, "q_ok": 1.0}, 0.1, 3.05, retries=retries
    )
    dd, fd = json.loads(detail), json.loads(final)
    assert dd["retries"] == retries
    assert fd["retried"] == 1 and fd["transient"] == 1
    assert "subset" not in dd and "subset" not in fd
    # the corrected timing (not the contaminated one) feeds the total
    assert fd["value"] == 6.74

    detail, final = format_output(
        {"q_b": 1.0, "q_a": 2.0}, 0.1, 3.05, subset={"q_b", "q_a"}
    )
    dd, fd = json.loads(detail), json.loads(final)
    assert dd["subset"] == ["q_a", "q_b"]
    assert fd["subset"] is True
    assert "retries" not in dd and "retried" not in fd

    # the driver path: full sweep, no outliers — unchanged and compact
    _, final = format_output({"q_x": 1.0}, 0.1, 3.05)
    fd = json.loads(final)
    assert "subset" not in fd and "retried" not in fd
    assert len(final) < 200


def test_load_spread_medians(tmp_path):
    """Advisory loader: per-entry null medians are dropped, a missing
    or malformed file returns {} (never raises)."""
    from bench import load_spread_medians

    p = tmp_path / "BENCH_spread.json"
    p.write_text(json.dumps({"queries": {
        "q_a": {"median": 4.66}, "q_b": {"median": None}, "q_c": {},
    }}))
    assert load_spread_medians(str(p)) == {"q_a": 4.66}
    assert load_spread_medians(str(tmp_path / "absent.json")) == {}
    p.write_text("not json")
    assert load_spread_medians(str(p)) == {}


def test_compare_bench_ratio_kind_label_matches_note():
    """ADVICE r11 #1: ratio_kind exact-matched ' — normalized', so the
    tagged path's ' — normalized (same probe generation)' note printed
    '(Nx raw)' on ratios that WERE calib-normalized.  Pin the substring
    contract against effective_speed's actual note outputs — a future
    note string cannot silently mislabel."""
    from tools.compare_bench import effective_speed, ratio_kind_of

    # every note effective_speed can emit, labeled correctly
    for args, expected in [
        ((3.0, 3.9, None, None), "normalized"),       # heuristic path
        ((3.2, 3.4, "r10", "r10"), "normalized"),      # tagged path
        ((3.0, 3.3, "r10", "r11"), "raw"),             # cross-gen tagged
        ((0.41, 3.4, None, None), "raw"),              # cross-gen heuristic
        ((None, 3.4, None, None), "raw"),              # no calib
    ]:
        _, note = effective_speed(*args)
        assert ratio_kind_of(note) == expected, (args, note)


def test_compare_bench_subset_warning():
    """ADVICE r11 #4: a tail-captured subset run is structurally
    identical to a full-registry artifact — the comparator must warn
    when either side carries the subset stamp or when the two sides'
    n_queries stamps disagree markedly."""
    from tools.compare_bench import subset_warning

    full = {"n_queries": 134, "queries": {}}
    sub = {"n_queries": 7, "subset": True, "queries": {}}
    assert "subset" in subset_warning(full, sub)
    assert "subset" in subset_warning(sub, full)
    # pre-stamp subset artifact (no boolean): the count check catches it
    old_sub = {"n_queries": 7, "queries": {}}
    assert "134 vs 7" in subset_warning(full, old_sub) or (
        "7" in subset_warning(full, old_sub)
    )
    # two full-registry files (count drift within a round is small)
    assert subset_warning(full, {"n_queries": 134, "queries": {}}) is None
    assert subset_warning({"queries": {}}, {"queries": {}}) is None


def test_bench_only_subset_parse():
    """SPARK_GRAFT_BENCH_ONLY targeted-rerun mode: empty/None means the
    full sweep; whitespace and trailing commas are forgiven; and the
    detail artifact is guarded in main() so a subset run can never
    overwrite the whole-registry BENCH_detail.json."""
    from bench import parse_only

    assert parse_only(None) == set()
    assert parse_only("") == set()
    assert parse_only("  ") == set()
    assert parse_only("q_a,q_b") == {"q_a", "q_b"}
    assert parse_only(" q_a , q_b ,") == {"q_a", "q_b"}


def test_rotation_tiers_pass_semantics(tmp_path):
    """tools/rotation_tiers.py derives evidence tiers mechanically from
    the CORRECTNESS artifacts: a green row is (err is None and
    rows_match, with hash_match/schema_match not recorded-False —
    ADVICE r12 #1: a rows-match-but-hash-mismatch row is NOT
    correctness evidence, while absent keys in older artifacts still
    count) OR a produced-rows `no_oracle` row (the declared rows-only
    queries); errored and mismatched rows never count, and the LATEST
    green round wins."""
    import json as _json

    from tools.rotation_tiers import last_pass_rounds

    (tmp_path / "CORRECTNESS_r03.json").write_text(_json.dumps({
        "q_a": {"rows_match": True, "err": None},
        "q_b": {"rows_match": True, "err": None},
        "q_hash_bad": {"rows_match": True, "hash_match": True,
                       "schema_match": True, "err": None},
        "q_schema_bad": {"rows_match": True, "hash_match": True,
                         "schema_match": True, "err": None},
        "q_rows_only": {"rows_match": None, "spark_rows": 3,
                        "err": "no_oracle"},
    }))
    (tmp_path / "CORRECTNESS_r05.json").write_text(_json.dumps({
        "q_a": {"rows_match": True, "err": None},
        "q_b": {"rows_match": False, "err": None},       # mismatch
        "q_c": {"rows_match": True, "err": "boom"},      # errored
        # rows match but values/schema recorded-mismatch: not green
        "q_hash_bad": {"rows_match": True, "hash_match": False,
                       "schema_match": True, "err": None},
        "q_schema_bad": {"rows_match": True, "hash_match": True,
                         "schema_match": False, "err": None},
        "q_rows_only": {"rows_match": None, "spark_rows": None,
                        "err": "no_oracle"},             # produced nothing
    }))
    last = last_pass_rounds(str(tmp_path))
    assert last == {"q_a": 5, "q_b": 3, "q_hash_bad": 3,
                    "q_schema_bad": 3, "q_rows_only": 3}


def test_warm2_tier_includes_mid_descent_class():
    """VERDICT r13 watch item (q_ts_correlate): fresh-JVM timings on
    the identical plan descend 7.9 -> 2.6s over six runs, and the
    timed loop's <4s exit stops after two — so ~2-3s-median queries
    sample mid-C2-descent exactly like the >3s heavies.  The sf0.01
    warm tier therefore takes every query whose spread median exceeds
    WARM2_MEDIAN_SEC (2.0), not 3.0 as through r13.  Warm-up is
    untimed, so the tier widening changes no estimator."""
    from bench import WARM2_MEDIAN_SEC, warm2_tier

    assert WARM2_MEDIAN_SEC == 2.0
    tier = warm2_tier({"q_a": 2.19, "q_b": 1.99, "q_c": 3.5})
    assert "q_a" in tier and "q_c" in tier  # the watch-item class + heavies
    assert "q_b" not in tier  # sub-2s queries: jitter is GC noise, not C2
    # known-heavy fallback survives an absent/empty spread file
    assert "q_graph_triangles" in warm2_tier({})
    assert "q_graph_triangles" in warm2_tier(None)
