"""Unit tests for bench.py's recorded-bench parsing helpers.

These are pure functions (no SparkSession): they recover per-query
timing maps from the three recorded-bench layouts the regression gate
must read — the raw JSON line, the driver's {"parsed", "tail"} wrapper,
and truncated tails. The 3-digit-name anchor case is a regression test
for the round-6 review finding: the bracket-matching path was dead for
tails whose first (worst) key is a rotated z3xx/z434 name because the
anchor regex only matched 2-digit names.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _extract_queries  # noqa: E402


def test_raw_layout():
    obj = {"queries": {"q01_a": 1.5, "z302_b": 2.0}}
    assert _extract_queries(obj) == {"q01_a": 1.5, "z302_b": 2.0}


def test_parsed_wrapper_layout():
    obj = {"parsed": {"queries": {"z129539_histogram": 0.4}}, "tail": ""}
    assert _extract_queries(obj) == {"z129539_histogram": 0.4}


def test_tail_bracket_match_two_digit_names():
    inner = {"q01_scan": 1.25, "q02_filter": 0.5}
    tail = 'blah "queries": ' + json.dumps(inner) + ', "sf": 0.1}'
    assert _extract_queries({"tail": tail}) == inner


def test_tail_bracket_match_three_digit_names():
    # Round-6 rotation produces z3xx/z434 names; a compact line's worst
    # key can be one of them, and the structured-parse path must still
    # anchor (review r6: the old anchor regex required exactly 2 digits).
    inner = {"q9341_kmeans_lloyd": 3.2, "q9434_heavyhitters": 1.1}
    tail = '..."queries": ' + json.dumps(inner) + ', "errors": []}'
    assert _extract_queries({"tail": tail}) == inner


def test_tail_scavenger_when_opening_brace_lost():
    # Truncated mid-object: no opening brace for the map survives.
    tail = '_lsh": 4.125, "z61_topk_sim": 0.8, "z11662_text_stats": 1.47}'
    got = _extract_queries({"tail": tail})
    assert got == {"z61_topk_sim": 0.8, "z11662_text_stats": 1.47}


def test_tail_bracket_matcher_skips_regressions_object():
    # The matcher can land on the regressions object (dict values) when
    # the queries map lost its brace — non-numeric entries are dropped,
    # then the scavenger recovers the surviving numeric pairs.
    tail = (
        '"regressions": {"z11660_minhash_lsh": {"prev": 4.1, "now": 7.0}}, '
        '"queries2": "x"'
    )
    got = _extract_queries({"tail": tail})
    assert "z11660_minhash_lsh" not in got or isinstance(
        got.get("z11660_minhash_lsh"), float
    )


def test_tail_anchor_on_queries_label_with_build_first_key():
    # Round 6+ compact lines order queries worst-first, so the first key
    # is usually a `_build_*` entry; the structured path must anchor on
    # the "queries" label, not the first key's shape (ADVICE r6).
    inner = {"_build_copurchase_graph": 12.9, "q88_pagerank": 9.9}
    tail = '... "queries": ' + json.dumps(inner) + ', "sf": 0.1}'
    assert _extract_queries({"tail": tail}) == inner


def test_tail_scavenger_recovers_build_entries():
    tail = 'raph": 12.9, "_build_neardup_pairs": 7.8, "q88_pagerank": 9.9}'
    got = _extract_queries({"tail": tail})
    assert got == {"_build_neardup_pairs": 7.8, "q88_pagerank": 9.9}


# ---------------------------------------------------------------------------
# _merge_sidecar gating (ADVICE r6): a total regex-scavenged from a
# truncated tail must not reject the matching sidecar, while an
# overwritten sidecar from a later re-run must still be rejected.
# ---------------------------------------------------------------------------
from bench import _merge_sidecar  # noqa: E402


def _write_sidecar(tmp_path, value, n_queries, queries):
    p = tmp_path / "BENCH_local.json"
    p.write_text(
        json.dumps(
            {"value": value, "n_queries": n_queries, "queries": queries}
        )
    )
    return str(p)


def test_merge_sidecar_exact_total(tmp_path):
    side_q = {"q01_a": 1.0, "z302_b": 2.0}
    p = _write_sidecar(tmp_path, 217.363, 2, side_q)
    got = _merge_sidecar({"value": 217.363}, {"q01_a": 1.0}, sidecar_path=p)
    assert got == side_q


def test_merge_sidecar_truncated_total_prefix(tmp_path):
    # tail cut mid-number: "217.363" became "217.3" — still same run.
    side_q = {"q01_a": 1.0, "z302_b": 2.0}
    p = _write_sidecar(tmp_path, 217.363, 2, side_q)
    got = _merge_sidecar({"tail": '"value": 217.3'}, {}, sidecar_path=p)
    assert got == side_q


def test_merge_sidecar_rejects_rerun_overwrite(tmp_path):
    # Later local re-run overwrote the sidecar: same query count, but a
    # clearly different total. The count alone must NOT accept it.
    side_q = {"q01_a": 9.0, "z302_b": 8.0}
    p = _write_sidecar(tmp_path, 181.2, 2, side_q)
    got = _merge_sidecar(
        {"value": 217.363, "n_queries": 2}, {"q01_a": 1.0}, sidecar_path=p
    )
    assert got == {"q01_a": 1.0}


def test_merge_sidecar_count_only_when_no_total(tmp_path):
    # No total recoverable anywhere: the query count is the only
    # fingerprint left, and it may accept.
    side_q = {"q01_a": 1.0}
    p = _write_sidecar(tmp_path, 100.0, 1, side_q)
    got = _merge_sidecar({"n_queries": 1, "tail": ""}, {}, sidecar_path=p)
    assert got == side_q


def test_merge_sidecar_short_prefix_does_not_cross_magnitudes(tmp_path):
    # ADVICE r7: an integer-ish recorded total ("217") is a decimal-string
    # prefix of a 10x-larger re-run total (2175.3) — the prefix rule must
    # not treat that as a truncation match.
    side_q = {"q01_a": 9.0}
    p = _write_sidecar(tmp_path, 2175.3, 1, side_q)
    got = _merge_sidecar({"value": 217.0}, {"q01_a": 1.0}, sidecar_path=p)
    assert got == {"q01_a": 1.0}


def test_merge_sidecar_zero_total_is_not_missing(tmp_path):
    # ADVICE r7: a recorded total of 0.0 must gate on the TOTAL (reject a
    # non-zero sidecar), not fall through to parsed/count acceptance.
    side_q = {"q01_a": 9.0}
    p = _write_sidecar(tmp_path, 100.0, 1, side_q)
    got = _merge_sidecar(
        {"value": 0.0, "n_queries": 1, "parsed": {"value": 100.0}},
        {"q01_a": 1.0},
        sidecar_path=p,
    )
    assert got == {"q01_a": 1.0}


def test_scale_tier_rejects_periodic_copy_counts():
    # ADVICE r7: above 26 copies the alphabet rotation wraps to the
    # identity and copies become exact duplicates — must fail loudly.
    import pytest

    from make_scale_tier import build_tier

    with pytest.raises(ValueError, match=r"\[1, 26\]"):
        build_tier(None, "src", "out", 27)
    with pytest.raises(ValueError, match=r"\[1, 26\]"):
        build_tier(None, "src", "out", 0)


def test_warm_rerun_flagged_builds_records_fresh_min(monkeypatch):
    """A flagged _build_* entry is re-timed via the (injected) fresh-
    session runner and the min lands in timings — no post-hoc
    adjudication needed (VERDICT r9 item 3). Query flags are ignored."""
    import bench

    timings = {"_build_neardup_pairs": 32.94, "q901_scan_count": 9.0}
    monkeypatch.setattr(
        bench,
        "regressions_vs_previous",
        lambda t, sf, threshold=1.5, quiet=False: {
            "_build_neardup_pairs": {"prev": 7.85, "now": 32.94},
            "q901_scan_count": {"prev": 4.0, "now": 9.0},
        },
    )
    ran = bench.warm_rerun_flagged_builds(
        timings,
        0.1,
        "/nonexistent",
        runner=lambda names, sf_dir, runs: {n: [8.59] for n in names},
    )
    assert ran == ["_build_neardup_pairs"]
    assert timings["_build_neardup_pairs"] == 8.59
    assert timings["q901_scan_count"] == 9.0  # untouched: not a build


def test_warm_rerun_flagged_builds_survives_runner_failure(monkeypatch):
    """A runner crash keeps the in-suite number (and its flag) instead
    of failing the bench."""
    import bench

    timings = {"_build_copurchase_graph": 20.0}
    monkeypatch.setattr(
        bench,
        "regressions_vs_previous",
        lambda t, sf, threshold=1.5, quiet=False: {
            "_build_copurchase_graph": {"prev": 8.0, "now": 20.0}
        },
    )

    def boom(names, sf_dir, runs):
        raise RuntimeError("no spark here")

    bench.warm_rerun_flagged_builds(timings, 0.1, "/nonexistent", runner=boom)
    assert timings["_build_copurchase_graph"] == 20.0


def test_warm_rerun_no_flags_is_a_noop(monkeypatch):
    import bench

    timings = {"_build_neardup_pairs": 7.9}
    monkeypatch.setattr(
        bench,
        "regressions_vs_previous",
        lambda t, sf, threshold=1.5, quiet=False: {},
    )
    called = []
    bench.warm_rerun_flagged_builds(
        timings, 0.1, "/x", runner=lambda *a: called.append(a) or {}
    )
    assert not called and timings["_build_neardup_pairs"] == 7.9


def test_regression_gate_matches_rotated_names_by_suffix(tmp_path, monkeypatch):
    """A rotation changes every prefix and no suffix: each entry still
    finds its previous timing, with no coverage note. A suffix that the
    previous bench holds twice is skipped, not guessed."""
    import bench

    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    prev = {f"z{i:02d}_q{i:02d}": 1.0 for i in range(40)}
    prev.update({"q90_dup": 1.0, "z90_dup": 1.0})
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"sf": 0.1, "queries": prev})
    )
    now = {f"q{i + 100}_q{i:02d}": 1.0 for i in range(40)}
    now["x77_dup"] = 1.0
    bench.GATE_NOTES.clear()
    try:
        # threshold 0 reports every matched entry
        out = bench.regressions_vs_previous(now, 0.1, threshold=0, quiet=True)
        assert sorted(out) == sorted(n for n in now if n != "x77_dup")
        assert bench.GATE_NOTES == []
    finally:
        bench.GATE_NOTES.clear()


def test_regression_gate_quiet_when_coverage_full(tmp_path, monkeypatch):
    """Full-coverage comparisons must add NO gate notes (the loudness is
    for broken gates, not healthy ones)."""
    import bench

    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    names = {f"z{i:02d}_q{i:02d}": 1.0 for i in range(40)}
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"sf": 0.1, "queries": names})
    )
    bench.GATE_NOTES.clear()
    try:
        out = bench.regressions_vs_previous(dict(names), 0.1, quiet=True)
        assert out == {}
        assert bench.GATE_NOTES == []
    finally:
        bench.GATE_NOTES.clear()
