"""`tools/measure.py adjudicate` — the mechanical bench-flag adjudicator
(VERDICT r8 item 4). Unit-tests the verdict thresholds and payload
shapes and the fresh-session routing, plus one real end-to-end run: a
fabricated sidecar flags a cheap query, the tool spins a genuinely
fresh session at sf0.001, re-runs it, and writes machine verdicts back
into the sidecar."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))

from measure import (  # noqa: E402
    adjudicate,
    append_baseline_rows,
    classify,
    load_payload,
)


def test_classify_thresholds():
    assert classify(1.0, 1.0) == "refuted"
    assert classify(1.0, 1.2) == "refuted"  # ambient band inclusive
    assert classify(1.0, 1.21) == "inconclusive"
    assert classify(1.0, 1.5) == "inconclusive"
    assert classify(1.0, 1.51) == "confirmed"
    assert classify(3.39, 3.26) == "refuted"  # the r8 q90 case


def test_load_payload_unwraps_driver_shape(tmp_path):
    payload = {"regressions": {"q": {"prev": 1, "now": 3}}}
    side = tmp_path / "BENCH_local.json"
    side.write_text(json.dumps(payload))
    wrap = tmp_path / "BENCH_r08.json"
    wrap.write_text(json.dumps({"n": 8, "tail": "...", "parsed": payload}))
    assert load_payload(str(side)) == payload
    assert load_payload(str(wrap)) == payload


def test_adjudicate_maps_flags_to_verdicts():
    regs = {
        "a": {"prev": 1.0, "now": 3.0, "ratio": 3.0},
        "b": {"prev": 2.0, "now": 5.0, "ratio": 2.5},
        "missing": {"prev": 1.0, "now": 9.0},
    }
    warm = {"a": [2.9, 1.1, 0.9], "b": [4.8, 4.4, 4.6]}
    out = adjudicate(regs, warm)
    assert out["a"]["verdict"] == "refuted" and out["a"]["warm_min"] == 0.9
    assert out["b"]["verdict"] == "confirmed"
    assert "missing" not in out  # no warm data -> no verdict invented


def test_append_baseline_rows_creates_section(tmp_path, monkeypatch):
    import measure as mod

    monkeypatch.setattr(mod, "_ROOT", str(tmp_path))
    (tmp_path / "BASELINE.md").write_text("# BASELINE\n")
    verdicts = {
        "q90": {
            "prev": 3.39,
            "flagged": 8.04,
            "warm_runs": [9.22, 3.70, 3.26],
            "warm_min": 3.26,
            "verdict": "refuted",
        }
    }
    append_baseline_rows(verdicts, "r8")
    text = (tmp_path / "BASELINE.md").read_text()
    assert "Machine adjudications" in text
    assert "| r8 | q90 | 3.39 s | 8.04 s | 9.22 / 3.70 / 3.26 s" in text
    # appending again extends the same section, no duplicate headers
    append_baseline_rows(verdicts, "r9")
    text = (tmp_path / "BASELINE.md").read_text()
    assert text.count("Machine adjudications") == 1
    assert "| r9 | q90 |" in text


def test_append_baseline_rows_inserts_inside_table(tmp_path, monkeypatch):
    """Rows must land at the end of the adjudication TABLE, not at
    end-of-file: a section written below 'Machine adjudications' would
    otherwise swallow every later verdict row (code review r9)."""
    import measure as mod

    monkeypatch.setattr(mod, "_ROOT", str(tmp_path))
    (tmp_path / "BASELINE.md").write_text("# BASELINE\n")
    verdicts = {
        "q90": {
            "prev": 3.39,
            "flagged": 8.04,
            "warm_runs": [3.26],
            "warm_min": 3.26,
            "verdict": "refuted",
        }
    }
    append_baseline_rows(verdicts, "r9")
    path = tmp_path / "BASELINE.md"
    path.write_text(path.read_text() + "\n## Later section\n\nprose.\n")
    append_baseline_rows(verdicts, "r10")
    text = path.read_text()
    assert text.index("| r10 | q90 |") < text.index("## Later section")
    assert text.index("| r9 | q90 |") < text.index("| r10 | q90 |")


def test_append_baseline_rows_ignores_later_tables(tmp_path, monkeypatch):
    """A later section containing its own markdown TABLE must not
    capture new verdict rows — the scan stops at the end of the first
    contiguous '|' run after the header, never at the global last '|'
    line (code review r10)."""
    import measure as mod

    monkeypatch.setattr(mod, "_ROOT", str(tmp_path))
    (tmp_path / "BASELINE.md").write_text("# BASELINE\n")
    verdicts = {
        "q90": {
            "prev": 3.39,
            "flagged": 8.04,
            "warm_runs": [3.26],
            "warm_min": 3.26,
            "verdict": "refuted",
        }
    }
    append_baseline_rows(verdicts, "r9")
    path = tmp_path / "BASELINE.md"
    path.write_text(
        path.read_text()
        + "\n## Later section\n\n| other | table |\n|---|---|\n| x | y |\n"
    )
    append_baseline_rows(verdicts, "r10")
    text = path.read_text()
    assert text.index("| r10 | q90 |") < text.index("## Later section")
    assert text.index("| r9 | q90 |") < text.index("| r10 | q90 |")


@pytest.mark.skipif(
    not os.path.isdir("/root/testdata/sf0.001"), reason="no testdata"
)
def test_end_to_end_fresh_session(tmp_path):
    """Fabricated flag on a cheap query: prev=100s guarantees 'refuted';
    the tool must run the real fresh-session runner and write verdicts
    (with 3 warm runs) back into the sidecar."""
    side = tmp_path / "BENCH_local.json"
    side.write_text(
        json.dumps(
            {
                "regressions": {
                    "q901_scan_count": {"prev": 100.0, "now": 400.0}
                }
            }
        )
    )
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(_ROOT, "tools", "measure.py"),
            "adjudicate",
            "--bench",
            str(side),
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--runs",
            "3",
            "--no-baseline",
        ],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    data = json.loads(side.read_text())
    v = data["adjudications"]["q901_scan_count"]
    assert v["verdict"] == "refuted" and len(v["warm_runs"]) == 3
    assert v["warm_min"] <= 100.0


def test_build_entries_use_per_run_fresh_sessions(monkeypatch):
    """Round-9 extension, found on the tool's FIRST live flag
    (_build_copurchase_graph): bench's `_build_*` shared-intermediate
    entries are session-memoized, so in-session re-runs would time the
    memo (~0 s) and auto-refute ANY build flag. The fresh runner must
    give every run of a `_build_*` name a child session of its own, and
    time the queries together in one child."""
    import measure as mod

    calls = []

    def fake_spawn(names, sf_dir, runs, cpus=None):
        calls.append((names, runs))
        t = 7.4 if names[0].startswith("_build_") else 0.5
        return {"times": {n: [t] * runs for n in names}}

    monkeypatch.setattr(mod, "_spawn", fake_spawn)

    regs = {
        "_build_copurchase_graph": {"prev": 8.2, "now": 16.7},
        "q90_x": {"prev": 0.5, "now": 2.0},
    }
    out = mod.adjudicate(regs, mod.run_fresh(sorted(regs), "sf", 3))
    assert calls == [(["q90_x"], 3)] + [(["_build_copurchase_graph"], 1)] * 3
    assert out["_build_copurchase_graph"]["warm_runs"] == [7.4] * 3
    assert out["_build_copurchase_graph"]["verdict"] == "refuted"
    assert out["q90_x"]["verdict"] == "refuted"
