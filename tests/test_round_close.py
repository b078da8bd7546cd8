"""Unit tests for the round-close gate's individual checks (the pytest
step itself is exercised by running the tool, not recursively here).

The full gate is a CLI run at the end of a round; these tests pin the
check logic so a refactor can't silently weaken it. The repo-state
checks (artifacts tracked, smoke freshness) are asserted on the REAL
repo only behind the round-close opt-in, since mid-round working trees
are legitimately dirty.
"""

from __future__ import annotations

import os

import pytest
from round_close import (
    check_docs_mention_round,
    check_smoke_fresh,
    code_fingerprint,
    current_round,
    smoke_gated_paths,
)


def test_current_round_is_positive():
    assert current_round() >= 8


def test_docs_mention_current_round():
    assert check_docs_mention_round(current_round()) == []


def test_docs_check_flags_future_round():
    missing = check_docs_mention_round(current_round() + 20)
    assert any("SURVEY.md" in m for m in missing)


def test_smoke_gated_paths_cover_kernels_and_tools():
    paths = smoke_gated_paths()
    assert any(p.endswith("functions") for p in paths)
    assert "tools/measure.py" in paths
    assert any(p.endswith("q_embed.py") for p in paths), (
        "the RP-LSH module (the r7 smoke-vs-artifact drift) must be gated"
    )


_FN_V1 = '''
def agg(df):
    """Group and sum."""
    # a comment
    return df.groupBy("k").sum("v")
'''

_FN_V1_DOC_ONLY = '''
def agg(df):
    """Group and sum (note: hashing runs once per join side)."""
    # a reworded comment, plus trailing whitespace below
    return df.groupBy("k").sum("v")
'''

_FN_V2_CODE = '''
def agg(df):
    """Group and sum."""
    # a comment
    return df.groupBy("k").max("v")
'''


def test_fingerprint_ignores_comment_and_docstring_edits():
    # The f107ba7 class: a comment/docstring-only touch of a smoke-gated
    # module must not invalidate SCALE_SMOKE.json (VERDICT r11 item 5).
    assert code_fingerprint(_FN_V1) == code_fingerprint(_FN_V1_DOC_ONLY)


def test_fingerprint_detects_real_code_change():
    assert code_fingerprint(_FN_V1) != code_fingerprint(_FN_V2_CODE)


def test_fingerprint_unparseable_falls_back_to_raw():
    # A syntax-broken file must never compare equal to a different
    # syntax-broken file (no masking of real edits).
    assert code_fingerprint("def broken(:") != code_fingerprint("def broke(:")
    assert code_fingerprint("def broken(:") == code_fingerprint("def broken(:")


def test_fingerprint_docstring_only_module():
    # Stripping the docstring of a module/function whose body is ONLY a
    # docstring must still parse-compare (Pass() placeholder).
    assert code_fingerprint('"""mod doc."""') == code_fingerprint(
        '"""different mod doc."""'
    )


def _tmp_git(repo: str, *args: str) -> str:
    import subprocess

    return subprocess.run(
        ["git", *args], cwd=repo, capture_output=True, text=True, check=True
    ).stdout


def test_code_changed_since_ignores_comment_only_but_flags_code(
    tmp_path, monkeypatch
):
    # The f107ba7 class end-to-end: a comment/docstring-only commit to a
    # gated module after the smoke must NOT read as a code change, while
    # a real code touch must (VERDICT r11 item 5, both directions).
    import round_close as rc

    repo = str(tmp_path)
    _tmp_git(repo, "init", "-q")
    _tmp_git(repo, "config", "user.email", "t@t")
    _tmp_git(repo, "config", "user.name", "t")
    mod = tmp_path / "mod.py"
    mod.write_text(_FN_V1)
    _tmp_git(repo, "add", "mod.py")
    _tmp_git(repo, "commit", "-qm", "base")
    base = _tmp_git(repo, "rev-parse", "HEAD").strip()

    monkeypatch.setattr(rc, "_ROOT", repo)

    mod.write_text(_FN_V1_DOC_ONLY)
    _tmp_git(repo, "commit", "-aqm", "comment-only")
    assert rc._code_changed_since(base, "mod.py") is False

    mod.write_text(_FN_V2_CODE)
    _tmp_git(repo, "commit", "-aqm", "real change")
    assert rc._code_changed_since(base, "mod.py") is True

    # A file added under the gated path since the smoke is a change.
    (tmp_path / "new.py").write_text(_FN_V1)
    _tmp_git(repo, "add", "new.py")
    _tmp_git(repo, "commit", "-qm", "add file")
    assert rc._code_changed_since(base, ".") is True


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_ROUND_CLOSE") != "1",
    reason="repo-state checks are round-boundary opt-in: "
    "SPARK_GRAFT_ROUND_CLOSE=1",
)
def test_smoke_artifact_is_fresh():
    assert check_smoke_fresh() == []


def test_artifacts_check_flags_deleted_and_renamed(monkeypatch):
    """code-review r15: the old check globbed the working tree, so a
    deleted or git-mv'd artifact left nothing to find and the check
    passed vacuously. Every porcelain status on an artifact must flag,
    including both sides of a rename."""
    import round_close as rc

    porcelain = (
        " D BENCH_r14.json\n"
        "R  SCALE_SMOKE.json -> SMOKE_OLD.json\n"
        "?? BENCH_r15.json\n"
        " M eprints_to_hyku_data_tool_spark/functions/graph.py\n"
    )
    monkeypatch.setattr(
        rc, "_git", lambda *a: porcelain if a[0] == "status" else ""
    )
    bad = rc.check_artifacts_tracked()
    flagged = "\n".join(bad)
    assert "BENCH_r14.json" in flagged
    assert "SCALE_SMOKE.json" in flagged
    assert "BENCH_r15.json" in flagged
    assert "graph.py" not in flagged  # source is another check's job


def test_gated_tree_clean_flags_uncommitted_kernel_edit(monkeypatch):
    """code-review r15: the smoke-staleness check compares committed
    blobs only; an uncommitted kernel edit must fail the close through
    the new tree-clean check instead of sailing through."""
    import round_close as rc

    monkeypatch.setattr(
        rc,
        "_git",
        lambda *a: (
            " M eprints_to_hyku_data_tool_spark/functions/graph.py\n"
            if a[0] == "status"
            else ""
        ),
    )
    monkeypatch.setattr(
        rc,
        "smoke_gated_paths",
        lambda: ["eprints_to_hyku_data_tool_spark/functions"],
    )
    bad = rc.check_gated_tree_clean()
    assert bad and "uncommitted" in bad[0]
    monkeypatch.setattr(rc, "_git", lambda *a: "")
    assert rc.check_gated_tree_clean() == []


def test_smoke_gate_covers_resolution_layer():
    """code-review r15: registry.py/__spark_entry__.py decide which
    callable each HEAVY name resolves to — they must invalidate the
    smoke like the kernels do."""
    paths = smoke_gated_paths()
    assert "eprints_to_hyku_data_tool_spark/plans/registry.py" in paths
    assert "__spark_entry__.py" in paths


def test_scale_smoke_requires_matching_tier_manifest(tmp_path):
    """code-review r15: the scale gate's linear bound is 2x --copies, so
    a stale tier built with fewer copies made the gate vacuous.
    `measure.py scale` must refuse to run without a manifest, and refuse
    a copies mismatch — both before any Spark work."""
    import json as _json

    import measure

    tier = tmp_path / "tier"
    tier.mkdir()
    argv = ["scale", "--tier", str(tier), "--copies", "10"]
    with pytest.raises(SystemExit, match="tier_manifest"):
        measure.main(argv)
    (tier / "tier_manifest.json").write_text(
        _json.dumps({"copies": 3, "src": "x", "rows": {}})
    )
    with pytest.raises(SystemExit, match="copies=3"):
        measure.main(argv)
