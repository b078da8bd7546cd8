"""Round-boundary artifact check (VERDICT r7 item 6).

Twice (rounds 6 and 7) the end-of-round state depended on manual
discipline and drifted: bench/correctness sidecars left untracked, a
SCALE_SMOKE.json documenting a bug the very next commit had fixed, and
a rotation test that went red the moment the driver's green sweep
landed. This tool makes the close mechanical — ONE command the round
ends with:

    python tools/round_close.py [--skip-pytest]

Checks, in order:

1. **Artifacts tracked and clean** — every BENCH_r*.json,
   CORRECTNESS_r*.json, SCALE_SMOKE.json and the
   BENCH_local.json sidecar is committed (neither untracked nor
   modified in the working tree).
2. **Docs mention the current round** — SURVEY.md has a round-N delta
   section and BASELINE.md quotes a round >= N-1 table, where N is
   rotation_planner.current_round().
3. **Scale-smoke freshness** — SCALE_SMOKE.json's last commit is no
   older than the last commit touching any module that defines a HEAVY
   smoke query or the shared `functions/` kernels it times (the r7
   drift: the artifact recorded the pre-fix RP-LSH ratio while the fix
   shipped one commit later).
4. **pytest green** — runs the default suite unless --skip-pytest.

Exit code 0 = close is clean; 1 = violations printed.
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys

from rotation_planner import current_round

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ARTIFACT_GLOBS = [
    "BENCH_r*.json",
    "CORRECTNESS_r*.json",
    "SCALE_SMOKE.json",
    "BENCH_local.json",
    # Same committed-evidence class as the smoke (r12 additions):
    "LEDGER_BENCH.json",
    "RPLSH_EXPONENT.json",
]


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=_ROOT, capture_output=True, text=True, check=True
    ).stdout


def check_artifacts_tracked() -> list[str]:
    """Flag ANY porcelain status on an evidence artifact — modified,
    untracked, deleted, or renamed. The old form globbed the WORKING
    TREE and tested membership in the dirty set, so a deleted or
    git-mv'd artifact left no file for glob to find and the check
    passed vacuously (code-review r15, verified by deleting
    BENCH_r14.json live)."""
    import fnmatch

    bad = []
    seen: set[str] = set()
    for line in _git("status", "--porcelain").splitlines():
        code, body = line[:2].strip() or "??", line[3:]
        # Renames carry both sides; flag each.
        for part in body.split(" -> "):
            rel = part.strip().strip('"')
            name = os.path.basename(rel)
            if rel in seen:
                continue
            if any(fnmatch.fnmatch(name, pat) for pat in ARTIFACT_GLOBS):
                seen.add(rel)
                bad.append(f"artifact not committed (status {code}): {rel}")
    return bad


def check_gated_tree_clean() -> list[str]:
    """The smoke-staleness check compares COMMITTED blobs only, so an
    uncommitted edit to smoke-gated source would sail through it — the
    kernel change would land after the close under the previous round's
    smoke evidence (code-review r15). The close requires the gated
    source clean in the working tree."""
    gated = smoke_gated_paths()
    out = _git("status", "--porcelain", "--", *gated).strip()
    if out:
        return [
            "smoke-gated source has uncommitted changes (the smoke "
            f"artifact cannot cover them):\n{out}"
        ]
    return []


def check_docs_mention_round(n: int) -> list[str]:
    bad = []
    # \b anchors so round 8 is not satisfied by a round-80 mention.
    survey = open(os.path.join(_ROOT, "SURVEY.md")).read()
    if not re.search(rf"Round-{n}\b delta", survey):
        bad.append(f"SURVEY.md has no 'Round-{n} delta' section")
    baseline = open(os.path.join(_ROOT, "BASELINE.md")).read()
    if not re.search(rf"[Rr]ound[- ]{n}\b|[Rr]ound[- ]{n - 1}\b", baseline):
        bad.append(f"BASELINE.md mentions neither round {n} nor {n - 1}")
    return bad


def _last_commit_epoch(*paths: str) -> int:
    out = _git("log", "-1", "--format=%ct", "--", *paths).strip()
    return int(out) if out else 0


def smoke_gated_paths() -> list[str]:
    """The source files whose changes invalidate SCALE_SMOKE.json: the
    modules defining each HEAVY query plus the shared kernels."""
    from eprints_to_hyku_data_tool_spark.plans.registry import (
        REGISTRY,
        _load_all,
    )
    from measure import HEAVY

    _load_all()
    paths = {os.path.join(_ROOT, "eprints_to_hyku_data_tool_spark", "functions")}
    for name in HEAVY:
        mod = sys.modules[REGISTRY[name].fn.__module__]
        paths.add(mod.__file__)
    paths.add(os.path.join(_ROOT, "tools", "make_scale_tier.py"))
    paths.add(os.path.join(_ROOT, "tools", "measure.py"))
    # The resolution layer (code-review r15): these decide which
    # callable each HEAVY name resolves to — a change there can alter
    # what the smoke measures without touching any gated module.
    paths.add(
        os.path.join(
            _ROOT, "eprints_to_hyku_data_tool_spark", "plans", "registry.py"
        )
    )
    paths.add(os.path.join(_ROOT, "__spark_entry__.py"))
    return sorted(os.path.relpath(p, _ROOT) for p in paths)


def _strip_docstrings(tree: "ast.AST") -> "ast.AST":
    """Remove leading string-constant Expr nodes (docstrings) from every
    module/class/function body so a doc-only edit compares equal."""
    import ast

    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            node.body = body[1:] or [ast.Pass()]
    return tree


def code_fingerprint(src: str) -> str:
    """A comparison key for Python source that is invariant under
    comment, whitespace, and docstring edits (VERDICT r11 item 5: a
    comment-only commit to a smoke-gated module must not demand a 10x
    smoke re-run). Unparseable source falls back to the raw text so a
    real change is never masked."""
    import ast

    try:
        return ast.dump(_strip_docstrings(ast.parse(src)))
    except SyntaxError:
        return src


def _blob_at(commit: str, rel: str) -> str | None:
    try:
        return _git("show", f"{commit}:{rel}")
    except subprocess.CalledProcessError:
        return None  # file did not exist at that commit


def _code_changed_since(commit: str, rel: str) -> bool:
    """True iff the *code* (AST, comments/docstrings stripped) of any
    Python file under `rel` differs between `commit` and HEAD — both
    sides from git, never the working tree (a dirty tree could mask a
    committed change; the artifacts-clean check guards the tree
    separately). Non-.py files and added/deleted files count as
    changed."""
    changed = _git("diff", "--name-only", commit, "HEAD", "--", rel)
    for f in changed.splitlines():
        f = f.strip()
        if not f:
            continue
        if not f.endswith(".py"):
            return True
        old = _blob_at(commit, f)
        new = _blob_at("HEAD", f)
        if old is None or new is None:
            return True
        if code_fingerprint(old) != code_fingerprint(new):
            return True
    return False


def check_smoke_fresh() -> list[str]:
    smoke_t = _last_commit_epoch("SCALE_SMOKE.json")
    if smoke_t == 0:
        return ["SCALE_SMOKE.json has never been committed"]
    smoke_commit = _git(
        "log", "-1", "--format=%H", "--", "SCALE_SMOKE.json"
    ).strip()
    gated = smoke_gated_paths()
    # Commit-time is the cheap first filter; an AST compare then ignores
    # comment/docstring-only touches (the f107ba7-class false positive).
    # >=, not > (code-review r15): back-to-back automated commits can
    # share a commit-second with the smoke commit, and a rebase can
    # even order a gated change EARLIER — the AST compare against
    # smoke_commit..HEAD is the authority; the epoch test only exists
    # to skip it cheaply when the gated path is strictly older.
    stale = [
        p
        for p in gated
        if _last_commit_epoch(p) >= smoke_t
        and _code_changed_since(smoke_commit, p)
    ]
    if stale:
        return [
            "SCALE_SMOKE.json is older than commits touching the code it "
            f"gates: {stale} — re-run `tools/measure.py scale` and commit"
        ]
    return []


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-pytest", action="store_true")
    args = ap.parse_args()

    n = current_round()
    problems = (
        check_artifacts_tracked()
        + check_gated_tree_clean()
        + check_docs_mention_round(n)
        + check_smoke_fresh()
    )
    if not args.skip_pytest:
        rc = subprocess.run(
            [sys.executable, "-m", "pytest", "tests/", "-x", "-q"], cwd=_ROOT
        ).returncode
        if rc != 0:
            problems.append(f"pytest exited {rc}")
    # Print AFTER every check has run (a late pytest failure used to be
    # appended past the printing loop and exit 1 with no FAIL line).
    for p in problems:
        print(f"ROUND_CLOSE FAIL: {p}")
    if problems:
        sys.exit(1)
    print(f"ROUND_CLOSE OK (round {n})")


if __name__ == "__main__":
    main()
