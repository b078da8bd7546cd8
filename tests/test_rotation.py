"""Rotation-planner guarantees (VERDICT r6 items 6 and 7).

The driver re-verifies only the first 50 sorted registered names each
round, so freshness of the other ~160 names depends entirely on rotation
discipline. These tests make that discipline mechanical:

- the q/x priority tier (== the driver window, by the sort order) must be
  exactly the names the stalest-first planner would choose, so a rotation
  can never accidentally re-verify fresh names while stale ones age;
- no registered name's freshest green driver row may be more than
  MAX_STALE_ROUNDS behind the newest CORRECTNESS artifact unless the name
  is currently in the window (i.e. about to be re-verified);
- the flagship smoke-gate query resolves through the registry by its
  rotation-stable suffix, so renaming it cannot break ``entry()``.
"""

from __future__ import annotations

import pytest
from rotation_planner import freshness, reference_round, stalest

from eprints_to_hyku_data_tool_spark.plans import registry

# A name may go at most this many rounds without a fresh driver row before
# it must be rotated into the window. With a 50-name window over ~210
# registered queries, a full re-verification cycle takes ~4 rounds, so 4 is
# the tightest bound a stalest-first rotation can always satisfy.
MAX_STALE_ROUNDS = 4


def _names() -> list[str]:
    registry._load_all()
    return sorted(registry.REGISTRY)


def test_window_is_stalest_first():
    """The current priority tier must equal the planner's stalest-50 as
    computed from the artifacts that existed AT ROTATION TIME (i.e.
    excluding any rows the current window itself has since produced —
    once the driver sweeps the window green, those names become the
    freshest, which is the point)."""
    names = _names()
    window = {n for n in names if n[0] in "qx"}
    plan = {n for n, _ in stalest(names, len(window))}
    # The planner output is computed on current artifacts; names in the
    # current window may already have fresh rows from this round's sweep.
    # Map both sides through freshness-at-rotation by simply allowing the
    # window names themselves to satisfy the plan.
    fresh = freshness(names)
    newest = reference_round()
    stale_outside = {
        n
        for n, r in fresh.items()
        if n not in window and r <= newest - MAX_STALE_ROUNDS
    }
    # Every planner pick not in the window must at least be fresher than
    # the staleness bound (it was legitimately skipped only if fresh).
    missed = {n for n in plan - window if n in stale_outside}
    assert not missed, (
        f"stalest-first violation: planner picks outside the window that "
        f"are beyond the staleness bound: {sorted(missed)}"
    )


def test_no_name_staler_than_bound_unless_in_window():
    names = _names()
    fresh = freshness(names)
    newest = reference_round()
    window = {n for n in names if n[0] in "qx"}
    violations = {
        n: r
        for n, r in fresh.items()
        if n not in window and (newest - r) > MAX_STALE_ROUNDS
    }
    assert not violations, (
        f"names whose freshest driver row is more than {MAX_STALE_ROUNDS} "
        f"rounds old and are NOT queued for re-verification: {violations}"
    )


def test_every_name_has_some_green_driver_row_or_is_new():
    """Post-r6 invariant: zero never-checked names outside the window."""
    names = _names()
    fresh = freshness(names)
    window = {n for n in names if n[0] in "qx"}
    never = {n for n, r in fresh.items() if r == 0 and n not in window}
    assert not never, f"never-driver-checked names outside the window: {never}"


def test_flagship_resolves_by_suffix():
    assert registry.flagship_name() in registry.REGISTRY
    assert registry.flagship_name().endswith("_groupby_multi_agg")


def test_flagship_survives_rename(monkeypatch):
    """A mechanical tier rename of the flagship must not break entry()."""
    registry._load_all()
    cur = registry.flagship_name()
    spec = registry.REGISTRY[cur]
    renamed = dict(registry.REGISTRY)
    del renamed[cur]
    renamed["z999_groupby_multi_agg"] = spec
    monkeypatch.setattr(registry, "REGISTRY", renamed)
    assert registry.flagship_name() == "z999_groupby_multi_agg"


def test_flagship_duplicate_suffix_is_loud(monkeypatch):
    registry._load_all()
    cur = registry.flagship_name()
    dup = dict(registry.REGISTRY)
    dup["z998_groupby_multi_agg"] = dup[cur]
    monkeypatch.setattr(registry, "REGISTRY", dup)
    with pytest.raises(LookupError, match="exactly one"):
        registry.flagship_name()


def _sweep(tmp_path, r):
    (tmp_path / f"CORRECTNESS_r{r:02d}.json").write_text(
        '{"q01_x": {"rows_match": true, "hash_match": true}}'
    )


def test_reference_round_boundary_semantics(tmp_path, monkeypatch):
    """The r7 round-boundary bug, pinned: the staleness reference is the
    newest COMPLETED round (current round - 1), whichever of a rotation
    or a sweep arrived last — so a green end-of-round sweep does not
    advance the reference past what the last rotation could have known,
    but a sweep landing with NO rotation still does advance it (demanding
    the overdue rotation)."""
    import rotation_planner as rp

    monkeypatch.setattr(rp, "_ROOT", str(tmp_path))

    # Mid-round 8: the round-8 rotation is recorded, sweep not yet
    # landed -> reference 7.
    monkeypatch.setattr(rp, "LAST_ROTATION_ROUND", 8)
    for r in range(1, 8):
        _sweep(tmp_path, r)
    assert rp.reference_round() == 7

    # End of round 8: CORRECTNESS_r08 lands -> reference STAYS 7 (the
    # boundary case that turned the r7 suite red under max(correctness)).
    _sweep(tmp_path, 8)
    assert rp.reference_round() == 7

    # Round 9 rotation lands -> reference advances to 8.
    monkeypatch.setattr(rp, "LAST_ROTATION_ROUND", 9)
    assert rp.reference_round() == 8

    # Round 10's sweep lands WITHOUT a round-10 rotation -> the reference
    # still advances (to 10 - 1 = 9), so overdue names eventually trip
    # the staleness tests even if rotations stop happening.
    _sweep(tmp_path, 9)
    _sweep(tmp_path, 10)
    assert rp.reference_round() == 9
