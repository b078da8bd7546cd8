"""Stalest-first rotation planner.

The driver's correctness gate checks the FIRST 50 sorted names from
``__spark_entry__.queries()`` each round. This planner ranks every
registered name by the freshest round in which the driver saw it green
and emits the 50 STALEST names — the ones the next rotation should pull
into the q/x window.

A query's identity is its suffix (``registry.suffix``): rotations change
only the tier prefix, so a row in ``CORRECTNESS_r0K.json`` belongs to the
registered query with the same suffix. A name is "fresh at round K" when
its suffix has a fully green (rows+schema+hash) row in that file.

A rotation is recorded by setting ``LAST_ROTATION_ROUND`` to its round.

Run:  python tools/rotation_planner.py [--window 50]
Used by tests/test_rotation.py to assert post-rotation freshness bounds.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from eprints_to_hyku_data_tool_spark.plans import registry  # noqa: E402

# The round of the newest tier rotation.
LAST_ROTATION_ROUND = 15

# Before two queries that shared a suffix were given distinct ones, their
# driver rows carried the old shared suffix. These six rows belong to the
# renamed (older) query; every other row with that suffix is the newer one's.
HISTORICAL_ROWS = {
    "x25_merge_upsert": "cdc_full_outer_merge",
    "q94_merge_upsert": "cdc_full_outer_merge",
    "q794_merge_upsert": "cdc_full_outer_merge",
    "x29_histogram": "fixed_width_histogram",
    "q97_histogram": "fixed_width_histogram",
    "q797_histogram": "fixed_width_histogram",
}


def _round_of(path: str) -> int:
    return int(re.search(r"r(\d+)", os.path.basename(path)).group(1))


def load_green_rows() -> dict[int, set[str]]:
    """{round K: suffixes with a fully green row in CORRECTNESS_r0K.json}."""
    out: dict[int, set[str]] = {}
    for f in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        green = set()
        for name, row in json.load(open(f)).items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                # Absent keys count as NOT verified (code-review r14):
                # a rows-only driver row (oracle=None queries get the
                # weaker check) must not earn hash-grade freshness, or
                # the stalest-first rotation would never re-prioritize
                # it. Every artifact r01-r13 carries all three keys
                # (audited), so this changes nothing historical; if a
                # rows-only query is ever registered, the rotation
                # staleness tests will flag it as never-hash-verified —
                # which is the truth.
                and row.get("schema_match", False)
                and row.get("hash_match", False)
            ):
                green.add(HISTORICAL_ROWS.get(name, registry.suffix(name)))
        out[_round_of(f)] = green
    return out


def current_round() -> int:
    """The newest round: the last rotation or the last driver sweep."""
    sweeps = glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))
    return max([LAST_ROTATION_ROUND, *map(_round_of, sweeps)])


def reference_round() -> int:
    """The staleness reference point: the newest COMPLETED round.

    A rotation for round N is planned against the artifacts of rounds
    <= N-1, and a driver sweep for round N (CORRECTNESS_r0N.json) closes
    round N so the next rotation is N+1's job. Measuring staleness against
    the newest sweep directly made the suite go red the moment a green
    sweep landed, before the next rotation could exist. Anchoring at
    ``current_round() - 1`` only trips when a rotation (or a sweep
    without one) actually left a due name outside the window.
    """
    return current_round() - 1


def freshness(names: list[str]) -> dict[str, int]:
    """{current name: freshest round with a green driver row; 0 = never}."""
    greens = sorted(load_green_rows().items(), reverse=True)
    return {
        name: next((k for k, g in greens if registry.suffix(name) in g), 0)
        for name in names
    }


def stalest(names: list[str], window: int = 50) -> list[tuple[str, int]]:
    """The `window` stalest (name, freshest_round) pairs, stalest first.

    Ties broken by name so the plan is deterministic round-over-round.
    """
    fresh = freshness(names)
    ranked = sorted(fresh.items(), key=lambda kv: (kv[1], kv[0]))
    return ranked[:window]


def registered_names() -> list[str]:
    registry._load_all()
    return sorted(registry.REGISTRY)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--window", type=int, default=50)
    args = ap.parse_args()
    names = registered_names()
    fresh = freshness(names)
    hist: dict[int, int] = {}
    for v in fresh.values():
        hist[v] = hist.get(v, 0) + 1
    print("freshness histogram (round -> #names):", dict(sorted(hist.items())))
    print(f"\n{args.window} stalest names (freshest-round, name):")
    for name, rnd in stalest(names, args.window):
        print(f"  r{rnd}  {name}")


if __name__ == "__main__":
    main()
