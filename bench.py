#!/usr/bin/env python
"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes its full plan via a noop sink (no driver-side collect,
no disk write) — measures scan+compute+shuffle only.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Loud-gate notes collected by regressions_vs_previous (unreadable or
# mismatched previous bench, coverage gaps); surfaced in the printed
# payload so a broken gate can never masquerade as a clean one.
GATE_NOTES: list[str] = []

from eprints_to_hyku_data_tool_spark.plans.registry import REGISTRY, suffix

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
import measure  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_f = float(sf)
        # float('nan')/float('inf') parse fine but json.dumps prints
        # bare NaN/Infinity — NOT strict JSON, so a spec-compliant
        # driver parser would reject the whole line for an otherwise
        # successful run (code-review r15). Keep the string form.
        if math.isfinite(sf_f):
            sf = sf_f
    except ValueError:
        pass

    timings: dict[str, float] = {}
    failed: list[str] = []

    def _warm_error(stage, exc):
        # The warm-up must never abort the run before the ONE JSON line
        # is printed (code-review r14): a missing/unreadable table here
        # used to raise straight out of main, so the driver saw rc!=0
        # with EMPTY stdout instead of a parseable payload naming the
        # broken table.
        print(f"BENCH WARMUP ERROR {stage}: {exc}", file=sys.stderr)
        failed.append(f"_warmup_{stage}")

    # Warm the JVM, parquet footers, every column of every table, and
    # the Arrow python workers with the harness's one session recipe
    # (tools/measure.py; the adjudicator's fresh sessions use the same
    # one, so its verdicts compare like-warmed runs). Per-query numbers
    # then measure the engine in steady state, not whichever query
    # happens to sort first onto a cold column or a cold python-worker
    # pool (the q59 "regression" flagged when round 3 re-sorted the
    # registry was exactly this).
    spark = measure.open_session(sf_dir, "bench", on_error=_warm_error)

    # The session-memoized shared intermediates (measure.BUILDS) come
    # first, as explicit, separately-timed entries. Without this the
    # one-time build cost lands inside whichever family query happens
    # to sort first — and worse, if that query is re-run by the suspect
    # loop below, min() records its memo-WARM time and the build cost
    # silently vanishes from the suite total (code-review r6). With it,
    # every family query's number is a stable marginal cost and the
    # build stays visible in `value`. Every entry is timed by
    # measure.time_entry, which drops the previous entry's ordering
    # pins first: a later query sharing a pinned sort subtree would
    # otherwise read the cache and under-record its standalone cost.
    for i, name in enumerate([*measure.BUILDS, *sorted(REGISTRY)]):
        measure.maybe_collect(spark, i)
        try:
            timings[name] = measure.time_entry(spark, name, sf_dir)
        except Exception as exc:  # pragma: no cover
            print(f"BENCH ERROR {name}: {exc}", file=sys.stderr)
            timings[name] = -1.0
        if timings[name] < 0:
            failed.append(name)

    # One timing pass is noisy (cold codegen paths, OS jitter, and
    # suite-order contention: q74 measured 30 s in-suite vs 4.3 s warm
    # standalone): any query that LOOKS regressed vs the previous round
    # OR exceeds an absolute suspicion threshold gets warm re-runs (up
    # to two), and the min is recorded — a real slow query survives the
    # retries, a first-touch/noise artifact does not. Bounded extra
    # cost: only suspects re-run.
    # 6 s: below it sit ~99% of steady-state queries; above it the only
    # honest residents are q88's iterative loop — everything else that
    # lands there is first-touch contention (z75 measured 7.6 s in-suite
    # vs 3.3 s warm standalone with the 8 s threshold missing it — r6).
    SLOW_SUSPECT_S = 6.0
    for _ in range(2):
        suspects = set(regressions_vs_previous(timings, sf, quiet=True))
        suspects.update(
            n for n, t in timings.items() if t > SLOW_SUSPECT_S
        )
        # The _build_* shared-intermediate entries are one-time by
        # construction — a memo-warm re-run would trivially record ~0 s.
        suspects = sorted(n for n in suspects if n in REGISTRY)
        if not suspects:
            break
        for name in suspects:
            # time_entry releases the pins first: a re-run against a live
            # pin would time a cache READ, and min() would then mask a
            # real kernel regression with a number measuring nothing.
            try:
                timings[name] = min(
                    timings[name], measure.time_entry(spark, name, sf_dir)
                )
            except Exception:  # pragma: no cover
                pass

    # The suspect loop cannot re-time a `_build_*` entry (its memo makes
    # a re-run ~0 s); flagged builds get a fresh session instead.
    warm_rerun_flagged_builds(timings, sf, sf_dir)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    payload = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # Prove which master/parallelism this run actually used (VERDICT
        # r15 scaling block: the 8-vs-32-core suite totals tied, and the
        # payload carried no field that could refute a "cpus ignored"
        # heuristic — sf0.1 is stage-latency-bound, see
        # CPU_SCALING_r16.json for a CPU-bound tier where cores show).
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "n_queries": sum(1 for n in timings if n in REGISTRY),
        # A query that errors must not make the suite look faster:
        # consumers see the failure list explicitly.
        "errors": failed,
        # Self-auditing (VERDICT r2 item 9): per-query diff vs the
        # previous round's recorded bench at the same sf.
        "regressions": regressions_vs_previous(timings, sf),
    }
    if GATE_NOTES:
        payload["gate_notes"] = sorted(set(GATE_NOTES))
    # The driver keeps only a ~2000-char tail of stdout, so a full
    # 208-entry per-query map in the printed line gets truncated and
    # the driver records "parsed: null" (r3-r5). Print a COMPACT line
    # that fits the tail — totals, errors, regressions, and the worst
    # queries only — and write the full payload to the BENCH_local.json
    # sidecar (regressions_vs_previous merges the sidecar back in when
    # it matches the recorded run — see _extract_queries).
    printed = dict(payload)
    worst = sorted(
        ((n, t) for n, t in timings.items() if t >= 0),
        key=lambda kv: -kv[1],
    )
    printed["queries"] = dict(worst[:15])
    printed["queries_note"] = (
        f"worst 15 of {len(timings)}; full map in BENCH_local.json"
    )
    line = json.dumps(printed)
    while len(line) > 1900 and printed["queries"]:
        printed["queries"].popitem()
        line = json.dumps(printed)
    # errors and regressions are unbounded too (code-review r14): a
    # shared-kernel slowdown flagging ~20 families, or a mass failure,
    # would blow the tail in exactly the round the self-audit matters.
    # Truncate worst-first / first-N with a count note — the full lists
    # live in the sidecar.
    for key, keep_order in (("regressions", True), ("errors", False)):
        if len(line) <= 1900 or not printed.get(key):
            continue
        # printed is a SHALLOW copy of payload — rebind before mutating
        # so the sidecar (and the `failed` exit check) keep the full
        # lists.
        printed[key] = (
            dict(printed[key]) if keep_order else list(printed[key])
        )
        full_n = len(printed[key])
        if keep_order:  # dict: keep the worst ratios
            items = sorted(
                printed[key].items(),
                key=lambda kv: -kv[1].get("ratio", 0),
            )
            while len(line) > 1900 and items:
                items.pop()
                printed[key] = dict(items)
                printed[f"{key}_note"] = (
                    f"worst {len(items)} of {full_n}; "
                    "full map in BENCH_local.json"
                )
                line = json.dumps(printed)
        else:  # list
            while len(line) > 1900 and printed[key]:
                printed[key].pop()
                printed[f"{key}_note"] = (
                    f"first {len(printed[key])} of {full_n}; "
                    "full list in BENCH_local.json"
                )
                line = json.dumps(printed)
    # gate_notes is unbounded too (code-review r15): in a round where
    # the notes pile up across gate invocations, they alone can blow the
    # driver's ~2000-char tail — unparseable payload in exactly the
    # broken-gate round the notes exist to expose. Same rebind-before-
    # mutate rule as above.
    if len(line) > 1900 and printed.get("gate_notes"):
        printed["gate_notes"] = list(printed["gate_notes"])
        full_n = len(printed["gate_notes"])
        while len(line) > 1900 and printed["gate_notes"]:
            printed["gate_notes"].pop()
            printed["gate_notes_note"] = (
                f"first {len(printed['gate_notes'])} of {full_n}; "
                "full list in BENCH_local.json"
            )
            line = json.dumps(printed)
    print(line)
    root = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(root, "BENCH_local.json"), "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
        fh.write("\n")
    if failed:
        sys.exit(1)


def warm_rerun_flagged_builds(
    timings: dict[str, float], sf, sf_dir: str, runner=None
) -> list[str]:
    """Warm-standalone re-timing for flagged `_build_*` entries,
    mutating `timings` in place; returns the names re-run.

    The builds are first-in-suite one-time session builds — the most
    contention-exposed timings in the run, and the source of every
    recent ambient regression flag (copurchase x2, neardup x1, all
    machine-refuted warm). The in-session suspect loop can't touch them
    (a memo-warm re-run records ~0 s), so any build that would be
    flagged vs the previous round gets one fresh-subprocess
    warm-standalone run (`measure.run_fresh`, the adjudicator's own
    per-run-fresh-session runner) at record time, and the min is recorded — a real
    build regression survives the fresh session, an ambient artifact
    does not, and nobody adjudicates post-hoc (VERDICT r9 item 3).
    """
    build_flags = sorted(
        n
        for n in regressions_vs_previous(timings, sf, quiet=True)
        if n.startswith("_build_")
    )
    if not build_flags:
        return []
    try:
        warm = (runner or measure.run_fresh)(build_flags, sf_dir, 1)
        for n, ts in warm.items():
            print(
                f"BENCH build warm-standalone {n}: in-suite "
                f"{timings[n]}s, fresh-session {min(ts)}s",
                file=sys.stderr,
            )
            timings[n] = min(timings[n], round(min(ts), 3))
    except Exception as exc:  # pragma: no cover
        # Keep the in-suite number (and its flag) rather than fail the
        # whole bench; the post-hoc adjudicator still exists.
        print(f"BENCH build warm-rerun failed: {exc}", file=sys.stderr)
    return build_flags


def _extract_queries(obj: dict) -> dict[str, float]:
    """Per-query timings from a recorded bench file. Handles three
    layouts: this script's raw JSON line ({"queries": ...}), the driver's
    wrapper ({"parsed": {...}, "tail": "..."}), and a wrapper whose
    "tail" holds only the truncated end of stdout — there the queries
    object is recovered by bracket-matching from the first query-name
    key (tier names are rotated between rounds, so anchor on the key
    PATTERN, not a specific name)."""
    import re as _re

    if isinstance(obj.get("queries"), dict):
        return obj["queries"]
    parsed = obj.get("parsed")
    if isinstance(parsed, dict) and isinstance(parsed.get("queries"), dict):
        return parsed["queries"]
    tail = obj.get("tail", "")
    got: dict[str, float] = {}
    # Round 6+ compact lines order queries worst-first, so the map's first
    # key is usually a `_build_*` entry — anchor on the "queries" label
    # itself, falling back to the first query-shaped key (pattern, not a
    # specific name: tier names rotate and numbers can be 2 or 3 digits).
    m = _re.search(r'"queries":\s*(\{)', tail)
    if m is not None:
        start = m.start(1)
    else:
        m = _re.search(r'\{"(?:_build_|[qxyz]\d+_)', tail)
        start = m.start() if m is not None else -1
    if start >= 0:
        depth = 0
        for j in range(start, len(tail)):
            if tail[j] == "{":
                depth += 1
            elif tail[j] == "}":
                depth -= 1
                if depth == 0:
                    try:
                        got = json.loads(tail[start : j + 1])
                    except json.JSONDecodeError:
                        pass
                    break
    # Keep numeric entries only: the bracket-matcher can land on the
    # REGRESSIONS object (whose values are dicts) when the tail's
    # queries map lost its opening brace — r5's tail does exactly that.
    got = {
        k: float(v) for k, v in got.items() if isinstance(v, (int, float))
    }
    if not got:
        # Tail truncated MID-object (the opening brace itself is gone —
        # BENCH_r04's 2000-char tail starts at z22): scavenge whatever
        # "name": seconds pairs survive. A partial map still lets the
        # regression gate check the surviving names instead of nothing.
        pairs = _re.findall(r'"((?:_build_|[qxyz]\d+_)\w+)":\s*(-?[\d.]+)', tail)
        got = {k: float(v) for k, v in pairs}
    return got


def _merge_sidecar(
    obj: dict, queries: dict[str, float], sidecar_path: str | None = None
) -> dict[str, float]:
    """Compact-line era (round 6+): the printed bench line carries only
    the worst-N queries; the full map lives in the BENCH_local.json
    sidecar written by the same run. Merge it in when its suite total
    matches the recorded run (a later local re-run overwrites the
    sidecar and changes the total, in which case the compact map alone
    is used — fewer names checked, never wrong ones)."""
    if sidecar_path is None:
        root = os.path.dirname(os.path.abspath(__file__))
        sidecar_path = os.path.join(root, "BENCH_local.json")
    try:
        with open(sidecar_path) as fh:
            side = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return queries
    recorded_total = obj.get("value")
    recorded_n = obj.get("n_queries")
    parsed = obj.get("parsed")
    if isinstance(parsed, dict):
        if recorded_total is None:
            recorded_total = parsed.get("value")
        if recorded_n is None:
            recorded_n = parsed.get("n_queries")
    if recorded_total is None:
        m = __import__("re").search(r'"value":\s*([\d.]+)', obj.get("tail", ""))
        if m:
            recorded_total = float(m.group(1))
    # The recorded total may be regex-scavenged from a TRUNCATED tail (a
    # mid-number cut yields a shorter but valid float), so exact equality
    # would silently reject the sidecar and shrink regression coverage
    # (fail-safe direction, but needlessly). Accept when the totals agree
    # within a small tolerance OR the recorded total is a string-prefix of
    # the sidecar's (the exact signature of a mid-number cut). The query
    # COUNT is only trusted as a fingerprint when NO total was recoverable
    # at all — count alone cannot distinguish a later re-run's overwritten
    # sidecar (same registry, same count, different timings). The prefix
    # rule additionally requires >= 5 significant characters: a short
    # prefix like "217" would also match an overwritten sidecar's 2175.3
    # (a different run at a different scale), whereas a genuine mid-number
    # cut of a seconds-scale total retains at least "dd.dd" of agreement.
    side_total = side.get("value")
    rec_str = str(recorded_total)
    total_ok = (
        recorded_total is not None
        and isinstance(side_total, (int, float))
        and (
            abs(side_total - recorded_total)
            <= 1e-3 * max(abs(side_total), abs(recorded_total), 1.0)
            or (len(rec_str) >= 5 and repr(side_total).startswith(rec_str))
        )
    )
    n_only_ok = (
        recorded_total is None
        and recorded_n is not None
        and recorded_n == side.get("n_queries")
    )
    if not (total_ok or n_only_ok):
        return queries
    merged = dict(side.get("queries") or {})
    merged.update(queries)
    return merged


def regressions_vs_previous(
    timings: dict[str, float], sf, threshold: float = 1.5, quiet: bool = False
) -> dict[str, dict]:
    """Compare against the newest BENCH_r*.json in the repo root and
    return {query: {prev, now, ratio}} for every >threshold slowdown.
    Entries match by suffix (``registry.suffix``), which tier rotations
    keep; a suffix that appears twice in the previous bench is skipped
    rather than guessed."""
    import glob
    import re
    from collections import Counter

    root = os.path.dirname(os.path.abspath(__file__))
    benches = sorted(
        glob.glob(os.path.join(root, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    if not benches:
        # Legitimately silent: round 1 has no previous artifact.
        return {}
    try:
        with open(benches[-1]) as fh:
            prev = json.load(fh)
    except (OSError, json.JSONDecodeError) as exc:
        # Loud, not a silent {} (code-review r15): a truncated previous
        # artifact would otherwise read as a CLEAN round — a fully
        # broken gate with no signal, the exact class gate_notes exists
        # to expose.
        GATE_NOTES.append(
            f"regression gate OFF: previous bench "
            f"{os.path.basename(benches[-1])} unreadable "
            f"({type(exc).__name__})"
        )
        return {}
    if prev.get("sf") != sf:
        parsed = prev.get("parsed")
        if not (isinstance(parsed, dict) and parsed.get("sf") == sf):
            GATE_NOTES.append(
                f"regression gate OFF: previous bench "
                f"{os.path.basename(benches[-1])} recorded "
                f"sf={prev.get('sf')!r}, this run is sf={sf!r}"
            )
            return {}
    prev_q = _merge_sidecar(prev, _extract_queries(prev))
    seen = Counter(map(suffix, prev_q))
    by_suffix = {suffix(n): t for n, t in prev_q.items() if seen[suffix(n)] == 1}

    ratios: dict[str, tuple[float, float, float]] = {}
    for name, now in timings.items():
        old = by_suffix.get(suffix(name))
        if old is None or old <= 0 or now <= 0:
            continue
        ratios[name] = (old, now, now / old)
    # Coverage guard (code-review r14): the fleet-median drift estimate
    # is only meaningful when most of the suite is comparable. If few
    # suffixes matched (or the previous bench was tiny), flag the gap
    # instead of letting a near-empty ratio set read as a clean bill.
    if prev_q and len(ratios) < max(10, len(prev_q) // 4):
        GATE_NOTES.append(
            f"regression gate compared only {len(ratios)} of "
            f"{len(prev_q)} previous entries — treat an empty "
            "regressions map as NO COVERAGE, not a clean bill"
        )
        if not quiet:
            print(f"BENCH GATE COVERAGE: {GATE_NOTES[-1]}", file=sys.stderr)
    if not ratios:
        return {}
    # Machine conditions differ between rounds (measured ambient swings of
    # 1.5-2x on this box), which inflates EVERY ratio uniformly. The
    # fleet-wide median ratio estimates that drift; a query is a
    # regression when it is >threshold slower than the previous round
    # AND >threshold slower than the fleet drifted.
    med = sorted(r for _, _, r in ratios.values())[len(ratios) // 2]
    out: dict[str, dict] = {}
    for name, (old, now, r) in ratios.items():
        if r > threshold and r > med * threshold:
            out[name] = {
                "prev": old,
                "now": now,
                "ratio": round(r, 2),
                "fleet_median_ratio": round(med, 2),
            }
            if not quiet:
                print(
                    f"BENCH REGRESSION {name}: {old}s -> {now}s "
                    f"({r:.2f}x; fleet median {med:.2f}x)",
                    file=sys.stderr,
                )
    return out


if __name__ == "__main__":
    main()
