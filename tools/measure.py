"""One measurement harness for the registered queries and shared builds.

Every timing of a registered query or shared build goes through the
pieces defined here, bench.py's included:

- `BUILDS`, the session-memoized shared intermediates, each a
  ``fn(spark, sf_dir)`` timed as its own `_build_*` entry;
- `open_session`: `get_spark`, the registry, `session.warm_session`,
  and the builds pre-paid when asked, so family queries measure
  marginals;
- `time_entry`, the one timing primitive: release the ordering pins
  (a repeat against a live pin would time a cache read, not the sort),
  build the entry, write it to the noop sink; a streaming frame
  records -1;
- `maybe_collect`, the one periodic-GC rule;
- `run_fresh`, timings from fresh subprocess sessions (`fresh` below).

Subcommands:

    python tools/measure.py time NAME... [--runs 3] [--round r17 --tag before] [--no-builds]
        min-of-N seconds per entry in one warmed session, printed as one
        JSON line; with --round each query's formatted plan is written to
        plans/<round>/<name>_<tag>.txt. A named `_build_*` is timed cold
        before the others are pre-paid.
    python tools/measure.py adjudicate [--bench BENCH_local.json] [--runs 3] [--no-baseline] [--label L]
        re-times a bench payload's regression flags in fresh sessions,
        classifies each against its recorded `prev`
        (warm_min <= 1.2x prev: refuted; > 1.5x: confirmed; otherwise
        inconclusive), writes the verdicts into the payload under
        "adjudications" and appends rows to BASELINE.md. Exit 2 when any
        flag is not refuted.
    python tools/measure.py scale [--base sf0.1] [--tier /tmp/scale10] [--copies 10] [--names ...] [--out F]
        times the builds and HEAVY (or --names) at sf0.1 and at a tier
        from tools/make_scale_tier.py in one session, and fails any entry
        slower than 2 x copies x max(sf0.1 time, 0.5 s). Writes
        SCALE_SMOKE.json; with --names, the deep-tier spot's shape
        (SCALE_SPOT_25X.json).
    python tools/measure.py cores --query Q --sf-dir /tmp/scale10 [--cpus 32 8] [--rounds 3] [--out F]
        interleaved fresh-subprocess runs per core count (CPU_SCALING_*).
    python tools/measure.py census --sf-dir DIR [--out F]
        whole-registry plan census, diffed against the r15 census when
        DIR is its tier (sf0.1).
    python tools/measure.py fresh --sf-dir DIR --runs N [--cpus C] NAME...
        the child `run_fresh` spawns: prints MEASURE_JSON:{...}.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import subprocess
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from eprints_to_hyku_data_tool_spark.functions import (  # noqa: E402
    copurchase,
    grams,
    neardup,
    ordering,
)
from eprints_to_hyku_data_tool_spark.plans.registry import (  # noqa: E402
    REGISTRY,
    _load_all,
)
from eprints_to_hyku_data_tool_spark.session import (  # noqa: E402
    get_spark,
    warm_session,
)

# Names start with '_' so they never collide with the driver's
# [qxyz]-pattern query names.
BUILDS = {
    "_build_copurchase_graph": copurchase.triangle_node_stats,  # und/deg/oriented too
    "_build_neardup_pairs": neardup.components,  # verified_pairs too
    "_build_doc_grams": grams.doc_grams8,
}

# The heaviest registered queries (BENCH_r06.json worst list through the
# rename maps), spanning every scale-sensitive family: graph, winnowing,
# n-gram filters, LSH, decontamination, IVF, corpus pipeline, profiling,
# sketches, PPJoin, k-means, BPE.
HEAVY = [
    "q117588_pagerank",
    "z117526_bfs_hops",
    "q10620_global_agg",
    "z10658_winnow_containment",
    "q128301_duplicate_ngram_filter",
    "z13974_rplsh_neardup",
    "q11775_decontaminate",
    "z139185_ivf_topk",
    "z12790_corpus_pipeline",
    "z139190_column_profile",
    "z117192_approx_percentile",
    "q9345_split_leakage",
    "q10554_association_rules",
    "z10660_simhash",
    "z11660_minhash_lsh",
    "q10622_approx_count_distinct",
    "q9341_kmeans_lloyd",
    "z11556_bpe_encode",
]

# localCheckpoint blocks are released only after BOTH a python GC (drops
# the py4j refs) and a JVM GC; without one every so often a long run
# ages its session (block-manager bloat, heap pressure) and later
# entries measure the aging, not the plan.
GC_EVERY = 24


def prepay_builds(spark, sf_dir: str) -> None:
    for build in BUILDS.values():
        build(spark, sf_dir)


def open_session(
    sf_dir: str,
    app_name: str = "measure",
    cpus: int | None = None,
    prepay: bool = False,
    on_error=None,
    driver_memory: str = "48g",
):
    """A measurement session: the engine's factory, every query
    registered, tables and Arrow workers warmed by the shared recipe
    (``on_error`` as in `session.warm_session`), builds pre-paid when
    ``prepay``."""
    spark = get_spark(app_name=app_name, cpus=cpus, driver_memory=driver_memory)
    _load_all()
    warm_session(spark, sf_dir, on_error=on_error)
    if prepay:
        prepay_builds(spark, sf_dir)
    return spark


def maybe_collect(spark, i: int) -> None:
    """Collect garbage before every GC_EVERY-th entry (never the first),
    outside any timing window."""
    if i and i % GC_EVERY == 0:
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass


def time_entry(spark, name: str, sf_dir: str) -> float:
    """Seconds to build ``name`` (a `_build_*` or a registered query)
    and write it to the noop sink; -1.0 for a streaming frame."""
    ordering.release_pins()
    spark.sparkContext.setJobDescription(name)
    try:
        t0 = time.perf_counter()
        if name in BUILDS:
            BUILDS[name](spark, sf_dir)
        else:
            df = REGISTRY[name].fn(spark, sf_dir)
            if df.isStreaming:
                return -1.0
            df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)
    finally:
        spark.sparkContext.setJobDescription(None)


def time_runs(spark, names, sf_dir: str, runs: int = 1) -> dict[str, list[float]]:
    out = {}
    for i, name in enumerate(names):
        maybe_collect(spark, i)
        out[name] = [time_entry(spark, name, sf_dir) for _ in range(runs)]
    return out


def _spawn(names, sf_dir: str, runs: int, cpus: int | None = None) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "fresh",
           "--sf-dir", sf_dir, "--runs", str(runs)]
    if cpus:
        cmd += ["--cpus", str(cpus)]
    proc = subprocess.run(
        cmd + list(names), capture_output=True, text=True, cwd=_ROOT, timeout=1800
    )
    for line in proc.stdout.splitlines():
        if line.startswith("MEASURE_JSON:"):
            return json.loads(line[len("MEASURE_JSON:"):])
    raise RuntimeError(
        f"fresh child failed (rc={proc.returncode}):\n"
        + proc.stdout[-2000:] + proc.stderr[-2000:]
    )


def run_fresh(names, sf_dir: str, runs: int, cpus: int | None = None) -> dict[str, list[float]]:
    """{name: [seconds per run]} from fresh subprocess sessions, which
    separate plan cost from the state of an aged session. Queries share
    one child with the builds pre-paid; a build is memoized, so each of
    its runs gets a child of its own."""
    queries = [n for n in names if n not in BUILDS]
    out = _spawn(queries, sf_dir, runs, cpus)["times"] if queries else {}
    for name in names:
        if name in BUILDS:
            out[name] = [
                _spawn([name], sf_dir, 1, cpus)["times"][name][0]
                for _ in range(runs)
            ]
    return out


def _fresh(args) -> None:
    prepay = not any(n in BUILDS for n in args.names)
    spark = open_session(args.sf_dir, "measure-fresh", cpus=args.cpus, prepay=prepay)
    sc = spark.sparkContext
    out = {
        "times": time_runs(spark, args.names, args.sf_dir, args.runs),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
    }
    spark.stop()
    print("MEASURE_JSON:" + json.dumps(out))


def explain(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


# ---------------------------------------------------------------- time


def _time(args) -> None:
    spark = open_session(args.sf_dir, "measure-time")
    builds = [n for n in args.names if n in BUILDS]
    queries = [n for n in args.names if n not in BUILDS]
    timings = {n: ts[0] for n, ts in time_runs(spark, builds, args.sf_dir).items()}
    if not args.no_builds:
        prepay_builds(spark, args.sf_dir)  # the memo makes timed ones free
    if args.round:
        plan_dir = os.path.join(_ROOT, "plans", args.round)
        os.makedirs(plan_dir, exist_ok=True)
        for name in queries:
            with open(os.path.join(plan_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(explain(spark, REGISTRY[name].fn(spark, args.sf_dir)) + "\n")
    runs = time_runs(spark, queries, args.sf_dir, args.runs)
    timings.update({n: min(ts) for n, ts in runs.items()})
    print(json.dumps(timings))


# ---------------------------------------------------------- adjudicate


def load_payload(path: str) -> dict:
    """Full bench payload from either sidecar or driver-wrapper shape.

    A driver wrapper with parsed:null (the truncated-stdout case) must
    NOT silently fall back to the wrapper dict — it has no
    'regressions' key, so the tool would print 'no regression flags'
    and exit 0 while flags sit unadjudicated in the tail text. Try to
    scavenge a payload from the wrapper's raw tail; otherwise fail
    loudly."""
    data = json.load(open(path))
    if "parsed" in data and data["parsed"] is None:
        for key in ("tail", "stdout", "raw"):
            text = data.get(key)
            if not isinstance(text, str):
                continue
            for line in reversed(text.strip().splitlines()):
                line = line.strip()
                if line.startswith("{"):
                    try:
                        return json.loads(line)
                    except json.JSONDecodeError:
                        continue
        raise SystemExit(
            f"ADJUDICATE: {path} has parsed:null and no scavengeable "
            "payload line — cannot adjudicate; re-run bench"
        )
    return data.get("parsed") or data


def classify(prev: float, warm_min: float) -> str:
    if warm_min <= prev * 1.2:
        return "refuted"
    if warm_min > prev * 1.5:
        return "confirmed"
    return "inconclusive"


def adjudicate(regressions: dict[str, dict], warm: dict[str, list[float]]) -> dict[str, dict]:
    out = {}
    for name, flag in regressions.items():
        runs = warm.get(name)
        if not runs:
            continue
        warm_min = min(runs)
        out[name] = {
            "prev": flag.get("prev"),
            "flagged": flag.get("now"),
            "warm_runs": runs,
            "warm_min": warm_min,
            "verdict": classify(float(flag["prev"]), warm_min),
        }
    return out


_BASELINE_HEADER = "## Machine adjudications (tools/measure.py adjudicate)"


def append_baseline_rows(verdicts: dict[str, dict], label: str) -> None:
    path = os.path.join(_ROOT, "BASELINE.md")
    text = open(path).read()
    if _BASELINE_HEADER not in text:
        text += (
            f"\n{_BASELINE_HEADER}\n\n"
            "Fresh-session warm-standalone re-runs of in-suite bench\n"
            "flags, recorded by the tool (procedure and thresholds in its\n"
            "docstring). `refuted` = session-state contention, the class\n"
            "every flag since r5 has fallen into.\n\n"
            "| run | query | prev | flagged | warm runs | warm min |"
            " verdict |\n"
            "|---|---|---|---|---|---|---|\n"
        )
    rows = ""
    for name, v in sorted(verdicts.items()):
        runs = " / ".join(f"{t:.2f}" for t in v["warm_runs"])
        rows += (
            f"| {label} | {name} | {v['prev']:.2f} s | "
            f"{v['flagged']:.2f} s | {runs} s | **{v['warm_min']:.2f} s** "
            f"| {v['verdict']} |\n"
        )
    # Insert at the end of the section's FIRST table, not end-of-file:
    # any section added below "Machine adjudications" would otherwise
    # swallow new verdict rows (code review r9), and a later section
    # containing its own markdown table must not capture them either
    # (code review r10) — so stop at the first non-"|" line after the
    # first contiguous "|" run, never scanning for a global last row.
    head, _, tail = text.rpartition(_BASELINE_HEADER)
    lines = tail.split("\n")
    last_row = 0
    in_table = False
    for i, ln in enumerate(lines):
        if ln.startswith("|"):
            last_row = i
            in_table = True
        elif in_table:
            break
    insert_at = last_row + 1 if last_row else len(lines)
    lines[insert_at:insert_at] = rows.rstrip("\n").split("\n")
    open(path, "w").write(head + _BASELINE_HEADER + "\n".join(lines))


def _adjudicate(args) -> int:
    regressions = load_payload(args.bench).get("regressions") or {}
    if not regressions:
        print("ADJUDICATE: no regression flags in", args.bench)
        return 0
    print(f"ADJUDICATE: {len(regressions)} flag(s):", sorted(regressions))
    verdicts = adjudicate(regressions, run_fresh(sorted(regressions), args.sf_dir, args.runs))

    # write back into the sidecar payload (wrapper shape preserved)
    data = json.load(open(args.bench))
    target = data.get("parsed") if isinstance(data.get("parsed"), dict) else data
    target["adjudications"] = verdicts
    # Serialize BEFORE touching the file, then rename atomically — an
    # exception mid-dump into an already-truncated sidecar would destroy
    # the round's bench record (code review r9).
    blob = json.dumps(data, indent=1, sort_keys=True)
    with open(args.bench + ".tmp", "w") as fh:
        fh.write(blob)
    os.replace(args.bench + ".tmp", args.bench)
    if not args.no_baseline:
        append_baseline_rows(verdicts, args.label or os.path.basename(args.bench))

    bad = False
    for name, v in sorted(verdicts.items()):
        print(
            f"ADJUDICATE {name}: prev {v['prev']}s, flagged {v['flagged']}s,"
            f" warm {v['warm_runs']} -> min {v['warm_min']}s:"
            f" {v['verdict'].upper()}"
        )
        bad |= v["verdict"] != "refuted"
    return 2 if bad else 0


# --------------------------------------------------------------- scale


def load_tier_manifest(tier: str, copies: int) -> dict:
    """The tier's manifest (written by make_scale_tier.py). The linear
    bound is derived from --copies, so it must equal the copy count the
    tier was built with: a stale tier from a smaller experiment would
    make the bound vacuous (code-review r15)."""
    manifest_path = os.path.join(tier, "tier_manifest.json")
    if not os.path.exists(manifest_path):
        raise SystemExit(
            f"no tier_manifest.json in {tier} — regenerate the tier "
            "with tools/make_scale_tier.py (it records the copy count "
            "the gate bound depends on)"
        )
    manifest = json.load(open(manifest_path))
    if manifest["copies"] != copies:
        raise SystemExit(
            f"tier at {tier} was built with copies="
            f"{manifest['copies']} but the scale run was invoked with "
            f"--copies {copies}; the linear bound would be wrong — "
            "regenerate the tier or fix the flag"
        )
    return manifest


def gate_exceeds(big_s: float, base_s: float, bound: float) -> bool:
    """The absolute-form gate predicate (code-review r15): sub-half-second
    baselines are judged AS IF they were 0.5 s instead of being exempted
    from the gate."""
    return big_s > bound * max(base_s, 0.5)


def _scale(args) -> None:
    manifest = load_tier_manifest(args.tier, args.copies)
    spot = args.names is not None
    # Builds first: each tier pays them cold, and its queries marginals.
    names = sorted(args.names or [*BUILDS, *HEAVY], key=lambda n: n not in BUILDS)
    # Warmed BEFORE the sf0.1 tier: the baseline is the ratio's
    # denominator, and first-touch cost left in it biases the gate
    # toward PASS (code-review r15).
    spark = open_session(args.base, "measure-scale", driver_memory="64g")
    base, big = ({n: ts[0] for n, ts in time_runs(spark, names, d).items()}
                 for d in (args.base, args.tier))
    print(json.dumps({"sf0.1": base, f"{args.copies}x": big}, indent=1), flush=True)

    # Single-pass numbers in an aged session vary 2-4x run to run, so any
    # query past a QUARTER of the bound gets one warm re-run and the min
    # is recorded. A re-run that collapses >4x likely rode a memoized
    # intermediate: the gate keeps the COLD time for it (code review r9).
    memo_assisted = {}
    for name in names:
        if name in BUILDS or not gate_exceeds(big[name], base[name], args.copies / 2):
            continue
        rerun = time_entry(spark, name, args.tier)
        print(f"  rerun {name}: {rerun:.2f}s (was {big[name]:.2f}s)", flush=True)
        if rerun < big[name] / 4.0:
            memo_assisted[name] = {"cold_sec": big[name], "warm_sec": rerun}
        else:
            big[name] = min(big[name], rerun)
    spark.stop()

    # A build has no in-session retry (its memo makes one ~0 s), so a
    # build that would fail gets one fresh-session re-measure.
    linear_bound = 2.0 * args.copies
    for name in names:
        if name in BUILDS and gate_exceeds(big[name], base[name], linear_bound):
            fresh = run_fresh([name], args.tier, 1)[name][0]
            print(f"  fresh build rerun {name}: {fresh:.2f}s (was {big[name]:.2f}s)")
            big[name] = min(big[name], fresh)

    rows, failures = {}, []
    for name in names:
        rows[name] = {
            "sf01_sec": base[name],
            "deep_sec" if spot else "x10_sec": big[name],
            "ratio": round(big[name] / max(base[name], 1e-9), 2),
        }
        if name in memo_assisted:
            rows[name]["memo_assisted_warm_sec"] = memo_assisted[name]["warm_sec"]
        if gate_exceeds(big[name], base[name], linear_bound):
            failures.append(name)
    report = {
        "copies": args.copies,
        "linear_bound": linear_bound,
        "tier_manifest": {"copies": manifest["copies"], "rows": manifest["rows"]},
        "entries" if spot else "queries": rows,
        "failures": failures,
    }
    if not spot:
        report["memo_assisted_reruns"] = memo_assisted
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(json.dumps({k: v["ratio"] for k, v in rows.items()}, indent=1))
    print("FAILURES:", failures or "none")


# --------------------------------------------------------------- cores


def _cores(args) -> None:
    """Alternates core counts round by round, a fresh child per run (one
    session cannot change its master), so ambient drift cancels; each
    child reports the master its session actually got."""
    hi, lo = args.cpus
    runs: dict[int, list[dict]] = {hi: [], lo: []}
    for r in range(args.rounds):
        for cpus in (hi, lo):
            got = _spawn([args.query], args.sf_dir, 1, cpus)
            res = {
                "sec": got["times"][args.query][0],
                "master": got["master"],
                "default_parallelism": got["default_parallelism"],
                "cpus": cpus,
            }
            runs[cpus].append(res)
            print(f"round {r} cpus={cpus}: {res['sec']}s master={res['master']}", flush=True)
    best = {c: min(x["sec"] for x in runs[c]) for c in (hi, lo)}
    artifact = {
        "query": args.query,
        "sf_dir": args.sf_dir,
        "rounds": args.rounds,
        "interleaved": True,
        "fresh_subprocess_per_run": True,
        "runs": runs[hi] + runs[lo],
        "min_sec": {str(c): best[c] for c in (hi, lo)},
        "masters": {str(c): sorted({x["master"] for x in runs[c]}) for c in (hi, lo)},
        "low_over_high_ratio": round(best[lo] / best[hi], 3),
        "note": (
            "SPARK_GRAFT_CPUS drives the local master (masters field); the "
            "ratio is the CPU-bound spread the sf0.1 suite cannot show "
            "because its ~0.7s-median queries are stage-latency-bound."
        ),
    }
    with open(args.out, "w") as fh:
        json.dump(artifact, fh, indent=1)
        fh.write("\n")
    print(json.dumps({k: artifact[k] for k in ("low_over_high_ratio", "min_sec")}))


# -------------------------------------------------------------- census

# The tier (fixture directory name) plans/r15/plan_audit_before.json was taken at.
_CENSUS_TIER = "sf0.1"


def census(spark, sf_dir: str) -> dict:
    out = {}
    for name, spec in sorted(REGISTRY.items()):
        try:
            df = spec.fn(spark, sf_dir)
            if df.isStreaming:
                continue
            p = explain(spark, df)
        except Exception as exc:
            out[name] = {"error": str(exc)[:200]}
            continue

        def nodes(pattern: str) -> int:
            return len(re.findall(rf"\(\d+\) (?:{pattern})", p))

        scans = {}
        for m in re.finditer(r"Location: .*?/([a-z_0-9]+\.parquet)", p):
            scans[m.group(1)] = scans.get(m.group(1), 0) + 1
        udfs = re.findall(r"(?:ArrowEvalPython|BatchEvalPython) \[([a-zA-Z_0-9]+)\(", p)
        out[name] = {
            "n_ops": len(re.findall(r"^\(\d+\) ", p, re.M)),
            "exchanges": nodes(r"Exchange\b"),
            "smj": nodes("SortMergeJoin"),
            "bhj": nodes("BroadcastHashJoin"),
            "shj": nodes("ShuffledHashJoin"),
            "bnlj": nodes("BroadcastNestedLoopJoin"),
            "cartesian": nodes("CartesianProduct"),
            "py": nodes("ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas"
                        "|FlatMapGroupsInPandas"),
            "window": nodes(r"Window\b"),
            "sort": nodes(r"Sort\b"),
            "scans": scans,
            "dup_udf": sorted({u for u in udfs if udfs.count(u) > 1}),
            "rddscan": len(re.findall(r"Scan ExistingRDD", p)),
        }
    return out


def _census(args) -> None:
    out = census(open_session(args.sf_dir, "measure-census"), args.sf_dir)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=0, sort_keys=True)
        fh.write("\n")
    cart = [n for n, v in out.items() if v.get("cartesian")]
    dup = [n for n, v in out.items() if v.get("dup_udf")]
    errs = [n for n, v in out.items() if "error" in v]
    print("queries:", len(out), "cartesians:", cart, "dup_udfs:", dup, "errors:", errs)
    # Plan shapes depend on table sizes (AQE broadcast thresholds), so a
    # diff against a census of another tier reports the scale, not the plans.
    tier = os.path.basename(os.path.normpath(args.sf_dir))
    if tier != _CENSUS_TIER:
        print(f"diff skipped: the r15 census is at {_CENSUS_TIER}, this run at {tier}")
        return
    with open(os.path.join(_ROOT, "plans/r15/plan_audit_before.json")) as fh:
        old = json.load(fh)
    moved = []
    for n, v in out.items():
        o = old.get(n)
        if not o or "error" in v:
            continue
        for k in ("exchanges", "smj", "py", "cartesian"):
            if v[k] != o.get(k):
                moved.append((n, k, o.get(k), v[k]))
    for m in sorted(moved):
        print("CHANGED", m)


def main(argv=None) -> int:
    sf01 = "/root/testdata/sf0.1"  # the scale gate's base tier
    sf_default = os.environ.get("SPARK_GRAFT_SF_DIR", sf01)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("time")
    p.add_argument("names", nargs="+")
    p.add_argument("--sf-dir", default=sf_default)
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--round", help="write each query's plan to plans/<round>/")
    p.add_argument("--tag", default="before")
    p.add_argument("--no-builds", action="store_true", help="skip pre-paying the shared builds")

    p = sub.add_parser("adjudicate")
    p.add_argument("--bench", default=os.path.join(_ROOT, "BENCH_local.json"))
    p.add_argument("--sf-dir", default=sf_default)
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--no-baseline", action="store_true")
    p.add_argument("--label", default="")

    p = sub.add_parser("scale")
    p.add_argument("--base", default=sf01)
    p.add_argument("--tier", default="/tmp/scale10")
    p.add_argument("--copies", type=int, default=10)
    p.add_argument("--names", nargs="+")
    p.add_argument("--out", default=os.path.join(_ROOT, "SCALE_SMOKE.json"))

    p = sub.add_parser("cores")
    p.add_argument("--query", default="z10658_winnow_containment")
    p.add_argument("--sf-dir", default="/tmp/scale10")
    p.add_argument("--cpus", type=int, nargs=2, default=[32, 8])
    p.add_argument("--rounds", type=int, default=3)
    p.add_argument("--out", default=os.path.join(_ROOT, "CPU_SCALING_r16.json"))

    p = sub.add_parser("census")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", default=os.path.join(_ROOT, "plans/r16/plan_audit_close.json"))

    p = sub.add_parser("fresh")
    p.add_argument("names", nargs="+")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--runs", type=int, default=1)
    p.add_argument("--cpus", type=int)

    args = ap.parse_args(argv)
    cmd = {"time": _time, "adjudicate": _adjudicate, "scale": _scale,
           "cores": _cores, "census": _census, "fresh": _fresh}[args.cmd]
    return cmd(args) or 0


if __name__ == "__main__":
    sys.exit(main())
