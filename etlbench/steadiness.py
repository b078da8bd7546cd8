"""Repeat the benchmark over several seeds and record how steady it is.

    python3 etlbench/steadiness.py --seeds 1-10 [--workloads a,b] \
        [--holdout 9001] [--out etlbench/STEADINESS.json]

For every workload, runs ``run.py`` once per seed (untraced), then reports
for each end-to-end metric its median, its interquartile spread as a
share of the median (``statistics.quantiles(values, n=4)``) and that
spread's ratio to the metric's bound in BENCHMARK.json. With
``--holdout`` it also runs a seed kept out of the repeated runs and
reports each metric's distance from the repeated runs' median, as a
share of that median. Results are merged into ``--out`` by workload.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report = json.loads(lines[-2])
    return {
        "seed": seed,
        "wall_s": time.time() - t0,
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "loadavg": [report["provenance"]["loadavg_start"][0],
                    report["provenance"]["loadavg_end"][0]],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--holdout", type=int, default=None)
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]
    ]
    doc = {}
    if os.path.exists(args.out):
        with open(args.out, encoding="utf-8") as f:
            doc = json.load(f)
    for w in names:
        runs = [run_once(w, s, bench["run_seconds"]) for s in args.seeds]
        summary = {}
        for m, bound in bounds.items():
            vals = [r["metrics"][m] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            summary[m] = {
                "median": med, "iqr_share": spread, "bound": bound,
                "share_of_bound": spread / bound,
            }
        entry = {
            "seeds": args.seeds,
            "all_correct": all(r["correct"] and not r["failed"] for r in runs),
            "metrics": summary,
            "runs": runs,
        }
        if args.holdout is not None:
            h = run_once(w, args.holdout, bench["run_seconds"])
            entry["holdout"] = {
                **h,
                "share_from_median": {
                    m: h["metrics"][m] / summary[m]["median"] - 1 for m in bounds
                },
            }
        doc[w] = entry
        print(json.dumps({w: {m: round(s["share_of_bound"], 3) for m, s in summary.items()}}))
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
