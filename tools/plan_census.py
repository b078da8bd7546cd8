"""Whole-registry plan census (same format as
plans/r15/plan_audit_before.json) + a diff against that r15 census,
made only when --sf-dir is the census's own tier (sf0.1).

Run:  python tools/plan_census.py --sf-dir <tpch-shaped parquet dir> \
          [--out plans/r16/plan_audit_close.json]
"""
import argparse
import json
import os
import re
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The tier (fixture directory name) plans/r15/plan_audit_before.json was taken at.
_BASELINE_TIER = "sf0.1"


def census(spark, sf: str) -> dict:
    from eprints_to_hyku_data_tool_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    out = {}
    for name, spec in sorted(REGISTRY.items()):
        try:
            df = spec.fn(spark, sf)
            if df.isStreaming:
                continue
            p = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        except Exception as exc:
            out[name] = {"error": str(exc)[:200]}
            continue
        scans = {}
        for m in re.finditer(r"Location: .*?/([a-z_0-9]+\.parquet)", p):
            scans[m.group(1)] = scans.get(m.group(1), 0) + 1
        udfs = re.findall(r"(?:ArrowEvalPython|BatchEvalPython) \[([a-zA-Z_0-9]+)\(", p)
        dup = sorted({u for u in udfs if udfs.count(u) > 1})
        out[name] = {
            "n_ops": len(re.findall(r"^\(\d+\) ", p, re.M)),
            "exchanges": len(re.findall(r"\(\d+\) Exchange\b", p)),
            "smj": len(re.findall(r"\(\d+\) SortMergeJoin", p)),
            "bhj": len(re.findall(r"\(\d+\) BroadcastHashJoin", p)),
            "shj": len(re.findall(r"\(\d+\) ShuffledHashJoin", p)),
            "bnlj": len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)),
            "cartesian": len(re.findall(r"\(\d+\) CartesianProduct", p)),
            "py": len(re.findall(r"\(\d+\) (?:ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas)", p)),
            "window": len(re.findall(r"\(\d+\) Window\b", p)),
            "sort": len(re.findall(r"\(\d+\) Sort\b", p)),
            "scans": scans,
            "dup_udf": dup,
            "rddscan": len(re.findall(r"Scan ExistingRDD", p)),
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", default=os.path.join(_ROOT, "plans/r16/plan_audit_close.json"))
    args = ap.parse_args()

    sys.path.insert(0, _ROOT)
    from eprints_to_hyku_data_tool_spark.session import get_spark

    spark = get_spark(app_name="plan_census", cpus=32)
    out = census(spark, args.sf_dir)
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
    if tier != _BASELINE_TIER:
        print(f"diff skipped: the r15 census is at {_BASELINE_TIER}, this run at {tier}")
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


if __name__ == "__main__":
    main()
