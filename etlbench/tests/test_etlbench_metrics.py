"""BENCHMARK.json is well formed and every metric it names is emitted by
its run mode. The opt-in end-to-end check (ETLBENCH_SLOW=1) runs each
workload in both modes and compares the emitted names."""

import json
import os
import re
import subprocess
import sys

import pytest

import run
import spans
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_benchmark_json_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["paths"] == ["etlbench"] and b["command"][1].startswith("etlbench/")
    names = [w["name"] for w in b["workloads"]] + [
        m["name"] for m in b["end_to_end"] + b["per_layer"]
    ]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_end_to_end_names_match_the_untraced_mode():
    assert [m["name"] for m in _bench()["end_to_end"]] == list(run.END_TO_END)


def test_per_layer_names_are_all_produced_by_the_traced_mode():
    fixture = os.path.join(ROOT, "etlbench", "fixtures", "eventlog_small.jsonl")
    log = spans.EventLog(spans.read_events([fixture]))
    tr = spans.Tracer("t")
    with tr.span("pass", "bench") as p:
        pass
    produced = set(workloads.layer_defaults())
    produced |= set(workloads.common_layer_metrics(tr))
    produced |= set(spans.fold_counters(log, tr.spans, p, [], 4))
    produced |= {f"layer.self_s.{layer}" for layer in run.LAYERS}
    produced |= set(run.TRACE_EXTRAS)
    assert {m["name"] for m in _bench()["per_layer"]} == produced


@pytest.mark.skipif(os.environ.get("ETLBENCH_SLOW") != "1", reason="opt-in: ETLBENCH_SLOW=1")
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_run_emits_its_metrics(workload, trace):
    out = subprocess.run(
        [sys.executable, "etlbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "10", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    spec = _bench()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
