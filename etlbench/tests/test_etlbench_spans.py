"""Span bookkeeping, module patching, and the event-log fold against the
committed fixture (regenerate with ``make_eventlog_fixture.py``)."""

import os
import types

import spans

FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures", "eventlog_small.jsonl",
)


def _log():
    return spans.EventLog(spans.read_events([FIXTURE]))


def _raw_task_sums(events, stage_ids):
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"
             and e["Stage ID"] in stage_ids]
    return len(tasks), sum(
        e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for e in tasks
    )


def test_jobs_are_attributed_to_their_job_group():
    log = _log()
    groups = {job["group"] for job in log.jobs.values()}
    assert groups == {"g-agg", "g-count"}
    events = spans.read_events([FIXTURE])
    for g in ("g-agg", "g-count"):
        jobs = log.jobs_in_groups({g})
        assert jobs
        stages = {s for j in jobs for s in log.jobs[j]["stages"]}
        n_tasks, written = _raw_task_sums(events, stages)
        t0 = min(log.jobs[j]["start"] for j in jobs)
        t1 = max(log.jobs[j]["end"] for j in jobs)
        c = log.counters(jobs, t0, t1, cores=2)
        assert c["jobs"] == len(jobs)
        assert c["tasks"] == n_tasks
        assert abs(c["shuffle_write_mb"] - written / spans.MB) < 1e-12
        assert 0 <= c["driver_s"] <= t1 - t0
        assert c["task_run_s"] > 0 and c["core_util"] > 0
    agg = log.counters(log.jobs_in_groups({"g-agg"}), 0, 1e12, 2)
    assert agg["shuffle_write_mb"] > 0 and agg["shuffle_read_mb"] > 0


def test_exchange_bytes_come_from_the_plan_metrics():
    log = _log()
    mb = log.exchange_mb(lambda n: "hashpartitioning(k" in n.get("simpleString", ""))
    agg = log.counters(log.jobs_in_groups({"g-agg"}), 0, 1e12, 2)
    assert mb > 0
    assert abs(mb - agg["shuffle_write_mb"]) < 1e-9
    assert log.exchange_mb(lambda n: False) == 0


def test_exchange_bytes_count_only_executions_started_in_the_window():
    log = _log()
    hash_k = lambda n: "hashpartitioning(k" in n.get("simpleString", "")  # noqa: E731
    starts = sorted({t for t, _ in log.plans})
    assert len(starts) == 2
    total = log.exchange_mb(hash_k)
    assert log.exchange_mb(hash_k, starts[0] - 1, starts[1] + 1) == total
    assert log.exchange_mb(hash_k, starts[1] + 1, starts[1] + 2) == 0
    assert log.exchange_mb(hash_k, 0, starts[0] - 1) == 0


def test_union_length():
    assert spans.union_length([]) == 0
    assert spans.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert spans.union_length([(2, 1)]) == 0


def test_span_tree_arithmetic_and_patching():
    mod = types.ModuleType("pkgx.mod")

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    inner.__module__ = outer.__module__ = "pkgx.mod"
    mod.inner, mod.outer = inner, outer
    other = types.ModuleType("pkgx.other")
    other.inner = inner  # a from-import binding elsewhere in the package
    import sys

    sys.modules["pkgx.mod"], sys.modules["pkgx.other"] = mod, other
    try:
        tr = spans.Tracer("t")
        restore = spans.patch(tr, [(mod, "m", "layer.a")], "pkgx")
        with tr.span("op", "bench"):
            assert mod.outer(1) == 4
            assert other.inner(1) == 2
        restore()
    finally:
        del sys.modules["pkgx.mod"], sys.modules["pkgx.other"]
    assert mod.inner is inner and other.inner is inner
    names = [s["name"] for s in tr.spans]
    assert names == ["op", "m.outer", "m.inner", "m.inner"]
    by = {s["id"]: s for s in tr.spans}
    assert by[tr.spans[2]["parent"]]["name"] == "m.outer"
    selfs = spans.self_time_by_layer(tr.spans)
    total = spans.dur(tr.spans[0])
    assert abs(sum(selfs.values()) - total) < 1e-9
    assert spans.outermost_total(tr.spans, "m.inner") == sum(
        spans.dur(s) for s in tr.spans if s["name"] == "m.inner"
    )
