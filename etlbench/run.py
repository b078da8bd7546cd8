"""Benchmark entry point.

    python3 etlbench/run.py --workload {resync,analytics} \
        --seed N --seconds S --trace {0,1}

Runs one workload in this process on ``local[<nproc>]``: time the cold
set-up (``setup_s`` counts from process start to a ready session, so it
includes interpreter and JVM start), run one untimed warm-up pass, then
the timed passes, check every output (untimed), and print one JSON result
as the last line of stdout. A provenance report is printed on the line
before it and written under ``.bench_work/reports/``.

Each pass does a fixed amount of work. ``--seconds`` sets how many timed
passes run: as many as fill about that many seconds on a 4-core box, a
count that depends on ``--seconds`` alone, so every run does the same work.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs one
untraced reference pass, then one pass with every public function of the
program's layers wrapped in spans, each span the Spark job group while it
is open, and folds Spark's uncompressed event log onto the spans
afterwards. It prints the per-layer metrics, with the tracing overhead as
the traced pass against the reference pass.

All files go under ``.bench_work/`` in the checkout (inputs, outputs,
Spark scratch, the event log); expected answers are cached under
``.bench_work/cache/`` by seed.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402


def _process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf(
            "SC_CLK_TCK"
        )
    except (OSError, ValueError, IndexError):
        return 0.0


_PROCESS_START = _T0 - max(0.0, _process_age())

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "eprints_to_hyku_data_tool_spark"
MB = 1024 * 1024
DRIVER_MEMORY = "2g"  # driver heap, fixed size (see SPARK_SUBMIT_OPTS)

END_TO_END = ("setup_s", "pass_s", "op_p50_s", "peak_rss_mb")
# Per-layer metrics the traced mode adds beside the span and event-log folds.
TRACE_EXTRAS = (
    "session.get_spark_s", "session.warm_session_s",
    "trace.overhead", "trace.untraced_pass_s",
)


def anon_bytes(pid: int) -> int:
    """Resident anonymous memory (heap, stacks, malloc) of one process.

    For Python processes this is their proportional share (``Pss_Anon``):
    PySpark's daemon forks its workers, and plain RSS would count each
    page they share twice. The JVM shares no anonymous memory with any
    process (it starts its children with posix_spawn), so its ``RssAnon``
    is the same figure, read in O(1): ``smaps_rollup`` walks every page of
    the 2 GiB heap, ~50 ms per read, which sampled at 10 Hz would itself
    load the run it measures."""
    with open(f"/proc/{pid}/status") as f:
        status = dict(line.split(":", 1) for line in f if ":" in line)
    if status["Name"].strip() == "java":
        return int(status["RssAnon"].split()[0]) * 1024
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss_Anon:"):
                return int(line.split()[1]) * 1024
    raise ValueError(f"no Pss_Anon for {pid}")


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers it forks), sampled every 100 ms as the sum
    of their resident anonymous memory (``anon_bytes``)."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.at_peak: dict = {}  # process -> MB at the peak sample
        self._halt = threading.Event()

    def sample(self) -> None:
        by_proc = {}
        for pid in [os.getpid()] + descendants():
            try:
                rss = anon_bytes(pid)
                with open(f"/proc/{pid}/comm") as f:
                    name = f"{f.read().strip()}:{pid}"
            except (OSError, ValueError, IndexError, KeyError):
                continue
            by_proc[name] = rss
        total = sum(by_proc.values())
        if total > self.peak:
            self.peak = total
            self.at_peak = {k: round(v / MB, 1) for k, v in by_proc.items()}

    def run(self):
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(0.1)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return self.peak / MB


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, including descendants that have exited and been reaped."""
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _parent_map() -> dict[int, int]:
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    return parent


def descendants() -> list[int]:
    """Every process below this one (the JVM, its Python workers)."""
    children: dict[int, list[int]] = {}
    for pid, pp in _parent_map().items():
        children.setdefault(pp, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def shutdown_spark(timeout: float = 60.0) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait until
    every process this run started has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    kids = descendants()
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def source_digest() -> str:
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, PACKAGE), HERE):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    load_start = os.getloadavg()
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    # The driver heap is fixed (-Xms = -Xmx) and touched at JVM start, so
    # it is resident at its full size throughout: how much of it GC
    # ergonomics happens to touch during a pass varied peak RSS by ~20%
    # between runs. The rest of the peak (JVM native memory, the Python
    # processes) is what a run can move.
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
        " -XX:+AlwaysPreTouch"
    )
    sys.path[:0] = [ROOT, HERE]
    try:
        import tempfile

        tempfile.tempdir = tmp
        from eprints_to_hyku_data_tool_spark.session import get_spark, warm_session

        import spans
        import workloads
    except ImportError as exc:
        print(f"etlbench: cannot import the program: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"etlbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    t_imported = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }

    def setup(extra):
        """get_spark (+ warm_session for the fixture workload); returns the
        session and the two durations."""
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"etlbench-{args.workload}", cpus=cores,
            driver_memory=DRIVER_MEMORY, extra_conf={**conf, **extra},
        )
        t_get = time.perf_counter() - t0
        if not workloads.WORKLOADS[args.workload].uses_fixtures:
            return spark, t_get, 0.0
        t1 = time.perf_counter()
        warm_session(spark, workloads.FIXTURES)
        return spark, t_get, time.perf_counter() - t1

    try:
        return run(args, work, work_root, load_start, t_imported, cores, setup,
                   spans, workloads)
    finally:
        shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)


def run(args, work, work_root, load_start, t_imported, cores, setup, spans,
        workloads) -> int:
    wl = workloads.WORKLOADS[args.workload](
        args.seed, work, os.path.join(work_root, "cache")
    )
    phases = {}  # wall seconds of the run's untimed phases
    t = time.perf_counter()
    wl.prepare()
    phases["prepare"] = time.perf_counter() - t

    ev_dir = os.path.join(work, "eventlog")
    ev_conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": ev_dir,
        "spark.eventLog.compress": "false",
    }
    if args.trace:
        os.makedirs(ev_dir, exist_ok=True)
    # setup_s: process start to a ready session, with the input
    # generation that ran in between excluded.
    spark, t_get, t_warm = setup(ev_conf if args.trace else {})
    t_get += t_imported - _PROCESS_START
    sc = spark.sparkContext
    session_info = {
        "spark_master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark_version": spark.version,
    }
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    wl.spark = spark
    wl.reset_outputs()
    t = time.perf_counter()
    wl.warm_up(spans.Tracer(run_id + "-warm"))
    phases["warm_up"] = time.perf_counter() - t

    rss_at_peak: dict = {}
    peak_rss = 0.0

    def timed_pass(tracer, tag):
        nonlocal peak_rss
        sampler = RssSampler()
        sampler.start()
        cpu0 = tree_cpu_s()
        with tracer.span("pass", "bench", **{"pass": tag}) as pass_span:
            wl.run_pass(tracer, tag)
        pass_span["cpu_s"] = tree_cpu_s() - cpu0
        peak = sampler.stop()
        if peak > peak_rss:
            peak_rss = peak
            rss_at_peak.clear()
            rss_at_peak.update(sampler.at_peak)
        return pass_span

    layer_metrics = {}
    if args.trace:
        from eprints_to_hyku_data_tool_spark import etl
        from eprints_to_hyku_data_tool_spark.functions import (
            checkpointing, copurchase, grams, graph, memo, neardup, ordering,
        )
        from eprints_to_hyku_data_tool_spark.sources import io, ledger, tables
        from eprints_to_hyku_data_tool_spark.streaming import ledger_sink

        # The untraced reference pass, then the traced pass, both after
        # the warm-up and in the same JVM, whose event log is on for both.
        ref_span = timed_pass(spans.Tracer(run_id + "-ref"), "ref")
        tr = spans.Tracer(run_id, sc)
        targets = [
            (io, "io", "sources.io"),
            (etl, "etl", "etl"),
            (ledger, "ledger", "sources.ledger"),
            (ledger_sink, "sink", "streaming.ledger_sink"),
            (tables, "tables", "sources.tables"),
        ] + [
            (m, "functions", "functions")
            for m in (copurchase, neardup, grams, graph, ordering, memo, checkpointing)
        ]
        restore = spans.patch(tr, targets, PACKAGE)
        try:
            pass_spans = [timed_pass(tr, "traced")]
        finally:
            restore()
        ops = wl.unit_ops({"traced"})
        attempted, failed, errors = len(wl.ops), wl.failed, list(wl.errors)
        mismatches = safe_check(wl, failed, phases)
        app_id = sc.applicationId
        spark.stop()  # flushes and closes the event log
        log = spans.EventLog(spans.read_events(spans.event_log_files(ev_dir, app_id)))
        pass_span = pass_spans[0]
        layer_metrics.update(workloads.layer_defaults())
        layer_metrics.update(workloads.common_layer_metrics(tr))
        # Ledger counts and output sizes come from the traced pass's files.
        specific = wl.layer_metrics(tr, log, "traced")
        if set(specific) != set(wl.LAYER_KEYS):
            raise RuntimeError(f"{wl.name} layer metrics {sorted(specific)}")
        layer_metrics.update(specific)
        layer_metrics.update(
            spans.fold_counters(log, tr.spans, pass_span, ops, cores)
        )
        selfs = spans.self_time_by_layer([s for s in tr.spans if s is not pass_span])
        layer_metrics["session.get_spark_s"] = t_get
        layer_metrics["session.warm_session_s"] = t_warm
        # The session layer works in set-up, not in the pass.
        selfs["session"] = t_get + t_warm
        for layer in LAYERS:
            layer_metrics[f"layer.self_s.{layer}"] = selfs.get(layer, 0.0)
        layer_metrics["trace.overhead"] = spans.dur(pass_span) / spans.dur(ref_span) - 1.0
        layer_metrics["trace.untraced_pass_s"] = spans.dur(ref_span)
        tracer = tr
    else:
        tracer = spans.Tracer(run_id)
        tags = [f"p{k}" for k in range(wl.passes_for(args.seconds))]
        pass_spans = [timed_pass(tracer, tag) for tag in tags]
        ops = wl.unit_ops(set(tags))
        attempted, failed, errors = len(wl.ops), wl.failed, list(wl.errors)
        mismatches = safe_check(wl, failed, phases)

    end_to_end = {
        "setup_s": (t_get + t_warm, "s"),
        "pass_s": (statistics.median(spans.dur(s) for s in pass_spans), "s"),
        "op_p50_s": (workloads.op_p50(ops), "s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "provenance": {
            "git_commit": git_commit(),
            "source_sha256": source_digest(),
            **session_info,
            "nproc": cores,
            "cpu_count": os.cpu_count(),
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "driver_memory": DRIVER_MEMORY,
            "python": sys.version.split()[0],
            "inputs": wl.input_sizes(),
        },
        "ops": {
            "attempted": attempted,
            "failed": failed,
            "timed_passes": len(pass_spans),
            "pass_s": [round(spans.dur(s), 4) for s in pass_spans],
            "pass_cpu_s": [round(s["cpu_s"], 2) for s in pass_spans],
            "unit_ops": len(ops),
            "unit_op_s": [
                [s.get("query") or s["name"], round(spans.dur(s), 4)] for s in ops
            ],
            "errors": errors[:10],
        },
        "phases_s": phases,
        "peak_rss_by_process_mb": rss_at_peak,
        "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
        "mismatches": mismatches[:20],
    }
    if args.trace:
        report["layers"] = layer_metrics
        report["spans"] = len(tracer.spans)
        metrics = {
            m["name"]: {"value": float(layer_metrics[m["name"]]), "unit": m["unit"]}
            for m in per_layer_spec()
        }
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in end_to_end.items()}
    reports = os.path.join(work_root, "reports")
    stem = os.path.join(reports, f"{args.workload}-{args.seed}-trace{args.trace}")
    workloads.dump_json(stem + ".json", report)
    if args.trace:  # the spans, kept in memory until now
        workloads.dump_json(stem + "-spans.json", tracer.spans)
    print(json.dumps(report, sort_keys=True, default=str))
    print(json.dumps({
        "correct": not mismatches and not failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def safe_check(wl, failed: int, phases: dict) -> list[str]:
    if failed:
        return [f"{failed} operations failed"]
    t = time.perf_counter()
    try:
        return wl.check()
    except Exception as exc:  # a check that cannot run is a failed check
        return [f"check raised {type(exc).__name__}: {str(exc)[:300]}"]
    finally:
        phases["check"] = time.perf_counter() - t


LAYERS = (
    "session", "sources.io", "etl", "sources.ledger", "streaming.ledger_sink",
    "plans", "functions", "sources.tables",
)


def per_layer_spec() -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)["per_layer"]


if __name__ == "__main__":
    sys.exit(main())
