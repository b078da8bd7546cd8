"""The two workloads: inputs, the passes, and the output checks.

Each workload class has

- ``prepare()``: build the seeded inputs (not timed, not part of set-up);
- ``warm_up(tr)``: an untimed pass of the same operations, run once after
  set-up so the timed passes do not measure JIT compilation and Spark's
  first-use code generation;
- ``run_pass(tr, tag)``: one pass, a fixed list of operations on fresh
  outputs under ``tag``, each operation in a ``bench``-layer span; unit
  operations carry ``unit=True``;
- ``check()``: untimed output checks after the passes, returning a list
  of mismatch messages (empty means correct);
- ``layer_metrics(tr, log, tag)``: the workload's per-layer numbers for
  the traced pass ``tag``.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import random
import shutil
import statistics
from collections import Counter

import gen
import reference as ref
from spans import MB, children_index, dur, outermost_total, subtree_has

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(ROOT, "etlbench", "fixtures", "sf0.01")


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Workload:
    name = ""
    LAYER_KEYS: tuple = ()  # what layer_metrics returns
    uses_fixtures = False
    PASS_S = 10.0  # a warm pass's wall time on the 4-core box, for sizing

    def __init__(self, seed: int, work: str, cache: str):
        self.seed = seed
        self.work, self.cache = work, cache
        self.inputs = os.path.join(work, "in")
        self.out = os.path.join(work, "out")
        self.spark = None
        self.tag = ""  # the pass being run
        self.ops: list[dict] = []  # every operation, warm-up included
        self.failed = 0
        self.errors: list[str] = []

    def reset_outputs(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        self.ops, self.failed, self.errors = [], 0, []

    def passes_for(self, seconds: float) -> int:
        """Timed passes that fill about ``seconds`` on the 4-core box. The
        count depends on ``seconds`` only, so every run does the same work."""
        return max(1, round(seconds / self.PASS_S))

    def warm_up(self, tr) -> None:
        self.run_pass(tr, "warm")

    def op(self, tr, name, fn, unit=True, **attrs):
        """One operation of the pass: a span, failures counted not raised."""
        with tr.span(name, "bench", unit=unit, **{"pass": self.tag}, **attrs) as s:
            try:
                result = fn()
                s["ok"] = True
            except Exception as exc:  # counted as a failed operation
                result = None
                s["ok"] = False
                self.failed += 1
                self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
        self.ops.append(s)
        return result

    def cached(self, key: str, build):
        """Expected answers, cached by seed and by the source of the
        generator, the reference and the workload sizes."""
        src = "".join(
            open(os.path.join(ROOT, "etlbench", f), encoding="utf-8").read()
            for f in ("gen.py", "reference.py", "workloads.py")
        )
        tag = hashlib.sha256(src.encode()).hexdigest()[:12]
        path = os.path.join(self.cache, f"{self.name}-{key}-{self.seed}-{tag}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        value = build()
        os.makedirs(self.cache, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(value, f)
        os.replace(path + ".tmp", path)
        return value

    def unit_ops(self, tags):
        return [s for s in self.ops if s.get("unit") and s["pass"] in tags]

    def input_sizes(self) -> dict:
        return {"records": self.records, "bytes": _du(self.inputs)}


# --------------------------------------------------------------------------
class Resync(Workload):
    """The migration operator's two jobs on one ledger table. A pass loads
    the seeded EPrints export into a fresh ledger table keyed on eprintid
    and exports it in full to Bulkrax CSV (with both reports); then
    key-unique change batches go through the streaming sink, each followed
    by its Bulkrax delta CSV."""

    name = "resync"
    LAYER_KEYS = (
        "io.csv_mb", "etl.refold_shuffle_mb",
        "sink.redelivered_skipped", "sink.commit_retries",
        "ledger.groups_rewritten", "ledger.changes_groups_scanned", "ledger.write_amp",
    )
    BASE = 3_000
    BATCHES = 3  # per timed pass
    WARM_BATCHES = 2
    BATCH_ROWS = 60
    REDELIVER_EVERY = 4  # batch ids with i % 4 == 1 arrive twice
    READ_EVERY = 2  # a snapshot and a time-travel read every 2nd batch
    PASS_S = 7.0
    APP = "etlbench-resync"

    def prepare(self):
        self.base = gen.make_records(self.seed, self.BASE)
        self.batches = gen.make_batches(
            self.seed, self.BASE, self.BATCHES, self.BATCH_ROWS
        )
        self.base_path = os.path.join(self.inputs, "base.jsonl")
        self.smap_path = os.path.join(self.inputs, "subject_map.csv")
        gen.dump_jsonl(self.base, self.base_path)
        gen.dump_subject_map(self.smap_path)
        self.batch_paths = []
        for i, b in enumerate(self.batches):
            p = os.path.join(self.inputs, f"batch{i:03d}.jsonl")
            gen.dump_jsonl(b, p)
            self.batch_paths.append(p)
        self.records = self.BASE + sum(len(b) for b in self.batches)
        self.runs: dict[str, dict] = {}  # pass tag -> what the pass returned

    def warm_up(self, tr):
        self.run_pass(tr, "warm", self.WARM_BATCHES)

    def plan(self, n_batches: int):
        """The deliveries of a pass of ``n_batches`` fresh batches, and its
        reads: fresh-batch index -> the version the time-travel read asks
        for (the same for every pass)."""
        deliveries = []
        for i in range(n_batches):
            deliveries.append((i, False))
            if i % self.REDELIVER_EVERY == 1:
                deliveries.append((i, True))
        reads = {
            i: random.Random(f"reads:{self.seed}:{i}").randint(0, i)
            for i in range(self.READ_EVERY - 1, n_batches, self.READ_EVERY)
        }
        return deliveries, reads

    def run_pass(self, tr, tag, n_batches=None):
        from pyspark.sql import functions as F

        from eprints_to_hyku_data_tool_spark import etl
        from eprints_to_hyku_data_tool_spark.sources import io, ledger
        from eprints_to_hyku_data_tool_spark.streaming import ledger_sink

        spark = self.spark
        self.tag = tag
        n_batches = self.BATCHES if n_batches is None else n_batches
        deliveries, reads = self.plan(n_batches)
        out = os.path.join(self.out, tag)
        st = self.runs[tag] = {
            "out": out,
            "table": os.path.join(out, "ledger"),
            "batches": n_batches,
            "deliveries": deliveries,
            "reads": reads,
            "results": {},  # delivery index -> merge_batch return value
            "reports": None,
        }
        table = st["table"]

        def load():
            df = io.read_json(spark, self.base_path, etl.EPRINTS_SCHEMA)
            ledger.create(spark, table, df, key="eprintid")

        self.op(tr, "create", load, unit=False)
        smap = io.read_csv(spark, self.smap_path, "code string, label string")

        def export():
            df = io.read_json(spark, self.base_path, etl.EPRINTS_SCHEMA)
            rows = etl.eprints_to_bulkrax(df, smap)
            with tr.span("etl.reports", "etl"):
                unmapped = etl.unmapped_subjects_report(df, smap).collect()
                null_main = etl.null_main_documents(df).collect()
            io.write_bulkrax_csv(rows, os.path.join(out, "export"), shuffle=True)
            st["reports"] = (unmapped, null_main)

        self.op(tr, "export", export, unit=False)

        def apply(i, n):
            bdf = io.read_json(spark, self.batch_paths[i], etl.EPRINTS_SCHEMA)
            v = ledger_sink.merge_batch(table, bdf, i, self.APP)
            st["results"][n] = v
            if v is None:
                return
            delta = (
                ledger.changes(spark, table, v - 1, v)
                .filter(F.col("_change_type") == "insert")
                .drop("_change_type")
            )
            io.write_bulkrax_csv(
                etl.eprints_to_bulkrax(delta, smap),
                os.path.join(out, f"delta{v:04d}"),
            )

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        for n, (i, again) in enumerate(deliveries):
            self.op(
                tr, "redelivery" if again else "batch",
                lambda i=i, n=n: apply(i, n), unit=not again, batch=i,
            )
            if not again and i in reads:
                self.op(tr, "snapshot_read", lambda: noop(ledger.read(spark, table)), unit=False)
                self.op(
                    tr, "time_travel_read",
                    lambda v=reads[i]: noop(ledger.read(spark, table, version=v)),
                    unit=False,
                )

    def check(self):
        smap = dict(gen.SUBJECT_MAP)

        def expected():
            r = ref.LedgerReplay(self.base)
            deltas = [ref.expected_csv_rows(r.apply(b), smap) for b in self.batches]
            return (
                ref.expected_csv_rows(self.base, smap),
                ref.expected_unmapped(self.base, smap),
                ref.expected_null_main(self.base),
                deltas,
                r.versions,
            )

        want = self.cached("expected", expected)
        bad = []
        for tag, st in self.runs.items():
            bad += [f"{tag}: {m}" for m in self.check_pass(st, *want)]
        return bad

    def check_pass(self, st, want_rows, want_unmapped, want_null, deltas, versions):
        from eprints_to_hyku_data_tool_spark.sources import ledger

        bad = []
        header, rows = ref.read_csv_dir(os.path.join(st["out"], "export"))
        if header != ref.BULKRAX_COLUMNS:
            bad.append(f"export: header {header}")
        if rows != want_rows:
            bad.append(f"export: csv rows differ: {ref.diff_sample(rows, want_rows)}")
        if st["reports"] is None:
            bad.append("export: no reports")
        else:
            unmapped, null_main = st["reports"]
            got_u = Counter((r["eprintid"], r["code"]) for r in unmapped)
            got_n = Counter((r["eprintid"], r["pos"]) for r in null_main)
            if got_u != want_unmapped:
                bad.append(f"unmapped report: {ref.diff_sample(got_u, want_unmapped)}")
            if got_n != want_null:
                bad.append(f"null-main report: {ref.diff_sample(got_n, want_null)}")
        n_batches = st["batches"]
        for n, (i, again) in enumerate(st["deliveries"]):
            got = st["results"].get(n, "missing")
            want = None if again else i + 1
            if got != want:
                bad.append(f"delivery {n} (batch {i}, again={again}): version {got}, want {want}")
        n_versions = len(ledger.history(st["table"]))
        if n_versions != n_batches + 1:
            bad.append(f"{n_versions} versions, want {n_batches + 1}: a re-delivery committed")
        for i in range(n_batches):
            header, rows = ref.read_csv_dir(os.path.join(st["out"], f"delta{i + 1:04d}"))
            if header != ref.BULKRAX_COLUMNS or rows != deltas[i]:
                bad.append(f"delta v{i + 1}: {ref.diff_sample(rows, deltas[i])}")
        for v in sorted({n_batches, *st["reads"].values()}):
            got = ledger.read(self.spark, st["table"], version=v).toArrow().to_pylist()
            got = {r["eprintid"]: r for r in got}
            if got != versions[v]:
                diff = [k for k in set(got) | set(versions[v]) if got.get(k) != versions[v].get(k)]
                bad.append(f"snapshot v{v}: {len(diff)} records differ, e.g. {sorted(diff)[:3]}")
        return bad

    def layer_metrics(self, tr, log, tag):
        from eprints_to_hyku_data_tool_spark.sources import ledger

        st = self.runs[tag]
        hist = ledger.history(st["table"])
        paths = [{g["path"]: g for g in m["groups"]} for m in hist]
        rewritten = scanned = 0
        written_bytes = changed_bytes = 0.0
        for v in range(1, len(hist)):
            old, new = paths[v - 1], paths[v]
            only_old = [p for p in old if p not in new]
            only_new = [p for p in new if p not in old]
            rewritten += len(only_old)
            scanned += len(only_old) + len(only_new)
            for p in only_new:
                size = _du(os.path.join(st["table"], p))
                rows = max(1, new[p]["rows"])
                written_bytes += size
                changed_bytes += len(self.batches[v - 1]) * size / rows
        kids = children_index(tr.spans)
        retries = sum(
            max(0, sum(c["name"] == "ledger.merge" for c in kids.get(s["id"], [])) - 1)
            for s in tr.spans
            if s["name"] == "sink.merge_batch"
        )

        def refold(node):
            return "hashpartitioning(eprintid" in node.get("simpleString", "") and subtree_has(
                node,
                lambda n: n.get("nodeName") == "Generate"
                and "posexplode" in n.get("simpleString", ""),
            )

        pass_span = next(s for s in tr.spans if s["name"] == "pass")
        return {
            "io.csv_mb": sum(
                _du(os.path.join(st["out"], d))
                for d in os.listdir(st["out"])
                if d == "export" or d.startswith("delta")
            ) / MB,
            "etl.refold_shuffle_mb": log.exchange_mb(
                refold, pass_span["start"], pass_span["end"]
            ),
            "sink.redelivered_skipped": sum(v is None for v in st["results"].values()),
            "sink.commit_retries": retries,
            "ledger.groups_rewritten": rewritten,
            "ledger.changes_groups_scanned": scanned,
            "ledger.write_amp": written_bytes / changed_bytes if changed_bytes else 0.0,
        }


# --------------------------------------------------------------------------
# Analytics: registered queries by rotation-stable suffix, per family.
FAMILIES = {
    "relational": ["asof_join"],
    "aggregate": ["groupby_multi_agg"],
    "window": ["topk_per_group"],
    "scalar": ["expectations_audit"],
    "udf": ["grouped_map"],
    "text": ["tfidf"],
}
# Shared memoized builds and the registered queries that consume them.
BUILDS = {
    "copurchase": ("copurchase", "triangle_node_stats",
                   ["triangle_count", "clustering_coefficient", "degree_powerlaw"]),
    "neardup": ("neardup", "components", ["split_leakage"]),
    "grams": ("grams", "doc_grams8", ["decontaminate"]),
}


def resolve_suffix(suffix: str) -> str:
    from eprints_to_hyku_data_tool_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    names = [n for n in REGISTRY if n.endswith("_" + suffix)]
    if len(names) != 1:
        raise LookupError(f"suffix {suffix!r} matches {sorted(names)}")
    return names[0]


class Analytics(Workload):
    """Registered queries against the committed sf0.01 fixture tables.
    Each pass reads its own copy of the tables: the memo is keyed by the
    table directory, so every pass builds the shared intermediates anew."""

    name = "analytics"
    LAYER_KEYS = (
        *(f"plans.exec_s.{f}" for f in FAMILIES),
        *(f"functions.build_s.{b}" for b in BUILDS),
        "functions.consumer_exec_s",
    )
    uses_fixtures = True
    PASS_S = 11.0

    def prepare(self):
        from tests.test_sf01_sweep import QUADRATIC_ORACLES

        rng = random.Random(f"analytics:{self.seed}")
        indep = [
            (fam, resolve_suffix(s)) for fam, sfx in FAMILIES.items() for s in sfx
        ]
        rng.shuffle(indep)
        builds = list(BUILDS)
        rng.shuffle(builds)
        self.stream = [("query", fam, n) for fam, n in indep]
        for b in builds:
            consumers = [resolve_suffix(s) for s in BUILDS[b][2]]
            rng.shuffle(consumers)
            self.stream.append(("build", b, None))
            self.stream += [("query", f"memo:{b}", n) for n in consumers]
        queries = [n for kind, _, n in self.stream if kind == "query"]
        clash = sorted(set(queries) & QUADRATIC_ORACLES)
        if clash:
            raise ValueError(f"queries without a tractable oracle: {clash}")
        self.sizes = {"records": 0, "bytes": 0}
        import pyarrow.parquet as pq

        for f in sorted(os.listdir(FIXTURES)):
            p = os.path.join(FIXTURES, f)
            self.sizes["records"] += pq.ParquetFile(p).metadata.num_rows
            self.sizes["bytes"] += os.path.getsize(p)

    def input_sizes(self):
        return dict(self.sizes)

    def run_pass(self, tr, tag):
        import importlib

        from eprints_to_hyku_data_tool_spark.functions import ordering
        from eprints_to_hyku_data_tool_spark.plans.registry import REGISTRY

        spark = self.spark
        self.tag = tag
        tables = self.tables = os.path.join(self.inputs, f"tables-{tag}")
        shutil.copytree(FIXTURES, tables)

        def query(name, family):
            with tr.span("plans.call", "plans", family=family):
                df = REGISTRY[name].fn(spark, tables)
            with tr.span("plans.exec", "plans", family=family):
                df.write.format("noop").mode("overwrite").save()
            ordering.release_pins()

        def build(b):
            mod, fn, _ = BUILDS[b]
            m = importlib.import_module(f"eprints_to_hyku_data_tool_spark.functions.{mod}")
            getattr(m, fn)(spark, tables)

        for kind, what, name in self.stream:
            if kind == "build":
                self.op(tr, f"build.{what}", lambda w=what: build(w), build=what)
            else:
                self.op(tr, "query", lambda n=name, f=what: query(n, f), query=name, family=what)

    def check(self):
        import duckdb
        import pyarrow as pa

        from eprints_to_hyku_data_tool_spark.functions import ordering
        from eprints_to_hyku_data_tool_spark.plans.registry import REGISTRY
        from eprints_to_hyku_data_tool_spark.sources.tables import TABLES
        from tests.parity import assert_parity

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURES}/{t}.parquet'")
        cache_dir = os.path.join(self.cache, "oracle")
        os.makedirs(cache_dir, exist_ok=True)

        class CachedOracle:
            """``assert_parity``'s duck_con, serving oracle results cached
            on disk by query name (the fixtures never change)."""

            def __init__(self, name):
                self.name = name
                self.path = os.path.join(cache_dir, f"{name}.arrow")

            def execute(self, sql):
                return self

            def fetch_arrow_table(self):
                if os.path.exists(self.path):
                    with pa.memory_map(self.path) as src:
                        return pa.ipc.open_file(src).read_all()
                table = con.execute(REGISTRY[self.name].oracle).fetch_arrow_table()
                with pa.OSFile(self.path + ".tmp", "wb") as sink:
                    with pa.ipc.new_file(sink, table.schema) as w:
                        w.write_table(table)
                os.replace(self.path + ".tmp", self.path)
                return table

        bad = []
        for kind, _, name in self.stream:
            if kind != "query":
                continue
            oracle = CachedOracle(name)
            try:
                assert_parity(
                    REGISTRY[name].fn(self.spark, self.tables),
                    REGISTRY[name].oracle, oracle, name=name,
                )
            except Exception as exc:
                bad.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            finally:
                ordering.release_pins()
        con.close()
        return bad

    def layer_metrics(self, tr, log, tag):
        spans = tr.spans
        out = {}
        for fam in FAMILIES:
            out[f"plans.exec_s.{fam}"] = sum(
                dur(s) for s in spans if s["name"] == "plans.exec" and s.get("family") == fam
            )
        for b in BUILDS:
            out[f"functions.build_s.{b}"] = sum(
                dur(s) for s in spans if s["name"] == f"build.{b}"
            )
        out["functions.consumer_exec_s"] = sum(
            dur(s)
            for s in spans
            if s["name"] == "plans.exec" and str(s.get("family", "")).startswith("memo:")
        )
        return out


WORKLOADS = {w.name: w for w in (Resync, Analytics)}


def layer_defaults() -> dict:
    """Workload-specific per-layer metrics read 0 on the other workloads."""
    return {k: 0.0 for w in WORKLOADS.values() for k in w.LAYER_KEYS}


def common_layer_metrics(tr) -> dict:
    """Per-layer numbers every workload reports (zero where the workload
    does not touch the layer)."""
    s = tr.spans
    return {
        "io.read_json_s": outermost_total(s, "io.read_json"),
        "io.write_bulkrax_csv_s": outermost_total(s, "io.write_bulkrax_csv"),
        "etl.plan_s": outermost_total(s, "etl.eprints_to_bulkrax"),
        "etl.reports_s": outermost_total(s, "etl.reports"),
        "sink.merge_batch_s": outermost_total(s, "sink.merge_batch"),
        "ledger.create_s": outermost_total(s, "ledger.create"),
        "ledger.merge_s": outermost_total(s, "ledger.merge"),
        "ledger.changes_s": outermost_total(s, "ledger.changes"),
        "ledger.read_s": outermost_total(s, "ledger.read"),
        "ledger.latest_txn_s": outermost_total(s, "ledger.latest_txn"),
        "plans.call_s": outermost_total(s, "plans.call"),
        "plans.exec_s": outermost_total(s, "plans.exec"),
        "tables.load_table_s": outermost_total(s, "tables.load_table"),
    }


def op_p50(ops) -> float:
    return statistics.median(dur(s) for s in ops) if ops else 0.0


def dump_json(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
