"""The program contract of the benchmark (etlbench/), checked without
running it.

An `analytics` run exits 1 only on an uncaught exception: wrong answers
report `correct: false` and failed operations are counted, not raised.
In an untraced run the code outside the per-operation `try` is the
workload's `prepare` (its registry lookups and the quadratic-oracle
import), the session set-up (`get_spark`, `warm_session`) and the
imports of the pass and its check; the traced run adds the modules it
patches. Each is exercised here, reading etlbench/ only.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import os

import pyarrow as pa
import pytest

_ETLBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "etlbench"
)


@pytest.fixture
def workloads(monkeypatch):
    monkeypatch.syspath_prepend(_ETLBENCH)
    return importlib.import_module("workloads")


def test_analytics_prepare_resolves_every_suffix(workloads, tmp_path):
    wl = workloads.Analytics(7, str(tmp_path), str(tmp_path))
    wl.prepare()  # QUADRATIC_ORACLES import + resolve_suffix for all 11
    queries = [n for kind, _, n in wl.stream if kind == "query"]
    assert len(queries) == sum(map(len, workloads.FAMILIES.values())) + sum(
        len(b[2]) for b in workloads.BUILDS.values()
    )


def test_run_py_session_calls_bind():
    from eprints_to_hyku_data_tool_spark import session

    tree = ast.parse(open(os.path.join(_ETLBENCH, "run.py")).read())
    bound = set()
    for node in ast.walk(tree):
        name = getattr(getattr(node, "func", None), "id", None)
        if isinstance(node, ast.Call) and name in ("get_spark", "warm_session"):
            inspect.signature(getattr(session, name)).bind(
                *node.args, **{kw.arg: kw.value for kw in node.keywords}
            )
            bound.add(name)
    assert bound == {"get_spark", "warm_session"}


@pytest.mark.parametrize(
    "module",
    [
        "etl",
        *(f"functions.{m}" for m in (
            "checkpointing", "copurchase", "grams", "graph", "memo",
            "neardup", "ordering",
        )),
        "sources.io",
        "sources.ledger",
        "sources.tables",
        "streaming.ledger_sink",
    ],
)
def test_traced_modules_import(module):
    importlib.import_module(f"eprints_to_hyku_data_tool_spark.{module}")


def test_assert_parity_needs_only_execute_and_fetch_arrow_table(spark):
    from tests.parity import assert_parity

    class Con:
        """Only what the benchmark's cached oracle provides."""

        def execute(self, sql):
            assert sql == "SELECT 1"
            return self

        def fetch_arrow_table(self):
            return pa.table({"k": [1, 2], "v": ["a", "b"]})

    df = spark.createDataFrame([(2, "b"), (1, "a")], "k long, v string")
    assert assert_parity(df, "SELECT 1", Con(), name="contract") == 2
