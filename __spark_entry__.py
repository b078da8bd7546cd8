"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in ``eprints_to_hyku_data_tool_spark``; every query
is registered in ``plans/registry.py`` together with its oracle SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# A driver that loads this module by FILE location (importlib spec from
# an arbitrary cwd) has no reason to have the repo root on sys.path;
# bootstrap it here exactly like bench.py does, so the package import
# below never depends on how the module was reached (code-review r14).
_ROOT = os.path.dirname(os.path.abspath(__file__))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

from eprints_to_hyku_data_tool_spark.plans.registry import (
    flagship_name,
    oracle_sql_map,
    queries_map,
)
from eprints_to_hyku_data_tool_spark.session import tune_session


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001.

    The flagship is resolved through the registry by its rotation-stable
    suffix, so a tier rotation cannot silently break this smoke gate.
    """
    tune_session(spark)
    return queries_map()[flagship_name()](spark, "/root/testdata/sf0.001")


def _tuned(fn: Callable[[SparkSession, str], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # The driver owns the SparkSession; re-pin UTC/AQE every call since
        # oracle hash-matching of timestamps depends on the session timezone.
        tune_session(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _tuned(fn) for name, fn in queries_map().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each oracle-checkable query."""
    return oracle_sql_map()
