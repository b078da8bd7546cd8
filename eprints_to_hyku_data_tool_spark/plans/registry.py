"""Query registry: every operator from SURVEY.md §2 is a QuerySpec pairing
a Spark callable (spark, sf_dir) -> DataFrame with its DuckDB oracle SQL.

Hash-matching discipline (SURVEY.md §5) enforced by convention here:
- money/quantity aggregates are computed in DECIMAL (exact, summation-order
  independent) and cast to DOUBLE at the end — both engines then produce
  bit-identical doubles regardless of partitioning;
- every computed column is aliased identically on both sides;
- timestamps are output as DATE or second-truncated values (events.ts is
  ns-precision in parquet, microseconds in both engines after read);
- any collected list is sorted before joining to a string.

Naming: every query is registered as ``<tier><nn>_<suffix>``. The
suffix (the name after the first ``_``) is the query's identity: it is
unique across the registry and never changes, while the tier prefix
rotates. The driver's correctness gate checks the FIRST 50 registered
names in sorted order, and names sort q* < x* < y* < z*, so:

- q* / x*  — the driver window (at most 50 names): changed code and the
  stalest driver rows (tools/rotation_planner.py ranks them).
- y* / z*  — everything else; registered, bench-timed and oracle-checked
  by the local pytest mirror on every run.

A rotation is a prefix-only rename: suffixes are kept, so nothing that
keys on the suffix (freshness, bench regressions, the flagship lookup)
needs the old names.

tests/test_registry.py asserts the priority tier stays within the window
and that every SURVEY §2 component maps to a live registered name.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None => driver records rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def suffix(name: str) -> str:
    """A query's rotation-stable identity: its name after the first ``_``."""
    return name.partition("_")[2]


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: add a (query, oracle) pair to the global registry."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        # A silent overwrite would make the shadowed query vanish from
        # queries()/oracle_sql() and the parity suite; two names sharing
        # a suffix would share one identity (freshness, bench history).
        if any(suffix(n) == suffix(name) for n in REGISTRY):
            raise ValueError(f"duplicate query registration: suffix of {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return wrap


def _load_all() -> None:
    # Import query modules for their registration side effects.
    from . import q_core  # noqa: F401

    for mod in (
        "q_joins",
        "q_aggs",
        "q_windows",
        "q_scalar",
        "q_setops_sort",
        "q_north",
        "q_text",
        "q_udf",
        "q_streaming",
        "q_analytics",
        "q_corpus",
        "q_embed",
        "q_media",
        "q_r4",
        "q_r4c",
        "q_r5_tpch",
        "q_r5_llm",
        "q_r5_etl",
        "q_r5_dq",
        "q_r5_linalg",
        "q_r5_pipeline",
        "q_r5_overflow",
    ):
        # No tolerance for a missing module: the not-written-yet grace of
        # early rounds would now let a deleted/renamed module silently
        # drop ALL its queries from the correctness gate (code-review
        # r13). Every listed module must import or the registry fails.
        __import__(f"{__package__}.{mod}")


# The flagship (SURVEY §2 Q19, the smoke-gate query run by entry()) is
# resolved by suffix, so a tier rotation cannot break entry().
FLAGSHIP_SUFFIX = "groupby_multi_agg"


def flagship_name() -> str:
    """The current registered name of the flagship query (§2 Q19)."""
    _load_all()
    matches = [n for n in REGISTRY if suffix(n) == FLAGSHIP_SUFFIX]
    if len(matches) != 1:
        raise LookupError(
            f"flagship suffix {FLAGSHIP_SUFFIX!r} must match exactly one "
            f"registered query, got {sorted(matches)}"
        )
    return matches[0]


def queries_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: spec.fn for name, spec in sorted(REGISTRY.items())}


def oracle_sql_map() -> dict[str, str]:
    _load_all()
    return {
        name: spec.oracle
        for name, spec in sorted(REGISTRY.items())
        if spec.oracle is not None
    }
