"""Oracle-parity suite: every registered query must match its DuckDB oracle
exactly at the driver's correctness scale factor (SURVEY.md §5 item 2)."""

from __future__ import annotations

import pytest

from eprints_to_hyku_data_tool_spark.plans.registry import REGISTRY, _load_all

from .parity import assert_parity

_load_all()
ORACLE_CHECKED = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


# Queries whose CORRECT answer at the fixture tiers is the empty set (an
# anti-join with no orphans, an EXCEPT with no survivors): emptiness IS
# their semantics, so the vacuous-pass guard below exempts them by the
# rotation-stable suffix. Everything else must return rows — a 0==0
# comparison exercises none of a query's value logic (code-review r14).
EMPTY_OK_SUFFIXES = ("_anti_join", "_except")


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_oracle_parity(name, spark, sf_dir, duck):
    spec = REGISTRY[name]
    n = assert_parity(spec.fn(spark, sf_dir), spec.oracle, duck, name=name)
    if not name.endswith(EMPTY_OK_SUFFIXES):
        assert n > 0, (
            f"{name}: empty result — parity passed vacuously (0 == 0); "
            "either the query/oracle predicate matches nothing at this "
            "tier or the tier is wrong for it"
        )


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(name, spark, sf_dir):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    assert df.count() > 0, f"{name}: rows-only query returned an empty result"
    assert len(df.schema.fields) > 0


def test_demoted_brute_jaccard_matches_oracle(spark, sf_dir, duck):
    """q60_neardup_jaccard was demoted to test-only in r3 (it collects the
    corpus); it keeps full oracle parity here so the brute-force witness
    stays verified without shipping a driver-collect as a registered plan."""
    from eprints_to_hyku_data_tool_spark.plans.q_north import (
        _NEARDUP_ORACLE,
        q60_neardup_jaccard,
    )

    assert_parity(
        q60_neardup_jaccard(spark, sf_dir),
        _NEARDUP_ORACLE,
        duck,
        name="q60_neardup_jaccard(test-only)",
    )


def test_no_unhashable_output_columns(registry_plans):
    """The driver's hasher canonicalizes Decimal differently per engine
    (r2's red row) and its pandas lexsort cannot factorize array cells
    (r3's red row, q73): no registered query may emit a DecimalType,
    ArrayType, MapType, or StructType column — serialize complex values
    (concat_ws / to_json) before returning. Schema-only check on the
    registry built once at the test tier, executes nothing."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    banned = (DecimalType, ArrayType, MapType, StructType)
    offenders = {}
    for name, built in registry_plans.items():
        bad = [f.name for f in built["schema"].fields if isinstance(f.dataType, banned)]
        if bad:
            offenders[name] = bad
    assert not offenders, f"unhashable output columns: {offenders}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_contract_consistency():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) == len(REGISTRY)
