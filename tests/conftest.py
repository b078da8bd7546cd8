from __future__ import annotations

import contextlib
import io
import os
import sys
import time

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tools"))

# Pin the PROCESS timezone to UTC before any Spark/py4j use (code-review
# r14, defense-in-depth): pyspark's TimestampType.fromInternal converts
# collect()ed timestamps via datetime.fromtimestamp — the OS-local zone,
# ignoring spark.sql.session.timeZone — so on a non-UTC machine every
# collect()-extracted timestamp would drift by the local offset. The
# parity gate itself now extracts through Arrow (tz-correct either way),
# but ad-hoc collect()s in individual tests stay honest only under TZ=UTC.
# Assigned UNCONDITIONALLY (advice r15): setdefault only covered hosts
# with TZ unset — a machine exporting TZ=America/... kept its zone
# through tzset(), silently dropping the defense exactly where it
# matters. Tests must not inherit the host zone.
os.environ["TZ"] = "UTC"
time.tzset()

from eprints_to_hyku_data_tool_spark.session import get_spark  # noqa: E402

# Parity tests run at the driver's correctness tier (sf0.01) by default so a
# green local run implies a green driver gate. Override for quick iteration:
#   SPARK_GRAFT_TEST_SF=/root/testdata/sf0.001 pytest tests/
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", cpus=8, driver_memory="8g")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    from eprints_to_hyku_data_tool_spark.sources.tables import TABLES

    for t in TABLES:
        # sf_dir comes from the environment — escape quotes instead of
        # interpolating raw text into SQL (code-review r14, the same
        # injection class the r13 join fix closed one layer down).
        safe = f"{sf_dir}/{t}.parquet".replace("'", "''")
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{safe}'"
        )
    yield con
    con.close()


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="session")
def registry_plans(spark, sf_dir):
    """Every registered query built ONCE at the test tier, for the
    fleet-wide plan tests: {name: {"collects": [rows per construction-
    time collect], "schema": output schema, "plan": formatted plan}}.
    The collect spy is active only while each query is built."""
    from pyspark.sql import DataFrame

    from eprints_to_hyku_data_tool_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    real_collect = DataFrame.collect
    out = {}
    for name, spec in sorted(REGISTRY.items()):
        calls: list[int] = []

        def spy(self, calls=calls):
            rows = real_collect(self)
            calls.append(len(rows))
            return rows

        DataFrame.collect = spy
        try:
            df = spec.fn(spark, sf_dir)  # plan construction only
        finally:
            DataFrame.collect = real_collect
        out[name] = {"collects": calls, "schema": df.schema, "plan": plan_text(df)}
    return out
