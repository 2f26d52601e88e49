"""Shared fixtures: one SparkSession + one DuckDB connection with the
fixture tables registered as views (mirrors the driver's harness,
SURVEY.md §5.2)."""

from __future__ import annotations

import os

import pytest

from mapreducepy_spark.session import get_spark
from tests.parity_util import oracle_views

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _assert_fixture_timestamp_units() -> None:
    """FIXTURES.md pins events.ts as timestamp[us] (re-measured in the
    r9 session after an earlier [ms]/[ns] claim). A regenerated
    fixture that silently flips units would desync every temporal
    oracle — fail the whole suite loudly instead (VERDICT r9 #8)."""
    import pyarrow.parquet as pq

    path = os.path.join(SF_DIR, "events.parquet")
    if not os.path.exists(path):  # driver may run tests elsewhere
        return
    ts_type = pq.read_schema(path).field("ts").type
    assert str(ts_type) == "timestamp[us]", (
        f"events.ts fixture unit drifted: expected timestamp[us], got "
        f"{ts_type} in {path} — every temporal oracle in the catalog "
        "assumes microsecond timestamps (FIXTURES.md); re-measure and "
        "re-pin before trusting any parity result"
    )


_assert_fixture_timestamp_units()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="mapreducepy-spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def oracle():
    con = oracle_views(SF_DIR)
    yield con
    con.close()
