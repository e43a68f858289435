from __future__ import annotations

import os

import pytest

from cardano_analytics_duckdb_spark.plans import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# Two-tier suite split (markers registered in pytest.ini), assigned by
# module so new tests inherit the right tier automatically:
# - `oracle`: the per-query correctness gate (hash vs DuckDB) + the
#   physical-plan shape gate — the tier to run while iterating on a query.
# - `slow`: streaming/lake model walks, crash-replay soaks, fake-node
#   chain-sync, CLI end-to-end — the maintenance-protocol tier that
#   dominates full-suite wall-time.
# Modules in neither set are small unit tests; they run under
# `-m "not slow"` alongside the oracle tier.
_ORACLE_MODULES = {
    "test_queries_oracle",
    "test_cardano",
    "test_plans",
}
_SLOW_MODULES = {
    "test_ingest",
    "test_chainsync",
    "test_cli",
    "test_generations",
    "test_generations_model",
    "test_manifest",
    "test_vacuum",
    "test_zorder",
}


def pytest_collection_modifyitems(items):
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1]
        if mod in _ORACLE_MODULES:
            item.add_marker(pytest.mark.oracle)
        elif mod in _SLOW_MODULES:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    spark = get_session(app_name="tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("TEST_SF_DIR", SF_SMOKE)
