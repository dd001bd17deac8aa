"""Differential parity: every oracle-backed query vs DuckDB at sf0.001.

This is the local twin of the driver's t2 correctness gate (SURVEY.md
§5.2-1): exact value parity, order-insensitive, columns sorted by name.
Rows-only queries are exercised for execution + schema stability in
test_rows_only_queries. Every query goes through ``registry.run``, so
the sweep releases each call's temp dirs, tables, caches and
checkpoints as it goes; a call that leaves a new persistent RDD fails.
"""

from __future__ import annotations

import pytest

from big_data_trend_analysis_spark.plans.registry import ORACLE_SQL, QUERIES, run
from tests.oracle_utils import (
    assert_results_match,
    duckdb_connection,
    persistent_rdds,
    run_oracle,
)

# Opt-in module (see pyproject.toml): the sweep is the local twin of
# the driver's own per-round 304-query correctness gate, so excluding
# it from the default run loses no coverage while letting the suite
# fit the driver's pytest window.
pytestmark = pytest.mark.parity

ORACLE_BACKED = sorted(ORACLE_SQL)
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLE_SQL))


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_BACKED)
def test_oracle_parity(spark, sf_dir, oracle, name):
    before = persistent_rdds(spark)
    spark_res = run(name, spark, sf_dir)
    assert persistent_rdds(spark) <= before, name
    oracle_res = run_oracle(oracle, ORACLE_SQL[name])
    assert_results_match(spark_res, oracle_res, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries(spark, sf_dir, name):
    before = persistent_rdds(spark)
    cols, rows = run(name, spark, sf_dir)
    assert persistent_rdds(spark) <= before, name
    assert rows is not None
    assert len(cols) > 0
