"""Every ``QUERIES`` call runs on its own child session, with its own
artifacts.

A query may set confs, register temp views and UDFs, start streams and
ship code, but none of that may reach the caller's session: concurrent
clients share one session, so a leaked shuffle width or view would
change what another client's query plans. Likewise every call writes
only to its own temp dirs and tables, so a second call of the same
query (lazy rerun, or a concurrent client) cannot destroy or change
what the first call's DataFrame still reads; ``registry.run`` releases
them, and the call's caches and checkpoints, once the rows are
collected.
"""

from __future__ import annotations

import atexit
import glob
import os
import pathlib
import re
import sys
import tempfile
import threading
import time

import pytest

from big_data_trend_analysis_spark import scope
from big_data_trend_analysis_spark.plans import registry
from big_data_trend_analysis_spark.plans.registry import ORACLE_SQL, QUERIES
from tests.oracle_utils import (
    assert_results_match,
    duckdb_connection,
    persistent_rdds,
    run_oracle,
    run_spark,
)

#: Queries that set confs, register views or UDFs, or drain a stream.
SIDE_EFFECTING = (
    "runtime_filter_join",
    "aqe_coalesce_check",
    "merge_roundtrip",
    "stream_dedup_live",
    "sql_tpch_q2",
    "sql_tpch_q11",
    "udtf_bigram_topk",
    "sql_udf_tvf_check",
)


def _session_state(spark):
    views = sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)
    return dict(spark.conf.getAll), views


def test_queries_leave_caller_confs_and_views_unchanged(spark, sf_dir):
    before = _session_state(spark)
    for name in SIDE_EFFECTING:
        assert QUERIES[name](spark, sf_dir).collect(), name
        assert _session_state(spark) == before, name


def test_stream_drain_keeps_caller_shuffle_width(spark, sf_dir):
    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    errors: list[Exception] = []

    def drain() -> None:
        try:
            QUERIES["stream_dedup_live"](spark, sf_dir).collect()
        except Exception as exc:  # noqa: BLE001 - reported by the assert below
            errors.append(exc)

    worker = threading.Thread(target=drain, daemon=True)
    worker.start()
    deadline = time.monotonic() + 600
    seen = set()
    while worker.is_alive() and time.monotonic() < deadline:
        seen.add(spark.conf.get(key))
        worker.join(0.005)
    assert not worker.is_alive(), "stream_dedup_live did not finish"
    assert not errors, errors
    assert seen <= {width}, seen


def test_queries_do_not_grow_python_includes_or_sys_path(spark, sf_dir):
    sc = spark.sparkContext
    includes, path = len(sc._python_includes), len(sys.path)
    for _ in range(20):
        QUERIES["agg_basic"](spark, sf_dir)
    assert (len(sc._python_includes), len(sys.path)) == (includes, path)


def test_stream_drains_release_their_listeners(spark, sf_dir):
    bus = spark.sparkContext._jsc.sc().listenerBus()
    before = bus.listeners().size()
    for _ in range(3):
        QUERIES["stream_dedup_live"](spark, sf_dir).collect()
    assert bus.listeners().size() == before


def test_gate_queries_share_one_exit_hook(spark, sf_dir):
    before = atexit._ncallbacks()
    for _ in range(2):
        QUERIES["partitioned_write_roundtrip"](spark, sf_dir).collect()
    assert atexit._ncallbacks() - before <= 1


#: Queries that write files, catalog tables or a Derby database.
GATE_QUERIES = (
    "partitioned_write_roundtrip",
    "bucketed_write_join",
    "multiformat_roundtrip",
    "jdbc_roundtrip",
    "schema_evolution_read",
    "file_skipping_check",
    "zorder_skipping_check",
    "merge_roundtrip",
    "txn_log_snapshot_read",
    "txn_log_vacuum_check",
    "txnlog_cdf_read",
    "txnlog_schema_evolve",
    "txnlog_concurrent_commit",
    "txnlog_partition_evolve",
    "txnlog_time_travel",
    "stream_cdc_apply_live",
    "cbo_reorder_check",
    "mor_read_view",
    "compact_small_files",
    "dpp_check",
    "nested_prune_check",
    "txnlog_restore_version",
    "txnlog_compact_files",
    "txnlog_stats_skipping",
    "txnlog_bloom_skipping",
    "txnlog_history_table",
)


@pytest.fixture(scope="module")
def expected(sf_dir):
    """Oracle result per query name, computed on first use."""
    con = duckdb_connection(sf_dir)
    cache = {}

    def get(name):
        if name not in cache:
            cache[name] = run_oracle(con, ORACLE_SQL[name])
        return cache[name]

    yield get
    con.close()


def _lazy_rerun(spark, sf_dir, expected, name):
    first = QUERIES[name](spark, sf_dir)
    QUERIES[name](spark, sf_dir)
    assert_results_match(run_spark(first), expected(name), name)


@pytest.mark.parametrize(
    "name",
    ["partitioned_write_roundtrip", "txn_log_snapshot_read",
     "multiformat_roundtrip", "bucketed_write_join"],
)
def test_lazy_result_survives_a_second_call(spark, sf_dir, expected, name):
    _lazy_rerun(spark, sf_dir, expected, name)


@pytest.mark.slow
@pytest.mark.parametrize("name", GATE_QUERIES)
def test_every_gate_query_survives_a_second_call(spark, sf_dir, expected, name):
    _lazy_rerun(spark, sf_dir, expected, name)


def _in_two_threads(fn):
    """Run ``fn()`` in two threads started together; their results."""
    barrier = threading.Barrier(2)
    results: list = [None, None]

    def work(i):
        barrier.wait()
        try:
            results[i] = fn()
        except Exception as exc:  # noqa: BLE001 - returned to the caller
            results[i] = exc

    threads = [threading.Thread(target=work, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(600)
        assert not t.is_alive(), "query call did not finish"
    return results


@pytest.mark.parametrize(
    "name", ["txn_log_snapshot_read", "compact_small_files", "jdbc_roundtrip"]
)
def test_concurrent_calls_each_read_their_own_artifacts(
    spark, sf_dir, expected, name
):
    for res in _in_two_threads(lambda: run_spark(QUERIES[name](spark, sf_dir))):
        assert not isinstance(res, Exception), res
        assert_results_match(res, expected(name), name)


def _artifacts(spark):
    dirs = set(glob.glob(os.path.join(tempfile.gettempdir(), "bdta_*")))
    tables = {t.name for t in spark.catalog.listTables() if t.name.startswith("bdta_")}
    return dirs, tables, persistent_rdds(spark)


@pytest.mark.parametrize(
    "name",
    ["partitioned_write_roundtrip", "sql_tpch_q2", "dedup_clusters",
     "connected_components", "feature_binning"],
)
def test_run_releases_what_concurrent_calls_made(
    spark, sf_dir, expected, name, tmp_path, monkeypatch
):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # call dirs land here
    dirs, tables, rdds = _artifacts(spark)
    for res in _in_two_threads(lambda: registry.run(name, spark, sf_dir)):
        assert not isinstance(res, Exception), res
        assert_results_match(res, expected(name), name)
    after_dirs, after_tables, after_rdds = _artifacts(spark)
    assert (after_dirs, after_tables) == (dirs, tables)
    assert after_rdds <= rdds


#: A DataFrame cached, checkpointed or freed other than through ``scope``.
_CACHE_CALL = re.compile(
    r"\.(localCheckpoint|persist|unpersist)\(|\.cache\(\)|(?<!scope)\.checkpoint\("
)
#: dedup's bindings of the scope helpers (kept for perfbench's tracer).
_DEDUP_NAME = re.compile(r"\b_(materialize|materialize_tiny|truncate_lineage)\b")


def test_only_scope_caches_or_checkpoints():
    """Every cached intermediate goes through ``scope``, so a query call
    that ``registry.run`` releases leaves none behind, and no operator
    sets a conf on the session it was handed."""
    package = pathlib.Path(scope.__file__).parent
    found = []
    for path in sorted(package.rglob("*.py")):
        if path.name == "scope.py":
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if (
                _CACHE_CALL.search(line)
                or (path.name != "dedup.py" and _DEDUP_NAME.search(line))
                or (path.parent.name == "operators" and "conf.set(" in line)
            ):
                found.append(f"{path.relative_to(package)}:{no}: {line.strip()}")
    assert found == []


def test_a_shared_cache_is_unpersisted_by_its_last_release(spark):
    """Eight threads (more than cores) persist the same plan, each in its
    own scope. The cache entry outlives every release but the last, and
    the last one frees it."""
    from pyspark.storagelevel import StorageLevel

    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    plan = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
    scopes: list[scope.CallScope] = []
    errors: list[Exception] = []

    def work():
        try:
            with scope.opened() as made:
                df = scope.materialize(plan.select("*"))
                assert df.count() == 7
            scopes.append(made)
        except Exception as exc:  # noqa: BLE001 - reported by the assert below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
            assert not t.is_alive(), "worker did not finish"
    finally:
        sys.setswitchinterval(interval)
    assert not errors, errors
    for made in scopes[:-1]:
        made.release()
        assert plan.storageLevel != StorageLevel.NONE
    scopes[-1].release()
    assert plan.storageLevel == StorageLevel.NONE
    assert len(sc._jsc.getPersistentRDDs()) == before
