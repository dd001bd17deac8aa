"""Every ``QUERIES`` call runs on its own child session.

A query may set confs, register temp views and UDFs, start streams and
ship code, but none of that may reach the caller's session: concurrent
clients share one session, so a leaked shuffle width or view would
change what another client's query plans.
"""

from __future__ import annotations

import sys
import threading
import time

from big_data_trend_analysis_spark.plans.registry import QUERIES

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
