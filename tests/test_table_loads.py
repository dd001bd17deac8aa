"""Loading a catalog table runs no Spark job once its file's schema is
known, so building a query (without collecting it) runs none either.

``sources/tables.load_table`` infers each file's schema once and reads
every later call with that schema; a file rewritten in place is
inferred again. Jobs are counted by the ids the status tracker reports
before and after, once the listener bus has delivered every event.
"""

from __future__ import annotations

import datetime
import shutil
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from big_data_trend_analysis_spark.plans.registry import QUERIES
from big_data_trend_analysis_spark.session import tune_session
from big_data_trend_analysis_spark.sources.tables import (
    TABLES,
    _nano_ts_columns,
    load_table,
)

#: The 21 analytics_mix queries; mirrors perfbench/wl_analytics.QUERY_LIST.
ANALYTICS_MIX = (
    "trend_rising", "trend_anomaly", "keyword_topk", "entity_counts",
    "cms_window_probe", "agg_basic", "cube_agg", "rollup_agg", "percentile_agg",
    "approx_distinct_check", "rolling_active_users", "funnel_conversion",
    "retention_cohort", "user_growth_daily", "psi_drift", "sql_tpch_q1",
    "sql_tpch_q3", "sql_tpch_q5", "sql_tpch_q6", "sql_tpch_q9", "sql_tpch_q18",
)


def _jobs(spark) -> set[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _jobs_run(spark, fn):
    """``fn()``'s result and the ids of the Spark jobs it ran."""
    before = _jobs(spark)
    out = fn()
    return out, _jobs(spark) - before


def _plain_schema(spark, path: str):
    """What a plain ``spark.read.parquet`` infers, with ``load_table``'s
    restore of TIMESTAMP(NANOS) columns."""
    df = spark.read.parquet(path)
    for col in _nano_ts_columns(path):
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df.schema


def test_second_load_of_a_file_runs_no_job(spark, tmp_path):
    table = pa.table({
        "r_regionkey": pa.array([0, 1], pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA"]),
    })
    pq.write_table(table, str(tmp_path / "region.parquet"))
    first = tune_session(spark.newSession())
    _, jobs = _jobs_run(spark, lambda: load_table(first, str(tmp_path), "region"))
    assert jobs  # the first load infers the schema
    fresh = tune_session(spark.newSession())
    df, jobs = _jobs_run(spark, lambda: load_table(fresh, str(tmp_path), "region"))
    assert jobs == set()
    assert sorted(df.collect()) == [(0, "AFRICA"), (1, "AMERICA")]


def test_a_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    table = pa.table({
        "r_regionkey": pa.array([0, 1], pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA"]),
    })
    pq.write_table(table, path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(table.append_column("r_comment", pa.array(["a", "b"])), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.schema == _plain_schema(spark, path)
    assert sorted(df.collect()) == [(0, "AFRICA", "a"), (1, "AMERICA", "b")]


def test_concurrent_first_loads_infer_spark_schemas(spark, sf_dir, tmp_path):
    """Eight threads (more than cores) load copies of the sf0.001 tables
    that no load has seen, each in its own order."""
    for name in TABLES:
        shutil.copy(f"{sf_dir}/{name}.parquet", tmp_path / f"{name}.parquet")
    barrier = threading.Barrier(8)
    schemas: dict[tuple[int, str], object] = {}
    errors: list[Exception] = []

    def work(i: int) -> None:
        try:
            barrier.wait()
            session = tune_session(spark.newSession())
            for name in TABLES[i:] + TABLES[:i]:
                schemas[i, name] = load_table(session, str(tmp_path), name).schema
        except Exception as exc:  # noqa: BLE001 - reported by the assert below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
            assert not t.is_alive(), "load did not finish"
    finally:
        sys.setswitchinterval(interval)
    assert not errors, errors
    assert len(schemas) == 8 * len(TABLES)
    for name in TABLES:
        plain = _plain_schema(spark, str(tmp_path / f"{name}.parquet"))
        assert {schemas[i, name] for i in range(8)} == {plain}, name


def test_building_an_analytics_mix_query_runs_no_job(spark, sf_dir):
    for name in TABLES:
        load_table(spark, sf_dir, name)
    for name in ANALYTICS_MIX:
        _, jobs = _jobs_run(spark, lambda: QUERIES[name](spark, sf_dir))
        assert jobs == set(), name


#: The two confs ``load_table``'s schema inference needs, at the values
#: opposite to the engine's.
OPPOSITE_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "false",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
}


def test_load_keeps_the_callers_confs_and_reads_correct_timestamps(spark, tmp_path):
    """A session with the opposite conf values keeps them through a
    first (inferring) and a second (cached) load, and still reads both
    TIMESTAMP(NANOS) and naive micros event times as the TIMESTAMP of
    the same UTC instant."""
    from pyspark.sql.types import TimestampType

    when = datetime.datetime(2024, 1, 2, 3, 4, 5)
    epoch = int(when.replace(tzinfo=datetime.timezone.utc).timestamp())
    session = spark.newSession()
    for key, value in OPPOSITE_CONFS.items():
        session.conf.set(key, value)
    for unit in ("ns", "us"):
        sf = tmp_path / unit
        sf.mkdir()
        pq.write_table(
            pa.table({
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([when], pa.timestamp(unit)),
            }),
            str(sf / "events.parquet"),
        )
        for _ in range(2):
            df = load_table(session, str(sf), "events")
            assert {k: session.conf.get(k) for k in OPPOSITE_CONFS} == OPPOSITE_CONFS
            assert df.schema["ts"].dataType == TimestampType(), unit
            assert df.select(F.col("ts").cast("long")).collect() == [(epoch,)], unit
