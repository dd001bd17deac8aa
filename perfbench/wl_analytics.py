"""analytics_mix: closed loop of dashboard queries from two clients.

Two client threads share one session and query the sf0.1 fixture
tables (``common.FIXTURE``). Each walks its own seeded shuffle of
``QUERY_LIST`` (a fresh shuffle per pass over the list), so every run
issues the queries in equal shares and the seed decides only the
order. Each query is timed from the ``QUERIES[name]`` call to its
collected result, and every result is compared with the query's
``ORACLE_SQL`` twin run by DuckDB on the same tables.
"""

from __future__ import annotations

import random
import sys
import threading
import time

import common
import wl_dedup

QUERY_LIST = (
    "trend_rising trend_anomaly keyword_topk entity_counts cms_window_probe "
    "agg_basic cube_agg rollup_agg percentile_agg approx_distinct_check "
    "rolling_active_users funnel_conversion retention_cohort user_growth_daily "
    "psi_drift sql_tpch_q1 sql_tpch_q3 sql_tpch_q5 sql_tpch_q6 sql_tpch_q9 "
    "sql_tpch_q18"
).split()

CLIENTS = 2

#: Queries run once in the set-up, one per table family: the first
#: pays the JVM's first-query cost, ``entity_counts`` starts the Python
#: workers its pandas UDF needs. Every query once would add about 15 s
#: to the set-up of every run; the other queries' first executions
#: fall in every run alike.
WARMUP = ("trend_rising", "entity_counts", "keyword_topk", "sql_tpch_q9", "psi_drift")

#: Fixture tables the queries read.
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents")

#: Tail percentile reported as ``latency_tail_s``, and the queries a
#: run completes at least (past ``--seconds`` if need be, up to twice
#: that) so the percentile has ten samples beyond it.
TAIL = 75.0
MIN_SAMPLES = 40


def check(name: str, cols, rows, oracle: dict[str, list[str]]) -> bool:
    """True when a Spark result equals the oracle's canonical result."""
    from tests.oracle_utils import canon

    return canon(cols, rows)[1] == oracle[name]


def run(args, tracer):
    from big_data_trend_analysis_spark.plans import registry

    QUERIES = registry.QUERIES
    spark = common.start_session()
    data = str(common.FIXTURE)
    oracle = common.oracle_results(
        "analytics", common.FIXTURE, TABLES, {n: registry.ORACLE_SQL[n] for n in QUERY_LIST}
    )
    for name in WARMUP:
        QUERIES[name](spark, data).collect()
    setup_s = common.setup_seconds()

    tracer.patch(registry, "tune_session", "session.tune")
    tracer.patch(registry, "load_table", "sources.tables.load")
    counters = common.ExecCounters(spark)
    records: list[tuple] = []
    lock = threading.Lock()

    def more() -> bool:
        now = time.perf_counter() - t_start
        with lock:
            short = len(records) < MIN_SAMPLES
        return now < args.seconds or (short and now < 2 * args.seconds)

    def client(c: int) -> None:
        rng = random.Random(f"{args.seed}/{c}")
        order: list[str] = []
        while more():
            if not order:
                order = list(QUERY_LIST)
                rng.shuffle(order)
            name = order.pop()
            t0 = time.perf_counter()
            try:
                with tracer.span("plans.registry.build"):
                    df = QUERIES[name](spark, data)
                rows = [tuple(r) for r in df.collect()]
                rec = (name, time.perf_counter() - t0, df.columns, rows, None)
            except Exception as exc:  # noqa: BLE001 - counted as a failure
                rec = (name, time.perf_counter() - t0, None, None, repr(exc))
            with lock:
                records.append(rec)

    counters.start()
    t_start = time.perf_counter()
    threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = time.perf_counter() - t_start
    counters.stop()
    tracer.unpatch()

    if args.corrupt and records and records[0][4] is None:
        name, lat, cols, rows, err = records[0]
        records[0] = (name, lat, cols, rows[1:] + [("corrupt",) * len(cols)], err)

    failed = 0
    for name, _lat, cols, rows, err in records:
        if err is not None:
            print(f"{name}: failed: {err}", file=sys.stderr)
            failed += 1
        elif not check(name, cols, rows, oracle):
            print(f"{name}: result differs from the oracle", file=sys.stderr)
            failed += 1
    ok = [r[1] for r in records if r[4] is None]
    if not ok:
        raise common.CheckFailed("no query completed")
    lat = {
        "p50": common.percentile(ok, 50.0),
        "tail": common.percentile(ok, TAIL),
    }
    if (common.tail_percentile(len(ok)) or 0) < TAIL:
        print(f"warning: {len(ok)} queries do not support p{TAIL:g}", file=sys.stderr)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["tail"],
        "throughput_per_s": len(ok) / elapsed,
    }
    layers = {
        "samples": len(ok),
        "session.tune_calls": tracer.calls("session.tune"),
        "session.tune_s": tracer.self_s("session.tune"),
        "sources.tables.load_calls": tracer.calls("sources.tables.load"),
        "sources.tables.load_s": tracer.self_s("sources.tables.load"),
        "plans.registry.build_s": tracer.self_s("plans.registry.build"),
    }
    if tracer.enabled:
        layers.update(counters.read())
        # This workload's traced run also measures the curation jobs'
        # operator layers, on one checked pass over the seed's corpus.
        jobs, jobs_failed, operators = wl_dedup.traced_pass(spark, args.seed, tracer, args.corrupt)
        layers.update(operators)
        return spark, len(records) + jobs, failed + jobs_failed, e2e, layers
    return spark, len(records), failed, e2e, layers
