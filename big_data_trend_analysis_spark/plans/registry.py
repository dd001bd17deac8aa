"""Declared query inventory + DuckDB oracle twins (SURVEY.md §2.3).

Every entry in ``QUERIES`` is a callable ``(spark, sf_dir) -> DataFrame``
building a declarative plan from the operator library; every
SQL-expressible entry has an ``ORACLE_SQL`` twin that DuckDB runs on the
same parquet files. The driver hash-compares them order-insensitively
with columns sorted by name — so every computed column is aliased
identically on both sides, and every float aggregate goes through the
deterministic decimal-sum discipline (functions/numeric.py).

Oracle-parity conventions (kept rigorously in both dialects):
- double sums: exact decimal accumulation, cast back to double;
- averages: exact-decimal sum cast double, divided by COUNT(*);
- integer sums: CAST(... AS BIGINT) in DuckDB (its SUM(BIGINT) widens
  to HUGEINT, Spark's stays long);
- full-precision doubles (exp/cosine/ratios): round(…, 6) on both
  sides before comparison or ranking;
- ROW_NUMBER cast to INTEGER in DuckDB (Spark's is int32);
- double→int conversions via FLOOR (DuckDB CAST rounds, Spark
  truncates — FLOOR agrees everywhere for non-negative values).

Rows-only entries (no oracle; SURVEY §5.2-1) — exactly
``set(QUERIES) - set(ORACLE_SQL)``: ``approx_distinct`` (HLL++
estimate), ``approx_percentile`` (KLL estimate), ``cms_topk_sketch``
(binary sketch), the three near-dup detectors
(``dedup_minhash``/``dedup_simhash``/``ngram_jaccard``), the two ANN
variants (``ann_ivf``/``embed_neardup``), and ``multimodal_pipeline``
(binary feature artifacts). Each has an exact, hash-checked twin
covering the same input path, and the two approx aggregates
additionally have ``*_check`` queries asserting their accuracy
invariant in the hash-checked set. (``sample_mixture`` left this list
in round 10: its bucket is now the portable md5 form, so its oracle
replays membership exactly.)

Every ``QUERIES`` call runs its body on a child session of the
caller's (``_in_child_sessions``): the body may set confs, register
views and UDFs, and start streams without touching the caller's
session, and concurrent callers on one session cannot see each
other's settings.

Every call writes only to its own artifacts: temp dirs from
``_call_dir``, catalog tables from ``_call_table`` and in-memory Derby
databases with uuid names, all recorded in the call's
``scope.CallScope`` together with the relations ``scope.materialize``
persists and the checkpoints ``scope.checkpoint`` makes. So a second
call of a query never deletes or rewrites what the first call's lazy
DataFrame still reads. ``QUERIES[name]`` keeps a
call's dirs and tables until interpreter exit; ``run(name, spark,
sf_dir)`` collects the rows and releases all of it at once. SQL-family
queries bind their input DataFrames into the template
(``spark.sql(template, lineitem=df)``) instead of naming views.

Every ``*_live`` streaming drain goes through one helper,
``streaming.sinks.drain_available_now``: bounded wait (a drain that
does not finish in ``DRAIN_TIMEOUT_S`` raises instead of returning a
partial table), fixed shuffle width (``STREAM_SHUFFLE_PARTITIONS``),
checkpoint removed, listeners released.
"""

from __future__ import annotations

import atexit
import functools
import os
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from big_data_trend_analysis_spark.functions.nlp import (
    _GAZETTEER,
    sentiment_compound,
    sentiment_label,
)
from big_data_trend_analysis_spark.functions.stats import (
    Z_975,
    f_crit_95_sql,
    t_crit_975_sql,
)
from big_data_trend_analysis_spark.operators.drift import (
    SPRT_LOWER as _SPRT_LOWER_LIT,
    SPRT_UPPER as _SPRT_UPPER_LIT,
    Z_80,
    _SPRT_L0 as _SPRT_L0_LIT,
    _SPRT_L1 as _SPRT_L1_LIT,
)

#: z_{α/2} + z_β for α = .05 two-sided, power 80% — summed ONCE in
#: Python and spliced as the same literal into the engine column
#: expression and the DuckDB oracle.
_AB_POWER_ZSUM = Z_975 + Z_80
from big_data_trend_analysis_spark import scope
from big_data_trend_analysis_spark.functions.text import EN_STOPWORDS
from big_data_trend_analysis_spark.operators import (
    aggregates,
    dedup,
    drift,
    entities,
    graph,
    merge,
    multimodal,
    relational,
    scalar,
    similarity,
    skew,
    temporal,
    textstats,
    trend,
    windows,
)
from big_data_trend_analysis_spark.session import tune_session
from big_data_trend_analysis_spark.sources.tables import load_table
from big_data_trend_analysis_spark.streaming.sinks import (
    STREAM_SHUFFLE_PARTITIONS,  # noqa: F401 - read as registry.STREAM_SHUFFLE_PARTITIONS
    drain_available_now,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

#: SQL IN-list literal of the NER fallback gazetteer — keeps the
#: entity_counts oracle in lockstep with functions/nlp._GAZETTEER.
_GAZ = ", ".join(f"'{t}'" for t in sorted(_GAZETTEER))


def _q(op, *tables: str) -> QueryFn:
    """Wrap an operator: load its input tables, apply, return the plan."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return op(*[load_table(spark, sf_dir, t) for t in tables])

    return run


def _sentiment_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas_udf showcase: lexicon sentiment over documents (N1/F4).

    The only Python-touching query in the hash-checked set — exercises
    the Arrow pandas-UDF path end-to-end with deterministic semantics.
    """
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    compound = sentiment_compound(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(compound, 6).alias("compound"),
        sentiment_label(compound).alias("label"),
    )


def _stream_decay_trend_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Structured Streaming execution inside the correctness gate.

    Drains the watermarked streaming decay trend with an availableNow
    trigger into a memory sink and returns the resulting table — so the
    driver's oracle check covers the actual streaming path, not just
    its batch twin. Checkpoint/table names are unique per invocation.
    """
    from big_data_trend_analysis_spark.streaming.jobs import decay_trend_stream
    from big_data_trend_analysis_spark.streaming.sources import (
        EVENTS_SOURCE_ENV,
        stream_events_from_uri,
    )

    # kafka://host:port/topic when the deployment has a broker (+
    # spark-sql-kafka jar); unset = the container's file-replay twin.
    source = os.environ.get(EVENTS_SOURCE_ENV)
    return drain_available_now(
        decay_trend_stream(stream_events_from_uri(spark, source, sf_dir)),
        "complete",
    ).table


def _stream_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup through the real streaming path.

    Drains ``dedup_events_stream`` — watermarked ``dropDuplicates`` on
    (user_id, event_type, hour(ts)) — over a file stream of the events
    table with an availableNow trigger into a memory sink. Hour
    granularity makes genuine duplicates exist at every SF. The query
    returns only the surviving KEY SET (which row of a duplicate group
    survives is arrival-order-dependent; the key set is deterministic),
    so the oracle is plain ``SELECT DISTINCT`` — pinning that streaming
    dedup state converges to exactly the batch-distinct answer.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.streaming.jobs import dedup_events_stream
    from big_data_trend_analysis_spark.streaming.sources import stream_events

    keyed = stream_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("ts_hour"),
    )
    deduped = dedup_events_stream(
        keyed,
        watermark="4 hours",
        keys=("user_id", "event_type", "ts_hour"),
        ts_col="ts_hour",
    )
    return drain_available_now(deduped).table


def _stream_dedup_within_wm_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` drain — the Spark 3.5 dedup
    API whose key does NOT include event time.

    The semantics ``stream_dedup_live`` cannot express: a redelivered
    event with the same business key but a DIFFERENT timestamp is
    still a duplicate (ts-in-key dedup would emit it again); state
    evicts by watermark delay, not by key history. The events table
    re-keyed to (user_id, event_type) has massive same-key,
    different-ts repetition at every SF, so the collapse is real. A
    30-day delay spans the whole fixture's event-time range, making
    the surviving key set exactly batch DISTINCT — which is the
    oracle. Drained with availableNow over the event_id%3 multi-file
    split (``stream_events_batched``): every business key's events
    scatter across ≥2 REAL micro-batches, so batch-2/3 redeliveries
    collapse against batch-1 state — the cross-batch semantics this
    API exists for, not the single-batch degenerate case.
    """
    from big_data_trend_analysis_spark.streaming.jobs import (
        dedup_within_watermark_stream,
    )
    from big_data_trend_analysis_spark.streaming.sources import (
        stream_events_batched,
    )

    deduped = dedup_within_watermark_stream(
        stream_events_batched(spark, sf_dir).select("user_id", "event_type", "ts"),
        watermark="30 days",
        keys=("user_id", "event_type"),
        ts_col="ts",
    ).select("user_id", "event_type")
    return drain_available_now(deduped).table


def _stream_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data ACCOUNTING (VERDICT r8 #4): the reference's
    error side-channel covers exceptions (`edw_stream.py:124-136` →
    ``stream_sink_live``); this gate closes the other silent-loss
    corner — rows the watermark drops — by draining the per-batch
    ``numRowsDroppedByWatermark`` counters alongside the append-mode
    results and pinning BOTH against a first-principles oracle.

    Protocol (measured on this Spark, sf0.001/0.01/0.1, and encoded
    in the oracle exactly):

    - the 1-day windowed count over the ``event_id % 3`` 3-file split
      drains as 3 deterministic micro-batches under a 3-day
      watermark;
    - the LATE-ROW FILTER inside the stateful aggregation lags the
      reported watermark by one batch (the filter for batch N uses
      the watermark computed after batch N−2), so batches 0 and 1
      drop nothing and batch 2 drops against
      ``max(ts over batch 0) − 3 days``;
    - the counter counts POST-SHUFFLE groups — distinct
      (window, event_type) cells whose window end ≤ the filter
      watermark — not raw input rows (partial aggregation runs
      before the state store);
    - the append sink finalizes exactly the windows whose end ≤ the
      FINAL watermark (global max − 3 days), and each finalized
      cell's count excludes the dropped late contributions — the
      data-level proof the drops really happened.

    Emits one row per finalized (day, event_type) cell plus the audit
    scalars (per-batch input rows, late-cell count, batch count)
    broadcast alongside. A changed drop predicate, a watermark that
    stops lagging, or a leak of late rows into state each flips a
    different pinned value.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.streaming.sources import (
        stream_events_batched,
    )

    agg = (
        stream_events_batched(spark, sf_dir)
        .withWatermark("ts", "3 days")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_ontime"))
    )
    table, progress = drain_available_now(agg)
    audits = [
        (
            int(p["batchId"]),
            int(p["numInputRows"]),
            sum(
                int(op.get("numRowsDroppedByWatermark", 0))
                for op in p["stateOperators"]
            ),
        )
        for p in progress
        if p["numInputRows"] > 0
    ]
    if len(audits) != 3:  # the %3 split must drain as 3 data batches
        raise AssertionError(f"expected 3 data batches, saw {audits}")
    scal = spark.createDataFrame(
        [(
            len(audits),
            audits[0][1],
            audits[1][1],
            audits[2][1],
            sum(a[2] for a in audits),
        )],
        "n_data_batches long, n_input_b0 long, n_input_b1 long, "
        "n_input_b2 long, n_late_cells long",
    )
    return (
        table.select(
            F.col("w.start").cast("date").alias("day"),
            "event_type",
            "n_ontime",
        )
        .crossJoin(F.broadcast(scal))
    )


def _stream_enrich_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension join through the real streaming path.

    Drains ``enriched_window_stream`` — the events file stream joined
    to the static broadcast weights dim (the join mode with NO state
    store: the dim re-broadcasts per micro-batch) and aggregated into
    watermarked event-time windows — availableNow into a memory sink.
    The oracle is the equivalent batch join+window aggregate with the
    same exact-decimal discipline as ``join_skewed``.
    """
    from big_data_trend_analysis_spark.operators.skew import EVENT_TYPE_WEIGHTS
    from big_data_trend_analysis_spark.streaming.jobs import enriched_window_stream
    from big_data_trend_analysis_spark.streaming.sources import stream_events

    dim = spark.createDataFrame(
        list(EVENT_TYPE_WEIGHTS), "event_type string, weight double"
    )
    return drain_available_now(
        enriched_window_stream(stream_events(spark, sf_dir), dim), "complete"
    ).table


def _stream_sink_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink path through the real streaming machinery.

    Drains the events file stream through ``foreach_batch_with_errors``
    — the engine's foreachBatch wrapper with the reference's error
    side-channel (K3/M1, edw_stream.py:113-136) — into a
    batch_id-keyed idempotent parquet sink (the container-executable
    stand-in for the JDBC serving sink, same WriteFn contract), then
    reads the sink back and aggregates. foreachBatch itself is
    at-least-once; the idempotent writer (replay overwrites its own
    batch_id partition) upgrades the sink to exactly-once EFFECT, and
    the oracle — the same aggregate over the source table — verifies
    the delivered row set matches the source exactly.
    """
    import shutil

    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum
    from big_data_trend_analysis_spark.streaming.sinks import (
        foreach_batch_with_errors,
        parquet_idempotent_writer,
    )
    from big_data_trend_analysis_spark.streaming.sources import stream_events

    sink_dir = tempfile.mkdtemp(prefix="bdta_sink_")
    try:
        drain_available_now(
            stream_events(spark, sf_dir).select(
                "event_id", "ts", "user_id", "event_type", "value"
            ),
            foreach_batch=foreach_batch_with_errors(
                parquet_idempotent_writer(sink_dir)
            ),
        )
        written = spark.read.parquet(sink_dir)
        # Materialize before the temp sink dir is removed.
        return scope.checkpoint(
            written.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.count_distinct("event_id").alias("n_distinct_ids"),
                exact_sum("value").alias("sum_value"),
            )
        )
    finally:
        shutil.rmtree(sink_dir, ignore_errors=True)


def _stream_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization through the real streaming path.

    Drains ``session_counts_stream`` — watermarked ``session_window``
    aggregation (mergeable per-user session state, finalized when the
    watermark passes) — over a file stream of the events table with an
    availableNow trigger into a memory sink (complete mode: session
    windows reject update, and append would withhold sessions the
    watermark hasn't passed). The oracle is the batch
    gaps-and-islands sessionization, pinning that streaming session
    merging converges to exactly the batch session set.
    """
    from big_data_trend_analysis_spark.streaming.jobs import session_counts_stream
    from big_data_trend_analysis_spark.streaming.sources import stream_events

    return drain_available_now(
        session_counts_stream(stream_events(spark, sf_dir)), "complete"
    ).table


def _stream_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join through the real path.

    Drains ``purchases_after_signup`` — purchases inner-joined to the
    same user's signups within 2 hours, both sides watermarked so the
    join state is bounded and evictable — with an availableNow trigger
    into a memory sink. The oracle is the equivalent batch interval
    join, pinning that the streaming join emits exactly the batch
    match set (M1 + the stream-stream join capability the reference's
    single-stream foreachBatch loop cannot express).
    """
    return _run_stream_join_drain(spark, sf_dir, "inner")


def _stream_outer_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join through the real path.

    Same drain as ``stream_join_live`` but ``join_type="left_outer"``:
    a purchase with no in-window signup emits with null ``s_ts`` only
    once the watermark PROVES no match can still arrive — which
    happens in the final no-data micro-batch that advances the
    watermark past the held state (semantics a batch join cannot
    exhibit; outer results exist only because that watermark-
    finalization batch ran). The oracle pins both halves exactly: the
    inner match set verbatim, plus the unmatched purchases whose event
    time lies strictly below the final watermark
    ``min(max purchase ts, max signup ts) − 4 h`` — unmatched rows
    above it are correctly still HELD at termination, not emitted
    (measured: 1906 of 1919 batch-outer rows at sf0.01).
    """
    return _run_stream_join_drain(spark, sf_dir, "left_outer")


def _run_stream_join_drain(
    spark: SparkSession, sf_dir: str, join_type: str
) -> DataFrame:
    from big_data_trend_analysis_spark.streaming.jobs import purchases_after_signup
    from big_data_trend_analysis_spark.streaming.sources import stream_events

    return drain_available_now(
        purchases_after_signup(stream_events(spark, sf_dir), join_type=join_type)
    ).table


def _stream_cms_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window CMS sketches, probed and hash-checked.

    Drains ``windowed_cms_stream`` — per-event-time-window mergeable
    Count-Min sketches built executor-side with watermarked state —
    into a memory sink (availableNow), then probes the 5 reference
    keys against each KB-sized window sketch EXECUTOR-side
    (``probe_sketches`` mapInPandas — no driver loop, no py4j
    round-trips, no window-count bound needed). With eps ≪ 1/keys
    the estimates equal exact counts, which the oracle pins — so the
    driver gate hash-checks the *streaming* sketch path end-to-end,
    the bounded-space cross-batch CMS the reference's driver matrix
    approximates (cms_stream.py:69,94-116).
    """
    from big_data_trend_analysis_spark.operators.aggregates import probe_sketches
    from big_data_trend_analysis_spark.streaming.jobs import windowed_cms_stream
    from big_data_trend_analysis_spark.streaming.sources import stream_events

    sketches = drain_available_now(
        windowed_cms_stream(stream_events(spark, sf_dir), eps=0.01), "complete"
    ).table
    keys = ("click", "view", "purchase", "signup", "error")
    return probe_sketches(sketches, keys, sketch_col="cms_sketch")


#: TPC-H Q1 as literal SQL text — the one capability surface the rest
#: of the inventory exercises only through the DataFrame API. Identical
#: decimal discipline to agg_basic; the oracle is the same text with
#: the view name swapped for DuckDB's table.
_SQL_Q1 = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    * (CAST('1.00' AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM {table}
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


def _tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Fixture tables by name, for ``spark.sql(template, **tables)``:
    PySpark registers each under a uuid view name on the query's own
    session and drops the views once the statement is analysed."""
    return {t: load_table(spark, sf_dir, t) for t in names}


def _cached_view(df: DataFrame) -> str:
    """Name a persisted relation for SQL with a uuid view on the query's
    own session, which the view outlives.

    Not bound by ``spark.sql(template, name=df)``: PySpark drops those
    views after analysis, and dropping a view uncaches every relation
    with the same plan, this call's and any concurrent call's.
    """
    name = f"bdta_{uuid.uuid4().hex}"
    df.createTempView(name)
    return name


def _sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry point: TPC-H Q1 as ``spark.sql`` over a bound DataFrame.

    The reference never calls ``spark.sql`` (SURVEY §2.1 "Not
    present"); a user switching to this engine will. Same Catalyst
    plan as the DataFrame API — the shipdate predicate reaches the
    parquet scan as a PushedFilter through the SQL text path too.
    """
    return spark.sql(_SQL_Q1, table=load_table(spark, sf_dir, "lineitem"))


#: TPC-H Q3 (shipping priority) adapted to the fixture schema (orders
#: carries o_orderpriority, not o_shippriority). Same decimal-exact
#: revenue discipline as Q1; top-10 ties break on l_orderkey.
_SQL_Q3 = """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM {customer}
    JOIN {orders} ON c_custkey = o_custkey
    JOIN {lineitem} ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
"""


def _sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #2: TPC-H Q3 — the canonical 3-table star join.

    What Q1 is to scan+aggregate, Q3 is to join planning: a selective
    dimension (BUILDING customers) drives a fact join that Catalyst
    must broadcast (customer ≪ lineitem), with both date predicates
    pushed to their scans and the top-10 planned as
    TakeOrderedAndProject — never a full sort of the join output.
    """
    return spark.sql(
        _SQL_Q3, **_tables(spark, sf_dir, "customer", "orders", "lineitem")
    )


#: TPC-H Q18 (large-volume customer) adapted to the fixture scale: the
#: HAVING subquery keeps orders whose total quantity exceeds 250
#: (p99 of the fixture's per-order sums — ~1% qualify at every SF).
_SQL_Q18 = """
    SELECT c_name, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(big.sum_qty AS DOUBLE) AS sum_qty
    FROM (
        SELECT l_orderkey,
               SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
        FROM {lineitem}
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250
    ) big
    JOIN {orders} ON o_orderkey = big.l_orderkey
    JOIN {customer} ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
"""


def _sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #3: TPC-H Q18 — aggregate-driven semi-join (HAVING).

    The third join archetype after Q3's star probe: the driving
    relation is itself an AGGREGATE (per-order quantity totals with a
    HAVING cut), so the planner must fold the map-side-partial
    groupBy, keep the ~1%-selective survivor set as the build side,
    and broadcast it onto orders/customer rather than materializing
    the full join first. Top-100 plans as TakeOrderedAndProject.
    """
    return spark.sql(
        _SQL_Q18, **_tables(spark, sf_dir, "customer", "orders", "lineitem")
    )


#: TPC-H Q5 (local supplier volume) on the fixture schema: the full
#: 6-table snowflake with the extra s_nationkey = c_nationkey equality
#: (customer and supplier in the SAME nation), region-filtered, over a
#: 2-year order window (the fixture's ASIA slice is thin — one year is
#: near-vacuous at sf0.001).
_SQL_Q5 = """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM {region}
    JOIN {nation}   ON n_regionkey = r_regionkey
    JOIN {customer} ON c_nationkey = n_nationkey
    JOIN {orders}   ON o_custkey = c_custkey
    JOIN {lineitem} ON l_orderkey = o_orderkey
    JOIN {supplier} ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""


def _sql_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #4: TPC-H Q5 — the full snowflake join.

    Q3 probes one dimension chain; Q5 closes the loop: region→nation
    fans out to BOTH customer and supplier sides, and the
    ``s_nationkey = c_nationkey`` residual makes the supplier join a
    two-key equi-join whose second key arrives from the other arm of
    the plan. Every dimension (region/nation/customer/supplier)
    broadcasts onto the lineitem probe; the date range pushes to the
    orders scan. The canonical "did join reordering work" query.
    """
    return spark.sql(
        _SQL_Q5,
        **_tables(
            spark,
            sf_dir,
            "region", "nation", "customer", "orders", "lineitem", "supplier",
        ),
    )


#: Hard ceiling on driver-side partition-list collects (the only
#: O(partitions) driver pulls in the gate queries). Mirrors the
#: similarity family's ``_BOUNDED_SAMPLE_MAX``: the bound is asserted
#: at the pull site so a schema change cannot silently unbound it.
#: 100k date partitions ≈ 270 years of daily data — never legitimate.
_PARTITION_LIST_MAX = 100_000


def _call_dir(kind: str) -> str:
    """A new temp directory owned by the running query call."""
    path = tempfile.mkdtemp(prefix=f"bdta_{kind}_")
    scope.current().dirs.append(path)
    return path


def _call_table(spark: SparkSession, kind: str) -> str:
    """A new catalog table name owned by the running query call."""
    name = f"bdta_{kind}_{uuid.uuid4().hex}"
    scope.current().tables.append((spark, name))
    return name


#: Artifacts of lazily returned gate queries, removed at interpreter
#: exit: directories, and tables with the session that wrote each.
_EXIT_PATHS: set[str] = set()
_EXIT_TABLES: dict[str, SparkSession] = {}


def _keep_until_exit(made: scope.CallScope) -> None:
    """Hand a lazy call's directories and tables to the exit hook.

    The returned DataFrame reads them LAZILY (the caller collects after
    the query function returns), so interpreter exit is the earliest
    point that is always safe. One exit hook serves every call. Derby
    databases die with the JVM, and the call's persisted relations stay
    counted, so no ``registry.run`` release unpersists them.
    """
    _EXIT_PATHS.update(made.dirs)
    _EXIT_TABLES.update({table: spark for spark, table in made.tables})
    _register_exit_hook()


@functools.cache
def _register_exit_hook() -> None:
    atexit.register(_remove_exit_artifacts)


def _remove_exit_artifacts() -> None:
    import shutil

    for table, spark in _EXIT_TABLES.items():
        try:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
        except Exception:
            pass
    for path in _EXIT_PATHS:
        shutil.rmtree(path, ignore_errors=True)


def _partitioned_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned parquet sink + pruned read-back, end-to-end.

    Writes events through ``write_date_partitioned`` (the lakehouse
    layout the 100 TB posture mandates), reads the table back with a
    ``p_date`` range filter — Catalyst turns it into directory-level
    PartitionFilters, so a year-long table scanned for 6 days reads
    6/365ths of the files — and aggregates per day. The oracle is the
    same aggregate over raw events, pinning that the write→prune→read
    path is lossless. This is the only container-exercisable sink (no
    Kafka broker / Postgres here); the write lands in the call's own
    temp dir.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.sources.lakehouse import (
        write_date_partitioned,
    )

    events = load_table(spark, sf_dir, "events")
    path = _call_dir("lakehouse")
    write_date_partitioned(events, path, "ts")
    back = spark.read.parquet(path).filter(
        (F.col("p_date") >= F.lit("2024-01-05").cast("date"))
        & (F.col("p_date") <= F.lit("2024-01-10").cast("date"))
    )
    from big_data_trend_analysis_spark.functions.numeric import exact_sum

    return back.groupBy("p_date").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value").alias("sum_value"),
    )


def _bucketed_write_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketed tables (lakehouse).

    THE pre-partitioning play for repeated 100 TB joins: orders and
    customer are written ``bucketBy(custkey)`` + in-bucket sorted, so
    the subsequent SortMergeJoin consumes both sides' bucket layout
    directly — ``tests/test_plan_properties.py`` asserts the join
    plan contains NO Exchange on the join key (the shuffle was paid
    ONCE at write time and amortizes over every future join). The
    ``merge`` hint pins SMJ so the demonstration doesn't degrade into
    a broadcast at fixture scale; at production scale neither side
    broadcasts and bucketing is the only way to avoid re-shuffling
    the fact table per query. The oracle joins the raw tables —
    pinning that the bucketed write→join path is lossless.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum

    # EXTERNAL tables in the call's temp dir: the location is
    # independent of the cwd-derived warehouse dir.
    root = _call_dir("bkt")
    t_o, t_c = _call_table(spark, "bkt_orders"), _call_table(spark, "bkt_customer")
    load_table(spark, sf_dir, "orders").write.bucketBy(8, "o_custkey").sortBy(
        "o_custkey"
    ).format("parquet").option("path", f"{root}/orders").saveAsTable(t_o)
    load_table(spark, sf_dir, "customer").write.bucketBy(8, "c_custkey").sortBy(
        "c_custkey"
    ).format("parquet").option("path", f"{root}/customer").saveAsTable(t_c)
    joined = spark.table(t_o).hint("merge").join(
        spark.table(t_c), F.col("o_custkey") == F.col("c_custkey")
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact_sum("o_totalprice").alias("sum_totalprice"),
    )


def _multiformat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON + ORC sink/source round-trip, delivery-exactness pinned.

    The non-parquet corners of the source/sink surface: the same
    events slice is written as headered CSV, as JSON-lines, and as ORC
    (the other columnar format Spark ships a native vectorized reader
    for), read back through explicit schemas, and aggregated per
    format. The oracle aggregates the SOURCE rows once per format tag
    — counts, distinct ids, and exact decimal sums can only match if
    every row survived each round-trip exactly once with values intact
    (text formats serialize doubles via shortest-round-trip
    representation; ORC stores them natively — bit-preserved either
    way).
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum

    cols = ("event_id", "event_type", "value")
    # Deterministic 1-in-5 slice: the round-trip property is identical
    # at any volume, and the smaller text write keeps the bench's
    # dirty-page writeback from stalling neighboring queries.
    slice_df = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 0)
        .select(*cols)
    )
    root = _call_dir("multiformat")
    csv_dir, json_dir, orc_dir = f"{root}/csv", f"{root}/json", f"{root}/orc"
    slice_df.write.option("header", "true").csv(csv_dir)
    slice_df.write.json(json_dir)
    slice_df.write.orc(orc_dir)
    ddl = "event_id long, event_type string, value double"
    back_csv = (
        spark.read.schema(ddl)
        .option("header", "true")
        .csv(csv_dir)
        .select(F.lit("csv").alias("fmt"), *cols)
    )
    back_json = spark.read.schema(ddl).json(json_dir).select(
        F.lit("json").alias("fmt"), *cols
    )
    back_orc = spark.read.schema(ddl).orc(orc_dir).select(
        F.lit("orc").alias("fmt"), *cols
    )
    return (
        back_csv.unionByName(back_json).unionByName(back_orc)
        .groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("event_id").alias("n_ids"),
            exact_sum("value").alias("sum_value"),
        )
    )


#: TPC-H Q10 (returned-item report) on the fixture schema: revenue
#: lost to returns per customer over one quarter, top-20.
_SQL_Q10 = """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal,
           n_name
    FROM {customer}
    JOIN {orders}   ON c_custkey = o_custkey
    JOIN {lineitem} ON l_orderkey = o_orderkey
    JOIN {nation}   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


def _sql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #5: TPC-H Q10 — selective fact filter drives a
    per-customer aggregate.

    The complement of Q3/Q5/Q18's join archetypes: here the
    selectivity lives on the FACT side (returned lineitems in one
    quarter — both predicates pushed to their scans), the
    per-customer aggregate runs map-side-partial over the filtered
    join, and the top-20 plans as TakeOrderedAndProject with a
    c_custkey tie-break for determinism.
    """
    return spark.sql(
        _SQL_Q10, **_tables(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    )


#: TPC-H Q12 adapted to the fixture schema (lineitem has no shipmode /
#: commit-receipt dates): per linestatus, counts of urgent-or-high vs
#: other order priorities among 1996 shipments — the CASE-inside-agg
#: shape over the fact⋈orders join is Q12's planning archetype.
_SQL_Q12 = """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM {orders}
    JOIN {lineitem} ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
"""


def _sql_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #6: TPC-H Q12 (shipping-priority audit, adapted).

    The CASE-inside-aggregate archetype: conditional counts fold
    map-side over the shipdate-filtered fact⋈orders join (the year
    range in the lineitem scan's PushedFilters), output bounded by
    |linestatus|.
    """
    return spark.sql(_SQL_Q12, **_tables(spark, sf_dir, "orders", "lineitem"))


#: TPC-H Q14 (promotion effect): PROMO revenue share of one quarter's
#: shipments — scalar ratio of two conditional decimal sums.
_SQL_Q14 = """
    SELECT round(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                   ELSE CAST('0.00' AS DECIMAL(12,2)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE),
           6) AS promo_revenue_pct
    FROM {lineitem}
    JOIN {part} ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


def _sql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #7: TPC-H Q14 (promotion effect).

    A scalar conditional-ratio aggregate over the lineitem⋈part join:
    part broadcasts, the quarter predicate pushes to the fact scan,
    and both sums run in exact decimal so the single output row is
    order-independent to the digit.
    """
    return spark.sql(_SQL_Q14, **_tables(spark, sf_dir, "lineitem", "part"))


#: TPC-H Q4 (order-priority check, adapted to the fixture schema): the
#: classic l_commitdate < l_receiptdate predicate has no fixture
#: columns, so the EXISTS probes returned lines instead — the join
#: archetype (correlated EXISTS → left-semi join, inner predicate
#: filtered BEFORE the semi-join) is identical.
_SQL_Q4 = """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM {orders}
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM {lineitem}
          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


def _sql_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #8: TPC-H Q4 — EXISTS decorrelated to a left-semi join.

    The semi-join archetype the suite lacked as literal SQL: Catalyst
    rewrites the correlated EXISTS into LeftSemi over (l_orderkey ⋉
    o_orderkey) with the returnflag predicate applied on the inner
    scan BEFORE the join (asserted in tests/test_plan_properties.py).
    The quarter filter pushes to the orders scan; output is bounded by
    |orderpriority|. Reference parity: the EXISTS-shaped filter is the
    set-membership question the reference answers with driver-side
    sketches (``cms_stream.py:42-47``), here as a relational semi-join.
    """
    return spark.sql(_SQL_Q4, **_tables(spark, sf_dir, "orders", "lineitem"))


#: TPC-H Q13 (customer distribution): LEFT OUTER join with an ON-clause
#: predicate on the inner side, then a count-of-counts histogram.
_SQL_Q13 = """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        FROM {customer}
        LEFT OUTER JOIN {orders}
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


def _sql_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #9: TPC-H Q13 — outer-join count distribution.

    The outer-join-shaped aggregate the suite lacked: customers with
    zero (non-urgent) orders MUST survive the join as c_count = 0 rows
    (COUNT over the null-extended side), so the ON-clause predicate
    cannot be pushed below the outer join's null-extension. Two
    aggregations: per-customer counts (shuffle on custkey), then the
    O(|distinct counts|) histogram.
    """
    return spark.sql(_SQL_Q13, **_tables(spark, sf_dir, "customer", "orders"))


#: TPC-H Q17 (small-quantity-order revenue): per-part correlated
#: average. l_quantity is integral (exactly representable in double),
#: so AVG is order-independent and the oracle comparison cannot flip
#: on summation order; revenue sums in exact decimal.
_SQL_Q17 = """
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
    FROM {lineitem}
    JOIN {part} ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
          SELECT 0.2 * AVG(l2.l_quantity)
          FROM {lineitem} l2
          WHERE l2.l_partkey = p_partkey
      )
"""


def _sql_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #10: TPC-H Q17 — correlated scalar subquery per part.

    Catalyst decorrelates the per-part AVG into an aggregate-then-join
    (one pass computing avg quantity per partkey, joined back to the
    brand-filtered fact) instead of re-scanning lineitem per outer row.
    The brand predicate broadcasts through the part join; the final
    result is a single exact-decimal scalar.
    """
    return spark.sql(_SQL_Q17, **_tables(spark, sf_dir, "lineitem", "part"))


#: TPC-H Q19 (discounted revenue): three-branch disjunction mixing
#: part-side and lineitem-side conjuncts (shipmode/shipinstruct have no
#: fixture columns and are dropped; the pushdown archetype is intact).
_SQL_Q19 = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM {lineitem}
    JOIN {part} ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 20 AND l_quantity <= 30)
"""


def _sql_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #11: TPC-H Q19 — disjunctive predicate pushdown.

    The OR-of-ANDs archetype: Catalyst cannot push the whole
    disjunction to either side, but it CAN push each side's disjunct
    union — lineitem scans only quantity ∈ [1,30] rows, part only the
    three brands (both visible as PushedFilters; asserted in
    tests/test_plan_properties.py). The residual mixed-side
    disjunction evaluates post-join on the pre-pruned rows.
    """
    return spark.sql(_SQL_Q19, **_tables(spark, sf_dir, "lineitem", "part"))


#: TPC-H Q22 (global-sales opportunity, adapted): customers above the
#: mean balance with no urgent orders. The fixture has no c_phone, and
#: every customer has ≥1 order, so the anti-join excludes urgent
#: orders instead (same NOT EXISTS → left-anti archetype, non-trivial
#: output). The mean-balance cut is expressed multiplicatively
#: (bal·count > total) so both engines compare exact decimals —
#: never a double division whose last bit could flip a boundary row.
_SQL_Q22 = """
    SELECT c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM {customer}
    WHERE CAST(c_acctbal AS DECIMAL(12,2))
          * (SELECT COUNT(*) FROM {customer} c2 WHERE c2.c_acctbal > 0.0)
          > (SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(12,2))) FROM {customer} c3 WHERE c3.c_acctbal > 0.0)
      AND NOT EXISTS (
          SELECT 1 FROM {orders}
          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
      )
    GROUP BY c_nationkey
    ORDER BY c_nationkey
"""


def _sql_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #12: TPC-H Q22 — anti-join + scalar subqueries.

    The NOT EXISTS decorrelates to LeftAnti over the urgent-orders
    projection; the two uncorrelated scalar subqueries evaluate once
    and broadcast as literals into the filter. Completes the
    semi/anti/outer/correlated join-archetype set (Q4/Q13/Q17/Q22)
    VERDICT r6 named as the remaining relational gap.
    """
    return spark.sql(_SQL_Q22, **_tables(spark, sf_dir, "customer", "orders"))


#: TPC-H Q6 (forecasting revenue change): the pure scan-side query —
#: every predicate pushes to the lineitem scan, no join at all.
_SQL_Q6 = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM {lineitem}
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24.0
"""


def _sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #13: TPC-H Q6 — the pushdown-only aggregate.

    The whole query is one codegen'd scan: all four predicates land in
    PushedFilters (row groups skip on shipdate stats), the projection
    prunes to three columns, and the exact-decimal sum folds map-side
    to one row per task.
    """
    return spark.sql(_SQL_Q6, lineitem=load_table(spark, sf_dir, "lineitem"))


#: TPC-H Q7 (volume shipping): nation-pair trade flows. The fixture
#: nations are synthetic names; NATION_1/NATION_2 stand in for the
#: spec's FRANCE/GERMANY.
_SQL_Q7 = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               EXTRACT(YEAR FROM l_shipdate) AS l_year,
               CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) AS volume
        FROM {supplier}
        JOIN {lineitem} ON s_suppkey = l_suppkey
        JOIN {orders}   ON o_orderkey = l_orderkey
        JOIN {customer} ON c_custkey = o_custkey
        JOIN {nation} n1 ON s_nationkey = n1.n_nationkey
        JOIN {nation} n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""


def _sql_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #14: TPC-H Q7 — the two-role dimension join.

    nation joins TWICE under different aliases (supplier's vs
    customer's), with a cross-side disjunction restricting the pair —
    the self-aliased-dimension archetype. Both nation sides and
    supplier/customer broadcast; lineitem⋈orders is the only big join,
    and the output is bounded by pairs × years.
    """
    return spark.sql(
        _SQL_Q7,
        **_tables(
            spark,
            sf_dir,
            "supplier", "lineitem", "orders", "customer", "nation",
        ),
    )


#: TPC-H Q8 (national market share): conditional share of a ratio over
#: a 7-table snowflake; ASIA/ECONOMY/NATION_3 stand in for the spec's
#: literals on the synthetic fixture values.
_SQL_Q8 = """
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                              ELSE CAST('0.00' AS DECIMAL(12,2)) END) AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (
        SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
               CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) AS volume,
               n2.n_name AS nation
        FROM {part}
        JOIN {lineitem} ON p_partkey = l_partkey
        JOIN {supplier} ON s_suppkey = l_suppkey
        JOIN {orders}   ON l_orderkey = o_orderkey
        JOIN {customer} ON o_custkey = c_custkey
        JOIN {nation} n1 ON c_nationkey = n1.n_nationkey
        JOIN {region}   ON n1.n_regionkey = r_regionkey
        JOIN {nation} n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
"""


def _sql_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #15: TPC-H Q8 — the deepest snowflake in the suite.

    Seven tables, nation again in two roles (market region via the
    customer chain, share label via the supplier chain). Every
    dimension broadcasts onto the part-filtered lineitem probe; the
    market-share division is exact-decimal-over-exact-decimal per
    year, so the ratio is order-independent.
    """
    return spark.sql(
        _SQL_Q8,
        **_tables(
            spark,
            sf_dir,
            "part", "lineitem", "supplier", "orders", "customer", "nation", "region",
        ),
    )


#: TPC-H Q15 (top supplier): a reused aggregate CTE + MAX scalar
#: subquery over it — the view-then-argmax archetype.
_SQL_Q15 = """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS total_revenue
        FROM {lineitem}
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM {supplier}
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
"""


def _sql_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #16: TPC-H Q15 — CTE reuse + MAX scalar subquery.

    The revenue CTE is referenced twice (join side and MAX side); the
    exact-decimal totals make the equality-with-MAX selection
    deterministic — the double-precision spec query can tie-break on
    ulps, the decimal one cannot. With Q1/Q3..Q8/Q10/Q12..Q15/Q17/
    Q18/Q19/Q21/Q22 the engine now runs EVERY TPC-H query expressible
    on the fixture schema (the remaining five — Q2/Q9/Q11/Q16/Q20 —
    all need the absent partsupp table).
    """
    return spark.sql(_SQL_Q15, **_tables(spark, sf_dir, "lineitem", "supplier"))


#: TPC-H Q21 (suppliers who kept orders waiting, adapted): the
#: fixture has no l_receiptdate/l_commitdate, so "failed to deliver on
#: time" becomes l_returnflag = 'R' (the returned-goods marker) — a
#: pure lineitem-side predicate that preserves the archetype exactly:
#: the SAME fact table is correlated twice against itself, once as
#: EXISTS (order has another supplier's line → left-semi) and once as
#: NOT EXISTS (no OTHER supplier also failed → left-anti), on top of a
#: 4-table join. This is the heaviest join shape in TPC-H.
_SQL_Q21 = """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM {supplier}
    JOIN {lineitem} l1 ON s_suppkey = l1.l_suppkey
    JOIN {orders} ON o_orderkey = l1.l_orderkey
    JOIN {nation} ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND n_nationkey < 20
      AND EXISTS (
          SELECT 1 FROM {lineitem} l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM {lineitem} l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
"""


def _sql_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #17: TPC-H Q21 — double self-correlation on the fact.

    The one TPC-H shape the suite still lacked: lineitem correlated
    against ITSELF twice — EXISTS (another supplier touched the same
    order) decorrelates to a left-semi self-join on l_orderkey with a
    non-equal suppkey residual, NOT EXISTS (no other supplier also
    returned) to a left-anti self-join — stacked on a
    supplier⋈lineitem⋈orders⋈nation chain. Catalyst plans both
    correlations as hash joins on the SAME l_orderkey key, so at scale
    the three lineitem occurrences co-partition under one shuffle key
    (AQE reuses the exchange); supplier and nation broadcast. Late
    marker adapted to l_returnflag = 'R' (no receipt/commit dates in
    the fixture) — join topology identical to spec Q21.
    Plan shape (semi + anti over lineitem) is pinned in
    tests/test_plan_properties.py.
    """
    return spark.sql(
        _SQL_Q21, **_tables(spark, sf_dir, "supplier", "lineitem", "orders", "nation")
    )


def _jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC sink + source round-trip against embedded Derby, in-gate.

    The reference's ONLY sink is a JDBC append (K1,
    ``spark_stream.py:40-48``); this runs the same
    ``write.format("jdbc")`` path end-to-end inside the correctness
    gate — no Postgres in the container, so the embedded Derby engine
    (on the Spark classpath) stands in, exactly like the pytest Derby
    suite. A deterministic events slice is overwritten into an
    in-memory Derby table and read back through the JDBC source; the
    oracle aggregates the SOURCE rows, so counts + distinct ids +
    exact decimal sums match only if every row survived the
    JDBC round-trip exactly once (Derby DOUBLE is IEEE — values are
    bit-preserved).
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum

    # Keep Derby's log out of the (arbitrary) driver CWD.
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file",
        os.path.join(tempfile.gettempdir(), "bdta_derby.log"),
    )
    # An in-memory db owned by this call.
    db = f"bdta_gate_{uuid.uuid4().hex}"
    scope.current().derby.append((spark, db))
    url = f"jdbc:derby:memory:{db};create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    slice_df = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 7 == 0)
        .select("event_id", "event_type", "value")
    )
    (
        slice_df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "served_gate")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "served_gate")
        .option("driver", driver)
        .load()
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("event_id").alias("n_ids"),
        exact_sum("value").alias("sum_value"),
    )


def _schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolved directory read (mergeSchema), gate-verified.

    Simulates a table that gained a column mid-life: the first half of
    events is written WITHOUT ``value`` (the v1 schema), the second
    half with it, into one directory. ``read_merged_schema`` must
    union the footers — v1 rows surface ``value`` as NULL rather than
    being dropped or crashing — and the aggregate per event_type
    counts total rows vs rows carrying the new column. The oracle
    reproduces the split arithmetically (event_id parity of the
    halves), pinning that evolution loses no rows and nulls exactly
    the pre-evolution ones.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum
    from big_data_trend_analysis_spark.sources.tables import read_merged_schema

    events = load_table(spark, sf_dir, "events")
    path = _call_dir("evolve")
    v1 = events.filter(F.col("event_id") % 2 == 0).select("event_id", "event_type")
    v2 = events.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", "value"
    )
    v1.write.parquet(f"{path}/v1")
    v2.write.parquet(f"{path}/v2")
    merged = read_merged_schema(spark, path)
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_with_value"),
        exact_sum("value").alias("sum_value"),
    )


def _file_skipping_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level file skipping, gate-verified (VERDICT r6 #8).

    Writes events date-partitioned (exactly one file per date — the
    ``write_date_partitioned`` file-count contract), reads back with a
    6-day ``p_date`` range, and counts the files the filtered scan
    range rows came from via ``input_file_name()``, against the total
    file count on disk. Files are 1:1 with dates, so the oracle
    recomputes both counts arithmetically from raw events and pins the
    in-range row count too: the write→prune→read path lost no rows and
    the range's data lives in exactly the 6 in-range files of 30. That
    the scan structurally PRUNES to those files (PartitionFilters on
    p_date, not a post-scan row filter) is pinned by
    ``tests/test_plan_properties.py::test_file_skipping_check_prunes_partitions``;
    row-group min/max skipping inside a file by
    ``tests/test_scale_utils.py`` via the scan's numOutputRows metric.
    """
    import glob

    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.sources.lakehouse import (
        write_date_partitioned,
    )

    path = _call_dir("skipchk")
    events = load_table(spark, sf_dir, "events")
    write_date_partitioned(events, path, "ts")
    n_files_total = len(glob.glob(f"{path}/p_date=*/*.parquet"))

    back = (
        spark.read.parquet(path)
        .filter(
            (F.col("p_date") >= F.lit("2024-01-05").cast("date"))
            & (F.col("p_date") <= F.lit("2024-01-10").cast("date"))
        )
        # nondeterministic exprs may not appear inside aggregates —
        # bind the file name per row first, then count it.
        .select(F.input_file_name().alias("src_file"))
    )
    return back.agg(
        F.count_distinct("src_file").alias("n_files_touched"),
        F.lit(n_files_total).cast("long").alias("n_files_total"),
        F.count(F.lit(1)).alias("n_rows_in_range"),
        (
            F.count_distinct("src_file") < F.lit(n_files_total).cast("long")
        ).alias("skipped_ok"),
    )


def _zorder_skipping_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering, gate-verified on BOTH dimensions.

    ``file_skipping_check`` proves directory pruning on the partition
    column; this proves the data-layout claim a linear sort cannot
    make: after ``write_zordered(events, ["value", "user_id"])``, a
    selective range filter on EITHER dimension finds all its rows in
    a strict subset of the files. A plain sort serves only its
    leading column — the trailing-dimension flag is exactly what
    distinguishes the Morton layout (OPTIMIZE ZORDER in Delta terms;
    ``sources/lakehouse.py::zorder_column`` builds the interleaved
    key as pure shift/and/add JVM expressions, no UDF).

    Both slices sit in the bottom bits of their dimension (value
    100–150 of a ~0–490 exponential, user_id ≤ 2 of 0–max), so their
    rows occupy a few contiguous Morton intervals and land in a
    bounded fraction of the 16 range-partitioned files — the flags
    hold with wide margin at every fixture SF. The oracle recomputes
    both slice cardinalities and the total row count from raw events
    (write lost nothing) and pins the two skip flags TRUE plus a
    ≥8-file floor (a layout that collapsed to a couple of files would
    make the skip flags vacuous). Row-group min/max skipping inside
    files is asserted separately via scan metrics in
    ``tests/test_scale_utils.py::test_zorder_write_skips_on_both_dimensions``.
    """
    import glob

    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.sources.lakehouse import write_zordered

    path = _call_dir("zorderchk")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    write_zordered(events, path, ["value", "user_id"], bits=10, n_files=16)
    n_files_total = len(glob.glob(f"{path}/*.parquet"))

    back = spark.read.parquet(path)
    val_slice = (F.col("value") >= 100.0) & (F.col("value") <= 150.0)
    usr_slice = F.col("user_id") <= 2
    tagged = back.select(
        F.input_file_name().alias("src_file"),
        val_slice.alias("in_val"),
        usr_slice.alias("in_usr"),
    )
    return tagged.agg(
        F.count(F.lit(1)).alias("n_rows_total"),
        F.count_distinct(F.when(F.col("in_val"), F.col("src_file"))).alias(
            "_fv"
        ),
        F.count_distinct(F.when(F.col("in_usr"), F.col("src_file"))).alias(
            "_fu"
        ),
        F.sum(F.col("in_val").cast("long")).alias("n_rows_value_slice"),
        F.sum(F.col("in_usr").cast("long")).alias("n_rows_user_slice"),
    ).select(
        "n_rows_total",
        "n_rows_value_slice",
        "n_rows_user_slice",
        (F.col("_fv") < F.lit(n_files_total)).alias("skip_value_ok"),
        (F.col("_fu") < F.lit(n_files_total)).alias("skip_user_ok"),
        F.lit(n_files_total >= 8).alias("layout_ok"),
    )


def _merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write parquet MERGE round-trip (VERDICT r6 #6).

    ``upsert_scd1`` proves the one-shuffle changelog compaction; this
    closes the lakehouse WRITE path: the merged state is applied to a
    date-partitioned parquet table by rewriting ONLY the touched
    partitions — the Delta/Hudi copy-on-write mechanic in stock Spark.

    1. Base snapshot: latest pre-cut row per (user_id, event_type),
       written date-partitioned on its state timestamp.
    2. Changelog winners: one ``max_by`` aggregation pass over the
       post-cut slice (the merge.py shape — no join, no second scan).
    3. Affected partitions = dirs holding an old version of a changed
       key (left-semi) ∪ dirs receiving a winner. Survivor rows of
       those dirs (left-anti on changed keys) union the winners and
       re-land via ``partitionOverwriteMode=dynamic`` — untouched
       dirs are never rewritten. A partition emptied by the merge
       (all its keys moved forward, nothing arrived) cannot be
       expressed as a zero-row dynamic overwrite, so its dir is
       dropped explicitly — exactly the delete a table-format commit
       log records. ``scope.checkpoint`` breaks the read-path lineage
       before overwriting the same location (at cluster scale this is
       a staging-dir commit swap; the rewrite set is identical).
    4. Read the final table back and aggregate per event_type —
       counts, distinct users, exact-decimal value sum, max state ts —
       plus the rewritten/final partition counts. The oracle
       recomputes the end state as latest-per-key over RAW events and
       the affected set arithmetically: totals match only if the
       rewrite lost nothing, left no stale versions behind, and
       touched exactly the declared partitions.
    """
    import shutil

    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum
    from big_data_trend_analysis_spark.operators.merge import SNAPSHOT_CUT
    from big_data_trend_analysis_spark.sources.lakehouse import (
        write_date_partitioned,
    )

    path = _call_dir("merge")

    events = load_table(spark, sf_dir, "events")
    cut = F.lit(SNAPSHOT_CUT).cast("timestamp")
    latest = F.max_by(
        F.struct("event_id", "ts", "value"), F.struct("ts", "event_id")
    )
    base = (
        events.filter(F.col("ts") < cut)
        .groupBy("user_id", "event_type")
        .agg(latest.alias("w"))
        .select("user_id", "event_type", "w.event_id", "w.ts", "w.value")
    )
    write_date_partitioned(base, path, "ts")

    # Materialized once: the compacted changelog feeds three consumers
    # (affected-partition semi-join, survivor anti-join, rewrite union)
    # and is O(changed keys), not O(events).
    winners = scope.checkpoint(
        events.filter(F.col("ts") >= cut)
        .groupBy("user_id", "event_type")
        .agg(latest.alias("w"))
        .select("user_id", "event_type", "w.event_id", "w.ts", "w.value")
        .withColumn("p_date", F.to_date("ts"))
    )

    table = spark.read.parquet(path)
    keys = winners.select("user_id", "event_type")
    parts_old = (
        table.join(keys, ["user_id", "event_type"], "left_semi")
        .select("p_date")
        .distinct()
    )
    parts_new = winners.select("p_date").distinct()
    # Bounded O(dates) collect — the COW rewrite set, what a table
    # format's commit log would hold. The ceiling is enforced, not
    # assumed (the similarity-family _BOUNDED_SAMPLE_MAX discipline):
    # a future edit that widens the partition scheme cannot silently
    # turn this into an unbounded driver pull.
    affected_rows = parts_old.union(parts_new).distinct().collect()
    if len(affected_rows) > _PARTITION_LIST_MAX:
        raise ValueError(
            f"merge_roundtrip: {len(affected_rows)} affected partitions "
            f"(> _PARTITION_LIST_MAX={_PARTITION_LIST_MAX}) — the "
            "partition list is no longer O(dates); repartition the "
            "table or raise the ceiling deliberately"
        )
    affected = sorted(r.p_date for r in affected_rows)
    affected_df = spark.createDataFrame(
        [(d,) for d in affected], "p_date date"
    )

    survivors = table.join(F.broadcast(affected_df), "p_date", "left_semi").join(
        keys, ["user_id", "event_type"], "left_anti"
    )
    cols = ("user_id", "event_type", "event_id", "ts", "value", "p_date")
    rewrite = scope.checkpoint(
        survivors.select(*cols)
        .unionByName(winners.select(*cols))
        .repartition("p_date")
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    rewrite.write.mode("overwrite").partitionBy("p_date").parquet(path)
    written_rows = rewrite.select("p_date").distinct().collect()
    if len(written_rows) > _PARTITION_LIST_MAX:
        raise ValueError(
            f"merge_roundtrip: {len(written_rows)} rewritten partitions "
            f"exceed _PARTITION_LIST_MAX={_PARTITION_LIST_MAX}"
        )
    written = {r.p_date for r in written_rows}
    for d in affected:
        if d not in written:
            shutil.rmtree(os.path.join(path, f"p_date={d}"), ignore_errors=True)

    final = spark.read.parquet(path)
    n_final = final.select("p_date").distinct().count()
    scal = spark.createDataFrame(
        [(len(affected), n_final)], "n_parts_rewritten long, n_parts_final long"
    )
    return (
        final.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.count_distinct("user_id").alias("n_users"),
            exact_sum("value").alias("sum_value"),
            F.max("ts").alias("max_ts"),
        )
        .crossJoin(F.broadcast(scal))
    )


def _txn_log_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-log table: three commits, snapshot-isolated read,
    time travel (closes the ROADMAP "transaction log itself" gap).

    Builds a manifest-logged parquet table (`sources/txnlog.py` — the
    Delta-log mechanic in stock parquet + JSON) in three atomic
    commits over the events fixture:

    - **v0** base load: all pre-cut rows (``ts < SNAPSHOT_CUT``).
    - **v1** append: the post-cut rows (files added, none removed).
    - **v2** rewrite (a GDPR-style purge): v0's files are replaced by
      copies with pre-cut ``click`` rows deleted — remove + add in ONE
      atomic commit, v1's files untouched.

    The superseded v0 files stay on disk (no vacuum), so the physical
    directory holds 6 data files while snapshot v2 comprises 4 — a
    directory-listing reader would double-count every surviving
    pre-cut row and resurrect the purged clicks. The gate reads
    through the manifest: per-event_type totals over v2 plus scalars
    ``n_versions``, time-travel ``n_rows_v0`` (pinned snapshot-0
    count — purged rows still visible at v0 by design), and the
    disk-vs-live file counts. The oracle recomputes all of it from
    raw events + the deterministic file-count arithmetic: totals
    match ONLY if commits are atomic, the rewrite lost nothing, and
    stale files are invisible to the live snapshot.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum

    log = _txnlog_three_commits(spark, sf_dir, "txnlog")
    n_rows_v0 = log.read_snapshot(spark, 0).count()  # time travel
    n_live = len(log.snapshot_files())
    n_disk = _data_files_on_disk(log)
    scal = spark.createDataFrame(
        [(log.latest_version() + 1, n_rows_v0, n_disk, n_live)],
        "n_versions long, n_rows_v0 long, n_files_disk long, n_files_live long",
    )
    return (
        log.read_snapshot(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
            exact_sum("value").alias("sum_value"),
            F.max("ts").alias("max_ts"),
        )
        .crossJoin(F.broadcast(scal))
    )


def _txnlog_three_commits(spark: SparkSession, sf_dir: str, kind: str):
    """Shared gate construction: the snapshot-read trio of commits —
    v0 pre-cut base (2 files), v1 post-cut append (2 files), v2
    GDPR-style purge rewrite of v0's files (pre-cut clicks deleted,
    2 files) — in a new temp dir of the call. Returns the TxnLog."""
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.operators.merge import SNAPSHOT_CUT
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(_call_dir(kind))
    events = load_table(spark, sf_dir, "events")
    cut = F.lit(SNAPSHOT_CUT).cast("timestamp")
    log.write_commit(events.filter(F.col("ts") < cut), n_files=2)  # v0
    log.write_commit(events.filter(F.col("ts") >= cut), n_files=2)  # v1
    v0_rel = log.manifest(0)["added"]
    purged = log.read_snapshot(spark, 0).filter(F.col("event_type") != "click")
    log.write_commit(purged, remove=v0_rel, n_files=2)  # v2
    return log


def _data_files_on_disk(log) -> int:
    """Parquet files physically under a txnlog table, live or not."""
    return sum(
        len([f for f in files if f.endswith(".parquet")])
        for _, _, files in os.walk(os.path.join(log.root, "data"))
    )


def _txn_log_vacuum_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Txnlog lifecycle completion: VACUUM + version-chain compaction
    (VERDICT r7 #2 — the log grew monotonically before this).

    Builds the three-commit log, then ``vacuum(retain_versions=1)``:
    v0's superseded pre-purge files (the only ones no retained
    manifest lists) are deleted and the v0/v1 manifests dropped.
    Gate-proven postconditions, all oracle-pinned:

    - the latest snapshot is untouched (per-event_type totals equal
      the raw-events recomputation — vacuum may not move a byte of
      live data);
    - superseded versions are unreadable BY CONTRACT
      (``v0_unreadable`` = the documented ValueError, not a silent
      directory fallback);
    - the change feed honors the CDF retention contract (ADVICE r8):
      v2's pre-image files aged out with v0's snapshot, so
      ``read_changes`` must raise the documented "was vacuumed"
      error up front (``cdf_vacuumed``) — never a mid-scan
      missing-path failure;
    - physical disk == manifest: ``n_files_disk`` equals
      ``n_files_live`` equals 4 (before vacuum: 6 on disk);
    - the audit stats are exact literals (2 data files aged out, 2
      manifests compacted, earliest retained version 2).
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum

    log = _txnlog_three_commits(spark, sf_dir, "txnvac")

    stats = log.vacuum(retain_versions=1)
    try:
        log.read_snapshot(spark, 0)
        v0_unreadable = False
    except ValueError:
        v0_unreadable = True
    try:
        log.read_changes(spark, key_cols=["event_id"])
        cdf_vacuumed = False
    except ValueError as exc:
        cdf_vacuumed = "was vacuumed" in str(exc)
    n_live = len(log.snapshot_files())
    n_disk = _data_files_on_disk(log)
    scal = spark.createDataFrame(
        [(
            stats["data_files_removed"],
            stats["manifests_removed"],
            stats["earliest_retained"],
            n_disk,
            n_live,
            v0_unreadable,
            cdf_vacuumed,
        )],
        "n_data_removed long, n_manifests_removed long, "
        "earliest_retained long, n_files_disk long, n_files_live long, "
        "v0_unreadable boolean, cdf_vacuumed boolean",
    )
    return (
        log.read_snapshot(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum("value").alias("sum_value"),
        )
        .crossJoin(F.broadcast(scal))
    )


def _txnlog_cdf_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read path (VERDICT r7 #3) — the inverse of
    ``stream_cdc_apply_live``: the per-commit txnlog versions read
    back as a change stream a downstream consumer can subscribe to.

    ``TxnLog.read_changes`` derives each version's changes from the
    commit's OWN add/remove file delta — O(touched files) per
    version, never O(snapshot) — keyed on event_id: appends surface
    as inserts, the purge rewrite as deletes for the purged clicks,
    and the rows the rewrite copied verbatim are dropped as no-ops
    (so the feed equals the semantic snapshot diff). The gate
    aggregates the feed per (version, change type, event_type); the
    oracle recomputes every cell from raw events + the commit-plan
    arithmetic. A wrong no-op filter, a missed tombstone, or a
    version misattribution each flips a different cell.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum

    log = _txnlog_three_commits(spark, sf_dir, "txncdf")

    return (
        log.read_changes(spark, key_cols=["event_id"])
        .groupBy("_commit_version", "_change_type", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum("value").alias("sum_value"),
        )
        .withColumnRenamed("_commit_version", "commit_version")
        .withColumnRenamed("_change_type", "change_type")
    )


def _txnlog_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional schema evolution on the log-backed table
    (VERDICT r7 #5): a column add lands in the SAME atomic commit as
    its first files — readers of version N use version N's schema.

    v0 commits the pre-cut slice under the 4-column schema; v1
    appends the post-cut slice with an added ``score`` column
    (round(value·0.5, 6)). Postconditions, all oracle-pinned:

    - the LATEST snapshot reads old+new files under the evolved
      schema — pre-evolution rows surface ``score`` as null (counted
      by ``n_scored``), no mergeSchema footer-union scan needed (the
      manifest pins the schema);
    - the PRE-EVOLUTION version still reads under ITS OWN narrower
      schema (``v0_cols`` = 4, not the union) — time travel returns
      what version 0 actually was;
    - totals over coalesce(score, 0) equal the raw recomputation.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum
    from big_data_trend_analysis_spark.operators.merge import SNAPSHOT_CUT
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(_call_dir("txnsch"))

    events = load_table(spark, sf_dir, "events")
    cut = F.lit(SNAPSHOT_CUT).cast("timestamp")
    base_cols = ["event_id", "user_id", "event_type", "value"]
    log.write_commit(
        events.filter(F.col("ts") < cut).select(*base_cols), n_files=2
    )  # v0: 4-column schema
    log.write_commit(
        events.filter(F.col("ts") >= cut).select(
            *base_cols, F.round(F.col("value") * 0.5, 6).alias("score")
        ),
        n_files=2,
    )  # v1: schema evolves in the same commit as its files

    latest = log.read_snapshot(spark)
    scal = spark.createDataFrame(
        [(len(log.read_snapshot(spark, 0).columns), len(latest.columns))],
        "v0_cols long, latest_cols long",
    )
    return (
        latest.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("score").alias("n_scored"),
            # score is a 6-dp double — sum in decimal(18,6), not the
            # 2-dp price default
            exact_sum(
                F.coalesce(F.col("score"), F.lit(0.0)), "decimal(18,6)"
            ).alias("sum_score"),
        )
        .crossJoin(F.broadcast(scal))
    )


def _txnlog_concurrent_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-writer optimistic concurrency under REAL contention
    (VERDICT r8 #2): two threads race the same version slot; the CAS
    admits exactly one, the loser rebases, and nothing is lost.

    v0 lands the pre-cut base; then two writer THREADS each pin the
    same pre-read ``base`` version, synchronize on a barrier, and
    ``write_commit`` disjoint halves of the post-cut slice (even /
    odd ``event_id``). Because both CAS on ``base + 1``, exactly one
    ``FileExistsError`` is deterministic regardless of scheduling;
    the loser rebases (re-read latest, recommit) and converges.
    ``vacuum(retain_versions=3)`` then reclaims the loser's ORPHANED
    first-attempt files — staged data that never made a manifest —
    without touching any committed version. Oracle-pinned:

    - per-event_type totals over the final snapshot equal the WHOLE
      events table (no lost update: winner's AND loser's rows);
    - ``n_versions`` = 3, ``n_conflicts`` = 1 (exactly one CAS
      loser), ``n_orphans_removed`` = 2 (the dead first attempt),
      disk == manifest == 6 files after the vacuum.

    Scale shape: the race is on the KB-sized manifest link — the
    same object-store put-if-absent Delta serializes on; data files
    land before the CAS, so contention never blocks executors.
    """
    import threading

    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum
    from big_data_trend_analysis_spark.operators.merge import SNAPSHOT_CUT
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(_call_dir("txncc"))

    events = load_table(spark, sf_dir, "events")
    cut = F.lit(SNAPSHOT_CUT).cast("timestamp")
    log.write_commit(events.filter(F.col("ts") < cut), n_files=2)  # v0
    post = events.filter(F.col("ts") >= cut)

    base = log.latest_version()  # BOTH writers read this same base
    barrier = threading.Barrier(2)
    conflicts: list[int] = []
    errors: list[BaseException] = []

    def writer(df: DataFrame) -> None:
        try:
            barrier.wait()
            try:
                log.write_commit(df, n_files=2, expected_version=base)
            except FileExistsError:  # CAS loser: rebase and recommit
                conflicts.append(1)
                log.write_commit(
                    df, n_files=2, expected_version=log.latest_version()
                )
        except BaseException as exc:  # surfaced via the scalar row
            errors.append(exc)

    threads = [
        threading.Thread(
            target=writer,
            args=(post.filter(F.pmod("event_id", F.lit(2)) == lit),),
        )
        for lit in (0, 1)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]

    stats = log.vacuum(retain_versions=3)  # keeps v0..v2, reaps orphans
    n_disk = _data_files_on_disk(log)
    scal = spark.createDataFrame(
        [(
            log.latest_version() + 1,
            len(conflicts),
            stats["data_files_removed"],
            n_disk,
            len(log.snapshot_files()),
        )],
        "n_versions long, n_conflicts long, n_orphans_removed long, "
        "n_files_disk long, n_files_live long",
    )
    return (
        log.read_snapshot(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum("value").alias("sum_value"),
        )
        .crossJoin(F.broadcast(scal))
    )


def _txnlog_partition_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution via a metadata commit (VERDICT r8 #3,
    Iceberg's ``ALTER TABLE ... WRITE PARTITIONED BY``): version N−1
    reads under the old spec, version N under the new, and manifest
    file skipping works on BOTH sides of the change.

    - **v0** pre-cut slice written ``partition_by=['event_type']`` —
      one file per live type (the manifest records each file's
      values);
    - **v1** pure-metadata spec change to ``['day']`` — zero files
      move;
    - **v2** post-cut slice written under the NEW spec — one file per
      day.

    File-skipping arithmetic, all oracle-recomputed from raw events:
    a ``day = 2024-01-12`` filter prunes v2 to 1 file but must
    conservatively keep ALL v0 files (their spec never recorded a
    day — Iceberg's rule that old-spec files are unprunable on new
    columns), and an ``event_type = 'click'`` filter the mirror
    image. The returned relation row-filters the day-pruned read, so
    a pruning bug that drops a needed file changes the totals, and
    one that leaks extra files changes the scan counts.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum
    from big_data_trend_analysis_spark.operators.merge import SNAPSHOT_CUT
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(_call_dir("txnpe"))

    events = load_table(spark, sf_dir, "events")
    cut = F.lit(SNAPSHOT_CUT).cast("timestamp")
    day = F.col("ts").cast("date").cast("string").alias("day")
    shaped = events.select("event_id", "user_id", "event_type", "value", day, "ts")
    log.write_commit(
        shaped.filter(F.col("ts") < cut).drop("ts"),
        partition_by=["event_type"],
    )  # v0: one file per pre-cut event type
    log.evolve_partition_spec(["day"])  # v1: metadata only
    log.write_commit(
        shaped.filter(F.col("ts") >= cut).drop("ts"),
        partition_by=["day"],
    )  # v2: one file per post-cut day

    pin_day = "2024-01-12"
    n_v0 = len(log.snapshot_files(0))
    n_all = len(log.snapshot_files())
    scal = spark.createDataFrame(
        [(
            log.latest_version() + 1,
            n_v0,
            n_all - n_v0,
            len(log.snapshot_files(partition_filter={"day": pin_day})),
            len(log.snapshot_files(partition_filter={"event_type": "click"})),
            ",".join(log.partition_spec(0)),
            ",".join(log.partition_spec()),
        )],
        "n_versions long, n_files_v0 long, n_files_v2 long, "
        "n_scan_day long, n_scan_type long, spec_v0 string, "
        "spec_latest string",
    )
    return (
        log.read_snapshot(spark, partition_filter={"day": pin_day})
        .filter(F.col("day") == pin_day)  # row filter over the superset
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum("value").alias("sum_value"),
        )
        .crossJoin(F.broadcast(scal))
    )


def _txnlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-based time travel on the log-backed table — Delta's
    ``timestampAsOf`` beside the family's version-number reads.

    Three commits land with pinned ISO stamps (caller-supplied so the
    gate is deterministic; a production writer passes its wall
    clock): v0 = pre-cut slice @ Jan 1, v1 = even post-cut @ Jan 2,
    v2 = odd post-cut @ Jan 3. ``version_at`` must resolve

    - the exact first stamp to v0 (boundary is ≤, as in Delta),
    - a mid-range timestamp to the LATEST commit at-or-before it
      (v1 — not v2, which exists but is in the query's future),
    - the exact last stamp to the latest version,

    a pre-epoch timestamp must raise (the vacuumed-history
    contract: a silently-wrong old answer is the failure mode), and
    a FUTURE timestamp must raise too (ADVICE r9: Delta's 'timestamp
    after latest commit' — silently resolving the future to 'latest'
    would pin a different snapshot on every replay). Stamp hygiene is
    also pinned: a non-monotonic commit stamp must be refused at
    WRITE time. Row counts and exact integer id-sums per resolved
    snapshot are oracle-pinned from the same slice arithmetic.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.operators.merge import SNAPSHOT_CUT
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(_call_dir("txntt"))

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    cut = F.lit(SNAPSHOT_CUT).cast("timestamp")
    pre = events.filter(F.col("ts") < cut)
    post = events.filter(F.col("ts") >= cut)
    log.write_commit(pre, n_files=2, committed_at="2024-01-01T00:00:00")
    log.write_commit(
        post.filter(F.col("event_id") % 2 == 0),
        committed_at="2024-01-02T00:00:00",
    )
    log.write_commit(
        post.filter(F.col("event_id") % 2 == 1),
        committed_at="2024-01-03T00:00:00",
    )

    def _asof(label: str, ts: str) -> DataFrame:
        v = log.version_at(ts)
        return (
            log.read_snapshot(spark, v)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("event_id").alias("sum_id"),
            )
            .select(
                F.lit(label).alias("label"),
                F.lit(v).alias("resolved_version"),
                "n_rows",
                "sum_id",
            )
        )

    out = (
        _asof("asof_t0", "2024-01-01T00:00:00")
        .unionByName(_asof("asof_mid", "2024-01-02T12:00:00"))
        .unionByName(_asof("asof_latest", "2024-01-03T00:00:00"))
    )
    try:
        log.version_at("1999-01-01T00:00:00")
        pre_epoch_raises = False
    except ValueError:
        pre_epoch_raises = True
    try:
        log.version_at("2099-01-01T00:00:00")
        future_ts_raises = False
    except ValueError:
        future_ts_raises = True
    try:
        # stamp hygiene: a commit stamped BEFORE its parent must be
        # refused at write time (else version_at's order breaks)
        log.commit(add=[], remove=[], committed_at="2023-12-31T00:00:00")
        backwards_stamp_raises = False
    except ValueError:
        backwards_stamp_raises = True
    scal = spark.createDataFrame(
        [(pre_epoch_raises, future_ts_raises, backwards_stamp_raises)],
        "pre_epoch_raises boolean, future_ts_raises boolean, "
        "backwards_stamp_raises boolean",
    )
    return out.crossJoin(F.broadcast(scal))


def _stream_cdc_apply_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply through the real streaming machinery — the
    change-stream half of the MERGE story (`streaming/cdc.py`).

    Drains the events changelog (key = (user_id, event_type), version
    = (ts, event_id), op = delete when ``event_id % 7 == 0``) over the
    ``event_id % 3`` multi-file split with availableNow, so every
    key's versions scatter across ≥2 REAL micro-batches in
    NON-time-order — each ``foreachBatch`` MERGE must exercise the
    out-of-order precombine guard (an old version arriving after a
    newer one must lose) and delete tombstones must persist across
    batches (so a late older update cannot resurrect a deleted key).
    Each batch's merged state lands as ONE atomic `sources/txnlog.py`
    commit (fresh file set + manifest swap — the Delta/Hudi streaming-
    sink mechanic; version k stays readable as state-as-of-batch-k).
    The serving read drops tombstones and aggregates per event_type;
    the oracle is batch latest-per-key over ALL events with deletes
    filtered — streaming apply converges to the batch answer only if
    both guards hold. ``n_batches_applied`` certifies the multi-batch
    drain (3 non-empty micro-batches by split construction).
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum
    from big_data_trend_analysis_spark.streaming.cdc import (
        cdc_apply_sink,
        changes_from_events,
        serve_live_state,
    )
    from big_data_trend_analysis_spark.streaming.sources import (
        stream_events_batched,
    )

    state_path = _call_dir("cdcstate")
    applied: list[int] = []
    drain_available_now(
        changes_from_events(stream_events_batched(spark, sf_dir)),
        foreach_batch=cdc_apply_sink(state_path, applied),
    )
    scal = spark.createDataFrame(
        [(len(applied),)], "n_batches_applied long"
    )
    return (
        serve_live_state(spark, state_path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.count_distinct("user_id").alias("n_users"),
            exact_sum("value").alias("sum_value"),
            F.max("ts").alias("max_ts"),
        )
        .crossJoin(F.broadcast(scal))
    )


def _python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource scan (SPARK-44076) — reference S3 done
    as a real pluggable source.

    The reference's synthetic producer (`producer/fake_producer.py`)
    is a single process pushing fabricated rows through Kafka; here
    the generator IS a Spark source: ``spark.read.format(
    "bdta_synthetic")`` fans deterministic slices across executor
    partitions (sources/synthetic.py). Every column is a pure integer
    formula of the row index, so the DuckDB oracle regenerates the
    relation from ``range(0, n)`` and hash-compares the per-type
    aggregate — proving the pluggable source delivers exactly the
    declared rows, partition-parallel, with no driver data path.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.sources.synthetic import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    df = (
        spark.read.format("bdta_synthetic")
        .option("n", "10000")
        .option("parts", "8")
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("raw").alias("sum_raw"),
        F.count_distinct("user_id").alias("n_users"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
    )


def _udtf_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (SPARK-43798) in a LATERAL join — the UDTF corner
    of the SURVEY §2.4 surface.

    A table-valued Python function explodes each document into
    positional bigrams and feeds the standard top-k aggregation —
    API-parity demonstration: the hot path for this exact computation
    is the builtin explode/arrays_zip pipeline (tokenize_explode,
    bpe_merge_rounds) which stays JVM-side; a UDTF is the escape
    hatch for table-generating logic Spark cannot express, and this
    gate pins that the lateral-join plumbing (pickled class, executor
    Python workers, column pruning into the UDTF) returns exactly the
    relational answer.
    """
    from pyspark.sql.functions import udtf


    @udtf(returnType="pos int, gram string")
    class _Bigrams:
        def eval(self, text: str):
            toks = [t for t in (text or "").split(" ") if t]
            for i in range(len(toks) - 1):
                yield i, toks[i] + " " + toks[i + 1]

    spark.udtf.register("bdta_bigrams_udtf", _Bigrams)
    return spark.sql(
        """
        SELECT t.gram, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM {docs} d, LATERAL bdta_bigrams_udtf(d.text) t
        GROUP BY t.gram
        ORDER BY cnt DESC, gram ASC
        LIMIT 10
        """,
        docs=load_table(spark, sf_dir, "documents"),
    )


def _runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join — Catalyst's row-level runtime filter
    (SPARK-32268) demonstrated and proven in-gate.

    The 100 TB shuffle-join saver: when the selective side of a
    non-broadcast join is filtered, Catalyst injects a
    ``bloom_filter_agg`` subquery over its join keys and pushes
    ``might_contain`` onto the probe side's SCAN, so most probe rows
    die before the shuffle instead of after it. Broadcast is disabled
    and the thresholds opened on the query's session (broadcast
    joins already kill the probe cost; the demonstration is for the
    shuffle-join regime where neither side broadcasts), the join
    evaluates eagerly under those confs, and the physical plan
    is checked for ``might_contain`` on the spot: the returned
    ``bloom_planned`` column records the proof, and the oracle pins it
    TRUE. Result rows are the bounded per-returnflag aggregate.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    agg = (
        li.join(urgent, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum("l_extendedprice").alias("sum_price"),
        )
    )
    plan = agg._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    bloom_planned = "might_contain" in plan
    rows = [
        (r.l_returnflag, r.n_rows, r.sum_price, bloom_planned)
        for r in agg.collect()
    ]
    return spark.createDataFrame(
        rows,
        "l_returnflag string, n_rows long, sum_price double, bloom_planned boolean",
    )


def _cbo_reorder_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join reorder proven in-gate (VERDICT r7 #6 — the
    deferred ANALYZE/CBO item, un-deferred for its provable part).

    Three catalog tables (external, in the call's temp dir)
    get ``ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS``; the
    star join is then written in a deliberately BAD syntactic order —
    fact first (``orders ⋈ customer ⋈ nation``), selective dim last.
    With ``spark.sql.cbo.enabled`` + ``joinReorder`` OFF the optimized
    plan keeps the syntactic order; ON (with the stats in the
    catalog) the reorderer builds the dims first and joins the fact
    LAST — the shape that keeps a 100 TB fact table from flowing
    through two shuffles. ``cbo_reordered`` records exactly that
    plan-shape flip (baseline != CBO order AND fact last), oracle-
    pinned TRUE; the aggregate values are plan-order-invariant and
    recomputed from the raw fixtures.
    """
    import re

    root = _call_dir("cbo")
    tbls = {t: _call_table(spark, f"cbo_{t}") for t in ("orders", "customer", "nation")}
    for t, name in tbls.items():
        load_table(spark, sf_dir, t).write.format("parquet").option(
            "path", f"{root}/{t}"
        ).saveAsTable(name)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS")
    q = f"""
        SELECT n.n_name,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM {tbls["orders"]} o
        JOIN {tbls["customer"]} c ON o.o_custkey = c.c_custkey
        JOIN {tbls["nation"]} n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_name IN ('NATION_3', 'NATION_7')
        GROUP BY n.n_name
    """

    def join_order(df) -> list[str]:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        seen: list[str] = []
        for m in re.findall(r"bdta_cbo_(orders|customer|nation)_", plan):
            if m not in seen:
                seen.append(m)
        return seen

    cbo_keys = ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    for k in cbo_keys:
        spark.conf.set(k, "false")
    baseline = join_order(spark.sql(q))
    for k in cbo_keys:
        spark.conf.set(k, "true")
    df = spark.sql(q)
    cbo_order = join_order(df)
    rows = [(r.n_name, r.n_orders, r.sum_price) for r in df.collect()]
    cbo_reordered = cbo_order != baseline and cbo_order[-1] == "orders"
    return spark.createDataFrame(
        [(*r, cbo_reordered) for r in rows],
        "n_name string, n_orders long, sum_price double, "
        "cbo_reordered boolean",
    )


def _aqe_skew_join_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join split proven in-gate (VERDICT r7 #4) — the
    automatic complement to the manual salting `join_skewed` proves.

    A 95%-hot key is derived from events (`k = 0` unless
    ``event_id % 20 == 0``) with a uuid pad so the hot shuffle
    partition is real megabytes, and the join runs under session
    confs that force the shuffle-join regime (broadcast off)
    with skew thresholds scaled to fixture bytes. The input is
    repartitioned to 16 map tasks first — AQE's skew split reads
    PartialReducerPartitionSpec map-index ranges, so a single-mapper
    shuffle (one small parquet file) physically cannot split; that
    subtlety is the gate's own scale lesson. After the eager run the
    EXECUTED adaptive plan must contain ``skew=true`` — recorded as
    ``skew_split`` and pinned TRUE by the oracle. Values are immune
    to the re-plan: per-key counts and ``sum(length(pad))`` (uuids
    are always 36 chars, so the pad total is 36·n — deterministic
    while the pad bytes themselves defeat column pruning; without
    the length-sum the optimizer would prune the pad and with it the
    very bytes that make the partition skewed).
    """
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # without force, AQE vetoes splits that could add a downstream
        # shuffle; forcing isolates the detect+split machinery under
        # test from that cost heuristic
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    left = (
        load_table(spark, sf_dir, "events")
        .repartition(16)
        .selectExpr(
            "CASE WHEN event_id % 20 = 0 THEN user_id % 32 "
            "ELSE CAST(0 AS BIGINT) END AS k",
            "uuid() AS pad",
        )
    )
    right = spark.range(32).selectExpr("id AS k", "id * 2 AS weight")
    agg = (
        left.join(right, "k")
        .groupBy("k", "weight")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.length("pad")).alias("sum_pad_len"),
        )
    )
    out = [
        (r.k, r.weight, r.n_rows, r.sum_pad_len) for r in agg.collect()
    ]
    plan = agg._jdf.queryExecution().executedPlan().toString()
    skew_split = "skew=true" in plan
    return spark.createDataFrame(
        [(*r, skew_split) for r in out],
        "k long, weight long, n_rows long, sum_pad_len long, "
        "skew_split boolean",
    )


def _mor_read_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read lakehouse view — the read-path dual of
    ``merge_roundtrip``'s copy-on-write rewrite.

    MOR mechanics (Hudi's read-optimized vs real-time split, in stock
    Spark): the base snapshot (latest pre-cut row per key) lands once;
    the changelog appends RAW post-cut rows untouched — writes stay
    O(delta) with zero rewrite amplification — and every read pays one
    ``max_by`` merge over base ∪ delta instead. Exactly the trade a
    100 TB table with a hot write path wants until compaction runs
    (``merge_roundtrip`` IS that compaction). The oracle recomputes
    latest-per-key over the raw source: the read-view aggregate
    matches only if the merge resolves every key to its true latest
    version across both layers.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum
    from big_data_trend_analysis_spark.operators.merge import SNAPSHOT_CUT

    path = _call_dir("mor")

    events = load_table(spark, sf_dir, "events")
    cut = F.lit(SNAPSHOT_CUT).cast("timestamp")
    cols = ("user_id", "event_type", "event_id", "ts", "value")
    latest = F.max_by(
        F.struct("event_id", "ts", "value"), F.struct("ts", "event_id")
    )
    base = (
        events.filter(F.col("ts") < cut)
        .groupBy("user_id", "event_type")
        .agg(latest.alias("w"))
        .select("user_id", "event_type", "w.event_id", "w.ts", "w.value")
    )
    base.write.mode("overwrite").parquet(f"{path}/base")
    # The MOR write path: append the changelog slice AS IS — no
    # compaction, no shuffle, no read-modify-write.
    events.filter(F.col("ts") >= cut).select(*cols).write.mode(
        "overwrite"
    ).parquet(f"{path}/delta")

    # The MOR read path: one max_by merge across both layers.
    merged = (
        spark.read.parquet(f"{path}/base")
        .unionByName(spark.read.parquet(f"{path}/delta"))
        .groupBy("user_id", "event_type")
        .agg(latest.alias("w"))
        .select("user_id", "event_type", "w.event_id", "w.ts", "w.value")
    )
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.count_distinct("user_id").alias("n_users"),
        exact_sum("value").alias("sum_value"),
        F.max("ts").alias("max_ts"),
    )


def _compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip — the table-maintenance job
    every 100 TB lake runs nightly.

    A streaming ingest (or over-parallel writer) leaves 64 tiny files;
    the compactor reads them and rewrites the SAME rows as 4
    right-sized files (explicit repartition — at cluster scale the
    target count comes from bytes/128 MB bin-packing). Both layouts
    are profiled through the scan itself (``input_file_name`` bound
    per row, then distinct-counted), and the oracle pins the exact
    expected file counts plus content aggregates over the source —
    green only if compaction preserved every row and hit the target
    layout. NameNode/listing pressure, not query parallelism, is what
    this buys: 16× fewer objects for identical data.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.numeric import exact_sum

    path = _call_dir("compact")

    slice_df = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    slice_df.repartition(64).write.mode("overwrite").parquet(f"{path}/small")
    small = spark.read.parquet(f"{path}/small")
    small.repartition(4).write.mode("overwrite").parquet(f"{path}/big")

    def profile(df: DataFrame, phase: str) -> DataFrame:
        return (
            df.select(
                F.input_file_name().alias("src_file"),
                "event_id",
                "value",
            )
            .agg(
                F.count_distinct("src_file").alias("n_files"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count_distinct("event_id").alias("n_ids"),
                exact_sum("value").alias("sum_value"),
            )
            .select(F.lit(phase).alias("phase"), "*")
        )

    return profile(small, "small").unionByName(
        profile(spark.read.parquet(f"{path}/big"), "compacted")
    )


def _stateful_decay_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom keyed-state streaming (applyInPandasWithState) in the gate.

    Drains ``decayed_token_scores`` — per-token mutable state updated
    by an arbitrary pandas function each micro-batch (score ←
    score·decay + batch_count), the engine's distributed replacement
    for the reference's driver-resident cross-batch matrix — over the
    SPLIT documents stream (``maxFilesPerTrigger=1`` over 3
    doc_id%3-keyed files), so the availableNow drain runs ≥2 real
    micro-batches and the oracle pins the TRUE cross-batch recurrence,
    not its single-batch collapse. Update mode emits one row per
    (token, updating batch) into the memory sink; the final state per
    token is the row with the highest ``total_count`` (strictly
    increasing per update), folded with ``max_by``. Decay 0.9 over ≤3
    batches keeps every true score an exact multiple of 0.01, so the
    round-6 comparison against the SQL recurrence cannot flap.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.streaming.sources import (
        stream_documents_batched,
    )
    from big_data_trend_analysis_spark.streaming.stateful import (
        decayed_token_scores,
        tokens_from_text_stream,
    )

    updates = drain_available_now(
        decayed_token_scores(
            tokens_from_text_stream(stream_documents_batched(spark, sf_dir))
        ),
        "update",
    ).table
    return (
        updates.groupBy("token")
        .agg(
            F.round(F.max_by("decayed_score", "total_count"), 6).alias(
                "decayed_score"
            ),
            F.max("total_count").alias("total_count"),
        )
    )


def _stateful_decay_live_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship stateful drain on the Spark 4 state stack (VERDICT r6 #3).

    ``stateful_decay_live`` — the same SPLIT-stream multi-batch drain,
    ``applyInPandasWithState`` recurrence and token-recurrence oracle —
    on the **RocksDB state store provider**: disk-backed keyed state
    that scales past executor heap, the 100 TB posture for billions of
    live keys (the HDFS-backed default keeps every key on-heap). The
    provider is set on the query's own child session.
    """
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    return _stateful_decay_live(spark, sf_dir)


def _running_counts_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative cross-batch state through the real streaming path.

    Drains ``running_keyword_counts`` (the engine's exact, distributed
    replacement for the reference's driver-resident cross-batch CMS
    matrix, cms_stream.py:69,94-97) over the SPLIT documents stream
    (``maxFilesPerTrigger=1`` over 3 files ⇒ ≥2 real micro-batches)
    with an availableNow trigger into a complete-mode memory sink. The
    oracle is the plain batch token-frequency SQL — pinning that
    streaming groupBy state accumulates ACROSS micro-batches to
    exactly the batch answer.
    """
    from big_data_trend_analysis_spark.streaming.jobs import running_keyword_counts
    from big_data_trend_analysis_spark.streaming.sources import (
        stream_documents_batched,
    )

    return drain_available_now(
        running_keyword_counts(stream_documents_batched(spark, sf_dir)), "complete"
    ).table


def _stream_topk_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending-topics leaderboard through the real path:
    windowed per-type counts maintained as complete-mode state across
    ≥2 REAL micro-batches (the event_id % 3 split), top-3 ranked at
    read time on the drained state table — the serve-side shape of a
    streaming leaderboard. The oracle is the plain batch windowed
    count + rank, pinning that streaming state accumulated across
    batches to exactly the batch answer before ranking.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as _W

    from big_data_trend_analysis_spark.streaming.jobs import (
        trending_topk_counts,
    )
    from big_data_trend_analysis_spark.streaming.sources import (
        stream_events_batched,
    )

    counts = drain_available_now(
        trending_topk_counts(stream_events_batched(spark, sf_dir)), "complete"
    ).table
    w = _W.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


def _stream_restart_recovery_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint kill-and-resume recovery — the exactly-once property
    every other ``*_live`` gate left unproven (VERDICT r9 #1: they all
    drain inside ONE query instance; the reference's own defect is no
    checkpointLocation at all, processing/spark_stream.py:50-55).

    Phase 1 starts a keyed streaming aggregation over a file source
    directory containing ONLY batch0 of the event_id % 3 split, drains
    it availableNow, and STOPS the query. The remaining two batch
    files are then added and a NEW query instance (fresh runId, fresh
    memory sink) starts on the SAME checkpointLocation: the file
    source's commit log must skip batch0's file and the state store
    must restore batch0's per-key counts — the final complete-mode
    state equals the plain batch aggregate over ALL events only if
    BOTH recoveries worked (a fresh-state restart loses batch0's
    contribution; a re-read double-counts it — each breaks the oracle
    hash).

    Recovery metadata is pinned alongside the values: the resumed
    instance keeps the checkpoint's query id, gets a new runId, and
    its first micro-batch CONTINUES the batch numbering (min batchId
    ≥ 1 — batch 0 is never re-executed). Value sums fold through
    decimal(18,6) (the ``standardize_features`` discipline) so both
    engines agree bit-for-bit.
    """
    import shutil

    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.streaming.sources import (
        EVENT_STREAM_BATCHES,
        _split_dir,
    )

    split_dir = _split_dir(sf_dir, "events", "event_id", EVENT_STREAM_BATCHES)
    work = tempfile.mkdtemp(prefix="bdta_restart_")
    ckpt = os.path.join(work, "ckpt")
    src = os.path.join(work, "src")
    os.makedirs(src, exist_ok=True)
    ddl = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )

    def _agg_stream() -> DataFrame:
        ev = (
            spark.readStream.schema(ddl)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "batch*.parquet")
            .parquet(src)
        )
        vd = F.round("value", 6).cast("decimal(18,6)")
        return ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(vd).alias("sum_dec"),
        )

    try:
        shutil.copy(os.path.join(split_dir, "batch0.parquet"), src)
        _, progress1 = drain_available_now(
            _agg_stream(), "complete", checkpoint_dir=ckpt
        )
        for b in range(1, EVENT_STREAM_BATCHES):
            shutil.copy(os.path.join(split_dir, f"batch{b}.parquet"), src)
        table, progress2 = drain_available_now(
            _agg_stream(), "complete", checkpoint_dir=ckpt
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    run1, run2 = progress1[-1], progress2[-1]
    batches2 = [int(p["batchId"]) for p in progress2]
    scal = spark.createDataFrame(
        [
            (
                run1["id"] == run2["id"],
                run1["runId"] != run2["runId"],
                min(batches2) >= 1,
            )
        ],
        "same_query_id boolean, new_run_id boolean, resumed_numbering boolean",
    )
    return (
        table.select(
            "event_type",
            "n_events",
            F.col("sum_dec").cast("double").alias("sum_value"),
        )
        .crossJoin(F.broadcast(scal))
    )


def _isotonic_daily_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic PAVA fit, hash-verified via the minimax identity.

    Projects (event_type, day, y, fit) from the PAVA operator — the
    fit values admit an exact SQL replay through fit_i = max_{j≤i}
    min_{k≥i} avg(y[j..k]) (prefix-sum arithmetic, O(n³) pairs per
    series over the fixture's bounded 30-day calendar), so the
    sequential pooling is gated by a full hash oracle rather than the
    rows-only + planted-twin fallback. Block bookkeeping (block_id,
    n_blocks) stays in the library function under pytest: equal-mean
    adjacent blocks are a pooling-order artifact no closed formula
    recovers.
    """
    from big_data_trend_analysis_spark.operators.trend import (
        isotonic_daily_fit,
    )

    events = load_table(spark, sf_dir, "events")
    return isotonic_daily_fit(events).select(
        "event_type", "day", "y", "fit"
    )


def _stream_rate_limited_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maxFilesPerTrigger backpressure accounting pinned through a real
    multi-batch drain (ROADMAP frontier #4 — the last unpinned
    streaming-ops property: every other ``*_live`` gate ASSUMES the
    one-file-per-trigger admission it was built on; this one proves it).

    All three event_id % 3 split files sit in the source directory
    BEFORE the query starts; ``maxFilesPerTrigger=1`` under an
    availableNow trigger must then admit exactly one file per
    micro-batch. The per-batch admission ledger comes from the query's
    own progress telemetry (numInputRows per batchId) and is pinned
    against the oracle's per-residue counts: (a) the number of
    data-carrying micro-batches equals the file count — two files
    admitted in one trigger collapses a batch; (b) the multiset of
    per-batch input-row counts equals the multiset of per-file row
    counts — any coalesced admission would emit a summed count no
    residue slice has; (c) the complete-mode keyed state after the
    drain equals the plain batch aggregate — rate limiting must not
    lose or double rows. Emits one row per micro-batch, rows-ranked,
    with the batch-count flag and final-state scalars repeated.

    At 100 TB this is the knob that keeps a backlogged file source
    from admitting the whole backlog into one monster micro-batch;
    the gate pins the admission contract the capacity planning
    relies on.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.streaming.sources import (
        EVENT_STREAM_BATCHES,
        _split_dir,
    )

    split_dir = _split_dir(sf_dir, "events", "event_id", EVENT_STREAM_BATCHES)
    ddl = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    ev = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "batch*.parquet")
        .parquet(split_dir)
    )
    table, progress = drain_available_now(
        ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events")),
        "complete",
    )
    data_batches = sorted(
        p["numInputRows"] for p in progress if p["numInputRows"] > 0
    )
    ledger = spark.createDataFrame(
        [
            (i + 1, n, len(data_batches))
            for i, n in enumerate(data_batches)
        ],
        "batch_rank int, batch_rows long, n_batches int",
    )
    state = table.agg(
        F.count(F.lit(1)).alias("n_state_types"),
        F.sum("n_events").cast("long").alias("state_total_rows"),
    )
    return ledger.select(
        "batch_rank",
        "batch_rows",
        "n_batches",
        (F.col("n_batches") == EVENT_STREAM_BATCHES).alias(
            "one_file_per_trigger"
        ),
    ).crossJoin(F.broadcast(state))


def _dpp_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning proven in-gate — the fourth optimizer
    proof beside ``runtime_filter_join`` (bloom), ``aqe_skew_join_check``
    and ``cbo_reorder_check``.

    The 100 TB partitioned-fact saver: when a day-partitioned fact
    joins a SELECTIVE dimension on the partition column, Catalyst
    plans a ``dynamicpruningexpression`` into the fact scan's
    PartitionFilters — partitions for days the dim filter killed are
    never read, decided at RUNTIME from the dim's actual rows (the
    static twin is ``file_skipping_check``'s literal pruning). The
    gate writes the events fixture day-partitioned, derives a Mondays
    dimension from the same fixture, joins on the partition column,
    and pins BOTH the plan artifact (``dpp_planned``) and the pruned
    aggregate against the oracle's recomputation from raw events.
    """
    from pyspark.sql import functions as F

    root = os.path.join(_call_dir("dpp"), "fact")
    events = load_table(spark, sf_dir, "events")
    events.withColumn(
        "day", F.to_date(F.date_trunc("DAY", "ts"))
    ).write.partitionBy("day").parquet(root)

    fact = spark.read.parquet(root)
    mondays = (
        events.select(
            F.to_date(F.date_trunc("DAY", "ts")).alias("day")
        )
        .distinct()
        .filter(F.dayofweek("day") == 2)
    )
    agg = (
        fact.join(F.broadcast(mondays), "day")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").alias("sum_id"),
        )
    )
    plan = agg._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    return agg.withColumn(
        "dpp_planned", F.lit("dynamicpruning" in plan.lower())
    )


def _recursive_cte_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (SQL:1999 ``WITH RECURSIVE``, new in Spark 4)
    proven on a real iterative computation: bounded-depth BFS over
    the event-type transition graph.

    The edge relation is derived in-plan (the ``event_transitions``
    lag shape, distinct, self-loops cut); the recursive member walks
    it from the 'view' source, bounded by the hop predicate — Spark's
    recursive CTEs are UNION ALL semantics, so cycles MUST be cut by
    the recursive term, which the depth bound does. Emits per-node
    min-hop distance and the bounded-walk count. Scale posture: the
    recursion iterates over the O(types²) edge relation — node-graph-
    sized state, never corpus-sized; the corpus is touched exactly
    once to derive edges. DuckDB runs the IDENTICAL statement (its
    WITH RECURSIVE has the same UNION ALL semantics), so this is the
    rare gate whose Spark and oracle texts coincide.
    """
    return spark.sql(_SQL_RCTE, events=load_table(spark, sf_dir, "events"))


_SQL_RCTE = """
    WITH RECURSIVE edges AS (
        SELECT DISTINCT src, dst FROM (
            SELECT lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS src,
                   event_type AS dst
            FROM {events}
        ) WHERE src IS NOT NULL AND src <> dst
    ),
    reach(node, hop) AS (
        SELECT 'view' AS node, 0 AS hop
        UNION ALL
        SELECT e.dst, r.hop + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.hop < 3
    )
    SELECT node, MIN(hop) AS min_hops, COUNT(*) AS n_walks
    FROM reach GROUP BY node
"""


def _sql_udf_tvf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined functions (Spark 4 ``CREATE FUNCTION ... RETURN``):
    a scalar UDF and a table-valued UDF exercised in one query.

    The declarative extensibility tier between built-ins and Python
    UDFs: both functions are SQL bodies, so Catalyst INLINES them —
    the plan is identical to hand-written expressions (whole-stage
    codegen, pushdown intact), unlike the Arrow/pickle boundary every
    Python UDF pays. The TVF runs row-expanding in a correlated
    LATERAL join (the §2.4 UDTF shape without leaving the JVM). All
    arithmetic stays in exact decimals so the oracle — the same
    bodies inlined by hand — matches bit-for-bit.
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION bdta_disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN CAST(CAST(p AS DECIMAL(12,2)) "
        "* (CAST('1.00' AS DECIMAL(3,2)) - CAST(d AS DECIMAL(4,2))) AS DOUBLE)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION bdta_price_parts(p DOUBLE, d DOUBLE) "
        "RETURNS TABLE(part STRING, amt DOUBLE) RETURN "
        "SELECT 'gross', p UNION ALL SELECT 'discount', "
        "CAST(CAST(p AS DECIMAL(12,2)) * CAST(d AS DECIMAL(4,2)) AS DOUBLE)"
    )
    return spark.sql("""
        SELECT l_returnflag, part,
               CAST(SUM(CAST(amt AS DECIMAL(16,4))) AS DOUBLE) AS sum_amt,
               CAST(SUM(CAST(bdta_disc_price(l_extendedprice, l_discount)
                             AS DECIMAL(16,4))) AS DOUBLE) AS sum_disc_price,
               COUNT(*) AS n_rows
        FROM {lineitem},
             LATERAL bdta_price_parts(l_extendedprice, l_discount)
        WHERE l_quantity < 10
        GROUP BY l_returnflag, part
    """, lineitem=load_table(spark, sf_dir, "lineitem"))


def _url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization gate (functions/text.py::url_normalize) —
    the normalization every crawl pipeline applies before URL-level
    dedup. The fixture has no URL column, so each document is seeded
    a deterministically messy URL (uppercase scheme/host, default
    :443 port, utm_*/ref tracking params, fragment); normalization
    must lowercase scheme+host, drop the port (parse_url's HOST is
    port-free), strip the trackers, keep the payload param, and drop
    the fragment. The oracle is the GENERAL regex twin, not the
    seeded shape inverted — so it also pins Spark's parse_url
    semantics against plain RFC-3986 component extraction.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.text import url_normalize

    docs = load_table(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://Src"),
            F.pmod("doc_id", F.lit(7)).cast("string"),
            F.lit(".Example.COM:443/Docs/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=feed&id="),
            F.col("doc_id").cast("string"),
            F.lit("&ref=x#frag"),
        ).alias("url"),
    )
    return urls.select(
        "doc_id",
        "url",
        F.lower(F.parse_url(F.col("url"), F.lit("HOST"))).alias("host"),
        url_normalize(F.col("url")).alias("url_norm"),
    )


def _boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate-line removal gate
    (textstats.boilerplate_lines — the CCNet/RefinedWeb step).

    The fixture's documents are single-line, so the gate PLANTS the
    boilerplate (the mask_pii seeding discipline): every document is
    wrapped header + text + per-doc unique line + footer. The
    header/footer repeat corpus-wide (df = N ≫ max_df) and must be
    stripped from every document; the original text and the unique
    line must survive IN ORDER. The oracle is the fully general SQL
    twin (per-line document frequencies recomputed, order-preserving
    reassembly) — no fixture-shape assumptions, so exact-duplicate
    documents crossing the df cut at another SF stay consistent.
    """
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("PLEASE ACCEPT COOKIES TO CONTINUE"),
            F.col("text"),
            F.concat(F.lit("unique-"), F.col("doc_id")),
            F.lit("SUBSCRIBE TO OUR NEWSLETTER"),
        ).alias("text"),
    )
    return textstats.boilerplate_lines(seeded, max_df=3)


def _containment_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (quotation) dedup gate: every 5th document is
    quoted — a synthetic doc holding its first 12 words plus a unique
    tail token — and union'd into the corpus. ``containment_dedup``
    must surface the quote→source pairs (quote shingles ⊂ source
    shingles except the tail-grams) that Jaccard-style symmetric
    dedup scores near zero. The oracle replays the ENTIRE algorithm —
    seeding, shingling, df pruning, candidate floor, exact
    intersections — so a pruning change, an asymmetry flip (the
    contained side must be the denominator), or a ratio drift each
    breaks the hash.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    quotes = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 12)),
            F.lit(" qtail"),
            F.col("doc_id"),
        ).alias("text"),
    )
    return dedup.containment_dedup(docs.unionByName(quotes))


def _incremental_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup gate: the corpus splits into an archive
    (doc_id % 5 != 0) and an incoming batch (the % 5 == 0 docs plus
    PLANTED collisions — a verbatim copy of every archive doc with
    doc_id % 7 == 1 and a one-word-appended near-copy of every
    archive doc with doc_id % 7 == 3). The planted copies pin both
    drop paths deterministically at every SF (the fixture has ~no
    natural exact dups below sf0.1); the oracle replays the whole
    algorithm — fingerprint first-wins, combined-corpus df pruning,
    batch×archive candidate join, exact Jaccard — so decisions AND
    match ids must agree row for row.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    archive = docs.filter(F.col("doc_id") % 5 != 0)
    exact_plants = archive.filter(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    near_plants = archive.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xx"), F.col("doc_id")).alias("text"),
    )
    batch = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .unionByName(exact_plants)
        .unionByName(near_plants)
    )
    return dedup.incremental_dedup(archive, batch)


def _mask_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-redaction gate (functions/text.py::mask_pii).

    Every document's text is seeded with one instance of each PII
    shape — the SSN digits vary with doc_id so redaction is exercised
    per-row (a constant suffix would let one lucky match green the
    gate) — then the typed-placeholder mask runs. Scan-speed JVM
    ``regexp_replace`` chain; the DuckDB twin runs the identical
    patterns with the 'g' flag, so the gate also pins Java-regex ↔ RE2
    dialect agreement on these patterns over real corpus text.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.text import mask_pii

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" ssn "),
            F.lpad(F.pmod("doc_id", F.lit(1000)).cast("string"), 3, "0"),
            F.lit(
                "-45-6789 card 4111 1111 1111 1111"
                " call (415) 555-0133 ip 192.168.1.77"
            ),
        ).alias("raw"),
    )
    return seeded.select("doc_id", mask_pii(F.col("raw")).alias("redacted"))


def _lang_id_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class language-ID gate (functions/text.py::lang_id_multi):
    per-document argmax over the four stopword profiles with the
    pinned alphabetical tie-break and 'other' threshold — all
    row-local higher-order expressions, hash-checked per document."""
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.text import lang_id_multi

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_multi(F.col("text")).alias("lang_pred"))


def _split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic three-way split gate: per-document assignment is
    hash-checked (the md5-bucket expression is engine-portable, so the
    oracle recomputes the EXACT membership — the audit a frozen eval
    set needs). Shuffle-free: one row-local expression."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.split_train_val_test(docs).select("doc_id", "split")


def _kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL rollup gate: k=65535 keeps every fixture value retained, so
    the sketch answers are EXACT ceiling-rank order statistics the
    oracle recomputes (estimation-mode accuracy is gated separately by
    ``kll_rollup_check``). Per-group sketches merge to the __total__
    row without re-scanning — the mergeability contract itself."""
    return aggregates.kll_quantile_rollup(
        load_table(spark, sf_dir, "lineitem"), k=65535
    )


#: Derived part-supplier relation shared by the five TPC-H queries the
#: fixture's missing ``partsupp`` table would otherwise block (Q2 / Q9 /
#: Q11 / Q16 / Q20 — reference archetypes per SURVEY §2.3): supply cost
#: is the MIN line price observed for the (part, supplier) pair — an
#: exact DECIMAL, never a double division whose last bit could flip a
#: boundary row — and availqty is the pair's exact quantity sum.
_SQL_PS = """
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_supplycost,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2))
                   AS ps_availqty
        FROM {lineitem}
        GROUP BY l_partkey, l_suppkey
"""

#: TPC-H Q2 (minimum-cost supplier), adapted: the p_type LIKE '%BRASS'
#: cut has no fixture analogue (types are single words), so the part
#: cut is p_size = 15 alone; the region scope and the correlated
#: min-cost subquery — the archetype — are intact.
#: Q2 body references ``ps`` twice (outer join tree + the correlated
#: MIN subquery). Split from the WITH prefix so the Spark wrapper can
#: bind a PERSISTED ps relation as ``{ps}`` (per-branch column pruning
#: differentiates the two CTE expansions' exchanges, so Catalyst's
#: ReuseExchange never collapses them and the lineitem aggregation ran
#: twice — round-13, guide §2.4; the oracle keeps the single WITH
#: string with ``{ps}`` naming the CTE, same relation by construction).
_SQL_Q2_BODY = """
    SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
           p_partkey, p_brand, CAST(ps_supplycost AS DOUBLE) AS supplycost
    FROM {part}
    JOIN {ps} ON p_partkey = ps_partkey
    JOIN {supplier} ON s_suppkey = ps_suppkey
    JOIN {nation} ON s_nationkey = n_nationkey
    JOIN {region} ON n_regionkey = r_regionkey
    WHERE p_size = 15 AND r_name = 'EUROPE'
      AND ps_supplycost = (
          SELECT MIN(ps2.ps_supplycost)
          FROM {ps} ps2
          JOIN {supplier} s2 ON s2.s_suppkey = ps2.ps_suppkey
          JOIN {nation} n2 ON s2.s_nationkey = n2.n_nationkey
          JOIN {region} r2 ON n2.n_regionkey = r2.r_regionkey
          WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
"""

_SQL_Q2 = "WITH ps AS (" + _SQL_PS + ")" + _SQL_Q2_BODY


def _sql_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #13: TPC-H Q2 — correlated MIN subquery over a
    derived relation.

    Catalyst decorrelates the per-part regional minimum into an
    aggregate-then-join on ps_partkey (one pass over the ps relation,
    never a re-scan per outer row); the ps CTE itself is one
    map-side-combining aggregation of lineitem. Region/nation dims
    broadcast into both the outer and the subquery join trees. The
    cost compare is DECIMAL = DECIMAL — exact on both engines.

    The ps relation is PERSISTED and bound as ``{ps}`` (round-13):
    the outer tree and the decorrelated subquery prune ps differently,
    so ReuseExchange never fired and the lineitem aggregation ran
    twice (18 parquet scans in the before plan). ps is
    |parts × suppliers|-bounded — orders of magnitude below the fact
    at any scale.
    """
    tables = _tables(spark, sf_dir, "lineitem", "part", "supplier", "nation", "region")
    ps = _cached_view(
        scope.materialize(spark.sql(_SQL_PS, lineitem=tables.pop("lineitem")))
    )
    return spark.sql(_SQL_Q2_BODY.replace("{ps}", ps), **tables)


#: TPC-H Q9 (product-type profit), adapted: p_name LIKE '%green%'
#: becomes '%red%' (fixture names are "<adj> <noun>"), and profit is
#: revenue minus the pair's supply cost per line (the fixture's
#: extendedprice is a line total, so the real Q9's cost·quantity term
#: would double-scale) — the join tree and year rollup are intact.
_SQL_Q9 = (
    "WITH ps AS (" + _SQL_PS + ")"
    + """
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST('1.00' AS DECIMAL(3,2))
                       - CAST(l_discount AS DECIMAL(4,2)))
                    - ps_supplycost) AS DOUBLE) AS sum_profit
    FROM {lineitem}
    JOIN {orders} ON o_orderkey = l_orderkey
    JOIN {part} ON p_partkey = l_partkey
    JOIN {supplier} ON s_suppkey = l_suppkey
    JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    JOIN {nation} ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)
    ORDER BY nation, o_year DESC
"""
)


def _sql_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #14: TPC-H Q9 — the six-way join tree.

    The widest join in the suite: fact × orders × part × supplier ×
    derived-ps × nation. Part/supplier/nation broadcast; the ps
    relation joins on the same (partkey, suppkey) the fact already
    carries, so AQE plans it map-side after the first exchange. The
    profit expression folds in exact DECIMAL before one cast to
    double per (nation, year) group.
    """
    return spark.sql(
        _SQL_Q9,
        **_tables(
            spark,
            sf_dir,
            "lineitem", "orders", "part", "supplier", "nation",
        ),
    )


#: TPC-H Q11 (important stock), adapted: the nation scope is NATION_8
#: and the "fraction" threshold is share > 1/400 of the scoped total,
#: expressed multiplicatively (SUM·400 > total) so both engines compare
#: exact decimals.
#: Q11 splits like Q2: ``scoped`` is referenced by both the per-part
#: rollup and the HAVING scalar — the Spark wrapper persists it once
#: (round-13, guide §2.4); the oracle keeps the single WITH string with
#: ``{scoped}`` naming the CTE.
_SQL_Q11_SCOPED = (
    "WITH ps AS (" + _SQL_PS + ")"
    + """
    SELECT ps_partkey,
           CAST(ps_supplycost * ps_availqty AS DECIMAL(28,4)) AS val
    FROM ps
    JOIN {supplier} ON s_suppkey = ps_suppkey
    JOIN {nation} ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_8'
"""
)

_SQL_Q11_BODY = """
    SELECT ps_partkey, CAST(SUM(val) AS DOUBLE) AS value
    FROM {scoped}
    GROUP BY ps_partkey
    HAVING SUM(val) * 400 > (SELECT SUM(val) FROM {scoped})
    ORDER BY value DESC
"""

_SQL_Q11 = (
    "WITH scoped AS (" + _SQL_Q11_SCOPED + ")" + _SQL_Q11_BODY
)


def _sql_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #15: TPC-H Q11 — HAVING against a global scalar.

    The group filter references an uncorrelated aggregate of the SAME
    relation: the scalar (a one-row broadcast into the HAVING
    predicate) and the per-part rollup both read the scoped relation.
    The threshold compare is decimal·int vs decimal — exact, no double
    boundary.

    scoped is PERSISTED and bound as ``{scoped}`` (round-13): the two
    CTE expansions prune differently, so ReuseExchange never fired and
    the whole lineitem→ps→scoped pipeline ran twice (6 parquet scans
    in the before plan). scoped is |parts|-bounded.
    """
    scoped = _cached_view(
        scope.materialize(
            spark.sql(
                _SQL_Q11_SCOPED,
                **_tables(spark, sf_dir, "lineitem", "supplier", "nation"),
            )
        )
    )
    return spark.sql(_SQL_Q11_BODY.replace("{scoped}", scoped))


#: TPC-H Q16 (parts/supplier relationship), adapted: the excluded
#: "complaint" suppliers are those with negative account balance (the
#: fixture has no s_comment), the brand/type exclusions map to fixture
#: domains, and the size IN-list is Q16's own.
_SQL_Q16 = """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
          FROM {lineitem}) ps
    JOIN {part} ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND ps_suppkey NOT IN (
          SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def _sql_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #16: TPC-H Q16 — NOT IN anti-join + COUNT DISTINCT.

    The NOT IN over a non-nullable key plans as a left-anti join
    (never the null-aware nested loop — s_suppkey is non-null);
    the distinct-supplier count per (brand, type, size) expands
    partially map-side. The size IN-list and brand/type exclusions
    push to the part scan.
    """
    return spark.sql(_SQL_Q16, **_tables(spark, sf_dir, "lineitem", "part", "supplier"))


#: TPC-H Q20 (potential part promotion), adapted: "availqty" is the
#: pair's pre-1997 shipped quantity (the stock-on-hand proxy the
#: fixture supports) and the promotion year is 1997; the nested
#: semi-join chain with a doubly-correlated scalar subquery — the
#: archetype — is intact. p_name LIKE 'forest%' becomes 'small%'.
_SQL_Q20 = """
    WITH ps AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               SUM(CAST(l_quantity AS DECIMAL(12,2))) AS ps_availqty
        FROM {lineitem}
        WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_partkey, l_suppkey)
    SELECT s_name, s_suppkey
    FROM {supplier}
    JOIN {nation} ON s_nationkey = n_nationkey
    WHERE n_regionkey = (SELECT r_regionkey FROM {region}
                         WHERE r_name = 'ASIA')
      AND s_suppkey IN (
          SELECT ps_suppkey FROM ps
          WHERE ps_partkey IN (SELECT p_partkey FROM {part}
                               WHERE p_name LIKE 'small%')
            AND ps_availqty * 2 > (
                SELECT COALESCE(SUM(CAST(l_quantity AS DECIMAL(12,2))),
                                CAST('0.00' AS DECIMAL(12,2)))
                FROM {lineitem}
                WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'))
    ORDER BY s_name
"""


def _sql_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface #17: TPC-H Q20 — nested semi-joins with a
    doubly-correlated scalar subquery.

    Three nesting levels: region scalar → supplier IN (pair
    relation) → pair-correlated quantity sum. Catalyst decorrelates
    the innermost SUM into a (partkey, suppkey)-keyed aggregate
    joined to ps (never a per-pair rescan), the part name filter
    semi-joins ps, and the supplier IN becomes a left-semi. The
    stock-vs-shipments compare is decimal·2 vs decimal — exact.
    Completes the 22/22 TPC-H archetype sweep.
    """
    return spark.sql(
        _SQL_Q20,
        **_tables(
            spark,
            sf_dir,
            "lineitem", "part", "supplier", "nation", "region",
        ),
    )


def _window_group_limit_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-limit pushdown proven in-gate — the SEVENTH optimizer
    proof (runtime bloom / AQE skew / CBO reorder / DPP / AQE coalesce
    / AQE join switch / window-group-limit).

    The top-k-per-group query every dashboard runs — ``row_number()
    OVER (PARTITION BY g ORDER BY v) ≤ k`` — naively ranks the ENTIRE
    corpus before the filter throws 99.99% of it away. Spark 3.5+'s
    WindowGroupLimit rule pushes the limit INTO the window exec: each
    map task keeps a per-group top-k heap BEFORE the shuffle, so the
    exchange carries O(groups·k), not O(rows) — at 100 TB the
    difference between a leaderboard and a full sort. The gate pins
    the executed-plan artifact (``WindowGroupLimit``) alongside the
    exact top-3 rows (total order: price desc, then the (orderkey,
    linenumber) PK, so ties are deterministic on both engines).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as _W

    li = load_table(spark, sf_dir, "lineitem")
    w = _W.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    ranked = (
        li.select(
            "l_returnflag",
            "l_extendedprice",
            "l_orderkey",
            "l_linenumber",
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    marker = "WindowGroupLimit" in plan
    scal = spark.createDataFrame([(marker,)], "wgl_planned boolean")
    return ranked.crossJoin(F.broadcast(scal))


def _nested_prune_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-schema pruning proven in-gate — the EIGHTH optimizer
    proof: a struct column's UNTOUCHED fields must never reach the
    scan.

    The multimodal/lakehouse layout this engine pushes (typed metadata
    structs beside opaque blobs) only scales if selecting
    ``meta.a`` reads bytes for ``meta.a`` alone —
    ``spark.sql.optimizer.nestedSchemaPruning`` rewrites the scan
    schema to the referenced leaves. The gate writes the events
    fixture with a 3-field struct (one narrow field, one double, one
    wide JSON payload), reads back ONLY ``meta.a``, and pins the
    pruned ReadSchema artifact (exactly ``struct<meta:struct
    <a:string>>`` — the wide payload column is proof-by-absence)
    alongside the aggregate recomputed by the oracle from raw events.
    """
    import re as _re

    from pyspark.sql import functions as F

    root = os.path.join(_call_dir("nested"), "table")
    events = load_table(spark, sf_dir, "events")
    events.select(
        "event_id",
        F.struct(
            F.col("event_type").alias("a"),
            F.col("value").alias("b"),
            F.col("props").alias("c"),
        ).alias("meta"),
    ).write.parquet(root)
    agg = (
        spark.read.parquet(root)
        .select(F.col("meta.a").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    plan = agg._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    m = _re.search(r"ReadSchema: (struct<[^\n]*>)", plan)
    pruned = bool(m) and m.group(1) == "struct<meta:struct<a:string>>"
    scal = spark.createDataFrame([(pruned,)], "nested_pruned boolean")
    return agg.crossJoin(F.broadcast(scal))


def _aqe_coalesce_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE post-shuffle partition coalescing proven in-gate — the
    fifth optimizer proof (runtime bloom filter / AQE skew split /
    CBO reorder / DPP / coalesce).

    The inverse failure mode of skew: a 100 TB pipeline sized at
    ``spark.sql.shuffle.partitions`` for its biggest stage drags
    thousands of near-empty reducers through every SMALL stage —
    unless AQE merges contiguous post-shuffle partitions up to the
    advisory size at runtime. The gate aggregates the fixture under
    a 64 MB advisory with ``parallelismFirst`` off (the setting that
    otherwise keeps partitions at default parallelism — the knob's
    own scale lesson: leave it on and tiny stages still fan out),
    then pins BOTH the executed-plan artifact (``coalesced`` in the
    AQEShuffleRead) and the post-merge partition count (1 — fixture
    aggregate state is KBs) alongside oracle-recomputed values.
    """
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    agg = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").alias("sum_id"),
        )
    )
    rows = [(r.event_type, r.n_rows, r.sum_id) for r in agg.collect()]
    plan = agg._jdf.queryExecution().executedPlan().toString()
    plan_marker = "coalesced" in plan
    n_parts = agg.rdd.getNumPartitions()
    return spark.createDataFrame(
        [(*r, plan_marker, n_parts) for r in rows],
        "event_type string, n_rows long, sum_id long, "
        "coalesce_planned boolean, final_partitions int",
    )


def _txnlog_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta RESTORE semantics on the log-backed table: roll back to a
    prior version as a NEW commit (history stays immutable — audits
    and time travel keep the bad interval readable).

    Three data commits land (v0 = pre-cut slice, v1 = += even
    post-cut, v2 = += odd post-cut), then ``restore(1)`` publishes
    v3. Pinned: v3's content == v1's exactly (the rows v2 added are
    gone); the superseded v2 is STILL readable pinned by number (the
    audit contract); the restore is metadata-only add/remove deltas
    (no data files moved — asserted as restored-version readback, not
    file forensics, which the change feed covers: v3's CDF is exactly
    DELETEs of v2's rows); and a no-op restore (to the current
    version) raises. Oracle recomputes every slice from events
    arithmetic.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.operators.merge import SNAPSHOT_CUT
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(_call_dir("txnrestore"))

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    cut = F.lit(SNAPSHOT_CUT).cast("timestamp")
    pre = events.filter(F.col("ts") < cut)
    post = events.filter(F.col("ts") >= cut)
    log.write_commit(pre, n_files=2)
    log.write_commit(post.filter(F.col("event_id") % 2 == 0))
    log.write_commit(post.filter(F.col("event_id") % 2 == 1))
    restored_v = log.restore(1)

    def _snap(label: str, version: int) -> DataFrame:
        return (
            log.read_snapshot(spark, version)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("event_id").alias("sum_id"),
            )
            .select(
                F.lit(label).alias("label"),
                F.lit(version).alias("version"),
                "n_rows",
                "sum_id",
            )
        )

    cdc_deletes = (
        log.read_changes(spark, key_cols=["event_id"], from_version=restored_v, to_version=restored_v)
        .filter(F.col("_change_type") == "delete")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").alias("sum_id"),
        )
        .select(
            F.lit("restore_cdf_deletes").alias("label"),
            F.lit(restored_v).alias("version"),
            "n_rows",
            "sum_id",
        )
    )
    try:
        log.restore(log.latest_version())
        noop_raises = False
    except ValueError:
        noop_raises = True
    out = (
        _snap("latest_after_restore", restored_v)
        .unionByName(_snap("superseded_v2_still_reads", 2))
        .unionByName(cdc_deletes)
    )
    return out.withColumn("noop_restore_raises", F.lit(noop_raises))


def _txnlog_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta OPTIMIZE (bin-packing compaction) on the log-backed,
    hive-partitioned table — the maintenance op that keeps a 100 TB
    table's file count sane after streaming appends.

    Two partitioned commits land (pre-cut and post-cut slices, each
    one file per event_type = 10 small files), then ``compact(1)``
    rewrites every 2-file partition group into one file WITHIN its
    partition value (never across — manifest-side pruning must keep
    working). Pinned: data identical after compaction (total and a
    partition-pruned read), file counts 10 → 5, the pre-compaction
    version still reads its own 10-file list, and a second compact
    is a no-op (version -1, nothing rewritten). Oracle recomputes
    all slices from events arithmetic.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.operators.merge import SNAPSHOT_CUT
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(_call_dir("txncompact"))

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    cut = F.lit(SNAPSHOT_CUT).cast("timestamp")
    log.write_commit(
        events.filter(F.col("ts") < cut), partition_by=["event_type"]
    )
    log.write_commit(
        events.filter(F.col("ts") >= cut), partition_by=["event_type"]
    )
    stats = log.compact(spark, target_files=1)
    again = log.compact(spark, target_files=1)

    def _agg(label: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").alias("sum_id"),
        ).select(F.lit(label).alias("label"), "n_rows", "sum_id")

    out = (
        _agg("compacted_total", log.read_snapshot(spark))
        .unionByName(
            _agg(
                "compacted_purchase_pruned",
                log.read_snapshot(
                    spark, partition_filter={"event_type": "purchase"}
                ).filter(F.col("event_type") == "purchase"),
            )
        )
        .unionByName(
            _agg("pre_compaction_v1_total", log.read_snapshot(spark, 1))
        )
    )
    return (
        out.withColumn("files_before", F.lit(stats["files_before"]))
        .withColumn("files_after", F.lit(stats["files_after"]))
        .withColumn("files_rewritten", F.lit(stats["files_rewritten"]))
        .withColumn("recompact_noop", F.lit(again["version"] == -1))
    )


def _aqe_join_switch_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime join-strategy switch proven in-gate — the SIXTH
    optimizer proof (runtime bloom / AQE skew / CBO reorder / DPP /
    coalesce / join switch).

    The planner cannot statically see that a filtered build side is
    tiny (no CBO stats: a filter's size estimate is its child's), so
    with static broadcast OFF it plans a sort-merge join; after the
    build side's shuffle ACTUALLY materializes a few KB, AQE's
    OptimizeJoinStrategy rule rewrites the remaining stages to a
    broadcast join — the mechanism that saves every selective-dim
    join a 100 TB plan mis-estimates. The gate runs signup-user
    purchase attribution under that conf split and pins BOTH plan
    artifacts (initial SortMergeJoin, executed BroadcastHashJoin)
    beside oracle-recomputed values.
    """
    from pyspark.sql import functions as F

    confs = {
        # static broadcast off; AQE's runtime threshold stays on
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "10MB",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    events = load_table(spark, sf_dir, "events")
    signups = (
        events.filter(F.col("event_type") == "signup")
        .select("user_id")
        .distinct()
    )
    purchases = events.filter(F.col("event_type") == "purchase")
    agg = purchases.join(signups, "user_id").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("sum_id"),
    )
    rows = [(r.n_users, r.n_rows, r.sum_id) for r in agg.collect()]
    qe = agg._jdf.queryExecution()
    initial_smj = "SortMergeJoin" in qe.sparkPlan().toString()
    runtime_bhj = "BroadcastHashJoin" in qe.executedPlan().toString()
    return spark.createDataFrame(
        [(*r, initial_smj, runtime_bhj) for r in rows],
        "n_users long, n_rows long, sum_id long, "
        "initial_smj boolean, runtime_bhj boolean",
    )


def _shuffle_reuse_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange reuse proven in-gate — the TENTH optimizer proof
    (runtime bloom / AQE skew / CBO reorder / DPP / coalesce / join
    switch / WindowGroupLimit / nested prune / bloom skipping).

    A query that references the same grouped relation twice (here a
    per-type rollup self-joined on the group key — the shape of every
    "compare each group against the same rollup" readout) must NOT
    scan and shuffle the fact table twice: Catalyst canonicalizes the
    two identical Exchange subtrees and the ReuseExchange rule (and
    AQE's stage-level twin) replaces the second with a
    ``ReusedExchange``/``ReusedQueryStage`` pointer at the first's
    materialized output. At 100 TB that is one fact-table shuffle
    instead of two — the whole cost model of CTE-heavy dashboards.
    Static broadcast is forced off so BOTH join children keep their
    hash-partitioned Exchange (a broadcast side would change the
    second subtree's shape and hide the reuse). The gate pins the
    plan artifact beside oracle-recomputed aggregates.
    """
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.exchange.reuse": "true",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    agg = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").alias("sum_id"),
        )
    )
    # BOTH sides must consume the full aggregate output: prune one
    # column from either side and Catalyst rewrites that subtree's
    # aggregate, the canonicalized Exchanges stop matching, and
    # the reuse disappears (column pruning beats exchange reuse in
    # rule order) — so the probe doubles every measure.
    joined = (
        agg.alias("a")
        .join(agg.alias("b"), "event_type")
        .select(
            "event_type",
            F.col("a.n_rows").alias("n_rows"),
            F.col("a.sum_id").alias("sum_id"),
            (F.col("a.n_rows") + F.col("b.n_rows")).alias(
                "n_rows_doubled"
            ),
            (F.col("a.sum_id") + F.col("b.sum_id")).alias(
                "sum_id_doubled"
            ),
        )
    )
    rows = [
        (
            r.event_type,
            r.n_rows,
            r.sum_id,
            r.n_rows_doubled,
            r.sum_id_doubled,
        )
        for r in joined.collect()
    ]
    plan = joined._jdf.queryExecution().executedPlan().toString()
    reused = ("ReusedExchange" in plan) or ("ReusedQueryStage" in plan)
    return spark.createDataFrame(
        [(*r, reused) for r in rows],
        "event_type string, n_rows long, sum_id long, "
        "n_rows_doubled long, sum_id_doubled long, "
        "reuse_planned boolean",
    )


def _txnlog_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-side zone-map pruning (Iceberg column-stats file
    skipping) on the log-backed table.

    Four quartile-sliced commits land (file i covers event_id ∈
    [i·m/4, (i+1)·m/4), one file each), each recording its footer
    MIN/MAX for event_id in the manifest
    (``write_commit(collect_stats=...)`` — the stats are read from
    the parquet footers the write already paid for, never a second
    data scan). A ``range_filter`` read for event_id < m/2 must then
    plan exactly the 2 covering files — decided from the MANIFEST,
    before Spark ever lists or opens a file — and a range filter on
    a column WITHOUT recorded stats must conservatively keep all 4
    (the superset guarantee: pruning may only shrink the scan).
    Values are pinned by the oracle's own m = MAX(event_id)
    arithmetic over raw events.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(_call_dir("txnstats"))

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    m = events.agg(F.max("event_id")).collect()[0][0] + 1
    for i in range(4):
        log.write_commit(
            events.filter(
                (F.col("event_id") >= i * m // 4)
                & (F.col("event_id") < (i + 1) * m // 4)
            ),
            collect_stats=["event_id"],
        )
    cutoff = m // 2 - 1  # inclusive hi bound: event_id <= cutoff
    pruned_files = log.snapshot_files(range_filter={"event_id": (None, cutoff)})
    no_stats_files = log.snapshot_files(range_filter={"value": (0.0, 1.0)})
    agg = (
        log.read_snapshot(spark, range_filter={"event_id": (None, cutoff)})
        .filter(F.col("event_id") <= cutoff)  # row-level predicate stays
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").alias("sum_id"),
        )
    )
    return agg.select(
        "n_rows",
        "sum_id",
        F.lit(len(pruned_files)).alias("files_scanned"),
        F.lit(len(log.snapshot_files())).alias("files_total"),
        F.lit(len(no_stats_files)).alias("files_kept_without_stats"),
    )


def _txnlog_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter file skipping (the Parquet column-bloom / Delta
    bloom-index mechanic) — the EQUALITY-probe companion to
    ``txnlog_stats_skipping``'s zone maps, via the ``sources/bloom``
    sidecar index.

    Four commits land, one file each, bucketed BY EVENT TYPE — so
    every file's event_id [min, max] spans nearly the whole id range
    (ids interleave across types) and the zone map CANNOT prune an
    equality probe on event_type, while the bloom sidecar prunes it
    to exactly the one file whose bucket holds the probed type. The
    gate pins all three behaviors: the zone-map range probe over the
    purchase rows' own id span keeps all 4 files (stats recorded,
    provably overlapping), the bloom probe for 'purchase' plans
    exactly 1, and a probe for a value absent everywhere ('refund')
    plans 0 — with the pruned read's row count and value sum matching
    the oracle's full-table arithmetic (the superset guarantee made
    measurable).
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.sources.bloom import (
        bloom_prune_files,
        write_bloom_sidecar,
    )
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(_call_dir("txnbloom"))

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    buckets = [("click",), ("error",), ("purchase",), ("signup", "view")]
    for types in buckets:
        log.write_commit(
            events.filter(F.col("event_type").isin(*types)),
            collect_stats=["event_id"],
        )
    write_bloom_sidecar(spark, log, ["event_type"])

    bloom_files = bloom_prune_files(log, {"event_type": "purchase"})
    absent_files = bloom_prune_files(log, {"event_type": "refund"})
    span = (
        events.filter(F.col("event_type") == "purchase")
        .agg(F.min("event_id"), F.max("event_id"))
        .collect()[0]
    )
    zonemap_files = log.snapshot_files(
        range_filter={"event_id": (span[0], span[1])}
    )
    agg = (
        spark.read.parquet(*bloom_files)
        .filter(F.col("event_type") == "purchase")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    return agg.select(
        "n_rows",
        "sum_value",
        F.lit(len(log.snapshot_files())).alias("files_total"),
        F.lit(len(bloom_files)).alias("files_bloom_scanned"),
        F.lit(len(zonemap_files)).alias("files_zonemap_kept"),
        F.lit(len(absent_files)).alias("files_absent_probe"),
    )


def _txnlog_history_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ``DESCRIBE HISTORY`` analog: the log introspected as a
    DataFrame — version, stamp, file counts, add/remove deltas,
    partition spec, and whether the commit evolved the schema.

    Three deterministic commits land: v0 = pre-cut slice in 2 files
    @ Jan 1, v1 = post-cut slice carrying a new ``day`` column
    (schema evolution) @ Jan 2, v2 = a pure-metadata partition-spec
    change @ Jan 3. The history rows are pinned literally — the
    table-owner audit (what changed, when, by how many files) must
    read straight off the manifests with zero data I/O.
    """
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.operators.merge import SNAPSHOT_CUT
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    log = TxnLog(_call_dir("txnhist"))

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    cut = F.lit(SNAPSHOT_CUT).cast("timestamp")
    log.write_commit(
        events.filter(F.col("ts") < cut),
        n_files=2,
        committed_at="2024-01-01T00:00:00",
    )
    log.write_commit(
        events.filter(F.col("ts") >= cut).withColumn(
            "day", F.to_date(F.date_trunc("DAY", "ts"))
        ),
        committed_at="2024-01-02T00:00:00",
    )
    log.commit(
        add=[],
        remove=[],
        partition_spec=["event_type"],
        committed_at="2024-01-03T00:00:00",
    )
    return log.history(spark)


def _in_child_sessions(bodies: dict[str, QueryFn]) -> dict[str, QueryFn]:
    """Make each query body run on a new child session of the caller's,
    recording what it makes in a call scope.

    ``spark.newSession()`` shares the SparkContext and the table cache
    but has its own SQLConf, temp views and UDF registry, so the confs,
    views, UDFs and memory-sink tables a body creates stay on the child:
    the caller's session, and any query running beside it on the same
    session, never see them. ``tune_session`` is looked up at call time,
    so a patched module attribute takes effect.

    The scope (``scope.CallScope``) records the temp dirs, tables and
    caches the body makes. Called from ``run``, the body records into
    ``run``'s scope, which releases them; called directly, the lazy
    DataFrame keeps them until interpreter exit.
    """

    def isolate(body: QueryFn) -> QueryFn:
        def call(spark: SparkSession, sf_dir: str) -> DataFrame:
            child = tune_session(spark.newSession())
            if scope.current() is not None:
                return body(child, sf_dir)
            with scope.opened() as made:
                try:
                    return body(child, sf_dir)
                finally:
                    _keep_until_exit(made)

        return call

    return {name: isolate(body) for name, body in bodies.items()}


def run(
    name: str, spark: SparkSession, sf_dir: str
) -> tuple[list[str], list[tuple]]:
    """Run ``QUERIES[name]`` to completion and release what it made.

    Returns ``(columns, rows)``. Once the rows are collected (or the
    call fails) the call's temp dirs are removed, its tables and Derby
    databases dropped, its cached relations unpersisted and its
    checkpoints freed, so a long-lived caller accumulates nothing.
    """
    with scope.opened() as made:
        try:
            df = QUERIES[name](spark, sf_dir)
            return df.columns, [tuple(r) for r in df.collect()]
        finally:
            made.release()


QUERIES: dict[str, QueryFn] = _in_child_sessions({
    "pacf_by_type": _q(drift.pacf_by_type, "events"),
    "cohort_ltv_curves": _q(temporal.cohort_ltv_curves, "orders"),
    "funnel_k_step": _q(temporal.funnel_k_step, "events"),
    "ab_power_mde": _q(drift.ab_power_mde, "events"),
    "zipf_fit_slope": _q(textstats.zipf_fit_slope, "documents"),
    "heaps_law_fit": _q(textstats.heaps_law_fit, "documents"),
    "wilson_ci_proportion": _q(drift.wilson_ci_proportion, "events"),
    "sprt_monitor": _q(drift.sprt_monitor, "events"),
    "adamic_adar_linkpred": _q(
        graph.adamic_adar_linkpred, "lineitem", "part"
    ),
    "ndcg_at_k": _q(similarity.ndcg_at_k, "embeddings"),
    "markov_steady_state": _q(temporal.markov_steady_state, "events"),
    "theta_method_forecast": _q(temporal.theta_method_forecast, "events"),
    "dunn_posthoc": _q(drift.dunn_posthoc, "events"),
    "txnlog_bloom_skipping": _txnlog_bloom_skipping,
    "friedman_test": _q(drift.friedman_test, "events"),
    "mood_median_test": _q(drift.mood_median_test, "events"),
    "cochran_armitage_trend": _q(drift.cochran_armitage_trend, "events"),
    "mann_kendall_trend": _q(trend.mann_kendall_trend, "events"),
    "log_rank_test": _q(temporal.log_rank_test, "events"),
    "hurst_exponent": _q(trend.hurst_exponent, "events"),
    "odds_ratio_ci": _q(drift.odds_ratio_ci, "events"),
    "naive_bayes_lang": _q(textstats.naive_bayes_lang, "documents"),
    "connected_components": _q(graph.connected_components, "lineitem"),
    "runs_test": _q(trend.runs_test, "events"),
    "lorenz_gini": _q(aggregates.lorenz_gini, "orders"),
    "granger_check": _q(drift.granger_check, "events"),
    "weighted_sample_aes": _q(textstats.weighted_sample_aes, "documents"),
    "levenshtein_blocking": _q(dedup.levenshtein_blocking, "part"),
    "shuffle_reuse_check": _shuffle_reuse_check,
    "mrr_map_at_k": _q(similarity.mrr_map_at_k, "embeddings"),
    "forecast_backtest_mase": _q(
        temporal.forecast_backtest_mase, "events"
    ),
    "brown_forsythe_test": _q(drift.brown_forsythe_test, "events"),
    "pacf_daily": _q(drift.pacf_daily, "events"),
    "mann_whitney_u": _q(drift.mann_whitney_u, "events"),
    "ab_test_welch": _q(drift.ab_test_welch, "lineitem"),
    "ks_test_check": _q(drift.ks_test_check, "events"),
    "kruskal_wallis": _q(drift.kruskal_wallis, "events"),
    "proportions_ztest": _q(drift.proportions_ztest, "events"),
    "spearman_daily_corr": _q(drift.spearman_daily_corr, "events"),
    "page_hinkley": _q(drift.page_hinkley, "events"),
    "permutation_test_mean": _q(drift.permutation_test_mean, "events"),
    "cuped_adjusted_ab": _q(drift.cuped_adjusted_ab, "events"),
    "benjamini_hochberg": _q(drift.benjamini_hochberg, "events"),
    "changepoint_cusum": _q(drift.changepoint_cusum, "events"),
    "mcnemar_test": _q(drift.mcnemar_test, "events"),
    "ccnet_perplexity_buckets": _q(
        textstats.ccnet_perplexity_buckets, "documents"
    ),
    "srm_check": _q(drift.srm_check, "events"),
    "croston_intermittent": _q(temporal.croston_intermittent, "events"),
    "funnel_time_to_convert": _q(temporal.funnel_time_to_convert, "events"),
    "kendall_tau_daily": _q(trend.kendall_tau_daily, "events"),
    "window_group_limit_check": _window_group_limit_check,
    "nested_prune_check": _nested_prune_check,
    "tokenizer_fertility": _q(textstats.tokenizer_fertility, "documents"),
    "item_cf_neighbors": _q(aggregates.item_cf_neighbors, "lineitem"),
    "holt_winters_dow": _q(temporal.holt_winters_dow, "events"),
    "isotonic_daily_fit": _isotonic_daily_fit,
    "stream_rate_limited_live": _stream_rate_limited_live,
    "user_activity_islands": _q(windows.user_activity_islands, "events"),
    "gopher_quality_rules": _q(textstats.gopher_quality_rules, "documents"),
    "paragraph_dedup": _q(textstats.paragraph_dedup, "documents"),
    "dsir_importance_weights": _q(
        textstats.dsir_importance_weights, "documents"
    ),
    "incremental_dedup_check": _incremental_dedup_check,
    "sql_tpch_q2": _sql_tpch_q2,
    "sql_tpch_q9": _sql_tpch_q9,
    "sql_tpch_q11": _sql_tpch_q11,
    "ols_regression_group": _q(aggregates.ols_regression_group, "events"),
    "chi_square_independence": _q(
        aggregates.chi_square_independence, "events"
    ),
    "winsorize_features": _q(aggregates.winsorize_features, "events"),
    "attribution_position_based": _q(
        temporal.attribution_position_based, "events"
    ),
    "holt_linear_forecast": _q(temporal.holt_linear_forecast, "events"),
    "referential_integrity_check": _q(
        relational.referential_integrity_check,
        "lineitem",
        "orders",
        "customer",
        "part",
        "supplier",
        "nation",
    ),
    "dedup_exact_normalized": _q(dedup.dedup_exact_normalized, "documents"),
    "ngram_novelty_score": _q(textstats.ngram_novelty_score, "documents"),
    "ljung_box_check": _q(drift.ljung_box_check, "events"),
    "bootstrap_ci_mean": _q(aggregates.bootstrap_ci_mean, "events"),
    "rolling_active_users": _q(windows.rolling_active_users, "events"),
    "doc_chunking": _q(textstats.doc_chunking, "documents"),
    "tfidf_cosine_pairs": _q(textstats.tfidf_cosine_pairs, "documents"),
    "sql_tpch_q16": _sql_tpch_q16,
    "sql_tpch_q20": _sql_tpch_q20,
    "aqe_coalesce_check": _aqe_coalesce_check,
    "txn_log_snapshot_read": _txn_log_snapshot_read,
    "stream_cdc_apply_live": _stream_cdc_apply_live,
    "txn_log_vacuum_check": _txn_log_vacuum_check,
    "txnlog_cdf_read": _txnlog_cdf_read,
    "txnlog_schema_evolve": _txnlog_schema_evolve,
    "txnlog_concurrent_commit": _txnlog_concurrent_commit,
    "txnlog_partition_evolve": _txnlog_partition_evolve,
    "txnlog_time_travel": _txnlog_time_travel,
    "txnlog_restore_version": _txnlog_restore_version,
    "txnlog_compact_files": _txnlog_compact_files,
    "stream_restart_recovery_live": _stream_restart_recovery_live,
    "ngram_jaccard_check": _q(dedup.ngram_jaccard_check, "documents"),
    "multimodal_pipeline_check": _q(
        multimodal.multimodal_pipeline_check, "documents"
    ),
    "multimodal_pipeline": _q(multimodal.multimodal_pipeline, "documents"),
    "sample_mixture": _q(textstats.sample_mixture, "documents"),
    "split_train_val_test": _split_train_val_test,
    "curate_for_training": _q(textstats.curate_for_training, "documents"),
    "stratified_sample_exact": _q(textstats.stratified_sample_exact, "documents"),
    "cap_per_key": _q(textstats.cap_per_key, "documents"),
    "copurchase_lift": _q(aggregates.copurchase_lift, "lineitem", "part"),
    "triangle_count": _q(graph.triangle_count, "lineitem", "part"),
    "stream_topk_live": _stream_topk_live,
    "embed_random_projection": _q(
        similarity.embed_random_projection, "embeddings"
    ),
    "event_paths_topk": _q(temporal.event_paths_topk, "events"),
    "aqe_join_switch_check": _aqe_join_switch_check,
    "txnlog_stats_skipping": _txnlog_stats_skipping,
    "txnlog_history_table": _txnlog_history_table,
    "quantile_normalization": _q(aggregates.quantile_normalization, "events"),
    "autocorr_daily": _q(drift.autocorr_daily, "events"),
    "theil_sen_slope": _q(trend.theil_sen_slope, "events"),
    "collocation_llr": _q(textstats.collocation_llr, "documents"),
    "dataset_mixing_weights": _q(textstats.dataset_mixing_weights, "documents"),
    "quality_classifier_score": _q(textstats.quality_classifier_score, "documents"),
    "seasonal_adjust_dow": _q(drift.seasonal_adjust_dow, "events"),
    "k_anonymity_check": _q(relational.k_anonymity_check, "events"),
    "standardize_features": _q(aggregates.standardize_features, "events"),
    "survival_km": _q(temporal.survival_km, "events"),
    "rfm_segmentation": _q(temporal.rfm_segmentation, "orders"),
    "theta_segment_overlap": _q(aggregates.theta_segment_overlap, "events"),
    "mask_pii": _mask_pii,
    "lang_id_multi": _lang_id_multi,
    "resize_images": _q(multimodal.multimodal_resize, "documents"),
    "resize_images_check": _q(multimodal.resize_images_check, "documents"),
    "kll_rollup_check": _q(aggregates.kll_rollup_check, "lineitem"),
    "bigram_perplexity": _q(textstats.bigram_perplexity, "documents"),
    "pack_sequences_bpe": _q(textstats.pack_sequences_bpe, "documents"),
    "stream_late_audit": _stream_late_audit,
    "containment_check": _containment_check,
    "dpp_check": _dpp_check,
    "semdedup_check": _q(similarity.semdedup_check, "embeddings"),
    "window_navigation_suite": _q(windows.window_navigation_suite, "events"),
    "mutual_information": _q(drift.mutual_information, "events"),
    "bpe_encode_check": _q(textstats.bpe_encode, "documents"),
    "ann_recall_check": _q(similarity.ann_recall_check, "embeddings"),
    "embed_neardup_check": _q(similarity.embed_neardup_check, "embeddings"),
    "ann_ivfpq_check": _q(similarity.ann_ivfpq_check, "embeddings"),
    "embed_pq_check": _q(similarity.embed_pq_check, "embeddings"),
    "embed_pca_check": _q(similarity.embed_pca_check, "embeddings"),
    "ann_ivf": _q(similarity.ann_ivf, "embeddings"),
    "bpe_merge_rounds": _q(textstats.bpe_merge_rounds, "documents"),
    "zorder_skipping_check": _zorder_skipping_check,
    "scd2_history": _q(merge.scd2_history, "events"),
    "merge_roundtrip": _merge_roundtrip,
    "benford_first_digit": _q(aggregates.benford_first_digit, "lineitem"),
    "recursive_cte_reach": _recursive_cte_reach,
    "sql_udf_tvf_check": _sql_udf_tvf_check,
    "map_functions_suite": _q(scalar.map_functions_suite, "events"),
    "gapfill_linear": _q(windows.gapfill_linear, "events"),
    "psi_drift": _q(drift.psi_drift, "events"),
    "url_normalize": _url_normalize,
    "boilerplate_lines": _boilerplate_lines,
    "cbo_reorder_check": _cbo_reorder_check,
    "aqe_skew_join_check": _aqe_skew_join_check,
    "theta_overlap_check": _q(aggregates.theta_overlap_check, "events"),
    "stream_decay_trend_live": _stream_decay_trend_live,
    "decode_audio_meta": _q(multimodal.multimodal_audio_decode, "documents"),
    "kll_quantile_rollup": _kll_quantile_rollup,
    "group_entropy": _q(textstats.group_entropy, "documents"),
    "stream_dedup_within_wm_live": _stream_dedup_within_wm_live,
    "incremental_agg_maintain": _q(merge.incremental_agg_maintain, "events"),
    "expectations_check": _q(relational.expectations_check, "lineitem", "orders"),
    "runtime_filter_join": _runtime_filter_join,
    "python_datasource_scan": _python_datasource_scan,
    "udtf_bigram_topk": _udtf_bigram_topk,
    "pandas_udaf_gini": _q(aggregates.gini_by_group, "events"),
    "mor_read_view": _mor_read_view,
    "compact_small_files": _compact_small_files,
    "skew_profile": _q(aggregates.skew_profile, "lineitem"),
    "user_growth_daily": _q(temporal.user_growth_daily, "events"),
    "sql_tpch_q21": _sql_tpch_q21,
    "inverted_index_build": _q(textstats.inverted_index_build, "documents"),
    "anomaly_mad": _q(aggregates.anomaly_mad, "events"),
    "target_encoding": _q(aggregates.target_encoding, "lineitem"),
    "unigram_perplexity": _q(textstats.unigram_perplexity, "documents"),
    "feature_binning": _q(aggregates.feature_binning, "lineitem"),
    "pagerank_fixed": _q(graph.pagerank_fixed, "events"),
    "cdc_snapshot_diff": _q(merge.cdc_snapshot_diff, "orders"),
    "stream_outer_join_live": _stream_outer_join_live,
    "sql_tpch_q4": _sql_tpch_q4,
    "sql_tpch_q13": _sql_tpch_q13,
    "sql_tpch_q17": _sql_tpch_q17,
    "sql_tpch_q19": _sql_tpch_q19,
    "sql_tpch_q22": _sql_tpch_q22,
    "sql_tpch_q6": _sql_tpch_q6,
    "sql_tpch_q7": _sql_tpch_q7,
    "sql_tpch_q8": _sql_tpch_q8,
    "sql_tpch_q15": _sql_tpch_q15,
    "stateful_decay_live_v2": _stateful_decay_live_v2,
    "skyline_pareto": _q(relational.skyline_pareto, "orders"),
    "dedup_minhash_check": _q(dedup.dedup_minhash_check, "documents"),
    "dedup_simhash_check": _q(dedup.dedup_simhash_check, "documents"),
    "file_skipping_check": _file_skipping_check,
    "bucketed_write_join": _bucketed_write_join,
    "multiformat_roundtrip": _multiformat_roundtrip,
    "schema_evolution_read": _schema_evolution_read,
    "jdbc_roundtrip": _jdbc_roundtrip,
    "partitioned_write_roundtrip": _partitioned_write_roundtrip,
    "dedup_simhash": _q(dedup.dedup_simhash, "documents"),
    "stream_join_live": _stream_join_live,
    "gapfill_locf": _q(windows.gapfill_locf, "events"),
    "trend_anomaly": _q(trend.trend_anomaly, "events"),
    "stream_session_live": _stream_session_live,
    "stream_enrich_live": _stream_enrich_live,
    "winnow_fingerprints": _q(textstats.winnow_fingerprints, "documents"),
    "stream_dedup_live": _stream_dedup_live,
    "dedup_minhash": _q(dedup.dedup_minhash, "documents"),
    "ngram_jaccard": _q(dedup.ngram_jaccard, "documents"),
    "sentiment_score": _sentiment_score,
    "entity_counts": _q(entities.entity_counts, "documents"),
    "keyword_freq": _q(trend.keyword_freq, "documents"),
    "keyword_topk": _q(trend.keyword_topk, "documents"),
    "distinct_count": _q(aggregates.distinct_count, "documents"),
    "approx_distinct": _q(aggregates.approx_distinct, "documents"),
    "approx_percentile": _q(aggregates.approx_percentile_agg, "lineitem"),
    "cms_topk_sketch": _q(aggregates.cms_topk_sketch, "documents"),
    "scan_project": _q(relational.scan_project, "lineitem"),
    "filter_pred": _q(relational.filter_pred, "lineitem"),
    "json_extract": _q(trend.json_extract, "events"),
    "conditional_score": _q(trend.conditional_score, "events"),
    "decay_weight": _q(trend.decay_weight_per_event, "events"),
    "tokenize_explode": _q(trend.tokenize_explode, "documents"),
    "join_broadcast": _q(relational.join_broadcast, "lineitem", "part"),
    "join_semi_anti": _q(relational.join_semi_anti, "customer", "orders"),
    "set_ops": _q(relational.set_ops, "events"),
    "rollup_agg": _q(relational.rollup_agg, "customer", "nation"),
    "cube_agg": _q(relational.cube_agg, "customer", "nation"),
    "correlated_subquery": _q(relational.correlated_subquery, "customer", "nation"),
    "asof_join": _q(temporal.asof_join, "events"),
    "range_join": _q(temporal.range_join, "lineitem"),
    "sim_search": _q(similarity.sim_search, "embeddings"),
    "pack_sequences": _q(textstats.pack_sequences, "documents"),
    "embed_quantize": _q(similarity.embed_quantize, "embeddings"),
    "trend_rising": _q(trend.trend_rising, "events"),
    "streaming_decay_trend": _q(trend.streaming_decay_trend, "events"),
    "null_handling": _q(scalar.null_handling, "orders"),
    "unpivot_measures": _q(scalar.unpivot_measures, "lineitem"),
    "decontaminate_ngram": _q(dedup.decontaminate_ngram, "documents"),
    "retention_cohort": _q(temporal.retention_cohort, "events"),
    "event_transitions": _q(temporal.event_transitions, "events"),
    "histogram_numeric": _q(aggregates.histogram_numeric, "lineitem"),
    "sql_tpch_q18": _sql_tpch_q18,
    "join_hash": _q(relational.join_hash, "orders", "customer", "nation", "region", "supplier"),
    "stateful_decay_live": _stateful_decay_live,
    "sql_tpch_q5": _sql_tpch_q5,
    "listagg_canonical": _q(aggregates.listagg_canonical, "events"),
    "conditional_agg_suite": _q(aggregates.conditional_agg_suite, "events"),
    "column_profile": _q(aggregates.column_profile, "lineitem"),
    "variant_extract": _q(scalar.variant_extract, "events"),
    "window_range_frame": _q(windows.window_range_frame, "events"),
    "interval_overlap": _q(temporal.interval_overlap, "events"),
    "repetition_signals": _q(textstats.repetition_signals, "documents"),
    "time_weighted_avg": _q(temporal.time_weighted_avg, "events"),
    "ewma_smooth": _q(windows.ewma_smooth, "events"),
    "sql_tpch_q10": _sql_tpch_q10,
    "array_functions_suite": _q(scalar.array_functions_suite, "documents"),
    "sql_tpch_q12": _sql_tpch_q12,
    "sql_tpch_q14": _sql_tpch_q14,
    "mode_agg": _q(aggregates.mode_agg, "events"),
    "agg_basic": _q(aggregates.agg_basic, "lineitem"),
    "sql_tpch_q1": _sql_tpch_q1,
    "dedup_exact": _q(dedup.dedup_exact, "documents"),
    "dedup_clusters": _q(dedup.dedup_clusters, "documents"),
    "window_tumbling": _q(windows.window_tumbling, "events"),
    "join_skewed": _q(skew.join_skewed, "events"),
    "embed_neardup": _q(similarity.embed_neardup, "embeddings"),
    "embed_centroids": _q(similarity.embed_centroids, "embeddings"),
    "text_stats": _q(textstats.text_stats, "documents"),
    "doc_profile": _q(textstats.doc_profile, "documents"),
    "quality_filter": _q(textstats.quality_filter, "documents"),
    "text_clean": _q(textstats.text_clean, "documents"),
    "tfidf_top_term": _q(textstats.tfidf_top_term, "documents"),
    "pipeline_curate": _q(textstats.pipeline_curate, "documents"),
    "multimodal_decode": _q(multimodal.multimodal_decode, "documents"),
    "running_counts_live": _running_counts_live,
    "approx_distinct_check": _q(aggregates.approx_distinct_check, "documents"),
    "approx_percentile_check": _q(aggregates.approx_percentile_check, "lineitem"),
    "grouping_sets_agg": _q(relational.grouping_sets_agg, "orders"),
    "upsert_scd1": _q(merge.upsert_scd1, "events"),
    "funnel_conversion": _q(temporal.funnel_conversion, "events"),
    "rollup_two_level": _q(windows.rollup_two_level, "events"),
    "window_distribution": _q(windows.window_distribution, "events"),
    "window_sliding": _q(windows.window_sliding, "events"),
    "window_session": _q(windows.window_session, "events"),
    "window_rank": _q(windows.window_rank, "events"),
    "window_lag_lead": _q(windows.window_lag_lead, "events"),
    "pivot_counts": _q(aggregates.pivot_counts, "events"),
    "percentile_agg": _q(aggregates.percentile_agg, "lineitem"),
    "stats_moments": _q(aggregates.stats_moments, "lineitem"),
    "minmax_by": _q(aggregates.minmax_by, "orders"),
    "multi_distinct": _q(aggregates.multi_distinct, "events"),
    "array_agg_sorted": _q(aggregates.array_agg_sorted, "events"),
    "date_parts": _q(scalar.date_parts, "orders"),
    "string_funcs": _q(scalar.string_funcs, "part"),
    "cms_window_probe": _q(aggregates.cms_window_probe, "events"),
    "stream_cms_live": _stream_cms_live,
    "stream_sink_live": _stream_sink_live,
    "fuzzy_token_join": _q(dedup.fuzzy_token_join, "documents"),
    "sql_tpch_q3": _sql_tpch_q3,
    "bm25_rank": _q(textstats.bm25_rank, "documents"),
    "cooccurrence_pmi": _q(textstats.cooccurrence_pmi, "documents"),
    "rolling_median": _q(windows.rolling_median, "events"),
    "attribution_last_touch": _q(temporal.attribution_last_touch, "events"),
    "hll_merge_check": _q(aggregates.hll_merge_check, "events"),
})


def _sql_in_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


_STOPS = _sql_in_list(EN_STOPWORDS)
_POS = _sql_in_list(
    "good great fast excellent love win best happy nice clean simple useful".split()
)
_NEG = _sql_in_list(
    "bad slow terrible hate lose worst sad broken dirty complex useless error".split()
)

# Shared SQL fragments (DuckDB dialect), mirroring functions/*.py exactly.
_DECAY = "exp(-0.1 * (epoch(TIMESTAMP '2024-02-01 00:00:00') - epoch(ts)) / 60)"
_SCORE = (
    "CASE WHEN lower(event_type) = 'purchase' THEN CAST(1.0 AS DOUBLE) "
    "WHEN lower(event_type) = 'error' THEN CAST(-1.0 AS DOUBLE) "
    "ELSE CAST(0.0 AS DOUBLE) END"
)
_STOP_RATIO = (
    f"(CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOPS}))) AS DOUBLE)"
    " / CAST(len(string_split(text, ' ')) AS DOUBLE))"
)
_QUALITY = (
    "round((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)"
    " + least((CAST(length(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0, 1.0)"
    f" + least({_STOP_RATIO} / 0.2, 1.0)) / 3.0, 6)"
)
_COSINE = (
    "round(list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


def _pii_sql(x: str) -> str:
    """DuckDB twin of functions/text.py::mask_pii — the IDENTICAL
    pattern chain (imported, not copied) applied globally; RE2 and
    Java regex agree on these constructs (\\b, \\d, non-capturing
    groups, bounded repetition)."""
    from big_data_trend_analysis_spark.functions.text import _PII_PATTERNS

    out = x
    for pattern, token in _PII_PATTERNS:
        out = f"regexp_replace({out}, '{pattern}', '{token}', 'g')"
    return out


def _clean_sql(x: str) -> str:
    """DuckDB twin of textstats._clean_expr (the text_clean chain)."""
    return (
        "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        f"lower({x}), 'https?://[^ ]+', '<url>', 'g'), "
        "'[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'), "
        "'[^a-z0-9<> ]', ' ', 'g'), "
        "'  +', ' ', 'g'))"
    )


def _split_bucket_sql(key: str, seed: int = 29) -> str:
    """DuckDB twin of split_train_val_test's md5 bucket: first 60 bits
    of md5(key || ':' || seed) mod 1e6 — bit-identical to Spark's
    conv(substring(md5(concat_ws(':', key, seed)), 1, 15), 16, 10)."""
    return (
        f"(('0x' || substring(md5(CAST({key} AS VARCHAR) || ':{seed}'), 1, 15))"
        "::BIGINT % 1000000)"
    )


def _lang_score_sql(code: str) -> str:
    """DuckDB twin of one lang_id_multi profile score."""
    from big_data_trend_analysis_spark.functions.text import LANG_PROFILES

    words = _sql_in_list(sorted(LANG_PROFILES[code]))
    return (
        f"(len(list_filter(string_split(text, ' '), t -> t IN ({words}))) * 1.0"
        " / greatest(len(string_split(text, ' ')), 1))"
    )

def _xlx_sql(k: str) -> str:
    """DuckDB twin of collocation_llr's xlx: round(k·ln(k), 6), 0 at 0."""
    return (
        f"round(CASE WHEN {k} > 0 THEN CAST({k} AS DOUBLE)"
        f" * ln(CAST({k} AS DOUBLE)) ELSE 0.0 END, 6)"
    )


def _ri_edge_sql(name: str, child: str, ck: str, parent: str, pk: str) -> str:
    """One FK edge of the referential_integrity_check oracle.

    NULL child keys are excluded from orphan/unreferenced accounting
    (the dbt ``relationships`` convention the engine side applies via
    ``isNotNull`` — ADVICE r10: the orphan subquery's DISTINCT used to
    keep the NULL row, which survives the LEFT JOIN and miscounts as
    an orphan on any nullable-FK corpus)."""
    return f"""
        SELECT '{name}' AS relation,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {child})
                   AS child_rows,
               (SELECT CAST(COUNT(DISTINCT {ck}) AS BIGINT) FROM {child})
                   AS child_keys,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM (SELECT DISTINCT {ck} AS k FROM {child}
                      WHERE {ck} IS NOT NULL) c
                LEFT JOIN (SELECT DISTINCT {pk} AS k FROM {parent}) p
                  ON p.k = c.k
                WHERE p.k IS NULL) AS orphan_keys,
               (SELECT CAST(COUNT(DISTINCT {pk}) AS BIGINT) FROM {parent})
                   AS parent_keys,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM (SELECT DISTINCT {pk} AS k FROM {parent}) p
                LEFT JOIN (SELECT DISTINCT {ck} AS k FROM {child}
                           WHERE {ck} IS NOT NULL) c
                  ON c.k = p.k
                WHERE c.k IS NULL) AS unreferenced_parent_keys
    """


_RI_ORACLE = " UNION ALL ".join(
    [
        _ri_edge_sql("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        _ri_edge_sql("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        _ri_edge_sql("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        _ri_edge_sql("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        _ri_edge_sql("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        _ri_edge_sql("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
)


ORACLE_SQL: dict[str, str] = {
    "dpp_check": """
        WITH d AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events
            WHERE CAST(dayofweek(ts) + 1 AS INTEGER) = 2)
        SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(e.event_id) AS BIGINT) AS sum_id,
               TRUE AS dpp_planned
        FROM events e
        JOIN d ON CAST(date_trunc('day', e.ts) AS DATE) = d.day
        GROUP BY 1
    """,
    "stream_topk_live": """
        WITH c AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
                       AS window_start,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2),
        r AS (
            SELECT window_start, event_type, n_events,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY window_start
                       ORDER BY n_events DESC, event_type) AS INTEGER)
                       AS rnk
            FROM c)
        SELECT window_start, event_type, n_events, rnk
        FROM r WHERE rnk <= 3
    """,
    "event_paths_topk": """
        WITH t AS (
            SELECT event_type AS e1,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        c AS (
            SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path,
                   CAST(COUNT(*) AS BIGINT) AS n_paths
            FROM t WHERE e3 IS NOT NULL
            GROUP BY 1)
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY n_paths DESC, path) AS INTEGER) AS rnk,
               path, n_paths
        FROM c
        ORDER BY n_paths DESC, path
        LIMIT 20
    """,
    "survival_km": """
        WITH ld AS (
            SELECT user_id, MAX(date_trunc('day', ts)) AS last_day
            FROM events GROUP BY 1),
        pd AS (SELECT last_day AS day, COUNT(*) AS c FROM ld GROUP BY 1),
        mx AS (SELECT MAX(day) AS max_day FROM pd),
        r AS (
            SELECT CAST(day AS TIMESTAMP) AS day,
                   CAST(SUM(c) OVER (ORDER BY day DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk,
                   CAST(CASE WHEN day < max_day THEN c ELSE 0 END
                        AS BIGINT) AS d_churned
            FROM pd, mx),
        t AS (
            SELECT day, n_risk, d_churned,
                   round(d_churned / n_risk, 6) AS hazard,
                   round(ln(greatest(1e-6,
                                     1.0 - d_churned / n_risk)), 6) AS term
            FROM r)
        SELECT day, n_risk, d_churned, hazard,
               round(exp(CAST(SUM(CAST(term AS DECIMAL(18,6))) OVER (
                   ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE)),
                     6) AS s_km
        FROM t
    """,
    "rfm_segmentation": """
        WITH pc AS (
            SELECT o_custkey,
                   MAX(date_trunc('day', o_orderdate)) AS last_order,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                        AS DOUBLE) AS monetary
            FROM orders GROUP BY 1),
        a AS (SELECT MAX(last_order) AS anchor_day FROM pc),
        rfm AS (
            SELECT o_custkey,
                   CAST(date_diff('day', last_order, anchor_day)
                        AS INTEGER) AS recency_days,
                   frequency, monetary
            FROM pc, a),
        q AS (
            SELECT o_custkey, recency_days, frequency, monetary,
                   CAST(ntile(4) OVER (
                       ORDER BY recency_days ASC, o_custkey ASC)
                        AS INTEGER) AS r_q,
                   CAST(ntile(4) OVER (
                       ORDER BY frequency DESC, o_custkey ASC)
                        AS INTEGER) AS f_q,
                   CAST(ntile(4) OVER (
                       ORDER BY monetary DESC, o_custkey ASC)
                        AS INTEGER) AS m_q
            FROM rfm)
        SELECT o_custkey, recency_days, frequency, monetary,
               r_q, f_q, m_q,
               CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR)
                   || CAST(m_q AS VARCHAR) AS segment
        FROM q
    """,
    "ab_test_welch": """
        WITH m AS (
            SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS sx,
                   CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                 * CAST(l_extendedprice AS DECIMAL(18,2))
                                 AS DECIMAL(38,4))) AS DOUBLE) AS sxx
            FROM lineitem WHERE l_returnflag IN ('R', 'N')
            GROUP BY 1),
        s AS (
            SELECT l_returnflag, n,
                   round(sx / n, 6) AS mean,
                   round((sxx - sx * sx / n)
                         / nullif(CAST(n - 1 AS DOUBLE), 0.0), 6) AS var
            FROM m),
        a AS (SELECT n AS n_a, mean AS mean_a, var AS var_a
              FROM s WHERE l_returnflag = 'R'),
        b AS (SELECT n AS n_b, mean AS mean_b, var AS var_b
              FROM s WHERE l_returnflag = 'N'),
        w AS (
            SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
                   round((mean_a - mean_b)
                         / nullif(sqrt(var_a / n_a + var_b / n_b), 0.0),
                         6) AS t_stat,
                   round((var_a / n_a + var_b / n_b)
                         * (var_a / n_a + var_b / n_b)
                         / nullif((var_a / n_a) * (var_a / n_a)
                                      / (n_a - 1)
                                  + (var_b / n_b) * (var_b / n_b)
                                      / (n_b - 1),
                                  0.0),
                         6) AS df_welch
            FROM a, b)
        SELECT n_a, n_b, mean_a, mean_b, var_a, var_b, t_stat, df_welch,
               """ + t_crit_975_sql("df_welch") + """ AS t_crit,
               COALESCE(abs(t_stat) > """
        + t_crit_975_sql("df_welch")
        + """, FALSE) AS significant
        FROM w
    """,
    "cap_per_key": """
        WITH r AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(doc_id || ':17'), doc_id) AS rnk
            FROM documents)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) FILTER (rnk <= 20) AS BIGINT) AS n_kept,
               CAST(COUNT(*) FILTER (rnk > 20) AS BIGINT) AS n_dropped,
               CAST(COALESCE(SUM(doc_id) FILTER (rnk <= 20), 0)
                    AS BIGINT) AS sum_kept_ids
        FROM r GROUP BY 1
    """,
    "standardize_features": """
        WITH q AS (
            SELECT event_id, event_type,
                   round(value, 6) AS value_q,
                   CAST(round(value, 6) AS DECIMAL(18,6)) AS vd
            FROM events),
        st AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(vd) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(vd * vd AS DECIMAL(38,12)))
                        AS DOUBLE) AS sxx,
                   CAST(MIN(vd) AS DOUBLE) AS min_v,
                   CAST(MAX(vd) AS DOUBLE) AS max_v
            FROM q GROUP BY 1),
        ss AS (
            SELECT event_type,
                   round(sx / n, 6) AS mean_v,
                   CASE WHEN n > 1 THEN
                       round(sqrt(greatest(
                           (sxx - sx * sx / n) / (n - 1), 0.0)), 6)
                   END AS std_v,
                   min_v, max_v
            FROM st)
        SELECT q.event_id, q.event_type, q.value_q,
               round((q.value_q - ss.mean_v) / nullif(ss.std_v, 0.0),
                     6) AS z,
               round((q.value_q - ss.min_v)
                     / nullif(ss.max_v - ss.min_v, 0.0), 6) AS minmax
        FROM q JOIN ss USING (event_type)
    """,
    "txnlog_time_travel": """
        WITH pre AS (
            SELECT event_id FROM events
            WHERE ts < TIMESTAMP '2024-01-11 00:00:00'),
        post AS (
            SELECT event_id FROM events
            WHERE ts >= TIMESTAMP '2024-01-11 00:00:00')
        SELECT 'asof_t0' AS label, 0 AS resolved_version,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS sum_id,
               TRUE AS pre_epoch_raises,
               TRUE AS future_ts_raises,
               TRUE AS backwards_stamp_raises
        FROM pre
        UNION ALL
        SELECT 'asof_mid', 1, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(event_id) AS BIGINT), TRUE, TRUE, TRUE
        FROM (SELECT event_id FROM pre
              UNION ALL
              SELECT event_id FROM post WHERE event_id % 2 = 0)
        UNION ALL
        SELECT 'asof_latest', 2, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(event_id) AS BIGINT), TRUE, TRUE, TRUE
        FROM (SELECT event_id FROM pre
              UNION ALL
              SELECT event_id FROM post)
    """,
    "dataset_mixing_weights": """
        WITH s AS (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY 1),
        t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
                     CAST(COUNT(*) AS BIGINT) AS n_sources FROM s),
        o AS (
            SELECT source, n_docs, n_tokens,
                   round(n_tokens / nullif(tot_tokens, 0), 6)
                       AS token_share,
                   round(1.0 / n_sources, 6) AS target_share,
                   round((CAST(tot_tokens AS DOUBLE) / n_sources)
                         / nullif(n_tokens, 0), 6) AS weight
            FROM s, t)
        SELECT source, n_docs, n_tokens, token_share, target_share, weight,
               round(least(weight, 3.0), 6) AS capped_weight,
               round(least(weight, 3.0) * n_tokens, 6) AS effective_tokens
        FROM o
    """,
    "quality_classifier_score": f"""
        WITH feats AS (
            SELECT doc_id,
                   round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0),
                         6) AS f_len,
                   round(least((CAST(length(text) AS DOUBLE)
                                / CAST(len(string_split(text, ' '))
                                       AS DOUBLE)) / 8.0, 1.0),
                         6) AS f_tok,
                   round(least({_STOP_RATIO} / 0.2, 1.0), 6) AS f_stop
            FROM documents),
        scored AS (
            SELECT doc_id, f_len, f_tok, f_stop,
                   round(1.0 / (1.0 + exp(-round(
                       -2.0 + 1.5 * f_len + 1.2 * f_tok + 2.0 * f_stop,
                       6))), 6) AS score
            FROM feats)
        SELECT doc_id, f_len, f_tok, f_stop, score,
               score >= 0.5 AS keep
        FROM scored
    """,
    "seasonal_adjust_dow": """
        WITH daily AS (
            SELECT date_trunc('day', ts) AS day,
                   CAST(dayofweek(ts) + 1 AS INTEGER) AS dow, COUNT(*) AS n
            FROM events GROUP BY 1, 2),
        dm AS (SELECT dow, CAST(SUM(n) AS DOUBLE) / COUNT(*) AS dow_mean
               FROM daily GROUP BY 1),
        g AS (SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) AS g_mean FROM daily),
        sc AS (
            SELECT CAST(d.day AS TIMESTAMP) AS day, d.dow,
                   CAST(d.n AS BIGINT) AS n,
                   round(dm.dow_mean, 6) AS dow_mean,
                   round(d.n - dm.dow_mean + g.g_mean, 6) AS adjusted,
                   round(d.n - dm.dow_mean, 6) AS resid,
                   round(d.n - g.g_mean, 6) AS dev
            FROM daily d JOIN dm USING (dow), g),
        st AS (SELECT round(1.0
                   - CAST(SUM(CAST(round(resid * resid, 6)
                                   AS DECIMAL(18,6))) AS DOUBLE)
                     / nullif(CAST(SUM(CAST(round(dev * dev, 6)
                                            AS DECIMAL(18,6))) AS DOUBLE),
                              0.0),
                   6) AS strength FROM sc)
        SELECT day, dow, n, dow_mean, adjusted, strength FROM sc, st
    """,
    "k_anonymity_check": """
        WITH c AS (
            SELECT event_type, CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
                   CAST(hour(ts) AS INTEGER) AS hour,
                   CAST(COUNT(*) AS BIGINT) AS k_count
            FROM events GROUP BY 1, 2, 3),
        f AS (SELECT event_type, dow, hour, k_count,
                     k_count >= 5 AS is_safe FROM c),
        a AS (SELECT CAST(COUNT(*) FILTER (NOT is_safe) AS BIGINT)
                         AS n_risky_classes,
                     CAST(COALESCE(SUM(k_count) FILTER (NOT is_safe), 0)
                          AS BIGINT) AS n_risky_rows
              FROM f)
        SELECT event_type, dow, hour, k_count, is_safe,
               n_risky_classes, n_risky_rows
        FROM f, a
    """,
    "triangle_count": """
        WITH items AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        edges AS (
            SELECT a.p_brand AS a, b.p_brand AS b
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3),
        tris AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM edges e1
            JOIN edges e2 ON e1.b = e2.a
            JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b),
        pn AS (
            SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM (SELECT unnest([x, y, z]) AS brand FROM tris)
            GROUP BY 1),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_triangles FROM tris)
        SELECT brand, n_triangles, total_triangles FROM pn, tot
    """,
    "changepoint_cusum": """
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
            FROM events GROUP BY 1, 2),
        st AS (
            SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot_n,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   round(stddev_samp(n), 6) AS sd
            FROM daily GROUP BY 1),
        dev AS (
            SELECT d.event_type, d.day, st.n_days, st.sd,
                   round(CAST(SUM(d.n) OVER (
                             PARTITION BY d.event_type ORDER BY d.day
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
                         - ROW_NUMBER() OVER (
                             PARTITION BY d.event_type ORDER BY d.day)
                           * (CAST(st.tot_n AS DOUBLE) / st.n_days),
                         6) AS c_dev
            FROM daily d JOIN st USING (event_type)),
        picked AS (
            -- DuckDB's date_trunc yields DATE; Spark's yields TIMESTAMP
            SELECT event_type, n_days, CAST(day AS TIMESTAMP) AS cp_day,
                   round(abs(c_dev), 6) AS max_dev,
                   round(abs(c_dev)
                         / nullif(sd * sqrt(CAST(n_days AS DOUBLE)), 0.0),
                         6) AS cusum_stat,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type
                       ORDER BY abs(c_dev) DESC, day ASC) AS pick
            FROM dev)
        SELECT event_type, n_days, cp_day, max_dev, cusum_stat,
               COALESCE(cusum_stat > 1.358, FALSE) AS is_change
        FROM picked WHERE pick = 1
    """,
    "autocorr_daily": """
        WITH daily AS (
            SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
            FROM events GROUP BY 1),
        st AS (SELECT CAST(SUM(n) AS BIGINT) AS tot_n,
                      CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        dev AS (
            SELECT day, n_days,
                   round(n - CAST(tot_n AS DOUBLE) / n_days, 6) AS d0
            FROM daily, st),
        nums AS (
            SELECT CAST(date_diff('day', p.day, c.day) AS INTEGER) AS lag,
                   SUM(CAST(round(c.d0 * p.d0, 6) AS DECIMAL(18,6)))
                       AS num_dec
            FROM dev c JOIN dev p
              ON date_diff('day', p.day, c.day) BETWEEN 1 AND 3
            GROUP BY 1),
        spine AS (
            SELECT CAST(gs.lag AS INTEGER) AS lag, st.n_days
            FROM st, generate_series(1, 3) AS gs(lag)),
        den AS (SELECT SUM(CAST(round(d0 * d0, 6) AS DECIMAL(18,6)))
                    AS den_dec FROM dev)
        SELECT s.lag, s.n_days,
               round(CAST(num_dec AS DOUBLE)
                     / nullif(CAST(den_dec AS DOUBLE), 0.0), 6) AS acf
        FROM spine s LEFT JOIN nums USING (lag), den
    """,
    "theil_sen_slope": """
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
            FROM events GROUP BY 1, 2),
        slopes AS (
            SELECT a.event_type,
                   round(CAST(b.n - a.n AS DOUBLE)
                         / date_diff('day', a.day, b.day), 6) AS slope
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.day < b.day),
        nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
               FROM daily GROUP BY 1)
        SELECT s.event_type, nd.n_days,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               round(median(slope), 6) AS sen_slope
        FROM slopes s JOIN nd USING (event_type)
        GROUP BY s.event_type, nd.n_days
    """,
    "copurchase_lift": """
        WITH items AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        n_o AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
                    AS n_orders FROM items),
        marg AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_brand
                 FROM items GROUP BY 1),
        pairs AS (
            SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                   CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3),
        scored AS (
            SELECT brand_a, brand_b, n_ab,
                   ma.n_brand AS n_a, mb.n_brand AS n_b,
                   round(n_ab / n_orders, 6) AS support,
                   round(n_ab / ma.n_brand, 6) AS confidence_ab,
                   round(n_ab / mb.n_brand, 6) AS confidence_ba,
                   round((CAST(n_ab AS DOUBLE) * n_orders)
                         / (CAST(ma.n_brand AS DOUBLE) * mb.n_brand),
                         6) AS lift
            FROM pairs
            JOIN marg ma ON pairs.brand_a = ma.p_brand
            JOIN marg mb ON pairs.brand_b = mb.p_brand, n_o)
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY lift DESC, brand_a, brand_b) AS INTEGER) AS rnk,
               brand_a, brand_b, n_ab, n_a, n_b, support,
               confidence_ab, confidence_ba, lift
        FROM scored
        ORDER BY lift DESC, brand_a, brand_b
        LIMIT 50
    """,
    "collocation_llr": f"""
        WITH toks AS (
            SELECT list_filter(string_split(text, ' '), t -> t <> '') AS arr
            FROM documents),
        grams AS (
            SELECT p[1] AS w1, p[2] AS w2
            FROM (SELECT unnest(list_zip(arr[1:len(arr)-1],
                                         arr[2:len(arr)])) AS p
                  FROM toks WHERE len(arr) >= 2)),
        k AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS k11
              FROM grams GROUP BY 1, 2),
        m1 AS (SELECT w1, CAST(SUM(k11) AS BIGINT) AS c1 FROM k GROUP BY 1),
        m2 AS (SELECT w2, CAST(SUM(k11) AS BIGINT) AS c2 FROM k GROUP BY 1),
        nt AS (SELECT CAST(SUM(k11) AS BIGINT) AS n_tot FROM k),
        scored AS (
            SELECT k.w1, k.w2, k11,
                   round(2.0 * ({_xlx_sql('k11')}
                       + {_xlx_sql('c1 - k11')}
                       + {_xlx_sql('c2 - k11')}
                       + {_xlx_sql('n_tot - c1 - c2 + k11')}
                       - {_xlx_sql('c1')}
                       - {_xlx_sql('n_tot - c1')}
                       - {_xlx_sql('c2')}
                       - {_xlx_sql('n_tot - c2')}
                       + {_xlx_sql('n_tot')}), 6) AS llr
            FROM k JOIN m1 USING (w1) JOIN m2 USING (w2), nt
            WHERE k11 >= 5)
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY llr DESC, w1, w2) AS INTEGER) AS rnk,
               w1, w2, k11, llr
        FROM scored
        ORDER BY llr DESC, w1, w2
        LIMIT 50
    """,
    # Theta-sketch estimates are exact below 2^lg_k distinct ids
    # (fixture regime), so the oracle is the exact pairwise relation.
    "theta_segment_overlap": """
        WITH su AS (SELECT DISTINCT event_type, user_id FROM events),
        sz AS (SELECT event_type, COUNT(*) AS n FROM su GROUP BY event_type),
        pairs AS (
            SELECT za.event_type AS segment_a, zb.event_type AS segment_b,
                   za.n AS na, zb.n AS nb
            FROM sz za JOIN sz zb ON za.event_type < zb.event_type),
        ix AS (
            SELECT a.event_type AS segment_a, b.event_type AS segment_b,
                   COUNT(*) AS ni
            FROM su a JOIN su b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2)
        SELECT p.segment_a, p.segment_b,
               CAST(COALESCE(ix.ni, 0) AS BIGINT) AS n_overlap,
               CAST(p.na + p.nb - COALESCE(ix.ni, 0) AS BIGINT) AS n_union,
               round(COALESCE(ix.ni, 0) * 1.0
                     / (p.na + p.nb - COALESCE(ix.ni, 0)), 6) AS jaccard
        FROM pairs p LEFT JOIN ix
          ON ix.segment_a = p.segment_a AND ix.segment_b = p.segment_b
    """,
    # KLL at k=65535 retains every fixture value: the sketch quantile
    # is the inclusive ceiling-rank order statistic, recomputed here.
    "kll_quantile_rollup": """
        WITH r AS (
            SELECT l_returnflag AS grp, CAST(l_extendedprice AS DOUBLE) AS v,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_extendedprice) AS rn,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem),
        rt AS (
            SELECT CAST(l_extendedprice AS DOUBLE) AS v,
                   row_number() OVER (ORDER BY l_extendedprice) AS rn,
                   COUNT(*) OVER () AS n
            FROM lineitem)
        SELECT grp, CAST(any_value(n) AS BIGINT) AS n_rows,
               round(min(v) FILTER (rn = CAST(ceil(0.50 * n) AS BIGINT)), 6) AS p50,
               round(min(v) FILTER (rn = CAST(ceil(0.95 * n) AS BIGINT)), 6) AS p95
        FROM r GROUP BY grp
        UNION ALL
        SELECT '__total__', CAST(any_value(n) AS BIGINT),
               round(min(v) FILTER (rn = CAST(ceil(0.50 * n) AS BIGINT)), 6),
               round(min(v) FILTER (rn = CAST(ceil(0.95 * n) AS BIGINT)), 6)
        FROM rt
    """,
    "mask_pii": f"""
        WITH seeded AS (
            SELECT doc_id,
                   text || ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                        || '-45-6789 card 4111 1111 1111 1111'
                        || ' call (415) 555-0133 ip 192.168.1.77' AS raw
            FROM documents)
        SELECT doc_id, {_pii_sql("raw")} AS redacted FROM seeded
    """,
    "lang_id_multi": f"""
        WITH sc AS (
            SELECT doc_id,
                   {_lang_score_sql("de")} AS s_de,
                   {_lang_score_sql("en")} AS s_en,
                   {_lang_score_sql("es")} AS s_es,
                   {_lang_score_sql("fr")} AS s_fr
            FROM documents),
        m AS (SELECT doc_id, s_de, s_en, s_es, s_fr,
                     greatest(s_de, s_en, s_es, s_fr) AS mx FROM sc)
        SELECT doc_id,
               CASE WHEN mx < 0.08 THEN 'other'
                    WHEN s_de = mx THEN 'de'
                    WHEN s_en = mx THEN 'en'
                    WHEN s_es = mx THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM m
    """,
    "split_train_val_test": f"""
        SELECT doc_id,
               CASE WHEN b < 50000 THEN 'val'
                    WHEN b < 100000 THEN 'test'
                    ELSE 'train' END AS split
        FROM (SELECT doc_id, {_split_bucket_sql("doc_id")} AS b FROM documents)
    """,
    "sample_mixture": f"""
        SELECT doc_id, lang, round(keep_rate, 6) AS keep_rate
        FROM (SELECT doc_id, lang,
                     CAST(CASE WHEN lang = 'en' THEN 0.5 ELSE 0.25 END
                          AS DOUBLE) AS keep_rate,
                     {_split_bucket_sql("doc_id", 13)} AS b
              FROM documents)
        WHERE b < CAST(floor(keep_rate * 1000000) AS BIGINT)
    """,
    "curate_for_training": f"""
        WITH toks AS (
            SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
        gated AS (
            SELECT doc_id,
                   {_QUALITY} AS quality,
                   {_clean_sql(_pii_sql("text"))} AS clean_text
            FROM toks
            WHERE (len(l) - len(list_distinct(l))) * 1.0
                  / greatest(len(l), 1) <= 0.5
              AND {_QUALITY} >= 0.5),
        surv AS (
            SELECT min(doc_id) AS doc_id,
                   arg_min(clean_text, doc_id) AS clean_text,
                   arg_min(quality, doc_id) AS quality
            FROM gated GROUP BY md5(clean_text))
        SELECT doc_id,
               CASE WHEN {_split_bucket_sql("doc_id")} < 50000 THEN 'val'
                    WHEN {_split_bucket_sql("doc_id")} < 100000 THEN 'test'
                    ELSE 'train' END AS split,
               clean_text, quality
        FROM surv
    """,
    # The WAV synthesizer derives its shape from (doc_id, n_chars) via
    # multimodal._wav_params; the oracle recomputes the decoded
    # metadata from the same arithmetic — the chunk-walk parse under
    # test must reproduce it from real RIFF bytes.
    "decode_audio_meta": """
        SELECT doc_id,
               'audio/wav' AS mime,
               CAST(44 + n_chars * (1 + doc_id % 2) * 2 AS BIGINT) AS n_bytes,
               CAST(1 + doc_id % 2 AS INTEGER) AS n_channels,
               CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS sample_rate,
               CAST(n_chars AS BIGINT) AS n_samples
        FROM documents
    """,
    # resize_images itself is rows-only (binary output); this twin pins
    # the kernel: header parse succeeded (mime), output contract
    # (3·4·4 bytes), and every pixel equal to the independent
    # planted-formula recomputation (pixels_ok).
    "resize_images_check": """
        SELECT doc_id,
               'image/x-portable-pixmap' AS mime,
               CAST(48 AS BIGINT) AS n_bytes,
               TRUE AS pixels_ok
        FROM documents
    """,
    # JM weights appear as explicit double literals on BOTH sides:
    # DuckDB's 1 - 0.7 is EXACT decimal 0.3 while IEEE 1.0-0.7 is
    # 0.30000000000000004 — the cross-engine float trap; CAST(0.3 AS
    # DOUBLE) == Python float 0.3 == Spark lit(0.3).
    "bigram_perplexity": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), uni AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS cu
            FROM toks GROUP BY token
        ), tot AS (
            SELECT CAST(SUM(cu) AS BIGINT) AS total FROM uni
        ), big AS (
            SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
            FROM (SELECT doc_id, string_split(text, ' ') AS a
                  FROM documents),
                 unnest(range(1, len(a))) AS r(i)
        ), cb AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
            FROM big GROUP BY w1, w2
        ), cc AS (
            SELECT w1, CAST(SUM(cb) AS BIGINT) AS cc FROM cb GROUP BY w1
        ), probs AS (
            SELECT w1, w2,
                   CAST(round(-log2(
                       CAST(0.7 AS DOUBLE) * (cb / cc)
                       + CAST(0.3 AS DOUBLE) * (cu / total)), 6)
                        AS DECIMAL(18,6)) AS bits
            FROM cb JOIN cc USING (w1) JOIN uni ON uni.token = cb.w2, tot
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               FLOOR(CAST(SUM(bits) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6
                   AS bits_per_bigram
        FROM big JOIN probs USING (w1, w2)
        GROUP BY doc_id
    """,
    "unigram_perplexity": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ), cnts AS (
            SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
        ), total AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnts
        ), bits AS (
            SELECT token,
                   CAST(round(-log2(CAST(cnt AS DOUBLE) / total), 6)
                        AS DECIMAL(18,6)) AS bits
            FROM cnts CROSS JOIN total
        )
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               FLOOR(CAST(SUM(bits) AS DOUBLE) / COUNT(*) * 1000000.0 + 0.5)
                   / 1000000.0 AS bits_per_token
        FROM toks JOIN bits USING (token)
        GROUP BY doc_id
    """,
    # Fixed-point PageRank, 3 power iterations unrolled — term-for-term
    # the arithmetic of operators/graph.py (every contribution rounded
    # to 6 dp, accumulated as DECIMAL(18,6)).
    "pagerank_fixed": """
        WITH edges AS (
            SELECT src, dst, COUNT(*) AS w FROM (
                SELECT event_type AS dst,
                       LAG(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS src
                FROM events
            ) WHERE src IS NOT NULL GROUP BY src, dst
        ), nodes AS (
            SELECT DISTINCT event_type AS node FROM events
        ), nrel AS (
            SELECT COUNT(*) AS n_nodes FROM nodes
        ), outw AS (
            SELECT src, SUM(w) AS outw FROM edges GROUP BY src
        ), r0 AS (
            SELECT node,
                   CAST(round(CAST(1.0 AS DOUBLE) / n_nodes, 6)
                        AS DECIMAL(18,6)) AS rank
            FROM nodes CROSS JOIN nrel
        ), c1 AS (
            SELECT e.dst AS node,
                   SUM(CAST(round(CAST(0.85 AS DOUBLE) * CAST(r.rank AS DOUBLE)
                                  * e.w / o.outw, 6) AS DECIMAL(18,6))) AS in_mass
            FROM edges e JOIN r0 r ON e.src = r.node JOIN outw o ON e.src = o.src
            GROUP BY e.dst
        ), d1 AS (
            SELECT COALESCE(SUM(rank), CAST(0 AS DECIMAL(18,6))) AS dm
            FROM r0 WHERE node NOT IN (SELECT src FROM outw)
        ), r1 AS (
            SELECT n.node,
                   CAST(CAST(round(CAST(0.15 AS DOUBLE) / nrel.n_nodes, 6)
                             AS DECIMAL(18,6))
                      + CAST(round(CAST(0.85 AS DOUBLE) * CAST(d1.dm AS DOUBLE)
                                   / nrel.n_nodes, 6) AS DECIMAL(18,6))
                      + COALESCE(c1.in_mass, CAST(0 AS DECIMAL(18,6)))
                      AS DECIMAL(18,6)) AS rank
            FROM nodes n CROSS JOIN nrel CROSS JOIN d1
            LEFT JOIN c1 ON n.node = c1.node
        ), c2 AS (
            SELECT e.dst AS node,
                   SUM(CAST(round(CAST(0.85 AS DOUBLE) * CAST(r.rank AS DOUBLE)
                                  * e.w / o.outw, 6) AS DECIMAL(18,6))) AS in_mass
            FROM edges e JOIN r1 r ON e.src = r.node JOIN outw o ON e.src = o.src
            GROUP BY e.dst
        ), d2 AS (
            SELECT COALESCE(SUM(rank), CAST(0 AS DECIMAL(18,6))) AS dm
            FROM r1 WHERE node NOT IN (SELECT src FROM outw)
        ), r2 AS (
            SELECT n.node,
                   CAST(CAST(round(CAST(0.15 AS DOUBLE) / nrel.n_nodes, 6)
                             AS DECIMAL(18,6))
                      + CAST(round(CAST(0.85 AS DOUBLE) * CAST(d2.dm AS DOUBLE)
                                   / nrel.n_nodes, 6) AS DECIMAL(18,6))
                      + COALESCE(c2.in_mass, CAST(0 AS DECIMAL(18,6)))
                      AS DECIMAL(18,6)) AS rank
            FROM nodes n CROSS JOIN nrel CROSS JOIN d2
            LEFT JOIN c2 ON n.node = c2.node
        ), c3 AS (
            SELECT e.dst AS node,
                   SUM(CAST(round(CAST(0.85 AS DOUBLE) * CAST(r.rank AS DOUBLE)
                                  * e.w / o.outw, 6) AS DECIMAL(18,6))) AS in_mass
            FROM edges e JOIN r2 r ON e.src = r.node JOIN outw o ON e.src = o.src
            GROUP BY e.dst
        ), d3 AS (
            SELECT COALESCE(SUM(rank), CAST(0 AS DECIMAL(18,6))) AS dm
            FROM r2 WHERE node NOT IN (SELECT src FROM outw)
        ), r3 AS (
            SELECT n.node,
                   CAST(CAST(round(CAST(0.15 AS DOUBLE) / nrel.n_nodes, 6)
                             AS DECIMAL(18,6))
                      + CAST(round(CAST(0.85 AS DOUBLE) * CAST(d3.dm AS DOUBLE)
                                   / nrel.n_nodes, 6) AS DECIMAL(18,6))
                      + COALESCE(c3.in_mass, CAST(0 AS DECIMAL(18,6)))
                      AS DECIMAL(18,6)) AS rank
            FROM nodes n CROSS JOIN nrel CROSS JOIN d3
            LEFT JOIN c3 ON n.node = c3.node
        )
        SELECT node, CAST(rank AS DOUBLE) AS rank FROM r3
    """,
    "cdc_snapshot_diff": """
        SELECT * FROM (
            WITH base AS (
                SELECT o_orderkey, o_totalprice AS price FROM orders
            ), v1 AS (
                SELECT o_orderkey, price AS before_price
                FROM base WHERE o_orderkey % 11 <> 3
            ), v2 AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 5 = 0
                            THEN CAST(CAST(price AS DECIMAL(12,2))
                                      * CAST('1.10' AS DECIMAL(3,2)) AS DOUBLE)
                            ELSE price END AS after_price
                FROM base WHERE o_orderkey % 11 <> 7
            )
            SELECT o_orderkey, before_price, after_price,
                   CASE WHEN before_price IS NULL THEN 'insert'
                        WHEN after_price IS NULL THEN 'delete'
                        WHEN before_price <> after_price THEN 'update'
                   END AS op
            FROM v1 FULL JOIN v2 USING (o_orderkey)
        ) WHERE op IS NOT NULL
    """,
    "feature_binning": """
        WITH bounds AS (
            SELECT round(quantile_cont(l_extendedprice, 0.1), 6) AS b1,
                   round(quantile_cont(l_extendedprice, 0.2), 6) AS b2,
                   round(quantile_cont(l_extendedprice, 0.3), 6) AS b3,
                   round(quantile_cont(l_extendedprice, 0.4), 6) AS b4,
                   round(quantile_cont(l_extendedprice, 0.5), 6) AS b5,
                   round(quantile_cont(l_extendedprice, 0.6), 6) AS b6,
                   round(quantile_cont(l_extendedprice, 0.7), 6) AS b7,
                   round(quantile_cont(l_extendedprice, 0.8), 6) AS b8,
                   round(quantile_cont(l_extendedprice, 0.9), 6) AS b9
            FROM lineitem
        ), binned AS (
            SELECT l_extendedprice AS price,
                   (CASE WHEN l_extendedprice >= b1 THEN 1 ELSE 0 END
                  + CASE WHEN l_extendedprice >= b2 THEN 1 ELSE 0 END
                  + CASE WHEN l_extendedprice >= b3 THEN 1 ELSE 0 END
                  + CASE WHEN l_extendedprice >= b4 THEN 1 ELSE 0 END
                  + CASE WHEN l_extendedprice >= b5 THEN 1 ELSE 0 END
                  + CASE WHEN l_extendedprice >= b6 THEN 1 ELSE 0 END
                  + CASE WHEN l_extendedprice >= b7 THEN 1 ELSE 0 END
                  + CASE WHEN l_extendedprice >= b8 THEN 1 ELSE 0 END
                  + CASE WHEN l_extendedprice >= b9 THEN 1 ELSE 0 END
                   ) AS bucket_id
            FROM lineitem CROSS JOIN bounds
        )
        SELECT bucket_id, COUNT(*) AS n_rows,
               MIN(price) AS min_price, MAX(price) AS max_price
        FROM binned GROUP BY bucket_id
    """,
    "semdedup_check": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
               CAST(COUNT(*) AS BIGINT) AS n_recovered,
               TRUE AS all_found
        FROM embeddings
        WHERE vec_id < 20
    """,
    # Matched half = the batch interval join verbatim; outer half =
    # unmatched purchases STRICTLY below the final watermark
    # min(max p_ts, max s_ts) − 4 h (rows above it are still held in
    # state at termination — emitting them would be wrong).
    "stream_outer_join_live": """
        WITH p AS (
            SELECT user_id, event_id, ts FROM events
            WHERE event_type = 'purchase'
        ), s AS (
            SELECT user_id, ts FROM events WHERE event_type = 'signup'
        ), wm AS (
            SELECT least((SELECT MAX(ts) FROM p), (SELECT MAX(ts) FROM s))
                   - INTERVAL 4 HOUR AS w
        )
        SELECT p.user_id, p.event_id AS purchase_id,
               p.ts AS p_ts, s.ts AS s_ts
        FROM p JOIN s
          ON p.user_id = s.user_id
         AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR
        UNION ALL
        SELECT p.user_id, p.event_id AS purchase_id,
               p.ts AS p_ts, NULL AS s_ts
        FROM p CROSS JOIN wm
        WHERE NOT EXISTS (
            SELECT 1 FROM s
            WHERE s.user_id = p.user_id
              AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR
        ) AND p.ts < wm.w
    """,
    "scan_project": """
        SELECT l_orderkey, l_linenumber,
               CAST(FLOOR(l_quantity) AS INTEGER) AS qty_int,
               l_returnflag
        FROM lineitem
    """,
    "filter_pred": """
        SELECT l_orderkey, l_linenumber, l_shipdate, l_discount, l_returnflag
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount >= 0.03
          AND l_returnflag IN ('A', 'R')
    """,
    "json_extract": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value
        FROM events
    """,
    "conditional_score": f"""
        SELECT event_id, event_type, {_SCORE} AS score FROM events
    """,
    "decay_weight": f"""
        SELECT event_id, round({_DECAY}, 6) AS weight FROM events
    """,
    "tokenize_explode": """
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    """,
    "keyword_freq": """
        SELECT token, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    """,
    "keyword_topk": """
        SELECT token, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
        ORDER BY freq DESC, token ASC
        LIMIT 10
    """,
    "distinct_count": """
        SELECT source, COUNT(DISTINCT text) AS n_distinct_texts
        FROM documents GROUP BY source
    """,
    "streaming_decay_trend": f"""
        WITH scored AS (
            SELECT ts, event_type,
                   {_SCORE} AS score,
                   {_DECAY} AS weight,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
            FROM events
        )
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               CAST(SUM(CAST(round(weight * score, 6) AS DECIMAL(28,6))) AS DOUBLE) AS decayed_score,
               CAST(SUM(CAST(round(weight * CAST(k AS DOUBLE), 6) AS DECIMAL(28,6))) AS DOUBLE) AS decayed_k,
               COUNT(*) AS n_events
        FROM scored
        GROUP BY 1, 2
    """,
    "sql_tpch_q1": _SQL_Q1.format(table="lineitem"),
    "agg_basic": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                        * (CAST('1.00' AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    "dedup_clusters": """
        WITH RECURSIVE t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        sh AS (
            SELECT DISTINCT t.doc_id,
                   array_to_string(t.toks[i.i : i.i + 2], ' ') AS shingle
            FROM t, LATERAL (
                SELECT unnest(range(1, greatest(len(t.toks) - 2, 1) + 1)) AS i
            ) i
        ),
        keep AS (
            SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 5
        ),
        rare AS (
            SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
        ),
        pairs AS (
            SELECT l.doc_id AS src, r.doc_id AS dst
            FROM rare l
            JOIN rare r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
        ),
        edges AS (
            SELECT src, dst FROM pairs
            UNION ALL
            SELECT dst, src FROM pairs
        ),
        walk(node, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
        )
        SELECT node AS doc_id,
               MIN(label) AS cluster_id,
               (node = MIN(label)) AS is_canonical
        FROM walk
        GROUP BY node
    """,
    "trend_rising": """
        WITH counts AS (
            SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
                   event_type, COUNT(*) AS n_events
            FROM events
            GROUP BY 1, 2
        ),
        base AS (
            SELECT window_start, event_type, n_events,
                   round(AVG(n_events) OVER w, 6) AS baseline_avg,
                   COUNT(*) OVER w AS baseline_n
            FROM counts
            WINDOW w AS (PARTITION BY event_type ORDER BY window_start
                         ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
        ),
        lifted AS (
            SELECT window_start, event_type, n_events, baseline_avg,
                   round(n_events / baseline_avg, 6) AS lift
            FROM base
            WHERE baseline_n = 3
        )
        SELECT window_start, event_type, n_events, baseline_avg, lift,
               CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                                       ORDER BY lift DESC, event_type ASC)
                    AS INTEGER) AS rnk
        FROM lifted
    """,
    "embed_quantize": """
        WITH prep AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   greatest(
                       list_max(list_transform(embedding,
                                               x -> abs(CAST(x AS DOUBLE)))),
                       1e-12
                   ) / 127.0 AS scale_raw
            FROM embeddings
        )
        SELECT vec_id,
               round(scale_raw, 6) AS scale,
               array_to_string(
                   list_transform(v, x -> CAST(floor(x / scale_raw + 0.5)
                                               AS INTEGER)), ',') AS q_csv,
               CAST(len(v) AS BIGINT) AS n_dims
        FROM prep
    """,
    # Same 2-round vocab-encode chain as bpe_encode_check, then the
    # pack_sequences window arithmetic over the summed BPE lengths.
    "pack_sequences_bpe": """
        WITH docw AS (
            SELECT doc_id, w FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents
            ) WHERE w <> ''
        ), words AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM docw GROUP BY w
        ), e0 AS (
            SELECT w, freq,
                   '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s
            FROM words
        ), p1 AS (
            SELECT p[1] AS lhs, p[2] AS rhs, CAST(SUM(freq) AS BIGINT) AS pf
            FROM (
                SELECT freq,
                       unnest(list_zip(arr[1:len(arr)-1], arr[2:len(arr)])) AS p
                FROM (SELECT freq, string_split(trim(s), '  ') AS arr FROM e0)
            ) GROUP BY lhs, rhs
        ), m1 AS (
            SELECT lhs, rhs FROM p1 ORDER BY pf DESC, lhs, rhs LIMIT 1
        ), e1 AS (
            SELECT w, freq,
                   replace(replace(s,
                       ' '||m1.lhs||'  '||m1.rhs||' ', ' '||m1.lhs||m1.rhs||' '),
                       ' '||m1.lhs||'  '||m1.rhs||' ', ' '||m1.lhs||m1.rhs||' ') AS s
            FROM e0 CROSS JOIN m1
        ), p2 AS (
            SELECT p[1] AS lhs, p[2] AS rhs, CAST(SUM(freq) AS BIGINT) AS pf
            FROM (
                SELECT freq,
                       unnest(list_zip(arr[1:len(arr)-1], arr[2:len(arr)])) AS p
                FROM (SELECT freq, string_split(trim(s), '  ') AS arr FROM e1)
            ) GROUP BY lhs, rhs
        ), m2 AS (
            SELECT lhs, rhs FROM p2 ORDER BY pf DESC, lhs, rhs LIMIT 1
        ), e2 AS (
            SELECT w,
                   replace(replace(s,
                       ' '||m2.lhs||'  '||m2.rhs||' ', ' '||m2.lhs||m2.rhs||' '),
                       ' '||m2.lhs||'  '||m2.rhs||' ', ' '||m2.lhs||m2.rhs||' ') AS s
            FROM e1 CROSS JOIN m2
        ), enc AS (
            SELECT w,
                   CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS tpw
            FROM e2
        ), counts AS (
            SELECT doc_id,
                   CAST(SUM(tpw) AS BIGINT) AS n_toks,
                   doc_id % 32 AS bucket
            FROM docw JOIN enc USING (w)
            GROUP BY doc_id
        ), cum AS (
            SELECT doc_id, bucket, n_toks,
                   COALESCE(SUM(n_toks) OVER (
                       PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before
            FROM counts
        )
        SELECT doc_id, bucket, n_toks,
               CAST(FLOOR(cum_before / 2048) AS BIGINT) AS local_seq,
               CAST(bucket * 1000000 + FLOOR(cum_before / 2048) AS BIGINT)
                   AS seq_id
        FROM cum
    """,
    "pack_sequences": """
        WITH toks AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
                   doc_id % 32 AS bucket
            FROM documents
        ),
        cum AS (
            SELECT doc_id, bucket, n_toks,
                   COALESCE(SUM(n_toks) OVER (
                       PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before
            FROM toks
        )
        SELECT doc_id, bucket, n_toks,
               CAST(FLOOR(cum_before / 512) AS BIGINT) AS local_seq,
               CAST(bucket * 1000000 + FLOOR(cum_before / 512) AS BIGINT) AS seq_id
        FROM cum
    """,
    "cms_window_probe": """
        WITH w AS (
            SELECT DISTINCT time_bucket(INTERVAL '1 day', ts) AS window_start
            FROM events
        ),
        k AS (
            SELECT * FROM (VALUES ('click'), ('view'), ('purchase'),
                                  ('signup'), ('error')) AS t(event_type)
        ),
        c AS (
            SELECT time_bucket(INTERVAL '1 day', ts) AS ws, event_type,
                   COUNT(*) AS n
            FROM events
            GROUP BY 1, 2
        )
        SELECT w.window_start, k.event_type,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS est_count
        FROM w CROSS JOIN k
        LEFT JOIN c ON c.ws = w.window_start AND c.event_type = k.event_type
    """,
    "window_tumbling": """
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1
    """,
    "stream_decay_trend_live": f"""
        WITH scored AS (
            SELECT ts, event_type,
                   {_SCORE} AS score,
                   {_DECAY} AS weight,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
            FROM events
        )
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               CAST(SUM(CAST(round(weight * score, 6) AS DECIMAL(28,6))) AS DOUBLE) AS decayed_score,
               CAST(SUM(CAST(round(weight * CAST(k AS DOUBLE), 6) AS DECIMAL(28,6))) AS DOUBLE) AS decayed_k,
               COUNT(*) AS n_events
        FROM scored
        GROUP BY 1, 2
    """,
    "window_sliding": """
        WITH w AS (
            SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, value FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', value FROM events
        )
        SELECT window_start, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM w GROUP BY 1
    """,
    "window_session": """
        WITH o AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ), s AS (
            SELECT user_id, ts,
                   SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) AS sess_id
            FROM o
        )
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        FROM s GROUP BY user_id, sess_id
    """,
    # Gap-filled bucket series: spine via generate_series, LOCF via
    # last_value IGNORE NULLS — exact equality including leading-NULL
    # buckets before a type's first observation.
    "gapfill_locf": """
        WITH buckets AS (
            SELECT time_bucket(INTERVAL '10 minutes', ts) AS bucket, event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        ),
        bounds AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM buckets),
        spine AS (
            SELECT t.event_type,
                   unnest(generate_series(b.lo, b.hi, INTERVAL '10 minutes'))
                       AS bucket
            FROM (SELECT DISTINCT event_type FROM buckets) t, bounds b
        )
        SELECT s.event_type, s.bucket,
               COALESCE(b.n_events, 0) AS n_events,
               last_value(b.sum_value IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.bucket
                   ROWS UNBOUNDED PRECEDING
               ) AS sum_value_locf,
               b.n_events IS NULL AS gap_filled
        FROM spine s
        LEFT JOIN buckets b ON s.event_type = b.event_type AND s.bucket = b.bucket
    """,
    # Full z-score surface (not just flagged rows) so the check is
    # non-vacuous on near-uniform traffic; moments rounded to 6 dp on
    # both sides before the division (ulp discipline).
    "trend_anomaly": """
        WITH counts AS (
            SELECT time_bucket(INTERVAL '1 day', ts) AS window_start, event_type,
                   COUNT(*) AS n_events
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type,
                   ROUND(AVG(n_events), 6) AS mean_n,
                   ROUND(STDDEV_SAMP(n_events), 6) AS std_n
            FROM counts GROUP BY event_type
        )
        SELECT c.window_start, c.event_type, c.n_events,
               ROUND((c.n_events - s.mean_n) / NULLIF(s.std_n, 0.0), 6) AS z,
               COALESCE(
                   ABS(ROUND((c.n_events - s.mean_n) / NULLIF(s.std_n, 0.0), 6))
                       >= 2.0,
                   FALSE
               ) AS is_anomaly
        FROM counts c JOIN stats s USING (event_type)
    """,
    # SymSpell deletion-neighborhood join vs exhaustive search: the
    # oracle brute-forces every vocab pair with levenshtein — exact row
    # equality proves the scalable candidate generation loses nothing.
    "fuzzy_token_join": """
        WITH toks AS (
            SELECT DISTINCT unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        typos AS (
            SELECT DISTINCT substring(tok, 1, CAST(floor(length(tok) / 2) AS INT))
                   || substring(tok, CAST(floor(length(tok) / 2) AS INT) + 2) AS tok
            FROM toks WHERE length(tok) >= 4
        ),
        vocab AS (SELECT tok FROM toks UNION SELECT tok FROM typos)
        SELECT a.tok AS token_a, b.tok AS token_b,
               CAST(levenshtein(a.tok, b.tok) AS INT) AS dist
        FROM vocab a JOIN vocab b ON a.tok < b.tok
        WHERE levenshtein(a.tok, b.tok) <= 1
    """,
    # The foreachBatch→parquet sink must deliver every source row
    # exactly once; the oracle aggregates the SOURCE directly.
    "stream_sink_live": """
        SELECT event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT event_id) AS n_distinct_ids,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type
    """,
    # Stream-static enrich join must equal the batch join+window agg —
    # same dim literal + exact-decimal discipline as join_skewed.
    "stream_enrich_live": """
        WITH dim AS (
            SELECT * FROM (VALUES
                ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
                ('signup', 5.0), ('error', -2.0)
            ) AS t(event_type, weight)
        )
        SELECT time_bucket(INTERVAL '1 day', e.ts) AS window_start,
               e.event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(round(e.value * CAST(d.weight AS DOUBLE), 6)
                             AS DECIMAL(28,6))) AS DOUBLE) AS weighted_value
        FROM events e JOIN dim d ON e.event_type = d.event_type
        GROUP BY 1, 2
    """,
    # Streaming sessionization must converge to the batch session set —
    # identical gaps-and-islands oracle as window_session.
    "stream_session_live": """
        WITH o AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ), s AS (
            SELECT user_id, ts,
                   SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) AS sess_id
            FROM o
        )
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        FROM s GROUP BY user_id, sess_id
    """,
    # Winnowing recomputed gram-for-gram: md5 hex strings compare
    # lexicographically identically in both engines.
    "winnow_fingerprints": """
        WITH g AS (
            SELECT doc_id,
                   list_transform(
                       range(len(w) - 4 + 1),
                       i -> md5(array_to_string(w[i + 1:i + 4], ' '))
                   ) AS hs
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            WHERE len(w) >= 4
        )
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(len(hs) - 5 + 1),
                   i -> list_aggregate(hs[i + 1:i + 5], 'min')
               ))) AS fp
        FROM g
        WHERE len(hs) >= 5
    """,
    "window_lag_lead": """
        SELECT user_id, event_id,
               lag(event_id) OVER w AS prev_event_id,
               lead(event_id) OVER w AS next_event_id,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
    "pivot_counts": """
        SELECT user_id,
               COUNT(*) FILTER (WHERE event_type = 'click')    AS n_click,
               COUNT(*) FILTER (WHERE event_type = 'error')    AS n_error,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
               COUNT(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
               COUNT(*) FILTER (WHERE event_type = 'view')     AS n_view
        FROM events GROUP BY user_id
    """,
    "percentile_agg": """
        SELECT l_returnflag,
               round(quantile_cont(l_quantity, 0.5), 6)  AS p50_qty,
               round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    "stats_moments": """
        SELECT l_linestatus,
               round(stddev_samp(l_quantity), 6) AS sd_qty,
               round(var_samp(l_discount), 6) AS var_disc,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               round(covar_samp(l_quantity, l_extendedprice), 6) AS cov_qty_price
        FROM lineitem GROUP BY l_linestatus
    """,
    "minmax_by": """
        WITH r AS (
            SELECT o_custkey, o_orderkey,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey DESC) AS rb,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice ASC, o_orderkey ASC) AS rw
            FROM orders
        )
        SELECT o_custkey,
               MAX(CASE WHEN rb = 1 THEN o_orderkey END) AS best_order,
               MAX(CASE WHEN rw = 1 THEN o_orderkey END) AS worst_order,
               COUNT(*) AS n_orders
        FROM r GROUP BY o_custkey
    """,
    "multi_distinct": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type
    """,
    "array_agg_sorted": """
        SELECT user_id,
               array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv
        FROM events GROUP BY user_id
    """,
    "date_parts": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(month(o_orderdate) AS INTEGER) AS o_month,
               CAST(day(o_orderdate) AS INTEGER) AS o_day,
               CAST(isodow(o_orderdate) AS INTEGER) AS o_isodow,
               CAST(quarter(o_orderdate) AS INTEGER) AS o_quarter,
               date_trunc('month', o_orderdate) AS month_start,
               CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2025-01-01') AS INTEGER) AS days_to_2025,
               CAST(o_orderdate AS DATE) + 30 AS due_date
        FROM orders
    """,
    "string_funcs": """
        SELECT p_partkey,
               upper(p_name) AS name_upper,
               substring(p_brand, 7, 2) AS brand_code,
               concat_ws('/', p_type, p_brand) AS type_brand,
               CAST(length(p_name) AS INTEGER) AS name_len,
               p_name LIKE '%red%' AS has_red,
               regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
               lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
               string_split(p_type, ' ')[1] AS type_head
        FROM part
    """,
    "null_handling": """
        SELECT o_orderkey,
               nullif(o_orderstatus, 'O') AS status_or_null,
               coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
               CASE WHEN nullif(o_orderstatus, 'O') IS NULL
                    THEN 'is_open' ELSE 'closed' END AS openness,
               nullif(o_orderstatus, 'O') IS NULL AS is_open_flag
        FROM orders
    """,
    "unpivot_measures": """
        SELECT l_orderkey, l_linenumber, measure, value
        FROM (
            UNPIVOT (SELECT l_orderkey, l_linenumber,
                            l_quantity, l_extendedprice, l_discount
                     FROM lineitem)
            ON l_quantity, l_extendedprice, l_discount
            INTO NAME measure VALUE value
        )
    """,
    "window_rank": """
        SELECT user_id, event_id, value, rnk FROM (
            SELECT user_id, event_id, value,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY value DESC, event_id ASC
                   ) AS INTEGER) AS rnk
            FROM events
        ) WHERE rnk <= 3
    """,
    "join_hash": """
        WITH sn AS (
            SELECT s_nationkey, COUNT(*) AS n_suppliers
            FROM supplier GROUP BY 1
        )
        SELECT r_name AS region_name, n_name AS nation_name,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_totalprice,
               COALESCE(ANY_VALUE(sn.n_suppliers), 0) AS n_suppliers
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        LEFT JOIN sn  ON s_nationkey = n_nationkey
        GROUP BY 1, 2
    """,
    "join_broadcast": """
        SELECT p_brand AS brand,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1
    """,
    "join_semi_anti": """
        SELECT c_custkey, 'has_orders' AS tag FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        UNION ALL
        SELECT c_custkey, 'no_orders' AS tag FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "set_ops": """
        WITH a AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
             b AS (SELECT user_id FROM events WHERE value > 100.0)
        SELECT user_id, 'union_all' AS tag
        FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
        UNION ALL
        SELECT user_id, 'intersect' AS tag
        FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        UNION ALL
        SELECT user_id, 'except_all' AS tag
        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    """,
    "rollup_agg": """
        SELECT n_name AS nation_name, c_mktsegment AS mktsegment,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP(n_name, c_mktsegment)
    """,
    "cube_agg": """
        SELECT n_name AS nation_name, c_mktsegment AS mktsegment,
               CAST(CASE WHEN GROUPING(n_name) = 1 THEN 1 ELSE 0 END AS INTEGER) AS nation_total,
               CAST(CASE WHEN GROUPING(c_mktsegment) = 1 THEN 1 ELSE 0 END AS INTEGER) AS segment_total,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY CUBE(n_name, c_mktsegment)
    """,
    "correlated_subquery": """
        SELECT c_custkey, n_name AS nation_name, c_acctbal,
               round(nation_avg_bal, 6) AS nation_avg_bal
        FROM (
            SELECT c_custkey, c_nationkey, c_acctbal,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) OVER (PARTITION BY c_nationkey) AS DOUBLE)
                       / COUNT(*) OVER (PARTITION BY c_nationkey) AS nation_avg_bal
            FROM customer
        )
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > nation_avg_bal
    """,
    "asof_join": """
        WITH purchases AS (
            SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
        ), signups AS (
            SELECT user_id, ts FROM events WHERE event_type = 'signup'
        )
        SELECT p.event_id, p.user_id, p.ts, s.ts AS last_signup_ts
        FROM purchases p
        ASOF LEFT JOIN signups s
          ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
    "range_join": """
        WITH bands AS (
            SELECT CAST(i AS INTEGER) AS band_id,
                   i * 10000.0 AS lo, (i + 1) * 10000.0 AS hi
            FROM range(12) t(i)
        )
        SELECT band_id, COUNT(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM lineitem JOIN bands
          ON l_extendedprice >= lo AND l_extendedprice < hi
        GROUP BY band_id
    """,
    "dedup_exact": """
        SELECT text, MIN(doc_id) AS doc_id FROM documents GROUP BY text
    """,
    "sim_search": f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
            FROM embeddings WHERE vec_id IN (0, 1, 2)
        ),
        scored AS (
            SELECT p.probe_id, e.vec_id,
                   {_COSINE.format(a="p.pv", b="CAST(e.embedding AS DOUBLE[])")} AS sim
            FROM embeddings e CROSS JOIN probes p
            WHERE e.vec_id <> p.probe_id
        )
        SELECT probe_id, vec_id, sim, rnk FROM (
            SELECT probe_id, vec_id, sim,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY probe_id ORDER BY sim DESC, vec_id ASC
                   ) AS INTEGER) AS rnk
            FROM scored
        ) WHERE rnk <= 5
    """,
    "embed_centroids": """
        WITH pos AS (
            SELECT label,
                   generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos,
                   unnest(CAST(embedding AS DOUBLE[])) AS val
            FROM embeddings
        ), m AS (
            SELECT label, pos, avg(val) AS m FROM pos GROUP BY label, pos
        ), norms AS (
            SELECT label, round(sqrt(sum(m * m)), 6) AS centroid_norm
            FROM m GROUP BY label
        )
        SELECT e.label, COUNT(*) AS n_vecs, any_value(n.centroid_norm) AS centroid_norm
        FROM embeddings e JOIN norms n ON e.label = n.label
        GROUP BY e.label
    """,
    "text_stats": """
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
        FROM documents
        GROUP BY lang
    """,
    "doc_profile": f"""
        SELECT doc_id,
               CASE WHEN {_STOP_RATIO} >= 0.08 THEN 'en' ELSE 'other' END AS lang_pred,
               {_QUALITY} AS quality,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS BIGINT) AS n_word_tok,
               md5(lower(text)) AS fp
        FROM documents
    """,
    "text_clean": """
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(lower(text), 'https?://[^ ]+', '<url>', 'g'),
                           '[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'),
                       '[^a-z0-9<> ]', ' ', 'g'),
                   '  +', ' ', 'g')) AS clean_text
        FROM documents
    """,
    "tfidf_top_term": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ), tf AS (
            SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
        ), dfr AS (
            SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM toks)
            GROUP BY token
        ), n AS (
            SELECT COUNT(DISTINCT doc_id) AS n FROM documents
        ), weighted AS (
            SELECT tf.doc_id, tf.token,
                   round(tf.tf * ln(CAST(n.n AS DOUBLE) / CAST(dfr.df AS DOUBLE)), 6) AS tfidf
            FROM tf JOIN dfr USING (token) CROSS JOIN n
        ), ranked AS (
            SELECT doc_id, token, tfidf,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, token DESC) AS r
            FROM weighted
        )
        SELECT doc_id, token AS top_token, tfidf AS top_tfidf
        FROM ranked WHERE r = 1
    """,
    "pipeline_curate": f"""
        WITH cleaned AS (
            SELECT doc_id,
                   {_QUALITY} AS quality,
                   trim(regexp_replace(
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(lower(text), 'https?://[^ ]+', '<url>', 'g'),
                               '[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'),
                           '[^a-z0-9<> ]', ' ', 'g'),
                       '  +', ' ', 'g')) AS clean_text
            FROM documents
        )
        SELECT MIN(doc_id) AS doc_id, clean_text,
               arg_min(quality, doc_id) AS quality
        FROM cleaned
        WHERE quality >= 0.5
        GROUP BY clean_text
    """,
    "quality_filter": f"""
        SELECT doc_id, lang, quality FROM (
            SELECT doc_id, lang, {_QUALITY} AS quality FROM documents
        ) WHERE quality >= 0.55
    """,
    "sentiment_score": f"""
        WITH scored AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ({_POS})))
                        - len(list_filter(string_split(lower(text), ' '), t -> t IN ({_NEG}))) AS DOUBLE)
                   / len(string_split(lower(text), ' ')) AS compound
            FROM documents
        )
        SELECT doc_id, round(compound, 6) AS compound,
               CASE WHEN compound >= 0.05 THEN 'Positive'
                    WHEN compound <= -0.05 THEN 'Negative'
                    ELSE 'Neutral' END AS label
        FROM scored
    """,
    "multimodal_decode": """
        SELECT doc_id,
               'image/fake' AS mime,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               CAST(64 + strlen(text) % 512 AS INTEGER) AS width,
               CAST(64 + (7 * strlen(text)) % 512 AS INTEGER) AS height,
               CAST(1 + strlen(text) % 4 AS INTEGER) AS n_frames
        FROM documents
    """,
    # extract_entities fallback semantics: capitalized spans (RE2 and
    # Python re agree on this pattern) ++ exact gazetteer tokens under
    # A4 single-space tokenization (functions/nlp.py _GAZETTEER).
    "entity_counts": f"""
        WITH ents AS (
            SELECT unnest(list_concat(
                regexp_extract_all(text, '\\b[A-Z][a-z]+(?:\\s+[A-Z][a-z]+)*\\b'),
                list_filter(string_split(text, ' '), t -> t IN ({_GAZ}))
            )) AS entity
            FROM documents
        )
        SELECT entity, COUNT(*) AS freq
        FROM ents
        GROUP BY entity
        ORDER BY freq DESC, entity ASC
        LIMIT 20
    """,
    "running_counts_live": """
        SELECT token, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    """,
    # True cross-batch recurrence: the split stream drains in 3
    # micro-batches (batch b = doc_id % 3 == b, mtime-ordered), a
    # token's state updates only in batches where it appears, so
    # score = Σ_b c_b · 0.9^(#later batches containing the token).
    # Exact multiples of 0.01 for exponent ≤ 2 ⇒ round-6 can't flap.
    "stateful_decay_live": """
        WITH tok AS (
            SELECT doc_id % 3 AS batch,
                   unnest(string_split(text, ' ')) AS token
            FROM documents
        ), per_batch AS (
            SELECT token, batch, COUNT(*) AS c
            FROM tok GROUP BY token, batch
        ), ranked AS (
            SELECT token, c,
                   COUNT(*) OVER (
                       PARTITION BY token ORDER BY batch
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ) AS later
            FROM per_batch
        )
        SELECT token,
               round(SUM(c * POWER(0.9, later)), 6) AS decayed_score,
               CAST(SUM(c) AS BIGINT) AS total_count
        FROM ranked
        GROUP BY token
    """,
    # Identical recurrence oracle — v2 changes the state-store backend
    # (RocksDB), never the math.
    "stateful_decay_live_v2": """
        WITH tok AS (
            SELECT doc_id % 3 AS batch,
                   unnest(string_split(text, ' ')) AS token
            FROM documents
        ), per_batch AS (
            SELECT token, batch, COUNT(*) AS c
            FROM tok GROUP BY token, batch
        ), ranked AS (
            SELECT token, c,
                   COUNT(*) OVER (
                       PARTITION BY token ORDER BY batch
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ) AS later
            FROM per_batch
        )
        SELECT token,
               round(SUM(c * POWER(0.9, later)), 6) AS decayed_score,
               CAST(SUM(c) AS BIGINT) AS total_count
        FROM ranked
        GROUP BY token
    """,
    # The oracle runs the UNSALTED join — equality proves salting is
    # result-invariant (operators/skew.py).
    "join_skewed": """
        WITH dim AS (
            SELECT * FROM (VALUES
                ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
                ('signup', 5.0), ('error', -2.0)
            ) AS t(event_type, weight)
        )
        SELECT e.event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(round(e.value * CAST(d.weight AS DOUBLE), 6)
                             AS DECIMAL(28,6))) AS DOUBLE) AS weighted_value
        FROM events e JOIN dim d ON e.event_type = d.event_type
        GROUP BY e.event_type
    """,
    # The accuracy invariants are asserted engine-side; the oracle pins
    # the exact values and demands every ok-flag be TRUE.
    "approx_distinct_check": """
        SELECT source, COUNT(DISTINCT text) AS n_distinct_texts,
               TRUE AS approx_ok
        FROM documents GROUP BY source
    """,
    "approx_percentile_check": """
        SELECT l_returnflag,
               round(quantile_cont(l_quantity, 0.5), 6)  AS p50_qty,
               round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
               TRUE AS p50_ok,
               TRUE AS p95_ok
        FROM lineitem GROUP BY l_returnflag
    """,
    # The oracle recomputes the exact-top-k denominator; the macro
    # recall boolean is asserted engine-side (operators/similarity.py
    # ann_recall_check — deterministic IVF, so it cannot flap).
    "ann_recall_check": f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
            FROM embeddings WHERE vec_id < 20
        ),
        scored AS (
            SELECT p.probe_id, e.vec_id,
                   {_COSINE.format(a="p.pv", b="CAST(e.embedding AS DOUBLE[])")} AS sim
            FROM embeddings e CROSS JOIN probes p
            WHERE e.vec_id <> p.probe_id
        ),
        topk AS (
            SELECT probe_id FROM (
                SELECT probe_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY probe_id ORDER BY sim DESC, vec_id ASC
                       ) AS rnk
                FROM scored
            ) WHERE rnk <= 5
        )
        SELECT COUNT(DISTINCT probe_id) AS n_probes,
               COUNT(*) AS n_exact_total,
               TRUE AS recall_ok
        FROM topk
    """,
    # Planted-pair recall invariant: the query perturbs and re-finds
    # its own near-dups engine-side; the oracle recomputes the planted
    # count and demands full recovery (same design as ann_recall_check).
    "embed_neardup_check": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
               CAST(COUNT(*) AS BIGINT) AS n_recovered,
               TRUE AS all_found
        FROM embeddings WHERE vec_id < 20
    """,
    # PQ invariants: planted count recomputed; codebook-dependent
    # booleans asserted engine-side (deterministic training, measured
    # margins in operators/similarity.py embed_pq_check).
    # IVF+PQ planted-twin retrieval: the invariant is evaluated
    # engine-side; the oracle pins the eligible-seed count and demands
    # all_found TRUE (same design as embed_pq_check / dedup checks).
    "ann_ivfpq_check": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
               CAST(COUNT(*) AS BIGINT) AS n_found,
               TRUE AS all_found
        FROM embeddings
        WHERE vec_id < 20
    """,
    "embed_pq_check": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(8 AS INTEGER) AS m_subspaces,
               CAST(16 AS INTEGER) AS k_codes,
               TRUE AS recon_ok,
               CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 20) AS BIGINT)
                   AS n_planted,
               TRUE AS all_found
        FROM embeddings
    """,
    "stream_dedup_live": """
        SELECT DISTINCT user_id, event_type,
               date_trunc('hour', ts) AS ts_hour
        FROM events
    """,
    "stream_join_live": """
        SELECT p.user_id, p.event_id AS purchase_id,
               p.ts AS p_ts, s.ts AS s_ts
        FROM events p
        JOIN events s
          ON p.user_id = s.user_id
         AND p.ts >= s.ts
         AND p.ts <= s.ts + INTERVAL 2 HOUR
        WHERE p.event_type = 'purchase'
          AND s.event_type = 'signup'
    """,
    # Identical to cms_window_probe's exact twin: with eps ≪ 1/keys the
    # streaming sketches are collision-free, so probes equal exact counts.
    "stream_cms_live": """
        WITH w AS (
            SELECT DISTINCT time_bucket(INTERVAL '1 day', ts) AS window_start
            FROM events
        ),
        k AS (
            SELECT * FROM (VALUES ('click'), ('view'), ('purchase'),
                                  ('signup'), ('error')) AS t(event_type)
        ),
        c AS (
            SELECT time_bucket(INTERVAL '1 day', ts) AS ws, event_type,
                   COUNT(*) AS n
            FROM events
            GROUP BY 1, 2
        )
        SELECT w.window_start, k.event_type,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS est_count
        FROM w CROSS JOIN k
        LEFT JOIN c ON c.ws = w.window_start AND c.event_type = k.event_type
    """,
    "window_distribution": """
        SELECT user_id, event_id,
               CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
               ROUND(CUME_DIST() OVER w, 6) AS cume_dist
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY value ASC, event_id ASC)
    """,
    # Files are 1:1 with dates (write_date_partitioned file-count
    # contract), so both file counts are recomputable from raw events.
    "file_skipping_check": """
        SELECT (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM events
                WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-10')
                   AS n_files_touched,
               (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM events) AS n_files_total,
               (SELECT COUNT(*) FROM events
                WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-10')
                   AS n_rows_in_range,
               TRUE AS skipped_ok
    """,
    "partitioned_write_roundtrip": """
        SELECT CAST(ts AS DATE) AS p_date,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-10'
        GROUP BY 1
    """,
    "rollup_two_level": """
        SELECT time_bucket(INTERVAL '1 day', ts) AS day,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_value
        FROM events
        GROUP BY 1
    """,
    # total_var = covariance trace = sum of per-dimension sample
    # variances (exactly what the oracle computes); the spectrum
    # booleans are deterministic functions of the value multiset.
    "embed_pca_check": """
        SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_vectors,
               CAST(64 AS INTEGER) AS dim,
               ROUND(SUM(v), 6) AS total_var,
               TRUE AS explained_ok,
               TRUE AS orthonormal_ok
        FROM (
            SELECT VAR_SAMP(val) AS v
            FROM (
                SELECT UNNEST(embedding) AS val,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings
            )
            GROUP BY i
        )
    """,
    "grouping_sets_agg": """
        SELECT o_orderstatus, o_orderpriority,
               CAST(CASE WHEN GROUPING(o_orderstatus) = 1 THEN 1 ELSE 0 END AS INTEGER) AS status_total,
               CAST(CASE WHEN GROUPING(o_orderpriority) = 1 THEN 1 ELSE 0 END AS INTEGER) AS priority_total,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    # The end state is latest-per-key over raw events (base keys are all
    # strictly pre-cut, changelog strictly post-cut, so changelog-wins
    # coincides with global latest); the rewrite set is recomputed
    # arithmetically from the two per-side latests.
    # General RFC-3986 component twin (regex extraction), not the
    # seeded shape inverted — pins parse_url semantics too.
    "url_normalize": r"""
        WITH u AS (
            SELECT doc_id,
                   'HTTPS://Src' || CAST(doc_id % 7 AS VARCHAR)
                   || '.Example.COM:443/Docs/' || CAST(doc_id AS VARCHAR)
                   || '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
                   || '&ref=x#frag' AS url
            FROM documents),
        parts AS (
            SELECT doc_id, url,
                   lower(regexp_extract(url,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                   lower(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS host,
                   regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1)
                       AS path,
                   regexp_replace(regexp_replace(
                       regexp_extract(url, '\?([^#]*)', 1),
                       '(^|&)(utm_[^=&]*|ref)=[^&]*', '', 'g'),
                       '^&', '') AS q
            FROM u)
        SELECT doc_id, url, host,
               scheme || '://' || host || path
               || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS url_norm
        FROM parts
    """,
    "benford_first_digit": """
        WITH obs AS (
            SELECT CAST(substring(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                                       AS VARCHAR), 1, 1) AS INTEGER) AS digit,
                   COUNT(*) AS n_obs
            FROM lineitem GROUP BY 1),
        t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_tot FROM obs),
        pd AS (
            SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
                   round(log10(1.0 + 1.0 / digit), 6) AS p_benford,
                   round(pow(n_obs - round(log10(1.0 + 1.0 / digit), 6)
                                     * n_tot, 2)
                         / (round(log10(1.0 + 1.0 / digit), 6) * n_tot), 6)
                       AS chi2_term
            FROM obs, t)
        SELECT digit, n_obs, p_benford, chi2_term,
               (SELECT CAST(SUM(CAST(chi2_term AS DECIMAL(18,6))) AS DOUBLE)
                FROM pd) AS chi2_total
        FROM pd
    """,
    # Drift family: every share/log-term is a ratio of exact integer
    # counts (identical IEEE doubles), rounded to 6 dp before exact-
    # decimal totaling — the unigram_perplexity discipline.
    "psi_drift": """
        WITH s AS (
            SELECT value,
                   ts < TIMESTAMP '2024-01-11 00:00:00' AS is_base
            FROM events),
        b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM s),
        binned AS (
            SELECT least(9, CAST(floor((value - lo) / ((hi - lo) / 10))
                                 AS INTEGER)) AS bin,
                   is_base
            FROM s, b),
        counts AS (
            SELECT bin,
                   COUNT(*) FILTER (is_base) AS n_base,
                   COUNT(*) FILTER (NOT is_base) AS n_cur
            FROM binned GROUP BY bin),
        t AS (SELECT CAST(SUM(n_base) AS BIGINT) AS t_base,
                     CAST(SUM(n_cur) AS BIGINT) AS t_cur FROM counts),
        sh AS (
            SELECT bin, n_base, n_cur,
                   greatest(1e-6, n_base / t_base) AS p,
                   greatest(1e-6, n_cur / t_cur) AS q
            FROM counts, t),
        pb AS (
            SELECT bin, CAST(n_base AS BIGINT) AS n_base,
                   CAST(n_cur AS BIGINT) AS n_cur,
                   round((q - p) * ln(q / p), 6) AS psi_term
            FROM sh)
        SELECT bin, n_base, n_cur, psi_term,
               (SELECT CAST(SUM(CAST(psi_term AS DECIMAL(18,6))) AS DOUBLE)
                FROM pb) AS psi_total
        FROM pb
    """,
    "ks_test_check": """
        WITH s AS (
            -- NULL values excluded up front (engine NULL-ordering
            -- defaults diverge; the engine filters isNotNull)
            SELECT value,
                   ts < TIMESTAMP '2024-01-11 00:00:00' AS is_base
            FROM events WHERE value IS NOT NULL),
        pv AS (
            SELECT value,
                   COUNT(*) FILTER (is_base) AS c_base,
                   COUNT(*) FILTER (NOT is_base) AS c_cur
            FROM s GROUP BY value),
        t AS (SELECT CAST(SUM(c_base) AS BIGINT) AS n_base,
                     CAST(SUM(c_cur) AS BIGINT) AS n_cur FROM pv),
        cdf AS (
            SELECT CAST(SUM(c_base) OVER (ORDER BY value
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) / n_base AS f_base,
                   CAST(SUM(c_cur) OVER (ORDER BY value
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) / n_cur AS f_cur,
                   n_base, n_cur
            FROM pv, t),
        d AS (
            SELECT n_base, n_cur,
                   round(MAX(abs(f_base - f_cur)), 6) AS d_stat
            FROM cdf GROUP BY n_base, n_cur)
        SELECT n_base, n_cur, d_stat,
               round(1.36 * sqrt((CAST(n_base AS DOUBLE) + n_cur)
                                 / (CAST(n_base AS DOUBLE) * n_cur)), 6)
                   AS d_crit,
               d_stat > round(1.36 * sqrt((CAST(n_base AS DOUBLE) + n_cur)
                                          / (CAST(n_base AS DOUBLE) * n_cur)),
                              6) AS drift
        FROM d
    """,
    "mutual_information": """
        WITH xy AS (
            SELECT event_type,
                   CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
                   COUNT(*) AS n_xy
            FROM events GROUP BY 1, 2),
        nx AS (SELECT event_type, CAST(SUM(n_xy) AS BIGINT) AS n_x
               FROM xy GROUP BY 1),
        ny AS (SELECT dow, CAST(SUM(n_xy) AS BIGINT) AS n_y
               FROM xy GROUP BY 1),
        t AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n_tot FROM xy),
        pc AS (
            SELECT xy.event_type, xy.dow, CAST(n_xy AS BIGINT) AS n_xy,
                   round((n_xy / n_tot)
                         * ln((CAST(n_tot AS DOUBLE) * n_xy)
                              / (CAST(n_x AS DOUBLE) * n_y)), 6) AS mi_term
            FROM xy JOIN nx USING (event_type) JOIN ny USING (dow), t)
        SELECT event_type, dow, n_xy, mi_term,
               (SELECT CAST(SUM(CAST(mi_term AS DECIMAL(18,6))) AS DOUBLE)
                FROM pc) AS mi_total
        FROM pc
    """,
    "window_navigation_suite": """
        SELECT user_id, event_id,
               first_value(event_type) OVER w AS first_type,
               nth_value(event_type, 2) OVER w AS second_type,
               COALESCE(lag(value, 1) OVER w, -1.0) AS prev_value_dflt,
               lead(event_id, 2) OVER w AS next2_event_id
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    # Maps never cross the engine boundary: the oracle recomputes every
    # scalar relationally from the (user, type) counts.
    "map_functions_suite": """
        WITH c AS (
            SELECT user_id, event_type, COUNT(*) AS c
            FROM events GROUP BY 1, 2)
        SELECT user_id,
               CAST(COUNT(*) AS INTEGER) AS n_types,
               CAST(MAX(CASE WHEN event_type = 'click' THEN c END)
                    AS BIGINT) AS n_clicks,
               CAST(COUNT(*) FILTER (c >= 3) AS INTEGER) AS n_heavy_types,
               CAST(SUM(c) * 2 AS BIGINT) AS double_total,
               array_to_string(list_sort(list(event_type)), ',') AS keys_csv
        FROM c GROUP BY user_id
    """,
    "gapfill_linear": """
        WITH buckets AS (
            SELECT time_bucket(INTERVAL '10 minutes', ts) AS bucket, event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        ),
        bounds AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM buckets),
        spine AS (
            SELECT t.event_type,
                   unnest(generate_series(b.lo, b.hi, INTERVAL '10 minutes'))
                       AS bucket
            FROM (SELECT DISTINCT event_type FROM buckets) t, bounds b
        ),
        j AS (
            SELECT s.event_type, s.bucket, b.n_events, b.sum_value
            FROM spine s
            LEFT JOIN buckets b
              ON s.event_type = b.event_type AND s.bucket = b.bucket
        ),
        x AS (
            SELECT event_type, bucket, n_events, sum_value,
                   last_value(sum_value IGNORE NULLS) OVER wp AS prev_val,
                   first_value(sum_value IGNORE NULLS) OVER wf AS next_val,
                   epoch(last_value(CASE WHEN sum_value IS NOT NULL
                                         THEN bucket END IGNORE NULLS)
                         OVER wp) AS prev_t,
                   epoch(first_value(CASE WHEN sum_value IS NOT NULL
                                          THEN bucket END IGNORE NULLS)
                         OVER wf) AS next_t,
                   epoch(bucket) AS t
            FROM j
            WINDOW wp AS (PARTITION BY event_type ORDER BY bucket
                          ROWS UNBOUNDED PRECEDING),
                   wf AS (PARTITION BY event_type ORDER BY bucket
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_type, bucket,
               COALESCE(n_events, 0) AS n_events,
               CASE WHEN sum_value IS NOT NULL THEN sum_value
                    WHEN prev_val IS NOT NULL AND next_val IS NOT NULL
                    THEN floor((prev_val + (next_val - prev_val)
                                * ((t - prev_t) / (next_t - prev_t)))
                               * 1000000.0 + 0.5) / 1000000.0
               END AS sum_value_interp
        FROM x
    """,
    # Identical statement on both engines (same WITH RECURSIVE
    # semantics); DuckDB only needs the view name swapped.
    "recursive_cte_reach": _SQL_RCTE.format(events="events") + """
    """,
    "sql_udf_tvf_check": """
        WITH t AS (
            SELECT l_returnflag, l_extendedprice AS p, l_discount AS d
            FROM lineitem WHERE l_quantity < 10),
        parts AS (
            SELECT l_returnflag, p, d, 'gross' AS part, p AS amt FROM t
            UNION ALL
            SELECT l_returnflag, p, d, 'discount',
                   CAST(CAST(p AS DECIMAL(12,2)) * CAST(d AS DECIMAL(4,2))
                        AS DOUBLE)
            FROM t)
        SELECT l_returnflag, part,
               CAST(SUM(CAST(amt AS DECIMAL(16,4))) AS DOUBLE) AS sum_amt,
               CAST(SUM(CAST(
                   CAST(CAST(p AS DECIMAL(12,2))
                        * (CAST('1.00' AS DECIMAL(3,2))
                           - CAST(d AS DECIMAL(4,2))) AS DOUBLE)
                   AS DECIMAL(16,4))) AS DOUBLE) AS sum_disc_price,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM parts GROUP BY l_returnflag, part
    """,
    # Fully general boilerplate twin: per-line document frequencies
    # recomputed in SQL, order-preserving reassembly — no fixture-shape
    # assumptions beyond the gate's own seeding.
    "boilerplate_lines": """
        WITH seeded AS (
            SELECT doc_id,
                   'PLEASE ACCEPT COOKIES TO CONTINUE' || chr(10) || text
                   || chr(10) || 'unique-' || CAST(doc_id AS VARCHAR)
                   || chr(10) || 'SUBSCRIBE TO OUR NEWSLETTER' AS text
            FROM documents),
        l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM seeded),
        lines AS (
            SELECT doc_id, unnest(ls) AS line,
                   unnest(generate_series(1, len(ls))) AS pos
            FROM l),
        dfr AS (SELECT line, COUNT(DISTINCT doc_id) AS df
                FROM lines GROUP BY line),
        boiler AS (SELECT line FROM dfr WHERE df > 3)
        SELECT doc_id,
               coalesce(string_agg(line, chr(10) ORDER BY pos)
                        FILTER (line NOT IN (SELECT line FROM boiler)),
                        '') AS clean_text,
               CAST(COUNT(*) FILTER (line NOT IN (SELECT line FROM boiler))
                    AS INTEGER) AS n_lines_kept,
               CAST(COUNT(*) FILTER (line IN (SELECT line FROM boiler))
                    AS BIGINT) AS n_lines_dropped
        FROM lines GROUP BY doc_id
    """,
    "stratified_sample_exact": """
        SELECT doc_id, lang, CAST(rnk AS INTEGER) AS rnk FROM (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY ('0x' || substring(
                           md5(CAST(doc_id AS VARCHAR) || ':31'), 1, 15)
                       )::BIGINT, doc_id) AS rnk
            FROM documents)
        WHERE rnk <= 10
    """,
    # uuid pads are always 36 chars: sum(length(pad)) = 36·n while the
    # pad bytes themselves create the skew the plan flag certifies.
    "aqe_skew_join_check": """
        WITH l AS (
            SELECT CASE WHEN event_id % 20 = 0 THEN user_id % 32
                        ELSE 0 END AS k
            FROM events)
        SELECT k, CAST(k * 2 AS BIGINT) AS weight,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(36 * COUNT(*) AS BIGINT) AS sum_pad_len,
               TRUE AS skew_split
        FROM l GROUP BY k
    """,
    "cbo_reorder_check": """
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price,
               TRUE AS cbo_reordered
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE n_name IN ('NATION_3', 'NATION_7')
        GROUP BY n_name
    """,
    "txn_log_vacuum_check": """
        WITH live AS (
            SELECT * FROM events
            WHERE NOT (ts < TIMESTAMP '2024-01-11 00:00:00'
                       AND event_type = 'click')
        ),
        scal AS (
            SELECT CAST(2 AS BIGINT) AS n_data_removed,
                   CAST(2 AS BIGINT) AS n_manifests_removed,
                   CAST(2 AS BIGINT) AS earliest_retained,
                   CAST(4 AS BIGINT) AS n_files_disk,
                   CAST(4 AS BIGINT) AS n_files_live,
                   TRUE AS v0_unreadable,
                   TRUE AS cdf_vacuumed
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
               n_data_removed, n_manifests_removed, earliest_retained,
               n_files_disk, n_files_live, v0_unreadable, cdf_vacuumed
        FROM live CROSS JOIN scal
        GROUP BY event_type, n_data_removed, n_manifests_removed,
                 earliest_retained, n_files_disk, n_files_live, v0_unreadable,
                 cdf_vacuumed
    """,
    "txnlog_concurrent_commit": """
        WITH scal AS (
            SELECT CAST(3 AS BIGINT) AS n_versions,
                   CAST(1 AS BIGINT) AS n_conflicts,
                   CAST(2 AS BIGINT) AS n_orphans_removed,
                   CAST(6 AS BIGINT) AS n_files_disk,
                   CAST(6 AS BIGINT) AS n_files_live
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
               n_versions, n_conflicts, n_orphans_removed,
               n_files_disk, n_files_live
        FROM events CROSS JOIN scal
        GROUP BY event_type, n_versions, n_conflicts, n_orphans_removed,
                 n_files_disk, n_files_live
    """,
    "txnlog_partition_evolve": """
        WITH pre AS (
            SELECT * FROM events
            WHERE ts < TIMESTAMP '2024-01-11 00:00:00'),
        post AS (
            SELECT * FROM events
            WHERE ts >= TIMESTAMP '2024-01-11 00:00:00'),
        scal AS (SELECT
            CAST(3 AS BIGINT) AS n_versions,
            (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM pre)
                AS n_files_v0,
            (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
             FROM post) AS n_files_v2,
            (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM pre)
              + (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                 FROM post WHERE CAST(ts AS DATE) = DATE '2024-01-12')
                AS n_scan_day,
            (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
             FROM post)
              + (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT)
                 FROM pre WHERE event_type = 'click') AS n_scan_type,
            'event_type' AS spec_v0,
            'day' AS spec_latest)
        SELECT p.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(p.value AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_value,
               n_versions, n_files_v0, n_files_v2, n_scan_day, n_scan_type,
               spec_v0, spec_latest
        FROM post p CROSS JOIN scal
        WHERE CAST(p.ts AS DATE) = DATE '2024-01-12'
        GROUP BY p.event_type, n_versions, n_files_v0, n_files_v2,
                 n_scan_day, n_scan_type, spec_v0, spec_latest
    """,
    # Encodes the measured streaming protocol exactly: the late filter
    # for batch 2 uses max(ts | batch 0) − 3d (one-batch watermark
    # lag), drops are counted as distinct post-shuffle cells, the sink
    # finalizes windows ending ≤ the final watermark, and a finalized
    # cell's count excludes contributions the filter dropped. HAVING
    # keeps only cells that had ≥1 accepted contribution (cells whose
    # every row was dropped never enter state).
    # Replays incremental_dedup end to end: planted collisions,
    # fingerprint first-wins, combined-corpus df pruning, the
    # batch x archive candidate join, exact Jaccard at 0.5.
    "incremental_dedup_check": """
        WITH archive AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0
        ), batch AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id + 2000000, text FROM archive WHERE doc_id % 7 = 1
            UNION ALL
            SELECT doc_id + 3000000, text || ' xx' || doc_id
            FROM archive WHERE doc_id % 7 = 3
        ), uni AS (
            SELECT doc_id, md5(text) AS fp FROM archive
            UNION ALL
            SELECT doc_id, md5(text) AS fp FROM batch
        ), owner AS (
            SELECT fp, MIN(doc_id) AS min_id FROM uni GROUP BY fp
        ), exact AS (
            SELECT u.doc_id, CAST(o.min_id AS BIGINT) AS exact_match
            FROM uni u JOIN owner o USING (fp)
            JOIN batch b ON b.doc_id = u.doc_id
            WHERE o.min_id < u.doc_id
        ), wb AS (
            -- exact-survivor batch docs only: verbatim copies must not
            -- vote in the df rarity cut (mirrors the operator)
            SELECT doc_id, string_split(text, ' ') AS w FROM batch
            WHERE doc_id NOT IN (SELECT doc_id FROM exact)
        ), wa AS (
            -- archive-side exact-duplicate groups collapse to their
            -- min-id representative before shingling (mirrors the
            -- operator: df-rarity is evidence over distinct documents
            -- on BOTH sides; decisions unchanged since duplicates
            -- share identical shingle sets and MIN match_id is the
            -- representative)
            SELECT doc_id, string_split(text, ' ') AS w FROM archive
            WHERE doc_id IN (
                SELECT MIN(doc_id) FROM archive GROUP BY md5(text))
        ), shb AS (
            SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS s
            FROM wb, unnest(range(0, greatest(len(w) - 2, 1))) AS r(i)
        ), sha AS (
            SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS s
            FROM wa, unnest(range(0, greatest(len(w) - 2, 1))) AS r(i)
        ), dfreq AS (
            SELECT s, COUNT(*) AS df FROM (
                SELECT * FROM sha UNION ALL SELECT * FROM shb
            ) GROUP BY s
        ), rare AS (SELECT s FROM dfreq WHERE df <= 10
        ), cand AS (
            SELECT b.doc_id AS b_id, a.doc_id AS a_id
            FROM (SELECT * FROM shb JOIN rare USING (s)) b
            JOIN (SELECT * FROM sha JOIN rare USING (s)) a USING (s)
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), szb AS (
            SELECT doc_id, COUNT(*) AS nb FROM shb GROUP BY doc_id
        ), sza AS (
            SELECT doc_id, COUNT(*) AS na FROM sha GROUP BY doc_id
        ), inter AS (
            SELECT c.b_id, c.a_id, COUNT(*) AS ni
            FROM cand c
            JOIN shb b ON b.doc_id = c.b_id
            JOIN sha a ON a.doc_id = c.a_id AND a.s = b.s
            GROUP BY 1, 2
        ), near AS (
            SELECT b_id AS doc_id, CAST(MIN(a_id) AS BIGINT) AS near_match
            FROM inter
            JOIN szb ON szb.doc_id = inter.b_id
            JOIN sza ON sza.doc_id = inter.a_id
            WHERE round(ni / (nb + na - ni), 6) >= 0.5
            GROUP BY b_id
        )
        SELECT b.doc_id,
               CASE WHEN e.exact_match IS NOT NULL THEN 'drop_exact'
                    WHEN n.near_match IS NOT NULL THEN 'drop_near'
                    ELSE 'keep' END AS decision,
               COALESCE(e.exact_match, n.near_match) AS match_id
        FROM batch b
        LEFT JOIN exact e ON e.doc_id = b.doc_id
        LEFT JOIN near n ON n.doc_id = b.doc_id
""",
    # Replays containment_dedup end to end: seeding, Spark-exact
    # shingling (sequence(0, greatest(len-3,0)) + capped slices),
    # df<=10 rare pruning, >=2-shared candidate floor, exact
    # intersection counts, threshold 0.6 on the SMALL side ratio.
    "containment_check": """
        WITH seeded AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000,
                   array_to_string((string_split(text, ' '))[1:12], ' ')
                       || ' qtail' || doc_id
            FROM documents WHERE doc_id % 5 = 0
        ), words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM seeded
        ), sh AS (
            -- mirrors _doc_shingles: sequence(0, greatest(len-3, 0))
            -- inclusive + capped 3-slices, so sub-3-word docs yield
            -- one short shingle on BOTH engines
            SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS s
            FROM words, unnest(range(0, greatest(len(w) - 2, 1))) AS r(i)
        ), sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_sh
            FROM sh GROUP BY doc_id
        ), dfreq AS (
            SELECT s, COUNT(*) AS df FROM sh GROUP BY s
        ), rare AS (
            SELECT sh.doc_id, sh.s FROM sh JOIN dfreq USING (s)
            WHERE df <= 10
        ), cand AS (
            SELECT l.doc_id AS doc_small, r.doc_id AS doc_big
            FROM rare l JOIN rare r
              ON l.s = r.s AND l.doc_id <> r.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), inter AS (
            SELECT c.doc_small, c.doc_big,
                   CAST(COUNT(*) AS INTEGER) AS n_inter
            FROM cand c
            JOIN sh a ON a.doc_id = c.doc_small
            JOIN sh b ON b.doc_id = c.doc_big AND b.s = a.s
            GROUP BY 1, 2
        )
        SELECT doc_small, doc_big, z.n_sh AS n_small, n_inter,
               round(n_inter / z.n_sh, 6) AS containment
        FROM inter JOIN sizes z ON z.doc_id = doc_small
        WHERE round(n_inter / z.n_sh, 6) >= 0.6
""",
    "stream_late_audit": """
        WITH b AS (
            SELECT event_id % 3 AS b, CAST(ts AS DATE) AS day,
                   event_type, ts
            FROM events),
        wm AS (SELECT
            (SELECT MAX(ts) FROM b WHERE b = 0) - INTERVAL 3 DAY
                AS wm_filter2,
            (SELECT MAX(ts) FROM b) - INTERVAL 3 DAY AS wm_final),
        scal AS (SELECT
            CAST(3 AS BIGINT) AS n_data_batches,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM b WHERE b = 0)
                AS n_input_b0,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM b WHERE b = 1)
                AS n_input_b1,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM b WHERE b = 2)
                AS n_input_b2,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                SELECT DISTINCT day, event_type FROM b, wm
                WHERE b = 2 AND day + INTERVAL 1 DAY <= wm_filter2))
                AS n_late_cells)
        SELECT day, event_type,
               CAST(COUNT(*) FILTER (b.b <= 1
                    OR day + INTERVAL 1 DAY > wm_filter2) AS BIGINT)
                   AS n_ontime,
               n_data_batches, n_input_b0, n_input_b1, n_input_b2,
               n_late_cells
        FROM b, wm CROSS JOIN scal
        WHERE day + INTERVAL 1 DAY <= wm_final
        GROUP BY day, event_type, n_data_batches, n_input_b0, n_input_b1,
                 n_input_b2, n_late_cells
        HAVING COUNT(*) FILTER (b.b <= 1
                    OR day + INTERVAL 1 DAY > wm_filter2) > 0
    """,
    "txnlog_cdf_read": """
        SELECT CAST(0 AS INTEGER) AS commit_version,
               'insert' AS change_type, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events WHERE ts < TIMESTAMP '2024-01-11 00:00:00'
        GROUP BY event_type
        UNION ALL
        SELECT CAST(1 AS INTEGER), 'insert', event_type,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
        FROM events WHERE ts >= TIMESTAMP '2024-01-11 00:00:00'
        GROUP BY event_type
        UNION ALL
        SELECT CAST(2 AS INTEGER), 'delete', event_type,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
        FROM events
        WHERE ts < TIMESTAMP '2024-01-11 00:00:00' AND event_type = 'click'
        GROUP BY event_type
    """,
    "txnlog_schema_evolve": """
        WITH scal AS (
            SELECT CAST(4 AS BIGINT) AS v0_cols, CAST(5 AS BIGINT) AS latest_cols
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) FILTER (ts >= TIMESTAMP '2024-01-11 00:00:00')
                    AS BIGINT) AS n_scored,
               CAST(SUM(CAST(
                   CASE WHEN ts >= TIMESTAMP '2024-01-11 00:00:00'
                        THEN round(value * 0.5, 6) ELSE 0.0 END
                   AS DECIMAL(18,6))) AS DOUBLE) AS sum_score,
               v0_cols, latest_cols
        FROM events CROSS JOIN scal
        GROUP BY event_type, v0_cols, latest_cols
    """,
    "txn_log_snapshot_read": """
        WITH live AS (
            SELECT * FROM events
            WHERE NOT (ts < TIMESTAMP '2024-01-11 00:00:00'
                       AND event_type = 'click')
        ),
        scal AS (
            SELECT 3 AS n_versions,
                   (SELECT COUNT(*) FROM events
                    WHERE ts < TIMESTAMP '2024-01-11 00:00:00') AS n_rows_v0,
                   6 AS n_files_disk,
                   4 AS n_files_live
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
               MAX(ts) AS max_ts,
               n_versions, n_rows_v0, n_files_disk, n_files_live
        FROM live CROSS JOIN scal
        GROUP BY event_type, n_versions, n_rows_v0, n_files_disk, n_files_live
    """,
    "stream_cdc_apply_live": """
        WITH ranked AS (
            SELECT user_id, event_type, event_id, ts, value,
                   (event_id % 7 = 0) AS is_del,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        ),
        live AS (SELECT * FROM ranked WHERE rn = 1 AND NOT is_del),
        scal AS (SELECT 3 AS n_batches_applied)
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
               MAX(ts) AS max_ts,
               n_batches_applied
        FROM live CROSS JOIN scal
        GROUP BY event_type, n_batches_applied
    """,
    "merge_roundtrip": """
        WITH ranked AS (
            SELECT user_id, event_type, event_id, ts, value,
                   (ts < TIMESTAMP '2024-01-11 00:00:00') AS is_base,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type,
                                    (ts < TIMESTAMP '2024-01-11 00:00:00')
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        ),
        base AS (SELECT user_id, event_type, ts FROM ranked WHERE is_base AND rn = 1),
        chg  AS (SELECT user_id, event_type, ts FROM ranked WHERE NOT is_base AND rn = 1),
        final AS (
            SELECT user_id, event_type, ts, value FROM (
                SELECT user_id, event_type, ts, value,
                       ROW_NUMBER() OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC
                       ) AS r
                FROM events
            ) WHERE r = 1
        ),
        affected AS (
            SELECT DISTINCT CAST(b.ts AS DATE) AS p_date
            FROM base b JOIN chg c USING (user_id, event_type)
            UNION
            SELECT DISTINCT CAST(ts AS DATE) FROM chg
        ),
        scal AS (
            SELECT (SELECT COUNT(*) FROM affected) AS n_parts_rewritten,
                   (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM final) AS n_parts_final
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
               MAX(ts) AS max_ts,
               n_parts_rewritten,
               n_parts_final
        FROM final CROSS JOIN scal
        GROUP BY event_type, n_parts_rewritten, n_parts_final
    """,
    "upsert_scd1": """
        WITH ranked AS (
            SELECT user_id, event_type, ts, value,
                   (ts < TIMESTAMP '2024-01-11 00:00:00') AS is_base,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type,
                                    (ts < TIMESTAMP '2024-01-11 00:00:00')
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        ),
        base AS (
            SELECT user_id, event_type, ts AS base_ts, value AS base_value
            FROM ranked WHERE is_base AND rn = 1
        ),
        chg AS (
            SELECT user_id, event_type, ts AS chg_ts, value AS chg_value
            FROM ranked WHERE NOT is_base AND rn = 1
        )
        SELECT COALESCE(b.user_id, c.user_id) AS user_id,
               COALESCE(b.event_type, c.event_type) AS event_type,
               ROUND(COALESCE(c.chg_value, b.base_value), 6) AS value,
               COALESCE(c.chg_ts, b.base_ts) AS as_of_ts,
               CASE WHEN c.chg_ts IS NOT NULL AND b.base_ts IS NOT NULL THEN 'update'
                    WHEN c.chg_ts IS NOT NULL THEN 'insert'
                    ELSE 'keep' END AS op
        FROM base b
        FULL OUTER JOIN chg c
          ON b.user_id = c.user_id AND b.event_type = c.event_type
    """,
    "funnel_conversion": """
        WITH t1 AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        t2 AS (
            SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
            JOIN t1 ON e.user_id = t1.user_id
            WHERE e.event_type = 'view' AND e.ts > t1.t1 GROUP BY e.user_id
        ),
        t3 AS (
            SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
            JOIN t2 ON e.user_id = t2.user_id
            WHERE e.event_type = 'click' AND e.ts > t2.t2 GROUP BY e.user_id
        ),
        t4 AS (
            SELECT e.user_id, MIN(e.ts) AS t4 FROM events e
            JOIN t3 ON e.user_id = t3.user_id
            WHERE e.event_type = 'purchase' AND e.ts > t3.t3 GROUP BY e.user_id
        )
        SELECT COUNT(t1.t1) AS n_signup,
               COUNT(t2.t2) AS n_view,
               COUNT(t3.t3) AS n_click,
               COUNT(t4.t4) AS n_purchase,
               ROUND(COUNT(t4.t4) / COUNT(t1.t1), 6) AS full_funnel_rate
        FROM t1
        LEFT JOIN t2 ON t1.user_id = t2.user_id
        LEFT JOIN t3 ON t1.user_id = t3.user_id
        LEFT JOIN t4 ON t1.user_id = t4.user_id
    """,
    "sql_tpch_q3": """
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "bm25_rank": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        dl AS (
            SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
        ),
        scal AS (
            SELECT COUNT(*) AS n_docs,
                   SUM(len(string_split(text, ' '))) AS sum_dl
            FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, COUNT(*) AS tf FROM toks
            WHERE tok IN ('spark', 'join', 'dup') GROUP BY 1, 2
        ),
        dfx AS (
            SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks
            WHERE tok IN ('spark', 'join', 'dup') GROUP BY 1
        ),
        term AS (
            SELECT tf.doc_id,
                   ROUND(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * (1.2 + 1))
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl
                           / (CAST(sum_dl AS DOUBLE) / n_docs))),
                       6) AS s
            FROM tf
            JOIN dfx USING (tok)
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN scal
        ),
        agg AS (
            SELECT doc_id, SUM(CAST(s AS DECIMAL(18,6))) AS bm25_dec
            FROM term GROUP BY doc_id
        )
        SELECT rnk, doc_id, CAST(bm25_dec AS DOUBLE) AS bm25
        FROM (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY bm25_dec DESC, doc_id) AS INT) AS rnk,
                   doc_id, bm25_dec
            FROM agg
        )
        WHERE rnk <= 20
    """,
    "cooccurrence_pmi": """
        WITH dt AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        dfx AS (SELECT tok, COUNT(*) AS df FROM dt GROUP BY tok),
        pairs AS (
            SELECT a.tok AS token_a, b.tok AS token_b, COUNT(*) AS c_ab
            FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
            GROUP BY 1, 2
            HAVING COUNT(*) >= 5
        ),
        scored AS (
            SELECT token_a, token_b, c_ab,
                   ROUND(ln(CAST(c_ab * n_docs AS DOUBLE)
                            / CAST(da.df * db.df AS DOUBLE)), 6) AS pmi
            FROM pairs
            JOIN dfx da ON da.tok = token_a
            JOIN dfx db ON db.tok = token_b
            CROSS JOIN n
        )
        SELECT rnk, token_a, token_b, c_ab, pmi
        FROM (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, token_a, token_b) AS INT) AS rnk,
                   token_a, token_b, c_ab, pmi
            FROM scored
        )
        WHERE rnk <= 50
    """,
    "rolling_median": """
        SELECT user_id, event_id,
               ROUND(median(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
               ), 6) AS rolling_median
        FROM events
    """,
    "attribution_last_touch": """
        WITH p AS (
            SELECT event_id, ts, user_id FROM events
            WHERE event_type = 'purchase'
        ),
        ranked AS (
            SELECT p.event_id AS purchase_id, p.ts AS purchase_ts,
                   e.event_type AS touch_type, e.ts AS touch_ts,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.event_id
                       ORDER BY e.ts DESC, e.event_id DESC
                   ) AS rn
            FROM p
            JOIN events e
              ON e.user_id = p.user_id
             AND e.event_type <> 'purchase'
             AND (e.ts < p.ts OR (e.ts = p.ts AND e.event_id < p.event_id))
             AND e.ts >= p.ts - INTERVAL 7 DAY
        )
        SELECT purchase_id, purchase_ts, touch_type, touch_ts
        FROM ranked WHERE rn = 1
    """,
    # HLL sketches live Spark-side only; the oracle pins the exact
    # cardinalities and demands the accuracy boolean hold.
    "hll_merge_check": """
        SELECT COUNT(DISTINCT user_id) AS n_exact_users,
               COUNT(DISTINCT event_type) AS n_types,
               TRUE AS within_band
        FROM events
    """,
    # n-gram windows: DuckDB builds length-3 grams as 1-based list
    # slices t[i:i+2] over range(1, len-1) — identical strings to the
    # Spark slice(toks, i, 3) path, so the join keys compare exactly.
    "decontaminate_ngram": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
            FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
            WHERE len(t) >= 3
        ),
        sized AS (
            SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
        ),
        bench AS (
            SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
        )
        SELECT c.doc_id,
               COUNT(DISTINCT c.g) AS n_shared,
               ANY_VALUE(s.n_grams) AS n_grams,
               ROUND(COUNT(DISTINCT c.g) / CAST(ANY_VALUE(s.n_grams) AS DOUBLE), 6)
                   AS contamination_rate
        FROM grams c
        JOIN bench USING (g)
        JOIN sized s ON s.doc_id = c.doc_id
        WHERE c.doc_id % 97 <> 0
        GROUP BY c.doc_id
    """,
    "retention_cohort": """
        WITH first AS (
            SELECT user_id,
                   CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
            FROM events GROUP BY user_id
        ),
        active AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS active_week
            FROM events
        )
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS INT)
                   AS week_offset,
               COUNT(DISTINCT a.user_id) AS n_users
        FROM active a JOIN first f USING (user_id)
        GROUP BY 1, 2
    """,
    "event_transitions": """
        WITH pairs AS (
            SELECT from_type, event_type AS to_type, COUNT(*) AS n_transitions
            FROM (
                SELECT event_type,
                       LAG(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS from_type
                FROM events
            )
            WHERE from_type IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT from_type, to_type, n_transitions,
               ROUND(n_transitions / CAST(
                   SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE
               ), 6) AS p_transition
        FROM pairs
    """,
    # Bucket ids evaluate the identical IEEE-double expression on both
    # engines: least(n-1, floor((v - lo) * n / (hi - lo))).
    "histogram_numeric": """
        WITH bounds AS (
            SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
            FROM lineitem
        )
        SELECT CAST(LEAST(19, FLOOR(
                   (l_extendedprice - lo) * 20 / (hi - lo)
               )) AS INT) AS bucket,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM lineitem CROSS JOIN bounds
        GROUP BY 1
    """,
    "sql_tpch_q18": _SQL_Q18.format(
        customer="customer", orders="orders", lineitem="lineitem"
    ),
    "sql_tpch_q5": _SQL_Q5.format(
        region="region",
        nation="nation",
        customer="customer",
        orders="orders",
        lineitem="lineitem",
        supplier="supplier",
    ),
    # The planted-recall invariants are evaluated engine-side; the
    # oracle pins the eligible-seed count and demands every flag TRUE
    # (same design as embed_neardup_check / ann_recall_check).
    "dedup_minhash_check": """
        SELECT COUNT(*) AS n_planted,
               COUNT(*) AS n_found,
               TRUE AS all_found
        FROM documents
        WHERE doc_id < 20 AND len(string_split(text, ' ')) >= 20
    """,
    "stream_restart_recovery_live": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_value,
               TRUE AS same_query_id,
               TRUE AS new_run_id,
               TRUE AS resumed_numbering
        FROM events GROUP BY 1
    """,
    # Recomputes multimodal_pipeline_check's planted pipeline output
    # from doc_id arithmetic alone: nf stride-16 frames (4-cap), each
    # frame 16 bytes of 33+(d+i)%26, so every embedding position is
    # (b_i-32)/32 exactly and the pooled norm is sqrt(16*mu^2).
    "multimodal_pipeline_check": """
        WITH p AS (
            SELECT doc_id, least(1 + doc_id % 5, 4) AS nf
            FROM documents WHERE doc_id < 64
        ), m AS (
            SELECT doc_id, nf,
                   avg((33 + (doc_id + i) % 26 - 32) / 32.0) AS mu
            FROM p, unnest(range(0, nf)) AS r(i)
            GROUP BY 1, 2
        )
        SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
               round(sqrt(16 * mu * mu), 6) AS vec_norm
        FROM m
    """,
    # Replays ngram_jaccard's candidate rule end to end: drop-last-
    # token twins, Spark-exact shingling, combined-corpus df, and the
    # eligibility predicate (>= 2 seed-twin shared shingles with
    # df <= 5). found == eligible because verification can never
    # reject a planted candidate (true pair Jaccard ~0.94 >> 0.5).
    "ngram_jaccard_check": """
        WITH seeds AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
            WHERE doc_id < 20 AND len(string_split(text, ' ')) >= 20
        ), corpus AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
            UNION ALL
            SELECT -(doc_id + 1), w[1:len(w)-1] FROM seeds
        ), sh AS (
            SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS s
            FROM corpus, unnest(range(0, greatest(len(w) - 2, 1))) AS r(i)
        ), dfreq AS (
            SELECT s, COUNT(*) AS df FROM sh GROUP BY s
        ), shared AS (
            SELECT o.doc_id AS seed_id, o.s
            FROM sh o JOIN sh t ON t.doc_id = -(o.doc_id + 1) AND t.s = o.s
            WHERE o.doc_id >= 0 AND o.doc_id < 20
        ), elig AS (
            SELECT sd.seed_id,
                   COUNT(*) FILTER (WHERE d.df <= 5) >= 2 AS eligible
            FROM shared sd JOIN dfreq d USING (s)
            GROUP BY 1
        )
        SELECT s.doc_id AS seed_id, COALESCE(e.eligible, FALSE) AS found
        FROM seeds s LEFT JOIN elig e ON e.seed_id = s.doc_id
    """,
    "dedup_simhash_check": """
        SELECT COUNT(*) AS n_planted,
               TRUE AS recall_ok,
               TRUE AS exclusion_ok
        FROM documents
        WHERE doc_id < 20 AND len(string_split(text, ' ')) >= 20
    """,
    "listagg_canonical": """
        SELECT user_id,
               string_agg(event_type, ',' ORDER BY ts, event_id) AS journey,
               COUNT(*) AS n_events
        FROM events
        GROUP BY user_id
    """,
    "conditional_agg_suite": """
        SELECT event_type,
               COUNT(*) FILTER (WHERE value > 100) AS n_big,
               CAST(SUM(CAST(value AS DECIMAL(12,2)))
                    FILTER (WHERE value > 100) AS DOUBLE) AS sum_big,
               bool_and(value >= 0) AS all_nonneg,
               bool_or(value > 190) AS any_huge,
               COUNT(*) FILTER (WHERE props IS NOT NULL) AS n_with_props
        FROM events
        GROUP BY event_type
    """,
    "column_profile": """
        SELECT COUNT(*) AS n_rows,
               COUNT(*) FILTER (WHERE l_quantity IS NULL) AS quantity_nulls,
               COUNT(DISTINCT l_quantity) AS quantity_distinct,
               MIN(l_quantity) AS quantity_min,
               MAX(l_quantity) AS quantity_max,
               COUNT(DISTINCT l_returnflag) AS returnflag_distinct,
               COUNT(DISTINCT l_linestatus) AS linestatus_distinct,
               MIN(l_shipdate) AS shipdate_min,
               MAX(l_shipdate) AS shipdate_max,
               COUNT(DISTINCT l_partkey) AS partkey_distinct
        FROM lineitem
    """,
    # DuckDB reads the same fields through its native JSON type; the
    # uniform fixture schema pins schema_of_variant as a literal.
    "variant_extract": """
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS INTEGER) AS k_int,
               json_extract_string(props, '$.k') AS k_str,
               CAST(NULL AS INTEGER) AS missing_int,
               'OBJECT<k: BIGINT>' AS variant_schema
        FROM events
    """,
    "window_range_frame": """
        SELECT event_id, user_id, ts,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS trailing_1h_sum
        FROM events
    """,
    # Default RANGE-to-current-row frames on both engines: all (t,
    # delta) ties enter the running sum together, which is exactly the
    # half-open sweep-line semantics.
    "interval_overlap": """
        WITH deltas AS (
            SELECT event_type, ts AS t, 1 AS delta FROM events
            UNION ALL
            SELECT event_type, ts + INTERVAL 30 MINUTE AS t, -1 AS delta
            FROM events
        ), curve AS (
            SELECT event_type,
                   SUM(delta) OVER (
                       PARTITION BY event_type ORDER BY t, delta
                   ) AS concurrent
            FROM deltas
        )
        SELECT event_type,
               CAST(MAX(concurrent) AS BIGINT) AS max_concurrent,
               CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
        FROM curve
        GROUP BY event_type
    """,
    "kll_rollup_check": """
        SELECT COUNT(*) AS n_rows,
               round(quantile_cont(l_quantity, 0.5), 6)  AS p50_exact,
               round(quantile_cont(l_quantity, 0.95), 6) AS p95_exact,
               TRUE AS merged_p50_ok,
               TRUE AS merged_p95_ok
        FROM lineitem
    """,
    "theta_overlap_check": """
        WITH su AS (SELECT DISTINCT event_type, user_id FROM events),
        sizes AS (SELECT event_type, COUNT(*) AS n FROM su GROUP BY event_type),
        pairs AS (
            SELECT a.event_type AS segment_a, b.event_type AS segment_b
            FROM sizes a JOIN sizes b ON a.event_type < b.event_type
        ), inter AS (
            SELECT a.event_type AS segment_a, b.event_type AS segment_b,
                   COUNT(*) AS n_overlap_exact
            FROM su a JOIN su b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT p.segment_a, p.segment_b,
               COALESCE(i.n_overlap_exact, 0) AS n_overlap_exact,
               sa.n + sb.n - COALESCE(i.n_overlap_exact, 0) AS n_union_exact,
               TRUE AS overlap_ok,
               TRUE AS union_ok
        FROM pairs p
        LEFT JOIN inter i USING (segment_a, segment_b)
        JOIN sizes sa ON sa.event_type = p.segment_a
        JOIN sizes sb ON sb.event_type = p.segment_b
    """,
    "time_weighted_avg": """
        WITH stepped AS (
            SELECT user_id, value,
                   epoch_us(lead(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   )) - epoch_us(ts) AS dur_us
            FROM events
        )
        SELECT user_id, COUNT(*) AS n_events,
               round(CAST(SUM(CAST(value AS DECIMAL(12,2)) * dur_us) AS DOUBLE)
                     / SUM(dur_us), 6) AS twa_value
        FROM stepped GROUP BY user_id
    """,
    "ewma_smooth": """
        SELECT event_id, user_id, ts, value,
               round(
                   CAST(list_sum(list_transform(frame, (x, i) ->
                       CAST(round(x * pow(0.9, len(frame) - i), 6)
                            AS DECIMAL(28,6)))) AS DOUBLE)
                   / CAST(list_sum(list_transform(frame, (x, i) ->
                       CAST(round(pow(0.9, len(frame) - i), 6)
                            AS DECIMAL(28,6)))) AS DOUBLE),
               6) AS ewma
        FROM (
            SELECT event_id, user_id, ts, value,
                   list(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
                   ) AS frame
            FROM events
        )
    """,
    "bucketed_write_join": """
        SELECT c_mktsegment,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "multiformat_roundtrip": """
        SELECT fmt,
               COUNT(*) AS n_rows,
               COUNT(DISTINCT event_id) AS n_ids,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events, (VALUES ('csv'), ('json'), ('orc')) AS f(fmt)
        WHERE event_id % 5 = 0
        GROUP BY fmt
    """,
    "schema_evolution_read": """
        SELECT event_type,
               COUNT(*) AS n_rows,
               COUNT(*) FILTER (WHERE event_id % 2 = 1) AS n_with_value,
               CAST(SUM(CAST(value AS DECIMAL(12,2)))
                    FILTER (WHERE event_id % 2 = 1) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY event_type
    """,
    "sql_tpch_q10": _SQL_Q10.format(
        customer="customer", orders="orders", lineitem="lineitem",
        nation="nation",
    ),
    "skyline_pareto": """
        WITH per_price AS (
            SELECT o_totalprice, MAX(o_orderdate) AS dmax
            FROM orders GROUP BY o_totalprice
        ), best AS (
            SELECT o_totalprice,
                   MAX(dmax) OVER (
                       ORDER BY o_totalprice DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS best_higher_date
            FROM per_price
        )
        SELECT o_orderkey, o_totalprice, o_orderdate
        FROM orders JOIN best USING (o_totalprice)
        WHERE best_higher_date IS NULL OR o_orderdate > best_higher_date
    """,
    "array_functions_suite": """
        SELECT doc_id,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               len(list_intersect(list_distinct(string_split(text, ' ')),
                                  ['data', 'model', 'query', 'spark', 'stream'])) AS n_vocab_hits,
               array_to_string(list_slice(list_sort(list_distinct(string_split(text, ' '))), 1, 3), ',') AS first3,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> length(x) > 6)) AS INTEGER) AS n_long
        FROM documents
    """,
    "sql_tpch_q12": _SQL_Q12.format(orders="orders", lineitem="lineitem"),
    "sql_tpch_q14": _SQL_Q14.format(lineitem="lineitem", part="part"),
    "sql_tpch_q4": _SQL_Q4.format(orders="orders", lineitem="lineitem"),
    "sql_tpch_q13": _SQL_Q13.format(customer="customer", orders="orders"),
    "sql_tpch_q17": _SQL_Q17.format(lineitem="lineitem", part="part"),
    "sql_tpch_q19": _SQL_Q19.format(lineitem="lineitem", part="part"),
    "sql_tpch_q22": _SQL_Q22.format(customer="customer", orders="orders"),
    "sql_tpch_q6": _SQL_Q6.format(lineitem="lineitem"),
    "sql_tpch_q7": _SQL_Q7.format(
        supplier="supplier",
        lineitem="lineitem",
        orders="orders",
        customer="customer",
        nation="nation",
    ),
    "sql_tpch_q8": _SQL_Q8.format(
        part="part",
        lineitem="lineitem",
        supplier="supplier",
        orders="orders",
        customer="customer",
        nation="nation",
        region="region",
    ),
    "sql_tpch_q15": _SQL_Q15.format(lineitem="lineitem", supplier="supplier"),
    "sql_tpch_q21": _SQL_Q21.format(
        supplier="supplier", lineitem="lineitem", orders="orders", nation="nation"
    ),
    # BPE training, 2 merge rounds unrolled — same canonical merge
    # rule as operators/textstats.bpe_merge_rounds: argmax pair (freq
    # desc, then lexicographic); symbols joined by DOUBLE spaces and
    # the pattern ' a  b ' -> ' ab ' takes one space from each side,
    # so one replace pass merges the disjoint leftmost occurrences
    # (canonical greedy BPE; a second pass is an idempotent guard).
    "bpe_merge_rounds": """
        WITH words AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
                SELECT unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE w <> '' GROUP BY w
        ), v0 AS (
            SELECT freq,
                   '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s
            FROM words
        ), p1 AS (
            SELECT p[1] AS lhs, p[2] AS rhs, CAST(SUM(freq) AS BIGINT) AS pf
            FROM (
                SELECT freq,
                       unnest(list_zip(arr[1:len(arr)-1], arr[2:len(arr)])) AS p
                FROM (SELECT freq, string_split(trim(s), '  ') AS arr FROM v0)
            ) GROUP BY lhs, rhs
        ), m1 AS (
            SELECT lhs, rhs, pf FROM p1 ORDER BY pf DESC, lhs, rhs LIMIT 1
        ), v1 AS (
            SELECT freq,
                   replace(replace(s,
                       ' '||m1.lhs||'  '||m1.rhs||' ', ' '||m1.lhs||m1.rhs||' '),
                       ' '||m1.lhs||'  '||m1.rhs||' ', ' '||m1.lhs||m1.rhs||' ') AS s
            FROM v0 CROSS JOIN m1
        ), p2 AS (
            SELECT p[1] AS lhs, p[2] AS rhs, CAST(SUM(freq) AS BIGINT) AS pf
            FROM (
                SELECT freq,
                       unnest(list_zip(arr[1:len(arr)-1], arr[2:len(arr)])) AS p
                FROM (SELECT freq, string_split(trim(s), '  ') AS arr FROM v1)
            ) GROUP BY lhs, rhs
        ), m2 AS (
            SELECT lhs, rhs, pf FROM p2 ORDER BY pf DESC, lhs, rhs LIMIT 1
        )
        SELECT CAST(1 AS INTEGER) AS round, lhs, rhs, pf FROM m1
        UNION ALL
        SELECT CAST(2 AS INTEGER) AS round, lhs, rhs, pf FROM m2
    """,
    # The synthetic source's determinism contract: every column is a
    # pure integer formula of k, so range() regenerates it exactly.
    "python_datasource_scan": """
        WITH g AS (
            SELECT unnest(range(0, 10000)) AS k
        ), s AS (
            SELECT 'type_' || CAST(k % 5 AS VARCHAR) AS event_type,
                   k AS event_id,
                   (k * 37) % 97 AS raw,
                   (k * 13) % 50 AS user_id
            FROM g
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(raw) AS BIGINT) AS sum_raw,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               MIN(event_id) AS first_id,
               MAX(event_id) AS last_id
        FROM s GROUP BY event_type
    """,
    "udtf_bigram_topk": """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '),
                                       t -> t <> '') AS arr
            FROM documents
        ), grams AS (
            SELECT p[1] || ' ' || p[2] AS gram
            FROM (
                SELECT unnest(list_zip(arr[1:len(arr)-1],
                                       arr[2:len(arr)])) AS p
                FROM toks
            )
        )
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM grams GROUP BY gram
        ORDER BY cnt DESC, gram ASC
        LIMIT 10
    """,
    # Exact-integer Gini: cents scaling happens before the float
    # division, so numpy and the window formulation share operands.
    "pandas_udaf_gini": """
        WITH c AS (
            SELECT event_type,
                   CAST(round(value * 100) AS BIGINT) AS v100
            FROM events
        ), r AS (
            SELECT event_type, v100,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY v100
                   ) AS i
            FROM c
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               FLOOR((2.0 * SUM(i * v100) / (COUNT(*) * 1.0 * SUM(v100))
                      - (COUNT(*) + 1.0) / COUNT(*)) * 1000000.0 + 0.5)
                   / 1000000.0 AS gini_r
        FROM r GROUP BY event_type
    """,
    # Partial-aggregate merge (base ∪ delta) must equal the direct
    # whole-table aggregate — the incremental-maintenance invariant.
    "incremental_agg_maintain": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
               MIN(value) AS min_value,
               MAX(value) AS max_value
        FROM events GROUP BY event_type
    """,
    "expectations_check": """
        SELECT 'row_count_min_1000' AS expectation,
               CAST(COUNT(*) AS BIGINT) AS observed,
               COUNT(*) >= 1000 AS passed
        FROM lineitem
        UNION ALL
        SELECT 'quantity_not_null',
               CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'discount_in_unit_range',
               CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 1.0
                             THEN 1 ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN l_discount < 0.0 OR l_discount > 1.0
                        THEN 1 ELSE 0 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'returnflag_accepted',
               CAST(SUM(CASE WHEN l_returnflag NOT IN ('N','A','R')
                             THEN 1 ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN l_returnflag NOT IN ('N','A','R')
                        THEN 1 ELSE 0 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'fk_orders_resolve',
               CAST(COUNT(*) AS BIGINT),
               COUNT(*) = 0
        FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    """,
    # The TRUE literal pins the in-gate plan proof: the query function
    # records whether might_contain reached the probe-side scan.
    "runtime_filter_join": """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price,
               TRUE AS bloom_planned
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag
    """,
    # Entropy terms follow the perplexity discipline: per-row round to
    # 6 dp, exact decimal sum — identical in operators/textstats.py.
    "group_entropy": """
        WITH cells AS (
            SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
            FROM documents GROUP BY source, lang
        ), tot AS (
            SELECT source, CAST(SUM(c) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS n_langs
            FROM cells GROUP BY source
        )
        SELECT source,
               MIN(t) AS n_docs,
               MIN(n_langs) AS n_langs,
               CAST(SUM(CAST(round(
                   -(CAST(c AS DOUBLE) / t * log2(CAST(c AS DOUBLE) / t)), 6)
                   AS DECIMAL(28,6))) AS DOUBLE) AS entropy_r
        FROM cells JOIN tot USING (source)
        GROUP BY source
    """,
    # Watermark-scoped dedup without ts in the key: a 30-day delay
    # spans the fixture's event-time range, so the surviving set is
    # exactly batch DISTINCT on the business key.
    "stream_dedup_within_wm_live": """
        SELECT DISTINCT user_id, event_type FROM events
    """,
    # MOR read view: the merged state is latest-per-key over RAW
    # events (base = latest pre-cut, delta = raw post-cut appends —
    # their read-time max_by merge IS overall-latest).
    "mor_read_view": """
        WITH final AS (
            SELECT user_id, event_type, event_id, ts, value FROM (
                SELECT user_id, event_type, event_id, ts, value,
                       ROW_NUMBER() OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC
                       ) AS r
                FROM events
            ) WHERE r = 1
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
               MAX(ts) AS max_ts
        FROM final GROUP BY event_type
    """,
    # Compaction: the expected layout (64 small -> 4 compacted files)
    # is pinned literally; content aggregates come from the source —
    # green only if the rewrite preserved every row.
    "compact_small_files": """
        SELECT 'small' AS phase,
               CAST(64 AS BIGINT) AS n_files,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
        UNION ALL
        SELECT 'compacted' AS phase,
               CAST(4 AS BIGINT) AS n_files,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
    """,
    "skew_profile": """
        WITH counts AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY l_partkey
        ), tot AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_keys
            FROM counts
        ), top AS (
            SELECT l_partkey, cnt FROM counts
            ORDER BY cnt DESC, l_partkey LIMIT 5
        )
        SELECT CAST(row_number() OVER (ORDER BY cnt DESC, l_partkey)
                    AS BIGINT) AS rnk,
               l_partkey, cnt,
               FLOOR(CAST(cnt AS DOUBLE) / total * 1000000.0 + 0.5)
                   / 1000000.0 AS share_r,
               FLOOR(CAST(cnt AS DOUBLE) * n_keys / total * 1000000.0 + 0.5)
                   / 1000000.0 AS skew_r
        FROM top CROSS JOIN tot
    """,
    "user_growth_daily": """
        WITH first_seen AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS d0
            FROM events GROUP BY user_id
        ), daily AS (
            SELECT d0, CAST(COUNT(*) AS BIGINT) AS new_users
            FROM first_seen GROUP BY d0
        )
        SELECT d0, new_users,
               CAST(SUM(new_users) OVER (
                   ORDER BY d0
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_users
        FROM daily
    """,
    # Posting-list build: distinct (term, doc) pairs, df over the full
    # list, head capped at 50 BEFORE aggregation — mirrors the
    # row_number cap in operators/textstats.inverted_index_build.
    "inverted_index_build": """
        WITH pairs AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ), toks AS (
            SELECT DISTINCT doc_id, term FROM pairs WHERE term <> ''
        ), ranked AS (
            SELECT term, doc_id,
                   row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
            FROM toks
        )
        SELECT term,
               CAST(COUNT(*) AS BIGINT) AS df,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc,
               string_agg(
                   CASE WHEN rn <= 50 THEN CAST(doc_id AS VARCHAR) END,
                   ',' ORDER BY doc_id
               ) AS postings_head
        FROM ranked
        GROUP BY term
    """,
    # MAD outliers: exact interpolated medians (both engines average
    # the middle pair), identical double arithmetic for the cut.
    "anomaly_mad": """
        WITH med AS (
            SELECT event_type, median(value) AS med
            FROM events GROUP BY event_type
        ), dev AS (
            SELECT e.event_type, abs(e.value - m.med) AS absdev, m.med
            FROM events e JOIN med m USING (event_type)
        ), mad AS (
            SELECT event_type, median(absdev) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN d.absdev > 3.0 * 1.4826 * m.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               FLOOR(MIN(d.med) * 1000000.0 + 0.5) / 1000000.0 AS med_r,
               FLOOR(MIN(m.mad) * 1000000.0 + 0.5) / 1000000.0 AS mad_r
        FROM dev d JOIN mad m USING (event_type)
        GROUP BY d.event_type
    """,
    # Smoothed target encoding: exact decimal sums, one shared double
    # blend expression (m = 10).
    "target_encoding": """
        WITH cat AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS s
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        ), tot AS (
            SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS ts,
                   COUNT(*) AS tc
            FROM lineitem
        )
        SELECT l_returnflag, l_linestatus, n_rows,
               CAST(s AS DOUBLE) AS sum_target,
               FLOOR((CAST(s AS DOUBLE)
                      + 10.0 * (CAST(ts AS DOUBLE) / tc))
                     / (n_rows + 10.0) * 1000000.0 + 0.5)
                   / 1000000.0 AS enc_smooth
        FROM cat CROSS JOIN tot
    """,
    "mode_agg": """
        WITH counts AS (
            SELECT event_type, user_id, COUNT(*) AS c
            FROM events GROUP BY event_type, user_id
        ), ranked AS (
            SELECT event_type, user_id, c,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type
                       ORDER BY c DESC, user_id ASC
                   ) AS rn,
                   MAX(c) OVER (PARTITION BY event_type) AS modal_count
            FROM counts
        )
        SELECT event_type, user_id AS modal_user, modal_count
        FROM ranked WHERE rn = 1
    """,
    "jdbc_roundtrip": """
        SELECT event_type,
               COUNT(*) AS n_rows,
               COUNT(DISTINCT event_id) AS n_ids,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
        WHERE event_id % 7 = 0
        GROUP BY event_type
    """,
    "repetition_signals": """
        WITH base AS (
            SELECT doc_id,
                   string_split(text, chr(10)) AS lines,
                   string_split(text, ' ') AS words,
                   length(text) AS n_chars,
                   text
            FROM documents
        ), sig AS (
            SELECT doc_id,
                   round((len(lines) - len(list_distinct(lines))) * 1.0
                         / greatest(len(lines), 1), 6) AS dup_line_frac,
                   round((len(words) - len(list_distinct(words))) * 1.0
                         / greatest(len(words), 1), 6) AS dup_word_frac,
                   round((n_chars - length(regexp_replace(text, '#|\\.\\.\\.|…', '', 'g'))) * 1.0
                         / greatest(len(words), 1), 6) AS symbol_word_ratio
            FROM base
        ), grams AS (
            SELECT doc_id, n_chars, words[i] || ' ' || words[i + 1] AS g
            FROM base,
                 LATERAL (SELECT unnest(generate_series(1, len(words) - 1)) AS i) t
            WHERE len(words) >= 2
        ), topg AS (
            SELECT doc_id,
                   round(least(c * length(g) * 1.0 / greatest(n_chars, 1),
                               1.0), 6) AS top_bigram_char_frac
            FROM (
                SELECT doc_id, n_chars, g, COUNT(*) AS c,
                       ROW_NUMBER() OVER (
                           PARTITION BY doc_id
                           ORDER BY COUNT(*) DESC, length(g) DESC, g DESC
                       ) AS rn
                FROM grams GROUP BY doc_id, n_chars, g
            ) WHERE rn = 1
        )
        SELECT s.doc_id, s.dup_line_frac, s.dup_word_frac,
               s.symbol_word_ratio, t.top_bigram_char_frac
        FROM sig s LEFT JOIN topg t USING (doc_id)
    """,
    # Replays the trainer's two argmax rounds (identical to the
    # bpe_merge_rounds oracle), then ENCODES the distinct-word vocab
    # with each learned rule — the same double-space ' a  b '→' ab '
    # double-replace discipline — and joins doc words back against it,
    # exactly as operators/textstats.bpe_encode does.
    "bpe_encode_check": """
        WITH docw AS (
            SELECT doc_id, w FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents
            ) WHERE w <> ''
        ), words AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM docw GROUP BY w
        ), e0 AS (
            SELECT w, freq,
                   '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s
            FROM words
        ), p1 AS (
            SELECT p[1] AS lhs, p[2] AS rhs, CAST(SUM(freq) AS BIGINT) AS pf
            FROM (
                SELECT freq,
                       unnest(list_zip(arr[1:len(arr)-1], arr[2:len(arr)])) AS p
                FROM (SELECT freq, string_split(trim(s), '  ') AS arr FROM e0)
            ) GROUP BY lhs, rhs
        ), m1 AS (
            SELECT lhs, rhs FROM p1 ORDER BY pf DESC, lhs, rhs LIMIT 1
        ), e1 AS (
            SELECT w, freq,
                   replace(replace(s,
                       ' '||m1.lhs||'  '||m1.rhs||' ', ' '||m1.lhs||m1.rhs||' '),
                       ' '||m1.lhs||'  '||m1.rhs||' ', ' '||m1.lhs||m1.rhs||' ') AS s
            FROM e0 CROSS JOIN m1
        ), p2 AS (
            SELECT p[1] AS lhs, p[2] AS rhs, CAST(SUM(freq) AS BIGINT) AS pf
            FROM (
                SELECT freq,
                       unnest(list_zip(arr[1:len(arr)-1], arr[2:len(arr)])) AS p
                FROM (SELECT freq, string_split(trim(s), '  ') AS arr FROM e1)
            ) GROUP BY lhs, rhs
        ), m2 AS (
            SELECT lhs, rhs FROM p2 ORDER BY pf DESC, lhs, rhs LIMIT 1
        ), e2 AS (
            SELECT w,
                   replace(replace(s,
                       ' '||m2.lhs||'  '||m2.rhs||' ', ' '||m2.lhs||m2.rhs||' '),
                       ' '||m2.lhs||'  '||m2.rhs||' ', ' '||m2.lhs||m2.rhs||' ') AS s
            FROM e1 CROSS JOIN m2
        ), enc AS (
            SELECT w,
                   CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS tpw,
                   replace(s, ' ', '') = w AS rt
            FROM e2
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(tpw) AS BIGINT) AS n_tokens,
               BOOL_AND(rt) AS roundtrip_ok
        FROM docw JOIN enc USING (w)
        GROUP BY doc_id
    """,
    # Same gaps-and-islands construction as operators/merge.scd2_history:
    # null-safe change flags → running-sum version ordinals → island
    # collapse → lead() closes each validity range on the versions
    # relation. Islands hold a constant value by construction, so
    # MIN(value) is the value in both engines.
    "scd2_history": """
        WITH flagged AS (
            SELECT user_id, event_type, ts, event_id, value,
                   CASE WHEN value IS NOT DISTINCT FROM
                             lag(value) OVER (PARTITION BY user_id, event_type
                                              ORDER BY ts, event_id)
                        THEN 0 ELSE 1 END AS chg
            FROM events
        ), islands AS (
            SELECT user_id, event_type, value, ts,
                   SUM(chg) OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS version_n
            FROM flagged
        ), versions AS (
            SELECT user_id, event_type, version_n,
                   MIN(value) AS value,
                   MIN(ts) AS effective_from,
                   CAST(COUNT(*) AS BIGINT) AS n_events_in_version
            FROM islands GROUP BY user_id, event_type, version_n
        )
        SELECT user_id, event_type,
               CAST(version_n AS BIGINT) AS version_n,
               round(value, 6) AS value,
               effective_from,
               lead(effective_from) OVER w AS effective_to,
               lead(effective_from) OVER w IS NULL AS is_current,
               n_events_in_version
        FROM versions
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY version_n)
    """,
    # Slice cardinalities and the total recompute from raw events
    # (write lost nothing); the two skip flags and the file-count
    # floor are pinned TRUE — see _zorder_skipping_check for why the
    # Morton layout guarantees them with wide margin on the fixtures.
    "zorder_skipping_check": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_total,
               CAST(COUNT(*) FILTER (value BETWEEN 100.0 AND 150.0) AS BIGINT)
                   AS n_rows_value_slice,
               CAST(COUNT(*) FILTER (user_id <= 2) AS BIGINT)
                   AS n_rows_user_slice,
               TRUE AS skip_value_ok,
               TRUE AS skip_user_ok,
               TRUE AS layout_ok
        FROM events
    """,
    "sql_tpch_q2": _SQL_Q2.format(
        lineitem="lineitem", part="part", supplier="supplier",
        nation="nation", region="region", ps="ps",
    ),
    "sql_tpch_q9": _SQL_Q9.format(
        lineitem="lineitem", orders="orders", part="part",
        supplier="supplier", nation="nation",
    ),
    "sql_tpch_q11": _SQL_Q11.format(
        lineitem="lineitem", supplier="supplier", nation="nation", scoped="scoped",
    ),
    "sql_tpch_q16": _SQL_Q16.format(
        lineitem="lineitem", part="part", supplier="supplier",
    ),
    "sql_tpch_q20": _SQL_Q20.format(
        lineitem="lineitem", part="part", supplier="supplier",
        nation="nation", region="region",
    ),
    "ols_regression_group": """
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
        pt AS (
            SELECT event_type,
                   CAST(date_diff('day', TIMESTAMP '2024-01-01 00:00:00',
                                  day) AS BIGINT) AS x,
                   y
            FROM daily),
        s AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(x) AS DOUBLE) AS sx,
                   CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(x * y) AS DOUBLE) AS sxy,
                   CAST(SUM(x * x) AS DOUBLE) AS sxx,
                   CAST(SUM(y * y) AS DOUBLE) AS syy,
                   CAST(COUNT(*) AS DOUBLE) AS n
            FROM pt GROUP BY 1)
        SELECT event_type, n_days,
               CASE WHEN n * sxx - sx * sx > 0
                    THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
               END AS slope_per_day,
               CASE WHEN n * sxx - sx * sx > 0
                    THEN round((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6)
               END AS intercept_at_anchor,
               CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                    THEN round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                               / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
                               6)
               END AS r2
        FROM s
    """,
    "chi_square_independence": """
        WITH cells AS (
            SELECT event_type, dayofweek(ts) AS dow,
                   CAST(COUNT(*) AS BIGINT) AS o
            FROM events GROUP BY 1, 2),
        rm AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r_tot
               FROM cells GROUP BY 1),
        cm AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c_tot
               FROM cells GROUP BY 1),
        tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_r,
                       CAST(COUNT(DISTINCT dow) AS BIGINT) AS n_c
                FROM cells),
        terms AS (
            SELECT n, n_r, n_c,
                   CAST(round((o - e) * (o - e) / e, 6)
                        AS DECIMAL(28,6)) AS term
            FROM (SELECT c.o,
                         CAST(r_tot * c_tot AS DOUBLE) / n AS e,
                         n, n_r, n_c
                  FROM cells c
                  JOIN rm USING (event_type)
                  JOIN cm USING (dow), tot))
        SELECT n, n_r AS n_row_levels, n_c AS n_col_levels,
               CAST((n_r - 1) * (n_c - 1) AS BIGINT) AS dof,
               round(CAST(SUM(term) AS DOUBLE), 6) AS chi2,
               round(sqrt(CAST(SUM(term) AS DOUBLE)
                          / CAST(n * LEAST(n_r - 1, n_c - 1) AS DOUBLE)),
                     6) AS cramers_v
        FROM terms GROUP BY n, n_r, n_c
    """,
    "winsorize_features": """
        WITH q AS (
            SELECT event_id, event_type, round(value, 6) AS value_q
            FROM events),
        ranked AS (
            SELECT event_id, event_type, value_q,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY value_q, event_id) AS rk,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM q),
        bounds AS (
            SELECT event_type,
                   MAX(CASE WHEN rk = (n + 19) // 20 THEN value_q END)
                       AS p05,
                   MAX(CASE WHEN rk = (n * 19 + 19) // 20 THEN value_q END)
                       AS p95
            FROM ranked GROUP BY 1)
        SELECT q.event_id, q.event_type, q.value_q, b.p05, b.p95,
               LEAST(GREATEST(q.value_q, b.p05), b.p95) AS clipped,
               (q.value_q < b.p05 OR q.value_q > b.p95) AS was_clipped
        FROM q JOIN bounds b USING (event_type)
    """,
    "attribution_position_based": """
        WITH tagged AS (
            SELECT user_id, event_id, ts, event_type,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS cp
            FROM events),
        touches AS (
            SELECT user_id, event_id, ts, event_type, cp + 1 AS journey
            FROM tagged WHERE event_type <> 'purchase'),
        journeys AS (
            SELECT DISTINCT user_id, cp AS journey
            FROM tagged WHERE event_type = 'purchase'),
        ranked AS (
            SELECT t.event_type, t.user_id, t.journey,
                   ROW_NUMBER() OVER (PARTITION BY t.user_id, t.journey
                                      ORDER BY t.ts, t.event_id) AS pos,
                   COUNT(*) OVER (PARTITION BY t.user_id, t.journey) AS n
            FROM touches t
            JOIN journeys j
              ON t.user_id = j.user_id AND t.journey = j.journey),
        credits AS (
            SELECT event_type, user_id, journey,
                   CAST(round(CASE WHEN n = 1 THEN 1.0
                                   WHEN n = 2 THEN 0.5
                                   WHEN pos = 1 THEN 0.4
                                   WHEN pos = n THEN 0.4
                                   ELSE round(0.2 / (n - 2), 6)
                              END, 6) AS DECIMAL(18,6)) AS credit
            FROM ranked)
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(COUNT(DISTINCT (user_id, journey)) AS BIGINT)
                   AS n_conversions_touched,
               CAST(SUM(credit) AS DOUBLE) AS total_credit
        FROM credits GROUP BY event_type
    """,
    "holt_linear_forecast": """
        WITH RECURSIVE daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS DECIMAL(18,6)) AS y,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY CAST(date_trunc('day', ts)
                                                    AS DATE)) AS t
            FROM events GROUP BY 1, 2),
        rec AS (
            SELECT d.event_type, d.t, d.day, d.y,
                   d.y AS level,
                   CAST(d2.y - d.y AS DECIMAL(18,6)) AS trend
            FROM daily d
            LEFT JOIN daily d2
              ON d.event_type = d2.event_type AND d2.t = 2
            WHERE d.t = 1
            UNION ALL
            SELECT d.event_type, d.t, d.day, d.y,
                   CAST(round(0.5 * d.y + 0.5 * (r.level + r.trend), 6)
                        AS DECIMAL(18,6)) AS level,
                   CAST(round(0.3 * (CAST(round(0.5 * d.y
                                                + 0.5 * (r.level + r.trend),
                                                6) AS DECIMAL(18,6))
                                     - r.level)
                              + 0.7 * r.trend, 6)
                        AS DECIMAL(18,6)) AS trend
            FROM rec r
            JOIN daily d
              ON d.event_type = r.event_type AND d.t = r.t + 1)
        SELECT event_type, day, CAST(y AS DOUBLE) AS y,
               CAST(level AS DOUBLE) AS level,
               CAST(trend AS DOUBLE) AS trend,
               CAST(level + trend AS DOUBLE) AS one_step_ahead
        FROM rec
    """,
    # Replays holt_winters_dow exactly: per-type calendar densification
    # (y = 0 observations keep the positional ring in phase), textbook
    # first-season init, then the list-recursive decimal ring — the
    # DECIMAL(2,1) literals 0.5/0.3/0.2 keep every product exact, and
    # DuckDB round() on DECIMAL is half-up, matching the engine's
    # Decimal quantize(ROUND_HALF_UP). one_step_ahead reads the NEW
    # ring's head (= the seasonal slot for day t+1).
    "holt_winters_dow": """
        WITH RECURSIVE counts AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   COUNT(*) AS c
            FROM events GROUP BY 1, 2),
        span AS (
            SELECT event_type, MIN(day) AS d0, MAX(day) AS d1,
                   date_diff('day', MIN(day), MAX(day)) + 1 AS n
            FROM counts GROUP BY 1),
        cal AS (
            SELECT s.event_type, CAST(t.d AS DATE) AS day,
                   ROW_NUMBER() OVER (PARTITION BY s.event_type
                                      ORDER BY CAST(t.d AS DATE)) AS t
            FROM span s,
                 unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
                                        CAST(s.d1 AS TIMESTAMP),
                                        INTERVAL 1 DAY)) AS t(d)
            WHERE s.n >= 14),
        dense AS (
            SELECT cal.event_type, cal.day, cal.t,
                   CAST(COALESCE(c.c, 0) AS DECIMAL(18,6)) AS y
            FROM cal LEFT JOIN counts c
              ON c.event_type = cal.event_type AND c.day = cal.day),
        init AS (
            SELECT event_type,
                   CAST(round(SUM(CASE WHEN t <= 7 THEN y END) / 7, 6)
                        AS DECIMAL(18,6)) AS mean1,
                   CAST(round(SUM(CASE WHEN t > 7 AND t <= 14 THEN y END)
                              / 7, 6) AS DECIMAL(18,6)) AS mean2
            FROM dense GROUP BY 1),
        ring0 AS (
            SELECT d.event_type,
                   list(CAST(round(d.y - i.mean1, 6) AS DECIMAL(18,6))
                        ORDER BY d.t) AS ring
            FROM dense d JOIN init i USING (event_type)
            WHERE d.t <= 7 GROUP BY 1),
        rec AS (
            SELECT d.event_type, d.t, d.day, d.y,
                   i.mean1 AS level,
                   CAST(round((i.mean2 - i.mean1) / 7, 6)
                        AS DECIMAL(18,6)) AS trend,
                   r0.ring AS ring,
                   r0.ring[7] AS seasonal
            FROM dense d
            JOIN init i USING (event_type)
            JOIN ring0 r0 USING (event_type)
            WHERE d.t = 7
            UNION ALL
            SELECT q.event_type, q.t, q.day, q.y,
                   q.level2 AS level,
                   CAST(round(0.3 * (q.level2 - q.level) + 0.7 * q.trend, 6)
                        AS DECIMAL(18,6)) AS trend,
                   list_append(q.ring[2:7],
                       CAST(round(0.2 * (q.y - q.level2) + 0.8 * q.ring[1],
                                  6) AS DECIMAL(18,6))) AS ring,
                   CAST(round(0.2 * (q.y - q.level2) + 0.8 * q.ring[1], 6)
                        AS DECIMAL(18,6)) AS seasonal
            FROM (
                SELECT d.event_type, d.t, d.day, d.y, r.level, r.trend,
                       r.ring,
                       CAST(round(0.5 * (d.y - r.ring[1])
                                  + 0.5 * (r.level + r.trend), 6)
                            AS DECIMAL(18,6)) AS level2
                FROM rec r
                JOIN dense d
                  ON d.event_type = r.event_type AND d.t = r.t + 1
            ) q)
        SELECT event_type, day, CAST(y AS DOUBLE) AS y,
               CAST(level AS DOUBLE) AS level,
               CAST(trend AS DOUBLE) AS trend,
               CAST(seasonal AS DOUBLE) AS seasonal,
               CAST(level + trend + ring[1] AS DOUBLE) AS one_step_ahead
        FROM rec
    """,
    # Replays the PAVA fit through the minimax identity fit_i =
    # max_{j<=i} min_{k>=i} avg(y[j..k]) on prefix sums — O(n^3) pairs
    # per series, trivial on the fixture's bounded 30-day calendar.
    # The attained value IS the pooled block mean as a rational, so
    # the double min/max lands on the identical IEEE value the engine
    # computes, and the floor(x*1e6 + 0.5) quantization mirrors the
    # operator's tie discipline op for op.
    "isotonic_daily_fit": """
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY CAST(date_trunc('day', ts)
                                                    AS DATE)) AS t
            FROM events GROUP BY 1, 2),
        ps AS (
            SELECT event_type, day, y, t,
                   SUM(y) OVER (PARTITION BY event_type ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS s
            FROM daily),
        pairs AS (
            SELECT a.event_type, a.t AS j, b.t AS k,
                   CAST(b.s - a.s + a.y AS DOUBLE) / (b.t - a.t + 1) AS m
            FROM ps a JOIN ps b
              ON b.event_type = a.event_type AND b.t >= a.t),
        mins AS (
            SELECT p.event_type, i.t AS ti, i.day, i.y, p.j,
                   MIN(p.m) AS mn
            FROM pairs p
            JOIN daily i ON i.event_type = p.event_type
                        AND p.j <= i.t AND i.t <= p.k
            GROUP BY 1, 2, 3, 4, 5),
        fit AS (
            SELECT event_type, day, y, MAX(mn) AS fv
            FROM mins GROUP BY 1, 2, 3)
        SELECT event_type, day, y,
               floor(fv * 1000000 + 0.5) / 1000000 AS fit
        FROM fit
    """,
    # Replays the rate-limited drain's admission ledger: with all
    # three event_id % 3 files present before the query starts,
    # maxFilesPerTrigger=1 must admit exactly one file per micro-batch
    # — so the data-carrying batch count equals the file count and the
    # per-batch input-row multiset equals the per-residue counts.
    "stream_rate_limited_live": """
        WITH per AS (
            SELECT CAST(event_id % 3 AS INTEGER) AS b,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1),
        tot AS (
            SELECT CAST(COUNT(*) AS INTEGER) AS n_batches FROM per),
        st AS (
            SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT)
                       AS n_state_types,
                   CAST(COUNT(*) AS BIGINT) AS state_total_rows
            FROM events)
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY c) AS INTEGER)
                   AS batch_rank,
               c AS batch_rows,
               n_batches,
               n_batches = 3 AS one_file_per_trigger,
               n_state_types,
               state_total_rows
        FROM per, tot, st
    """,
    # Replays kruskal_wallis: global average ranks over the per-value
    # relation (the mann_whitney doubled-rank device), per-group rank
    # sums in DECIMAL(38,0), tie-corrected H, chi2(0.95, k-1) gate.
    "kruskal_wallis": """
        WITH pv AS (
            SELECT value, event_type, CAST(COUNT(*) AS BIGINT) AS c
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        per_value AS (
            SELECT value, CAST(SUM(c) AS BIGINT) AS n_v
            FROM pv GROUP BY 1),
        rk AS (
            SELECT value, n_v,
                   2 * COALESCE(SUM(n_v) OVER (ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) + n_v + 1 AS avgrank2
            FROM per_value),
        grp AS (
            SELECT p.event_type, CAST(SUM(p.c) AS BIGINT) AS n_g,
                   SUM(CAST(CAST(p.c AS DECIMAL(19,0))
                            * CAST(r.avgrank2 AS DECIMAL(19,0))
                            AS DECIMAL(38,0))) AS rank_sum2
            FROM pv p JOIN rk r USING (value) GROUP BY 1),
        tot AS (
            SELECT CAST(SUM(n_v) AS BIGINT) AS n_tot,
                   SUM(CAST(n_v AS DECIMAL(12,0))
                       * CAST(n_v AS DECIMAL(12,0))
                       * CAST(n_v AS DECIMAL(12,0))
                       - CAST(n_v AS DECIMAL(38,0))) AS tie_sum
            FROM rk),
        terms AS (
            SELECT g.event_type, g.n_g, g.rank_sum2, t.n_tot, t.tie_sum,
                   CAST(round(g.n_g
                        * (CAST(g.rank_sum2 AS DOUBLE) / (2.0 * g.n_g)
                           - (CAST(t.n_tot AS DOUBLE) + 1) / 2.0)
                        * (CAST(g.rank_sum2 AS DOUBLE) / (2.0 * g.n_g)
                           - (CAST(t.n_tot AS DOUBLE) + 1) / 2.0), 6)
                        AS DECIMAL(38,6)) AS term
            FROM grp g, tot t),
        agg AS (
            SELECT n_tot, tie_sum,
                   CAST(SUM(term) AS DOUBLE) AS sum_terms,
                   CAST(COUNT(*) AS BIGINT) AS k_groups
            FROM terms GROUP BY 1, 2),
        verdict AS (
            SELECT round((12.0 / (CAST(n_tot AS DOUBLE)
                                  * (CAST(n_tot AS DOUBLE) + 1))
                          * sum_terms)
                         / nullif(1.0 - CAST(tie_sum AS DOUBLE)
                                  / (CAST(n_tot AS DOUBLE)
                                     * CAST(n_tot AS DOUBLE)
                                     * CAST(n_tot AS DOUBLE)
                                     - CAST(n_tot AS DOUBLE)), 0.0),
                         6) AS h_stat,
                   CAST(k_groups - 1 AS INTEGER) AS df_used,
                   CASE k_groups - 1
                        WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465
                        WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729
                        WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587
                        WHEN 7 THEN 14.067140 END AS chi2_crit
            FROM agg)
        SELECT t.event_type, t.n_g,
               CAST(t.rank_sum2 AS DOUBLE) AS rank_sum,
               v.h_stat, v.df_used, v.chi2_crit,
               COALESCE(v.h_stat > v.chi2_crit, FALSE) AS reject
        FROM terms t, verdict v
    """,
    # Replays proportions_ztest: pooled-variance two-proportion z on
    # exact counts, A&S 26.2.17 two-sided normal tail.
    "proportions_ztest": """
        WITH agg AS (
            SELECT CAST(COUNT(*) FILTER (
                       ts < TIMESTAMP '2024-01-11 00:00:00')
                       AS BIGINT) AS n_base,
                   CAST(COUNT(*) FILTER (
                       ts >= TIMESTAMP '2024-01-11 00:00:00')
                       AS BIGINT) AS n_cur,
                   CAST(COUNT(*) FILTER (
                       ts < TIMESTAMP '2024-01-11 00:00:00'
                       AND value >= 5.0) AS BIGINT) AS conv_base,
                   CAST(COUNT(*) FILTER (
                       ts >= TIMESTAMP '2024-01-11 00:00:00'
                       AND value >= 5.0) AS BIGINT) AS conv_cur
            FROM events),
        z0 AS (
            SELECT *,
                   round(conv_base / nullif(CAST(n_base AS DOUBLE), 0.0),
                         6) AS p_base,
                   round(conv_cur / nullif(CAST(n_cur AS DOUBLE), 0.0),
                         6) AS p_cur,
                   (conv_base + conv_cur)
                       / nullif(CAST(n_base AS DOUBLE) + n_cur, 0.0)
                       AS pp
            FROM agg),
        z1 AS (
            SELECT *,
                   round((p_base - p_cur)
                         / sqrt(nullif(pp * (1.0 - pp)
                                       * (1.0 / CAST(n_base AS DOUBLE)
                                          + 1.0 / CAST(n_cur AS DOUBLE)),
                                       0.0)), 6) AS z_score
            FROM z0),
        z2 AS (
            SELECT *, 1.0 / (1.0 + 0.2316419 * abs(z_score)) AS k
            FROM z1)
        SELECT n_base, n_cur, conv_base, conv_cur, p_base, p_cur,
               z_score,
               round(round(2.0 * exp(-z_score * z_score / 2.0)
                     * 0.3989422804014327
                     * (k * (0.319381530 + k * (-0.356563782
                        + k * (1.781477937 + k * (-1.821255978
                        + k * 1.330274429))))), 6), 6) AS p_value,
               COALESCE(abs(z_score) > 1.96, FALSE) AS significant
        FROM z2
    """,
    # Replays spearman_daily_corr: per-type doubled average ranks of
    # the daily counts, day-aligned pair join, Pearson on exact
    # integer rank statistics.
    "spearman_daily_corr": """
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
        pv AS (
            SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS n_v
            FROM daily GROUP BY 1, 2),
        rv AS (
            SELECT event_type, y,
                   2 * COALESCE(SUM(n_v) OVER (PARTITION BY event_type
                        ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) + n_v + 1 AS r2
            FROM pv),
        rk AS (
            SELECT d.event_type, d.day, CAST(r.r2 AS DECIMAL(19,0)) AS r2
            FROM daily d
            JOIN rv r ON r.event_type = d.event_type AND r.y = d.y),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   a.r2 AS ra, b.r2 AS rb
            FROM rk a JOIN rk b
              ON a.day = b.day AND a.event_type < b.event_type),
        st AS (
            SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ra) AS DECIMAL(38,0)) AS sa,
                   CAST(SUM(rb) AS DECIMAL(38,0)) AS sb,
                   SUM(CAST(ra * rb AS DECIMAL(38,0))) AS sab,
                   SUM(CAST(ra * ra AS DECIMAL(38,0))) AS saa,
                   SUM(CAST(rb * rb AS DECIMAL(38,0))) AS sbb
            FROM pairs GROUP BY 1, 2)
        SELECT type_a, type_b, n_days,
               round((CAST(n_days AS DOUBLE) * CAST(sab AS DOUBLE)
                      - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                     / nullif(sqrt((CAST(n_days AS DOUBLE)
                                    * CAST(saa AS DOUBLE)
                                    - CAST(sa AS DOUBLE)
                                      * CAST(sa AS DOUBLE))
                                   * (CAST(n_days AS DOUBLE)
                                      * CAST(sbb AS DOUBLE)
                                      - CAST(sb AS DOUBLE)
                                        * CAST(sb AS DOUBLE))), 0.0),
                     6) AS rho
        FROM st
    """,
    # Replays page_hinkley: per-type running mean, 6-dp decimal term
    # fold, running min, alarm at lambda = 100.
    "page_hinkley": """
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
        wm AS (
            SELECT event_type, day, y,
                   CAST(SUM(y) OVER w AS DOUBLE)
                       / ROW_NUMBER() OVER (PARTITION BY event_type
                                            ORDER BY day) AS run_mean
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS UNBOUNDED PRECEDING)),
        mt AS (
            SELECT event_type, day, y,
                   SUM(CAST(round(CAST(y AS DOUBLE) - run_mean - 0.0, 6)
                            AS DECIMAL(18,6))) OVER w AS m_t
            FROM wm
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS UNBOUNDED PRECEDING))
        SELECT event_type, day, y,
               round(CAST(m_t - MIN(m_t) OVER w AS DOUBLE), 6) AS ph_stat,
               COALESCE(round(CAST(m_t - MIN(m_t) OVER w AS DOUBLE), 6)
                        > 100.0, FALSE) AS alarm
        FROM mt
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING)
    """,
    # Replays permutation_test_mean: the bootstrap hash-once/slice-8
    # layout with a Bernoulli(n_base/N) relabel threshold at the
    # 16-bit grain; add-one p over surviving replicates.
    "permutation_test_mean": """
        WITH tot AS (
            SELECT CAST(COUNT(*) FILTER (
                       ts < TIMESTAMP '2024-01-11 00:00:00')
                       AS BIGINT) AS n_base,
                   CAST(COUNT(*) FILTER (
                       ts >= TIMESTAMP '2024-01-11 00:00:00')
                       AS BIGINT) AS n_cur,
                   SUM(CAST(value AS DECIMAL(18,2))) AS s_tot,
                   SUM(CASE WHEN ts < TIMESTAMP '2024-01-11 00:00:00'
                            THEN CAST(value AS DECIMAL(18,2))
                            ELSE CAST(0 AS DECIMAL(18,2)) END) AS s_base
            FROM events),
        tot2 AS (
            -- fixed-width lowercase hex compares lexicographically ==
            -- numerically (the bootstrap trick): one string compare
            -- per lane, no radix parse
            SELECT *, printf('%04x', least(
                       (65536 * n_base) // (n_base + n_cur), 65535))
                   AS thr_hex
            FROM tot),
        grouped AS (
            SELECT CAST(value AS DECIMAL(18,2)) AS v,
                   CAST(t.bhi AS INTEGER) AS bhi,
                   md5(CAST(event_id AS VARCHAR) || ':'
                       || CAST(t.bhi AS VARCHAR) || ':23') AS h
            FROM events, unnest(range(0, 13)) AS t(bhi)),
        lanes AS (
            SELECT v, bhi, CAST(t2.blo AS INTEGER) AS blo,
                   substring(h, CAST(t2.blo AS INTEGER) * 4 + 1, 4)
                       AS s16
            FROM grouped, unnest(range(0, 8)) AS t2(blo)
            WHERE bhi * 8 + CAST(t2.blo AS INTEGER) < 100),
        reps0 AS (
            SELECT bhi * 8 + blo AS b,
                   SUM(CASE WHEN s16 < thr_hex THEN v
                            ELSE CAST(0 AS DECIMAL(18,2)) END) AS sv,
                   CAST(SUM(CASE WHEN s16 < thr_hex THEN 1 ELSE 0 END)
                        AS BIGINT) AS sn
            FROM lanes, tot2 GROUP BY 1),
        reps AS (
            SELECT round(CAST(sv AS DOUBLE) / sn
                         - CAST(s_tot - sv AS DOUBLE)
                           / (n_base + n_cur - sn), 6) AS diff_p
            FROM reps0, tot2
            WHERE sn > 0 AND sn < n_base + n_cur),
        obs AS (
            SELECT n_base, n_cur,
                   round(CAST(s_base AS DOUBLE)
                         / nullif(CAST(n_base AS DOUBLE), 0.0)
                         - CAST(s_tot - s_base AS DOUBLE)
                           / nullif(CAST(n_cur AS DOUBLE), 0.0), 6)
                       AS diff_obs
            FROM tot2),
        ver AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_perms,
                   CAST(COUNT(*) FILTER (abs(diff_p) >= abs(diff_obs))
                        AS BIGINT) AS n_extreme
            FROM reps, obs)
        SELECT n_base, n_cur, diff_obs, n_perms, n_extreme,
               round((1 + n_extreme) / CAST(1 + n_perms AS DOUBLE), 6)
                   AS p_value
        FROM obs, ver
    """,
    # Replays window_group_limit_check's exact top-3 (total order:
    # price desc, PK tie-break); the plan artifact is pinned TRUE.
    "window_group_limit_check": """
        WITH r AS (
            SELECT l_returnflag, l_extendedprice, l_orderkey,
                   l_linenumber,
                   CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
                        ORDER BY l_extendedprice DESC, l_orderkey ASC,
                                 l_linenumber ASC) AS INTEGER) AS rnk
            FROM lineitem)
        SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
               rnk, TRUE AS wgl_planned
        FROM r WHERE rnk <= 3
    """,
    # Replays nested_prune_check's aggregate from raw events; the
    # pruned-ReadSchema artifact is pinned TRUE.
    "nested_prune_check": """
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
               TRUE AS nested_pruned
        FROM events GROUP BY 1
    """,
    # Replays tokenizer_fertility: the bpe_encode_check merge chain
    # verbatim (same corpus word frequencies, same two argmax rules),
    # then a per-language rollup of tokens-per-word.
    "tokenizer_fertility": """
        WITH docw AS (
            SELECT doc_id, lang, w FROM (
                SELECT doc_id, lang,
                       unnest(string_split(text, ' ')) AS w
                FROM documents
            ) WHERE w <> ''
), words AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM docw GROUP BY w
        ), e0 AS (
            SELECT w, freq,
                   '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s
            FROM words
        ), p1 AS (
            SELECT p[1] AS lhs, p[2] AS rhs, CAST(SUM(freq) AS BIGINT) AS pf
            FROM (
                SELECT freq,
                       unnest(list_zip(arr[1:len(arr)-1], arr[2:len(arr)])) AS p
                FROM (SELECT freq, string_split(trim(s), '  ') AS arr FROM e0)
            ) GROUP BY lhs, rhs
        ), m1 AS (
            SELECT lhs, rhs FROM p1 ORDER BY pf DESC, lhs, rhs LIMIT 1
        ), e1 AS (
            SELECT w, freq,
                   replace(replace(s,
                       ' '||m1.lhs||'  '||m1.rhs||' ', ' '||m1.lhs||m1.rhs||' '),
                       ' '||m1.lhs||'  '||m1.rhs||' ', ' '||m1.lhs||m1.rhs||' ') AS s
            FROM e0 CROSS JOIN m1
        ), p2 AS (
            SELECT p[1] AS lhs, p[2] AS rhs, CAST(SUM(freq) AS BIGINT) AS pf
            FROM (
                SELECT freq,
                       unnest(list_zip(arr[1:len(arr)-1], arr[2:len(arr)])) AS p
                FROM (SELECT freq, string_split(trim(s), '  ') AS arr FROM e1)
            ) GROUP BY lhs, rhs
        ), m2 AS (
            SELECT lhs, rhs FROM p2 ORDER BY pf DESC, lhs, rhs LIMIT 1
        ), e2 AS (
            SELECT w,
                   replace(replace(s,
                       ' '||m2.lhs||'  '||m2.rhs||' ', ' '||m2.lhs||m2.rhs||' '),
                       ' '||m2.lhs||'  '||m2.rhs||' ', ' '||m2.lhs||m2.rhs||' ') AS s
            FROM e1 CROSS JOIN m2
        ), enc AS (
            SELECT w,
                   CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS tpw
            FROM e2
        ), per_lang AS (
            SELECT lang,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(tpw) AS BIGINT) AS n_tokens
            FROM docw JOIN enc USING (w)
            GROUP BY lang)
        SELECT lang, n_docs, n_words, n_tokens,
               round(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility
        FROM per_lang
    """,
    # Replays item_cf_neighbors: distinct (order, part) incidence,
    # in-order pair counts, cosine n_co/sqrt(n_i*n_j), per-item top-3
    # with (cosine desc, neighbor asc) ties.
    "item_cf_neighbors": """
        WITH bp AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
            SELECT x.l_partkey AS a, y.l_partkey AS b,
                   CAST(COUNT(*) AS BIGINT) AS n_co
            FROM bp x
            JOIN bp y ON x.l_orderkey = y.l_orderkey
                     AND x.l_partkey < y.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        marg AS (
            SELECT l_partkey AS item, CAST(COUNT(*) AS BIGINT) AS n
            FROM bp GROUP BY 1),
        sym AS (
            SELECT a AS item, b AS neighbor, n_co FROM pairs
            UNION ALL
            SELECT b AS item, a AS neighbor, n_co FROM pairs),
        scored AS (
            SELECT s.item, s.neighbor, s.n_co,
                   mi.n AS n_item, mn.n AS n_neighbor,
                   round(s.n_co / sqrt(CAST(mi.n AS DOUBLE) * mn.n), 6)
                       AS cosine
            FROM sym s
            JOIN marg mi ON mi.item = s.item
            JOIN marg mn ON mn.item = s.neighbor)
        SELECT item, neighbor, n_co, n_item, n_neighbor, cosine,
               CAST(rnk AS INTEGER) AS rnk
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY item
                     ORDER BY cosine DESC, neighbor ASC) AS rnk
              FROM scored)
        WHERE rnk <= 3
    """,
    # Replays brown_forsythe_test: discrete group medians, 6-dp
    # decimal |x - med| folds, the F statistic on z, and the
    # general-df2 F(k-1, N-k) gate via f_crit_95_sql (the same
    # three-branch closed form the engine evaluates).
    "brown_forsythe_test": f"""
        WITH vals AS (
            SELECT event_type, value FROM events
            WHERE value IS NOT NULL),
        pv AS (
            SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS c
            FROM vals GROUP BY 1, 2),
        cum AS (
            SELECT event_type, value, c,
                   SUM(c) OVER (PARTITION BY event_type ORDER BY value
                                ROWS UNBOUNDED PRECEDING) AS cum
            FROM pv),
        ng AS (
            SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_g
            FROM pv GROUP BY 1),
        med AS (
            SELECT c.event_type, MIN(c.value) AS median_g
            FROM cum c JOIN ng USING (event_type)
            WHERE c.cum >= (n_g + 1) // 2 GROUP BY 1),
        z AS (
            SELECT v.event_type,
                   CAST(round(abs(v.value - m.median_g), 6)
                        AS DECIMAL(18,6)) AS z
            FROM vals v JOIN med m USING (event_type)),
        groups AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
                   SUM(z) AS sz,
                   SUM(CAST(z * z AS DECIMAL(38,12))) AS szz
            FROM z GROUP BY 1),
        tot AS (
            SELECT CAST(SUM(n_g) AS BIGINT) AS n_tot, SUM(sz) AS sz_tot,
                   CAST(COUNT(*) AS BIGINT) AS k_groups
            FROM groups),
        pg AS (
            SELECT g.event_type, g.n_g, m.median_g,
                   round(CAST(g.sz AS DOUBLE) / CAST(g.n_g AS DOUBLE),
                         6) AS mean_z,
                   CAST(round(CAST(g.n_g AS DOUBLE)
                        * (CAST(g.sz AS DOUBLE) / CAST(g.n_g AS DOUBLE)
                           - CAST(t.sz_tot AS DOUBLE) / t.n_tot)
                        * (CAST(g.sz AS DOUBLE) / CAST(g.n_g AS DOUBLE)
                           - CAST(t.sz_tot AS DOUBLE) / t.n_tot), 6)
                        AS DECIMAL(38,6)) AS bt,
                   CAST(round(CAST(g.szz AS DOUBLE)
                        - CAST(g.sz AS DOUBLE) * CAST(g.sz AS DOUBLE)
                          / CAST(g.n_g AS DOUBLE), 6)
                        AS DECIMAL(38,6)) AS wt,
                   t.n_tot, t.k_groups
            FROM groups g
            JOIN med m USING (event_type), tot t),
        agg AS (
            SELECT n_tot, k_groups,
                   CAST(SUM(bt) AS DOUBLE) AS sb,
                   CAST(SUM(wt) AS DOUBLE) AS sw
            FROM pg GROUP BY 1, 2),
        ver AS (
            SELECT round(((CAST(n_tot AS DOUBLE) - k_groups)
                          / (CAST(k_groups AS DOUBLE) - 1))
                         * (sb / nullif(sw, 0.0)), 6) AS w_stat,
                   CAST(k_groups - 1 AS INTEGER) AS df1,
                   CAST(n_tot - k_groups AS BIGINT) AS df2,
                   round({f_crit_95_sql("k_groups - 1", "n_tot - k_groups")},
                         6) AS f_crit
            FROM agg)
        SELECT p.event_type, p.n_g, p.median_g, p.mean_z,
               v.w_stat, v.df1, v.df2, v.f_crit,
               COALESCE(v.w_stat > v.f_crit, FALSE) AS reject
        FROM pg p, ver v
    """,
    # Replays pacf_daily: the ljung_box 7-lag calendar-aware ACF CTEs
    # verbatim, then the Durbin-Levinson recursion as a list-recursive
    # CTE — the phi state rides as a DECIMAL(18,6) LIST (products stay
    # exact; DuckDB decimal round is half-up == the engine quantize),
    # each division floor-quantized in double (the gapfill tie
    # discipline).
    "pacf_daily": """
        WITH RECURSIVE daily AS (
            SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
            FROM events GROUP BY 1),
        st AS (SELECT CAST(SUM(n) AS BIGINT) AS tot_n,
                      CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        dev AS (
            SELECT day, n_days,
                   round(n - CAST(tot_n AS DOUBLE) / n_days, 6) AS d0
            FROM daily, st),
        nums AS (
            SELECT CAST(date_diff('day', p.day, c.day) AS INTEGER) AS lag,
                   SUM(CAST(round(c.d0 * p.d0, 6) AS DECIMAL(18,6)))
                       AS num_dec
            FROM dev c JOIN dev p
              ON date_diff('day', p.day, c.day) BETWEEN 1 AND 7
            GROUP BY 1),
        spine AS (
            SELECT CAST(gs.lag AS INTEGER) AS lag, st.n_days
            FROM st, generate_series(1, 7) AS gs(lag)),
        den AS (SELECT SUM(CAST(round(d0 * d0, 6) AS DECIMAL(18,6)))
                    AS den_dec FROM dev),
        acf AS (
            SELECT s.lag, s.n_days,
                   round(CAST(num_dec AS DOUBLE)
                         / nullif(CAST(den_dec AS DOUBLE), 0.0), 6) AS acf
            FROM spine s LEFT JOIN nums USING (lag), den),
        rl AS (
            SELECT list(CAST(acf AS DECIMAL(18,6)) ORDER BY lag) AS r,
                   CAST(COUNT(acf) AS INTEGER) AS n_ok
            FROM acf),
        rec AS (
            SELECT 1 AS k, r, n_ok, [r[1]] AS phi,
                   CAST(r[1] AS DOUBLE) AS pacf
            FROM rl WHERE n_ok >= 1
            UNION ALL
            SELECT q.k, q.r, q.n_ok,
                   list_append(
                       list_transform(generate_series(1, q.k - 1),
                           j -> CAST(round(q.phi[j]
                                - CAST(q.pacf_d AS DECIMAL(18,6))
                                  * q.phi[q.k - j], 6)
                                AS DECIMAL(18,6))),
                       CAST(q.pacf_d AS DECIMAL(18,6))) AS phi,
                   CAST(q.pacf_d AS DOUBLE) AS pacf
            FROM (
                SELECT r.k + 1 AS k, r.r, r.n_ok, r.phi,
                       floor(CAST(r.r[r.k + 1]
                                  - list_sum(list_transform(
                                      generate_series(1, r.k),
                                      j -> r.phi[j] * r.r[r.k + 1 - j]))
                                  AS DOUBLE)
                             / CAST(1 - list_sum(list_transform(
                                      generate_series(1, r.k),
                                      j -> r.phi[j] * r.r[j]))
                                  AS DOUBLE)
                             * 1000000.0 + 0.5) / 1000000.0 AS pacf_d
                FROM rec r WHERE r.k < r.n_ok
            ) q)
        SELECT a.lag, a.n_days, a.acf, rec.pacf
        FROM acf a LEFT JOIN rec ON rec.k = a.lag
    """,
    # Replays txnlog_bloom_skipping: the pruned read's aggregates
    # from raw-events arithmetic plus the pinned planning literals
    # (4 type-bucketed files; bloom prunes the equality probe to the
    # 1 purchase file, the id zone map provably keeps all 4, the
    # absent probe plans 0).
    "txnlog_bloom_skipping": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) AS sum_value,
               4 AS files_total,
               1 AS files_bloom_scanned,
               4 AS files_zonemap_kept,
               0 AS files_absent_probe
        FROM events WHERE event_type = 'purchase'
    """,
    # Replays dunn_posthoc: the kruskal_wallis rank CTEs verbatim,
    # pairwise tie-corrected z on the rounded mean ranks, the
    # proportions_ztest A&S tail pairing, BH step-up windows.
    "dunn_posthoc": """
        WITH pv AS (
            SELECT value, event_type, CAST(COUNT(*) AS BIGINT) AS c
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        per_value AS (
            SELECT value, CAST(SUM(c) AS BIGINT) AS n_v
            FROM pv GROUP BY 1),
        rk AS (
            SELECT value, n_v,
                   2 * COALESCE(SUM(n_v) OVER (ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) + n_v + 1 AS avgrank2
            FROM per_value),
        grp AS (
            SELECT p.event_type, CAST(SUM(p.c) AS BIGINT) AS n_g,
                   SUM(CAST(CAST(p.c AS DECIMAL(19,0))
                            * CAST(r.avgrank2 AS DECIMAL(19,0))
                            AS DECIMAL(38,0))) AS rank_sum2
            FROM pv p JOIN rk r USING (value) GROUP BY 1),
        tot AS (
            SELECT CAST(SUM(n_v) AS BIGINT) AS n_tot,
                   SUM(CAST(n_v AS DECIMAL(12,0))
                       * CAST(n_v AS DECIMAL(12,0))
                       * CAST(n_v AS DECIMAL(12,0))
                       - CAST(n_v AS DECIMAL(38,0))) AS tie_sum
            FROM rk),
        pr AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   a.n_g AS n_a, b.n_g AS n_b,
                   round(CAST(a.rank_sum2 AS DOUBLE) / (2.0 * a.n_g),
                         6) AS rbar_a,
                   round(CAST(b.rank_sum2 AS DOUBLE) / (2.0 * b.n_g),
                         6) AS rbar_b,
                   round((round(CAST(a.rank_sum2 AS DOUBLE)
                                / (2.0 * a.n_g), 6)
                          - round(CAST(b.rank_sum2 AS DOUBLE)
                                  / (2.0 * b.n_g), 6))
                         / nullif(sqrt(
                             (CAST(t.n_tot AS DOUBLE)
                              * (CAST(t.n_tot AS DOUBLE) + 1) / 12.0
                              - CAST(t.tie_sum AS DOUBLE)
                                / (12.0 * (CAST(t.n_tot AS DOUBLE)
                                           - 1)))
                             * (1.0 / a.n_g + 1.0 / b.n_g)), 0.0),
                         6) AS z_score
            FROM grp a JOIN grp b ON a.event_type < b.event_type,
                 tot t),
        pp AS (
            SELECT *, 1.0 / (1.0 + 0.2316419 * abs(z_score)) AS k
            FROM pr),
        pv2 AS (
            SELECT type_a, type_b, n_a, n_b, rbar_a, rbar_b, z_score,
                   round(2.0 * exp(-z_score * z_score / 2.0)
                         * 0.3989422804014327
                         * (k * (0.319381530 + k * (-0.356563782
                            + k * (1.781477937 + k * (-1.821255978
                            + k * 1.330274429))))), 6) AS p_value
            FROM pp),
        m AS (SELECT CAST(COUNT(p_value) AS BIGINT) AS m_tests
              FROM pv2),
        rkd AS (
            SELECT pv2.*, m.m_tests,
                   CAST(ROW_NUMBER() OVER (ORDER BY p_value ASC,
                            type_a ASC, type_b ASC) AS INTEGER)
                       AS p_rank
            FROM pv2, m)
        SELECT type_a, type_b, n_a, n_b, rbar_a, rbar_b, z_score,
               p_value, p_rank, m_tests,
               round(least(1.0, MIN(p_value * m_tests / p_rank)
                     OVER (ORDER BY p_rank DESC
                           ROWS UNBOUNDED PRECEDING)), 6) AS p_adj,
               round(least(1.0, MIN(p_value * m_tests / p_rank)
                     OVER (ORDER BY p_rank DESC
                           ROWS UNBOUNDED PRECEDING)), 6) <= 0.05
                   AS reject
        FROM rkd
    """,
    # Replays naive_bayes_lang: the md5 split, Laplace counts,
    # decimal-folded log-likelihoods, doc-keyed argmax, confusion
    # matrix + accuracy.
    "naive_bayes_lang": f"""
        WITH tagged AS (
            SELECT doc_id, lang, text,
                   {_split_bucket_sql("doc_id", 31)} < 200000
                       AS is_test
            FROM documents),
        train AS (SELECT * FROM tagged WHERE NOT is_test),
        test AS (SELECT * FROM tagged WHERE is_test),
        priors AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM train GROUP BY 1),
        totd AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total
                 FROM priors),
        lp AS (
            SELECT lang AS lang_pred,
                   round(ln(CAST(n_docs AS DOUBLE) / n_total), 6)
                       AS ln_prior
            FROM priors, totd),
        tt AS (
            SELECT lang, UNNEST(string_split(text, ' ')) AS tok
            FROM train),
        tc AS (
            SELECT tok, lang AS lang_pred,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tt GROUP BY 1, 2),
        lt AS (
            SELECT lang AS lang_pred, CAST(COUNT(*) AS BIGINT)
                       AS tot_l
            FROM tt GROUP BY 1),
        vs AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v_size
               FROM tt),
        et AS (
            SELECT doc_id, lang AS lang_true,
                   UNNEST(string_split(text, ' ')) AS tok
            FROM test),
        crossed AS (
            SELECT e.doc_id, e.lang_true, l.lang_pred, l.tot_l,
                   COALESCE(c.cnt, 0) AS cnt
            FROM et e CROSS JOIN lt l
            LEFT JOIN tc c
              ON c.tok = e.tok AND c.lang_pred = l.lang_pred),
        scores AS (
            SELECT cr.doc_id, cr.lang_true, cr.lang_pred,
                   round(CAST(SUM(CAST(round(ln(
                            CAST(cnt + 1 AS DOUBLE)
                            / CAST(tot_l + v_size AS DOUBLE)), 6)
                            AS DECIMAL(28,6))) AS DOUBLE)
                         + ANY_VALUE(lp.ln_prior), 6) AS score
            FROM crossed cr
            JOIN lp ON lp.lang_pred = cr.lang_pred, vs
            GROUP BY 1, 2, 3),
        preds AS (
            SELECT doc_id, lang_true, lang_pred,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, lang_pred ASC) AS rnk
            FROM scores),
        cells AS (
            SELECT lang_true, lang_pred,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM preds WHERE rnk = 1 GROUP BY 1, 2),
        acc AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS n_test,
                   round(CAST(SUM(CASE WHEN lang_true = lang_pred
                                  THEN n_docs ELSE 0 END) AS DOUBLE)
                         / SUM(n_docs), 6) AS accuracy
            FROM cells)
        SELECT c.lang_true, c.lang_pred, c.n_docs, a.n_test,
               a.accuracy
        FROM cells c, acc a
    """,
    # Replays log_rank_test: per-user (last_day, cohort), per-day
    # group deaths, suffix-sum at-risk counts, hypergeometric e/v
    # folds, 1-df chi-square.
    "log_rank_test": """
        WITH pu AS (
            SELECT user_id, MAX(date_trunc('day', ts)) AS last_day,
                   MAX(CASE WHEN event_type = 'signup' THEN 1
                            ELSE 0 END) AS g
            FROM events GROUP BY 1),
        pd AS (
            SELECT last_day AS day,
                   CAST(COUNT(*) AS BIGINT) AS c_all,
                   CAST(COUNT(*) FILTER (g = 1) AS BIGINT) AS c_g1
            FROM pu GROUP BY 1),
        md AS (SELECT MAX(day) AS max_day FROM pd),
        risk AS (
            SELECT day,
                   SUM(c_all) OVER (ORDER BY day DESC
                        ROWS UNBOUNDED PRECEDING) AS n_risk,
                   SUM(c_g1) OVER (ORDER BY day DESC
                        ROWS UNBOUNDED PRECEDING) AS n_risk_g1,
                   CASE WHEN day < max_day THEN c_all ELSE 0 END
                       AS d_all,
                   CASE WHEN day < max_day THEN c_g1 ELSE 0 END
                       AS d_g1
            FROM pd, md),
        t AS (
            SELECT d_g1,
                   CAST(round(CAST(d_all AS DOUBLE)
                              * (CAST(n_risk_g1 AS DOUBLE) / n_risk),
                              6) AS DECIMAL(18,6)) AS e1,
                   CAST(round(COALESCE(
                        CAST(d_all AS DOUBLE)
                        * (CAST(n_risk_g1 AS DOUBLE) / n_risk)
                        * (1.0 - CAST(n_risk_g1 AS DOUBLE) / n_risk)
                        * CAST(n_risk - d_all AS DOUBLE)
                        / nullif(CAST(n_risk - 1 AS DOUBLE), 0.0),
                        0.0), 6) AS DECIMAL(18,6)) AS v1
            FROM risk WHERE d_all > 0),
        coh AS (
            SELECT CAST(COUNT(*) FILTER (g = 1) AS BIGINT)
                       AS n_users_g1,
                   CAST(COUNT(*) FILTER (g = 0) AS BIGINT)
                       AS n_users_g0
            FROM pu),
        agg AS (
            SELECT CAST(SUM(d_g1) AS BIGINT) AS obs_g1,
                   CAST(SUM(e1) AS DOUBLE) AS exp_g1,
                   CAST(SUM(v1) AS DOUBLE) AS var_sum
            FROM t)
        SELECT coh.n_users_g1, coh.n_users_g0, agg.obs_g1,
               round(agg.exp_g1, 6) AS exp_g1,
               round(agg.var_sum, 6) AS var_sum,
               round((CAST(agg.obs_g1 AS DOUBLE) - agg.exp_g1)
                     * (CAST(agg.obs_g1 AS DOUBLE) - agg.exp_g1)
                     / nullif(agg.var_sum, 0.0), 6) AS chi2_stat,
               COALESCE(round((CAST(agg.obs_g1 AS DOUBLE)
                               - agg.exp_g1)
                              * (CAST(agg.obs_g1 AS DOUBLE)
                                 - agg.exp_g1)
                              / nullif(agg.var_sum, 0.0), 6)
                        > 3.841459, FALSE) AS reject
        FROM agg, coh
    """,
    # Replays hurst_exponent: the days x |m| block explode, rounded
    # block means folded in decimal, per-m variance, 4-point OLS on
    # rounded ln coordinates, H = 1 + slope/2.
    "hurst_exponent": """
        WITH daily AS (
            SELECT date_trunc('day', ts) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1),
        seq AS (
            SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY day)
                           AS BIGINT) AS t
            FROM daily),
        blocks AS (
            SELECT mm.m, (t - 1) // mm.m AS blk,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(y) AS BIGINT) AS sy
            FROM seq, (SELECT UNNEST([1, 2, 4, 8]) AS m) mm
            GROUP BY 1, 2
            HAVING COUNT(*) = mm.m),
        moments AS (
            SELECT m, CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(CAST(round(CAST(sy AS DOUBLE) / m, 6)
                                 AS DECIMAL(18,6))) AS DOUBLE) AS sb,
                   CAST(SUM(CAST(round(round(CAST(sy AS DOUBLE) / m,
                                             6)
                                       * round(CAST(sy AS DOUBLE)
                                               / m, 6), 6)
                                 AS DECIMAL(28,6))) AS DOUBLE)
                       AS sbb
            FROM blocks GROUP BY 1),
        pts AS (
            SELECT m, k AS n_blocks,
                   round((sbb - sb * sb / CAST(k AS DOUBLE))
                         / nullif(CAST(k AS DOUBLE) - 1.0, 0.0), 6)
                       AS var_m,
                   round(ln(CAST(m AS DOUBLE)), 6) AS lx,
                   round(ln(greatest(1e-6,
                        (sbb - sb * sb / CAST(k AS DOUBLE))
                        / nullif(CAST(k AS DOUBLE) - 1.0, 0.0))), 6)
                       AS ly
            FROM moments WHERE k >= 2),
        ols AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS p,
                   CAST(SUM(CAST(lx AS DECIMAL(18,6))) AS DOUBLE)
                       AS sx,
                   CAST(SUM(CAST(ly AS DECIMAL(18,6))) AS DOUBLE)
                       AS sy,
                   CAST(SUM(CAST(round(lx * ly, 6)
                                 AS DECIMAL(28,6))) AS DOUBLE)
                       AS sxy,
                   CAST(SUM(CAST(round(lx * lx, 6)
                                 AS DECIMAL(28,6))) AS DOUBLE)
                       AS sxx
            FROM pts),
        h AS (
            SELECT round(1.0
                         + (CAST(p AS DOUBLE) * sxy - sx * sy)
                           / nullif(CAST(p AS DOUBLE) * sxx
                                    - sx * sx, 0.0) / 2.0, 6)
                       AS hurst
            FROM ols)
        SELECT pts.m, pts.n_blocks, pts.var_m, h.hurst
        FROM pts, h
    """,
    # Replays odds_ratio_ci: weekend x above-median 2x2 over the
    # grand-median cumsum, Woolf interval in the engine's exp/ln
    # order.
    "odds_ratio_ci": """
        WITH vals AS (
            SELECT CAST(dayofweek(ts) + 1 AS INTEGER) IN (1, 7)
                       AS weekend,
                   value
            FROM events WHERE value IS NOT NULL),
        pv AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS n_v
               FROM vals GROUP BY 1),
        cum AS (
            SELECT value,
                   SUM(n_v) OVER (ORDER BY value
                        ROWS UNBOUNDED PRECEDING) AS cum_n_v
            FROM pv),
        nt AS (SELECT CAST(SUM(n_v) AS BIGINT) AS n_tot FROM pv),
        med AS (
            SELECT MIN(value) AS grand_median
            FROM cum, nt WHERE cum_n_v >= (n_tot + 1) // 2),
        cells AS (
            SELECT CAST(COUNT(*) FILTER (weekend
                        AND value > grand_median) AS BIGINT) AS n_a,
                   CAST(COUNT(*) FILTER (weekend
                        AND NOT (value > grand_median)) AS BIGINT)
                       AS n_b,
                   CAST(COUNT(*) FILTER (NOT weekend
                        AND value > grand_median) AS BIGINT) AS n_c,
                   CAST(COUNT(*) FILTER (NOT weekend
                        AND NOT (value > grand_median)) AS BIGINT)
                       AS n_d
            FROM vals, med)
        SELECT n_a, n_b, n_c, n_d,
               round(CAST(n_a AS DOUBLE) * CAST(n_d AS DOUBLE)
                     / nullif(CAST(n_b AS DOUBLE)
                              * CAST(n_c AS DOUBLE), 0.0), 6)
                   AS odds_ratio,
               round(exp(ln(nullif(CAST(n_a AS DOUBLE)
                                   * CAST(n_d AS DOUBLE), 0.0)
                            / nullif(CAST(n_b AS DOUBLE)
                                     * CAST(n_c AS DOUBLE), 0.0))
                         - 1.959964
                           * sqrt(1.0 / CAST(n_a AS DOUBLE)
                                  + 1.0 / CAST(n_b AS DOUBLE)
                                  + 1.0 / CAST(n_c AS DOUBLE)
                                  + 1.0 / CAST(n_d AS DOUBLE))), 6)
                   AS ci_lo,
               round(exp(ln(nullif(CAST(n_a AS DOUBLE)
                                   * CAST(n_d AS DOUBLE), 0.0)
                            / nullif(CAST(n_b AS DOUBLE)
                                     * CAST(n_c AS DOUBLE), 0.0))
                         + 1.959964
                           * sqrt(1.0 / CAST(n_a AS DOUBLE)
                                  + 1.0 / CAST(n_b AS DOUBLE)
                                  + 1.0 / CAST(n_c AS DOUBLE)
                                  + 1.0 / CAST(n_d AS DOUBLE))), 6)
                   AS ci_hi,
               COALESCE(round(exp(ln(nullif(CAST(n_a AS DOUBLE)
                                   * CAST(n_d AS DOUBLE), 0.0)
                            / nullif(CAST(n_b AS DOUBLE)
                                     * CAST(n_c AS DOUBLE), 0.0))
                         - 1.959964
                           * sqrt(1.0 / CAST(n_a AS DOUBLE)
                                  + 1.0 / CAST(n_b AS DOUBLE)
                                  + 1.0 / CAST(n_c AS DOUBLE)
                                  + 1.0 / CAST(n_d AS DOUBLE))), 6)
                        > 1.0
                        OR round(exp(ln(nullif(CAST(n_a AS DOUBLE)
                                   * CAST(n_d AS DOUBLE), 0.0)
                            / nullif(CAST(n_b AS DOUBLE)
                                     * CAST(n_c AS DOUBLE), 0.0))
                         + 1.959964
                           * sqrt(1.0 / CAST(n_a AS DOUBLE)
                                  + 1.0 / CAST(n_b AS DOUBLE)
                                  + 1.0 / CAST(n_c AS DOUBLE)
                                  + 1.0 / CAST(n_d AS DOUBLE))), 6)
                        < 1.0, FALSE) AS significant
        FROM cells
    """,
    # Replays granger_check: day-aligned lag-1 series, exact BIGINT
    # raw moments, centered-moment Cramer solve and nested RSS in the
    # engine's double order, f_crit_95 closed-form gate.
    "granger_check": """
        WITH daily AS (
            SELECT date_trunc('day', ts) AS day,
                   CAST(COUNT(*) FILTER (event_type = 'purchase')
                        AS BIGINT) AS y,
                   CAST(COUNT(*) FILTER (event_type = 'view')
                        AS BIGINT) AS x
            FROM events WHERE event_type IN ('purchase', 'view')
            GROUP BY 1),
        lagged AS (
            SELECT y, LAG(y) OVER (ORDER BY day) AS u,
                   LAG(x) OVER (ORDER BY day) AS v
            FROM daily),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(u) AS BIGINT) AS su,
                   CAST(SUM(v) AS BIGINT) AS sv,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(u * u) AS BIGINT) AS suu,
                   CAST(SUM(v * v) AS BIGINT) AS svv,
                   CAST(SUM(u * y) AS BIGINT) AS suy,
                   CAST(SUM(v * y) AS BIGINT) AS svy,
                   CAST(SUM(u * v) AS BIGINT) AS suv
            FROM lagged WHERE u IS NOT NULL),
        cm AS (
            SELECT n,
                   CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                       * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                       AS cyy,
                   CAST(suu AS DOUBLE) - CAST(su AS DOUBLE)
                       * CAST(su AS DOUBLE) / CAST(n AS DOUBLE)
                       AS cuu,
                   CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE)
                       * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)
                       AS cvv,
                   CAST(suy AS DOUBLE) - CAST(su AS DOUBLE)
                       * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                       AS cuy,
                   CAST(svy AS DOUBLE) - CAST(sv AS DOUBLE)
                       * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                       AS cvy,
                   CAST(suv AS DOUBLE) - CAST(su AS DOUBLE)
                       * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)
                       AS cuv
            FROM m),
        fit AS (
            SELECT n, cyy,
                   cyy - cuy * cuy / nullif(cuu, 0.0) AS rss_r,
                   cyy - ((cuy * cvv - cvy * cuv)
                          / nullif(cuu * cvv - cuv * cuv, 0.0)) * cuy
                       - ((cvy * cuu - cuy * cuv)
                          / nullif(cuu * cvv - cuv * cuv, 0.0)) * cvy
                       AS rss_u
            FROM cm),
        fs AS (
            SELECT n, rss_r, rss_u,
                   round((rss_r - rss_u)
                         / nullif(rss_u / (CAST(n AS DOUBLE) - 3.0),
                                  0.0), 6) AS f_stat,
                   """ + f_crit_95_sql("1", "n - 3") + """ AS crit
            FROM fit)
        SELECT n AS n_obs, round(rss_r, 6) AS rss_r,
               round(rss_u, 6) AS rss_u, f_stat,
               CAST(n - 3 AS INTEGER) AS df2,
               round(crit, 6) AS f_crit,
               COALESCE(f_stat > crit, FALSE) AS reject
        FROM fs
    """,
    # Replays connected_components: the same basket-pair edge
    # derivation, then label(v) = min node within graph distance <= 6
    # via a bounded-hop reachability CTE (min-label propagation after
    # d rounds IS the radius-d ball minimum).
    "connected_components": """
        WITH RECURSIVE b AS (
            SELECT l_orderkey,
                   list_sort(list_distinct(list(l_partkey))) AS basket
            FROM lineitem GROUP BY 1),
        pc AS (
            SELECT u.a AS pa, v.a AS pb, COUNT(*) AS n_ab
            FROM b, UNNEST(basket) AS u(a), UNNEST(basket) AS v(a)
            WHERE u.a < v.a GROUP BY 1, 2),
        e AS (
            SELECT pa AS src, pb AS dst FROM pc WHERE n_ab >= 2
            UNION ALL
            SELECT pb AS src, pa AS dst FROM pc WHERE n_ab >= 2),
        nodes AS (SELECT DISTINCT l_partkey AS node FROM lineitem),
        reach(node, other, hops) AS (
            SELECT node, node, 0 FROM nodes
            UNION
            SELECT r.node, e.dst, r.hops + 1
            FROM reach r JOIN e ON e.src = r.other
            WHERE r.hops < 6),
        lbl AS (
            SELECT node, MIN(other) AS component FROM reach
            GROUP BY 1),
        sizes AS (
            SELECT component, CAST(COUNT(*) AS BIGINT)
                       AS component_size
            FROM lbl GROUP BY 1),
        nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_components
               FROM sizes)
        SELECT l.node, l.component, s.component_size, nc.n_components
        FROM lbl l JOIN sizes s USING (component), nc
    """,
    # Replays runs_test: per-type discrete median of daily counts,
    # sign sequence, lag-switch run count, exact-count z chain, A&S
    # tail.
    "runs_test": """
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
        per_y AS (
            SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS c
            FROM daily GROUP BY 1, 2),
        cum AS (
            SELECT event_type, y, c,
                   SUM(c) OVER (PARTITION BY event_type ORDER BY y
                        ROWS UNBOUNDED PRECEDING) AS cumc
            FROM per_y),
        nr AS (
            SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_days
            FROM per_y GROUP BY 1),
        med AS (
            SELECT c2.event_type, MIN(c2.y) AS median_y
            FROM cum c2 JOIN nr USING (event_type)
            WHERE c2.cumc >= (n_days + 1) // 2
            GROUP BY 1),
        signed AS (
            SELECT d.event_type, d.day,
                   CASE WHEN d.y > m.median_y THEN 1 ELSE -1 END AS s
            FROM daily d JOIN med m USING (event_type)
            WHERE d.y <> m.median_y),
        switches AS (
            SELECT event_type, s,
                   CASE WHEN s <> LAG(s) OVER (
                            PARTITION BY event_type ORDER BY day)
                        THEN 1 ELSE 0 END AS switch
            FROM signed),
        grp AS (
            SELECT event_type,
                   CAST(COUNT(*) FILTER (s = 1) AS BIGINT) AS n_pos,
                   CAST(COUNT(*) FILTER (s = -1) AS BIGINT) AS n_neg,
                   CAST(SUM(COALESCE(switch, 0)) + 1 AS BIGINT)
                       AS n_runs
            FROM switches GROUP BY 1),
        zc AS (
            SELECT event_type, n_pos, n_neg, n_runs,
                   round((n_runs
                          - (2.0 * CAST(n_pos AS DOUBLE)
                             * CAST(n_neg AS DOUBLE)
                             / (CAST(n_pos AS DOUBLE)
                                + CAST(n_neg AS DOUBLE)) + 1.0))
                         / nullif(sqrt(
                             2.0 * CAST(n_pos AS DOUBLE)
                             * CAST(n_neg AS DOUBLE)
                             * (2.0 * CAST(n_pos AS DOUBLE)
                                * CAST(n_neg AS DOUBLE)
                                - (CAST(n_pos AS DOUBLE)
                                   + CAST(n_neg AS DOUBLE)))
                             / ((CAST(n_pos AS DOUBLE)
                                 + CAST(n_neg AS DOUBLE))
                                * (CAST(n_pos AS DOUBLE)
                                   + CAST(n_neg AS DOUBLE))
                                * ((CAST(n_pos AS DOUBLE)
                                    + CAST(n_neg AS DOUBLE))
                                   - 1.0))), 0.0), 6) AS z_runs
            FROM grp),
        pp AS (
            SELECT *, 1.0 / (1.0 + 0.2316419 * abs(z_runs)) AS k
            FROM zc)
        SELECT event_type, n_pos, n_neg, n_runs, z_runs,
               round(2.0 * exp(-z_runs * z_runs / 2.0)
                     * 0.3989422804014327
                     * (k * (0.319381530 + k * (-0.356563782
                        + k * (1.781477937 + k * (-1.821255978
                        + k * 1.330274429))))), 6) AS p_value,
               COALESCE(abs(z_runs) > 1.959964, FALSE) AS reject
        FROM pp
    """,
    # Replays lorenz_gini: exact decimal revenue, tied-block rank
    # sums over the distinct-revenue cumsum, the discrete-Gini double
    # chain.
    "lorenz_gini": """
        WITH pc AS (
            SELECT o_custkey,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
            FROM orders GROUP BY 1),
        pr AS (
            SELECT rev, CAST(COUNT(*) AS BIGINT) AS c
            FROM pc GROUP BY 1),
        cum AS (
            SELECT rev, c,
                   SUM(c) OVER (ORDER BY rev
                        ROWS UNBOUNDED PRECEDING) AS cum_c
            FROM pr),
        terms AS (
            SELECT CAST(CAST(rev AS DECIMAL(18,2))
                        * CAST(c * (cum_c - c) + (c * (c + 1)) // 2
                               AS DECIMAL(19,0))
                        AS DECIMAL(38,2)) AS ix,
                   CAST(CAST(rev AS DECIMAL(18,2))
                        * CAST(c AS DECIMAL(10,0))
                        AS DECIMAL(38,2)) AS xt,
                   c
            FROM cum),
        tot AS (
            SELECT SUM(ix) AS s_ix, SUM(xt) AS s_x,
                   CAST(SUM(c) AS BIGINT) AS n
            FROM terms)
        SELECT n AS n_customers,
               CAST(s_x AS DOUBLE) AS total_revenue,
               round(2.0 * CAST(s_ix AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(s_x AS DOUBLE))
                     - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE),
                     6) AS gini
        FROM tot
    """,
    # Replays weighted_sample_aes: the same md5-bucket uniform, the
    # log-domain E-S key, top-20 by (key DESC, doc_id).
    "weighted_sample_aes": """
        WITH keyed AS (
            SELECT doc_id, lang, n_chars,
                   ln(CAST(('0x' || substring(md5(
                               CAST(doc_id AS VARCHAR) || ':47'),
                               1, 15))::BIGINT + 1 AS DOUBLE)
                      / 1152921504606846976.0)
                   / CAST(greatest(n_chars, 1) AS DOUBLE) AS key_raw
            FROM documents)
        SELECT doc_id, lang, n_chars, round(key_raw, 6) AS es_key
        FROM keyed ORDER BY key_raw DESC, doc_id ASC LIMIT 20
    """,
    # Replays levenshtein_blocking: distinct names, head-noun block
    # key, within-block pairs, exact levenshtein <= 3.
    "levenshtein_blocking": """
        WITH names AS (
            SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts
            FROM part GROUP BY 1),
        blocked AS (
            SELECT p_name, n_parts,
                   string_split(p_name, ' ')[-1] AS block_key
            FROM names)
        SELECT a.block_key, a.p_name AS name_a, b.p_name AS name_b,
               a.n_parts AS n_a, b.n_parts AS n_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INTEGER)
                   AS lev_dist
        FROM blocked a JOIN blocked b USING (block_key)
        WHERE a.p_name < b.p_name
          AND levenshtein(a.p_name, b.p_name) <= 3
    """,
    # Replays shuffle_reuse_check's aggregates from raw events; the
    # plan artifact (one materialized exchange for the twice-
    # referenced rollup) is pinned TRUE — the cbo_reorder convention.
    "shuffle_reuse_check": """
        WITH agg AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(event_id) AS BIGINT) AS sum_id
            FROM events GROUP BY 1)
        SELECT event_type, n_rows, sum_id,
               CAST(n_rows + n_rows AS BIGINT) AS n_rows_doubled,
               CAST(sum_id + sum_id AS BIGINT) AS sum_id_doubled,
               TRUE AS reuse_planned
        FROM agg
    """,
    # Replays forecast_backtest_mase: observation-indexed lags over
    # the per-type day order, integer error sums, 6-dp sMAPE terms
    # folded in decimal, MASE = eval MAE / in-sample naive MAE.
    "forecast_backtest_mase": """
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
        lagged AS (
            SELECT event_type, y,
                   CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
                   LAG(y, 1) OVER w AS y_naive,
                   LAG(y, 7) OVER w AS y_snaive
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        scale AS (
            SELECT event_type,
                   CAST(SUM(abs(y - y_naive)) AS BIGINT) AS q_num,
                   CAST(COUNT(*) AS BIGINT) AS q_den
            FROM lagged WHERE y_naive IS NOT NULL GROUP BY 1),
        methods AS (
            SELECT event_type, 'naive' AS method, y, y_naive AS fc
            FROM lagged WHERE t > 7
            UNION ALL
            SELECT event_type, 'snaive' AS method, y, y_snaive AS fc
            FROM lagged WHERE t > 7),
        scored AS (
            SELECT event_type, method,
                   CAST(COUNT(*) AS BIGINT) AS n_eval,
                   CAST(SUM(abs(y - fc)) AS BIGINT) AS e_sum,
                   SUM(CAST(round(2.0 * CAST(abs(y - fc) AS DOUBLE)
                            / CAST(abs(y) + abs(fc) AS DOUBLE), 6)
                            AS DECIMAL(18,6))) AS s_sum
            FROM methods GROUP BY 1, 2)
        SELECT s.event_type, s.method, s.n_eval,
               round(CAST(s.e_sum AS DOUBLE) / s.n_eval, 6) AS mae,
               round((CAST(s.e_sum AS DOUBLE) / s.n_eval)
                     / nullif(CAST(sc.q_num AS DOUBLE) / sc.q_den,
                              0.0), 6) AS mase,
               round(CAST(s.s_sum AS DOUBLE) / s.n_eval, 6) AS smape
        FROM scored s JOIN scale sc USING (event_type)
    """,
    # Replays friedman_test: exact-decimal (dow, type) cell sums,
    # complete blocks only, within-block doubled average ranks via the
    # 1-PRECEDING cumsum device, Q from the exact DECIMAL(38,0)
    # rank-sum squares, chi2(0.95, k-1) gate.
    "friedman_test": """
        WITH cells AS (
            SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
                   event_type,
                   SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS cell
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        k AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT)
                         AS k_types
              FROM cells),
        complete AS (
            SELECT dow FROM cells, k GROUP BY dow, k_types
            HAVING COUNT(*) = k_types),
        kept AS (
            SELECT c.* FROM cells c JOIN complete USING (dow)),
        per_cell AS (
            SELECT dow, cell, CAST(COUNT(*) AS BIGINT) AS c
            FROM kept GROUP BY 1, 2),
        ranked AS (
            SELECT dow, cell,
                   2 * COALESCE(SUM(c) OVER (PARTITION BY dow
                        ORDER BY cell
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) + c + 1 AS avgrank2
            FROM per_cell),
        rj AS (
            SELECT kk.event_type,
                   SUM(CAST(r.avgrank2 AS DECIMAL(38,0)))
                       AS rank_sum2
            FROM kept kk JOIN ranked r USING (dow, cell)
            GROUP BY 1),
        tot AS (
            SELECT SUM(CAST(rank_sum2 * rank_sum2 AS DECIMAL(38,0)))
                       AS sum_rj2_sq,
                   CAST(COUNT(*) AS BIGINT) AS k_types
            FROM rj),
        nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks
               FROM complete),
        verdict AS (
            SELECT n_blocks,
                   CAST(k_types AS INTEGER) AS k_types,
                   round(3.0 * CAST(sum_rj2_sq AS DOUBLE)
                         / (CAST(n_blocks AS DOUBLE)
                            * CAST(k_types AS DOUBLE)
                            * (CAST(k_types AS DOUBLE) + 1))
                         - 3.0 * CAST(n_blocks AS DOUBLE)
                           * (CAST(k_types AS DOUBLE) + 1), 6)
                       AS q_stat,
                   CAST(k_types - 1 AS INTEGER) AS df_used,
                   CASE k_types - 1
                        WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465
                        WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729
                        WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587
                        WHEN 7 THEN 14.067140 END AS chi2_crit
            FROM tot, nb)
        SELECT r.event_type,
               CAST(r.rank_sum2 AS DOUBLE) / 2.0 AS rank_sum,
               v.n_blocks, v.k_types, v.q_stat, v.df_used,
               v.chi2_crit,
               COALESCE(v.q_stat > v.chi2_crit, FALSE) AS reject
        FROM rj r, verdict v
    """,
    # Replays mood_median_test: the exact discrete global median from
    # the distinct-value cumsum, k x 2 chi-square on exact counts,
    # 6-dp cell terms folded in decimal, chi2(0.95, k-1) gate.
    "mood_median_test": """
        WITH vals AS (
            SELECT event_type, value FROM events
            WHERE value IS NOT NULL),
        pv AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS n_v
               FROM vals GROUP BY 1),
        cum AS (
            SELECT value,
                   SUM(n_v) OVER (ORDER BY value
                        ROWS UNBOUNDED PRECEDING) AS cum_n_v
            FROM pv),
        nt AS (SELECT CAST(SUM(n_v) AS BIGINT) AS n_tot FROM pv),
        med AS (
            SELECT MIN(value) AS grand_median
            FROM cum, nt WHERE cum_n_v >= (n_tot + 1) // 2),
        grp AS (
            SELECT event_type, grand_median,
                   CAST(COUNT(*) AS BIGINT) AS n_g,
                   CAST(COUNT(*) FILTER (value > grand_median)
                        AS BIGINT) AS n_above
            FROM vals, med GROUP BY 1, 2),
        tot AS (
            SELECT CAST(SUM(n_g) AS BIGINT) AS n_tot,
                   CAST(SUM(n_above) AS BIGINT) AS a_tot,
                   CAST(COUNT(*) AS BIGINT) AS k_groups
            FROM grp),
        terms AS (
            SELECT g.event_type, g.n_g, g.n_above, g.grand_median,
                   t.k_groups,
                   CAST(round((g.n_above
                               - CAST(g.n_g AS DOUBLE)
                                 * CAST(t.a_tot AS DOUBLE) / t.n_tot)
                              * (g.n_above
                                 - CAST(g.n_g AS DOUBLE)
                                   * CAST(t.a_tot AS DOUBLE)
                                   / t.n_tot)
                              / (CAST(g.n_g AS DOUBLE)
                                 * CAST(t.a_tot AS DOUBLE) / t.n_tot),
                              6) AS DECIMAL(18,6))
                   + CAST(round((g.n_above
                                 - CAST(g.n_g AS DOUBLE)
                                   * CAST(t.a_tot AS DOUBLE)
                                   / t.n_tot)
                                * (g.n_above
                                   - CAST(g.n_g AS DOUBLE)
                                     * CAST(t.a_tot AS DOUBLE)
                                     / t.n_tot)
                                / (CAST(g.n_g AS DOUBLE)
                                   * CAST(t.n_tot - t.a_tot AS DOUBLE)
                                   / t.n_tot),
                                6) AS DECIMAL(18,6)) AS term
            FROM grp g, tot t),
        agg AS (
            SELECT k_groups, CAST(SUM(term) AS DOUBLE) AS chi2_raw
            FROM terms GROUP BY 1),
        verdict AS (
            SELECT round(chi2_raw, 6) AS chi2_stat,
                   CAST(k_groups - 1 AS INTEGER) AS df_used,
                   CASE k_groups - 1
                        WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465
                        WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729
                        WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587
                        WHEN 7 THEN 14.067140 END AS chi2_crit,
                   COALESCE(chi2_raw > CASE k_groups - 1
                        WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465
                        WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729
                        WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587
                        WHEN 7 THEN 14.067140 END, FALSE) AS reject
            FROM agg)
        SELECT t.event_type, t.n_g, t.n_above, t.grand_median,
               v.chi2_stat, v.df_used, v.chi2_crit, v.reject
        FROM terms t, verdict v
    """,
    # Replays cochran_armitage_trend: above-median outcome against
    # weekday scores 1..7 — every moment an exact integer, the z chain
    # spelled in the engine's double order, A&S two-sided tail.
    "cochran_armitage_trend": """
        WITH vals AS (
            SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow, value
            FROM events WHERE value IS NOT NULL),
        pv AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS n_v
               FROM vals GROUP BY 1),
        cum AS (
            SELECT value,
                   SUM(n_v) OVER (ORDER BY value
                        ROWS UNBOUNDED PRECEDING) AS cum_n_v
            FROM pv),
        nt AS (SELECT CAST(SUM(n_v) AS BIGINT) AS n_tot FROM pv),
        med AS (
            SELECT MIN(value) AS grand_median
            FROM cum, nt WHERE cum_n_v >= (n_tot + 1) // 2),
        grp AS (
            SELECT dow, grand_median,
                   CAST(COUNT(*) AS BIGINT) AS n_obs,
                   CAST(COUNT(*) FILTER (value > grand_median)
                        AS BIGINT) AS n_succ
            FROM vals, med GROUP BY 1, 2),
        tot AS (
            SELECT CAST(SUM(n_obs) AS BIGINT) AS n_tot,
                   CAST(SUM(n_succ) AS BIGINT) AS r_tot,
                   CAST(SUM(dow * n_succ) AS BIGINT) AS swr,
                   CAST(SUM(dow * n_obs) AS BIGINT) AS swn,
                   CAST(SUM(dow * dow * n_obs) AS BIGINT) AS swwn
            FROM grp),
        zc AS (
            SELECT round((CAST(swr AS DOUBLE)
                          - CAST(r_tot AS DOUBLE) / n_tot
                            * CAST(swn AS DOUBLE))
                         / nullif(sqrt(CAST(r_tot AS DOUBLE) / n_tot
                                * (1.0 - CAST(r_tot AS DOUBLE)
                                         / n_tot)
                                * (CAST(swwn AS DOUBLE)
                                   - CAST(swn AS DOUBLE)
                                     * CAST(swn AS DOUBLE) / n_tot)),
                                0.0), 6) AS z_trend
            FROM tot),
        pp AS (
            SELECT z_trend,
                   1.0 / (1.0 + 0.2316419 * abs(z_trend)) AS k
            FROM zc),
        verdict AS (
            SELECT z_trend,
                   round(2.0 * exp(-z_trend * z_trend / 2.0)
                         * 0.3989422804014327
                         * (k * (0.319381530 + k * (-0.356563782
                            + k * (1.781477937 + k * (-1.821255978
                            + k * 1.330274429))))), 6) AS p_value,
                   COALESCE(abs(z_trend) > 1.959964, FALSE) AS reject
            FROM pp)
        SELECT g.dow, g.n_obs, g.n_succ, g.grand_median,
               v.z_trend, v.p_value, v.reject
        FROM grp g, verdict v
    """,
    # Replays mann_kendall_trend: S = C - D over the daily pairs,
    # tie-corrected Var(S), continuity-corrected z, A&S tail.
    "mann_kendall_trend": """
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
        s_rel AS (
            SELECT a.event_type,
                   CAST(COUNT(*) FILTER (b.y > a.y) AS BIGINT)
                   - CAST(COUNT(*) FILTER (b.y < a.y) AS BIGINT)
                       AS s_stat
            FROM daily a
            JOIN daily b
              ON a.event_type = b.event_type AND a.day < b.day
            GROUP BY 1),
        lv AS (
            SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS t
            FROM daily GROUP BY 1, 2),
        ties AS (
            SELECT event_type,
                   CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                       AS tie_sum,
                   CAST(SUM(t) AS BIGINT) AS n_days
            FROM lv GROUP BY 1),
        zc AS (
            SELECT s.event_type, t.n_days, s.s_stat,
                   round((CAST(t.n_days AS DOUBLE) * (t.n_days - 1)
                          * (2 * CAST(t.n_days AS DOUBLE) + 5)
                          - CAST(t.tie_sum AS DOUBLE)) / 18.0, 6)
                       AS var_s,
                   round(CASE
                        WHEN s.s_stat > 0 THEN
                            (CAST(s.s_stat AS DOUBLE) - 1)
                            / sqrt((CAST(t.n_days AS DOUBLE)
                                    * (t.n_days - 1)
                                    * (2 * CAST(t.n_days AS DOUBLE)
                                       + 5)
                                    - CAST(t.tie_sum AS DOUBLE))
                                   / 18.0)
                        WHEN s.s_stat < 0 THEN
                            (CAST(s.s_stat AS DOUBLE) + 1)
                            / sqrt((CAST(t.n_days AS DOUBLE)
                                    * (t.n_days - 1)
                                    * (2 * CAST(t.n_days AS DOUBLE)
                                       + 5)
                                    - CAST(t.tie_sum AS DOUBLE))
                                   / 18.0)
                        ELSE 0.0 END, 6) AS z_mk
            FROM s_rel s JOIN ties t USING (event_type)),
        pp AS (
            SELECT *, 1.0 / (1.0 + 0.2316419 * abs(z_mk)) AS k
            FROM zc)
        SELECT event_type, n_days, s_stat, var_s, z_mk,
               round(2.0 * exp(-z_mk * z_mk / 2.0)
                     * 0.3989422804014327
                     * (k * (0.319381530 + k * (-0.356563782
                        + k * (1.781477937 + k * (-1.821255978
                        + k * 1.330274429))))), 6) AS p_value,
               COALESCE(abs(z_mk) > 1.959964, FALSE) AS reject
        FROM pp
    """,
    # Replays theta_method_forecast: per-type integer OLS moments
    # (the ROUNDED slope feeds the intercept — engine order), 6-dp
    # trend evaluations, theta line in exact decimal, and the SES
    # recursion as a per-type RECURSIVE CTE with 0.2/0.8 DECIMAL
    # literals (croston device); fc = half-half combination.
    "theta_method_forecast": """
        WITH RECURSIVE daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE)
                       AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
        seq AS (
            SELECT event_type, day, y,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY day) AS INTEGER) AS t
            FROM daily),
        m AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(t) AS BIGINT) AS st,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(t * y) AS BIGINT) AS sty,
                   CAST(SUM(t * t) AS BIGINT) AS stt
            FROM seq GROUP BY 1),
        coef AS (
            SELECT event_type,
                   round((CAST(n AS DOUBLE) * sty - st * sy)
                         / nullif(CAST(n AS DOUBLE) * stt - st * st,
                                  0.0), 6) AS b,
                   round((sy - round((CAST(n AS DOUBLE) * sty - st * sy)
                                     / nullif(CAST(n AS DOUBLE) * stt
                                              - st * st, 0.0), 6) * st)
                         / CAST(n AS DOUBLE), 6) AS a
            FROM m),
        joined AS (
            SELECT s.event_type, s.day, s.t, s.y,
                   round(c.a + c.b * s.t, 6) AS trend_fit,
                   round(c.a + c.b * (s.t + 1), 6) AS trend_next
            FROM seq s JOIN coef c USING (event_type)),
        base AS (
            SELECT j.*,
                   CAST(CAST(2 * y AS DECIMAL(18,6))
                        - CAST(trend_fit AS DECIMAL(18,6))
                        AS DECIMAL(18,6)) AS theta_dec
            FROM joined j),
        rec AS (
            SELECT event_type, day, t, y, trend_fit, trend_next,
                   theta_dec, theta_dec AS level
            FROM base WHERE t = 1
            UNION ALL
            SELECT b.event_type, b.day, b.t, b.y, b.trend_fit,
                   b.trend_next, b.theta_dec,
                   CAST(round(0.2 * b.theta_dec + 0.8 * r.level, 6)
                        AS DECIMAL(18,6))
            FROM rec r JOIN base b
              ON b.event_type = r.event_type AND b.t = r.t + 1)
        SELECT event_type, day, t, y, trend_fit,
               CAST(theta_dec AS DOUBLE) AS theta_y,
               CAST(level AS DOUBLE) AS level,
               CAST(round(0.5 * (level
                                 + CAST(trend_next AS DECIMAL(18,6))),
                          6) AS DOUBLE) AS fc_next
        FROM rec
    """,
    # Replays markov_steady_state: the event_transitions CTE chain,
    # the states list, the |types|^2 matrix as an ordered list of
    # per-destination columns, then a recursive CTE carrying pi as a
    # DOUBLE LIST — each step an ORDERED list_sum of double products
    # floor-quantized at 6 dp, the engine's sequential-sum device.
    "markov_steady_state": """
        WITH RECURSIVE pairs AS (
            SELECT from_type, event_type AS to_type,
                   COUNT(*) AS n_transitions
            FROM (
                SELECT event_type,
                       LAG(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS from_type
                FROM events
            )
            WHERE from_type IS NOT NULL
            GROUP BY 1, 2),
        trans AS (
            SELECT from_type, to_type,
                   ROUND(n_transitions / CAST(
                       SUM(n_transitions) OVER (PARTITION BY from_type)
                       AS DOUBLE), 6) AS p
            FROM pairs),
        states AS (
            SELECT DISTINCT s FROM (
                SELECT from_type AS s FROM trans
                UNION ALL
                SELECT to_type AS s FROM trans)),
        sl AS (
            SELECT list(s ORDER BY s) AS sts,
                   CAST(COUNT(*) AS INTEGER) AS n
            FROM states),
        idx AS (
            SELECT unnest(generate_series(1, sl.n)) AS i, sl.sts, sl.n
            FROM sl),
        spine AS (
            SELECT a.i, b.i AS j, a.sts, a.n
            FROM idx a JOIN idx b ON true),
        cell AS (
            SELECT s.i, s.j,
                   COALESCE(t.p, 0.0) AS p
            FROM spine s LEFT JOIN trans t
              ON t.from_type = s.sts[s.i] AND t.to_type = s.sts[s.j]),
        cols AS (
            SELECT j, list(p ORDER BY i) AS col FROM cell GROUP BY j),
        mat AS (SELECT list(col ORDER BY j) AS m FROM cols),
        init AS (
            SELECT 0 AS k,
                   list_transform(generate_series(1, sl.n),
                       x -> floor(1.0 / sl.n * 1000000 + 0.5)
                            / 1000000.0) AS pi,
                   sl.n, sl.sts, mat.m
            FROM sl, mat),
        rec AS (
            SELECT * FROM init
            UNION ALL
            SELECT r.k + 1,
                   list_transform(generate_series(1, r.n),
                       j -> floor(list_sum(list_transform(
                                generate_series(1, r.n),
                                i -> r.pi[i] * r.m[j][i]))
                            * 1000000 + 0.5) / 1000000.0) AS pi,
                   r.n, r.sts, r.m
            FROM rec r WHERE r.k < 15),
        fin AS (
            SELECT sts, pi,
                   unnest(generate_series(1, n)) AS i
            FROM rec WHERE k = 15)
        SELECT sts[i] AS event_type,
               CAST(pi[i] AS DOUBLE) AS pi,
               15 AS n_iters
        FROM fin
    """,
    # Replays adamic_adar_linkpred: the triangle_count items/edges
    # CTEs (the _brand_basket_pairs replay), symmetric edges, degrees,
    # wedges through the common neighbor with u < v, 6-dp 1/ln(deg)
    # decimal folds, anti-join against existing edges, deterministic
    # top-20.
    "adamic_adar_linkpred": """
        WITH items AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        edges AS (
            SELECT a.p_brand AS a, b.p_brand AS b
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3),
        sym AS (
            SELECT a, b FROM edges
            UNION ALL
            SELECT b AS a, a AS b FROM edges),
        deg AS (
            SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM sym GROUP BY 1),
        wedges AS (
            SELECT s1.a AS u, s2.b AS v, s1.b AS c
            FROM sym s1 JOIN sym s2
              ON s1.b = s2.a AND s1.a < s2.b),
        scored AS (
            SELECT w.u, w.v, CAST(COUNT(*) AS BIGINT) AS n_common,
                   CAST(SUM(CAST(round(1.0 / ln(CAST(d.deg AS DOUBLE)),
                                       6) AS DECIMAL(18,6)))
                        AS DOUBLE) AS aa_score
            FROM wedges w JOIN deg d ON d.node = w.c
            GROUP BY 1, 2),
        cand AS (
            SELECT s.* FROM scored s
            WHERE NOT EXISTS (SELECT 1 FROM edges e
                              WHERE e.a = s.u AND e.b = s.v))
        SELECT u AS brand_a, v AS brand_b, n_common, aa_score
        FROM cand
        ORDER BY aa_score DESC, u ASC, v ASC
        LIMIT 20
    """,
    # Replays ndcg_at_k: the sim_search scored/ranked CTEs at k=10,
    # binary label-match relevance, 6-dp discount decimal folds, the
    # corpus label budget, and the lateral ideal-series sum (LEFT
    # JOIN keeps n_relevant=0 probes at idcg 0 / ndcg NULL — the
    # engine's sequence guard).
    "ndcg_at_k": f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv,
                   label AS probe_label
            FROM embeddings WHERE vec_id IN (0, 1, 2)),
        scored AS (
            SELECT p.probe_id, p.probe_label, e.vec_id, e.label,
                   {_COSINE.format(a="p.pv", b="CAST(e.embedding AS DOUBLE[])")} AS sim
            FROM embeddings e CROSS JOIN probes p
            WHERE e.vec_id <> p.probe_id),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                          ORDER BY sim DESC, vec_id ASC) AS rnk
            FROM scored),
        dcg AS (
            SELECT probe_id, probe_label,
                   CAST(SUM(CAST(CASE WHEN label = probe_label
                                 THEN round(1.0 / log2(CAST(rnk AS DOUBLE)
                                                       + 1.0), 6)
                                 ELSE 0.0 END AS DECIMAL(18,6)))
                        AS DOUBLE) AS dcg
            FROM ranked WHERE rnk <= 10
            GROUP BY 1, 2),
        lc AS (
            SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
            FROM embeddings GROUP BY 1),
        rb AS (
            SELECT d.probe_id, d.probe_label, d.dcg,
                   lc.n_label - 1 AS n_relevant
            FROM dcg d JOIN lc ON lc.label = d.probe_label),
        ideal AS (
            SELECT rb.probe_id,
                   CAST(SUM(CAST(round(1.0 / log2(CAST(g.i AS DOUBLE)
                                                  + 1.0), 6)
                                 AS DECIMAL(18,6))) AS DOUBLE) AS idcg
            FROM rb JOIN generate_series(1, 10) AS g(i)
              ON g.i <= least(rb.n_relevant, 10)
            WHERE rb.n_relevant > 0
            GROUP BY 1)
        SELECT rb.probe_id, rb.probe_label, rb.n_relevant, rb.dcg,
               COALESCE(i.idcg, 0.0) AS idcg,
               round(rb.dcg / nullif(COALESCE(i.idcg, 0.0), 0.0), 6)
                   AS ndcg
        FROM rb LEFT JOIN ideal i ON i.probe_id = rb.probe_id
    """,
    # Replays mrr_map_at_k: the sim_search scored/ranked CTEs at
    # k=10, binary label relevance, cum-precision window, per-probe
    # RR/AP and the decimal-folded fleet means.
    "mrr_map_at_k": f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv,
                   label AS probe_label
            FROM embeddings WHERE vec_id IN (0, 1, 2)),
        scored AS (
            SELECT p.probe_id, p.probe_label, e.vec_id, e.label,
                   {_COSINE.format(a="p.pv", b="CAST(e.embedding AS DOUBLE[])")} AS sim
            FROM embeddings e CROSS JOIN probes p
            WHERE e.vec_id <> p.probe_id),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                          ORDER BY sim DESC, vec_id ASC) AS rnk
            FROM scored),
        fl AS (
            SELECT probe_id, probe_label, rnk,
                   CASE WHEN label = probe_label THEN 1 ELSE 0 END
                       AS rel
            FROM ranked WHERE rnk <= 10),
        pr AS (
            SELECT probe_id, probe_label, rnk, rel,
                   SUM(rel) OVER (PARTITION BY probe_id ORDER BY rnk
                        ROWS UNBOUNDED PRECEDING) AS cum_rel
            FROM fl),
        pp AS (
            SELECT probe_id, probe_label,
                   MIN(CASE WHEN rel = 1 THEN rnk END)
                       AS first_rel_rank,
                   CAST(SUM(CASE WHEN rel = 1
                            THEN CAST(round(CAST(cum_rel AS DOUBLE)
                                            / rnk, 6)
                                      AS DECIMAL(18,6))
                            ELSE CAST(0.0 AS DECIMAL(18,6)) END)
                        AS DOUBLE) AS ap_num
            FROM pr GROUP BY 1, 2),
        lc AS (
            SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
            FROM embeddings GROUP BY 1),
        sc AS (
            SELECT p.probe_id, p.probe_label,
                   lc.n_label - 1 AS n_relevant,
                   p.first_rel_rank,
                   COALESCE(round(1.0 / CAST(p.first_rel_rank
                                             AS DOUBLE), 6), 0.0)
                       AS rr,
                   COALESCE(round(p.ap_num
                            / nullif(CAST(least(lc.n_label - 1, 10)
                                          AS DOUBLE), 0.0), 6), 0.0)
                       AS ap_at_k
            FROM pp p JOIN lc ON lc.label = p.probe_label),
        fleet AS (
            SELECT round(CAST(SUM(CAST(rr AS DECIMAL(18,6)))
                              AS DOUBLE) / COUNT(*), 6) AS mrr,
                   round(CAST(SUM(CAST(ap_at_k AS DECIMAL(18,6)))
                              AS DOUBLE) / COUNT(*), 6) AS map_at_k
            FROM sc)
        SELECT sc.probe_id, sc.probe_label, sc.n_relevant,
               sc.first_rel_rank, sc.rr, sc.ap_at_k,
               fleet.mrr, fleet.map_at_k
        FROM sc, fleet
    """,
    # Replays wilson_ci_proportion: per-type counts, 1-row total,
    # the Wilson interval over the shared Z_975 literal in the same
    # operation order.
    "wilson_ci_proportion": f"""
        WITH c AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM c)
        SELECT event_type, n, n_total,
               round(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
                   AS p_hat,
               round(((CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                       + {Z_975!r} * {Z_975!r}
                         / (2.0 * CAST(n_total AS DOUBLE)))
                      - {Z_975!r} * sqrt(
                          CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                          * (1.0 - CAST(n AS DOUBLE)
                                   / CAST(n_total AS DOUBLE))
                          / CAST(n_total AS DOUBLE)
                          + {Z_975!r} * {Z_975!r}
                            / (4.0 * CAST(n_total AS DOUBLE)
                               * CAST(n_total AS DOUBLE))))
                     / (1.0 + {Z_975!r} * {Z_975!r}
                              / CAST(n_total AS DOUBLE)), 6) AS ci_lo,
               round(((CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                       + {Z_975!r} * {Z_975!r}
                         / (2.0 * CAST(n_total AS DOUBLE)))
                      + {Z_975!r} * sqrt(
                          CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
                          * (1.0 - CAST(n AS DOUBLE)
                                   / CAST(n_total AS DOUBLE))
                          / CAST(n_total AS DOUBLE)
                          + {Z_975!r} * {Z_975!r}
                            / (4.0 * CAST(n_total AS DOUBLE)
                               * CAST(n_total AS DOUBLE))))
                     / (1.0 + {Z_975!r} * {Z_975!r}
                              / CAST(n_total AS DOUBLE)), 6) AS ci_hi
        FROM c, t
    """,
    # Replays sprt_monitor: daily (n, x) pairs, the two Python log
    # literals, 6-dp decimal LLR folds, the day-ordered running sum
    # and the threshold decision.
    "sprt_monitor": f"""
        WITH d AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                        AS BIGINT) AS n_purchases
            FROM events GROUP BY 1),
        l AS (
            SELECT day, n_events, n_purchases,
                   CAST(round(n_purchases * {_SPRT_L1_LIT!r}
                              + (n_events - n_purchases)
                                * {_SPRT_L0_LIT!r}, 6)
                        AS DOUBLE) AS llr_day
            FROM d),
        c AS (
            SELECT *,
                   CAST(SUM(CAST(llr_day AS DECIMAL(18,6)))
                        OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                        AS DOUBLE) AS llr_cum
            FROM l)
        SELECT day, n_events, n_purchases, llr_day, llr_cum,
               CASE WHEN llr_cum >= {_SPRT_UPPER_LIT!r}
                    THEN 'accept_h1'
                    WHEN llr_cum <= {_SPRT_LOWER_LIT!r}
                    THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM c
    """,
    # Replays zipf_fit_slope: vocab counts, the cnt >= 5 head with
    # (freq DESC, token ASC) ranks, 6-dp ln points, exact decimal OLS
    # moments; the ROUNDED slope feeds the intercept (engine order).
    "zipf_fit_slope": """
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS token
            FROM documents),
        cnts AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM toks GROUP BY 1),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(SUM(cnt) AS BIGINT) AS n_tokens
            FROM cnts),
        head AS (
            SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC)
                       AS rnk
            FROM cnts WHERE cnt >= 5),
        pts AS (
            SELECT CAST(round(ln(CAST(rnk AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) AS x,
                   CAST(round(ln(CAST(cnt AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) AS y
            FROM head),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS DOUBLE) AS sx,
                   CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE)
                       AS sxy,
                   CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE)
                       AS sxx,
                   CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE)
                       AS syy
            FROM pts),
        fit AS (
            SELECT n AS n_points,
                   round((CAST(n AS DOUBLE) * sxy - sx * sy)
                         / nullif(CAST(n AS DOUBLE) * sxx - sx * sx,
                                  0.0), 6) AS slope,
                   CAST(n AS DOUBLE) * sxy - sx * sy AS cov_n,
                   CAST(n AS DOUBLE) * sxx - sx * sx AS var_x,
                   CAST(n AS DOUBLE) * syy - sy * sy AS var_y,
                   sx, sy, CAST(n AS DOUBLE) AS nd
            FROM m)
        SELECT t.n_types, t.n_tokens, f.n_points, f.slope,
               round((f.sy - f.slope * f.sx) / f.nd, 6) AS intercept,
               round((f.cov_n * f.cov_n)
                     / nullif(f.var_x * f.var_y, 0.0), 6) AS r2
        FROM tot t, fit f
    """,
    # Replays heaps_law_fit: per-token first doc, new-types-per-doc,
    # doc-ordered prefix sums (plain windows stand in for the
    # engine's range_cumsum — same totals), 6-dp ln points, the same
    # exact-decimal OLS with rounded-slope intercept.
    "heaps_law_fit": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents),
        fd AS (
            SELECT token, MIN(doc_id) AS first_doc FROM toks GROUP BY 1),
        nt AS (
            SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT)
                       AS new_types
            FROM fd GROUP BY 1),
        dt AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM documents),
        per_doc AS (
            SELECT d.doc_id, d.n_tok,
                   COALESCE(n.new_types, 0) AS new_types
            FROM dt d LEFT JOIN nt n USING (doc_id)),
        curve AS (
            SELECT doc_id,
                   SUM(n_tok) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_n_tok,
                   SUM(new_types) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_new_types
            FROM per_doc),
        pts AS (
            SELECT CAST(round(ln(CAST(cum_n_tok AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) AS x,
                   CAST(round(ln(CAST(cum_new_types AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) AS y
            FROM curve WHERE cum_new_types > 0),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(new_types) AS BIGINT) AS n_types,
                   CAST(SUM(n_tok) AS BIGINT) AS n_tokens
            FROM per_doc),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS DOUBLE) AS sx,
                   CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE)
                       AS sxy,
                   CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE)
                       AS sxx,
                   CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE)
                       AS syy
            FROM pts),
        fit AS (
            SELECT n AS n_points,
                   round((CAST(n AS DOUBLE) * sxy - sx * sy)
                         / nullif(CAST(n AS DOUBLE) * sxx - sx * sx,
                                  0.0), 6) AS slope,
                   CAST(n AS DOUBLE) * sxy - sx * sy AS cov_n,
                   CAST(n AS DOUBLE) * sxx - sx * sx AS var_x,
                   CAST(n AS DOUBLE) * syy - sy * sy AS var_y,
                   sx, sy, CAST(n AS DOUBLE) AS nd
            FROM m)
        SELECT t.n_docs, t.n_types, t.n_tokens, f.n_points, f.slope,
               round((f.sy - f.slope * f.sx) / f.nd, 6) AS intercept,
               round((f.cov_n * f.cov_n)
                     / nullif(f.var_x * f.var_y, 0.0), 6) AS r2
        FROM tot t, fit f
    """,
    # Replays ab_power_mde: per-type 6-dp decimal moment folds, the
    # normal-approximation power identities with the shared z-sum
    # literal (Z_975 + Z_80 summed ONCE in Python, spliced into both
    # engines), ceil after a 6-dp round.
    "ab_power_mde": f"""
        WITH m AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6)))
                        AS DOUBLE) AS sx,
                   CAST(SUM(CAST(CAST(round(value, 6) AS DECIMAL(18,6))
                                 * CAST(round(value, 6)
                                        AS DECIMAL(18,6))
                                 AS DECIMAL(38,12)))
                        AS DOUBLE) AS sxx
            FROM events WHERE value IS NOT NULL GROUP BY 1),
        s AS (
            SELECT event_type, n,
                   round(sx / n, 6) AS mean_v,
                   round((sxx - sx * sx / n)
                         / nullif(CAST(n AS DOUBLE) - 1.0, 0.0), 6)
                       AS var_v
            FROM m)
        SELECT event_type, n, mean_v AS mean_value,
               round(sqrt(var_v), 6) AS sd_value,
               round({_AB_POWER_ZSUM!r} * sqrt(2.0 * var_v
                     / (CAST(n AS DOUBLE) / 2.0)), 6) AS mde_abs,
               round(round({_AB_POWER_ZSUM!r} * sqrt(2.0 * var_v
                           / (CAST(n AS DOUBLE) / 2.0)), 6)
                     / nullif(abs(mean_v), 0.0), 6) AS mde_rel,
               CAST(ceil(round(2.0 * var_v
                               * {_AB_POWER_ZSUM!r} * {_AB_POWER_ZSUM!r}
                               / nullif((0.05 * mean_v)
                                        * (0.05 * mean_v), 0.0), 6))
                    AS BIGINT) AS n_per_arm
        FROM s
    """,
    # Replays funnel_k_step: greedy earliest transitions as chained
    # per-user min-aggregations with the strictly-after + 48h-gap
    # condition in each join.
    "funnel_k_step": """
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS t_prev FROM events
            WHERE event_type = 'view' GROUP BY 1),
        s2 AS (
            SELECT e.user_id, MIN(e.ts) AS t_prev
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t_prev
              AND e.ts <= s1.t_prev + INTERVAL 48 HOURS
            GROUP BY 1),
        s3 AS (
            SELECT e.user_id, MIN(e.ts) AS t_prev
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t_prev
              AND e.ts <= s2.t_prev + INTERVAL 48 HOURS
            GROUP BY 1),
        c AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_view,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_click,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM s3)
                       AS n_purchase)
        SELECT n_view, n_click, n_purchase,
               round(n_click / nullif(CAST(n_view AS DOUBLE), 0.0), 6)
                   AS conv_view_click,
               round(n_purchase
                     / nullif(CAST(n_click AS DOUBLE), 0.0), 6)
                   AS conv_click_purchase,
               round(n_purchase
                     / nullif(CAST(n_view AS DOUBLE), 0.0), 6)
                   AS conv_overall
        FROM c
    """,
    # Replays cohort_ltv_curves: integer month keys (y*12+m), first
    # order per customer, decimal-exact cell revenue, per-cohort
    # running sum, LTV = cum/cohort_size. Floor-division spelled //
    # (DuckDB int cast ROUNDS doubles; the engine uses floor()).
    "cohort_ltv_curves": """
        WITH mk AS (
            SELECT o_custkey,
                   year(o_orderdate) * 12 + month(o_orderdate)
                       AS order_key,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS price
            FROM orders),
        fst AS (
            SELECT o_custkey, MIN(order_key) AS cohort_key
            FROM mk GROUP BY 1),
        sizes AS (
            SELECT cohort_key, CAST(COUNT(*) AS BIGINT) AS cohort_size
            FROM fst GROUP BY 1),
        cells AS (
            SELECT f.cohort_key,
                   m.order_key - f.cohort_key AS month_offset,
                   CAST(COUNT(DISTINCT m.o_custkey) AS BIGINT)
                       AS n_active,
                   CAST(SUM(m.price) AS DECIMAL(38,2)) AS revenue_dec
            FROM mk m JOIN fst f USING (o_custkey)
            GROUP BY 1, 2),
        cum AS (
            SELECT c.cohort_key, c.month_offset, c.n_active,
                   c.revenue_dec,
                   SUM(c.revenue_dec) OVER (
                       PARTITION BY c.cohort_key ORDER BY c.month_offset
                       ROWS UNBOUNDED PRECEDING) AS cum_dec,
                   s.cohort_size
            FROM cells c JOIN sizes s USING (cohort_key))
        SELECT make_date(CAST((cohort_key - 1) // 12 AS INTEGER),
                         CAST((cohort_key - 1) % 12 + 1 AS INTEGER), 1)
                   AS cohort_month,
               CAST(month_offset AS INTEGER) AS month_offset,
               cohort_size, n_active,
               CAST(revenue_dec AS DOUBLE) AS revenue,
               CAST(cum_dec AS DOUBLE) AS cum_revenue,
               round(CAST(cum_dec AS DOUBLE) / cohort_size, 6)
                   AS ltv_per_user
        FROM cum
    """,
    # Replays pacf_by_type: the pacf_daily CTE chain keyed by
    # event_type throughout (per-type mean centering, calendar pairs
    # within type, per-type lag spine/denominator), then ONE recursive
    # CTE carrying event_type through the Durbin-Levinson phi state —
    # the croston_intermittent per-key recursion device fused with the
    # pacf_daily decimal-list ring.
    "pacf_by_type": """
        WITH RECURSIVE daily AS (
            SELECT event_type, date_trunc('day', ts) AS day,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2),
        st AS (
            SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot_n,
                   CAST(COUNT(*) AS BIGINT) AS n_days
            FROM daily GROUP BY 1),
        dev AS (
            SELECT d.event_type, d.day, s.n_days,
                   round(d.n - CAST(s.tot_n AS DOUBLE) / s.n_days, 6)
                       AS d0
            FROM daily d JOIN st s USING (event_type)),
        nums AS (
            SELECT c.event_type,
                   CAST(date_diff('day', p.day, c.day) AS INTEGER)
                       AS lag,
                   SUM(CAST(round(c.d0 * p.d0, 6) AS DECIMAL(18,6)))
                       AS num_dec
            FROM dev c JOIN dev p
              ON p.event_type = c.event_type
             AND date_diff('day', p.day, c.day) BETWEEN 1 AND 7
            GROUP BY 1, 2),
        spine AS (
            SELECT st.event_type, CAST(gs.lag AS INTEGER) AS lag,
                   st.n_days
            FROM st, generate_series(1, 7) AS gs(lag)),
        den AS (
            SELECT event_type,
                   SUM(CAST(round(d0 * d0, 6) AS DECIMAL(18,6)))
                       AS den_dec
            FROM dev GROUP BY 1),
        acf AS (
            SELECT s.event_type, s.lag, s.n_days,
                   round(CAST(n.num_dec AS DOUBLE)
                         / nullif(CAST(d.den_dec AS DOUBLE), 0.0), 6)
                       AS acf
            FROM spine s
            LEFT JOIN nums n ON n.event_type = s.event_type
                            AND n.lag = s.lag
            JOIN den d ON d.event_type = s.event_type),
        rl AS (
            SELECT event_type,
                   list(CAST(acf AS DECIMAL(18,6)) ORDER BY lag) AS r,
                   CAST(COUNT(acf) AS INTEGER) AS n_ok
            FROM acf GROUP BY 1),
        rec AS (
            SELECT event_type, 1 AS k, r, n_ok, [r[1]] AS phi,
                   CAST(r[1] AS DOUBLE) AS pacf
            FROM rl WHERE n_ok >= 1
            UNION ALL
            SELECT q.event_type, q.k, q.r, q.n_ok,
                   list_append(
                       list_transform(generate_series(1, q.k - 1),
                           j -> CAST(round(q.phi[j]
                                - CAST(q.pacf_d AS DECIMAL(18,6))
                                  * q.phi[q.k - j], 6)
                                AS DECIMAL(18,6))),
                       CAST(q.pacf_d AS DECIMAL(18,6))) AS phi,
                   CAST(q.pacf_d AS DOUBLE) AS pacf
            FROM (
                SELECT r.event_type, r.k + 1 AS k, r.r, r.n_ok, r.phi,
                       floor(CAST(r.r[r.k + 1]
                                  - list_sum(list_transform(
                                      generate_series(1, r.k),
                                      j -> r.phi[j] * r.r[r.k + 1 - j]))
                                  AS DOUBLE)
                             / CAST(1 - list_sum(list_transform(
                                      generate_series(1, r.k),
                                      j -> r.phi[j] * r.r[j]))
                                  AS DOUBLE)
                             * 1000000.0 + 0.5) / 1000000.0 AS pacf_d
                FROM rec r WHERE r.k < r.n_ok
            ) q)
        SELECT a.event_type, a.lag, a.n_days, a.acf, rec.pacf
        FROM acf a LEFT JOIN rec ON rec.event_type = a.event_type
                                AND rec.k = a.lag
    """,
    # Replays croston_intermittent: nonzero-demand days of the
    # top-tail slice, LAG intervals, the two-series decimal recurrence
    # as a RECURSIVE CTE (0.2/0.8 literals are DECIMAL — products stay
    # exact; DuckDB round on DECIMAL is half-up == the engine's
    # quantize), forecast = floor-quantized ratio.
    "croston_intermittent": """
        WITH RECURSIVE demand AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS z
            FROM events WHERE value >= 280.0 GROUP BY 1, 2),
        d AS (
            SELECT event_type, day, z,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY day) AS t,
                   COALESCE(date_diff('day',
                       LAG(day) OVER (PARTITION BY event_type
                                      ORDER BY day), day), 1) AS q
            FROM demand),
        rec AS (
            SELECT event_type, t, day, z, q,
                   CAST(z AS DECIMAL(18,6)) AS z_hat,
                   CAST(q AS DECIMAL(18,6)) AS q_hat
            FROM d WHERE t = 1
            UNION ALL
            SELECT d.event_type, d.t, d.day, d.z, d.q,
                   CAST(round(0.2 * d.z + 0.8 * r.z_hat, 6)
                        AS DECIMAL(18,6)),
                   CAST(round(0.2 * d.q + 0.8 * r.q_hat, 6)
                        AS DECIMAL(18,6))
            FROM rec r
            JOIN d ON d.event_type = r.event_type AND d.t = r.t + 1)
        SELECT event_type, day, z, CAST(q AS BIGINT) AS q,
               CAST(z_hat AS DOUBLE) AS z_hat,
               CAST(q_hat AS DOUBLE) AS q_hat,
               floor(CAST(z_hat AS DOUBLE) / CAST(q_hat AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS forecast
        FROM rec
    """,
    # Replays funnel_time_to_convert: first view, first later purchase,
    # whole-second delays, exact discrete quantiles at k = ceil(p*n).
    "funnel_time_to_convert": """
        WITH fv AS (
            SELECT user_id, MIN(ts) AS first_view
            FROM events WHERE event_type = 'view' GROUP BY 1),
        conv AS (
            SELECT f.user_id, f.first_view, MIN(e.ts) AS first_purchase
            FROM fv f
            LEFT JOIN events e
              ON e.user_id = f.user_id AND e.event_type = 'purchase'
             AND e.ts > f.first_view
            GROUP BY 1, 2),
        delays AS (
            SELECT user_id,
                   date_diff('second', first_view, first_purchase)
                       AS delay_s
            FROM conv),
        counts AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_viewers,
                   CAST(COUNT(delay_s) AS BIGINT) AS n_converted
            FROM delays),
        per_delay AS (
            SELECT delay_s, CAST(COUNT(*) AS BIGINT) AS n_d
            FROM delays WHERE delay_s IS NOT NULL GROUP BY 1),
        cum AS (
            SELECT delay_s, n_d,
                   SUM(n_d) OVER (ORDER BY delay_s
                                  ROWS UNBOUNDED PRECEDING) AS cum_n
            FROM per_delay),
        stats AS (
            SELECT MIN(CASE WHEN cum_n >= (25 * n_converted + 99) // 100
                            THEN delay_s END) AS p25_s,
                   MIN(CASE WHEN cum_n >= (50 * n_converted + 99) // 100
                            THEN delay_s END) AS median_s,
                   MIN(CASE WHEN cum_n >= (75 * n_converted + 99) // 100
                            THEN delay_s END) AS p75_s,
                   round(CAST(SUM(CAST(delay_s * n_d AS DECIMAL(38,0)))
                              AS DOUBLE) / SUM(n_d), 6) AS mean_s
            FROM cum, counts)
        SELECT n_viewers, n_converted, p25_s, median_s, p75_s, mean_s
        FROM counts, stats
    """,
    # Replays kendall_tau_daily: bounded day-pair self-join, exact
    # concordance counts, tau-b with the y-tie correction.
    "kendall_tau_daily": """
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
        pairs AS (
            SELECT a.event_type,
                   CAST(COUNT(*) FILTER (b.y > a.y) AS BIGINT)
                       AS n_concordant,
                   CAST(COUNT(*) FILTER (b.y < a.y) AS BIGINT)
                       AS n_discordant,
                   CAST(COUNT(*) FILTER (b.y = a.y) AS BIGINT)
                       AS n_tied_y
            FROM daily a
            JOIN daily b
              ON a.event_type = b.event_type AND a.day < b.day
            GROUP BY 1),
        nd AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
            FROM daily GROUP BY 1)
        SELECT p.event_type, n.n_days, p.n_concordant, p.n_discordant,
               p.n_tied_y,
               round((p.n_concordant - p.n_discordant)
                     / nullif(sqrt((CAST(n.n_days AS DOUBLE)
                                    * (n.n_days - 1) / 2.0
                                    - p.n_tied_y)
                                   * (CAST(n.n_days AS DOUBLE)
                                      * (n.n_days - 1) / 2.0)), 0.0),
                     6) AS tau_b
        FROM pairs p JOIN nd n USING (event_type)
    """,
    # Replays mcnemar_test: per-user pre/post high-value flags, the
    # continuity-corrected discordant-pair chi-square.
    "mcnemar_test": """
        WITH pu AS (
            SELECT user_id,
                   MAX(CASE WHEN ts < TIMESTAMP '2024-01-11 00:00:00'
                            AND value >= 7.0 THEN 1 ELSE 0 END) AS pre,
                   MAX(CASE WHEN ts >= TIMESTAMP '2024-01-11 00:00:00'
                            AND value >= 7.0 THEN 1 ELSE 0 END) AS post
            FROM events GROUP BY user_id),
        cells AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(COUNT(*) FILTER (pre = 1 AND post = 1)
                        AS BIGINT) AS n_both,
                   CAST(COUNT(*) FILTER (pre = 1 AND post = 0)
                        AS BIGINT) AS n_pre_only,
                   CAST(COUNT(*) FILTER (pre = 0 AND post = 1)
                        AS BIGINT) AS n_post_only,
                   CAST(COUNT(*) FILTER (pre = 0 AND post = 0)
                        AS BIGINT) AS n_neither
            FROM pu),
        chi AS (
            SELECT *,
                   round(CAST(greatest(abs(n_pre_only - n_post_only)
                                       - 1, 0)
                              * greatest(abs(n_pre_only - n_post_only)
                                         - 1, 0)
                              AS DOUBLE)
                         / nullif(CAST(n_pre_only + n_post_only
                                       AS DOUBLE), 0.0), 6) AS chi2
            FROM cells)
        SELECT n_users, n_both, n_pre_only, n_post_only, n_neither,
               chi2, COALESCE(chi2 > 3.841459, FALSE) AS reject
        FROM chi
    """,
    # Replays srm_check: distinct users per arm, 2-cell chi-square,
    # p via the A&S tail of sqrt(chi2) (exact for 1 df).
    "srm_check": """
        WITH arms AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(COUNT(*) FILTER (user_id % 2 = 0) AS BIGINT)
                       AS n_arm0,
                   CAST(COUNT(*) FILTER (user_id % 2 = 1) AS BIGINT)
                       AS n_arm1
            FROM (SELECT DISTINCT user_id FROM events)),
        chi AS (
            SELECT *,
                   round((n_arm0 - CAST(n_users AS DOUBLE) / 2.0)
                         * (n_arm0 - CAST(n_users AS DOUBLE) / 2.0)
                         / nullif(CAST(n_users AS DOUBLE) / 2.0, 0.0)
                         + (n_arm1 - CAST(n_users AS DOUBLE) / 2.0)
                           * (n_arm1 - CAST(n_users AS DOUBLE) / 2.0)
                           / nullif(CAST(n_users AS DOUBLE) / 2.0, 0.0),
                         6) AS chi2
            FROM arms),
        p0 AS (
            SELECT *, 1.0 / (1.0 + 0.2316419 * abs(sqrt(chi2))) AS k
            FROM chi),
        p AS (
            SELECT *,
                   round(2.0 * exp(-sqrt(chi2) * sqrt(chi2) / 2.0)
                         * 0.3989422804014327
                         * (k * (0.319381530 + k * (-0.356563782
                            + k * (1.781477937 + k * (-1.821255978
                            + k * 1.330274429))))), 6) AS p_value
            FROM p0)
        SELECT n_users, n_arm0, n_arm1, chi2, p_value,
               COALESCE(p_value < 0.001, FALSE) AS srm_detected
        FROM p
    """,
    # Replays cuped_adjusted_ab: per-user (x, y) exact-decimal sums,
    # per-arm sufficient statistics, pooled theta, CUPED algebra.
    "cuped_adjusted_ab": """
        WITH pu AS (
            SELECT user_id,
                   SUM(CASE WHEN ts < TIMESTAMP '2024-01-11 00:00:00'
                            THEN CAST(value AS DECIMAL(18,2))
                            ELSE CAST(0 AS DECIMAL(18,2)) END) AS x,
                   SUM(CASE WHEN ts >= TIMESTAMP '2024-01-11 00:00:00'
                            THEN CAST(value AS DECIMAL(18,2))
                            ELSE CAST(0 AS DECIMAL(18,2)) END) AS y,
                   CAST(user_id % 2 AS INTEGER) AS arm
            FROM events GROUP BY user_id),
        arm_stats AS (
            SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(CAST(x * y AS DECIMAL(38,4))) AS sxy,
                   SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx,
                   SUM(CAST(y * y AS DECIMAL(38,4))) AS syy
            FROM pu GROUP BY 1),
        pooled AS (
            SELECT CAST(SUM(n_users) AS BIGINT) AS n,
                   SUM(sx) AS psx, SUM(sy) AS psy,
                   SUM(sxy) AS psxy, SUM(sxx) AS psxx
            FROM arm_stats),
        scal AS (
            SELECT round((CAST(psxy AS DOUBLE)
                          - CAST(psx AS DOUBLE) * CAST(psy AS DOUBLE)
                            / CAST(n AS DOUBLE))
                         / nullif(CAST(psxx AS DOUBLE)
                                  - CAST(psx AS DOUBLE)
                                    * CAST(psx AS DOUBLE)
                                    / CAST(n AS DOUBLE), 0.0), 6)
                       AS theta,
                   round(CAST(psx AS DOUBLE) / CAST(n AS DOUBLE), 6)
                       AS xbar
            FROM pooled),
        armd AS (
            SELECT a.*, s.theta, s.xbar,
                   CAST(a.n_users AS DOUBLE) AS na,
                   (CAST(a.syy AS DOUBLE)
                    - CAST(a.sy AS DOUBLE) * CAST(a.sy AS DOUBLE)
                      / CAST(a.n_users AS DOUBLE))
                   / nullif(CAST(a.n_users AS DOUBLE) - 1, 0.0) AS var_y,
                   (CAST(a.sxy AS DOUBLE)
                    - CAST(a.sx AS DOUBLE) * CAST(a.sy AS DOUBLE)
                      / CAST(a.n_users AS DOUBLE))
                   / nullif(CAST(a.n_users AS DOUBLE) - 1, 0.0) AS cov_a,
                   (CAST(a.sxx AS DOUBLE)
                    - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE)
                      / CAST(a.n_users AS DOUBLE))
                   / nullif(CAST(a.n_users AS DOUBLE) - 1, 0.0) AS var_x
            FROM arm_stats a, scal s)
        SELECT arm, n_users,
               round(CAST(sy AS DOUBLE) / na, 6) AS mean_y,
               round(var_y, 6) AS var_y,
               theta,
               round(round(CAST(sy AS DOUBLE) / na, 6)
                     - theta * (CAST(sx AS DOUBLE) / na - xbar), 6)
                   AS mean_y_cuped,
               round(var_y - 2 * theta * cov_a + theta * theta * var_x,
                     6) AS var_y_cuped,
               round(100.0 * (1.0 - (var_y - 2 * theta * cov_a
                                     + theta * theta * var_x)
                                    / nullif(var_y, 0.0)), 6)
                   AS var_reduction_pct
        FROM armd
    """,
    # Replays user_activity_islands: the row_number gaps-and-islands
    # key, island rollup, earliest-start tie-break.
    "user_activity_islands": """
        WITH days AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events),
        keyed AS (
            SELECT user_id, day,
                   day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY day) AS INTEGER) AS island
            FROM days),
        islands AS (
            SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
                   MIN(day) AS start
            FROM keyed GROUP BY 1, 2),
        mx AS (SELECT user_id, MAX(len) AS longest
               FROM islands GROUP BY 1)
        SELECT i.user_id,
               CAST(SUM(i.len) AS BIGINT) AS n_active_days,
               CAST(COUNT(*) AS BIGINT) AS n_streaks,
               MAX(i.len) AS longest_streak,
               MIN(i.start) FILTER (i.len = m.longest)
                   AS longest_streak_start
        FROM islands i JOIN mx m USING (user_id)
        GROUP BY 1
    """,
    # Replays gopher_quality_rules with DuckDB list lambdas over the
    # same whitespace tokenization.
    "gopher_quality_rules": """
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        base AS (
            SELECT doc_id,
                   CAST(len(ws) AS INTEGER) AS n_words,
                   round(CAST(list_sum(list_transform(ws,
                              x -> strlen(x))) AS DOUBLE) / len(ws), 6)
                       AS mean_word_len,
                   round(CAST(len(list_filter(ws,
                              x -> regexp_matches(x, '[#…]')))
                              AS DOUBLE) / len(ws), 6) AS symbol_ratio,
                   round(CAST(len(list_filter(ws,
                              x -> regexp_matches(x, '[a-zA-Z]')))
                              AS DOUBLE) / len(ws), 6) AS alpha_ratio,
                   CAST(len(list_intersect(list_distinct(ws),
                        ['the','be','to','of','and','that','have',
                         'with'])) AS INTEGER) AS n_stop_hits
            FROM w)
        SELECT doc_id, n_words, mean_word_len, symbol_ratio,
               alpha_ratio, n_stop_hits,
               n_words >= 50 AND n_words <= 100000 AS rule_word_count,
               mean_word_len >= 3.0 AND mean_word_len <= 10.0
                   AS rule_mean_word_len,
               symbol_ratio <= 0.1 AS rule_symbol_ratio,
               alpha_ratio >= 0.8 AS rule_alpha_ratio,
               n_stop_hits >= 2 AS rule_stopwords,
               (n_words >= 50 AND n_words <= 100000)
                   AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                   AND symbol_ratio <= 0.1 AND alpha_ratio >= 0.8
                   AND n_stop_hits >= 2 AS pass_gopher
        FROM base
    """,
    # Replays paragraph_dedup: fixed 10-word segments, md5 fingerprints,
    # distinct-doc df, >= 3 cut, order-preserving clean-text md5.
    "paragraph_dedup": """
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        segs AS (
            SELECT doc_id, CAST(t.i AS INTEGER) AS idx,
                   array_to_string(
                       ws[CAST(t.i AS INTEGER) * 10 + 1
                          : CAST(t.i AS INTEGER) * 10 + 10], ' ') AS seg
            FROM w, unnest(range(0,
                 CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS t(i)),
        fps AS (
            SELECT doc_id, idx, seg, md5(seg) AS fp FROM segs),
        dfreq AS (
            SELECT fp, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM fps GROUP BY 1),
        flagged AS (
            SELECT f.doc_id, f.idx, f.seg, d.df >= 3 AS is_dup
            FROM fps f JOIN dfreq d USING (fp))
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
               CAST(COUNT(*) FILTER (is_dup) AS BIGINT) AS n_dup_paras,
               md5(array_to_string(
                   list(seg ORDER BY idx) FILTER (NOT is_dup), ' '))
                   AS clean_fp
        FROM flagged GROUP BY doc_id
    """,
    # Replays ccnet_perplexity_buckets: the unigram_perplexity oracle
    # CTEs verbatim, then exact tercile cutoffs located on the
    # distinct-bits relation, ties joining the lower bucket.
    "ccnet_perplexity_buckets": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), cnts AS (
            SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
        ), total AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnts
        ), bits AS (
            SELECT token,
                   CAST(round(-log2(CAST(cnt AS DOUBLE) / total), 6)
                        AS DECIMAL(18,6)) AS bits
            FROM cnts CROSS JOIN total
        ), ppl AS (
            SELECT doc_id,
                   COUNT(*) AS n_tokens,
                   FLOOR(CAST(SUM(bits) AS DOUBLE) / COUNT(*)
                         * 1000000.0 + 0.5) / 1000000.0
                       AS bits_per_token
            FROM toks JOIN bits USING (token)
            GROUP BY doc_id
        ), per_bits AS (
            SELECT bits_per_token, CAST(COUNT(*) AS BIGINT) AS n_b
            FROM ppl GROUP BY 1
        ), cum AS (
            SELECT bits_per_token,
                   SUM(n_b) OVER (ORDER BY bits_per_token
                                  ROWS UNBOUNDED PRECEDING) AS cum_n,
                   SUM(n_b) OVER () AS n
            FROM per_bits
        ), cuts AS (
            SELECT MIN(CASE WHEN cum_n >= (n + 2) // 3
                            THEN bits_per_token END) AS cut1,
                   MIN(CASE WHEN cum_n >= (2 * n + 2) // 3
                            THEN bits_per_token END) AS cut2
            FROM cum)
        SELECT doc_id, n_tokens, bits_per_token,
               CASE WHEN bits_per_token <= cut1 THEN 'head'
                    WHEN bits_per_token <= cut2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM ppl, cuts
    """,
    # Replays dsir_importance_weights: one vocab relation carrying
    # both add-1 LMs, 6-dp decimal log-ratio fold per document.
    "dsir_importance_weights": """
        WITH toks AS (
            SELECT doc_id, source = 'src0' AS is_target,
                   unnest(string_split(text, ' ')) AS token
            FROM documents),
        cnts AS (
            SELECT token,
                   CAST(COUNT(*) FILTER (is_target) AS BIGINT) AS c_t,
                   CAST(COUNT(*) AS BIGINT) AS c_all
            FROM toks GROUP BY 1),
        tots AS (
            SELECT CAST(SUM(c_t) AS BIGINT) AS n_t,
                   CAST(SUM(c_all) AS BIGINT) AS n_all,
                   CAST(COUNT(*) AS BIGINT) AS v
            FROM cnts),
        ratio AS (
            SELECT token,
                   CAST(round(ln(CAST(c_t + 1 AS DOUBLE) / (n_t + v))
                              - ln(CAST(c_all + 1 AS DOUBLE)
                                   / (n_all + v)), 6)
                        AS DECIMAL(18,6)) AS lr
            FROM cnts, tots)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(lr) AS DOUBLE) AS log_weight,
               round(CAST(SUM(lr) AS DOUBLE) / COUNT(*), 6)
                   AS avg_log_ratio
        FROM toks JOIN ratio USING (token)
        GROUP BY doc_id
    """,
    "referential_integrity_check": _RI_ORACLE,
    "dedup_exact_normalized": """
        WITH norm AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+',
                                           ' ', 'g'))) AS fp,
                   md5(text) AS raw_fp
            FROM documents)
        SELECT MIN(doc_id) AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(COUNT(DISTINCT raw_fp) AS BIGINT) AS n_distinct_raw
        FROM norm GROUP BY fp
    """,
    "ngram_novelty_score": """
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        sh AS (
            -- mirrors _doc_shingles: sequence(0, greatest(len-3, 0))
            -- inclusive + capped 3-slices, so sub-3-word docs yield
            -- one short shingle on BOTH engines
            SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS s
            FROM words, unnest(range(0, greatest(len(w) - 2, 1))) AS r(i)),
        dfreq AS (
            SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY s)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unique,
               round(CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS novelty
        FROM sh JOIN dfreq USING (s)
        GROUP BY doc_id
    """,
    "aqe_coalesce_check": """
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS sum_id,
               TRUE AS coalesce_planned, 1 AS final_partitions
        FROM events GROUP BY event_type
    """,
    "txnlog_restore_version": """
        WITH pre AS (
            SELECT event_id FROM events
            WHERE ts < TIMESTAMP '2024-01-11 00:00:00'),
        post AS (
            SELECT event_id FROM events
            WHERE ts >= TIMESTAMP '2024-01-11 00:00:00')
        SELECT 'latest_after_restore' AS label, 3 AS version,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS sum_id,
               TRUE AS noop_restore_raises
        FROM (SELECT event_id FROM pre
              UNION ALL
              SELECT event_id FROM post WHERE event_id % 2 = 0)
        UNION ALL
        SELECT 'superseded_v2_still_reads', 2, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(event_id) AS BIGINT), TRUE
        FROM (SELECT event_id FROM pre
              UNION ALL
              SELECT event_id FROM post)
        UNION ALL
        SELECT 'restore_cdf_deletes', 3, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(event_id) AS BIGINT), TRUE
        FROM (SELECT event_id FROM post WHERE event_id % 2 = 1)
    """,
    "txnlog_compact_files": """
        SELECT 'compacted_total' AS label,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS sum_id,
               10 AS files_before, 5 AS files_after,
               10 AS files_rewritten, TRUE AS recompact_noop
        FROM events
        UNION ALL
        SELECT 'compacted_purchase_pruned', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(event_id) AS BIGINT), 10, 5, 10, TRUE
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT 'pre_compaction_v1_total', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(event_id) AS BIGINT), 10, 5, 10, TRUE
        FROM events
    """,
    "aqe_join_switch_check": """
        WITH signups AS (
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'signup')
        SELECT CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(p.event_id) AS BIGINT) AS sum_id,
               TRUE AS initial_smj, TRUE AS runtime_bhj
        FROM events p JOIN signups s ON p.user_id = s.user_id
        WHERE p.event_type = 'purchase'
    """,
    "txnlog_stats_skipping": """
        WITH m AS (SELECT MAX(event_id) + 1 AS m FROM events)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS sum_id,
               2 AS files_scanned, 4 AS files_total,
               4 AS files_kept_without_stats
        FROM events, m
        WHERE event_id <= m // 2 - 1
    """,
    "txnlog_history_table": """
        SELECT 0 AS version, '2024-01-01T00:00:00' AS committed_at,
               2 AS n_files, 2 AS n_added, 0 AS n_removed,
               CAST(NULL AS VARCHAR) AS partition_spec,
               FALSE AS schema_evolved
        UNION ALL
        SELECT 1, '2024-01-02T00:00:00', 3, 1, 0,
               CAST(NULL AS VARCHAR), TRUE
        UNION ALL
        SELECT 2, '2024-01-03T00:00:00', 3, 0, 0, 'event_type', FALSE
    """,
    "quantile_normalization": """
        WITH q AS (
            SELECT event_id, event_type, round(value, 6) AS value_q
            FROM events),
        ranked AS (
            SELECT event_id, event_type, value_q,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY value_q, event_id) AS rk,
                   COUNT(*) OVER (PARTITION BY event_type) AS n_g,
                   COUNT(*) OVER () AS n_all
            FROM q),
        lookup AS (
            SELECT ROW_NUMBER() OVER (ORDER BY value_q, event_id) AS grk,
                   value_q AS qn_value
            FROM q)
        SELECT r.event_id, r.event_type, r.value_q,
               CAST(r.rk AS BIGINT) AS group_rank,
               CAST((r.rk * r.n_all + r.n_g - 1) // r.n_g AS BIGINT)
                   AS global_k,
               l.qn_value
        FROM ranked r
        JOIN lookup l
          ON (r.rk * r.n_all + r.n_g - 1) // r.n_g = l.grk
    """,
    "mann_whitney_u": """
        WITH s AS (
            -- NULL values excluded up front (engine NULL-ordering
            -- defaults diverge; the engine filters isNotNull)
            SELECT value,
                   ts < TIMESTAMP '2024-01-11 00:00:00' AS is_base
            FROM events WHERE value IS NOT NULL),
        pv AS (
            SELECT value,
                   CAST(COUNT(*) FILTER (is_base) AS BIGINT) AS c_base,
                   CAST(COUNT(*) FILTER (NOT is_base) AS BIGINT) AS c_cur
            FROM s GROUP BY value),
        rk AS (
            SELECT c_base, c_cur, c_base + c_cur AS n_v,
                   2 * COALESCE(SUM(c_base + c_cur) OVER (ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     + c_base + c_cur + 1 AS avgrank2
            FROM pv),
        t AS (
            SELECT CAST(SUM(c_base) AS BIGINT) AS n_base,
                   CAST(SUM(c_cur) AS BIGINT) AS n_cur,
                   SUM(CAST(CAST(c_base AS DECIMAL(19,0))
                            * CAST(avgrank2 AS DECIMAL(19,0))
                            AS DECIMAL(38,0))) AS r2_base,
                   SUM(CAST(n_v AS DECIMAL(12,0)) * CAST(n_v AS DECIMAL(12,0))
                       * CAST(n_v AS DECIMAL(12,0))
                       - CAST(n_v AS DECIMAL(38,0))) AS tie_sum
            FROM rk),
        u AS (
            SELECT n_base, n_cur,
                   CAST(r2_base AS DOUBLE) / 2.0
                     - CAST(n_base AS DOUBLE) * (n_base + 1) / 2.0 AS u_raw,
                   CAST(n_base AS DOUBLE) * n_cur / 2.0 AS mu_raw,
                   sqrt(nullif(
                       (CAST(n_base AS DOUBLE) * n_cur / 12.0)
                       * ((CAST(n_base AS DOUBLE) + n_cur + 1)
                          - CAST(tie_sum AS DOUBLE)
                            / ((CAST(n_base AS DOUBLE) + n_cur)
                               * (CAST(n_base AS DOUBLE) + n_cur - 1))),
                       0.0)) AS sigma_raw
            FROM t)
        SELECT n_base, n_cur,
               round(u_raw, 6) AS u_stat,
               round(mu_raw, 6) AS mu_u,
               round(sigma_raw, 6) AS sigma_u,
               round((u_raw - mu_raw) / sigma_raw, 6) AS z_score,
               COALESCE(abs(round((u_raw - mu_raw) / sigma_raw, 6)) > 1.96,
                        FALSE) AS significant
        FROM u
    """,
    "ljung_box_check": """
        WITH daily AS (
            SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
            FROM events GROUP BY 1),
        st AS (SELECT CAST(SUM(n) AS BIGINT) AS tot_n,
                      CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        dev AS (
            SELECT day, n_days,
                   round(n - CAST(tot_n AS DOUBLE) / n_days, 6) AS d0
            FROM daily, st),
        nums AS (
            SELECT CAST(date_diff('day', p.day, c.day) AS INTEGER) AS lag,
                   SUM(CAST(round(c.d0 * p.d0, 6) AS DECIMAL(18,6)))
                       AS num_dec
            FROM dev c JOIN dev p
              ON date_diff('day', p.day, c.day) BETWEEN 1 AND 7
            GROUP BY 1),
        spine AS (
            SELECT CAST(gs.lag AS INTEGER) AS lag, st.n_days
            FROM st, generate_series(1, 7) AS gs(lag)),
        den AS (SELECT SUM(CAST(round(d0 * d0, 6) AS DECIMAL(18,6)))
                    AS den_dec FROM dev),
        acf AS (
            SELECT s.lag, s.n_days,
                   round(CAST(num_dec AS DOUBLE)
                         / nullif(CAST(den_dec AS DOUBLE), 0.0), 6) AS acf
            FROM spine s LEFT JOIN nums USING (lag), den),
        terms AS (
            SELECT lag, n_days, acf,
                   round(acf * acf
                         / nullif(CAST(n_days - lag AS DOUBLE), 0.0), 6)
                       AS q_term
            FROM acf),
        verdict AS (
            SELECT round(MAX(n_days) * CAST(MAX(n_days) + 2 AS DOUBLE)
                         * CAST(SUM(CAST(q_term AS DECIMAL(18,6)))
                                AS DOUBLE), 6) AS q_stat,
                   CAST(COUNT(q_term) AS BIGINT) AS df_used
            FROM terms)
        SELECT t.lag, t.n_days, t.acf, t.q_term, v.q_stat, v.df_used,
               CAST(CASE v.df_used WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465
                    WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729
                    WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587
                    WHEN 7 THEN 14.067140 END AS DOUBLE) AS chi2_crit,
               COALESCE(v.q_stat > CAST(CASE v.df_used
                    WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465
                    WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729
                    WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587
                    WHEN 7 THEN 14.067140 END AS DOUBLE), FALSE) AS reject
        FROM terms t, verdict v
    """,
    "benjamini_hochberg": """
        WITH s AS (
            SELECT event_type, value,
                   ts < TIMESTAMP '2024-01-11 00:00:00' AS is_base
            FROM events),
        mo AS (
            SELECT event_type, is_base, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))
                                 * CAST(value AS DECIMAL(18,2))
                                 AS DECIMAL(38,4))) AS DOUBLE) AS sxx
            FROM s GROUP BY 1, 2),
        sides AS (
            SELECT event_type, is_base, n,
                   round(sx / n, 6) AS mean,
                   round((sxx - sx * sx / n)
                         / nullif(CAST(n - 1 AS DOUBLE), 0.0), 6) AS var
            FROM mo),
        z AS (
            SELECT COALESCE(a.event_type, b.event_type) AS event_type,
                   a.n AS n_base, b.n AS n_cur,
                   round((a.mean - b.mean)
                         / nullif(sqrt(a.var / a.n + b.var / b.n), 0.0), 6)
                       AS z_score
            FROM (SELECT * FROM sides WHERE is_base) a
            FULL JOIN (SELECT * FROM sides WHERE NOT is_base) b
              ON a.event_type = b.event_type),
        p0 AS (
            SELECT *, 1.0 / (1.0 + 0.2316419 * abs(z_score)) AS k FROM z),
        p AS (
            SELECT event_type, n_base, n_cur, z_score,
                   round(2.0 * exp(-z_score * z_score / 2.0)
                         * 0.3989422804014327
                         * (k * (0.319381530 + k * (-0.356563782
                            + k * (1.781477937 + k * (-1.821255978
                            + k * 1.330274429))))), 6) AS p_value
            FROM p0),
        m AS (SELECT CAST(COUNT(p_value) AS BIGINT) AS m_tests FROM p),
        ranked AS (
            SELECT event_type, n_base, n_cur, z_score, p_value,
                   CAST(ROW_NUMBER() OVER (ORDER BY p_value ASC,
                                           event_type ASC) AS INTEGER)
                       AS p_rank,
                   m_tests
            FROM p, m WHERE p_value IS NOT NULL),
        adj AS (
            SELECT *,
                   round(least(1.0, MIN(p_value * m_tests / p_rank)
                       OVER (ORDER BY p_rank DESC
                             ROWS UNBOUNDED PRECEDING)), 6) AS p_adj
            FROM ranked)
        SELECT event_type, n_base, n_cur, z_score, p_value, p_rank,
               m_tests, p_adj, p_adj <= 0.10 AS reject
        FROM adj
        UNION ALL
        SELECT event_type, n_base, n_cur, z_score, p_value,
               CAST(NULL AS INTEGER) AS p_rank, m_tests,
               CAST(NULL AS DOUBLE) AS p_adj, FALSE AS reject
        FROM p, m WHERE p_value IS NULL
    """,
    "bootstrap_ci_mean": """
        WITH grouped AS (
            SELECT CAST(value AS DECIMAL(18,2)) AS v,
                   CAST(t.bhi AS INTEGER) AS bhi,
                   md5(CAST(event_id AS VARCHAR) || ':'
                       || CAST(t.bhi AS VARCHAR) || ':17') AS h
            FROM events, unnest(range(0, 13)) AS t(bhi)),
        lanes AS (
            SELECT v, bhi, CAST(t2.blo AS INTEGER) AS blo,
                   ('0x' || substring(h, CAST(t2.blo AS INTEGER) * 4 + 1,
                                      4))::BIGINT AS s16
            FROM grouped, unnest(range(0, 8)) AS t2(blo)
            WHERE bhi * 8 + CAST(t2.blo AS INTEGER) < 100),
        wtd AS (
            SELECT bhi * 8 + blo AS b, v,
                   (CASE WHEN s16 >= 24109 THEN 1 ELSE 0 END
                    + CASE WHEN s16 >= 48218 THEN 1 ELSE 0 END
                    + CASE WHEN s16 >= 60273 THEN 1 ELSE 0 END
                    + CASE WHEN s16 >= 64291 THEN 1 ELSE 0 END
                    + CASE WHEN s16 >= 65296 THEN 1 ELSE 0 END
                    + CASE WHEN s16 >= 65497 THEN 1 ELSE 0 END
                    + CASE WHEN s16 >= 65530 THEN 1 ELSE 0 END
                    + CASE WHEN s16 >= 65535 THEN 1 ELSE 0 END
                    + CASE WHEN s16 >= 65535 THEN 1 ELSE 0 END) AS w
            FROM lanes),
        reps AS (
            -- zero-weight replicates are EXCLUDED, not NULL-ranked
            -- (engine NULL-ordering defaults diverge)
            SELECT b, round(CAST(SUM(v * w) AS DOUBLE)
                            / CAST(SUM(w) AS DOUBLE), 6) AS rep_mean
            FROM wtd GROUP BY b HAVING SUM(w) > 0),
        bounds AS (
            -- order-statistic indices from the SURVIVING replicate
            -- count m, not n_boot (integer ceil-division on both
            -- engines) — a dropped replicate must shrink the ranks,
            -- never vanish rank ceil(0.975*B)
            SELECT MIN(rep_mean) AS ci_lo, MAX(rep_mean) AS ci_hi
            FROM (SELECT rep_mean,
                         ROW_NUMBER() OVER (ORDER BY rep_mean ASC) AS i,
                         COUNT(*) OVER () AS m
                  FROM reps)
            WHERE i = (25 * m + 999) // 1000
               OR i = (975 * m + 999) // 1000),
        obs AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                         / COUNT(*), 6) AS mean_obs
            FROM events)
        SELECT n_rows, CAST(100 AS INTEGER) AS n_boot, mean_obs,
               ci_lo, ci_hi
        FROM obs, bounds
    """,
    "rolling_active_users": """
        WITH pairs AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
                   user_id
            FROM events),
        ld AS (SELECT MAX(day) AS last_day FROM pairs),
        votes AS (
            SELECT p.user_id, CAST(t.o AS INTEGER) AS o,
                   p.day + CAST(t.o AS INTEGER) AS wday
            FROM pairs p, unnest(range(0, 7)) AS t(o))
        SELECT wday AS day,
               CAST(COUNT(DISTINCT CASE WHEN o = 0 THEN user_id END)
                    AS BIGINT) AS dau,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau,
               round(CAST(COUNT(DISTINCT CASE WHEN o = 0 THEN user_id END)
                          AS DOUBLE)
                     / nullif(CAST(COUNT(DISTINCT user_id) AS DOUBLE), 0.0),
                     6) AS stickiness
        FROM votes, ld WHERE wday <= last_day GROUP BY wday
    """,
    "doc_chunking": """
        WITH base AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        sized AS (
            SELECT doc_id, w,
                   greatest(0, CAST(floor((len(w) - 17) / 48.0) AS INTEGER))
                       AS n_extra
            FROM base),
        chunks AS (
            SELECT doc_id,
                   CAST(t.st AS INTEGER) AS start_tok,
                   CAST(t.st // 48 AS INTEGER) AS chunk_id,
                   w[(CAST(t.st AS INTEGER) + 1):(CAST(t.st AS INTEGER) + 64)]
                       AS toks
            FROM sized, unnest(generate_series(0, n_extra * 48, 48)) AS t(st))
        SELECT doc_id, chunk_id, start_tok,
               CAST(len(toks) AS INTEGER) AS n_tok,
               md5(array_to_string(toks, ' ')) AS chunk_fp
        FROM chunks
    """,
    "tfidf_cosine_pairs": """
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        toks AS (
            -- mirrors _doc_shingles(n=3, distinct=False): sequence(0,
            -- greatest(len-3, 0)) inclusive + capped 3-slices
            SELECT doc_id, array_to_string(w[i+1:i+3], ' ') AS term
            FROM words, unnest(range(0, greatest(len(w) - 2, 1))) AS r(i)),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
                  FROM tf GROUP BY term),
        posting AS (
            SELECT t.doc_id, t.term, d.df,
                   CAST(round((1.0 + ln(CAST(t.tf AS DOUBLE)))
                        * ln(CAST(n_docs AS DOUBLE) / d.df), 6)
                        AS DECIMAL(18,6)) AS w
            FROM tf t JOIN dfreq d USING (term), nd),
        norms AS (
            SELECT doc_id, SUM(CAST(w * w AS DECIMAL(38,12))) AS norm2
            FROM posting GROUP BY doc_id),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM posting a JOIN posting b USING (term)
            WHERE a.doc_id < b.doc_id AND a.df <= 10),
        dots AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared,
                   SUM(CAST(pa.w * pb.w AS DECIMAL(38,12))) AS dot
            FROM cand c
            JOIN posting pa ON pa.doc_id = c.doc_a
            JOIN posting pb ON pb.doc_id = c.doc_b AND pb.term = pa.term
            GROUP BY 1, 2),
        scored AS (
            SELECT doc_a, doc_b, n_shared,
                   round(CAST(dot AS DOUBLE)
                         / nullif(sqrt(CAST(na.norm2 AS DOUBLE)
                                       * CAST(nb.norm2 AS DOUBLE)), 0.0), 6)
                       AS cosine
            FROM dots
            JOIN norms na ON na.doc_id = doc_a
            JOIN norms nb ON nb.doc_id = doc_b)
        SELECT doc_a, doc_b, n_shared, cosine
        FROM scored ORDER BY cosine DESC, doc_a ASC, doc_b ASC LIMIT 20
    """,
    "embed_random_projection": """
        WITH comps AS (
            SELECT vec_id,
                   CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER)
                       AS i,
                   UNNEST(embedding) AS x
            FROM embeddings),
        dd AS (SELECT CAST(len(embedding) AS INTEGER) AS d
               FROM embeddings LIMIT 1),
        lanes AS (SELECT CAST(t.j AS INTEGER) AS j
                  FROM unnest(range(0, 8)) AS t(j)),
        terms AS (
            SELECT vec_id, j,
                   CAST(round(CAST(x AS DOUBLE)
                        * (CASE WHEN ('0x' || substring(
                               md5(CAST(i AS VARCHAR) || ':'
                                   || CAST(j AS VARCHAR) || ':23'),
                               1, 15))::BIGINT % 2 = 0
                           THEN 1 ELSE -1 END), 6)
                        AS DECIMAL(18,6)) AS term
            FROM comps, lanes)
        SELECT vec_id, j,
               floor(CAST(SUM(term) AS DOUBLE) / sqrt(CAST(d AS DOUBLE))
                     * 1000000.0 + 0.5) / 1000000.0 AS proj
        FROM terms, dd GROUP BY vec_id, j, d
    """,
}
