"""Temporal joins Spark lacks as primitives: as-of join, range join.

Both are composed from DataFrame ops with the *scale-correct* plan —
not a naive inequality join (which Spark would execute as a
broadcast-nested-loop or cartesian):

- **As-of join**: union the two sides tagged, sort within each key
  partition by event time, carry the last-seen right-side value
  forward with ``last(..., ignorenulls)``. One shuffle on the key, one
  sort — O(n log n) per partition, no pair explosion. (The same plan
  kdb/QuestDB/Flink use for as-of.)
- **Range join**: for uniform bands, derive the band key
  arithmetically and equi-join on it — the "bucketed range join"
  rewrite (DuckDB/Trino do this internally as IEJoin/bucketing; Spark
  needs it spelled out or it falls back to NLJ).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType, DoubleType, IntegerType, LongType,
    StringType, StructField, StructType,
)
from pyspark.sql.window import Window

from big_data_trend_analysis_spark.functions.numeric import exact_sum
from big_data_trend_analysis_spark.scope import checkpoint, materialize, materialize_tiny


def asof_join(events: DataFrame) -> DataFrame:
    """For each purchase event: the user's most recent signup at-or-before.

    Semantics of ``purchases ASOF LEFT JOIN signups ON user_id,
    p.ts >= s.ts`` (DuckDB's native operator is the oracle twin).
    At equal timestamps the signup is visible to the purchase, hence
    the (ts, side) sort order with the right side first.
    """
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    tagged = purchases.withColumn("side", F.lit(1)).unionByName(
        signups.select(
            "user_id",
            F.lit(None).cast("long").alias("event_id"),
            F.col("signup_ts").alias("ts"),
        ).withColumn("side", F.lit(0)),
        allowMissingColumns=False,
    ).withColumn(
        "signup_ts_or_null", F.when(F.col("side") == 0, F.col("ts"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "last_signup_ts", F.last("signup_ts_or_null", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("side") == 1).select(
        "event_id", "user_id", "ts", "last_signup_ts"
    )


def range_join(lineitem: DataFrame, band_width: float = 10000.0, n_bands: int = 12) -> DataFrame:
    """Aggregate lineitem into uniform price bands via a range join.

    Declared semantics: ``lineitem JOIN bands ON price >= lo AND
    price < hi``. Executed as the bucketed rewrite: band key =
    ``floor(price / width)``, equi-joined against the broadcast bands
    dimension — Catalyst plans a BroadcastHashJoin instead of the
    nested-loop a raw inequality join would force.
    """
    spark = lineitem.sparkSession
    bands = spark.range(n_bands).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id") * band_width).alias("lo"),
        ((F.col("id") + 1) * band_width).alias("hi"),
    )
    keyed = lineitem.withColumn(
        "band_id", F.floor(F.col("l_extendedprice") / F.lit(band_width)).cast("int")
    )
    return (
        keyed.join(F.broadcast(bands), "band_id")
        .filter((F.col("l_extendedprice") >= F.col("lo")) & (F.col("l_extendedprice") < F.col("hi")))
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum("l_extendedprice").alias("sum_price"),
        )
    )


def attribution_last_touch(
    events: DataFrame, lookback: str = "7 days"
) -> DataFrame:
    """Last-touch attribution: each purchase credits the latest prior
    non-purchase event by the same user within the lookback window.

    Marketing attribution's simplest model, in its one-pass shape: a
    running ``max(struct(ts, event_id, event_type))`` over each user's
    stream (frame ending at the PREVIOUS row) carries "latest touch so
    far" to every event — struct ordering is (ts, event_id), so ties
    on ts resolve by event_id, exactly mirroring the oracle's ORDER BY
    … DESC LIMIT-1 semantics. One key shuffle + one sort for the whole
    table; the naive per-purchase correlated lookup re-scans the
    stream per conversion. Touches older than the lookback are always
    DOMINATED by newer ones (the candidate set is a suffix of the
    ordered stream), so filtering the carried max by the lookback
    after the fact equals filtering before — no second pass needed.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.max(
        F.when(
            F.col("event_type") != "purchase",
            F.struct("ts", "event_id", "event_type"),
        )
    ).over(w)
    return (
        events.withColumn("touch", touch)
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("touch").isNotNull()
            & (
                F.col("touch.ts")
                >= F.col("ts") - F.expr(f"interval {lookback}")
            )
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("touch.event_type").alias("touch_type"),
            F.col("touch.ts").alias("touch_ts"),
        )
    )


#: Funnel stages in order: a user reaches stage k at the earliest
#: event of this type strictly after the instant stage k-1 was
#: reached.
FUNNEL_STAGES = ("signup", "view", "click", "purchase")


def funnel_conversion(events: DataFrame) -> DataFrame:
    """Sequential conversion funnel: signup → view → click → purchase.

    The classic ordered funnel, NOT the weaker ``min(ts) per type``
    comparison (which misses users whose first view predates signup
    but who view again afterwards).

    Plan shape — one pass, no joins: within each user's event stream
    sorted by ``(ts, event_id)``, a chain of running-prefix windows
    carries "when was stage k-1 first reached so far"; an event
    qualifies for stage k iff its type matches and its ``ts`` is
    strictly greater than that running mark. Because events are
    processed in time order, the running mark at each row equals the
    final stage-(k-1) time whenever the comparison matters, so the
    chain computes the exact iterative semantics the oracle's
    4-level correlated CTE spells out.

    At 100 TB: one scan (pruned to the funnel event types), ONE
    key-shuffle + one sort for all four window levels (identical
    window spec ⇒ Catalyst stacks the Window operators on a single
    Exchange+Sort), a per-user aggregate that reuses the same
    partitioning, then a single-row reduce. The naive CTE-chain plan
    re-scans the fact table per stage and duplicates every upstream
    sub-plan in the final join — ~10 scans for 4 stages.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = events.filter(F.col("event_type").isin(*FUNNEL_STAGES)).select(
        "user_id", "event_type", "ts", "event_id"
    )

    q1 = F.when(F.col("event_type") == FUNNEL_STAGES[0], F.col("ts"))
    df = ev.withColumn("q1", q1).withColumn("c1", F.min("q1").over(w))
    for k in (2, 3, 4):
        qual = F.when(
            (F.col("event_type") == FUNNEL_STAGES[k - 1])
            & (F.col("ts") > F.col(f"c{k - 1}")),
            F.col("ts"),
        )
        df = df.withColumn(f"q{k}", qual)
        if k < 4:
            df = df.withColumn(f"c{k}", F.min(f"q{k}").over(w))

    per_user = df.groupBy("user_id").agg(
        F.min("q1").alias("t1"),
        F.min("q2").alias("t2"),
        F.min("q3").alias("t3"),
        F.min("q4").alias("t4"),
    )
    return per_user.agg(
        F.count("t1").alias("n_signup"),
        F.count("t2").alias("n_view"),
        F.count("t3").alias("n_click"),
        F.count("t4").alias("n_purchase"),
        F.round(F.try_divide(F.count("t4"), F.count("t1")), 6).alias(
            "full_funnel_rate"
        ),
    )


def retention_cohort(events: DataFrame) -> DataFrame:
    """Weekly cohort retention matrix: (cohort_week, week_offset, n_users).

    The standard product-analytics retention triangle: a user's cohort
    is the ISO week (Monday-truncated) of their FIRST event; for every
    later week in which the user is active, the (cohort, offset) cell
    counts them once. Two pre-aggregations shrink the join inputs to
    per-user / per-(user, week) granularity BEFORE the join — both
    sides are keyed and shuffled on ``user_id`` only, so the join is a
    co-partitioned equi-join of two already-reduced relations (never
    events x events), and the final cell aggregation shuffles
    (cohort_week, week_offset) pairs, O(users x active-weeks) rows.
    At 100 TB the same plan holds: the per-user reduction is map-side
    partial, the user dimension is the only wide state.
    """
    first = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    active = (
        events.select(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("active_week"),
        )
        .distinct()
    )
    return (
        active.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """Per-user behavioral Markov chain: event-type transition counts.

    ``lag`` over each user's (ts, event_id)-ordered timeline pairs
    every event with its predecessor; the (from, to) counts plus a
    row-normalized transition probability are the first-order Markov
    model of user behavior (the "what do users do after X" primitive
    behind next-action prediction and funnel discovery). One shuffle
    on ``user_id`` for the lag sort, one on the 25-cell (from, to) key
    for the count; the probability divides exact integer counts inside
    a tiny per-``from_type`` window, so the result is deterministic at
    any scale and the oracle is LAG + the same division verbatim.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            F.col("event_type").alias("to_type"),
            F.lag("event_type").over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wf = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(wf), 6
        ).alias("p_transition"),
    )


def interval_overlap(events: DataFrame, duration_min: int = 30) -> DataFrame:
    """Peak concurrency per event type (sweep-line over intervals).

    Each event opens a half-open interval [ts, ts + duration): the
    classic "how many sessions were live at once" analytic. The
    100 TB-correct shape is the sweep-line: explode each interval into
    a +1 (start) and a -1 (end) delta, order by time within type, and
    the running delta sum IS the concurrency curve — one explode (2
    rows/event) + one key-shuffle + one ordered scan, never an
    interval self-join (O(n²) on hot types). Half-open semantics: at
    an exact boundary the -1 sorts before the +1 (delta ascending), so
    back-to-back intervals never double-count.
    """
    deltas = events.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(F.col("ts").alias("t"), F.lit(1).alias("delta")),
                F.struct(
                    (F.col("ts") + F.expr(f"INTERVAL {duration_min} MINUTES")).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("e"),
    ).select("event_type", "e.t", "e.delta")
    w = Window.partitionBy("event_type").orderBy(F.col("t"), F.col("delta"))
    return (
        deltas.withColumn("concurrent", F.sum("delta").over(w))
        .groupBy("event_type")
        .agg(
            F.max("concurrent").alias("max_concurrent"),
            (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
        )
    )


def time_weighted_avg(events: DataFrame) -> DataFrame:
    """Per-user time-weighted average of ``value`` (TWAP, step-hold).

    The irregular-series average every metrics store serves: each
    observation holds until the next one, so the mean weights each
    value by its holding duration — Σ vᵢ·(tᵢ₊₁−tᵢ) / (tₙ−t₁) — not by
    row count (which over-weights bursts). One key-shuffle + one
    ordered scan (``lead``); durations are exact integer microseconds
    and the weighted sum runs in decimal, so the result is
    order-independent and oracle-matchable to the digit. Users with a
    single observation have no holding interval → NULL (pinned by the
    oracle, not invented).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = events.select(
        "user_id",
        "value",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias(
            "dur_us"
        ),
    )
    weighted = F.sum(
        F.col("value").cast("decimal(12,2)") * F.col("dur_us")
    ).cast("double")
    total = F.sum("dur_us")
    return stepped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(weighted / total, 6).alias("twa_value"),
    )


def user_growth_daily(events: DataFrame) -> DataFrame:
    """Daily new-user accumulation — first-seen cohort counting.

    The growth-analytics staple: each user counts once, on the day of
    their FIRST event (min-date per user, one shuffle on user_id);
    daily cohort sizes then accumulate through a running-sum window.
    The unpartitioned cumulative window is safe by construction: it
    orders O(distinct days) rows (the per-day relation), never events
    — at 100 TB of events this is still a few thousand rows.
    """
    first = events.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    daily = first.groupBy("d0").agg(F.count(F.lit(1)).alias("new_users"))
    cum = Window.orderBy("d0").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "d0", "new_users", F.sum("new_users").over(cum).alias("cum_users")
    )


def survival_km(events: DataFrame) -> DataFrame:
    """Kaplan–Meier churn curve over user lifetimes.

    The statistical upgrade of ``retention_cohort``'s triangle: treat
    each user's LAST active day as their churn event, users still
    active on the corpus's final observed day as right-censored, and
    estimate S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) — the standard
    survival readout (median lifetime, churn hazard) a growth team
    reads daily. Scale shape: ONE corpus aggregation to per-user last
    days, ONE re-aggregation to the per-day death counts — everything
    after (at-risk suffix sums, the product) runs on the bounded days
    relation. Determinism: d/n are exact integer ratios; the product
    is computed as exp(Σ ln(1 − d/n)) with per-day log terms rounded
    to 6 dp and folded in exact decimal (the ``pagerank_fixed``
    discipline), and the hazard ratio is clamped at 1e-6 from 1 (the
    PSI guard) so a fixture where everyone churns on one day stays
    finite.

    Emits one row per observed day:
    (day, n_risk, d_churned, hazard, s_km).
    """
    last_days = events.groupBy("user_id").agg(
        F.max(F.date_trunc("DAY", "ts")).alias("last_day")
    )
    per_day = materialize(
        last_days.groupBy(F.col("last_day").alias("day")).agg(
            F.count(F.lit(1)).alias("c")
        )
    )
    max_day = per_day.agg(F.max("day").alias("max_day"))
    w_desc = (
        Window.orderBy(F.col("day").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = per_day.crossJoin(F.broadcast(max_day)).select(
        "day",
        F.sum("c").over(w_desc).alias("n_risk"),
        F.when(F.col("day") < F.col("max_day"), F.col("c"))
        .otherwise(F.lit(0))
        .alias("d_churned"),
    )
    hazard = F.round(F.col("d_churned") / F.col("n_risk"), 6)
    term = F.round(
        F.log(
            F.greatest(
                F.lit(1e-6),
                F.lit(1.0) - F.col("d_churned") / F.col("n_risk"),
            )
        ),
        6,
    )
    w_asc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return risk.select(
        "day",
        "n_risk",
        "d_churned",
        hazard.alias("hazard"),
        F.round(
            F.exp(
                F.sum(term.cast("decimal(18,6)")).over(w_asc).cast("double")
            ),
            6,
        ).alias("s_km"),
    )


def rfm_segmentation(orders: DataFrame) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary).

    The classic marketing segmentation: per customer, days since last
    order (R), order count (F), exact-decimal revenue (M), each cut
    into quartiles and concatenated into the familiar '111'-'444'
    segment code. Scale shape: ONE hash aggregation to per-customer
    RFM, quartiles via ntile over the customer relation. Determinism:
    every ntile ORDER BY carries the customer key as the tie-break —
    a TOTAL order, so both engines assign the identical quartile even
    among ties (SQL-standard NTILE remainder rule on an identical
    order is identical).

    Emits one row per customer: (o_custkey, recency_days, frequency,
    monetary, r_q, f_q, m_q, segment).
    """
    from big_data_trend_analysis_spark.functions.numeric import exact_sum

    # per_cust feeds both the anchor rollup and the RFM projection —
    # materialized so the orders corpus aggregates once.
    per_cust = materialize(
        orders.groupBy("o_custkey").agg(
            F.max(F.date_trunc("DAY", "o_orderdate")).alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            exact_sum("o_totalprice").alias("monetary"),
        )
    )
    anchor = per_cust.agg(F.max("last_order").alias("anchor_day"))
    rfm = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff("anchor_day", "last_order").alias("recency_days"),
        "frequency",
        "monetary",
    )
    r_w = Window.orderBy(F.col("recency_days").asc(), F.col("o_custkey").asc())
    f_w = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc())
    m_w = Window.orderBy(F.col("monetary").desc(), F.col("o_custkey").asc())
    return rfm.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(r_w).alias("r_q"),
        F.ntile(4).over(f_w).alias("f_q"),
        F.ntile(4).over(m_w).alias("m_q"),
    ).withColumn(
        "segment",
        F.concat(
            F.col("r_q").cast("string"),
            F.col("f_q").cast("string"),
            F.col("m_q").cast("string"),
        ),
    )


def event_paths_topk(events: DataFrame, k: int = 20) -> DataFrame:
    """Top-k 3-step event-type paths across user timelines.

    The clickstream path-analysis primitive (what feeds a Sankey
    diagram or a next-step model's prior): each user's events in
    (ts, event_id) total order yield consecutive type triples via two
    ``lead`` windows — one shuffle on the user key, no self-joins —
    then one map-side-combining count per path string. Top-k is a
    distributed TakeOrdered with the rank assigned after the limit
    (the ``cooccurrence_pmi`` tail discipline). Path cardinality is
    |types|³-bounded, so the count relation never scales with the
    corpus.

    Emits (rnk, path, n_paths).
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    triples = events.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    counts = triples.groupBy(
        F.concat_ws(" > ", "e1", "e2", "e3").alias("path")
    ).agg(F.count(F.lit(1)).alias("n_paths"))
    order = [F.col("n_paths").desc(), F.col("path").asc()]
    top = counts.orderBy(*order).limit(k)
    w_rnk = Window.orderBy(*order)
    return top.select(
        F.row_number().over(w_rnk).alias("rnk"), "path", "n_paths"
    )


def attribution_position_based(events: DataFrame) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: 40/20/40.

    The multi-touch upgrade of ``attribution_last_touch``: every
    conversion (a ``purchase`` event) distributes credit over ALL the
    user's touches since their previous conversion — 40% to the first
    touch, 40% to the last, the middle 20% split evenly across the
    interior (n = 1 touch takes 1.0; n = 2 take 0.5 each; the
    standard U-shape). Touches after a user's final conversion are
    unattributed and dropped.

    Plan: one user-key shuffle serves both window passes — the
    running conversion counter that assigns each touch to its NEXT
    purchase, then rank/count within each (user, conversion) journey.
    The per-touch credit ``0.2/(n−2)`` is one double division on
    small exact integers (bit-identical on both engines), rounded to
    6 dp; the final per-channel fold sums exact decimals so shuffle
    order cannot flip a bit. Scale shape: windows over user keys
    partition cleanly; the final rollup is channel-bounded.

    Emits (event_type, n_touches, n_conversions_touched,
    total_credit) per touch channel.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_conv = (F.col("event_type") == "purchase").cast("int")
    tagged = events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(is_conv).over(w).alias("cp"),  # running conv count incl. self
    )
    # a touch belongs to journey cp+1 (its NEXT purchase); a purchase
    # closes journey cp. Journeys beyond the user's last purchase have
    # no conversion -> inner join on the journeys relation drops them.
    touches = tagged.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        (F.col("cp") + 1).alias("journey"),
    )
    journeys = (
        tagged.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("cp").alias("journey"))
        .distinct()
    )
    jw = Window.partitionBy("user_id", "journey").orderBy("ts", "event_id")
    ranked = (
        touches.join(journeys, ["user_id", "journey"])
        .select(
            "user_id",
            "journey",
            "event_type",
            F.row_number().over(jw).alias("pos"),
            F.count(F.lit(1))
            .over(Window.partitionBy("user_id", "journey"))
            .alias("n"),
        )
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when(F.col("pos") == 1, F.lit(0.4))
        .when(F.col("pos") == F.col("n"), F.lit(0.4))
        .otherwise(F.round(F.lit(0.2) / (F.col("n") - 2), 6))
    )
    return (
        ranked.select(
            "event_type",
            "user_id",
            "journey",
            F.round(credit, 6).cast("decimal(18,6)").alias("credit"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("user_id", "journey").alias(
                "n_conversions_touched"
            ),
            F.sum("credit").cast("double").alias("total_credit"),
        )
    )


#: Holt smoothing knobs — decimal strings so the recursion stays in
#: EXACT decimal arithmetic on every engine (0.5/0.3 as binary doubles
#: would accumulate engine-ordered error through 30 steps).
HOLT_ALPHA = "0.5"
HOLT_BETA = "0.3"


#: Leading fields of the Holt family's per-(event_type, day) output.
_HOLT_FIELDS = [
    StructField("event_type", StringType()),
    StructField("day", DateType()),
    StructField("y", DoubleType()),
    StructField("level", DoubleType()),
    StructField("trend", DoubleType()),
]


def holt_linear_forecast(events: DataFrame) -> DataFrame:
    """Holt double-exponential smoothing of each type's daily counts.

    The forecasting member of the trend family: ``theil_sen_slope`` /
    ``ols_regression_group`` fit one global line; Holt tracks a
    time-varying level ``l_t`` and trend ``b_t``:

        l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    with l_1 = y_1, b_1 = y_2 − y_1 (textbook init), α = 0.5,
    β = 0.3. The recurrence is inherently sequential per series — the
    one shape Catalyst cannot express — so it runs as
    ``applyInPandas`` over (type)-grouped daily rows: series count
    bounds parallelism (the classic forecasting-at-scale layout — at
    100 TB you have millions of SERIES, each tiny after the daily
    rollup, so groups pack executors evenly), and each group's state
    is two Decimals. Every step quantizes to 6 dp in EXACT decimal
    arithmetic (α/β are decimal literals, inputs are integer counts),
    ROUND_HALF_UP — bit-reproducible against any engine that can run
    the same decimal recursion (the oracle is a DuckDB RECURSIVE CTE
    over DECIMAL(18,6)).

    Emits per (event_type, day): (y, level, trend, one_step_ahead =
    l + b, the t+1 forecast made at t). Single-day series emit their
    anchor row with NULL trend.
    """
    import pandas as pd

    daily = _daily_counts(events)

    schema = StructType(
        [
            *_HOLT_FIELDS,
            StructField("one_step_ahead", DoubleType()),
        ]
    )

    def _holt(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("0.000001")
        alpha = Decimal(HOLT_ALPHA)
        beta = Decimal(HOLT_BETA)
        one = Decimal("1")
        pdf = pdf.sort_values("day").reset_index(drop=True)
        ys = [Decimal(int(v)) for v in pdf["y"]]
        levels: list[Decimal] = []
        trends: list[Decimal | None] = []
        for t, y in enumerate(ys):
            if t == 0:
                level = y
                trend = (ys[1] - ys[0]) if len(ys) > 1 else None
            else:
                prev_l, prev_b = levels[-1], trends[-1]
                level = (alpha * y + (one - alpha) * (prev_l + prev_b)).quantize(
                    q6, rounding=ROUND_HALF_UP
                )
                trend = (
                    beta * (level - prev_l) + (one - beta) * prev_b
                ).quantize(q6, rounding=ROUND_HALF_UP)
            levels.append(level)
            trends.append(trend)
        out = pdf[["event_type", "day"]].copy()
        out["y"] = [float(y) for y in ys]
        out["level"] = [float(v) for v in levels]
        out["trend"] = [None if v is None else float(v) for v in trends]
        out["one_step_ahead"] = [
            None if b is None else float(l + b) for l, b in zip(levels, trends)
        ]
        return out

    return daily.groupBy("event_type").applyInPandas(_holt, schema)


#: Holt–Winters seasonal smoothing knob — decimal string (the
#: HOLT_ALPHA/HOLT_BETA discipline) so the seasonal update stays in
#: exact decimal arithmetic.
HW_GAMMA = "0.2"


def _daily_counts(events: DataFrame) -> DataFrame:
    """(event_type, day, y) daily-count rollup shared by the trend/
    forecast family (Holt linear, Holt–Winters, isotonic PAVA)."""
    return events.groupBy(
        "event_type",
        F.to_date(F.date_trunc("DAY", "ts")).alias("day"),
    ).agg(F.count(F.lit(1)).alias("y"))


def holt_winters_dow(events: DataFrame, period: int = 7) -> DataFrame:
    """Additive Holt–Winters smoothing of daily counts, dow seasonality.

    The triple-exponential extension of ``holt_linear_forecast``:

        l_t = α·(y_t − s_{t−p}) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ·(y_t − l_t) + (1−γ)·s_{t−p}

    with textbook first-season init (l_p = mean of season 1, b_p =
    (mean₂ − mean₁)/p, s_i = y_i − l_p) and α = 0.5, β = 0.3,
    γ = 0.2. Same scale layout as Holt linear: the corpus collapses
    to (type, day) counts in one aggregation, the per-series
    recurrence runs in ``applyInPandas`` (millions of small series
    pack executors; state = two Decimals + a p-slot seasonal ring),
    and every step quantizes to 6 dp in EXACT decimal (ROUND_HALF_UP)
    — bit-reproducible against a DuckDB RECURSIVE CTE that carries
    the ring as a DECIMAL(18,6) LIST (prototype validated: DuckDB
    decimal literals keep α/β/γ products exact). Series shorter than
    two full seasons emit nothing (no second season to difference —
    the Holt-linear NULL-trend convention, stricter here).

    Calendar densification: a day with no rows is y = 0 for an
    event-COUNT series (absence is an observation, not missing data),
    and the seasonal ring is positional — without densifying, one
    empty day would permanently shift every later s_{t−p} onto the
    wrong weekday. Each series reindexes over its full [min, max]
    calendar with y = 0 fills before the recurrence (review finding;
    the gapped-weekday test pins it).

    Emits per (event_type, day) from day p onward: (y, level, trend,
    seasonal, one_step_ahead = l + b + s_{t+1−p}).
    """
    import pandas as pd

    daily = _daily_counts(events)

    schema = StructType(
        [
            *_HOLT_FIELDS,
            StructField("seasonal", DoubleType()),
            StructField("one_step_ahead", DoubleType()),
        ]
    )

    def _hw(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("0.000001")
        alpha = Decimal(HOLT_ALPHA)
        beta = Decimal(HOLT_BETA)
        gamma = Decimal(HW_GAMMA)
        one = Decimal("1")
        etype = pdf["event_type"].iloc[0]
        # densify: absent calendar days are y = 0 observations; the
        # positional ring needs one row per day or the phase shifts
        pdf = (
            pdf.set_index("day")
            .reindex(
                pd.date_range(pdf["day"].min(), pdf["day"].max()).date
            )
            .reset_index(names="day")
        )
        pdf["event_type"] = etype
        pdf["y"] = pdf["y"].fillna(0)
        ys = [Decimal(int(v)) for v in pdf["y"]]
        n = len(ys)
        if n < 2 * period:
            return pdf.head(0).reindex(columns=[f.name for f in schema])
        mean1 = (sum(ys[:period]) / period).quantize(q6, rounding=ROUND_HALF_UP)
        mean2 = (sum(ys[period : 2 * period]) / period).quantize(
            q6, rounding=ROUND_HALF_UP
        )
        level = mean1
        trend = ((mean2 - mean1) / period).quantize(q6, rounding=ROUND_HALF_UP)
        ring = [
            (ys[i] - mean1).quantize(q6, rounding=ROUND_HALF_UP)
            for i in range(period)
        ]
        rows = [
            (
                pdf["day"][period - 1],
                ys[period - 1],
                level,
                trend,
                ring[-1],
                level + trend + ring[0],
            )
        ]
        for t in range(period, n):
            s_lag = ring[0]
            prev_l = level
            level = (
                alpha * (ys[t] - s_lag) + (one - alpha) * (prev_l + trend)
            ).quantize(q6, rounding=ROUND_HALF_UP)
            trend = (
                beta * (level - prev_l) + (one - beta) * trend
            ).quantize(q6, rounding=ROUND_HALF_UP)
            s_new = (
                gamma * (ys[t] - level) + (one - gamma) * s_lag
            ).quantize(q6, rounding=ROUND_HALF_UP)
            ring = ring[1:] + [s_new]
            rows.append(
                (pdf["day"][t], ys[t], level, trend, s_new,
                 level + trend + ring[0])
            )
        out = pd.DataFrame(
            rows, columns=["day", "y", "level", "trend", "seasonal",
                           "one_step_ahead"]
        )
        out.insert(0, "event_type", pdf["event_type"][0])
        for c in ("y", "level", "trend", "seasonal", "one_step_ahead"):
            out[c] = out[c].astype(float)
        return out

    return daily.groupBy("event_type").applyInPandas(_hw, schema)


#: Croston smoothing knob — decimal string (the HOLT_ALPHA discipline)
#: so both demand-size and interval updates stay in exact decimal.
CROSTON_ALPHA = "0.2"


def croston_intermittent(
    events: DataFrame, demand_threshold: float = 280.0
) -> DataFrame:
    """Croston's method for intermittent demand, per event type.

    The forecasting member the Holt family can't cover: when a series
    is MOSTLY ZERO (spare parts, rare high-value orders), exponential
    smoothing of the raw series collapses toward zero and its
    forecasts whipsaw. Croston (1972) smooths two separate series —
    the nonzero demand SIZES z and the INTER-ARRIVAL intervals q —
    and forecasts their ratio:

        ẑ_t = α·z_t + (1−α)·ẑ_{t−1}
        q̂_t = α·q_t + (1−α)·q̂_{t−1}      (updates only on demand days)
        forecast = ẑ_t / q̂_t              (expected demand per period)

    Demand here is the daily count of TOP-TAIL events (value ≥
    ``demand_threshold`` ≈ the fixture's 99th percentile) — genuinely
    intermittent: most (type, day) cells see none. Same
    scale layout as the Holt family: one corpus aggregation to the
    per-type nonzero-demand days, the recurrence in ``applyInPandas``
    in EXACT decimal (α is a decimal literal; every step quantizes to
    6 dp ROUND_HALF_UP), bit-reproducible against a DuckDB RECURSIVE
    CTE. Init: ẑ_1 = z_1, q̂_1 = q_1 with q_1 = 1 by convention (no
    prior arrival to measure from). The forecast divides two 6-dp
    decimals in double and rounds 6 dp — identical on both engines.

    Emits per demand day: (event_type, day, z, q, z_hat, q_hat,
    forecast).
    """
    import pandas as pd

    demand = (
        events.filter(F.col("value") >= demand_threshold)
        .groupBy(
            "event_type",
            F.to_date(F.date_trunc("DAY", "ts")).alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("z"))
    )

    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("day", DateType()),
            StructField("z", LongType()),
            StructField("q", LongType()),
            StructField("z_hat", DoubleType()),
            StructField("q_hat", DoubleType()),
            StructField("forecast", DoubleType()),
        ]
    )

    def _croston(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("0.000001")
        alpha = Decimal(CROSTON_ALPHA)
        one = Decimal("1")
        pdf = pdf.sort_values("day").reset_index(drop=True)
        rows = []
        z_hat = q_hat = None
        prev_day = None
        for r in pdf.itertuples():
            z = Decimal(int(r.z))
            q = 1 if prev_day is None else (r.day - prev_day).days
            qd = Decimal(q)
            if z_hat is None:
                z_hat, q_hat = z, qd
            else:
                z_hat = (alpha * z + (one - alpha) * z_hat).quantize(
                    q6, rounding=ROUND_HALF_UP
                )
                q_hat = (alpha * qd + (one - alpha) * q_hat).quantize(
                    q6, rounding=ROUND_HALF_UP
                )
            rows.append(
                (
                    r.event_type,
                    r.day,
                    int(r.z),
                    q,
                    float(z_hat),
                    float(q_hat),
                    __import__("math").floor(
                        float(z_hat) / float(q_hat) * 1_000_000 + 0.5
                    )
                    / 1_000_000,
                )
            )
            prev_day = r.day
        return pd.DataFrame(
            rows,
            columns=[
                "event_type", "day", "z", "q", "z_hat", "q_hat",
                "forecast",
            ],
        )

    return demand.groupBy("event_type").applyInPandas(_croston, schema)


def funnel_time_to_convert(events: DataFrame) -> DataFrame:
    """Conversion-latency distribution: first view → first later
    purchase, per user.

    The latency companion to ``funnel_conversion`` (that one counts
    WHO converts; product teams also need HOW FAST): per user, the
    delay in seconds between the first 'view' and the first 'purchase'
    strictly after it. The p25/p50/p75 are exact DISCRETE order
    statistics (k = ⌈p·n⌉, the winsorize convention) located on the
    distinct-delay relation via the range-partitioned cumsum — no
    corpus-sized unpartitioned window — and the mean folds the
    whole-second delays exactly.

    Emits 1 row: (n_viewers, n_converted, p25_s, median_s, p75_s,
    mean_s).
    """
    from big_data_trend_analysis_spark.functions.ranks import range_cumsum

    viewers = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("first_view"),
    ).filter(F.col("first_view").isNotNull())
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts")
    )
    # the strictly-after condition lives IN the left join, not a
    # post-filter: a viewer whose purchases all PRECEDE the first view
    # must survive as unconverted, not vanish (post-filtering removes
    # every matched row and the user with it)
    delays = checkpoint(
        viewers.join(
            purchases,
            (F.col("user_id") == F.col("p_uid"))
            & (F.col("p_ts") > F.col("first_view")),
            "left",
        )
        .groupBy("user_id", "first_view")
        .agg(F.min("p_ts").alias("first_purchase"))
        .select(
            "user_id",
            (
                F.unix_seconds(F.col("first_purchase"))
                - F.unix_seconds(F.col("first_view"))
            ).alias("delay_s"),
        ),
        eager=False,
    )
    per_delay = delays.filter(F.col("delay_s").isNotNull()).groupBy(
        "delay_s"
    ).agg(F.count(F.lit(1)).alias("n_d"))
    cum = range_cumsum(per_delay, "delay_s", ["n_d"])
    counts = delays.agg(
        F.count(F.lit(1)).alias("n_viewers"),
        F.count("delay_s").alias("n_converted"),
    )
    stats = (
        cum.crossJoin(F.broadcast(counts))
        .agg(
            F.min(
                F.when(
                    F.col("cum_n_d")
                    >= F.expr("(25 * n_converted + 99) div 100"),
                    F.col("delay_s"),
                )
            ).alias("p25_s"),
            F.min(
                F.when(
                    F.col("cum_n_d")
                    >= F.expr("(50 * n_converted + 99) div 100"),
                    F.col("delay_s"),
                )
            ).alias("median_s"),
            F.min(
                F.when(
                    F.col("cum_n_d")
                    >= F.expr("(75 * n_converted + 99) div 100"),
                    F.col("delay_s"),
                )
            ).alias("p75_s"),
            F.round(
                F.sum(
                    (F.col("delay_s") * F.col("n_d")).cast("decimal(38,0)")
                ).cast("double")
                / F.sum("n_d"),
                6,
            ).alias("mean_s"),
        )
    )
    return counts.crossJoin(F.broadcast(stats))


def cohort_ltv_curves(orders: DataFrame) -> DataFrame:
    """Monthly-cohort cumulative lifetime-value curves.

    The revenue companion to ``retention_cohort`` (that triangle counts
    WHO comes back; finance needs WHAT they are worth): a customer's
    cohort is the calendar month of their FIRST order; every later
    order lands in the (cohort_month, month_offset) cell, and the
    running per-cohort cumulative revenue divided by the FIXED cohort
    size is the LTV curve product/finance teams read (ROADMAP round-12
    frontier #2, "windowed cohort LTV curves").

    Scale shape mirrors retention_cohort: one per-customer reduction
    to (custkey, cohort_month) — map-side partial, shuffled on the
    customer key only — then the orders join is a co-partitioned
    equi-join of two customer-keyed relations, and the cell rollup
    shuffles O(cohorts x offsets) rows. The cumulative sum runs over
    the TINY cell relation (months^2 rows, window partitioned by
    cohort). Determinism: revenue folds as DECIMAL(18,2) (o_totalprice
    is 2-dp money; sums are exact and order-independent on both
    engines), month arithmetic is integer (y*12+m), and the per-user
    curve divides exact decimals, rounded to 6 dp.

    Emits per (cohort_month, month_offset): cohort_size, n_active
    (distinct customers ordering in the cell), revenue, cum_revenue,
    ltv_per_user = cum_revenue / cohort_size.
    """
    mkey = F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")
    first = orders.groupBy("o_custkey").agg(
        F.min(mkey).alias("cohort_key")
    )
    cohort_sizes = first.groupBy("cohort_key").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        orders.select(
            "o_custkey",
            mkey.alias("order_key"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
        .join(first, "o_custkey")
        .groupBy(
            "cohort_key",
            (F.col("order_key") - F.col("cohort_key")).alias("month_offset"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum("price").cast("decimal(38,2)").alias("revenue_dec"),
        )
    )
    w_cum = (
        Window.partitionBy("cohort_key")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.join(F.broadcast(cohort_sizes), "cohort_key")
        .select(
            # floor-division spelled explicitly: Spark's int cast
            # truncates a double but DuckDB's ROUNDS, so both engines
            # use floor()/%-on-ints (cohort_key = y*12+m is positive)
            F.make_date(
                F.floor((F.col("cohort_key") - 1) / 12).cast("int"),
                ((F.col("cohort_key") - 1) % 12 + 1).cast("int"),
                F.lit(1),
            ).alias("cohort_month"),
            F.col("month_offset").cast("int").alias("month_offset"),
            "cohort_size",
            "n_active",
            F.col("revenue_dec").cast("double").alias("revenue"),
            F.sum("revenue_dec").over(w_cum).cast("double").alias(
                "cum_revenue"
            ),
            F.round(
                F.sum("revenue_dec").over(w_cum).cast("double")
                / F.col("cohort_size"),
                6,
            ).alias("ltv_per_user"),
        )
    )


def funnel_k_step(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    max_gap_hours: int = 48,
) -> DataFrame:
    """Time-bounded k-step sequential funnel (ROADMAP round-12
    frontier — "sequence-aware funnel mining; time-bounded k-step
    funnels don't [exist yet]").

    ``funnel_conversion`` counts users who EVER did each stage in
    order; real funnel products bound each transition: step i counts
    only if it happens STRICTLY AFTER step i−1 and within
    ``max_gap_hours`` of it, and the user's step-i timestamp is the
    EARLIEST such event (the greedy earliest-transition convention —
    deterministic and oracle-replayable, unlike backtracking
    matchers). Scale shape: one user-keyed aggregation for step 1,
    then one co-partitioned user-keyed join + min-aggregation per
    remaining step — k−1 joins total, every shuffle on user_id,
    events×events never joined (each join's right side is the
    single-row-per-user step-(i−1) timestamp relation). The k per-step
    counts are 1-row aggregates broadcast-crossed into the single
    output row — one declarative plan, no driver-side actions.

    Emits 1 row: (n_step1..n_stepK as n_<type>, conv ratios rounded
    to 6 dp).
    """
    gap = F.expr(f"INTERVAL {int(max_gap_hours)} HOURS")
    prev = events.filter(F.col("event_type") == steps[0]).groupBy(
        "user_id"
    ).agg(F.min("ts").alias("t_prev"))
    step_rels = [prev]
    for step_type in steps[1:]:
        prev = (
            events.filter(F.col("event_type") == step_type)
            .join(prev, "user_id")
            .filter(
                (F.col("ts") > F.col("t_prev"))
                & (F.col("ts") <= F.col("t_prev") + gap)
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias("t_prev"))
        )
        step_rels.append(prev)
    out = step_rels[0].agg(F.count(F.lit(1)).alias(f"n_{steps[0]}"))
    for step_type, rel in zip(steps[1:], step_rels[1:]):
        out = out.crossJoin(
            F.broadcast(rel.agg(F.count(F.lit(1)).alias(f"n_{step_type}")))
        )
    convs = [
        F.round(
            F.col(f"n_{b}")
            / F.nullif(F.col(f"n_{a}").cast("double"), F.lit(0.0)),
            6,
        ).alias(f"conv_{a}_{b}")
        for a, b in zip(steps, steps[1:])
    ]
    overall = F.round(
        F.col(f"n_{steps[-1]}")
        / F.nullif(F.col(f"n_{steps[0]}").cast("double"), F.lit(0.0)),
        6,
    ).alias("conv_overall")
    return out.select(
        *[F.col(f"n_{s}") for s in steps], *convs, overall
    )


def markov_steady_state(events: DataFrame, iters: int = 15) -> DataFrame:
    """Steady-state distribution of the behavioral Markov chain: the
    long-run share of user attention each event type commands,
    obtained by ``iters`` power-iteration steps over
    ``event_transitions``' first-order transition matrix (the
    "where does behavior settle?" readout on top of the per-step
    probabilities; the pagerank_fixed fixed-iteration convention).

    Scale shape: the corpus collapses to the |types|² transition
    relation via event_transitions' one lag-window pass; the
    iteration state is the O(|types|) π vector, so the recursion runs
    in one ``applyInPandas`` over the bounded matrix relation (the
    pacf_daily device). Determinism: π starts uniform
    (floor-quantized 1/n), every step computes Σ_i π_i·P_ij as a
    SEQUENTIAL IEEE-double sum in state order and floor-quantizes via
    x·1e6 + 0.5 — exactly the arithmetic the DuckDB recursive CTE's
    ordered list_sum replays, bit-identically.

    Emits per state: (event_type, pi, n_iters) — Σπ ≈ 1 up to the
    per-step rounding.
    """
    import math as _m

    import pandas as pd

    trans = event_transitions(events)
    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("pi", DoubleType()),
            StructField("n_iters", IntegerType()),
        ]
    )

    def _power(pdf: pd.DataFrame) -> pd.DataFrame:
        states = sorted(
            set(pdf["from_type"]) | set(pdf["to_type"])
        )
        n = len(states)
        p = {
            (t.from_type, t.to_type): float(t.p_transition)
            for t in pdf.itertuples()
        }
        pi = [_m.floor(1.0 / n * 1_000_000 + 0.5) / 1_000_000] * n
        for _ in range(iters):
            nxt = []
            for j, sj in enumerate(states):
                acc = 0.0
                for i, si in enumerate(states):
                    acc += pi[i] * p.get((si, sj), 0.0)
                nxt.append(_m.floor(acc * 1_000_000 + 0.5) / 1_000_000)
            pi = nxt
        return pd.DataFrame(
            {"event_type": states, "pi": pi, "n_iters": [iters] * n}
        )

    return (
        trans.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(_power, schema)
    )


#: Theta-method SES smoothing constant (decimal literal — exact on
#: both engines, the croston alpha convention).
THETA_ALPHA = "0.2"


def theta_method_forecast(events: DataFrame) -> DataFrame:
    """Theta-method forecasting (Assimakopoulos & Nikolopoulos 2000,
    the M3-competition winner) of each type's daily-count series —
    the trend+level member completing the forecast family (Holt
    linear: smoothed trend; Holt–Winters: + seasonality; Croston:
    intermittent; theta: the decomposition approach that beat them
    all at M3).

    Classic θ = 2 additive form: fit the OLS trend line a + b·t, form
    the theta line y_θ = 2y − (a + b·t) (double-curvature series),
    smooth it with SES (α = 0.2), and the rolling one-step-ahead
    forecast is the equal-weight combination
    fc = ½·(level + trend(t+1)). Scale shape: ONE corpus aggregation
    to per-type daily counts (the shared ``_daily_counts``); the OLS
    coefficients are a per-type moment rollup broadcast back; the SES
    recursion is O(days) state in ``applyInPandas`` per type (the
    croston device). Determinism: integer moment sums are exact, a/b
    round to 6 dp, the trend evaluations round to 6 dp (identical
    IEEE doubles both engines), and the recursion runs in exact
    decimal with HALF_UP quantization — replayed by a per-type
    RECURSIVE CTE.

    Emits per (event_type, day): (event_type, day, t, y, trend_fit,
    theta_y, level, fc_next).
    """
    import pandas as pd

    daily = _daily_counts(events)
    w_t = Window.partitionBy("event_type").orderBy("day")
    seq = daily.withColumn("t", F.row_number().over(w_t))
    m = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )
    nd = F.col("n").cast("double")
    b = F.round(
        (nd * F.col("sty") - F.col("st") * F.col("sy"))
        / F.nullif(
            nd * F.col("stt") - F.col("st") * F.col("st"), F.lit(0.0)
        ),
        6,
    )
    coef = m.select(
        "event_type",
        b.alias("b"),
        F.round((F.col("sy") - b * F.col("st")) / nd, 6).alias("a"),
    )
    joined = seq.join(F.broadcast(coef), "event_type").select(
        "event_type",
        "day",
        "t",
        "y",
        F.round(F.col("a") + F.col("b") * F.col("t"), 6).alias("trend_fit"),
        F.round(
            F.col("a") + F.col("b") * (F.col("t") + F.lit(1)), 6
        ).alias("trend_next"),
    )
    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("day", DateType()),
            StructField("t", IntegerType()),
            StructField("y", LongType()),
            StructField("trend_fit", DoubleType()),
            StructField("theta_y", DoubleType()),
            StructField("level", DoubleType()),
            StructField("fc_next", DoubleType()),
        ]
    )

    def _ses(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("0.000001")
        alpha = Decimal(THETA_ALPHA)
        one = Decimal("1")
        half = Decimal("0.5")
        pdf = pdf.sort_values("t").reset_index(drop=True)
        rows = []
        level = None
        for r in pdf.itertuples():
            trend = Decimal(repr(float(r.trend_fit)))
            theta_y = Decimal(int(r.y)) * 2 - trend
            if level is None:
                level = theta_y
            else:
                level = (alpha * theta_y + (one - alpha) * level).quantize(
                    q6, rounding=ROUND_HALF_UP
                )
            trend_next = Decimal(repr(float(r.trend_next)))
            fc = (half * (level + trend_next)).quantize(
                q6, rounding=ROUND_HALF_UP
            )
            rows.append(
                (
                    r.event_type,
                    r.day,
                    int(r.t),
                    int(r.y),
                    float(r.trend_fit),
                    float(theta_y),
                    float(level),
                    float(fc),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "event_type", "day", "t", "y", "trend_fit", "theta_y",
                "level", "fc_next",
            ],
        )

    return joined.groupBy("event_type").applyInPandas(_ses, schema)


def forecast_backtest_mase(events: DataFrame, season: int = 7) -> DataFrame:
    """Rolling-origin one-step backtest of the two benchmark
    forecasters — naive (ŷ_t = y_{t−1}) and seasonal-naive
    (ŷ_t = y_{t−season}) — scored with MASE and sMAPE per event type.

    The evaluation layer the forecast family was missing: Holt,
    Holt–Winters, theta and croston all EMIT forecasts, but nothing
    said whether any of them beats the one-liner every forecasting
    paper scales against. MASE (Hyndman–Koehler) is that scale:
    MAE of the method over the evaluation window divided by the
    in-sample MAE of the one-step naive over the whole series — <1
    beats naive, engine-portably (every |error| is an exact BIGINT
    count difference, both MAEs are ratios of exact integer sums,
    and sMAPE's per-day terms are integer ratios rounded 6 dp and
    folded in exact decimal). Lags are OBSERVATION-indexed over the
    per-type day order (calendar gaps collapse — documented
    convention, identical in the oracle). The evaluation window is
    the days where BOTH forecasters have a lag (obs index > season),
    so the two MASEs compare on identical days. Scale shape: one
    corpus-sized aggregation to (type, day), then per-type windows on
    the calendar-bounded relation.

    Emits one row per (event_type, method):
    (event_type, method, n_eval, mae, mase, smape).
    """
    daily = _daily_counts(events)
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "y",
        F.row_number().over(w).alias("t"),
        F.lag("y", 1).over(w).alias("y_naive"),
        F.lag("y", season).over(w).alias("y_snaive"),
    )
    # in-sample one-step naive MAE over the WHOLE series — the MASE
    # denominator (Hyndman's Q), one per type
    scale = (
        lagged.filter(F.col("y_naive").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum(F.abs(F.col("y") - F.col("y_naive"))).alias("q_num"),
            F.count(F.lit(1)).alias("q_den"),
        )
    )
    evald = lagged.filter(F.col("t") > season)
    methods = evald.select(
        "event_type",
        F.lit("naive").alias("method"),
        "y",
        F.col("y_naive").alias("fc"),
    ).unionByName(
        evald.select(
            "event_type",
            F.lit("snaive").alias("method"),
            "y",
            F.col("y_snaive").alias("fc"),
        )
    )
    err = F.abs(F.col("y") - F.col("fc"))
    smape_term = F.round(
        2.0
        * err.cast("double")
        / (F.abs(F.col("y")) + F.abs(F.col("fc"))).cast("double"),
        6,
    ).cast("decimal(18,6)")
    scored = methods.groupBy("event_type", "method").agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.sum(err).alias("e_sum"),
        F.sum(smape_term).alias("s_sum"),
    )
    mae = F.col("e_sum").cast("double") / F.col("n_eval")
    q = F.col("q_num").cast("double") / F.col("q_den")
    return scored.join(scale, "event_type").select(
        "event_type",
        "method",
        "n_eval",
        F.round(mae, 6).alias("mae"),
        F.round(mae / F.nullif(q, F.lit(0.0)), 6).alias("mase"),
        F.round(
            F.col("s_sum").cast("double") / F.col("n_eval"), 6
        ).alias("smape"),
    )


def log_rank_test(events: DataFrame) -> DataFrame:
    """Log-rank test: do two user cohorts CHURN at different rates?

    The significance companion ``survival_km`` was missing — KM draws
    the curves, log-rank says whether they differ. Cohorts are
    users WITH vs WITHOUT a signup event (the onboarding question);
    the survival convention is ``survival_km``'s exactly: a user's
    last active day is their churn event, last-corpus-day users are
    right-censored. At each churn day t the group-1 death count is
    compared with its hypergeometric expectation under H₀,

        e₁(t) = d·n₁/n ,
        v₁(t) = d·(n₁/n)·(1 − n₁/n)·(n − d)/(n − 1) ,
        χ² = (Σ(d₁ − e₁))² / Σ v₁   vs   χ²(0.95, 1) = 3.841459.

    Scale shape: ONE corpus aggregation to per-user (last_day,
    cohort), ONE re-aggregation to per-day group death counts, suffix
    sums on the bounded days relation for the at-risk counts. Per-day
    e/v are fixed double chains over exact integers rounded 6 dp and
    folded in exact decimal.

    Emits ONE row: (n_users_g1, n_users_g0, obs_g1, exp_g1,
    var_sum, chi2_stat, reject).
    """
    per_user = events.groupBy("user_id").agg(
        F.max(F.date_trunc("DAY", "ts")).alias("last_day"),
        F.max(
            (F.col("event_type") == "signup").cast("int")
        ).alias("g"),
    )
    per_day = materialize_tiny(
        per_user.groupBy(F.col("last_day").alias("day")).agg(
            F.count(F.lit(1)).alias("c_all"),
            F.count_if(F.col("g") == 1).alias("c_g1"),
        )
    )
    max_day = per_day.agg(F.max("day").alias("max_day"))
    w_desc = Window.orderBy(F.col("day").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = per_day.crossJoin(F.broadcast(max_day)).select(
        "day",
        F.sum("c_all").over(w_desc).alias("n_risk"),
        F.sum("c_g1").over(w_desc).alias("n_risk_g1"),
        F.when(F.col("day") < F.col("max_day"), F.col("c_all"))
        .otherwise(F.lit(0))
        .alias("d_all"),
        F.when(F.col("day") < F.col("max_day"), F.col("c_g1"))
        .otherwise(F.lit(0))
        .alias("d_g1"),
    ).filter(F.col("d_all") > 0)
    share = F.col("n_risk_g1").cast("double") / F.col("n_risk")
    e1 = F.col("d_all").cast("double") * share
    v1 = (
        F.col("d_all").cast("double")
        * share
        * (1.0 - share)
        * (F.col("n_risk") - F.col("d_all")).cast("double")
        / F.nullif((F.col("n_risk") - 1).cast("double"), F.lit(0.0))
    )
    terms = risk.select(
        "d_g1",
        F.round(e1, 6).cast("decimal(18,6)").alias("e1"),
        F.round(F.coalesce(v1, F.lit(0.0)), 6)
        .cast("decimal(18,6)")
        .alias("v1"),
    )
    cohorts = per_user.agg(
        F.count_if(F.col("g") == 1).alias("n_users_g1"),
        F.count_if(F.col("g") == 0).alias("n_users_g0"),
    )
    agg = terms.agg(
        F.sum("d_g1").alias("obs_g1"),
        F.sum("e1").cast("double").alias("exp_g1"),
        F.sum("v1").cast("double").alias("var_sum"),
    )
    dev = F.col("obs_g1").cast("double") - F.col("exp_g1")
    chi2 = F.round(
        dev * dev / F.nullif(F.col("var_sum"), F.lit(0.0)), 6
    )
    return agg.crossJoin(F.broadcast(cohorts)).select(
        "n_users_g1",
        "n_users_g0",
        "obs_g1",
        F.round("exp_g1", 6).alias("exp_g1"),
        F.round("var_sum", 6).alias("var_sum"),
        chi2.alias("chi2_stat"),
        F.coalesce(chi2 > 3.841459, F.lit(False)).alias("reject"),
    )
