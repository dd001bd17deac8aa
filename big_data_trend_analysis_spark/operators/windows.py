"""Event-time tumbling windows + analytic (ranking) windows.

The reference's only time semantics is processing-time decay anchored
to driver wall-clock (``edw_stream.py:75``); proper event-time windows
are what its README promises ("trending topics per window") — realized
here with ``window()`` over the event-time column (SURVEY §2.2 row 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_trend_analysis_spark.functions.numeric import dec, exact_sum
from big_data_trend_analysis_spark.scope import materialize


def window_tumbling(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Per-10-minute event counts + value sum (SURVEY §2.3 window_tumbling).

    ``window().start`` is surfaced as a plain timestamp column
    (``window_start``) so the result is a flat relation. Tumbling
    windows are a plain hash aggregation — one shuffle on the bucket.
    DuckDB twin: ``time_bucket(INTERVAL '10 minutes', ts)`` (same
    epoch-aligned bucketing).
    """
    return (
        events.groupBy(F.window("ts", width).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def window_sliding(events: DataFrame) -> DataFrame:
    """10-minute windows sliding every 5 minutes (overlapping counts).

    Spark expands each event into width/slide window copies before the
    aggregation — still one shuffle. DuckDB twin: UNION ALL of the two
    shifted 10-minute bucketings.
    """
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def window_session(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap.

    ``session_window`` merges events whose gaps are < ``gap`` into one
    window per user — the canonical sessionization operator. Works in
    batch and (with a watermark) streaming. DuckDB twin: classic
    gaps-and-islands (lag + cumulative flag sum).
    """
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def window_lag_lead(events: DataFrame) -> DataFrame:
    """Analytic lag/lead/ntile over each user's event timeline.

    Deterministic because the ordering key (ts, event_id) is unique.
    One shuffle on user_id; state is one partition's sort — the same
    plan shape at any scale.
    """
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return events.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
        F.ntile(4).over(w).alias("quartile"),
    )


def window_rank(events: DataFrame, k: int = 3) -> DataFrame:
    """Top-k events per user by value (SURVEY §2.3 window_rank).

    ``row_number`` over (user_id, value desc, event_id) — the tie-break
    on event_id makes ranking deterministic, which both the oracle and
    any re-run at different parallelism require. At scale this is one
    shuffle on user_id; skewed users are handled by AQE skew-join-style
    partition splitting in the sort, and k-per-key output keeps the
    result bounded.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        events.select("user_id", "event_id", "value")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def rollup_two_level(events: DataFrame) -> DataFrame:
    """Continuous-aggregate reuse: daily stats derived from hourly rollups.

    The hypertable pattern (TimescaleDB continuous aggregates, Druid
    rollup): maintain a fine-grained pre-aggregate and answer coarser
    queries by RE-aggregating it — never re-reading raw data. Spelled
    out as a two-level plan: hourly partial sums (exact decimal, so the
    re-aggregation loses nothing), then a daily aggregate over the
    |hours|-sized relation with the average derived from re-aggregable
    sums. At 100 TB the daily query costs O(hours) rows instead of
    O(events) — the oracle (a direct daily aggregate over raw events)
    pins that the rollup path is lossless.
    """
    hourly = events.groupBy(
        F.window("ts", "1 hour").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).alias("sum_dec"),
    )
    return (
        hourly.groupBy(F.date_trunc("day", F.col("w.start")).alias("day"))
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
            (F.sum("sum_dec").cast("double") / F.sum("n")).alias("avg_value"),
        )
    )


def window_distribution(events: DataFrame) -> DataFrame:
    """Distribution analytics per user: quartile, percent_rank, cume_dist.

    The remaining SQL window-function family (beyond rank/lag):
    ``ntile`` for equal-frequency bucketing, ``percent_rank`` /
    ``cume_dist`` for empirical CDFs — the building blocks of
    per-cohort score normalization in a curation pipeline. One shuffle
    on user_id, one sort; the (value, event_id) tie-break keeps every
    output deterministic at any parallelism.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return events.select("user_id", "event_id", "value").select(
        "user_id",
        "event_id",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


def _gapfill_spine(events: DataFrame, width: str) -> DataFrame:
    """(event_type, bucket, n_events, sum_value) for EVERY ``width``
    bucket between the first and last observed one, per type: the
    actual rollup left-joined onto a ``sequence(lo, hi, width)`` spine
    (NULL measures in a gap)."""
    # The bucket relation is referenced three times (bounds, the type
    # spine, the actuals join). Per-branch column pruning makes each
    # branch's aggregation exchange DIFFERENT, so Spark's ReuseExchange
    # never collapses them and the fact table would scan three times —
    # persisting the |types × buckets|-row rollup (KBs) keeps the
    # 100 TB scan+aggregate single-pass.
    daily = materialize(
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("bucket"), "event_type", "n_events", "sum_value")
    )
    bounds = daily.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr(f"interval {width}"))
            ).alias("bucket"),
        )
    )
    return spine.join(daily, ["event_type", "bucket"], "left")


def gapfill_locf(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Gap-filled per-type bucket series with last-observation-carried-forward.

    The ``time_bucket_gapfill`` pattern (TimescaleDB) the reference's
    Grafana dashboards implicitly depend on: a trend chart needs a row
    for EVERY bucket, not just buckets with events — missing counts
    become 0 and the running measure carries the last observed value
    forward. Per (event_type, bucket):

    - the bucket SPINE is generated with ``sequence(lo, hi, width)``
      exploded per type — a tiny broadcast (types × 1-row bounds), no
      shuffle of the fact table beyond the one aggregation;
    - actual buckets left-join onto the spine (equi-join on
      type+bucket);
    - ``n_events`` fills with 0; ``sum_value_locf`` fills by
      ``last(…, ignorenulls=True)`` over the ordered per-type window —
      one additional shuffle on event_type, sized to |buckets|, not
      |events|.

    At 100 TB the spine is still |types × buckets| rows (thousands),
    so gap-filling costs the same as the rollup it decorates. The
    oracle recomputes the spine with ``generate_series`` and LOCF with
    ``last_value(… IGNORE NULLS)`` — exact equality.
    """
    joined = _gapfill_spine(events, width)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "event_type",
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_locf"),
        F.col("n_events").isNull().alias("gap_filled"),
    )


def rolling_median(events: DataFrame, frame_rows: int = 9) -> DataFrame:
    """Per-user rolling median of ``value`` over the trailing 10 rows.

    Robust-statistic smoothing (a median is noise-immune where the
    rolling mean isn't) — the de-spiking primitive for metric streams.
    ``percentile(…, 0.5)`` runs as a window aggregate over a ROWS
    frame: one shuffle on ``user_id``, one sort, no self-join (the
    naive formulation joins each row to its 9 predecessors). The
    interpolation rule (midpoint of the two central order statistics
    on even counts) matches DuckDB's ``median`` exactly, so the oracle
    is windowed ``median`` verbatim.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-frame_rows, 0)
    )
    return events.select(
        "user_id",
        "event_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias(
            "rolling_median"
        ),
    )


def window_range_frame(events: DataFrame) -> DataFrame:
    """Time-RANGE window frame: per-user trailing-1-hour value sum.

    The frame completion beside the ROWS family (rolling_median,
    window_lag_lead): RANGE frames bound by an interval express
    "aggregate over the last hour" without exploding events into
    overlapping windows — one shuffle on user_id + one ordered scan,
    with every tied timestamp deterministically included in the frame
    (RANGE semantics), so no tie-break is even needed. Sum uses the
    exact-decimal discipline; the frame key is the epoch MICROSECOND
    (the fixtures carry full sub-second precision), so Spark's numeric
    rangeBetween and DuckDB's INTERVAL frame bound the identical row
    set — one hour is exactly 3.6e9 microseconds in both.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(dec("value")).over(w).cast("double").alias("trailing_1h_sum"),
    )


def ewma_smooth(events: DataFrame, decay: float = 0.9, span: int = 10) -> DataFrame:
    """Per-user EWMA of ``value`` over a trailing ``span``-row frame.

    The de-noising smoother beside ``rolling_median``: the frame's
    values are weighted ``decay^age`` (latest = age 0) and normalized
    by the weight sum — a bounded-frame EWMA (the unbounded recurrence
    is ``stateful_decay_live``'s territory; bounded frames are how
    batch pipelines smooth without carrying infinite history). One
    shuffle + one sort; the frame list is tiny (``span`` doubles).

    Determinism discipline: each weighted term is rounded to 6 dp and
    accumulated in decimal (order-fixed fold), numerator and
    denominator alike, so both engines sum identical decimals and the
    final division + round is bit-stable — ``decay^age`` values have
    ≤ 2·span significant decimal digits, never a round-6 tie.

    NULL ``value`` rows are excluded from the frame (``collect_list``
    drops nulls); an upstream with nullable measures should coalesce
    or filter first (fixture values are non-null).
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(span - 1), 0)
    )
    frame = F.collect_list("value").over(w)
    n = F.size("frame")
    dec6 = "decimal(28,6)"
    terms = F.transform(
        "frame",
        lambda x, i: F.round(x * F.pow(F.lit(decay), (n - 1 - i)), 6).cast(dec6),
    )
    weights = F.transform(
        "frame",
        lambda x, i: F.round(F.pow(F.lit(decay), (n - 1 - i)), 6).cast(dec6),
    )
    zero = F.lit("0").cast(dec6)
    # decimal + widens (28,6)→(29,6); cast back so the fold's
    # accumulator type stays fixed (values are ≤ span·max_value ≪ 10²²)
    num = F.aggregate(terms, zero, lambda acc, x: (acc + x).cast(dec6))
    den = F.aggregate(weights, zero, lambda acc, x: (acc + x).cast(dec6))
    return (
        events.select("event_id", "user_id", "ts", "value", frame.alias("frame"))
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.round((num.cast("double") / den.cast("double")), 6).alias("ewma"),
        )
    )


def window_navigation_suite(events: DataFrame) -> DataFrame:
    """The navigation window functions not yet covered by
    ``window_lag_lead`` (lag/lead/ntile) or ``window_distribution``
    (percent_rank/cume_dist): first_value, nth_value, defaulted lag,
    and offset lead — the "compare to session start / to N steps
    away" analytics of a timeline. One deterministic per-user total
    order (ts, event_id), one shuffle serves all four. nth_value uses
    both engines' default running frame (unbounded preceding → current
    row): null until the Nth row arrives — pinned by the oracle.

    The defaulted lag is COALESCE(lag(value), -1) rather than lag's
    3-arg default (ADVICE r8): Spark's 3-arg default applies only at
    the partition boundary and preserves a genuine NULL ``value`` in
    the previous row, while the oracle's COALESCE maps both to -1 —
    COALESCE on both sides keeps the engines aligned under NULLs.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        F.first_value("event_type").over(w).alias("first_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
        F.coalesce(F.lag("value", 1).over(w), F.lit(-1.0)).alias(
            "prev_value_dflt"
        ),
        F.lead("event_id", 2).over(w).alias("next2_event_id"),
    )


def gapfill_linear(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Gap-filled bucket series with LINEAR interpolation — the
    ``interpolate()`` companion of ``gapfill_locf``'s carry-forward
    (TimescaleDB's two gapfill modes). Same spine mechanics (sequence
    explode per type, left join of actual buckets); a missing
    bucket's measure is interpolated between the nearest observed
    buckets on either side:

        v(t) = v_prev + (v_next − v_prev) · (t − t_prev)/(t_next − t_prev)

    via ignore-nulls last/first over the ordered per-type window —
    two window passes on the |types × buckets| relation, never the
    fact table. Buckets before the first / after the last observation
    stay null (no extrapolation). Edge fractions are exact-int ratios
    of epoch seconds, so both engines interpolate bit-identically
    after the 6-dp round.
    """
    joined = _gapfill_spine(events, width)
    wp = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # The "nearest following observation" is computed as a RUNNING
    # frame over the reversed order, not as (0, unboundedFollowing):
    # Spark evaluates unbounded-FOLLOWING frames by re-scanning the
    # frame per row — O(n²) per partition, measured 4.6 s of
    # SF-independent overhead on the ~4.3k-bucket spine — while a
    # running unbounded-PRECEDING frame is streaming O(n). Identical
    # semantics: last non-null so far under DESC order IS the first
    # non-null ahead under ASC order (current row included in both).
    wf = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    obs = F.col("sum_value")
    obs_bucket = F.when(obs.isNotNull(), F.col("bucket"))
    prev_val = F.last(obs, ignorenulls=True).over(wp)
    next_val = F.last(obs, ignorenulls=True).over(wf)
    prev_t = F.unix_timestamp(F.last(obs_bucket, ignorenulls=True).over(wp))
    next_t = F.unix_timestamp(F.last(obs_bucket, ignorenulls=True).over(wf))
    frac = (F.unix_timestamp("bucket") - prev_t) / (next_t - prev_t)
    # 6-dp quantization via floor(x·1e6 + 0.5): interpolated values
    # land exactly on .5×1e-6 ties (2-dp endpoints × dyadic fractions),
    # where engine round() tie rules diverge — floor of the identical
    # double is deterministic cross-engine (the unigram_perplexity
    # discipline).
    lin = prev_val + (next_val - prev_val) * frac
    interp = F.when(obs.isNotNull(), obs).otherwise(
        F.when(
            prev_val.isNotNull() & next_val.isNotNull(),
            F.floor(lin * 1_000_000.0 + 0.5) / 1_000_000.0,
        )
    )
    return joined.select(
        "event_type",
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        interp.alias("sum_value_interp"),
    )


def rolling_active_users(events: DataFrame, span_days: int = 7) -> DataFrame:
    """Trailing 7-day distinct active users per day (DAU / WAU).

    The engagement KPI a COUNT(DISTINCT) window cannot express:
    distinct is non-decomposable over sliding frames, so the engine
    rewrites it as bounded replication — each distinct (user, day)
    activity row votes into the ``span_days`` window-days it stays
    visible in (``posexplode(sequence(day, day+6))``), then ONE hash
    aggregation counts distinct users per window day. Cost is
    corpus × span (linear, shuffle keyed on the date — never a
    single-partition window or a per-day self-join), the standard
    scale shape for rolling-distinct. DAU rides along as the
    offset-0 vote; stickiness = DAU/WAU is the derived ratio product
    teams read. Window days past the last observed activity day are
    cut (they would report phantom decaying windows).

    Emits one row per window day: (day, dau, wau, stickiness).
    """
    pairs = events.select(
        F.to_date(F.date_trunc("DAY", "ts")).alias("day"), "user_id"
    ).distinct()
    last_day = pairs.agg(F.max("day").alias("last_day"))
    votes = pairs.select(
        "user_id",
        F.posexplode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), span_days - 1)
            )
        ).alias("offset", "wday"),
    )
    return (
        votes.crossJoin(F.broadcast(last_day))
        .filter(F.col("wday") <= F.col("last_day"))
        .groupBy(F.col("wday").alias("day"))
        .agg(
            F.countDistinct(
                F.when(F.col("offset") == 0, F.col("user_id"))
            ).alias("dau"),
            F.countDistinct("user_id").alias("wau"),
        )
        .select(
            "day",
            "dau",
            "wau",
            F.round(
                F.col("dau")
                / F.nullif(F.col("wau").cast("double"), F.lit(0.0)),
                6,
            ).alias("stickiness"),
        )
    )


def user_activity_islands(events: DataFrame) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-day activity streaks.

    The engagement archetype the rolling/retention family doesn't
    cover (``rolling_active_users`` counts who is active; streaks ask
    HOW CONTIGUOUSLY): the classic row_number trick — for a user's
    distinct active days in order, ``day − row_number`` is constant
    exactly within a run of consecutive days, so it is the island key.
    ONE user-keyed shuffle serves the distinct, the window and the
    island rollup (all three partition on user_id); per-user output,
    never corpus-sized. Longest-streak ties break on the EARLIEST
    start (deterministic on both engines).

    Emits per user: (user_id, n_active_days, n_streaks,
    longest_streak, longest_streak_start).
    """
    days = events.select(
        "user_id", F.to_date(F.date_trunc("DAY", "ts")).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    keyed = days.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("island"),
    )
    islands = keyed.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("day").alias("start"),
    )
    return islands.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.min_by(
            "start", F.struct(-F.col("len"), F.col("start"))
        ).alias("longest_streak_start"),
    )
