"""Trend analytics: tokenization, keyword frequency, top-k, decay trend.

This is the reference's raison d'être (``README.md:7`` "trending
topics, keyword frequency"), re-expressed distributed:

- reference: ``collect()`` → Python loop → driver CMS matrix
  (``cms_stream.py:94-97``);
- engine: ``explode(split())`` → ``groupBy().count()`` — partial
  aggregation map-side, one shuffle on the token, no driver data path.

``streaming_decay_trend`` is the flagship (SURVEY §7.1): the
reference's entire semantic pipeline (scan → JSON parse → conditional
score → decay weight → windowed agg → order) as one deterministic batch
query; ``streaming/jobs.decay_trend_stream`` runs the same aggregation
as a Structured Streaming job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_trend_analysis_spark.functions.decay import DEFAULT_ANCHOR, decay_weight
from big_data_trend_analysis_spark.functions.numeric import rounded_sum
from big_data_trend_analysis_spark.functions.scoring import event_type_score
from big_data_trend_analysis_spark.scope import checkpoint, materialize


def tokenize_explode(documents: DataFrame) -> DataFrame:
    """(doc_id, token) pairs by whitespace split (reference A4)."""
    return documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )


def keyword_freq(documents: DataFrame) -> DataFrame:
    """Exact token frequency — the exact twin of the reference's CMS
    probes (``cms_stream.py:110-116``)."""
    return (
        tokenize_explode(documents)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def keyword_topk(documents: DataFrame, k: int = 10) -> DataFrame:
    """Top-k tokens by frequency, deterministic tie-break on the token.

    TakeOrdered (partial top-k per partition, merge on driver of k rows
    only) — the orderBy+limit pattern Spark turns into a bounded
    selection, safe at any scale.
    """
    return keyword_freq(documents).orderBy(
        F.col("freq").desc(), F.col("token").asc()
    ).limit(k)


def json_extract(events: DataFrame) -> DataFrame:
    """Parse ``events.props`` JSON and extract ``k`` (reference P2/P5)."""
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )


def conditional_score(events: DataFrame) -> DataFrame:
    """3-way when/otherwise scoring on event_type (reference P8)."""
    return events.select(
        "event_id",
        F.col("event_type"),
        event_type_score("event_type").alias("score"),
    )


def decay_weight_per_event(events: DataFrame, anchor: str = DEFAULT_ANCHOR) -> DataFrame:
    """Per-event exponential decay weight vs fixed anchor (reference M2)."""
    return events.select(
        "event_id",
        F.round(decay_weight("ts", anchor), 6).alias("weight"),
    )


def streaming_decay_trend(
    events: DataFrame,
    anchor: str = DEFAULT_ANCHOR,
    window_width: str = "1 hour",
) -> DataFrame:
    """Flagship: decay-weighted event-type trend per hour (SURVEY §7.1).

    events → from_json(props) → when/otherwise score → decay weight →
    groupBy(window(ts), event_type) → Σ(weight·score), Σ(weight·k), n →
    orderBy. Composes every reference-core operator; the JSON parse
    (from_json with declared schema, reference P2) feeds a measure so
    it is oracle-covered too. Decimal-summed → deterministic under any
    partitioning.
    """
    return _decay_trend(events, anchor, window_width).orderBy(
        "window_start", "event_type"
    )


def _decay_trend(events: DataFrame, anchor: str, window_width: str) -> DataFrame:
    """The flagship's windowed aggregation, unordered: the batch query
    orders it, and ``streaming/jobs.decay_trend_stream`` runs it over a
    watermarked stream."""
    parsed = events.withColumn(
        "props_k",
        F.from_json("props", "struct<k:int>").getField("k"),
    )
    scored = parsed.select(
        "ts",
        "event_type",
        event_type_score("event_type").alias("score"),
        decay_weight("ts", anchor).alias("weight"),
        "props_k",
    )
    return (
        scored.groupBy(
            F.window("ts", window_width).alias("w"),
            "event_type",
        )
        .agg(
            rounded_sum(F.col("weight") * F.col("score")).alias("decayed_score"),
            rounded_sum(F.col("weight") * F.col("props_k").cast("double")).alias("decayed_k"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "decayed_score",
            "decayed_k",
            "n_events",
        )
    )


def trend_rising(
    events: DataFrame,
    window_width: str = "1 day",
    baseline: int = 3,
) -> DataFrame:
    """Rising-trend detection: windows where a key runs hot vs its past.

    The reference's "trending topics" goal (README.md:7) done properly:
    count per (event-time window, key), compare each window against the
    average of the key's ``baseline`` previous observed windows (an
    analytic frame — no self-join), and rank keys inside each window by
    that lift. Windows without a full baseline are excluded so lift is
    always well-defined. One shuffle for the count, one for the
    per-key analytic window; both keyed — the identical plan ranks
    trending hashtags over 100 TB of posts.
    """
    counts = events.groupBy(
        F.window("ts", window_width).getField("start").alias("window_start"),
        F.col("event_type"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    frame = (
        Window.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(-baseline, -1)
    )
    with_base = counts.select(
        "window_start",
        "event_type",
        "n_events",
        F.round(F.avg("n_events").over(frame), 6).alias("baseline_avg"),
        F.count(F.lit(1)).over(frame).alias("baseline_n"),
    ).filter(F.col("baseline_n") == baseline)
    rank_w = Window.partitionBy("window_start").orderBy(
        F.col("lift").desc(), F.col("event_type").asc()
    )
    return (
        with_base.withColumn(
            "lift",
            F.round(F.col("n_events") / F.col("baseline_avg"), 6),
        )
        .withColumn("rnk", F.row_number().over(rank_w))
        .select("window_start", "event_type", "n_events", "baseline_avg", "lift", "rnk")
    )


def trend_anomaly(
    events: DataFrame,
    window_width: str = "1 day",
    z_cut: float = 2.0,
) -> DataFrame:
    """Z-score anomaly flags over windowed per-type counts.

    The monitoring half of trend analytics (the alert the reference's
    Grafana boards would fire): count per (event-time window, type),
    compare each window against the TYPE's own mean/stddev of windowed
    counts, flag |z| ≥ ``z_cut``. Two keyed aggregations — the window
    count and the per-type moment roll-up (|types| rows, broadcast back
    onto the |windows × types| relation) — so anomaly scoring over
    100 TB of events prices like the rollup itself. Every window row is
    returned with its rounded z (not just the anomalies), so the gate
    hash-checks the full scoring surface even when the fixtures'
    near-uniform traffic flags nothing.
    """
    # counts feeds both the moment roll-up and the scoring join; pruning
    # differentiates the two branches' exchanges, so without persisting
    # the |windows × types| rollup the fact table scans twice.
    counts = materialize(
        events.groupBy(
            F.window("ts", window_width).getField("start").alias("window_start"),
            F.col("event_type"),
        ).agg(F.count(F.lit(1)).alias("n_events"))
    )
    stats = counts.groupBy("event_type").agg(
        F.avg("n_events").alias("mean_n"),
        F.stddev_samp("n_events").alias("std_n"),
    )
    return (
        counts.join(F.broadcast(stats), "event_type")
        .select(
            "window_start",
            "event_type",
            "n_events",
            # Intermediate moments rounded to 6 dp on both engine and
            # oracle sides: stddev accumulation orders differ between
            # engines, and an unrounded divisor leaks ulp noise into z.
            F.round(
                (F.col("n_events") - F.round("mean_n", 6))
                / F.nullif(F.round("std_n", 6), F.lit(0.0)),
                6,
            ).alias("z"),
        )
        .withColumn(
            "is_anomaly", F.coalesce(F.abs("z") >= z_cut, F.lit(False))
        )
    )


def theil_sen_slope(events: DataFrame) -> DataFrame:
    """Theil–Sen robust trend slope per event_type's daily-count series.

    The robust complement to ``trend_rising``'s lift ranking: the
    median of all pairwise slopes (x_j − x_i)/(t_j − t_i), i < j — a
    29%-breakdown estimator that one anomalous day cannot drag the way
    it drags an OLS fit. Scale shape: ONE corpus-sized aggregation to
    (type, day) counts; the pairwise self-join runs on the time-dim
    relation only (days × types rows, O(d²) pairs with d bounded by
    the calendar, never by corpus size). Each slope is an exact
    integer ratio (count delta over day delta) rounded to 6 dp;
    ``median`` interpolates the two middle values identically on both
    engines over those already-quantized doubles.

    Emits one row per event_type:
    (event_type, n_days, n_pairs, sen_slope).
    """
    daily = materialize(
        events.groupBy(
            "event_type", F.date_trunc("DAY", "ts").alias("day")
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("a.day") < F.col("b.day"))
        .select(
            "event_type",
            F.round(
                (F.col("b.n") - F.col("a.n")).cast("double")
                / F.datediff(F.col("b.day"), F.col("a.day")),
                6,
            ).alias("slope"),
        )
    )
    n_days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days")
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.median("slope"), 6).alias("sen_slope"),
        )
        .join(F.broadcast(n_days), "event_type")
        .select("event_type", "n_days", "n_pairs", "sen_slope")
    )


def isotonic_daily_fit(events: DataFrame) -> DataFrame:
    """Isotonic (non-decreasing) regression of each type's daily counts.

    Gate note: PAVA's sequential pooling has no direct SQL replay, but
    its FIT VALUES do — the minimax identity fit_i = max_{j≤i}
    min_{k≥i} avg(y[j..k]) (Robertson/Wright/Dykstra, *Order
    Restricted Statistical Inference*) is pure prefix-sum arithmetic,
    so the registered query projects (event_type, day, y, fit) and is
    HASH-verified against a DuckDB minimax oracle (O(n³) pairs per
    series is trivial at the fixture's bounded 30-day calendar; block
    bookkeeping stays a library/pytest concern because equal-mean
    adjacent blocks are a PAVA-order artifact no formula recovers).

    The monotone-trend fitter beside ``theil_sen_slope`` (Theil–Sen
    summarizes ONE slope; isotonic fits the whole monotone curve —
    growth dashboards, calibration curves, dose–response): classical
    pool-adjacent-violators over the day-ordered series. Scale layout
    identical to the Holt family: one corpus-sized aggregation to
    (type, day) counts, then ``applyInPandas`` per series — PAVA is
    O(n) per series with block-merge state, and series are small
    after the daily rollup. Determinism: block means are ratios of
    exact integer (Σy, n) pairs; the emitted fit quantizes via
    floor(x·1e6 + 0.5) (the gapfill_linear tie discipline), so any
    engine replaying the same pools lands on identical doubles.

    Emits per (event_type, day): (y, fit, block_id, n_blocks) —
    block_id is the 0-based pooled-block index, n_blocks the series'
    final block count (n_blocks == n_days ⟺ already increasing).
    """
    import pandas as pd

    from pyspark.sql.types import (
        DateType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from big_data_trend_analysis_spark.operators.temporal import (
        _daily_counts,
    )

    daily = _daily_counts(events)

    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("day", DateType()),
            StructField("y", LongType()),
            StructField("fit", DoubleType()),
            StructField("block_id", IntegerType()),
            StructField("n_blocks", IntegerType()),
        ]
    )

    def _pava(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values("day").reset_index(drop=True)
        ys = [int(v) for v in pdf["y"]]
        # blocks of (sum, count): merge while the mean order violates
        blocks: list[list[int]] = []
        for y in ys:
            blocks.append([y, 1])
            while (
                len(blocks) > 1
                and blocks[-2][0] * blocks[-1][1]
                > blocks[-1][0] * blocks[-2][1]
            ):
                s, c = blocks.pop()
                blocks[-1][0] += s
                blocks[-1][1] += c
        fits, bids = [], []
        for bid, (s, c) in enumerate(blocks):
            fit = math.floor(s / c * 1_000_000 + 0.5) / 1_000_000
            fits.extend([fit] * c)
            bids.extend([bid] * c)
        out = pdf[["event_type", "day"]].copy()
        out["y"] = ys
        out["fit"] = fits
        out["block_id"] = bids
        out["n_blocks"] = len(blocks)
        return out

    return daily.groupBy("event_type").applyInPandas(_pava, schema)


def kendall_tau_daily(events: DataFrame) -> DataFrame:
    """Kendall τ-b between day order and daily count, per event type.

    The concordance-based trend-direction measure beside
    ``theil_sen_slope`` (same pairwise relation, different statistic:
    Theil–Sen summarizes the slope median, τ the ORDER agreement —
    robust and scale-free): over all day pairs i < j,

        τ_b = (C − D) / √((n₀ − n₁)(n₀ − n₂))

    with C/D concordant/discordant counts, n₀ = n(n−1)/2, n₁ the y-tie
    correction Σt(t−1)/2, n₂ = 0 (days are distinct). The pair join is
    bounded by the per-type daily relation (the theil_sen O(days²)
    argument — days per series is calendar-bounded, never corpus-
    sized); all counts are exact BIGINTs and the one division runs on
    doubles cast from them, rounded 6 dp.

    Emits per type: (event_type, n_days, n_concordant, n_discordant,
    n_tied_y, tau_b).
    """
    from big_data_trend_analysis_spark.operators.temporal import (
        _daily_counts,
    )

    daily = checkpoint(_daily_counts(events))
    a = daily.select(
        "event_type", F.col("day").alias("da"), F.col("y").alias("ya")
    )
    b = daily.select(
        "event_type", F.col("day").alias("db"), F.col("y").alias("yb")
    )
    pairs = a.join(b, "event_type").filter(F.col("da") < F.col("db"))
    counts = pairs.groupBy("event_type").agg(
        F.count_if(F.col("yb") > F.col("ya")).alias("n_concordant"),
        F.count_if(F.col("yb") < F.col("ya")).alias("n_discordant"),
        F.count_if(F.col("yb") == F.col("ya")).alias("n_tied_y"),
    )
    n_days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days")
    )
    n0 = F.col("n_days").cast("double") * (F.col("n_days") - 1) / 2.0
    tau = F.round(
        (F.col("n_concordant") - F.col("n_discordant"))
        / F.nullif(
            F.sqrt((n0 - F.col("n_tied_y")) * n0), F.lit(0.0)
        ),
        6,
    )
    return counts.join(n_days, "event_type").select(
        "event_type",
        "n_days",
        "n_concordant",
        "n_discordant",
        "n_tied_y",
        tau.alias("tau_b"),
    )


def mann_kendall_trend(events: DataFrame) -> DataFrame:
    """Mann–Kendall trend test per event type: is the daily-count
    drift SIGNIFICANT, or within what a stationary series shows?

    The significance gate the robust-trend pair was missing —
    ``theil_sen_slope`` estimates the magnitude and
    ``kendall_tau_daily`` the order agreement; Mann–Kendall asks
    whether S = C − D (the same concordant-minus-discordant count over
    day pairs i < j) could plausibly come from no trend at all:

        Var(S) = (n(n−1)(2n+5) − Σ t(t−1)(2t+5)) / 18 ,
        z = (S ∓ 1)/√Var  (continuity-corrected toward 0) ,

    two-sided p from the A&S 26.2.17 normal tail. Scale shape is the
    ``kendall_tau_daily`` layout verbatim: one corpus-sized
    aggregation to (type, day) counts, the pairwise join bounded by
    the calendar-sized daily relation, tie groups from a second tiny
    aggregation on the same relation; S and both tie sums are exact
    BIGINTs, the z chain runs on doubles cast from them.

    Emits per type: (event_type, n_days, s_stat, var_s, z_mk,
    p_value, reject).
    """
    from big_data_trend_analysis_spark.functions.stats import phi_upper_tail
    from big_data_trend_analysis_spark.operators.temporal import (
        _daily_counts,
    )

    daily = checkpoint(_daily_counts(events), eager=False)
    a = daily.select(
        "event_type", F.col("day").alias("da"), F.col("y").alias("ya")
    )
    b = daily.select(
        "event_type", F.col("day").alias("db"), F.col("y").alias("yb")
    )
    s_rel = (
        a.join(b, "event_type")
        .filter(F.col("da") < F.col("db"))
        .groupBy("event_type")
        .agg(
            (
                F.count_if(F.col("yb") > F.col("ya"))
                - F.count_if(F.col("yb") < F.col("ya"))
            ).alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("event_type", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_levels"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_sum"),
            F.sum("t").alias("n_days"),
        )
    )
    nd = F.col("n_days").cast("double")
    var_s = (
        nd * (nd - 1) * (2 * nd + 5)
        - F.col("tie_sum").cast("double")
    ) / 18.0
    s = F.col("s_stat").cast("double")
    z = F.round(
        F.when(F.col("s_stat") > 0, (s - 1) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (s + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0)),
        6,
    )
    p = F.round(phi_upper_tail(z), 6)
    return s_rel.join(ties, "event_type").select(
        "event_type",
        "n_days",
        "s_stat",
        F.round(var_s, 6).alias("var_s"),
        z.alias("z_mk"),
        p.alias("p_value"),
        F.coalesce(F.abs(z) > 1.959964, F.lit(False)).alias("reject"),
    )


def runs_test(events: DataFrame) -> DataFrame:
    """Wald–Wolfowitz runs test per event type: is the daily series'
    above/below-median sequence RANDOM, or does it streak?

    The randomness gate the trend family reads before anything else —
    too FEW runs means positive serial dependence (streaks: the thing
    ``mann_kendall_trend`` may mistake for trend), too MANY means
    oscillation. Days at the exact per-type discrete median (the
    ``brown_forsythe`` k = ⌈n/2⌉ order statistic on the per-type
    daily relation) drop, the sign sequence's run count comes from
    one lag window over the calendar-bounded series, and

        E[R] = 2·n₁·n₂/N + 1 ,
        Var  = 2n₁n₂(2n₁n₂ − N) / (N²(N−1)) ,   z = (R − E)/√Var

    — every count an exact BIGINT, the z chain a fixed double
    expression, two-sided p from the A&S 26.2.17 tail. Scale shape:
    ONE corpus aggregation to (type, day); medians, signs, runs and
    moments all live on that calendar-bounded relation.

    Emits per type: (event_type, n_pos, n_neg, n_runs, z_runs,
    p_value, reject).
    """
    from big_data_trend_analysis_spark.functions.stats import phi_upper_tail
    from big_data_trend_analysis_spark.operators.temporal import (
        _daily_counts,
    )

    daily = checkpoint(_daily_counts(events), eager=False)
    per_y = daily.groupBy("event_type", "y").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_ord = (
        Window.partitionBy("event_type")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per_y.select(
        "event_type", "y", "c", F.sum("c").over(w_ord).alias("cum")
    )
    n_rel = per_y.groupBy("event_type").agg(F.sum("c").alias("n_days"))
    med = (
        cum.join(n_rel, "event_type")
        .filter(F.col("cum") >= F.expr("(n_days + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("y").alias("median_y"))
    )
    signed = (
        daily.join(F.broadcast(med), "event_type")
        .filter(F.col("y") != F.col("median_y"))
        .select(
            "event_type",
            "day",
            F.when(F.col("y") > F.col("median_y"), F.lit(1))
            .otherwise(F.lit(-1))
            .alias("s"),
        )
    )
    w_day = Window.partitionBy("event_type").orderBy("day")
    runs = signed.select(
        "event_type",
        "s",
        (F.col("s") != F.lag("s").over(w_day))
        .cast("int")
        .alias("switch"),
    )
    grp = runs.groupBy("event_type").agg(
        F.count_if(F.col("s") == 1).alias("n_pos"),
        F.count_if(F.col("s") == -1).alias("n_neg"),
        (F.sum(F.coalesce(F.col("switch"), F.lit(0))) + 1).alias(
            "n_runs"
        ),
    )
    n1 = F.col("n_pos").cast("double")
    n2 = F.col("n_neg").cast("double")
    nn = n1 + n2
    e_r = 2.0 * n1 * n2 / nn + 1.0
    var_r = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - nn) / (nn * nn * (nn - 1.0))
    )
    z = F.round(
        (F.col("n_runs") - e_r)
        / F.nullif(F.sqrt(var_r), F.lit(0.0)),
        6,
    )
    p = F.round(phi_upper_tail(z), 6)
    return grp.select(
        "event_type",
        "n_pos",
        "n_neg",
        "n_runs",
        z.alias("z_runs"),
        p.alias("p_value"),
        F.coalesce(F.abs(z) > 1.959964, F.lit(False)).alias("reject"),
    )


def hurst_exponent(
    events: DataFrame, block_sizes: tuple[int, ...] = (1, 2, 4, 8)
) -> DataFrame:
    """Hurst exponent of the daily event-count series by the
    aggregated-variance method — the long-memory diagnostic that says
    whether the traffic series mean-reverts (H < ½), random-walks
    (H ≈ ½) or trends persistently (H > ½).

    Variance of block means at aggregation levels m ∈ ``block_sizes``
    scales as m^(2H−2) for a self-similar series, so H = 1 + slope/2
    of the (ln m, ln var_m) OLS fit. Blocks are complete windows of
    the observation-indexed daily series ((t−1) div m — a single
    days×|m| relation via one explode, no per-m scans); block means
    are exact-integer ratios rounded 6 dp, their moments fold in
    exact decimal, and the 4-point OLS runs over rounded ln
    coordinates with decimal-folded products (both engines evaluate
    identical double chains). Degenerate variances clamp at 1e-6 (the
    PSI guard). Scale shape: ONE corpus aggregation to the calendar-
    bounded daily relation; everything after is days-sized.

    Emits one row per block size with H repeated:
    (m, n_blocks, var_m, hurst).
    """
    sizes = F.array(*[F.lit(m) for m in block_sizes])
    daily = (
        events.groupBy(F.date_trunc("DAY", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
        .select(
            "y",
            F.row_number()
            .over(Window.orderBy("day"))
            .alias("t"),
        )
    )
    blocks = (
        daily.select("y", "t", F.explode(sizes).alias("m"))
        .groupBy("m", F.expr("(t - 1) div m").alias("blk"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("sy"))
        .filter(F.col("cnt") == F.col("m"))
    )
    b = F.round(F.col("sy").cast("double") / F.col("m"), 6)
    moments = blocks.select(
        "m",
        b.cast("decimal(18,6)").alias("b"),
        F.round(b * b, 6).cast("decimal(28,6)").alias("bb"),
    ).groupBy("m").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("b").cast("double").alias("sb"),
        F.sum("bb").cast("double").alias("sbb"),
    )
    k = F.col("k").cast("double")
    var_m = (
        F.col("sbb") - F.col("sb") * F.col("sb") / k
    ) / F.nullif(k - 1.0, F.lit(0.0))
    # single-block sizes carry no variance information (k - 1 = 0
    # would NULL-poison the fit differently per engine) - drop them
    pts = moments.filter(F.col("k") >= 2).select(
        "m",
        F.col("k").alias("n_blocks"),
        F.round(var_m, 6).alias("var_m"),
        F.round(F.log(F.col("m").cast("double")), 6).alias("lx"),
        F.round(
            F.log(F.greatest(F.lit(1e-6), var_m)), 6
        ).alias("ly"),
    )
    ols = pts.select(
        F.lit(1).alias("one"),
        F.col("lx").cast("decimal(18,6)").alias("x"),
        F.col("ly").cast("decimal(18,6)").alias("yv"),
        F.round(F.col("lx") * F.col("ly"), 6)
        .cast("decimal(28,6)")
        .alias("xy"),
        F.round(F.col("lx") * F.col("lx"), 6)
        .cast("decimal(28,6)")
        .alias("xx"),
    ).agg(
        F.count(F.lit(1)).alias("p"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("yv").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    p = F.col("p").cast("double")
    slope = (p * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        p * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    hurst = ols.select(
        F.round(F.lit(1.0) + slope / 2.0, 6).alias("hurst")
    )
    return pts.select("m", "n_blocks", "var_m").crossJoin(
        F.broadcast(hurst)
    )
