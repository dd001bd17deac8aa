"""Distribution-drift / monitoring operators (PSI, KS, mutual info).

A 100 TB pipeline is never run once: every ingest lands beside last
week's, and the first question is "did the data move?". This module
supplies the three standard monitoring statistics as declarative
plans — counts-based, so each is one or two hash aggregations over
slices of the fact table, never a collect of the distributions:

- **PSI** (population stability index): the banking/ML-monitoring
  standard for "has this feature's distribution shifted" — binned
  share comparison, Σ (q−p)·ln(q/p).
- **Two-sample Kolmogorov–Smirnov**: the nonparametric CDF-distance
  test — max |F_base − F_cur| over the merged support, exact from
  cumulative counts (no binning decision to argue about).
- **Mutual information**: the feature-relevance / leakage-audit
  measure between two categorical columns.

All arithmetic follows the engine's cross-engine float discipline:
shares and log-terms are ratios of exact integer counts (identical
IEEE doubles on both engines) rounded to 6 dp before any summation,
and sums of rounded terms fold in ``decimal(18,6)`` so totals are
order-independent (functions/numeric.py).

The baseline/current slices reuse ``operators/merge.SNAPSHOT_CUT`` —
the same deterministic split the CDC/MOR gates carve.
"""

from __future__ import annotations

import math
import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)
from pyspark.sql.window import Window

from big_data_trend_analysis_spark.functions.ranks import range_cumsum
from big_data_trend_analysis_spark.operators.merge import SNAPSHOT_CUT
from big_data_trend_analysis_spark.scope import materialize, materialize_tiny

#: Rounded log-terms accumulate exactly in this type (6 dp, 18 digits).
_TERM_DEC = "decimal(18,6)"


def _slices(events: DataFrame):
    cut = F.lit(SNAPSHOT_CUT).cast("timestamp")
    is_base = (F.col("ts") < cut).alias("is_base")
    return events.select("event_type", "ts", "value", is_base)


def psi_drift(events: DataFrame, n_bins: int = 10) -> DataFrame:
    """Population Stability Index of ``value``, baseline vs current.

    Equi-width bins over the GLOBAL min/max (one tiny agg broadcast —
    the ``feature_binning`` shape), then one counts aggregation per
    (bin, slice): the whole statistic is two scans' worth of
    hash-aggregate, shuffling O(bins) rows. Shares are clamped at
    1e-6 (the standard PSI guard for empty bins) so the log stays
    finite; per-bin contributions are rounded to 6 dp and the PSI
    total folds them in exact decimal. Emits one row per bin plus the
    total PSI repeated (flat relation, oracle-friendly):
    (bin, n_base, n_cur, psi_term, psi_total).

    Reading: PSI < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 act.
    """
    sliced = _slices(events)
    bounds = sliced.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    binned = sliced.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(n_bins - 1),
            F.floor(
                (F.col("value") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / n_bins)
            ).cast("int"),
        ).alias("bin"),
        "is_base",
    )
    counts = binned.groupBy("bin").agg(
        F.count_if(F.col("is_base")).alias("n_base"),
        F.count_if(~F.col("is_base")).alias("n_cur"),
    )
    totals = counts.agg(
        F.sum("n_base").alias("t_base"), F.sum("n_cur").alias("t_cur")
    )
    eps = F.lit(1e-6)
    with_shares = counts.crossJoin(F.broadcast(totals)).select(
        "bin",
        "n_base",
        "n_cur",
        F.greatest(eps, F.col("n_base") / F.col("t_base")).alias("p"),
        F.greatest(eps, F.col("n_cur") / F.col("t_cur")).alias("q"),
    )
    term = F.round(
        (F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p")), 6
    )
    per_bin = with_shares.select("bin", "n_base", "n_cur", term.alias("psi_term"))
    total = per_bin.agg(
        F.sum(F.col("psi_term").cast(_TERM_DEC)).cast("double").alias("psi_total")
    )
    return per_bin.crossJoin(F.broadcast(total))


def ks_test_check(
    events: DataFrame, alpha_c: float = 1.36
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic, baseline vs current
    ``value`` distributions.

    D = max_v |F_base(v) − F_cur(v)| over the merged support, computed
    exactly from cumulative counts: one (value, slice) aggregation,
    then a RANGE-PARTITIONED distributed cumsum over the value order
    (``functions.ranks.range_cumsum`` — no single task ever holds more than its
    range of the distinct-value relation, so a continuous
    high-cardinality metric scales the same as the 2-dp fixture),
    one max. NULL values carry no order and are excluded up front
    (identically in the oracle — Spark sorts NULLs first ascending,
    DuckDB last, so a NULL row would desynchronize the CDFs).
    ``drift`` flags D against the classical large-sample critical
    value c(α)·√((n+m)/(n·m)) with c(0.05) = 1.36 — the boolean the
    oracle pins alongside the exact counts. The n·m product is
    computed in double (ADVICE r8: a BIGINT product overflows
    silently past ~3e9 rows per slice; doubles lose only ulp-level
    precision under a √, identically on both engines).
    Emits 1 row: (n_base, n_cur, d_stat, d_crit, drift).
    """
    sliced = _slices(events).filter(F.col("value").isNotNull())
    per_value = sliced.groupBy("value").agg(
        F.count_if(F.col("is_base")).alias("c_base"),
        F.count_if(~F.col("is_base")).alias("c_cur"),
    )
    cum = range_cumsum(per_value, "value", ["c_base", "c_cur"])
    # totals fold the CHECKPOINTED relation — the corpus-sized
    # aggregation runs exactly once
    totals = cum.agg(
        F.sum("c_base").alias("n_base"), F.sum("c_cur").alias("n_cur")
    )
    cdf = cum.crossJoin(F.broadcast(totals)).select(
        (F.col("cum_c_base") / F.col("n_base")).alias("f_base"),
        (F.col("cum_c_cur") / F.col("n_cur")).alias("f_cur"),
        "n_base",
        "n_cur",
    )
    nb = F.col("n_base").cast("double")
    nc = F.col("n_cur").cast("double")
    d_crit = F.round(F.lit(alpha_c) * F.sqrt((nb + nc) / (nb * nc)), 6)
    return cdf.groupBy("n_base", "n_cur").agg(
        F.round(F.max(F.abs(F.col("f_base") - F.col("f_cur"))), 6).alias(
            "d_stat"
        )
    ).select(
        "n_base",
        "n_cur",
        "d_stat",
        d_crit.alias("d_crit"),
        (F.col("d_stat") > d_crit).alias("drift"),
    )


def mutual_information(events: DataFrame) -> DataFrame:
    """Mutual information between event_type and day-of-week.

    The feature-relevance / leakage-audit measure: MI(X;Y) =
    Σ_xy (n_xy/N)·ln(N·n_xy / (n_x·n_y)). Everything derives from ONE
    (x, y) contingency aggregation — marginals are re-aggregations of
    the contingency relation (O(|X|·|Y|) rows), so the corpus is
    scanned exactly once. Count products inside the log are computed
    in double (ADVICE r8: N·n_xy as BIGINT overflows silently past
    ~3e9 rows, wrapping to a wrong MI while the oracle errors); the
    double rounding is ulp-level under a ln, identical on both
    engines. Per-cell contributions rounded to 6 dp, total folded in
    exact decimal. Emits one row per (event_type, dow) cell plus the
    MI total repeated.
    """
    xy = events.select(
        "event_type", F.dayofweek("ts").alias("dow")
    ).groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("n_xy"))
    nx = xy.groupBy("event_type").agg(F.sum("n_xy").alias("n_x"))
    ny = xy.groupBy("dow").agg(F.sum("n_xy").alias("n_y"))
    n = xy.agg(F.sum("n_xy").alias("n_tot"))
    cells = (
        xy.join(F.broadcast(nx), "event_type")
        .join(F.broadcast(ny), "dow")
        .crossJoin(F.broadcast(n))
    )
    term = F.round(
        (F.col("n_xy") / F.col("n_tot"))
        * F.log(
            (F.col("n_tot").cast("double") * F.col("n_xy"))
            / (F.col("n_x").cast("double") * F.col("n_y"))
        ),
        6,
    )
    per_cell = cells.select(
        "event_type", "dow", "n_xy", term.alias("mi_term")
    )
    total = per_cell.agg(
        F.sum(F.col("mi_term").cast(_TERM_DEC)).cast("double").alias("mi_total")
    )
    return per_cell.crossJoin(F.broadcast(total))


def changepoint_cusum(events: DataFrame, crit: float = 1.358) -> DataFrame:
    """Offline CUSUM changepoint detection over each type's daily series.

    The fourth monitoring statistic beside PSI/KS/MI: for each
    ``event_type``'s daily-count series, the cumulative deviation from
    the series mean C_i = Σ_{j≤i}(x_j − x̄) peaks at the most likely
    level-shift point (Page/Taylor CUSUM); the peak scaled by
    s·√n_days is compared against the Brownian-bridge critical value
    (``crit`` ≈ 1.358 at α = 0.05, the same constant family as
    ``ks_test_check``). Scale shape: ONE corpus-sized hash aggregation
    to (type, day) counts — everything after runs on the time-dim
    relation (days × types rows). Determinism: C_i is computed as
    ``cum_n − i·x̄`` where ``cum_n`` is an exact integer running sum
    and ``x̄`` an exact integer ratio, so no float accumulation order
    exists to disagree on; the sample stddev is rounded to 6 dp before
    use (the ``trend_anomaly`` discipline).

    Emits one row per event_type:
    (event_type, n_days, cp_day, max_dev, cusum_stat, is_change).
    """

    daily = materialize_tiny(
        events.groupBy(
            "event_type", F.date_trunc("DAY", "ts").alias("day")
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        F.sum("n").alias("tot_n"),
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.stddev_samp("n"), 6).alias("sd"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_seq = Window.partitionBy("event_type").orderBy("day")
    dev = (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "day",
            "n_days",
            "sd",
            F.round(
                F.sum("n").over(w_run)
                - F.row_number().over(w_seq)
                * (F.col("tot_n").cast("double") / F.col("n_days")),
                6,
            ).alias("c_dev"),
        )
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.abs("c_dev").desc(), F.col("day").asc()
    )
    picked = (
        dev.withColumn("pick", F.row_number().over(w_pick))
        .filter(F.col("pick") == 1)
        .select(
            "event_type",
            "n_days",
            F.col("day").alias("cp_day"),
            F.round(F.abs("c_dev"), 6).alias("max_dev"),
            F.round(
                F.abs("c_dev")
                / F.nullif(
                    F.col("sd") * F.sqrt(F.col("n_days").cast("double")),
                    F.lit(0.0),
                ),
                6,
            ).alias("cusum_stat"),
        )
    )
    return picked.withColumn(
        "is_change",
        F.coalesce(F.col("cusum_stat") > crit, F.lit(False)),
    )


def autocorr_daily(events: DataFrame, max_lag: int = 3) -> DataFrame:
    """Autocorrelation of the global daily event-count series at lags 1..k.

    The time-series diagnostic a monitoring pipeline runs beside the
    drift statistics: ACF(k) = Σ_t d_t·d_{t+k} / Σ_t d_t² with
    d_t = x_t − x̄ (mean-centred daily counts), paired by CALENDAR
    distance (a day with no events is missing data, not a lag-1
    neighbor of the next observed day). ONE corpus-sized hash
    aggregation to daily counts; the calendar self-join runs on the
    time-dim relation — O(days²) worst case with days bounded by the
    calendar, the same bounded-series argument as the KS merged
    support. Determinism: x̄ is an exact integer ratio, deviations and
    lag-products are rounded to 6 dp, and sums of rounded terms fold
    in exact decimal — order-independent totals on both engines.

    Emits one row per lag: (lag, n_days, acf).
    """

    return _calendar_acf(events, [], max_lag)


def _calendar_acf(events: DataFrame, keys: list[str], max_lag: int) -> DataFrame:
    """(*keys, lag, n_days, acf): the calendar-aware ACF of each
    ``keys`` group's daily-count series (one global series for no
    keys), paired and mean-centred within the group."""
    # daily feeds the moments agg, the numerator stack AND the
    # denominator fold — materialized so the corpus scans once.
    daily = materialize_tiny(
        events.groupBy(*keys, F.date_trunc("DAY", "ts").alias("day")).agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    stats = daily.groupBy(*keys).agg(
        F.sum("n").alias("tot_n"), F.count(F.lit(1)).alias("n_days")
    )
    dev = daily.join(F.broadcast(stats), keys or None).select(
        *keys,
        "day",
        "n_days",
        F.round(
            F.col("n") - F.col("tot_n").cast("double") / F.col("n_days"), 6
        ).alias("d0"),
    )
    # CALENDAR-aware lags: the relation holds only days WITH events, so
    # a row-adjacency lag is wrong both ways across gaps (a weekend
    # hole makes row-lag 1 a 3-day jump AND hides the true 2-day pair
    # sitting at row-lag 1). Pairs come from a calendar self-join on
    # the tiny days relation instead — the available-case ACF
    # estimator over a gapped series. A generated lag spine keeps all
    # ``max_lag`` output rows even when a lag has no aligned pair
    # (acf NULL).
    gap = F.datediff(F.col("c.day"), F.col("p.day"))
    same_series = [F.col(f"c.{k}") == F.col(f"p.{k}") for k in keys]
    nums = (
        dev.alias("c")
        .join(
            F.broadcast(dev.alias("p")),
            reduce(operator.and_, [*same_series, gap >= 1, gap <= max_lag]),
        )
        .groupBy(*[F.col(f"c.{k}").alias(k) for k in keys], gap.alias("lag"))
        .agg(
            F.sum(
                F.round(F.col("c.d0") * F.col("p.d0"), 6).cast(_TERM_DEC)
            ).alias("num_dec")
        )
    )
    spine = stats.select(
        *keys,
        F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
        "n_days",
    )
    den = dev.groupBy(*keys).agg(
        F.sum(
            F.round(F.col("d0") * F.col("d0"), 6).cast(_TERM_DEC)
        ).alias("den_dec")
    )
    return (
        spine.join(nums, [*keys, "lag"], "left")
        .join(F.broadcast(den), keys or None)
        .select(
            *keys,
            "lag",
            "n_days",
            # constant series ⇒ Σd² = 0 ⇒ ACF undefined: NULL on both
            # engines (Spark ANSI raises on /0, DuckDB returns inf —
            # nullif sidesteps both).
            F.round(
                F.col("num_dec").cast("double")
                / F.nullif(F.col("den_dec").cast("double"), F.lit(0.0)),
                6,
            ).alias("acf"),
        )
    )


def seasonal_adjust_dow(events: DataFrame) -> DataFrame:
    """Day-of-week seasonal decomposition of the daily-count series.

    The deseasonalization step before any of the other monitoring
    statistics is trusted (a Sunday dip is weekly rhythm, not drift):
    classical fixed-seasonality adjustment — each day's count minus
    its day-of-week mean plus the global mean — plus the seasonality
    STRENGTH 1 − Var(residual)/Var(deviation) (the Hyndman FPP
    measure, 0 = no weekly pattern, → 1 = purely weekly). ONE
    corpus-sized aggregation to daily counts; the dow means are a
    7-row re-aggregation broadcast back. Means are exact integer
    ratios; residuals/deviations are rounded to 6 dp and their squared
    sums fold in exact decimal, so the variance ratio is
    order-independent on both engines.

    Emits one row per day plus the repeated strength:
    (day, dow, n, dow_mean, adjusted, strength).
    """

    daily = materialize_tiny(
        events.groupBy(
            F.date_trunc("DAY", "ts").alias("day"),
            F.dayofweek("ts").alias("dow"),
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    dow_means = daily.groupBy("dow").agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("dow_mean")
    )
    glob = daily.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("g_mean")
    )
    scored = materialize_tiny(
        daily.join(F.broadcast(dow_means), "dow")
        .crossJoin(F.broadcast(glob))
        .select(
            "day",
            "dow",
            "n",
            F.round("dow_mean", 6).alias("dow_mean"),
            F.round(F.col("n") - F.col("dow_mean") + F.col("g_mean"), 6).alias(
                "adjusted"
            ),
            F.round(F.col("n") - F.col("dow_mean"), 6).alias("resid"),
            F.round(F.col("n") - F.col("g_mean"), 6).alias("dev"),
        )
    )
    strength = scored.agg(
        F.round(
            F.lit(1.0)
            - F.sum(F.round(F.col("resid") * F.col("resid"), 6).cast(_TERM_DEC))
            .cast("double")
            / F.nullif(
                F.sum(
                    F.round(F.col("dev") * F.col("dev"), 6).cast(_TERM_DEC)
                ).cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("strength")
    )
    return scored.select(
        "day", "dow", "n", "dow_mean", "adjusted"
    ).crossJoin(F.broadcast(strength))


def _avgrank2():
    """Doubled average rank of a distinct value, 2·cum_before + n_v + 1:
    exact in integers where the average rank steps by ½; cum_before is
    the inclusive cumsum ``cum_n_v`` minus the value's own tie count."""
    return (2 * (F.col("cum_n_v") - F.col("n_v")) + F.col("n_v") + 1).alias(
        "avgrank2"
    )


def _tie_sum():
    """Tie correction Σ(t³−t) over the distinct-value tie counts
    ``n_v``, folded exactly in DECIMAL(12,0)³."""
    n_v = F.col("n_v")
    return F.sum(
        n_v.cast("decimal(12,0)")
        * n_v.cast("decimal(12,0)")
        * n_v.cast("decimal(12,0)")
        - n_v.cast("decimal(38,0)")
    ).alias("tie_sum")


def _rank_sum2(count: str):
    """Σ count·avgrank2, folded in DECIMAL(38,0) (a BIGINT product
    overflows silently past ~3e9 rows)."""
    return F.sum(
        (
            F.col(count).cast("decimal(19,0)")
            * F.col("avgrank2").cast("decimal(19,0)")
        ).cast("decimal(38,0)")
    )


def _group_rank_sums(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Global average ranks of the non-NULL ``value`` and the per-type
    doubled rank sums: (value, n_v, avgrank2) and (event_type, n_g,
    rank_sum2). ONE (value, type) hash aggregation, then the
    range-partitioned cumsum over the distinct-value relation — never
    per-row ranks, no unpartitioned window."""
    per_vt = (
        events.filter(F.col("value").isNotNull())
        .groupBy("value", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_value = per_vt.groupBy("value").agg(F.sum("c").alias("n_v"))
    cum = range_cumsum(per_value, "value", ["n_v"])
    ranked = cum.select("value", "n_v", _avgrank2())
    groups = (
        per_vt.join(ranked, "value")
        .groupBy("event_type")
        .agg(F.sum("c").alias("n_g"), _rank_sum2("c").alias("rank_sum2"))
    )
    return ranked, groups


def mann_whitney_u(events: DataFrame, z_crit: float = 1.96) -> DataFrame:
    """Mann–Whitney U rank-sum test of ``value``, baseline vs current.

    The nonparametric location test beside ``ks_test_check`` (KS asks
    "same distribution?", U asks "does one slice tend larger?") — the
    robust A/B readout when means are skew-fragile. Rank sums come from
    the per-VALUE relation, never per-row ranks: avgrank(v) =
    cum_before(v) + (n_v + 1)/2, computed by the RANGE-PARTITIONED
    distributed cumsum (``functions.ranks.range_cumsum`` — no unpartitioned window,
    so a continuous high-cardinality metric scales the same as the
    2-dp fixture), and the corpus collapses in ONE (value, slice)
    hash aggregation. NULL values carry no rank and are excluded up
    front, identically in the oracle (Spark sorts NULLs first
    ascending, DuckDB last — the bootstrap_ci_mean NULL-ordering
    hazard, ADVICE r10). Determinism: doubled
    average ranks (2·cum + n_v + 1) are exact BIGINTs; the rank-sum
    folds their products in DECIMAL(38,0) (a BIGINT product overflows
    silently past ~3e9 rows — the ADVICE-r8 ks_test lesson, solved
    here with decimal instead of double because rank sums are O(N²));
    the tie correction Σ(t³−t) folds the same way via DECIMAL(12,0)³.
    The z-score (large-sample normal approximation with tie
    correction, no continuity correction — documented convention) is
    assembled from those exact totals in double, rounded 6 dp.

    Emits 1 row: (n_base, n_cur, u_stat, mu_u, sigma_u, z_score,
    significant).
    """
    sliced = _slices(events).filter(F.col("value").isNotNull())
    per_value = sliced.groupBy("value").agg(
        F.count_if(F.col("is_base")).alias("c_base"),
        F.count_if(~F.col("is_base")).alias("c_cur"),
    )
    n_v = F.col("c_base") + F.col("c_cur")
    cum = range_cumsum(
        per_value.select("value", "c_base", "c_cur", n_v.alias("n_v")),
        "value",
        ["n_v"],
    )
    ranked = cum.select("c_base", "c_cur", "n_v", _avgrank2())
    totals = ranked.agg(
        F.sum("c_base").alias("n_base"),
        F.sum("c_cur").alias("n_cur"),
        _rank_sum2("c_base").alias("r2_base"),
        _tie_sum(),
    )
    n1 = F.col("n_base").cast("double")
    n2 = F.col("n_cur").cast("double")
    n_tot = n1 + n2
    # U = R_base − n1(n1+1)/2, assembled from the exact doubled sum
    u = F.col("r2_base").cast("double") / 2.0 - n1 * (n1 + 1) / 2.0
    mu = n1 * n2 / 2.0
    # tie-corrected variance; NULL σ (one slice empty / all values
    # tied) ⇒ NULL z, not significant — the ab_test_welch discipline.
    sigma = F.sqrt(
        F.nullif(
            (n1 * n2 / 12.0)
            * (
                (n_tot + 1)
                - F.col("tie_sum").cast("double")
                / (n_tot * (n_tot - 1))
            ),
            F.lit(0.0),
        )
    )
    z = F.round((u - mu) / sigma, 6)
    return totals.select(
        "n_base",
        "n_cur",
        F.round(u, 6).alias("u_stat"),
        F.round(mu, 6).alias("mu_u"),
        F.round(sigma, 6).alias("sigma_u"),
        z.alias("z_score"),
        F.coalesce(F.abs(z) > z_crit, F.lit(False)).alias("significant"),
    )


#: χ²(0.95, df) critical values for df = 1..7 — the Ljung–Box reject
#: thresholds when some calendar lags have no aligned pair.
_CHI2_95 = [3.841459, 5.991465, 7.814728, 9.487729, 11.070498, 12.591587, 14.067140]


def ljung_box_check(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Ljung–Box portmanteau test for autocorrelation in daily counts.

    The "is this series white noise?" gate that decides whether the
    trend/forecast operators have signal to model: Q = n(n+2)·Σ_{k≤h}
    ρ_k²/(n−k) against χ²(0.95, h). Built directly on
    ``autocorr_daily``'s calendar-aware ACF relation — no new corpus
    scan; lags with no aligned calendar pair contribute nothing and
    the χ² df shrinks to the number of contributing lags (lookup
    literals, identical on both engines). Per-lag terms are rounded to
    6 dp and fold in exact decimal, so Q is order-independent.

    Emits one row per lag with the verdict columns repeated:
    (lag, n_days, acf, q_term, q_stat, df_used, chi2_crit, reject).
    """
    acf = autocorr_daily(events, max_lag=max_lag)
    q_term = F.round(
        F.col("acf")
        * F.col("acf")
        / F.nullif((F.col("n_days") - F.col("lag")).cast("double"), F.lit(0.0)),
        6,
    )
    # persisted: referenced by the verdict aggregation AND the output
    # crossJoin — unpersisted, the whole calendar-ACF machinery ran
    # twice (42 jobs / 61 stages measured at sf0.1; round-12, guide §2.4)
    per_lag = materialize_tiny(
        acf.select("lag", "n_days", "acf", q_term.alias("q_term"))
    )
    crit = F.lit(None).cast("double")
    for df_used, c in enumerate(_CHI2_95, start=1):
        crit = F.when(F.col("df_used") == df_used, F.lit(c)).otherwise(crit)
    verdict = per_lag.agg(
        F.sum(F.col("q_term").cast(_TERM_DEC)).alias("q_dec"),
        F.count("q_term").alias("df_used"),
        F.max("n_days").alias("n_days_v"),
    ).select(
        F.round(
            F.col("n_days_v")
            * (F.col("n_days_v") + 2).cast("double")
            * F.col("q_dec").cast("double"),
            6,
        ).alias("q_stat"),
        "df_used",
    ).select(
        "q_stat",
        "df_used",
        crit.alias("chi2_crit"),
        F.coalesce(
            F.col("q_stat") > crit, F.lit(False)
        ).alias("reject"),
    )
    return per_lag.crossJoin(F.broadcast(verdict))


def _phi_upper_tail(z):
    """Two-sided normal p-value 2·(1−Φ(|z|)) — A&S 26.2.17.

    Round 12: promoted to ``functions.stats.phi_upper_tail`` so the
    trend module's Mann–Kendall gate shares it without a cross-operator
    import; this name stays as the in-module alias every existing
    drift consumer already binds.
    """
    from big_data_trend_analysis_spark.functions.stats import phi_upper_tail

    return phi_upper_tail(z)


def _welch_sides(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """(*keys, n, mean, var) of the 2-dp measure ``value`` per group:
    Σx folds in decimal(18,2) and Σx² in decimal(38,4) — both EXACT,
    order-independent — and the variance comes from the moment
    identity (Σx² − (Σx)²/n)/(n−1) on doubles cast from those exact
    decimals, rounded 6 dp like the mean."""
    x = F.col(value).cast("decimal(18,2)")
    moments = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(38,4)")).cast("double").alias("sxx"),
    )
    mean = F.round(F.col("sx") / F.col("n"), 6)
    # nullif guard: a 1-row group has no sample variance — NULL on both
    # engines instead of a Spark-ANSI /0 error vs a DuckDB inf.
    var = F.round(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        / F.nullif((F.col("n") - 1).cast("double"), F.lit(0.0)),
        6,
    )
    return moments.select(*keys, "n", mean.alias("mean"), var.alias("var"))


def _bh_step_up(tested: DataFrame, tie_cols: list[str], q_fdr: float) -> DataFrame:
    """``tested`` plus (m_tests, p_rank, p_adj, reject): the
    Benjamini–Hochberg step-up over its ``p_value`` column. p ranks
    ascending (ties by ``tie_cols``), p_adj(i) = min_{j≥i} p(j)·m/j
    capped at 1 — the running minimum is a window from the large-rank
    side."""
    m = tested.agg(F.count("p_value").alias("m_tests"))
    w_rank = Window.orderBy(
        F.col("p_value").asc(), *[F.col(c).asc() for c in tie_cols]
    )
    w_min = Window.orderBy(F.col("p_rank").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        tested.crossJoin(F.broadcast(m))
        .select(
            "*",
            F.row_number().over(w_rank).alias("p_rank"),
        )
        .select(
            "*",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.min(
                        F.col("p_value") * F.col("m_tests") / F.col("p_rank")
                    ).over(w_min),
                ),
                6,
            ).alias("p_adj"),
        )
        .withColumn("reject", F.col("p_adj") <= q_fdr)
    )


def benjamini_hochberg(
    events: DataFrame, q_fdr: float = 0.10
) -> DataFrame:
    """Per-type Welch tests with Benjamini–Hochberg FDR correction.

    The multiple-testing layer over the experimentation tier: ONE
    (event_type, slice) moment aggregation yields a Welch z per
    event_type (baseline vs current mean ``value`` — the
    ``ab_test_welch`` algebra at monitoring scale), p-values come from
    the normal tail (A&S 26.2.17 — rounded 6 dp on both engines), and
    BH adjusts them: rank p ascending, p_adj(i) = min_{j≥i} p(j)·m/j
    capped at 1 — the step-up running minimum is a window from the
    large-rank side. Types with a degenerate cohort (NULL z) are
    excluded from m and reported with NULL p/rank/reject — testing
    noise must not count against the FDR budget. Scale shape:
    everything after the first aggregation runs on the |types|-sized
    relation. Ties in p rank deterministically by event_type.

    Emits one row per event_type:
    (event_type, n_base, n_cur, z_score, p_value, p_rank, m_tests,
    p_adj, reject).
    """

    sides = _welch_sides(_slices(events), ["event_type", "is_base"], "value")
    a = sides.filter(F.col("is_base")).select(
        "event_type",
        F.col("n").alias("n_base"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = sides.filter(~F.col("is_base")).select(
        "event_type",
        F.col("n").alias("n_cur"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    va_n = F.col("var_a") / F.col("n_base")
    vb_n = F.col("var_b") / F.col("n_cur")
    z = F.round(
        (F.col("mean_a") - F.col("mean_b"))
        / F.nullif(F.sqrt(va_n + vb_n), F.lit(0.0)),
        6,
    )
    # tested feeds the m-count AND the ranked window — materialized so
    # the corpus-sized moment aggregation runs once.
    tested = materialize_tiny(
        a.join(b, "event_type", "full").select(
            "event_type",
            "n_base",
            "n_cur",
            z.alias("z_score"),
            F.round(_phi_upper_tail(z), 6).alias("p_value"),
        )
    )
    ranked = _bh_step_up(
        tested.filter(F.col("p_value").isNotNull()), ["event_type"], q_fdr
    ).select(
        "event_type",
        "n_base",
        "n_cur",
        "z_score",
        "p_value",
        "p_rank",
        "m_tests",
        "p_adj",
        "reject",
    )
    # The m-count is over every tested type, so a degenerate row reads
    # 0 when no type has a p-value.
    degenerate = (
        tested.filter(F.col("p_value").isNull())
        .crossJoin(F.broadcast(tested.agg(F.count("p_value").alias("m_tests"))))
        .select(
            "event_type",
            "n_base",
            "n_cur",
            "z_score",
            "p_value",
            F.lit(None).cast("int").alias("p_rank"),
            "m_tests",
            F.lit(None).cast("double").alias("p_adj"),
            F.lit(False).alias("reject"),
        )
    )
    return ranked.unionByName(degenerate)


def ab_test_welch(
    lineitem: DataFrame,
) -> DataFrame:
    """Welch's two-sample t-test between return-flag cohorts.

    The experimentation primitive beside the monitoring statistics: is
    the mean ``l_extendedprice`` of the returned cohort ('R')
    different from the not-returned cohort ('N')? Welch's form (no
    equal-variance assumption) with the Welch–Satterthwaite df, the
    standard A/B readout. Scale shape: ONE hash aggregation collapses
    the corpus to two moment rows (n, Σx, Σx²) — every statistic
    derives from those six numbers. Determinism: the measure is 2-dp,
    so Σx folds in decimal(18,2) and Σx² in decimal(38,4) — both
    EXACT, order-independent — and the variance comes from the moment
    identity (Σx² − (Σx)²/n)/(n−1) on doubles cast from those exact
    decimals, rounded 6 dp before the t/df arithmetic.

    The significance gate is the Student-t critical value at the
    Welch df (``functions/stats.t_crit_975`` — the Cornish–Fisher
    polynomial both engines evaluate bit-identically), not a fixed
    normal 1.96: at small cohort sizes the normal gate is
    anti-conservative, exactly where A/B readouts are most abused.

    Emits 1 row: (n_a, n_b, mean_a, mean_b, var_a, var_b, t_stat,
    df_welch, t_crit, significant).
    """
    from big_data_trend_analysis_spark.functions.stats import t_crit_975

    # sides feeds BOTH cohort branches of the crossJoin — materialized
    # so the corpus collapses in one aggregation, not once per branch.
    sides = materialize_tiny(
        _welch_sides(
            lineitem.filter(F.col("l_returnflag").isin("R", "N")),
            ["l_returnflag"],
            "l_extendedprice",
        )
    )
    a = sides.filter(F.col("l_returnflag") == "R").select(
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = sides.filter(F.col("l_returnflag") == "N").select(
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    va_n = F.col("var_a") / F.col("n_a")
    vb_n = F.col("var_b") / F.col("n_b")
    # nullif: two constant cohorts make the standard error 0 — NULL t
    # on both engines instead of a Spark-ANSI /0 error vs a DuckDB inf.
    t = F.round(
        (F.col("mean_a") - F.col("mean_b"))
        / F.nullif(F.sqrt(va_n + vb_n), F.lit(0.0)),
        6,
    )
    df = F.round(
        (va_n + vb_n) * (va_n + vb_n)
        / F.nullif(
            va_n * va_n / (F.col("n_a") - 1)
            + vb_n * vb_n / (F.col("n_b") - 1),
            F.lit(0.0),
        ),
        6,
    )
    tc = t_crit_975(df)
    return a.crossJoin(F.broadcast(b)).select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "var_a",
        "var_b",
        t.alias("t_stat"),
        df.alias("df_welch"),
        tc.alias("t_crit"),
        # degenerate cohorts (NULL t or NULL df) are NOT significant —
        # the changepoint_cusum / trend_anomaly flag discipline.
        F.coalesce(F.abs(t) > tc, F.lit(False)).alias("significant"),
    )


def kruskal_wallis(events: DataFrame) -> DataFrame:
    """Kruskal–Wallis H test: does ``value`` differ across event types?

    The k-group extension of ``mann_whitney_u`` (the one-way ANOVA of
    the rank world — robust to the skew that invalidates the F test):
    all values rank GLOBALLY (average ranks for ties), then

        H = 12/(N(N+1)) · Σ_g n_g·(R̄_g − (N+1)/2)² ,

    tie-corrected by dividing through 1 − Σ(t³−t)/(N³−N), flagged
    against χ²(0.95, k−1). Scale shape is the ``mann_whitney_u``
    layout extended per group: ONE (value, type) hash aggregation,
    the RANGE-PARTITIONED cumsum over the distinct-value relation
    (never per-row ranks, no unpartitioned window), doubled average
    ranks as exact BIGINTs, per-group rank sums folding in
    DECIMAL(38,0). NULL values carry no rank and are excluded up
    front on both engines.

    Emits one row per group with the verdict repeated:
    (event_type, n_g, rank_sum2, h_stat, df_used, chi2_crit, reject).
    """
    ranked, groups = _group_rank_sums(events)
    totals = ranked.agg(
        F.sum("n_v").alias("n_tot"),
        _tie_sum(),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    n = F.col("n_tot").cast("double")
    # R̄_g − (N+1)/2 from the doubled rank sum: rank_sum2/(2·n_g) − (N+1)/2
    dev = F.col("rank_sum2").cast("double") / (
        2.0 * F.col("n_g")
    ) - (n + 1) / 2.0
    # per-group terms round to 6 dp and fold in exact decimal so H is
    # group-order-independent (the psi_drift/_TERM_DEC discipline);
    # DECIMAL(38,6), not 18: n_g·dev² reaches ~1e16 at sf0.1 already
    term = F.round(F.col("n_g") * dev * dev, 6).cast("decimal(38,6)")
    # persisted: referenced by the H aggregation AND the output
    # projection — unpersisted, the rank/cumsum machinery ran twice
    # (22 jobs / 45 stages measured at sf0.1; round-12, guide §2.4)
    h_raw = materialize_tiny(
        groups.crossJoin(F.broadcast(totals))
        .select(
            "event_type",
            "n_g",
            "rank_sum2",
            "n_tot",
            "tie_sum",
            term.alias("term"),
        )
    )
    agg = h_raw.groupBy("n_tot", "tie_sum").agg(
        F.sum("term").cast("double").alias("sum_terms"),
        F.count(F.lit(1)).alias("k_groups"),
    )
    tie_div = 1.0 - F.col("tie_sum").cast("double") / (
        n * n * n - n
    )
    h = F.round(
        (12.0 / (n * (n + 1)) * F.col("sum_terms"))
        / F.nullif(tie_div, F.lit(0.0)),
        6,
    )
    crit = F.lit(None).cast("double")
    for df_used, c in enumerate(_CHI2_95, start=1):
        crit = F.when(F.col("k_groups") - 1 == df_used, F.lit(c)).otherwise(
            crit
        )
    verdict = agg.select(
        h.alias("h_stat"),
        (F.col("k_groups") - 1).cast("int").alias("df_used"),
        crit.alias("chi2_crit"),
        F.coalesce(h > crit, F.lit(False)).alias("reject"),
    )
    return (
        h_raw.select("event_type", "n_g", F.col("rank_sum2").cast("double").alias("rank_sum"))
        .crossJoin(F.broadcast(verdict))
    )


def proportions_ztest(
    events: DataFrame, threshold: float = 5.0
) -> DataFrame:
    """Two-proportion z-test: did the rate of high-value events
    (``value`` ≥ ``threshold``) shift between the baseline and current
    slices?

    The conversion-rate member of the experimentation family
    (``ab_test_welch`` compares means; product metrics are usually
    RATES): pooled-variance two-proportion z with the exact-count
    proportions, two-sided p from the A&S 26.2.17 normal tail (the
    ``benjamini_hochberg`` discipline — exp-only, identical on both
    engines, rounded 6 dp). The z gate stays the NORMAL 1.96: unlike
    Welch, the two-proportion test is exactly asymptotically normal
    (no df correction exists to apply). One hash aggregation collapses
    the corpus to two (n, conversions) rows; everything else is
    scalar algebra.

    Emits 1 row: (n_base, n_cur, conv_base, conv_cur, p_base, p_cur,
    z_score, p_value, significant).
    """
    sliced = _slices(events)
    agg = sliced.agg(
        F.count_if(F.col("is_base")).alias("n_base"),
        F.count_if(~F.col("is_base")).alias("n_cur"),
        F.count_if(
            F.col("is_base") & (F.col("value") >= threshold)
        ).alias("conv_base"),
        F.count_if(
            ~F.col("is_base") & (F.col("value") >= threshold)
        ).alias("conv_cur"),
    )
    n1 = F.col("n_base").cast("double")
    n2 = F.col("n_cur").cast("double")
    p1 = F.round(F.col("conv_base") / F.nullif(n1, F.lit(0.0)), 6)
    p2 = F.round(F.col("conv_cur") / F.nullif(n2, F.lit(0.0)), 6)
    pp = (F.col("conv_base") + F.col("conv_cur")) / F.nullif(
        n1 + n2, F.lit(0.0)
    )
    se = F.sqrt(
        F.nullif(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2), F.lit(0.0))
    )
    z = F.round((p1 - p2) / se, 6)
    p_val = F.round(_phi_upper_tail(z), 6)
    return agg.select(
        "n_base",
        "n_cur",
        "conv_base",
        "conv_cur",
        p1.alias("p_base"),
        p2.alias("p_cur"),
        z.alias("z_score"),
        p_val.alias("p_value"),
        F.coalesce(F.abs(z) > 1.96, F.lit(False)).alias("significant"),
    )


def spearman_daily_corr(events: DataFrame) -> DataFrame:
    """Spearman rank correlation between every pair of event types'
    daily-count series.

    The co-movement monitor (do two product surfaces trend together?)
    robust to the heavy tails that distort Pearson: each type's daily
    counts rank WITHIN the type (average ranks for ties, doubled to
    exact integers — the ``mann_whitney_u`` device), series align on
    the shared day, and ρ is Pearson on the doubled ranks via exact
    sufficient statistics (Σa, Σb, Σab, Σa², Σb² as DECIMAL(38,0)
    folds — scaling both ranks by 2 cancels in ρ). Per-type windows
    are PARTITIONED by type (state = days-per-series, the bounded
    calendar, never corpus rows); the pair join is day-aligned with
    type_a < type_b, bounded by |types|²·days.

    Emits per pair: (type_a, type_b, n_days, rho).
    """
    daily = events.groupBy(
        "event_type",
        F.to_date(F.date_trunc("DAY", "ts")).alias("day"),
    ).agg(F.count(F.lit(1)).alias("y"))
    per_val = daily.groupBy("event_type", "y").agg(
        F.count(F.lit(1)).alias("n_v")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked_vals = per_val.select(
        "event_type",
        "y",
        (
            2 * F.coalesce(F.sum("n_v").over(w), F.lit(0))
            + F.col("n_v")
            + 1
        ).alias("r2"),
    )
    ranked = daily.join(ranked_vals, ["event_type", "y"]).select(
        "event_type", "day", F.col("r2").cast("decimal(19,0)").alias("r2")
    )
    a = ranked.select(
        F.col("event_type").alias("type_a"),
        "day",
        F.col("r2").alias("ra"),
    )
    b = ranked.select(
        F.col("event_type").alias("type_b"),
        "day",
        F.col("r2").alias("rb"),
    )
    pairs = a.join(b, "day").filter(F.col("type_a") < F.col("type_b"))
    stats = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("ra").cast("decimal(38,0)").alias("sa"),
        F.sum("rb").cast("decimal(38,0)").alias("sb"),
        F.sum(
            (F.col("ra") * F.col("rb")).cast("decimal(38,0)")
        ).alias("sab"),
        F.sum(
            (F.col("ra") * F.col("ra")).cast("decimal(38,0)")
        ).alias("saa"),
        F.sum(
            (F.col("rb") * F.col("rb")).cast("decimal(38,0)")
        ).alias("sbb"),
    )
    n = F.col("n_days").cast("double")
    num = n * F.col("sab").cast("double") - F.col("sa").cast(
        "double"
    ) * F.col("sb").cast("double")
    den = F.sqrt(
        F.nullif(
            (
                n * F.col("saa").cast("double")
                - F.col("sa").cast("double") * F.col("sa").cast("double")
            )
            * (
                n * F.col("sbb").cast("double")
                - F.col("sb").cast("double") * F.col("sb").cast("double")
            ),
            F.lit(0.0),
        )
    )
    return stats.select(
        "type_a",
        "type_b",
        "n_days",
        F.round(num / den, 6).alias("rho"),
    )


def page_hinkley(
    events: DataFrame, delta: float = 0.0, lam: float = 100.0
) -> DataFrame:
    """Page–Hinkley sequential mean-shift detector over daily counts.

    The ONLINE cousin of ``changepoint_cusum`` (CUSUM scans the whole
    series offline; Page–Hinkley maintains a running statistic a
    monitor can evaluate at every step): per type, with the running
    mean x̄_t over the first t days,

        m_t = Σ_{i≤t} (x_i − x̄_i − δ),   PH_t = m_t − min_{i≤t} m_i,

    alarm when PH_t > λ. Every piece is a cumulative window over the
    per-type DAILY relation (state = days-per-series, bounded by the
    calendar): running sum → running mean → per-step term (rounded
    6 dp, folded in exact decimal so m_t is order-independent) →
    running min. Emits per (event_type, day): (y, ph_stat, alarm).
    """
    daily = events.groupBy(
        "event_type",
        F.to_date(F.date_trunc("DAY", "ts")).alias("day"),
    ).agg(F.count(F.lit(1)).alias("y"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_mean = daily.select(
        "event_type",
        "day",
        "y",
        (
            F.sum("y").over(w).cast("double")
            / F.row_number().over(
                Window.partitionBy("event_type").orderBy("day")
            )
        ).alias("run_mean"),
    )
    term = F.round(
        F.col("y").cast("double") - F.col("run_mean") - F.lit(delta), 6
    ).cast("decimal(18,6)")
    with_m = with_mean.select(
        "event_type",
        "day",
        "y",
        F.sum(term).over(w).alias("m_t"),
    )
    ph = F.round(
        (
            F.col("m_t") - F.min("m_t").over(w)
        ).cast("double"),
        6,
    )
    return with_m.select(
        "event_type",
        "day",
        "y",
        ph.alias("ph_stat"),
        F.coalesce(ph > F.lit(lam), F.lit(False)).alias("alarm"),
    )


def permutation_test_mean(
    events: DataFrame, n_perm: int = 100, seed: int = 23
) -> DataFrame:
    """Deterministic randomization test for the base-vs-current mean
    difference of ``value``.

    The distribution-free companion to ``ab_test_welch`` (no normality
    assumption at all) and the resampling sibling of
    ``bootstrap_ci_mean``: under H₀ the slice labels are exchangeable,
    so re-label rows ``n_perm`` times and ask how often the permuted
    |mean difference| reaches the observed one. Exact permutation
    fixes the group sizes — a shuffle no distributed engine replays
    deterministically — so this runs the standard large-N Monte Carlo
    RANDOMIZATION form: each row joins pseudo-base in replicate b with
    probability n_base/N, decided by the portable md5 bucket (the
    ``bootstrap_ci_mean`` hash-once/slice-8 layout: one digest per
    ⌈B/8⌉ group, eight 16-bit lanes as conditional aggregates, the
    whole corpus collapsing map-side to O(B) cells). Replicates that
    draw an empty side have no mean difference and are excluded; the
    p-value is the add-one estimator (1 + #extreme)/(1 + m) over the
    m surviving replicates (the bootstrap surviving-count discipline).

    Emits 1 row: (n_base, n_cur, diff_obs, n_perms, n_extreme,
    p_value).
    """
    cut = F.lit(SNAPSHOT_CUT).cast("timestamp")
    sliced = events.select(
        "event_id",
        F.col("value").cast("decimal(18,2)").alias("v"),
        (F.col("ts") < cut).alias("is_base"),
    )
    tot = sliced.agg(
        F.count_if(F.col("is_base")).alias("n_base"),
        F.count_if(~F.col("is_base")).alias("n_cur"),
        F.sum("v").alias("s_tot"),
        F.sum(
            F.when(F.col("is_base"), F.col("v")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias("s_base"),
    ).withColumn(
        # Bernoulli threshold at the 16-bit grain, exact integer math
        "thr",
        F.expr("(65536 * n_base) div (n_base + n_cur)"),
    ).withColumn(
        # fixed-width lowercase hex compares lexicographically ==
        # numerically (the bootstrap_ci_mean trick), so the per-lane
        # assignment is ONE string compare instead of a radix parse —
        # measured: conv() per lane cost the corpus×13 fan ~30%.
        # least(…, 65535) only binds when one slice is empty, where
        # every replicate is excluded anyway.
        "thr_hex",
        F.format_string("%04x", F.least(F.col("thr"), F.lit(65535))),
    )
    n_groups = -(-n_perm // 8)
    # Same hot-path layout as bootstrap_ci_mean: the ×⌈B/8⌉ md5 fan
    # runs inside the scan stage, so widen a narrower-than-cores base
    # before fanning (no-op at scale; shuffles the 3-column slice,
    # never the fanned rows — the decontaminate_ngram precedent).
    sc = sliced.sparkSession.sparkContext
    fan_base = sliced
    if fan_base.rdd.getNumPartitions() < sc.defaultParallelism:
        fan_base = fan_base.repartition(sc.defaultParallelism)
    grouped = (
        fan_base.select(
            "v",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_groups - 1))
            ).alias("bhi"),
            "event_id",
        )
        .withColumn(
            "h",
            F.md5(
                F.concat_ws(
                    ":", F.col("event_id"), F.col("bhi"), F.lit(seed)
                )
            ),
        )
        .crossJoin(F.broadcast(tot.select("thr_hex")))
    )
    agg_cols = []
    for i in range(8):
        a = (
            F.substring(F.col("h"), i * 4 + 1, 4) < F.col("thr_hex")
        ).cast("int")
        agg_cols.append(F.sum(F.col("v") * a).alias(f"sv{i}"))
        agg_cols.append(F.sum(a.cast("long")).alias(f"sn{i}"))
    per_group = grouped.groupBy("bhi").agg(*agg_cols)
    stack = ", ".join(f"{i}, sv{i}, sn{i}" for i in range(8))
    reps = (
        per_group.select(
            "bhi", F.expr(f"stack(8, {stack}) AS (blo, sv, sn)")
        )
        .filter(F.col("bhi") * 8 + F.col("blo") < n_perm)
        .crossJoin(F.broadcast(tot))
        .filter(
            (F.col("sn") > 0)
            & (F.col("sn") < F.col("n_base") + F.col("n_cur"))
        )
        .select(
            F.round(
                F.coalesce(F.col("sv"), F.lit(0).cast("decimal(18,2)"))
                .cast("double")
                / F.col("sn")
                - (
                    F.col("s_tot")
                    - F.coalesce(
                        F.col("sv"), F.lit(0).cast("decimal(18,2)")
                    )
                ).cast("double")
                / (F.col("n_base") + F.col("n_cur") - F.col("sn")),
                6,
            ).alias("diff_p")
        )
    )
    obs = tot.select(
        "n_base",
        "n_cur",
        F.round(
            F.col("s_base").cast("double") / F.nullif(
                F.col("n_base").cast("double"), F.lit(0.0)
            )
            - (F.col("s_tot") - F.col("s_base")).cast("double")
            / F.nullif(F.col("n_cur").cast("double"), F.lit(0.0)),
            6,
        ).alias("diff_obs"),
    )
    verdict = reps.crossJoin(F.broadcast(obs)).agg(
        F.count(F.lit(1)).alias("n_perms"),
        F.count_if(
            F.abs(F.col("diff_p")) >= F.abs(F.col("diff_obs"))
        ).alias("n_extreme"),
    )
    return obs.crossJoin(F.broadcast(verdict)).select(
        "n_base",
        "n_cur",
        "diff_obs",
        "n_perms",
        "n_extreme",
        F.round(
            (1 + F.col("n_extreme"))
            / (1 + F.col("n_perms")).cast("double"),
            6,
        ).alias("p_value"),
    )


def cuped_adjusted_ab(events: DataFrame) -> DataFrame:
    """CUPED variance-reduced A/B readout over per-user value sums.

    The modern experimentation staple (Deng et al., WSDM'13): each
    user's PRE-period metric X (value sum before the snapshot cut)
    predicts their post-period metric Y; regressing it out —
    Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X) pooled across arms —
    shrinks the metric variance by corr² without biasing the treatment
    contrast. Arms are the deterministic ``user_id % 2`` split. Scale
    shape: ONE user-keyed aggregation builds (x, y) in exact decimal,
    one arm-keyed aggregation folds the five sufficient statistics
    (Σx, Σy, Σxy, Σx², Σy² — products exact in DECIMAL(38,4)), and θ
    plus every arm readout is scalar algebra on doubles cast from
    those exact decimals, rounded 6 dp. A constant-X corpus has no
    covariate signal: θ is NULL and the CUPED columns stay NULL (the
    ab_test_welch degenerate discipline).

    Emits per arm: (arm, n_users, mean_y, var_y, theta, mean_y_cuped,
    var_y_cuped, var_reduction_pct).
    """
    cut = F.lit(SNAPSHOT_CUT).cast("timestamp")
    vd = F.col("value").cast("decimal(18,2)")
    per_user = events.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, vd).otherwise(
            F.lit(0).cast("decimal(18,2)")
        )).alias("x"),
        F.sum(F.when(F.col("ts") >= cut, vd).otherwise(
            F.lit(0).cast("decimal(18,2)")
        )).alias("y"),
        (F.col("user_id") % 2).cast("int").alias("arm"),
    )
    arm_stats = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,4)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,4)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,4)")).alias("syy"),
    )
    pooled = arm_stats.agg(
        F.sum("n_users").alias("n"),
        F.sum("sx").alias("psx"),
        F.sum("sy").alias("psy"),
        F.sum("sxy").alias("psxy"),
        F.sum("sxx").alias("psxx"),
    )
    n = F.col("n").cast("double")
    theta = F.round(
        (F.col("psxy").cast("double")
         - F.col("psx").cast("double") * F.col("psy").cast("double") / n)
        / F.nullif(
            F.col("psxx").cast("double")
            - F.col("psx").cast("double") * F.col("psx").cast("double") / n,
            F.lit(0.0),
        ),
        6,
    )
    xbar = F.round(F.col("psx").cast("double") / n, 6)
    scal = pooled.select(theta.alias("theta"), xbar.alias("xbar"))
    na = F.col("n_users").cast("double")
    mean_y = F.round(F.col("sy").cast("double") / na, 6)
    mean_x = F.col("sx").cast("double") / na
    var_y = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double") / na
    ) / F.nullif(na - 1, F.lit(0.0))
    cov_a = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / na
    ) / F.nullif(na - 1, F.lit(0.0))
    var_x = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double") / na
    ) / F.nullif(na - 1, F.lit(0.0))
    var_y_c = var_y - 2 * F.col("theta") * cov_a + F.col(
        "theta"
    ) * F.col("theta") * var_x
    return arm_stats.crossJoin(F.broadcast(scal)).select(
        "arm",
        "n_users",
        mean_y.alias("mean_y"),
        F.round(var_y, 6).alias("var_y"),
        "theta",
        F.round(
            mean_y - F.col("theta") * (mean_x - F.col("xbar")), 6
        ).alias("mean_y_cuped"),
        F.round(var_y_c, 6).alias("var_y_cuped"),
        F.round(
            100.0 * (1.0 - var_y_c / F.nullif(var_y, F.lit(0.0))), 6
        ).alias("var_reduction_pct"),
    )


def mcnemar_test(
    events: DataFrame, threshold: float = 7.0
) -> DataFrame:
    """McNemar's test for PAIRED proportion change: per user, did the
    high-value behavior (any event with ``value`` ≥ ``threshold``)
    flip between the baseline and current periods?

    The paired companion to ``proportions_ztest`` (unpaired z treats
    the slices as independent samples; when the SAME users appear in
    both periods the discordant-pair test is the correct — and far
    more powerful — readout): with b = users converted pre-only and
    c = post-only, χ² = (|b − c| − 1)²/(b + c) (the classic continuity
    correction), gated at χ²(0.95, 1). ONE user-keyed aggregation
    collapses the corpus to four exact cells; b + c = 0 (no discordant
    pairs) yields NULL χ² and no rejection.

    Emits 1 row: (n_users, n_both, n_pre_only, n_post_only, n_neither,
    chi2, reject).
    """
    cut = F.lit(SNAPSHOT_CUT).cast("timestamp")
    hi = F.col("value") >= threshold
    per_user = events.groupBy("user_id").agg(
        F.max(F.when((F.col("ts") < cut) & hi, 1).otherwise(0)).alias(
            "pre"
        ),
        F.max(
            F.when((F.col("ts") >= cut) & hi, 1).otherwise(0)
        ).alias("post"),
    )
    cells = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count_if((F.col("pre") == 1) & (F.col("post") == 1)).alias(
            "n_both"
        ),
        F.count_if((F.col("pre") == 1) & (F.col("post") == 0)).alias(
            "n_pre_only"
        ),
        F.count_if((F.col("pre") == 0) & (F.col("post") == 1)).alias(
            "n_post_only"
        ),
        F.count_if((F.col("pre") == 0) & (F.col("post") == 0)).alias(
            "n_neither"
        ),
    )
    b, c = F.col("n_pre_only"), F.col("n_post_only")
    # clamped continuity correction: at |b−c| ≤ 1 the statistic is 0,
    # not the spurious 1/(b+c) the raw Edwards form would emit
    num = F.greatest(F.abs(b - c) - 1, F.lit(0))
    chi2 = F.round(
        (num * num).cast("double")
        / F.nullif((b + c).cast("double"), F.lit(0.0)),
        6,
    )
    return cells.select(
        "n_users",
        "n_both",
        "n_pre_only",
        "n_post_only",
        "n_neither",
        chi2.alias("chi2"),
        F.coalesce(chi2 > _CHI2_95[0], F.lit(False)).alias("reject"),
    )


def srm_check(events: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch health gate for the user_id % 2 split.

    The first thing a trustworthy experimentation platform checks
    BEFORE reading any metric (Fabijan et al. 2019): if the observed
    arm sizes are incompatible with the designed 50/50 split, the
    assignment pipeline is broken and every downstream readout
    (``ab_test_welch``, ``cuped_adjusted_ab``) is invalid. χ² =
    Σ(o − e)²/e over the two arms with e = n/2, p via the A&S normal
    tail of √χ² (exact for 1 df: χ²₁ = Z²); SRM convention flags at
    p < 0.001, far stricter than 0.05 — a true 50/50 split trips it
    once in a thousand experiments, an assignment bug immediately.

    Emits 1 row: (n_users, n_arm0, n_arm1, chi2, p_value,
    srm_detected).
    """
    arms = events.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count_if(F.col("user_id") % 2 == 0).alias("n_arm0"),
        F.count_if(F.col("user_id") % 2 == 1).alias("n_arm1"),
    )
    e = F.col("n_users").cast("double") / 2.0
    dev0 = F.col("n_arm0") - e
    dev1 = F.col("n_arm1") - e
    chi2 = F.round(
        (dev0 * dev0 / F.nullif(e, F.lit(0.0)))
        + (dev1 * dev1 / F.nullif(e, F.lit(0.0))),
        6,
    )
    p = F.round(_phi_upper_tail(F.sqrt(chi2)), 6)
    return arms.select(
        "n_users",
        "n_arm0",
        "n_arm1",
        chi2.alias("chi2"),
        p.alias("p_value"),
        F.coalesce(p < 0.001, F.lit(False)).alias("srm_detected"),
    )


def brown_forsythe_test(events: DataFrame) -> DataFrame:
    """Brown–Forsythe (median-based Levene) test: does the VARIANCE of
    ``value`` differ across event types?

    The dispersion companion to ``kruskal_wallis``'s location test —
    and the assumption check for any pooled-variance readout: W is the
    one-way ANOVA F statistic computed on z_ij = |x_ij − med_g|
    (medians, not means — Brown–Forsythe's robustness fix). Group
    medians are exact DISCRETE order statistics (k = ⌈n/2⌉, the
    winsorize convention) from per-group value windows (group count is
    fixture-bounded; the distinct-value relation keeps them small);
    deviations round to 6 dp and every moment folds in exact decimal.
    The gate compares W against F(k−1, N−k, 0.95) at the ACTUAL df₂ —
    ``functions.stats.f_crit_95``, the round-12 upgrade of the
    round-11 df₂ → ∞ convention (exact t² identity at df1 = 1, the
    exact (ν/2)·(0.05^(−2/ν) − 1) form at df1 = 2, Paulson's
    Wilson–Hilferty inversion at df1 ≥ 3) — the same closed form the
    DuckDB oracle evaluates, so small-N fixtures gate against the
    honest critical value instead of the anti-conservative limit.

    Emits per group: (event_type, n_g, median_g, mean_z) with the
    verdict repeated: (w_stat, df1, df2, f_crit, reject).
    """
    from big_data_trend_analysis_spark.functions.stats import f_crit_95
    vals = events.filter(F.col("value").isNotNull()).select(
        "event_type", "value"
    )
    per_value = vals.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_ord = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per_value.select(
        "event_type", "value", "c", F.sum("c").over(w_ord).alias("cum")
    )
    n_g_rel = per_value.groupBy("event_type").agg(
        F.sum("c").alias("n_g")
    )
    med = (
        cum.join(n_g_rel, "event_type")
        .filter(F.col("cum") >= F.expr("(n_g + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("value").alias("median_g"))
    )
    z = vals.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.round(F.abs(F.col("value") - F.col("median_g")), 6)
        .cast("decimal(18,6)")
        .alias("z"),
    )
    groups = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("z").alias("sz"),
        F.sum(
            (F.col("z") * F.col("z")).cast("decimal(38,12)")
        ).alias("szz"),
    )
    totals = groups.agg(
        F.sum("n_g").alias("n_tot"),
        F.sum("sz").alias("sz_tot"),
        F.count(F.lit(1)).alias("k_groups"),
    )
    ng = F.col("n_g").cast("double")
    mean_z = F.col("sz").cast("double") / ng
    zbar = F.col("sz_tot").cast("double") / F.col("n_tot")
    between = ng * (mean_z - zbar) * (mean_z - zbar)
    within = F.col("szz").cast("double") - F.col("sz").cast(
        "double"
    ) * F.col("sz").cast("double") / ng
    # persisted: referenced by the W aggregation AND the output
    # projection — unpersisted, the z-transform + median machinery ran
    # twice (17 jobs measured at sf0.1; round-12, guide §2.4)
    per_group = materialize(
        groups.crossJoin(F.broadcast(totals))
        .join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "n_g",
            "median_g",
            F.round(mean_z, 6).alias("mean_z"),
            F.round(between, 6).cast("decimal(38,6)").alias("bt"),
            F.round(within, 6).cast("decimal(38,6)").alias("wt"),
            "n_tot",
            "k_groups",
        )
    )
    n = F.col("n_tot").cast("double")
    kg = F.col("k_groups").cast("double")
    agg = per_group.groupBy("n_tot", "k_groups").agg(
        F.sum("bt").cast("double").alias("sb"),
        F.sum("wt").cast("double").alias("sw"),
    )
    w_stat = F.round(
        ((n - kg) / (kg - 1))
        * (F.col("sb") / F.nullif(F.col("sw"), F.lit(0.0))),
        6,
    )
    crit = F.round(
        f_crit_95(F.col("k_groups") - 1, F.col("n_tot") - F.col("k_groups")),
        6,
    )
    verdict = agg.select(
        w_stat.alias("w_stat"),
        (F.col("k_groups") - 1).cast("int").alias("df1"),
        (F.col("n_tot") - F.col("k_groups")).cast("bigint").alias("df2"),
        crit.alias("f_crit"),
        F.coalesce(w_stat > crit, F.lit(False)).alias("reject"),
    )
    return per_group.select(
        "event_type", "n_g", "median_g", "mean_z"
    ).crossJoin(F.broadcast(verdict))


def _durbin_levinson_acf(lag_acf: list[tuple[int, float]]) -> dict[int, float]:
    """Durbin–Levinson recursion core shared by ``pacf_daily`` and
    ``pacf_by_type``: takes (lag, acf) pairs (lag-sorted), returns
    {lag: pacf} for every lag the recursion reaches.

    Determinism contract (replayed bit-identically by the DuckDB
    list-recursive CTE): the φ state carries 6-dp Decimals (products
    exact, updates quantized HALF_UP == DuckDB decimal round); each
    division runs in IEEE double and floor-quantizes via
    x·1e6 + 0.5 (the gapfill/isotonic tie discipline). A NULL/NaN ACF
    (no aligned calendar pair) stops the recursion; so does a zero
    denominator (degenerate/constant series).
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    q6 = Decimal("0.000001")
    r: dict[int, Decimal] = {}
    for lag, acf in lag_acf:
        if acf is None or (isinstance(acf, float) and math.isnan(acf)):
            break
        r[int(lag)] = Decimal(repr(float(acf))).quantize(
            q6, rounding=ROUND_HALF_UP
        )
    phi: dict[int, Decimal] = {}
    pacf_out: dict[int, float] = {}
    for k in sorted(r):
        if k == 1:
            phi = {1: r[1]}
            pacf_out[1] = float(r[1])
            continue
        num = r[k] - sum(phi[j] * r[k - j] for j in range(1, k))
        den = Decimal(1) - sum(phi[j] * r[j] for j in range(1, k))
        if float(den) == 0.0:
            break
        pacf = Decimal(
            math.floor(float(num) / float(den) * 1_000_000 + 0.5)
        ) / Decimal(1_000_000)
        phi = {
            j: (phi[j] - pacf * phi[k - j]).quantize(
                q6, rounding=ROUND_HALF_UP
            )
            for j in range(1, k)
        }
        phi[k] = pacf
        pacf_out[k] = float(pacf)
    return pacf_out


def pacf_daily(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Partial autocorrelation of the daily-count series via
    Durbin–Levinson.

    The AR-order diagnostic that completes the correlogram pair
    (``autocorr_daily`` answers "is lag k correlated?", PACF answers
    "does lag k add anything BEYOND lags 1..k−1?" — the Box–Jenkins
    AR(p) cut-off readout): the Durbin–Levinson recursion

        φ_{k,k} = (r_k − Σ_{j<k} φ_{k−1,j}·r_{k−j})
                  / (1 − Σ_{j<k} φ_{k−1,j}·r_j)
        φ_{k,j} = φ_{k−1,j} − φ_{k,k}·φ_{k−1,k−j}

    over the calendar-aware ACF relation. The recursion is sequential
    in LAG order only — state is the O(max_lag) φ vector, so it runs
    in one applyInPandas over the max_lag-row ACF relation (bounded by
    the lag budget, never by data). Determinism: the φ state carries
    6-dp Decimals (products exact, updates quantized HALF_UP == DuckDB
    decimal round); each division runs in IEEE double and
    floor-quantizes via x·1e6 + 0.5 (the gapfill/isotonic tie
    discipline), so every step replays bit-identically in the DuckDB
    list-recursive CTE. Lags whose ACF is NULL (no aligned calendar
    pair) stop the recursion and emit NULL pacf from there on.

    Emits per lag: (lag, n_days, acf, pacf) — pacf(1) == acf(1) by
    construction. The recursion core is shared with ``pacf_by_type``
    (``_durbin_levinson_acf``).
    """
    return _durbin_levinson(autocorr_daily(events, max_lag=max_lag), [])


def _durbin_levinson(acf_rel: DataFrame, keys: list[StructField]) -> DataFrame:
    """(*keys, lag, n_days, acf, pacf): one applyInPandas group per
    ``keys`` series of the ACF relation (one group for no keys) runs
    ``_durbin_levinson_acf`` over its lag-ordered rows."""
    import pandas as pd

    names = [f.name for f in keys]
    columns = [*names, "lag", "n_days", "acf", "pacf"]
    schema = StructType(
        [
            *keys,
            StructField("lag", IntegerType()),
            StructField("n_days", LongType()),
            StructField("acf", DoubleType()),
            StructField("pacf", DoubleType()),
        ]
    )

    def _dl(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values("lag").reset_index(drop=True)
        pacf_out = _durbin_levinson_acf(
            [(int(t.lag), t.acf) for t in pdf.itertuples()]
        )
        rows = [
            (
                *(getattr(t, k) for k in names),
                int(t.lag),
                int(t.n_days),
                None if (isinstance(t.acf, float) and math.isnan(t.acf))
                else t.acf,
                pacf_out.get(int(t.lag)),
            )
            for t in pdf.itertuples()
        ]
        return pd.DataFrame(rows, columns=columns)

    return acf_rel.groupBy(*names).applyInPandas(_dl, schema)


def pacf_by_type(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Per-series partial autocorrelation: ``pacf_daily`` keyed by
    ``event_type``: the same applyInPandas, over a keyed ACF relation.

    An AR-order diagnostic per monitored series, not just the global
    one: each event type's daily-count series gets its own
    calendar-aware ACF (mean-centred within the type, pairs matched by
    calendar distance WITHIN the type) and its own Durbin–Levinson
    recursion. Scale shape: one corpus-sized hash aggregation to
    (type, day) counts; the lag self-join runs per type on the tiny
    per-type day relations (O(types · days²) worst case, calendar-
    bounded — the autocorr_daily argument, keyed); the recursion state
    is O(max_lag) per type, so applyInPandas groups carry max_lag rows
    each regardless of data volume. Determinism: identical 6-dp
    decimal fold + ``_durbin_levinson_acf`` replay contract as
    ``pacf_daily``; the DuckDB twin runs the same recursion per type
    through one recursive CTE keyed on event_type (the
    croston_intermittent per-key recursion device).

    Emits per (event_type, lag): (event_type, lag, n_days, acf, pacf).
    """
    return _durbin_levinson(
        _calendar_acf(events, ["event_type"], max_lag),
        [StructField("event_type", StringType())],
    )


#: Φ⁻¹(0.80) — the 80%-power normal quantile in the sample-size
#: formula (z_β at β = 0.20).
Z_80 = 0.8416212335729143


def ab_power_mde(events: DataFrame, rel_effect: float = 0.05) -> DataFrame:
    """Experiment power planning per metric stream: minimum detectable
    effect at the CURRENT traffic, and the sample size a target effect
    needs.

    The question teams ask BEFORE ``ab_test_welch`` answers anything:
    if we split this event type's traffic into two equal arms today,
    what absolute/relative lift in ``value`` could we detect at
    α = 0.05 (two-sided) with 80% power — and how many users per arm
    would a ``rel_effect`` (default 5%) lift need? Standard normal-
    approximation power identities: mde = (z_{α/2}+z_β)·√(2σ²/n_arm),
    n_arm = 2σ²(z_{α/2}+z_β)²/δ². Scale shape: ONE hash aggregation
    collapses the corpus to per-type moment rows (n, Σx, Σx²) — the
    ab_test_welch discipline — and every output derives from those
    three numbers. Determinism: 6-dp decimal folds for both sums
    (exact, order-independent), variance from the moment identity on
    doubles rounded 6 dp, z quantiles as shared literals
    (functions/stats), ceil taken after a 6-dp round so both engines
    land the same integer.

    Emits per event_type: (event_type, n, mean_value, sd_value,
    mde_abs, mde_rel, n_per_arm).
    """
    from big_data_trend_analysis_spark.functions.stats import Z_975

    x = F.round(F.col("value"), 6).cast(_TERM_DEC)
    moments = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum((x * x).cast("decimal(38,12)")).cast("double").alias("sxx"),
        )
    )
    n = F.col("n").cast("double")
    mean = F.round(F.col("sx") / n, 6)
    var = F.round(
        (F.col("sxx") - F.col("sx") * F.col("sx") / n)
        / F.nullif(n - F.lit(1.0), F.lit(0.0)),
        6,
    )
    zsum = F.lit(Z_975 + Z_80)
    n_arm = n / F.lit(2.0)
    mde_abs = F.round(zsum * F.sqrt(F.lit(2.0) * var / n_arm), 6)
    mde_rel = F.round(
        mde_abs / F.nullif(F.abs(mean), F.lit(0.0)), 6
    )
    delta = F.lit(rel_effect) * mean
    n_req = F.ceil(
        F.round(
            F.lit(2.0) * var * zsum * zsum
            / F.nullif(delta * delta, F.lit(0.0)),
            6,
        )
    )
    return moments.select(
        "event_type",
        "n",
        mean.alias("mean_value"),
        F.round(F.sqrt(var), 6).alias("sd_value"),
        mde_abs.alias("mde_abs"),
        mde_rel.alias("mde_rel"),
        n_req.cast("bigint").alias("n_per_arm"),
    )


def wilson_ci_proportion(events: DataFrame) -> DataFrame:
    """Wilson score interval for each event type's traffic share.

    The proportion CI the experimentation tier quotes alongside the
    point estimate (the Wald interval misbehaves exactly where shares
    are small — Wilson is the production convention, e.g. for CTR
    readouts): per type, p̂ = n_type / n_total and the 95% interval
        (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n).
    ONE hash aggregation to per-type counts + a 1-row total broadcast;
    all arithmetic is ratios of exact integer counts and the shared
    Z_975 literal, rounded to 6 dp at the same points on both engines.

    Emits per event_type: (event_type, n, n_total, p_hat, ci_lo,
    ci_hi).
    """
    from big_data_trend_analysis_spark.functions.stats import Z_975

    counts = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("n_total"))
    z = F.lit(Z_975)
    n = F.col("n_total").cast("double")
    p = F.col("n").cast("double") / n
    center = p + z * z / (F.lit(2.0) * n)
    half = z * F.sqrt(
        p * (F.lit(1.0) - p) / n
        + z * z / (F.lit(4.0) * n * n)
    )
    denom = F.lit(1.0) + z * z / n
    return counts.crossJoin(F.broadcast(total)).select(
        "event_type",
        "n",
        "n_total",
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    )


#: Wald SPRT design constants: test H0 p=0.18 vs H1 p=0.22 on the
#: daily purchase share at alpha = beta = 0.05. The four log terms
#: are Python-computed literals so both engines fold the same
#: doubles.
SPRT_P0 = 0.18
SPRT_P1 = 0.22
_SPRT_L1 = math.log(SPRT_P1 / SPRT_P0)
_SPRT_L0 = math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
SPRT_UPPER = math.log(0.95 / 0.05)
SPRT_LOWER = -SPRT_UPPER


def sprt_monitor(events: DataFrame) -> DataFrame:
    """Wald sequential probability-ratio test over the daily purchase
    share — the always-valid monitoring companion to the fixed-horizon
    tests (``ab_test_welch`` family answers "significant at n?"; SPRT
    answers "can we STOP yet?" with α/β guarantees at any peek).

    Per day t: x_t purchases out of n_t events contribute
    LLR_t = x·ln(p1/p0) + (n−x)·ln((1−p1)/(1−p0)); the running sum
    crosses ln((1−β)/α) → accept H1, −ln((1−β)/α) → accept H0, else
    continue. Scale shape: ONE corpus aggregation to daily count
    pairs; the running sum is a window over the calendar-bounded day
    relation (the autocorr_daily bounded-series argument). Per-day
    LLR rounds to 6 dp and folds in exact decimal, so the cumulative
    path — and therefore the decision sequence — replays bit-
    identically on both engines.

    Emits per day: (day, n_events, n_purchases, llr_day, llr_cum,
    decision).
    """
    daily = events.groupBy(
        F.to_date(F.date_trunc("DAY", "ts")).alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
    )
    llr = F.round(
        F.col("n_purchases") * F.lit(_SPRT_L1)
        + (F.col("n_events") - F.col("n_purchases")) * F.lit(_SPRT_L0),
        6,
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum(llr.cast(_TERM_DEC)).over(w).cast("double")
    return daily.select(
        "day",
        "n_events",
        "n_purchases",
        llr.alias("llr_day"),
        cum.alias("llr_cum"),
        F.when(cum >= F.lit(SPRT_UPPER), F.lit("accept_h1"))
        .when(cum <= F.lit(SPRT_LOWER), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


def dunn_posthoc(events: DataFrame, q_fdr: float = 0.05) -> DataFrame:
    """Dunn's post-hoc test: WHICH groups differ, after
    ``kruskal_wallis`` says SOME do — pairwise z on the global
    average ranks with the tie-corrected variance

        z_ij = (R̄_i − R̄_j) / √[ (N(N+1)/12 − Σ(t³−t)/(12(N−1)))
                                  · (1/n_i + 1/n_j) ] ,

    two-sided p from the A&S 26.2.17 normal tail, and the
    Benjamini–Hochberg step-up over the k(k−1)/2 pairs (Dunn 1964 +
    the modern FDR convention in place of Bonferroni). Scale shape:
    the entire rank machinery is ``kruskal_wallis``'s — ONE
    (value, type) hash aggregation, the range-partitioned cumsum over
    the distinct-value relation, doubled average ranks as exact
    BIGINTs — and everything pairwise runs on the types²-bounded
    group relation. BH ranks deterministically on
    (p, type_a, type_b).

    Emits one row per pair: (type_a, type_b, n_a, n_b, rbar_a,
    rbar_b, z_score, p_value, p_rank, m_tests, p_adj, reject).
    """
    ranked, groups = _group_rank_sums(events)
    groups = materialize_tiny(groups)
    totals = ranked.agg(
        F.sum("n_v").alias("n_tot"),
        _tie_sum(),
    )
    a = groups.select(
        F.col("event_type").alias("type_a"),
        F.col("n_g").alias("n_a"),
        F.col("rank_sum2").alias("rs2_a"),
    )
    b = groups.select(
        F.col("event_type").alias("type_b"),
        F.col("n_g").alias("n_b"),
        F.col("rank_sum2").alias("rs2_b"),
    )
    n = F.col("n_tot").cast("double")
    sigma2 = n * (n + 1) / 12.0 - F.col("tie_sum").cast("double") / (
        12.0 * (n - 1)
    )
    rbar_a = F.round(F.col("rs2_a").cast("double") / (2.0 * F.col("n_a")), 6)
    rbar_b = F.round(F.col("rs2_b").cast("double") / (2.0 * F.col("n_b")), 6)
    z = F.round(
        (rbar_a - rbar_b)
        / F.nullif(
            F.sqrt(
                sigma2
                * (
                    F.lit(1.0) / F.col("n_a")
                    + F.lit(1.0) / F.col("n_b")
                )
            ),
            F.lit(0.0),
        ),
        6,
    )
    pairs = (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .crossJoin(F.broadcast(totals))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            rbar_a.alias("rbar_a"),
            rbar_b.alias("rbar_b"),
            z.alias("z_score"),
            F.round(_phi_upper_tail(z), 6).alias("p_value"),
        )
    )
    return _bh_step_up(pairs, ["type_a", "type_b"], q_fdr)


def friedman_test(events: DataFrame) -> DataFrame:
    """Friedman rank test: does ``value`` volume differ across event
    types once the day-of-week effect is blocked out?

    The repeated-measures member of the rank family — where
    ``kruskal_wallis`` pools every observation into one global
    ranking, Friedman ranks WITHIN each block so a strong weekday
    seasonality (the thing ``seasonal_adjust_dow`` measures) cannot
    masquerade as a between-group difference. Blocks are the 7
    weekdays, treatments the event types, and the cell observation is
    the exact-decimal sum of ``value`` in that (dow, type) cell —
    order-independent by construction (6-dp rounding before a
    DECIMAL(38,6) fold, the psi_drift discipline), so the within-block
    ranking is over exact decimals and replays bit-identically in the
    oracle. Incomplete blocks (a weekday missing some type) drop —
    Friedman requires complete blocks. With cell ties the doubled
    average-rank device (``mann_whitney_u``) keeps ranks exact:

        Q = 3·Σ_j Rj2² / (n·k·(k+1)) − 3·n·(k+1) ,   Rj = Rj2/2

    flagged against χ²(0.95, k−1). Scale shape: ONE corpus-sized hash
    aggregation to the (dow × type) cell relation (≤ 7·|types| rows);
    everything after runs on that tiny relation.

    Emits one row per treatment with the verdict repeated:
    (event_type, rank_sum, n_blocks, k_types, q_stat, df_used,
    chi2_crit, reject).
    """
    # persisted: cells feeds k_rel, the complete-block filter AND the
    # kept join; rj feeds the verdict chain AND the output projection —
    # unpersisted, the corpus aggregation re-ran per reference (20 jobs
    # / 53 stages measured at sf0.1; round-12, guide §2.4).
    cells = materialize_tiny(
        events.filter(F.col("value").isNotNull())
        .groupBy(
            F.dayofweek("ts").alias("dow"),
            "event_type",
        )
        .agg(
            F.sum(
                F.round(F.col("value"), 6).cast("decimal(18,6)")
            ).alias("cell")
        )
    )
    k_rel = cells.agg(
        F.countDistinct("event_type").alias("k_types")
    )
    complete = (
        cells.groupBy("dow")
        .agg(F.count(F.lit(1)).alias("n_cells"))
        .crossJoin(F.broadcast(k_rel))
        .filter(F.col("n_cells") == F.col("k_types"))
        .select("dow")
    )
    kept = cells.join(F.broadcast(complete), "dow")
    # within-block average ranks, exact as doubled ints: group equal
    # cells, cumulate in cell order, avgrank2 = 2·(cum−c) + c + 1
    per_cell = kept.groupBy("dow", "cell").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_ord = (
        Window.partitionBy("dow")
        .orderBy("cell")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = per_cell.select(
        "dow",
        "cell",
        (
            2 * (F.sum("c").over(w_ord) - F.col("c")) + F.col("c") + 1
        ).alias("avgrank2"),
    )
    rj = materialize_tiny(
        kept.join(ranked, ["dow", "cell"])
        .groupBy("event_type")
        .agg(
            F.sum(F.col("avgrank2").cast("decimal(38,0)")).alias(
                "rank_sum2"
            )
        )
    )
    totals = rj.agg(
        F.sum(
            (
                F.col("rank_sum2") * F.col("rank_sum2")
            ).cast("decimal(38,0)")
        ).alias("sum_rj2_sq"),
        F.count(F.lit(1)).alias("k_types"),
    )
    n_blocks_rel = complete.agg(F.count(F.lit(1)).alias("n_blocks"))
    nb = F.col("n_blocks").cast("double")
    kt = F.col("k_types").cast("double")
    q = F.round(
        3.0 * F.col("sum_rj2_sq").cast("double") / (nb * kt * (kt + 1))
        - 3.0 * nb * (kt + 1),
        6,
    )
    crit = F.lit(None).cast("double")
    for df_used, c in enumerate(_CHI2_95, start=1):
        crit = F.when(F.col("k_types") - 1 == df_used, F.lit(c)).otherwise(
            crit
        )
    verdict = (
        totals.crossJoin(F.broadcast(n_blocks_rel))
        .select(
            "n_blocks",
            F.col("k_types").cast("int").alias("k_types"),
            q.alias("q_stat"),
            (F.col("k_types") - 1).cast("int").alias("df_used"),
            crit.alias("chi2_crit"),
            F.coalesce(q > crit, F.lit(False)).alias("reject"),
        )
    )
    return (
        rj.select(
            "event_type",
            (F.col("rank_sum2").cast("double") / 2.0).alias("rank_sum"),
        )
        .crossJoin(F.broadcast(verdict))
    )


def _grand_median(vals: DataFrame):
    """Exact DISCRETE global median of ``value`` (k = ⌈n/2⌉ order
    statistic) as a 1-row relation — the range-partitioned cumsum over
    the distinct-value relation (the ks_test_check layout), so no task
    ever holds more than its value range."""
    per_value = vals.groupBy("value").agg(F.count(F.lit(1)).alias("n_v"))
    cum = range_cumsum(per_value, "value", ["n_v"])
    n_rel = cum.agg(F.sum("n_v").alias("n_tot"))
    return (
        cum.crossJoin(F.broadcast(n_rel))
        .filter(F.col("cum_n_v") >= F.expr("(n_tot + 1) div 2"))
        .agg(F.min("value").alias("grand_median"))
    )


def mood_median_test(events: DataFrame) -> DataFrame:
    """Mood's median test: do the event types straddle the GLOBAL
    median of ``value`` evenly?

    The coarsest — and most outlier-proof — of the k-group location
    tests (its 0/1 reduction survives arbitrarily heavy tails that
    still stretch ``kruskal_wallis``'s rank variance): classify every
    observation as above / at-or-below the exact discrete global
    median (the ``winsorize`` k = ⌈n/2⌉ order statistic via the
    range-partitioned cumsum — scale-safe), then Pearson χ² on the
    k×2 contingency of exact counts against e_g = n_g·A/N. Cell terms
    are doubles over exact integers (bit-identical cross-engine),
    rounded 6 dp, folded in exact decimal; flagged against
    χ²(0.95, k−1).

    Emits one row per group with the verdict repeated:
    (event_type, n_g, n_above, grand_median, chi2_stat, df_used,
    chi2_crit, reject).
    """
    vals = events.filter(F.col("value").isNotNull()).select(
        "event_type", "value"
    )
    med = _grand_median(vals)
    flagged = vals.crossJoin(F.broadcast(med)).select(
        "event_type",
        "grand_median",
        (F.col("value") > F.col("grand_median")).alias("above"),
    )

    # k-row relation referenced twice (the verdict aggregation and the
    # output projection); unpersisted, Catalyst re-expanded the whole
    # corpus scan + median cumsum per reference (25 jobs / 47 stages
    # measured at sf0.1 — round-12 optimization, guide §2.4).
    groups = materialize_tiny(
        flagged.groupBy("event_type", "grand_median").agg(
            F.count(F.lit(1)).alias("n_g"),
            F.count_if(F.col("above")).alias("n_above"),
        )
    )
    totals = groups.agg(
        F.sum("n_g").alias("n_tot"),
        F.sum("n_above").alias("a_tot"),
        F.count(F.lit(1)).alias("k_groups"),
    )
    e_above = (
        F.col("n_g").cast("double")
        * F.col("a_tot").cast("double")
        / F.col("n_tot")
    )
    e_below = (
        F.col("n_g").cast("double")
        * (F.col("n_tot") - F.col("a_tot")).cast("double")
        / F.col("n_tot")
    )
    dev = F.col("n_above") - e_above
    term = (
        F.round(dev * dev / e_above, 6).cast(_TERM_DEC)
        + F.round(dev * dev / e_below, 6).cast(_TERM_DEC)
    )
    scored = groups.crossJoin(F.broadcast(totals)).select(
        "event_type",
        "n_g",
        "n_above",
        "grand_median",
        "k_groups",
        term.alias("term"),
    )
    agg = scored.groupBy("k_groups").agg(
        F.sum("term").cast("double").alias("chi2_stat")
    )
    crit = F.lit(None).cast("double")
    for df_used, c in enumerate(_CHI2_95, start=1):
        crit = F.when(F.col("k_groups") - 1 == df_used, F.lit(c)).otherwise(
            crit
        )
    verdict = agg.select(
        F.round("chi2_stat", 6).alias("chi2_stat"),
        (F.col("k_groups") - 1).cast("int").alias("df_used"),
        crit.alias("chi2_crit"),
        F.coalesce(F.col("chi2_stat") > crit, F.lit(False)).alias(
            "reject"
        ),
    )
    return scored.select(
        "event_type", "n_g", "n_above", "grand_median"
    ).crossJoin(F.broadcast(verdict))


def cochran_armitage_trend(events: DataFrame) -> DataFrame:
    """Cochran–Armitage trend test: does the share of above-median
    events drift MONOTONICALLY across the week?

    The ordered-alternative member of the experimentation tier —
    ``chi_square_independence`` asks "is traffic mix independent of
    weekday?" with k−1 df and no ordering; Cochran–Armitage spends ONE
    df on the linear-in-scores alternative, which is the question a
    day-over-day rollout actually poses. Outcome = ``value`` above the
    exact discrete global median (the ``mood_median_test`` device, so
    p̄ ≈ ½ and the test is parameter-free); groups = weekday with
    scores w = 1..7 (``dayofweek``):

        T = Σ w·r − p̄·Σ w·n ,
        Var = p̄(1−p̄)·(Σ w²·n − (Σ w·n)²/N) ,   z = T/√Var

    — every Σ an exact integer, so T/Var/z are fixed double chains
    identical on both engines; two-sided p from the A&S normal tail.
    Scale shape: ONE corpus aggregation to 7 rows after the median's
    distinct-value cumsum.

    Emits one row per weekday with the verdict repeated:
    (dow, n_obs, n_succ, grand_median, z_trend, p_value, reject).
    """
    vals = events.filter(F.col("value").isNotNull()).select(
        F.dayofweek("ts").alias("dow"), "value"
    )
    med = _grand_median(vals)
    # persisted: referenced by the trend moments AND the output
    # projection — unpersisted, the corpus scan + median cumsum ran
    # twice (19 jobs / 36 stages measured at sf0.1; round-12, §2.4).
    groups = materialize_tiny(
        vals.crossJoin(F.broadcast(med))
        .groupBy("dow", "grand_median")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.count_if(F.col("value") > F.col("grand_median")).alias(
                "n_succ"
            ),
        )
    )
    totals = groups.agg(
        F.sum("n_obs").alias("n_tot"),
        F.sum("n_succ").alias("r_tot"),
        F.sum(F.col("dow") * F.col("n_succ")).alias("swr"),
        F.sum(F.col("dow") * F.col("n_obs")).alias("swn"),
        F.sum(F.col("dow") * F.col("dow") * F.col("n_obs")).alias("swwn"),
    )
    pbar = F.col("r_tot").cast("double") / F.col("n_tot")
    t_stat = F.col("swr").cast("double") - pbar * F.col("swn").cast(
        "double"
    )
    var = (
        pbar
        * (1.0 - pbar)
        * (
            F.col("swwn").cast("double")
            - F.col("swn").cast("double")
            * F.col("swn").cast("double")
            / F.col("n_tot")
        )
    )
    z = F.round(t_stat / F.nullif(F.sqrt(var), F.lit(0.0)), 6)
    p = F.round(_phi_upper_tail(z), 6)
    verdict = totals.select(
        z.alias("z_trend"),
        p.alias("p_value"),
        F.coalesce(F.abs(z) > 1.959964, F.lit(False)).alias("reject"),
    )
    return groups.select(
        "dow", "n_obs", "n_succ", "grand_median"
    ).crossJoin(F.broadcast(verdict))


def granger_check(
    events: DataFrame,
    target: str = "purchase",
    driver: str = "view",
) -> DataFrame:
    """Lag-1 Granger causality: do yesterday's ``driver`` counts help
    predict today's ``target`` counts beyond the target's own lag?

    The cross-series completion of the correlation pair —
    ``spearman_daily_corr`` measures co-movement, Granger asks the
    DIRECTIONAL question (the funnel hypothesis "views drive
    purchases" as a testable restriction). Standard nested-OLS F:

        restricted   y_t = a + b·y_{t−1}
        unrestricted y_t = a + b·y_{t−1} + c·x_{t−1}
        F = (RSS_r − RSS_u) / (RSS_u/(n−3))   vs   F(1, n−3, 0.95)

    on the day-aligned (inner-joined) daily series, lags
    observation-indexed over the joined calendar. Every raw moment
    (Σy, Σy², Σuy, …) is an exact BIGINT; centered moments, the
    Cramer 2×2 solve and both RSS are fixed double chains over them —
    identical on both engines — and the gate is the shared
    ``functions.stats.f_crit_95`` closed form. Scale shape: one
    corpus aggregation to the two daily series, everything after on
    the calendar-bounded join.

    Emits ONE row: (n_obs, rss_r, rss_u, f_stat, df2, f_crit,
    reject).
    """
    from big_data_trend_analysis_spark.functions.stats import (
        f_crit_95,
    )

    daily = (
        events.filter(F.col("event_type").isin(target, driver))
        .groupBy(F.date_trunc("DAY", "ts").alias("day"))
        .agg(
            F.count_if(F.col("event_type") == target).alias("y"),
            F.count_if(F.col("event_type") == driver).alias("x"),
        )
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "y",
        F.lag("y").over(w).alias("u"),
        F.lag("x").over(w).alias("v"),
    ).filter(F.col("u").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum("u").alias("su"),
        F.sum("v").alias("sv"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
        F.sum(F.col("u") * F.col("y")).alias("suy"),
        F.sum(F.col("v") * F.col("y")).alias("svy"),
        F.sum(F.col("u") * F.col("v")).alias("suv"),
    )
    n = F.col("n").cast("double")
    sy = F.col("sy").cast("double")
    su = F.col("su").cast("double")
    sv = F.col("sv").cast("double")
    cyy = F.col("syy").cast("double") - sy * sy / n
    cuu = F.col("suu").cast("double") - su * su / n
    cvv = F.col("svv").cast("double") - sv * sv / n
    cuy = F.col("suy").cast("double") - su * sy / n
    cvy = F.col("svy").cast("double") - sv * sy / n
    cuv = F.col("suv").cast("double") - su * sv / n
    rss_r = cyy - cuy * cuy / F.nullif(cuu, F.lit(0.0))
    det = cuu * cvv - cuv * cuv
    b1 = (cuy * cvv - cvy * cuv) / F.nullif(det, F.lit(0.0))
    b2 = (cvy * cuu - cuy * cuv) / F.nullif(det, F.lit(0.0))
    rss_u = cyy - b1 * cuy - b2 * cvy
    f_stat = F.round(
        (rss_r - rss_u)
        / F.nullif(rss_u / (n - 3.0), F.lit(0.0)),
        6,
    )
    crit = f_crit_95(F.lit(1), F.col("n") - 3)
    return m.select(
        F.col("n").alias("n_obs"),
        F.round(rss_r, 6).alias("rss_r"),
        F.round(rss_u, 6).alias("rss_u"),
        f_stat.alias("f_stat"),
        (F.col("n") - 3).cast("int").alias("df2"),
        F.round(crit, 6).alias("f_crit"),
        F.coalesce(f_stat > crit, F.lit(False)).alias("reject"),
    )


def odds_ratio_ci(events: DataFrame) -> DataFrame:
    """Weekend odds ratio with the Woolf confidence interval: how much
    likelier is an above-median ``value`` on a weekend?

    The effect-size readout the 2×2 tests skip —
    ``chi_square_independence`` says WHETHER the table is dependent,
    the OR says HOW MUCH, with a CI a dashboard can threshold:

        OR = (a·d)/(b·c) ,
        CI = exp(ln OR ± z·√(1/a + 1/b + 1/c + 1/d))   (Woolf 1955)

    over exposure = weekend (``dayofweek`` ∈ {1, 7}) × outcome =
    value above the exact discrete global median (the
    ``mood_median_test`` device — parameter-free, p̄ ≈ ½). All four
    cells are exact counts from ONE aggregation after the median's
    distinct-value cumsum; OR/CI are fixed exp/ln chains rounded
    6 dp. ``significant`` flags a CI that excludes 1 (computed from
    the ROUNDED bounds — deterministic both sides).

    Emits ONE row: (n_a, n_b, n_c, n_d, odds_ratio, ci_lo, ci_hi,
    significant).
    """
    vals = events.filter(F.col("value").isNotNull()).select(
        F.dayofweek("ts").isin(1, 7).alias("weekend"), "value"
    )
    med = _grand_median(
        events.filter(F.col("value").isNotNull()).select("value")
    )
    cells = vals.crossJoin(F.broadcast(med)).agg(
        F.count_if(
            F.col("weekend") & (F.col("value") > F.col("grand_median"))
        ).alias("n_a"),
        F.count_if(
            F.col("weekend")
            & ~(F.col("value") > F.col("grand_median"))
        ).alias("n_b"),
        F.count_if(
            ~F.col("weekend")
            & (F.col("value") > F.col("grand_median"))
        ).alias("n_c"),
        F.count_if(
            ~F.col("weekend")
            & ~(F.col("value") > F.col("grand_median"))
        ).alias("n_d"),
    )
    a = F.col("n_a").cast("double")
    b = F.col("n_b").cast("double")
    c = F.col("n_c").cast("double")
    d = F.col("n_d").cast("double")
    ln_or = F.log(
        F.nullif(a * d, F.lit(0.0)) / F.nullif(b * c, F.lit(0.0))
    )
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    lo = F.round(F.exp(ln_or - 1.959964 * se), 6)
    hi = F.round(F.exp(ln_or + 1.959964 * se), 6)
    return cells.select(
        "n_a",
        "n_b",
        "n_c",
        "n_d",
        F.round(
            a * d / F.nullif(b * c, F.lit(0.0)), 6
        ).alias("odds_ratio"),
        lo.alias("ci_lo"),
        hi.alias("ci_hi"),
        F.coalesce(
            (lo > 1.0) | (hi < 1.0), F.lit(False)
        ).alias("significant"),
    )
