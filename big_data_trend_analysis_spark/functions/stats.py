"""Distribution quantiles as engine-portable column expressions.

The experimentation tier flags significance against fixed normal critical
values (``ab_test_welch`` uses 1.96); the correct Welch gate is the
t-distribution quantile at the Welch–Satterthwaite df. SciPy is the
obvious tool and exactly the wrong one here — the gate needs the SAME
number from Spark and the DuckDB oracle, so the quantile must be a
closed-form expression both engines evaluate identically (the A&S
26.2.17 normal-tail discipline in ``operators/drift.py``).

``t_crit_975`` is the Cornish–Fisher expansion of the t quantile
around the normal quantile z₀.₉₇₅ (Fisher's asymptotic series in
1/df, four correction terms): pure arithmetic in df — no exp, no
gamma. Accuracy vs the t-table: relative error < 1.2e-3 at df = 3,
< 3e-4 at df = 4, < 2e-5 for df ≥ 8; at df = 2 the series reaches
only 4.27 vs 4.3027 (−0.75%), and df < 2 is outside its radius —
callers clamp df ≥ 2 (a Welch df below 2 means one cohort has ~2
rows; anti-conservatism there is the caller's data problem, and the
clamp keeps the gate strictly more conservative than 1.96
everywhere).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Φ⁻¹(0.975) — the fixed normal quantile the expansion corrects.
Z_975 = 1.959963984540054

#: Cornish–Fisher correction-term numerators evaluated at z = Z_975:
#: t ≈ z + g1/df + g2/df² + g3/df³ + g4/df⁴ with
#:   g1 = (z³+z)/4, g2 = (5z⁵+16z³+3z)/96,
#:   g3 = (3z⁷+19z⁵+17z³−15z)/384,
#:   g4 = (79z⁹+776z⁷+1482z⁵−1920z³−945z)/92160.
_G1 = (Z_975**3 + Z_975) / 4.0
_G2 = (5 * Z_975**5 + 16 * Z_975**3 + 3 * Z_975) / 96.0
_G3 = (3 * Z_975**7 + 19 * Z_975**5 + 17 * Z_975**3 - 15 * Z_975) / 384.0
_G4 = (
    79 * Z_975**9
    + 776 * Z_975**7
    + 1482 * Z_975**5
    - 1920 * Z_975**3
    - 945 * Z_975
) / 92160.0


def t_crit_975(df: Column) -> Column:
    """Two-sided 5% Student-t critical value at (possibly fractional) df.

    A pure-arithmetic column expression (portable to any SQL engine as
    the same literal polynomial in 1/df — the oracle twin is the
    identical four-term Horner form). df is clamped at 2 from below;
    NULL df (degenerate Welch cohorts) stays NULL so the caller's
    not-significant coalesce applies.
    """
    # when/otherwise, not greatest: Spark's greatest SKIPS nulls, so a
    # NULL df would silently clamp to 2 instead of propagating
    d = F.when(df.cast("double") < 2.0, F.lit(2.0)).otherwise(
        df.cast("double")
    )
    inv = F.lit(1.0) / d
    return F.lit(Z_975) + inv * (
        F.lit(_G1)
        + inv * (F.lit(_G2) + inv * (F.lit(_G3) + inv * F.lit(_G4)))
    )


def t_crit_975_sql(df_expr: str) -> str:
    """DuckDB twin of ``t_crit_975``: the same Horner polynomial over
    the same double literals, for splicing into an oracle SQL string.
    The clamp is a CASE on both engines — greatest() SKIPS nulls in
    BOTH Spark and DuckDB, which would turn a degenerate-cohort NULL
    df into a significant-looking 4.27 instead of propagating."""
    inv = (
        f"(1.0 / CASE WHEN CAST({df_expr} AS DOUBLE) < 2.0 THEN 2.0"
        f" ELSE CAST({df_expr} AS DOUBLE) END)"
    )
    return (
        f"({Z_975!r} + {inv} * ({_G1!r} + {inv} * ({_G2!r} + {inv} * "
        f"({_G3!r} + {inv} * {_G4!r}))))"
    )


#: Φ⁻¹(0.95) — the one-sided normal quantile behind the F(ν₁, ν₂)
#: upper-5% critical value (an F test rejects in one tail).
Z_95 = 1.6448536269514722

#: ln(0.05) — the exact-branch constant for F(2, ν₂): the F(2, ν)
#: survival function is (1 + 2x/ν)^(−ν/2) in closed form, so the
#: quantile is x = (ν/2)·(0.05^(−2/ν) − 1) = (ν/2)·(e^(−(2/ν)·ln .05) − 1).
_LN_005 = -2.995732273553991

#: Paulson-branch df₂ floor: the Wilson–Hilferty cube-root inversion
#: degenerates as 2/(9ν₂) approaches b²/z² (ν₂ → 1); monitoring-scale
#: df₂ = N − k is orders of magnitude above the floor, which exists
#: only so toy fixtures stay finite (and conservative: the clamp can
#: only RAISE the critical value).
_F_DF2_FLOOR = 5.0


def f_crit_95(df1: Column, df2: Column) -> Column:
    """Upper 5% F(df1, df2) critical value at general (integer df1,
    possibly huge df2) — the variance-ratio gate for Brown–Forsythe /
    one-way ANOVA readouts, engine-portable like ``t_crit_975``.

    Three branches, each the strongest closed form available:

    - df1 = 1 — EXACT identity F(1, ν, 0.95) = t(ν, 0.975)²; reuses
      the Cornish–Fisher ``t_crit_975`` (pure arithmetic).
    - df1 = 2 — EXACT closed form: the F(2, ν) survival function is
      (1 + 2x/ν)^(−ν/2), so x = (ν/2)·(0.05^(−2/ν) − 1). One ``exp``
      over a literal-scaled ratio.
    - df1 ≥ 3 — Paulson's inversion (Wilson–Hilferty cube-root
      normalization applied to BOTH chi-squares): with c = 2/(9ν₁),
      d = 2/(9ν₂), a = 1−c, b = 1−d, solve the quadratic
      (b·y − a)² = z²·(d·y² + c) for y = F^(1/3) and take the + root.
      Relative error vs the F table ≤ 0.5% at df1 = 3 shrinking with
      df1 (0.1% at df1 = 7), and → the χ²/df1 limit as df₂ → ∞.

    NULL df propagates NULL (the t_crit discipline). df2 is clamped
    at ``_F_DF2_FLOOR`` in the Paulson branch only — the two exact
    branches hold for all df2 ≥ 1.
    """
    v1 = df1.cast("double")
    v2 = df2.cast("double")
    # exact df1 = 2 branch
    exact2 = (v2 / F.lit(2.0)) * (
        F.exp(F.lit(_LN_005) * (F.lit(-2.0) / v2)) - F.lit(1.0)
    )
    # Paulson branch (df1 >= 3), df2 clamped from below
    v2c = F.when(v2 < F.lit(_F_DF2_FLOOR), F.lit(_F_DF2_FLOOR)).otherwise(v2)
    c = F.lit(2.0) / (F.lit(9.0) * v1)
    d = F.lit(2.0) / (F.lit(9.0) * v2c)
    a = F.lit(1.0) - c
    b = F.lit(1.0) - d
    z2 = F.lit(Z_95 * Z_95)
    quad_a = b * b - z2 * d
    quad_b = a * b
    quad_c = a * a - z2 * c
    y = (quad_b + F.sqrt(quad_b * quad_b - quad_a * quad_c)) / quad_a
    paulson = y * y * y
    t = t_crit_975(v2)
    return (
        F.when(v1 == F.lit(1.0), t * t)
        .when(v1 == F.lit(2.0), exact2)
        .otherwise(paulson)
    )


def f_crit_95_sql(df1_expr: str, df2_expr: str) -> str:
    """DuckDB twin of ``f_crit_95``: the same three branches over the
    same double literals, for splicing into an oracle SQL string. The
    sub-expressions are spelled in the SAME operation order as the
    Column form so both engines execute identical IEEE double chains.
    """
    v1 = f"CAST({df1_expr} AS DOUBLE)"
    v2 = f"CAST({df2_expr} AS DOUBLE)"
    exact2 = f"(({v2} / 2.0) * (exp({_LN_005!r} * (-2.0 / {v2})) - 1.0))"
    v2c = (
        f"(CASE WHEN {v2} < {_F_DF2_FLOOR!r} THEN {_F_DF2_FLOOR!r}"
        f" ELSE {v2} END)"
    )
    c = f"(2.0 / (9.0 * {v1}))"
    d = f"(2.0 / (9.0 * {v2c}))"
    a = f"(1.0 - {c})"
    b = f"(1.0 - {d})"
    z2 = repr(Z_95 * Z_95)
    qa = f"({b} * {b} - {z2} * {d})"
    qb = f"({a} * {b})"
    qc = f"({a} * {a} - {z2} * {c})"
    y = f"(({qb} + sqrt({qb} * {qb} - {qa} * {qc})) / {qa})"
    t = t_crit_975_sql(v2)
    return (
        f"(CASE WHEN {v1} = 1.0 THEN {t} * {t}"
        f" WHEN {v1} = 2.0 THEN {exact2}"
        f" ELSE {y} * {y} * {y} END)"
    )


def phi_upper_tail(z: Column) -> Column:
    """Two-sided normal p-value 2·(1−Φ(|z|)), Abramowitz–Stegun 26.2.17.

    Promoted from ``operators/drift._phi_upper_tail`` in round 12 so
    non-drift consumers (``operators/trend.mann_kendall_trend``) share
    it without a cross-operator import (the ``range_cumsum`` promotion
    precedent). The rational-polynomial approximation (|error| <
    7.5e-8) uses only exp/sqrt/arithmetic — primitives both engines
    evaluate to the same double within an ulp, and every consumer
    rounds to 6 dp (the decay_weight/psi_drift exp/ln discipline).
    """
    x = F.abs(z)
    k = 1.0 / (1.0 + 0.2316419 * x)
    poly = k * (
        0.319381530
        + k
        * (
            -0.356563782
            + k * (1.781477937 + k * (-1.821255978 + k * 1.330274429))
        )
    )
    pdf = F.exp(-x * x / 2.0) * 0.3989422804014327
    return 2.0 * pdf * poly
