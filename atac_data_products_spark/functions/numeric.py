"""Numeric helpers for exact fixed-point arithmetic in hot paths.

The engine's money/quantity columns are doubles storing EXACT 2-dp
decimal values (TESTDATA.md); every order-free aggregation first
rescales them to integers.  `F.round(double)` is the wrong tool for
that per-row step: Spark's Round on DoubleType goes through
``BigDecimal.valueOf(x).setScale(...)`` — an allocation per row that
measured 2× on tpch_q1's scan-agg pipeline (docs/PLAN_AUDIT.md,
round-8 A/B).  ``floor(x·scale + 0.5)`` is pure whole-stage-codegen
arithmetic (Math.floor), returns BIGINT directly, and is exact for
this domain: x·scale lands within ~1e-9 of the true integer, so the
+0.5 shift can never cross to the wrong unit.

Sign-correctness matters: ``(x·scale + 0.5).cast("bigint")`` truncates
toward zero and is off by one for EVERY negative value; floor rounds
half-up toward +∞, which for exact fixed-point inputs (never actually
ON a .5 boundary after the multiply) agrees with both SQL ``round``
halves-away-from-zero engines on all inputs, positive or negative.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_fixed(col: Column | str, scale: int) -> Column:
    """Exact fixed-point BIGINT from a double column holding values
    that are exact multiples of 1/scale (e.g. 2-dp money with
    scale=100).  Pure codegen — no BigDecimal; see module docstring.
    NULL propagates (NULL·scale + 0.5 → NULL, floor(NULL) → NULL),
    matching ``CAST(round(x*scale) AS BIGINT)`` oracle semantics."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * scale + F.lit(0.5))


def to_fixed_sql(expr: str, scale: int) -> str:
    """SQL twin of :func:`to_fixed`, valid in both DuckDB and Spark SQL.
    The explicit BIGINT cast matters on DuckDB, whose floor(DOUBLE)
    stays DOUBLE."""
    return f"CAST(floor({expr} * {scale} + 0.5) AS BIGINT)"


# ---------------------------------------------------------------------------
# Exact quantized means (docs/OPERATIONS.md quantization contract)
#
# `round(sum/n, k)` on a DOUBLE is engine-divergent exactly when the
# true rational s/n lands on a 10^-k boundary — which, for INTEGER s,
# happens with probability ~1/n per group, not measure-zero (the first
# 10×-scale sweep caught one such user in events_bot_cadence_score).
# The exact form rounds the RATIONAL half-up with pure integer
# arithmetic — floor(s·u/n + 1/2) = (2·s·u + n) div (2·n) — in the
# DECIMAL(38,0) lane (s·u for µs-scale sums exceeds int64), then makes
# ONE identical IEEE division back to double.  Requires s ≥ 0 and
# n > 0 (`div` truncates toward zero; every published integer-quantity
# mean in this engine is of a non-negative measure).
# ---------------------------------------------------------------------------


def mean_quantized(sum_col: Column | str, cnt_col: Column | str, unit: int = 1_000_000) -> Column:
    """Half-up mean of a non-negative integer quantity, quantized at
    1/unit and published as double: exact in both engines, never on a
    rounding boundary.  Pair with :func:`mean_quantized_sql`.

    The quotient is taken as ``(num - num % d) / d`` rather than a
    plain decimal division: Spark rounds decimal quotients to the
    result scale, which could flip a floor near the scale boundary,
    while an exact-multiple division is always exact."""
    s = F.col(sum_col) if isinstance(sum_col, str) else sum_col
    n = (F.col(cnt_col) if isinstance(cnt_col, str) else cnt_col).cast(
        "decimal(38,0)"
    )
    num = s.cast("decimal(38,0)") * F.lit(2 * unit) + n
    d = n * F.lit(2)
    q = (num - num % d) / d  # exact: num - num%d is a multiple of d
    # avg() over zero rows is NULL, not a division error — same contract
    return F.when(n > 0, q.cast("double") / float(unit))


def mean_quantized_signed(
    sum_col: Column | str, cnt_col: Column | str, unit: int = 1_000_000
) -> Column:
    """Signed companion of :func:`mean_quantized` (n > 0 still
    required): half-AWAY-from-zero, matching SQL round(), via the
    non-negative form on |s| with the sign re-applied."""
    s = F.col(sum_col) if isinstance(sum_col, str) else sum_col
    return F.when(s >= 0, mean_quantized(s, cnt_col, unit)).otherwise(
        -mean_quantized(-s, cnt_col, unit)
    )


def mean_quantized_signed_sql(
    sum_sql: str, cnt_sql: str, unit: int = 1_000_000
) -> str:
    """DuckDB twin of :func:`mean_quantized_signed`."""
    return (
        f"CASE WHEN ({sum_sql}) >= 0 THEN {mean_quantized_sql(sum_sql, cnt_sql, unit)} "
        f"ELSE -({mean_quantized_sql(f'-({sum_sql})', cnt_sql, unit)}) END"
    )


def mean_quantized_sql(sum_sql: str, cnt_sql: str, unit: int = 1_000_000) -> str:
    """DuckDB twin of :func:`mean_quantized` (HUGEINT lane).  The
    quantized integer skips BIGINT, which overflows past a ~9.2e12-unit
    mean (the hostile fixture's year-9999 gap), and reaches DOUBLE via
    VARCHAR: DuckDB's direct HUGEINT→DOUBLE cast rounds twice past 2^64
    (hypothesis find), while the string parses to the nearest double,
    as Spark's DECIMAL→double cast does.
    The denominator rides HUGEINT too: DuckDB types a fitting integer
    LITERAL as INT32, so `2 * n` overflows at n ≥ 2^30 when a caller
    inlines a literal count (hypothesis find, round 9)."""
    return (
        f"CASE WHEN ({cnt_sql}) > 0 THEN "
        f"CAST(CAST((2 * CAST({sum_sql} AS HUGEINT) * {unit} + ({cnt_sql}))"
        f" // (2 * CAST(({cnt_sql}) AS HUGEINT)) AS VARCHAR) AS DOUBLE)"
        f" / {unit}.0 END"
    )


def ratio_scaled_int(
    sum_col: Column | str, cnt_col: Column | str, scale: int = 1_000_000
) -> Column:
    """Half-up of (s/n)·scale as an exact integer-valued DOUBLE:
    floor(s·scale/n + 1/2) = (2·s·scale + n) div (2·n) in the
    DECIMAL(38,0) lane.  The µs/ppm companion of :func:`mean_quantized`
    for keys that publish the SCALED integer itself (round(x·scale, 0)
    call sites) rather than the quantized ratio.  Requires s ≥ 0 and
    n > 0 (NULL when n is 0, matching round(s·scale/NULLIF(n,0))).

    A caller whose s or n exceeds ~1e18 must pre-cast the inputs to
    decimal(38,0) BEFORE any multiplication, or the bigint product
    overflows before this helper's own cast."""
    s = F.col(sum_col) if isinstance(sum_col, str) else sum_col
    n = (F.col(cnt_col) if isinstance(cnt_col, str) else cnt_col).cast(
        "decimal(38,0)"
    )
    num = s.cast("decimal(38,0)") * F.lit(2 * scale) + n
    d = n * F.lit(2)
    q = (num - num % d) / d  # exact: num - num%d is a multiple of d
    return F.when(n > 0, q.cast("double"))


def ratio_scaled_int_sql(sum_sql: str, cnt_sql: str, scale: int = 1_000_000) -> str:
    """DuckDB twin of :func:`ratio_scaled_int` (HUGEINT lane; the
    denominator is HUGEINT-cast, and the result reaches DOUBLE through
    VARCHAR, for the same reasons as :func:`mean_quantized_sql`)."""
    return (
        f"CASE WHEN ({cnt_sql}) > 0 THEN "
        f"CAST(CAST((2 * CAST({sum_sql} AS HUGEINT) * {scale} + ({cnt_sql}))"
        f" // (2 * CAST(({cnt_sql}) AS HUGEINT)) AS VARCHAR) AS DOUBLE) END"
    )


def ratio_scaled_int_signed(
    sum_col: Column | str, cnt_col: Column | str, scale: int = 1_000_000
) -> Column:
    """Signed companion of :func:`ratio_scaled_int` (n > 0 still
    required): half-AWAY-from-zero, matching SQL round(), via the
    non-negative form on |s| with the sign re-applied."""
    s = F.col(sum_col) if isinstance(sum_col, str) else sum_col
    return F.when(s >= 0, ratio_scaled_int(s, cnt_col, scale)).otherwise(
        -ratio_scaled_int(-s, cnt_col, scale)
    )


def ratio_scaled_int_signed_sql(
    sum_sql: str, cnt_sql: str, scale: int = 1_000_000
) -> str:
    """DuckDB twin of :func:`ratio_scaled_int_signed`."""
    return (
        f"CASE WHEN ({sum_sql}) >= 0 THEN {ratio_scaled_int_sql(sum_sql, cnt_sql, scale)} "
        f"ELSE -({ratio_scaled_int_sql(f'-({sum_sql})', cnt_sql, scale)}) END"
    )
