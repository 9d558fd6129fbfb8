"""Exact-grid money arithmetic for scale-stable aggregate parity.

Why this exists: summing DOUBLE money expressions accumulates binary FP
error that grows with row count. At sf0.1 every ``round(sum(price *
(1 - discount)), 2)`` agreed between Spark and DuckDB; at sf1 (~6M
lineitem rows, group sums ~10^8) the accumulated drift crossed a cent
boundary and two TPC-H queries hash-mismatched by exactly 0.01
(ORACLE_SF1_r07.log: q7 58489176.1 vs .09, q9 195641485.2 vs .21).
No summation order fixes this — the terms themselves are not exactly
representable in binary.

The fix: do the arithmetic on the DECIMAL grid the data actually lives
on (prices are 2-dec, discount/tax rates 2-dec, so disc_price is an
exact 4-dec value and charge an exact 6-dec value), sum exactly, round
on the exact value, and only then cast to DOUBLE so result schemas stay
DoubleType. Both engines compute the identical rational number, so the
rounded double is bit-identical at every scale factor by construction,
not by luck. ``sql_*`` mirrors each Spark expression for the DuckDB
oracles.

Casting a DOUBLE like ``1 - 0.07 = 0.9299999...`` to DECIMAL(4,2)
rounds to the nearest grid point (0.93) identically in both engines —
safe whenever the true value IS a grid point, which holds for every
column here. Ratio queries (q8, q14) divide the two exact sums as
doubles: identical numerator and denominator bits give an identical
quotient, removing the input-drift half of their boundary risk.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: 2-dec money column, |value| < 10^10 — chosen so price × rate products
#: stay at precision 17 ≤ 18, Spark's compact long-backed Decimal limit
#: (wider per-row decimals allocate a JavaBigDecimal per row, measured
#: +25% on the q1 sums at sf1); sums still get +10 precision headroom
#: from sum(DECIMAL(p,s)) -> DECIMAL(p+10,s) without nearing 38
PRICE_DEC = "decimal(12,2)"
#: (1 ± 2-dec rate) factors and other small 2-dec scalars
FRAC_DEC = "decimal(4,2)"
#: quantities (integral in the data; 2-dec headroom costs nothing)
QTY_DEC = "decimal(8,2)"


def money(col: str) -> Column:
    return F.col(col).cast(PRICE_DEC)


def frac(expr: Column) -> Column:
    """A value whose true decimal form has ≤2 decimals (e.g. 1 - discount)
    computed in double then snapped back onto its exact grid."""
    return expr.cast(FRAC_DEC)


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact on the 4-dec grid."""
    return money("l_extendedprice") * frac(F.lit(1) - F.col("l_discount"))


def charge() -> Column:
    """disc_price * (1 + l_tax), exact on the 6-dec grid."""
    return disc_price() * frac(F.lit(1) + F.col("l_tax"))


def sum_money(expr: Column, alias: str, scale: int = 2) -> Column:
    """Exact decimal sum, rounded on the exact value, surfaced as DOUBLE."""
    return F.round(F.sum(expr), scale).cast("double").alias(alias)


# ---- grid sums of raw 2-dec money columns (VERDICT r12 #1) ----------
#
# round(sum(double_money), 2) is summation-order-DEPENDENT once the
# total reaches ~1e12 (sf10 grand totals: accumulated FP error exceeds a
# cent, so the same data hashed differently across corpus regenerations
# while both engines stayed green — ORACLE_SF10_SPOT_r12.log). Every
# money column in the corpus lives on the 2-dec grid, so summing it as
# DECIMAL(12,2) is exact and order-invariant at every scale; the final
# DOUBLE cast of the one exact total is deterministic. agg_grouping_sets
# proved the pattern cross-engine green at sf0.01/0.1/10 in r12; r13
# sweeps it across the remaining money grand totals.


def sum_money_grid(col_expr: str | Column, alias: str, dec: str = PRICE_DEC) -> Column:
    """Spark: exact decimal-grid sum of a 2-dec DOUBLE column (or a
    conditional expression over one), surfaced as DOUBLE."""
    c = F.col(col_expr) if isinstance(col_expr, str) else col_expr
    return F.sum(c.cast(dec)).cast("double").alias(alias)


def sql_sum_money_grid(expr: str, alias: str, dec: str = "DECIMAL(12,2)") -> str:
    """DuckDB mirror of :func:`sum_money_grid`."""
    return f"CAST(sum(CAST({expr} AS {dec})) AS DOUBLE) AS {alias}"


def _avg_grid_template(col_sql: str, dec: str, d: int, intdiv: str) -> str:
    """round(avg(col), d) computed with PURE INTEGER arithmetic, for a
    column whose true values live on the 2-dec grid (ADVICE r7: q1's
    DOUBLE avg accumulation is the same order-dependent FP class that
    broke the q7/q9 sums at sf1).

    Let S = sum(col)·100 (exact BIGINT: the decimal sum is on the cent
    grid) and N = count(*). The HALF_UP rounding of S/(100·N) at d
    decimals is ⌊(2·S·10^d + 100·N) / (200·N)⌋ / 10^d for positive
    operands — no FP division, no engine decimal-division semantics, so
    both engines produce the identical integer and the final
    int→DOUBLE/10^d is a correctly-rounded IEEE op on identical inputs.
    Overflow headroom: 2·S·10^d must fit BIGINT — with d=2 and price
    sums ~10^16 (sf~10^3 per group) the product is ~2·10^18 < 2^63.
    """
    m = 10 ** d
    s = f"CAST(sum(CAST({col_sql} AS {dec})) * 100 AS BIGINT)"
    return (
        f"CAST((2 * {s} * {m} + 100 * count(*)) {intdiv} (200 * count(*)) "
        f"AS DOUBLE) / {m}"
    )


def avg_on_grid(col_sql: str, dec: str, d: int, alias: str) -> Column:
    """Spark side of :func:`_avg_grid_template` (integer div is ``DIV``)."""
    return F.expr(_avg_grid_template(col_sql, dec, d, "DIV")).alias(alias)


def sql_avg_on_grid(col_sql: str, dec: str, d: int, alias: str) -> str:
    """DuckDB side of :func:`_avg_grid_template` (integer div is ``//``)."""
    return f"{_avg_grid_template(col_sql, dec, d, '//')} AS {alias}"


# ---- BIGINT-carried grid sums (r16, VERDICT r15 #3) -----------------
#
# sum(DECIMAL(17,4)) / sum(DECIMAL(22,6)) accumulate above Spark's
# compact-long precision limit (18), so every aggregation-buffer update
# deserializes and re-serializes a JavaBigDecimal — the dominant
# per-row cost of q1's seven money sums. The grid values are exact
# scaled INTEGERS, so the partial aggregation can carry BIGINT sums and
# the per-group finish reassembles the exact decimal once.
#
# Overflow bounds at 100 TB (sf ~1e5: ~6e11 lineitem rows, ~1.5e11 per
# q1 group, avg price ~3.8e4 → group money sums ~5.7e15 dollars):
#   * cents (2-dec) group sum ≤ ~5.7e17           < 2^63 ≈ 9.2e18  ✓
#   * a 4-dec (disc_price) or 6-dec (charge) group sum does NOT fit
#     one BIGINT (~5.7e19 / ~5.7e21), so those carry TWO accumulators:
#     sum(v DIV 10^k) ≤ 5.7e15 ✓ and sum(v % 10^k) ≤ rows·10^k
#     (≤ 1.5e15 at k=4, ≤ 1.5e17 at k=6) ✓.
# Positivity: every money/rate column in this corpus is ≥ 0 (TPC-H
# semantics), which the DIV-based HALF_UP reassembly below relies on;
# the 4-SF oracle hash anchors guard it.


def cents(col: str) -> Column:
    """2-dec grid double → exact scaled integer (×100 as BIGINT), pure
    double arithmetic: ⌊x·100 + 0.5⌋. For x the IEEE double of a
    non-negative grid point g = k/100 (the money data contract), x·100
    is within ~1e-4 of k (k < 2^49), so the +0.5 truncation recovers k
    exactly — the same integer the DECIMAL(12,2) cast snap produced.
    Measured 3× faster than the decimal-cast form on q1's seven sums
    (the double→decimal cast allocates a JavaBigDecimal per row;
    this path is three codegen'd double/long ops)."""
    return (F.col(col) * 100 + F.lit(0.5)).cast("long")


def frac_units(expr: Column) -> Column:
    """(1 ± 2-dec rate) → exact integer in hundredths (0..~125), same
    double-derived snap as :func:`cents` (non-negative grid premise)."""
    return (expr * 100 + F.lit(0.5)).cast("long")


def disc_price_units() -> Column:
    """l_extendedprice·(1 − l_discount) in exact 4-dec integer units:
    cents × hundredths, per-row ≤ ~1e14 (price < 1e10 → 1e12 cents,
    × ≤ 100) — BIGINT-safe per row; group sums carry as a DIV/MOD pair
    (see :func:`sum_units_split`)."""
    return cents("l_extendedprice") * frac_units(F.lit(1) - F.col("l_discount"))


def sum_units_split(units_col: str, k: int, prefix: str) -> tuple[Column, Column]:
    """The two BIGINT partial sums of a k-dec integer-unit column
    (``sum(v DIV 10^k)`` / ``sum(v % 10^k)`` — together the exact total,
    each within the 100 TB bounds documented above). Finish with
    :func:`sum_split_round2`."""
    m = 10 ** k
    return (
        F.sum(F.expr(f"{units_col} DIV {m}")).alias(f"{prefix}_d"),
        F.sum(F.expr(f"{units_col} % {m}")).alias(f"{prefix}_m"),
    )


def sum_cents(sum_col: str, alias: str) -> Column:
    """Exact BIGINT cent sum → the identical DOUBLE the decimal path
    produced: reassemble the exact DECIMAL (cents × 0.01 is exact at
    DECIMAL(p,0) × DECIMAL(3,2)) and cast once. BigDecimal→double
    depends only on (unscaled value, scale), both identical to
    round(sum(DECIMAL), 2) of the same rational number."""
    return F.expr(
        f"CAST(CAST({sum_col} AS DECIMAL(22,0)) * 0.01 AS DOUBLE)"
    ).alias(alias)


def sum_split_round2(div_col: str, mod_col: str, k: int, alias: str) -> Column:
    """Finish a two-accumulator k-dec grid sum (``div_col`` =
    sum(v DIV 10^k), ``mod_col`` = sum(v % 10^k)) as round(total, 2) in
    DOUBLE. For the positive totals here, HALF_UP at 2 decimals of the
    exact k-dec value S is ⌊(S·10^k-units + 10^k/200·100)/10^(k-2)⌋ …
    concretely: cents = div·100 + (mod + 10^k/2·10^-2·100) DIV 10^(k-2)
    = div·100 + (mod + 5·10^(k-3)·100) DIV 10^(k-2), exact because
    div·10^k ≡ 0 (mod 10^(k-2))."""
    half = 10 ** (k - 2) // 2  # e.g. k=4 → 50, k=6 → 5000
    unit = 10 ** (k - 2)
    return F.expr(
        f"CAST(CAST({div_col} * 100 + ({mod_col} + {half}) DIV {unit} "
        f"AS DECIMAL(22,0)) * 0.01 AS DOUBLE)"
    ).alias(alias)


def avg_on_grid_from_cents(sum_col: str, n_col: str, d: int, alias: str) -> Column:
    """:func:`avg_on_grid`'s integer HALF_UP mean, fed by an already-
    integer cent sum instead of re-deriving it from a decimal sum —
    identical S and N, identical integer formula, identical double."""
    m = 10 ** d
    return F.expr(
        f"CAST((2 * {sum_col} * {m} + 100 * {n_col}) DIV (200 * {n_col}) "
        f"AS DOUBLE) / {m}"
    ).alias(alias)


# ---- DuckDB oracle mirrors (identical grid, identical rounding) ----

SQL_PRICE = f"CAST(l_extendedprice AS {PRICE_DEC})"
SQL_DISC_PRICE = f"{SQL_PRICE} * CAST(1 - l_discount AS {FRAC_DEC})"
