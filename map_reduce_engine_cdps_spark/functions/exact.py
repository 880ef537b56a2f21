"""Exact integer-money accumulation helpers (round-10 census of the
round-9 knife-edge class).

A double ``sum()`` over corpus-sized money columns is partial-order-
dependent in the last ULP: Spark's task-merge order and DuckDB's
accumulation order differ, so a group sum landing on a half-cent
boundary can flip a ``round(x, 2)`` digit engine-to-engine — or
run-to-run on the SAME engine, since task scheduling varies (the
round-9 derived-sf1 battery caught 7 such flips, one intermittent).
Accumulating in integer cents is exact and associative, so the result
is identical under ANY merge order; the single trailing division and
round are one deterministic IEEE op each.

Conventions (all money columns in the testdata are exact 2-dp):

- ``cents(c)``          → per-row ``round(c*100)`` as long (exact).
- ``disc_units(p, d)``  → ``cents(p) * (100 - pct(d))`` — the TPC-H
  ``p*(1-d)`` product in 1e-4-dollar units, exact (discount is 2-dp so
  ``pct(d)`` is an exact integer 0..100).
- ``rebate_units(p,d)`` → ``cents(p) * pct(d)`` — ``p*d`` in 1e-4 units.

Overflow headroom: price cents ≤ 1.1e7/row, disc units ≤ 1.1e9/row; a
long (2^63 ≈ 9.2e18) holds >8e9 rows per group of disc units — beyond
per-group cardinality at any plausible SF. Global single-group sums
past ~1e10 rows should accumulate decimal(38,0) instead (see
rolling_zscore_anomalies' squared-cents window for the pattern).

The DuckDB snippets mirror the Spark expressions token-for-token:
DuckDB's sum(BIGINT) returns HUGEINT, so every sum is cast back to
BIGINT before the float division to keep both engines' value + type
paths identical. (HUGEINT never reaches a result column — the
oracle_check type lint forbids it there.)

Residual knife edge (documented, not fixed — ADVICE r10): for rounded
QUOTIENTS (avg/ratio sites) the trailing ``round(int/int, dp)`` is
exact in the division (one deterministic IEEE op on identical integer
inputs) but NOT engine-identical in the round itself: Spark's F.round
half-ups the double's shortest decimal representation
(BigDecimal.valueOf(double) → ROUND_HALF_UP), while DuckDB rounds the
binary value. A quotient within ~1 ULP of a dp-digit midpoint can
therefore still flip the last digit engine-to-engine. This class is
far narrower than the fixed one — it needs the exact integer quotient
to land within a ULP of a midpoint, whereas the fixed class only
needed any merge-order variance — and it is merge-order-INVARIANT
(both engines compute the same double every run; only the final digit
convention differs), so it cannot cause run-to-run flicker, only a
stable oracle mismatch that the 4-SF battery would catch
deterministically. Where a quotient feeds a FILTER/ORDERING boundary,
do not round-then-compare: compare integer-scaled
(``num * scale cmp den * k``) instead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: str | Column) -> Column:
    """Exact per-row integer cents of a 2-dp money column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def pct(col: str | Column) -> Column:
    """Exact per-row integer percent of a 2-dp fraction column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def disc_units(
    price: str = "l_extendedprice", disc: str = "l_discount"
) -> Column:
    """``price * (1 - disc)`` in exact 1e-4-dollar integer units."""
    return cents(price) * (100 - pct(disc))


def rebate_units(
    price: str = "l_extendedprice", disc: str = "l_discount"
) -> Column:
    """``price * disc`` in exact 1e-4-dollar integer units."""
    return cents(price) * pct(disc)


def sum_money(col: str | Column, dp: int = 2) -> Column:
    """round(sum(cents)/100, dp) — exact-sum replacement for
    ``F.round(F.sum(money_col), dp)``."""
    return F.round(F.sum(cents(col)) / 100.0, dp)


def sum_disc_price(
    price: str = "l_extendedprice", disc: str = "l_discount", dp: int = 2
) -> Column:
    """Exact-sum replacement for ``round(sum(p*(1-d)), dp)``."""
    return F.round(F.sum(disc_units(price, disc)) / 10000.0, dp)


# --- DuckDB oracle snippets (format with .format(c=column)) ---------------

# round(sum(money), dp) replacement
SQL_SUM_MONEY = (
    "round(CAST(sum(CAST(round({c} * 100) AS BIGINT)) AS BIGINT)"
    " / 100.0, {dp})"
)

# Bare per-row units expressions — the single authoritative copy of
# the cents encoding for queries that embed units inside CASE/ratio
# legs rather than a whole-sum (plans/tpch.py formats these; ADVICE
# r10 flagged its hand-written duplicate as silent-drift risk).
SQL_DISC_UNITS = (
    "CAST(round({p} * 100) AS BIGINT)"
    " * (100 - CAST(round({d} * 100) AS BIGINT))"
)
SQL_REBATE_UNITS = (
    "CAST(round({p} * 100) AS BIGINT) * CAST(round({d} * 100) AS BIGINT)"
)

# round(sum(p * (1 - d)), dp) replacement — derived from the bare
# snippet so the two can never drift.
SQL_SUM_DISC_PRICE = (
    "round(CAST(sum(" + SQL_DISC_UNITS + ") AS BIGINT) / 10000.0, {dp})"
)

# round(sum(p * d), dp) replacement
SQL_SUM_REBATE = (
    "round(CAST(sum(" + SQL_REBATE_UNITS + ") AS BIGINT) / 10000.0, {dp})"
)
