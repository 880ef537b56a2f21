"""Scalar expression library (SURVEY.md §2.3, T10-T25).

Each helper is a pure Column→Column function so Catalyst sees plain
expressions: whole-stage codegen applies, predicates stay pushable, and
nothing here forces a Python round-trip. These re-express the row-level
logic of the reference's task code (cited per function) as vectorized
JVM-side expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def first_true_flag(flag_cols: list[str], otherwise: str = "None") -> Column:
    """T14 — first boolean-ish column equal to 'True' wins, else
    ``otherwise`` (reference tasks/accident_analysis.py:47-55).
    A chained CASE WHEN, evaluated in the given priority order.
    """
    expr = F.lit(otherwise)
    for name in reversed(flag_cols):
        expr = F.when(F.col(name) == "True", F.lit(name)).otherwise(expr)
    return expr


def bucket_weather(col: Column) -> Column:
    """T15 — free-text weather → {Fair, Cloudy, PartlyClear, BadWeather,
    Unknown} via equality + substring tests on the lowercased input
    (reference tasks/accident_analysis.py:58-75)."""
    low = F.lower(col)
    return (
        F.when(low == "fair", "Fair")
        .when(low.contains("cloud") | low.contains("overcast"), "Cloudy")
        .when(low.contains("clear") | low.contains("partly"), "PartlyClear")
        .when(
            low.contains("rain")
            | low.contains("snow")
            | low.contains("storm")
            | low.contains("fog")
            | low.contains("wind"),
            "BadWeather",
        )
        .otherwise("Unknown")
    )


def with_default(col: Column, default) -> Column:
    """T16 — null/missing → default
    (reference tasks/accident_analysis.py:25-26)."""
    return F.coalesce(col, F.lit(default))


def safe_double(col: Column, fallback: float) -> Column:
    """T17 — numeric cast with fallback on parse failure
    (reference tasks/accident_analysis.py:30-37). ``try_cast``
    yields null on bad input instead of raising (ANSI-safe)."""
    return F.coalesce(col.try_cast("double"), F.lit(float(fallback)))


def composite_key(*cols: Column | str, sep: str = "_") -> Column:
    """T18 — composite string key
    (reference tasks/accident_analysis.py:28)."""
    return F.concat_ws(sep, *cols)


def parse_ts_seconds(col: Column) -> Column:
    """T19 — timestamp parse truncated to seconds: strptime on the
    first 19 chars (reference tasks/accident_analysis.py:78-87);
    unparseable → null (try semantics)."""
    return F.try_to_timestamp(F.substring(col, 1, 19), F.lit("yyyy-MM-dd HH:mm:ss"))


def duration_hours(start: Column, end: Column) -> Column:
    """T20 — duration in fractional hours, parse failure → 0.0
    (reference tasks/accident_analysis.py:85-87)."""
    hours = (F.unix_timestamp(end) - F.unix_timestamp(start)) / 3600.0
    return F.coalesce(hours.cast("double"), F.lit(0.0))


def impact_score(severity: Column, distance: Column, duration_h: Column) -> Column:
    """T21 — impact = severity * (1+distance) * (1+duration)
    (reference tasks/accident_analysis.py:40)."""
    return severity * (F.lit(1.0) + distance) * (F.lit(1.0) + duration_h)


def danger_score(avg_impact: Column, count_col: Column) -> Column:
    """T22/T28 — post-agg metric avg_impact * ln(count+1)
    (reference tasks/accident_analysis.py:116-117)."""
    return avg_impact * F.log(count_col + F.lit(1))


def formula_string(avg_impact: Column, log_factor: Column, score: Column) -> Column:
    """T23 — human-readable formula column
    (reference tasks/accident_analysis.py:126)."""
    return F.concat(
        avg_impact.cast("string"),
        F.lit(" * "),
        log_factor.cast("string"),
        F.lit(" = "),
        score.cast("string"),
    )


def key_field(col: Column, index: int, sep: str = "_") -> Column:
    """T24 — extract one field of a composite key
    (reference tasks/accident_analysis.py:95)."""
    return F.split(col, sep).getItem(index)
