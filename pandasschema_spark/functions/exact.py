"""Exact integer arithmetic helpers for cross-engine (Spark vs DuckDB)
parity of ratio/ppm columns.

The repo-wide rule (CLAUDE.md "exact proportional integer math"): NEVER
``F.floor(decimal / decimal)``. Spark's decimal division rounds the
quotient HALF_UP at scale 6 **before** ``floor`` sees it, while DuckDB's
``//`` is true integer floor division — measured divergence:

    F.floor(1333336e6 / 2000003)  ->  666667   (Spark)
    1333336 * 1000000 // 2000003  ->  666666   (DuckDB / Python)

i.e. any exact rational whose fractional part is >= 0.9999995 floors UP
in Spark. The fix is the ``apportion_budget`` idiom: subtract the exact
remainder first so the division divides EVENLY and no rounding mode can
ever see a fractional quotient.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def floor_div(num: Column, den: Column) -> Column:
    """``floor(num / den)`` over NON-NEGATIVE integer-valued decimal
    columns, exact in both engines, returned as BIGINT.

    ``(num - pmod(num, den)) / den``: multiplication/pmod/subtraction are
    exact in decimal(38,0) and the final division divides evenly, so the
    decimal quotient is an exact integer regardless of rounding mode.
    NULL/zero denominators propagate NULL (pmod(x, 0) is NULL), matching
    the plain-division behavior every call site already guards.

    Contract: ``num >= 0``, ``den > 0`` when non-NULL (all call sites
    divide counts or squares), and the QUOTIENT fits int64 — the final
    BIGINT cast raises ArithmeticException past 2^63 rather than
    silently wrapping (every caller's documented output envelope is
    already <2^63: ppm values, chi-square rational terms, KS rationals).
    For negative numerators pmod's
    always-non-negative remainder would still yield true floor for
    positive denominators, but no caller needs that and DuckDB's integer
    ``//`` truncates toward zero for negatives — keep inputs non-negative
    so the question never arises.
    """
    return ((num - F.pmod(num, den)) / den).cast("long")


def ppm(num: Column, den: Column) -> Column:
    """``floor(num * 1_000_000 / den)`` exact parts-per-million over
    non-negative integer-valued decimal columns (BIGINT): the one ppm
    rule every operator's ``*_ppm`` ratio column goes through. The
    numerator product stays in decimal(38,0), so callers pass ``num``
    already cast — ``ppm(F.sum("x").cast("decimal(38,0)"), n)``."""
    return floor_div(num * 1_000_000, den)
