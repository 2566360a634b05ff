"""Exact cross-engine rounding of integer rationals.

``round(<double>, k)`` is not portable when the double sits within ~1e-9
of the .5 tie at scale k: one engine rounds the double's exact binary
expansion (Spark's BigDecimal HALF_UP), another rounds a float multiply
(``std::round(x * 10^k)``), and near the tie they can land on opposite
sides — the r9 driver gate lost ``t17_source_mix`` to exactly this
(a weight 7.3e-10 above the tie).  ``tools/tie_audit.py`` hunts the
pattern; this module is the fix.

Whenever the rounded quantity is a RATIO OF INTEGERS ``num/den`` (counts,
cent-scaled decimals, 4dp-scaled features — almost everything a data
profiler rounds), half-away-from-zero rounding has an exact integer form:

    round(num/den, k) = sign(num) * ((2*|num|*10^k + den) div (2*den)) / 10^k

The quotient is computed on DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), so
``round()`` never sees a float and there is no tie to disagree on; the
final ``q / 10^k`` is a single correctly-rounded IEEE division, identical
on every platform.  Both dialects are emitted here so the Spark plan and
the DuckDB oracle can never drift.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

__all__ = ["round_ratio", "round_ratio_int", "round_ratio_expr", "round_ratio_sql",
           "round_ratio_int_sql", "round_dec"]


def _dec(c: Column) -> Column:
    return c.cast("decimal(38,0)")


def round_ratio_int(num: Column, den: Column, k: int) -> Column:
    """``round(num/den, k) * 10^k`` as an exact LONG — the scaled-integer
    form, for when the rounded value feeds FURTHER exact arithmetic
    (e.g. seasonal = f(trend6) in ts06) rather than going straight to
    output.  ``den`` must be > 0; ties round away from zero."""
    n, d = _dec(num), _dec(den)
    two = F.lit(2).cast("decimal(38,0)")
    m = F.lit(10 ** k).cast("decimal(38,0)")
    q = F.call_function("div", two * F.abs(n) * m + d, two * d)
    return F.when(n < 0, -q).otherwise(q)


def round_ratio(num: Column, den: Column, k: int) -> Column:
    """Exact ``round(num/den, k)`` → DOUBLE for integer-valued columns.

    ``den`` must be > 0 (wrap with ``F.greatest(den, F.lit(1))`` or guard
    NULL upstream); ``num`` may be any sign — ties round away from zero,
    matching both Spark HALF_UP and DuckDB double-round semantics.
    """
    signed = round_ratio_int(num, den, k)
    return (signed / F.lit(float(10 ** k))).cast("double")


def round_ratio_expr(num: str, den: str, k: int) -> str:
    """:func:`round_ratio` as Spark SQL text over SQL expressions ``num``
    and ``den`` — the same Catalyst tree, for callers that build a whole
    aggregate list as text."""
    n, d = f"CAST({num} AS DECIMAL(38,0))", f"CAST({den} AS DECIMAL(38,0))"
    two, m = "CAST(2 AS DECIMAL(38,0))", f"CAST({10 ** k} AS DECIMAL(38,0))"
    q = f"div(((({two} * abs({n})) * {m}) + {d}), ({two} * {d}))"
    return (f"CAST((CASE WHEN ({n} < 0) THEN (- {q}) ELSE {q} END"
            f" / {float(10 ** k)!r}D) AS DOUBLE)")


def round_ratio_int_sql(num: str, den: str, k: int) -> str:
    """DuckDB twin of :func:`round_ratio_int` (HUGEINT arithmetic)."""
    return (f"((CASE WHEN ({num}) < 0 THEN -1 ELSE 1 END)"
            f" * ((2*abs(({num})::HUGEINT)*{10 ** k} + ({den}))"
            f" // (2*({den}))))")


def round_ratio_sql(num: str, den: str, k: int) -> str:
    """DuckDB twin of :func:`round_ratio` (HUGEINT integer arithmetic)."""
    return f"({round_ratio_int_sql(num, den, k)} / 1e{k})"


def round_dec(col: Column, k: int) -> Column:
    """Round a DECIMAL column at scale k IN DECIMAL SPACE, then cast to
    double — never ``col.cast("double")`` first, which reintroduces the
    float tie.  (Trivial, but named so call sites read as intent.)"""
    return F.round(col, k).cast("double")
