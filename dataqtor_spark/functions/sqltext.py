"""Spark SQL text building blocks for literal-heavy expressions.

Composing an expression from Column operations costs one py4j round trip
per operation, so a rule with a hundred literals costs hundreds of round
trips before Spark does any work.  The same expression written as ONE
Spark SQL string goes to the JVM in a single ``F.expr`` / ``selectExpr``
call and parses to the same Catalyst tree.  These helpers keep that text
safe: identifiers are backtick-quoted (so ``e.mail`` is a column, not a
struct field) and string literals are escaped.
"""

from __future__ import annotations

import math
from typing import Any, Iterable


def ident(name: str) -> str:
    """A column or alias name as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def lit(v: Any) -> str:
    """A Python str / bool / int / finite float as a Spark SQL literal of
    the type ``F.lit`` would give it (floats are DOUBLE: ``1.5D``)."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float) and math.isfinite(v):
        return repr(v) + "D"
    raise TypeError(f"no Spark SQL literal for {v!r}")


def any_of(terms: Iterable[str]) -> str:
    """``false OR t1 OR t2 …`` — the left-deep OR chain a Column fold
    starting from ``F.lit(False)`` builds."""
    return "(" + " OR ".join(["false", *terms]) + ")"


def contains_any(expr: str, needles: Iterable[str]) -> str:
    """``expr`` contains at least one of ``needles`` (literal substrings)."""
    return any_of(f"contains({expr}, {lit(n)})" for n in needles)


def isin(expr: str, values: Iterable[Any]) -> str:
    """``expr IN (…)``; an empty list is never matched."""
    vals = [lit(v) for v in values]
    return f"({expr} IN ({', '.join(vals)}))" if vals else "false"


def struct(fields: Iterable[tuple[str, str]]) -> str:
    """``struct(e1 AS n1, …)`` from (expression, field name) pairs."""
    return "struct(" + ", ".join(f"{e} AS {ident(n)}" for e, n in fields) + ")"


def count_true(pred: str) -> str:
    """Aggregate: rows where ``pred`` holds (0, never NULL, on no rows)."""
    return f"coalesce(sum(CAST(({pred}) AS BIGINT)), 0)"


def pct(part: str, total: str) -> str:
    """``part`` as a percentage of ``total`` rounded to 2 dp, 0.0 when
    ``total`` is 0 — the score/null-rate formula of the summary tables."""
    return (f"CASE WHEN ({total} > 0) THEN round((({part} * 100.0D) / {total}), 2) "
            f"ELSE 0.0D END")
