"""Turkish national-ID (TC Kimlik No) and tax-number checksum validators.

Semantics from the reference validators (/root/reference/TRnoChecker.py:1-51),
re-expressed as pure Spark expressions — fixed-length digit arithmetic with
``pmod``, no UDF — so validation runs inside whole-stage codegen and the
oracle SQL can be generated from the same spec.  The Spark form is built as
one SQL string (``*_expr``), so the ~100-operation checksum costs a single
py4j call (functions/sqltext.py).

TCID (TRnoChecker.py:1-21): 11 digits, first digit non-zero,
  d11 == sum(d1..d10) mod 10,
  d10 == (7*(d1+d3+d5+d7+d9) - (d2+d4+d6+d8)) mod 10   (Python mod → pmod).

Tax number (TRnoChecker.py:24-51): 10 digits where for x in 0..8:
  t1 = (d[x] + 9 - x) mod 10 ;  t2 = (t1 * 2^(9-x)) mod 9 ;
  t1 != 0 and t2 == 0 → t2 = 9 ;  check = (10 - sum(t2) mod 10) mod 10 ;
  valid iff d[9] == check.  11-digit values fall through to the TCID check.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dataqtor_spark.functions.sqltext import ident


def _digits(c: str, n: int) -> list[str]:
    """1-indexed digits 1..n as int (try_cast: ANSI-safe on non-digit
    input — the rlike guard makes the AND false regardless, three-valued
    logic)."""
    return [f"try_cast(substring({c}, {i}, 1) AS INT)" for i in range(1, n + 1)]


def _plus(terms: list[str]) -> str:
    return "(" + " + ".join(terms) + ")"


def tcid_expr(expr: str) -> str:
    """Spark SQL boolean: the SQL expression ``expr`` passes the TC Kimlik
    No checksum."""
    c = f"CAST({expr} AS STRING)"
    d = _digits(c, 11)  # d[0] == digit 1
    odd = _plus(d[0:10:2])
    even = _plus(d[1:9:2])
    sum10 = _plus(["0", *d[0:10]])
    return (
        f"(((((length({c}) = 11) AND ({c} RLIKE '^[0-9]{{11}}$'))"
        f" AND ({d[0]} != 0))"
        f" AND (pmod({sum10}, 10) = {d[10]}))"
        f" AND (pmod((({odd} * 7) - {even}), 10) = {d[9]}))"
    )


def taxnum_expr(expr: str) -> str:
    """Spark SQL boolean: the SQL expression ``expr`` passes the Vergi (tax)
    number checksum (or, for 11-digit values, the TCID checksum — reference
    fall-through)."""
    c = f"CAST({expr} AS STRING)"
    d = _digits(c, 10)
    terms = ["0"]
    for x in range(9):
        t1 = f"pmod(({d[x]} + {9 - x}), 10)"
        t2 = f"pmod(({t1} * {2 ** (9 - x)}), 9)"
        terms.append(f"CASE WHEN (({t1} != 0) AND ({t2} = 0)) THEN 9 ELSE {t2} END")
    check = f"pmod((10 - pmod({_plus(terms)}, 10)), 10)"
    ten_ok = f"(((length({c}) = 10) AND ({c} RLIKE '^[0-9]{{10}}$')) AND ({d[9]} = {check}))"
    eleven_ok = f"((length({c}) = 11) AND {tcid_expr(c)})"
    return f"({ten_ok} OR {eleven_ok})"


def is_valid_tcid(col: str) -> Column:
    """Boolean column: column ``col`` passes the TC Kimlik No checksum."""
    return F.expr(tcid_expr(ident(col)))


def is_valid_taxnum(col: str) -> Column:
    """Boolean column: column ``col`` passes the tax-number checksum."""
    return F.expr(taxnum_expr(ident(col)))


# --- SQL twins (DuckDB dialect) so oracles derive from the same spec -------

def tcid_sql(expr: str) -> str:
    """DuckDB SQL boolean for the TCID checksum over string expression ``expr``."""
    d = [f"TRY_CAST(substring({expr}, {i}, 1) AS INT)" for i in range(1, 12)]
    odd = " + ".join([d[0], d[2], d[4], d[6], d[8]])
    even = " + ".join([d[1], d[3], d[5], d[7]])
    sum10 = " + ".join(d[0:10])
    return (
        f"(length({expr}) = 11 AND regexp_matches({expr}, '^[0-9]{{11}}$') "
        f"AND {d[0]} <> 0 "
        f"AND (({sum10}) % 10) = {d[10]} "
        f"AND ((((7 * ({odd})) - ({even})) % 10 + 10) % 10) = {d[9]})"
    )


def taxnum_sql(expr: str) -> str:
    """DuckDB SQL boolean for the tax-number checksum (incl. 11-digit TCID
    fall-through) over string expression ``expr``."""
    d = [f"TRY_CAST(substring({expr}, {i}, 1) AS INT)" for i in range(1, 11)]
    terms = []
    for x in range(9):
        t1 = f"(({d[x]} + {9 - x}) % 10)"
        t2 = f"(({t1} * {2 ** (9 - x)}) % 9)"
        terms.append(f"(CASE WHEN {t1} <> 0 AND {t2} = 0 THEN 9 ELSE {t2} END)")
    total = " + ".join(terms)
    check = f"((10 - (({total}) % 10)) % 10)"
    ten = (
        f"(length({expr}) = 10 AND regexp_matches({expr}, '^[0-9]{{10}}$') "
        f"AND {d[9]} = {check})"
    )
    eleven = f"(length({expr}) = 11 AND {tcid_sql(expr)})"
    return f"({ten} OR {eleven})"


def _luhn_sum_sql(expr: str, length: int) -> str:
    """Dialect-neutral SQL for the Luhn digit sum of a fixed-length digit
    string: doubling every second digit from the RIGHT (>9 folds to
    digit sum − 9); valid ⇔ sum % 10 = 0.  Uses only substring / CAST /
    CASE, which Spark SQL and DuckDB parse identically, so the same
    generated string serves both the operator and the oracle."""
    terms = []
    for i in range(1, length + 1):
        # TRY_CAST, not CAST: ANSI Spark does not short-circuit the
        # length conjunct, so a non-digit character must yield NULL
        # (folded to false below), never a cast error
        d = f"TRY_CAST(substring({expr}, {i}, 1) AS INT)"
        if (length - i) % 2 == 1:  # doubled positions, counted from right
            terms.append(f"(CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9 "
                         f"ELSE {d} * 2 END)")
        else:
            terms.append(d)
    return "(" + " + ".join(terms) + ")"


def luhn_valid_sql(expr: str, length: int = 16) -> str:
    """Boolean SQL: ``expr`` is a ``length``-digit string passing the
    Luhn check (payment cards, IMEI, many national ids) — the mod-10
    sibling of the TR-ID/tax checksums, same pure-arithmetic recipe.
    Non-digit characters NULL the digit sum, which folds to false."""
    return (f"(length({expr}) = {length} "
            f"AND coalesce({_luhn_sum_sql(expr, length)} % 10 = 0, false))")


def luhn_valid(col, length: int = 16):
    """Column form of :func:`luhn_valid_sql` (generated expression —
    stays inside whole-stage codegen, no UDF).  Built with native Column
    operations — no stringify-and-reparse round trip — so it accepts
    arbitrary Column expressions and works on Spark Connect, where
    ``Column._jc`` does not exist.  A non-digit character NULLs its term
    (the rlike guard mirrors TRY_CAST in the SQL form), folding to false."""
    from pyspark.sql import Column, functions as F

    c = col if isinstance(col, Column) else F.col(str(col))
    total = F.lit(0)
    for i in range(1, length + 1):
        ch = F.substring(c, i, 1)
        d = F.when(ch.rlike("^[0-9]$"), ch.cast("int"))
        if (length - i) % 2 == 1:  # doubled positions, counted from right
            term = F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)
        else:
            term = d
        total = total + term
    return (F.length(c) == length) & F.coalesce(total % 10 == 0, F.lit(False))
