"""E-mail format rule (reference R8, /root/reference/home.py:476-563).

The reference unions 10 per-column filter families; here each sub-rule is a
boolean expression and the violation is their OR — one projection, one scan
(SURVEY §4 rewrite 1).  ``email_flags`` exposes the per-sub-rule booleans so
violation *counts by cause* come from the same single pass.  The ~70-literal
expression is built as Spark SQL text (``*_expr``) and sent to the JVM in
one call (functions/sqltext.py).

Fidelity note (documented deviation): reference f3 is
``~contains("@") | ~contains(".")`` where "." is a REGEX any-char, so its
dot-clause only fires on empty strings (home.py:507-508).  We implement the
evident intent — a literal dot — as SURVEY §2.9 prescribes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dataqtor_spark.functions.sqltext import any_of, contains_any, ident, lit

# f1 — forbidden characters (home.py:477-505); all literal contains
FORBIDDEN_CHARS = [
    "~", "`", "!", "#", "%", "&", "=", "{", "}", "]", ":", ";", "/", ">",
    "<", "'", '"', " ", "(", "\\", ",", "?", "|", "[", "+", ")", "*", "^", "$",
]

# f5 — dummy prefixes (home.py:510-517) + "ingo@" (listed inside v3, :551)
DUMMY_PREFIXES = ["@", "yok@", "YOK@", "www", "bbb@", "girilecek@",
                  "deneme@", "Mailadresi@", "dummy@", "ingo@"]

# f6 — malformed around '@' (home.py:518-520)
MALFORMED_AT = ["@.", ".@", "@-"]

# v1 — Turkish letters (home.py:521-532)
TURKISH_CHARS = ["ı", "İ", "ç", "Ç", "ş", "Ş", "ğ", "Ğ", "ü", "Ü", "ö", "Ö"]

# v3 — truncated/invalid endings (home.py:534-554)
BAD_ENDINGS = [
    "gmail", "yahoo", "hotmail", "msn", "@live", "yandex", "outlook",
    "windowslive", ".com.t", ".o", ".cm", ".co", ".ocom", ".ney", ".co.",
    ".cvom", ".comtr", ".com.", ".comom", ".c", ".r", ".com.tr'", ".com.tr/",
]

# v4 — typo domains (home.py:555-558)
TYPO_DOMAINS = ["windowlive", "hotmil", "hatmail", "hotmial", "gamil",
                "gmmail", "outlok", "yaaho"]


def email_flags_expr(expr: str) -> dict[str, str]:
    """Spark SQL text of each sub-rule over the SQL expression ``expr``
    (null input → false for every flag)."""
    c = f"CAST({expr} AS STRING)"
    flags = {
        "f1_forbidden_chars": contains_any(c, FORBIDDEN_CHARS),
        "f2_too_short": f"(length({c}) <= 6)",
        "f3_missing_at_or_dot": f"((NOT contains({c}, '@')) OR (NOT contains({c}, '.')))",
        "f4_multiple_at": f"((length({c}) - length(regexp_replace({c}, '@', ''))) > 1)",
        "f5_dummy_prefix": any_of(f"startswith({c}, {lit(p)})" for p in DUMMY_PREFIXES),
        "f6_malformed_at": contains_any(c, MALFORMED_AT),
        "v1_turkish_chars": contains_any(c, TURKISH_CHARS),
        "v2_uppercase": f"({c} RLIKE '[A-Z]')",
        "v3_bad_ending": any_of(f"endswith({c}, {lit(e)})" for e in BAD_ENDINGS),
        "v4_typo_domain": contains_any(c, TYPO_DOMAINS),
    }
    # null-audit: make every flag null-safe false so OR-union can't go null
    return {k: f"coalesce({v}, false)" for k, v in flags.items()}


def email_violation_expr(expr: str) -> str:
    """Spark SQL text: true iff any sub-rule fires (the reference's unioned
    violation set)."""
    return any_of(email_flags_expr(expr).values())


def email_flags(col: str) -> dict[str, Column]:
    """Per-sub-rule boolean columns over column ``col``."""
    return {k: F.expr(v) for k, v in email_flags_expr(ident(col)).items()}


def email_violation(col: str) -> Column:
    """Boolean column: the value of column ``col`` violates the rule."""
    return F.expr(email_violation_expr(ident(col)))


# --- SQL twin (DuckDB) -----------------------------------------------------

def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def email_flags_sql(expr: str) -> dict[str, str]:
    """DuckDB twin of :func:`email_flags` — one boolean per sub-rule,
    same keys."""
    contains = lambda n: f"contains({expr}, {_sql_quote(n)})"  # noqa: E731
    return {
        "f1_forbidden_chars": " OR ".join(contains(n) for n in FORBIDDEN_CHARS),
        "f2_too_short": f"length({expr}) <= 6",
        "f3_missing_at_or_dot": f"(NOT contains({expr}, '@') OR NOT contains({expr}, '.'))",
        "f4_multiple_at": f"(length({expr}) - length(replace({expr}, '@', ''))) > 1",
        "f5_dummy_prefix": " OR ".join(f"starts_with({expr}, {_sql_quote(p)})"
                                       for p in DUMMY_PREFIXES),
        "f6_malformed_at": " OR ".join(contains(n) for n in MALFORMED_AT),
        "v1_turkish_chars": " OR ".join(contains(n) for n in TURKISH_CHARS),
        "v2_uppercase": f"regexp_matches({expr}, '[A-Z]')",
        "v3_bad_ending": " OR ".join(f"ends_with({expr}, {_sql_quote(e)})"
                                     for e in BAD_ENDINGS),
        "v4_typo_domain": " OR ".join(contains(n) for n in TYPO_DOMAINS),
    }


def email_violation_sql(expr: str) -> str:
    """DuckDB boolean with identical semantics to :func:`email_violation`."""
    return ("(" + " OR ".join(f"({p})" for p in email_flags_sql(expr).values())
            + ")")
