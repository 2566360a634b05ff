"""Turkish phone-number rule (reference R12, /root/reference/home.py:603-1130).

The reference expresses ~95 positional mask families as separate pandas
filters and unions them.  Two structural facts drive this implementation:

1.  The final violation set (``prob``, home.py:1104-1113) is the union of
    every mask PLUS ``yothers`` = everything longer than 10 chars — so every
    mask is subsumed and the violation predicate reduces to::

        len(v) > 10  OR  len(v) < 10  OR  contains-letter
        OR (len == 10 AND (starts with 0 | has separator))  OR  dummy-substr

    One boolean expression, one scan (SURVEY §4 rewrite 3).

2.  The masks still matter as *format classification* (which fixable format
    a record is in, driving the graph and the repair suggestions), so they
    are kept as a declarative table compiled to ``length``+``substring``
    conjunctions — codegen-friendly, no regexes — and exposed via
    :func:`phone_format_class` (first match in reference union order, i.e.
    pandas ``drop_duplicates(keep='first')`` semantics).

Each table row: (name, length, {0-based-pos: literal}, prefix, suffix,
must-not-contain, must-contain).  Positions use Python slice indices exactly
as the reference writes them (``s[4:6] == ") "`` → ``{4: ") "}``).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

from dataqtor_spark.functions.sqltext import any_of, contains_any, ident

# (name, length, {pos: literal}, startswith, endswith, not_contains, contains)
# Transcribed 1:1 from home.py:606-1083; names keep the reference's dNNN ids.
PHONE_MASKS: list[tuple[str, int, dict[int, str], str | None, str | None, list[str], list[str]]] = [
    ("d111", 11, {}, "0", None, [" "], []),
    ("d211", 11, {3: " "}, None, None, ["^0"], []),   # ^0 sentinel: NOT startswith 0
    ("d311", 11, {3: "-"}, None, None, ["^0"], []),
    ("d411", 11, {}, "-", None, [" "], []),
    ("d112", 12, {}, "90", None, [" "], []),
    ("d212", 12, {}, "0-", None, [" "], []),
    ("d312", 12, {4: " "}, "0", None, [], []),
    ("d412", 12, {3: " ", 7: " "}, None, None, [], []),
    ("d512", 12, {6: " ", 9: " "}, None, None, [], []),
    ("d612", 12, {4: "-"}, "0", None, [" "], []),
    ("d712", 12, {3: " ", 8: "-"}, None, None, ["^0"], []),
    ("d812", 12, {}, "0 ", None, [], []),
    ("d912", 12, {7: " "}, "0", None, [], []),
    ("d1012", 12, {4: "/"}, "0", None, [" "], []),
    ("d1112", 12, {}, "-0", None, [" ", "/", "(", ")"], []),
    ("d1212", 12, {}, None, None, ["-", "/", "(", ")"], ["  "]),
    ("d1312", 12, {4: ")"}, "(", None, ["-", "/", " "], []),
    ("d113", 13, {3: " ", 7: " ", 9: " "}, None, None, ["-", "/"], []),
    ("d213", 13, {3: " ", 7: "-", 10: "-"}, None, None, [], []),
    ("d313", 13, {4: ") "}, "(", None, [], []),
    ("d413", 13, {3: " "}, "90", None, [], []),
    ("d513", 13, {3: " ", 7: "  "}, None, None, [], []),
    ("d613", 13, {3: "-", 7: "-", 10: "-"}, None, None, [" "], []),
    ("d713", 13, {3: " ", 8: " "}, "0", None, [], []),
    ("d813", 13, {4: "  "}, "0", None, [], []),
    ("d913", 13, {3: " ", 7: " ", 10: " "}, None, None, [], []),
    ("d1013", 13, {4: " ", 8: " "}, "0", None, [], []),
    ("d1113", 13, {7: " ", 10: " "}, "0", None, [], []),
    ("d1213", 13, {5: ")"}, "(0", None, ["-", "/", " "], []),
    ("d1313", 13, {3: "-", 7: " ", 10: " "}, None, None, ["/"], []),
    ("d1413", 13, {4: "- "}, "0", None, ["/"], []),
    ("d1513", 13, {3: "- ", 8: " "}, None, None, ["/"], []),
    ("d1613", 13, {7: " ", 9: " "}, "0", None, ["/"], []),
    ("d1713", 13, {5: "-"}, "0-", None, ["/", " "], []),
    ("d1813", 13, {5: " "}, "0 ", None, ["/", "-"], []),
    ("d1913", 13, {4: ") "}, "0", None, ["/", "-"], []),
    ("d114", 14, {4: " ", 8: " ", 11: " "}, "0", None, ["/", "-"], []),
    ("d214", 14, {3: ") ", 8: " ", 11: " "}, None, None, ["/", "-"], []),
    ("d314", 14, {5: " ", 9: " "}, "0 ", None, ["/", "-"], []),
    ("d414", 14, {3: "  ", 8: " ", 11: " "}, None, None, ["/", "-"], []),
    ("d514", 14, {3: " ", 7: " ", 10: "  "}, None, None, ["/", "-"], []),
    ("d614", 14, {4: ") ", 9: "-"}, "(", None, ["/"], []),
    ("d714", 14, {5: ") "}, "(0", None, ["/", "-"], []),
    ("d814", 14, {5: ") "}, "0(", None, ["/", "-"], []),
    ("d914", 14, {6: ")"}, "90(", None, ["/", "-", " "], []),
    ("d1014", 14, {4: " "}, "0", " /", ["-"], []),
    ("d1114", 14, {6: ")"}, "0 (", None, ["-", "/"], []),
    ("d1214", 14, {4: ")", 8: " ", 11: " "}, "(", None, ["-", "/"], []),
    ("d1314", 14, {4: "-", 8: " ", 11: " "}, "0", None, ["/"], []),
    ("d1414", 14, {4: "-", 8: "-", 11: "-"}, "0", None, ["/", " "], []),
    ("d1514", 14, {4: ")", 8: " ", 11: " "}, "0", None, ["/", "-"], []),
    ("d1614", 14, {4: ") ", 9: " "}, "(", None, ["/", "-"], []),
    ("d1714", 14, {8: " ", 11: " "}, "0 ", None, ["/", "-"], []),
    ("d1814", 14, {4: " ", 6: " ", 9: " "}, "0", None, ["/", "-"], []),
    ("d1914", 14, {4: " ", 8: " ", 10: " "}, "0", None, ["/", "-"], []),
    ("d2014", 14, {4: " ", 8: "-", 11: "-"}, "0", None, ["/"], []),
    ("d115", 15, {1: " ", 5: " ", 10: " ", 13: " "}, "0", None, [], []),
    ("d215", 15, {5: " ", 9: " ", 12: " "}, "0 ", None, ["/", "-"], []),
    ("d315", 15, {3: "  ", 8: " ", 11: "  "}, None, None, ["/", "-"], []),
    ("d415", 15, {4: " ", 8: " ", 11: "  "}, "0", None, ["/", "-"], []),
    ("d515", 15, {5: ") ", 10: " "}, "0(", None, ["/", "-"], []),
    ("d615", 15, {3: " / ", 9: " ", 12: " "}, None, None, ["-"], []),
    ("d715", 15, {5: " ", 8: " ", 11: " "}, "0 ", None, ["/", "-"], []),
    ("d815", 15, {4: "- ", 9: " ", 12: " "}, "0", None, ["/"], []),
    ("d915", 15, {4: "  ", 9: " ", 12: " "}, "0", None, ["/", "-"], []),
    ("d1015", 15, {6: ") "}, "0 (", None, ["/", "-"], []),
    ("d1115", 15, {5: ") ", 10: " "}, "(0", None, ["/", "-"], []),
    ("d1215", 15, {5: "-", 9: "-", 12: "-"}, "0-", None, ["/", " "], []),
    ("d1315", 15, {4: ") ", 9: " ", 12: " "}, "(", None, ["/", "-"], []),
    ("d1415", 15, {6: " ", 10: " "}, "90 ", None, ["/", "-"], []),
    ("d1515", 15, {4: ") ", 9: " ", 12: " "}, "0", None, ["/", "-"], []),
    ("d1615", 15, {5: " ", 9: " ", 12: " "}, "0-", None, ["/"], []),
    ("d1715", 15, {4: " ", 8: "  ", 12: " "}, "0", None, ["/", "-"], []),
    ("d1815", 15, {5: "-", 9: " ", 12: " "}, "0-", None, ["/"], []),
    ("d116", 16, {5: ") ", 10: " ", 13: " "}, "(0", None, [], []),
    ("d216", 16, {7: " ", 11: " "}, "+90 ", None, [], []),
    ("d316", 16, {5: ") ", 10: " ", 13: " "}, "0(", None, [], []),
    ("d416", 16, {5: " ", 9: "  ", 13: " "}, "0 ", None, [], []),
    ("d516", 16, {6: " ", 10: " ", 13: " "}, "0  ", None, [], []),
    ("d616", 16, {7: ") "}, "90)(", None, ["/", "-"], []),
    ("d716", 16, {8: " "}, "0090 ", None, ["/", "-"], []),
    ("d816", 16, {6: " ", 10: " ", 12: " "}, "90 ", None, ["/", "-"], []),
    ("d916", 16, {6: " ", 9: " ", 12: " "}, "90 ", None, ["/", "-"], []),
    ("d1016", 16, {6: ") ", 11: " "}, "0 (", None, ["/", "-"], []),
    ("d1116", 16, {6: " ", 10: " ", 13: " "}, "90 ", None, ["/", "-"], []),
    ("d1216", 16, {5: " ", 9: "  ", 13: " "}, "0 ", None, ["/", "-"], []),
    ("d117", 17, {6: ") ", 11: " ", 14: " "}, "0 (", None, [], []),
    ("d217", 17, {6: ") ", 11: " ", 14: " "}, "(0 ", None, [], []),
    ("d317", 17, {7: " ", 11: " ", 14: " "}, "+90 ", None, [], []),
    ("d118", 18, {6: " ) ", 12: " ", 15: " "}, "( 0", None, [], []),
    ("d119", 19, {8: ") ", 13: " ", 16: " "}, "+90 (", None, [], []),
]

# dummy substrings (home.py:1092-1098)
DUMMY_PHONE_PATTERNS = [
    "000 00 00", "111 11 11", "222 22 22", "333 33 33", "444 44 44",
    "555 55 55", "666 66 66", "777 77 77", "888 88 88", "999 99 99",
    "000000", "111111", "222222", "333333", "444444", "555555", "666666",
    "777777", "888888", "999999", "12345", "23456", "34567", "45678",
    "56789", "67890", "09876", "98765", "87654", "76543", "65432", "54321",
]

SEPARATOR_CHARS = ["/", "-", " ", ")", "("]


def _contains_any(c: Column, needles: list[str]) -> Column:
    out = F.lit(False)
    for n in needles:
        out = out | c.contains(n)
    return out


def phone_flags_expr(expr: str) -> dict[str, str]:
    """Spark SQL text of the four violation families over the SQL
    expression ``expr`` (null-safe false)."""
    c = f"CAST({expr} AS STRING)"
    ln = f"length({c})"
    flags = {
        "bad_ten_digit": (f"(({ln} = 10) AND (startswith({c}, '0') OR "
                          f"{contains_any(c, SEPARATOR_CHARS)}))"),
        "dummy_sequence": contains_any(c, DUMMY_PHONE_PATTERNS),
        "invalid": f"(({ln} < 10) OR ({c} RLIKE '[A-Za-z]'))",
        "overlong": f"({ln} > 10)",
    }
    return {k: f"coalesce({v}, false)" for k, v in flags.items()}


def phone_violation_expr(expr: str) -> str:
    """Spark SQL text: true iff the value violates the TR phone rule (see
    the module docstring for the reduction of the reference's 95-mask
    union)."""
    return any_of(phone_flags_expr(expr).values())


def phone_flags(col: str) -> dict[str, Column]:
    """The four violation families over column ``col``."""
    return {k: F.expr(v) for k, v in phone_flags_expr(ident(col)).items()}


def phone_violation(col: str) -> Column:
    """Boolean column: the value of column ``col`` violates the rule."""
    return F.expr(phone_violation_expr(ident(col)))


def phone_format_class(col: Column | str) -> Column:
    """Memoized for string column names: building the ~600-predicate tree
    costs ~2 s of driver-side py4j traffic, and the expression is a pure
    function of the column name — build once per process."""
    if isinstance(col, str):
        return _phone_format_class_cached(col)
    return _phone_format_class(col)


@functools.lru_cache(maxsize=32)
def _phone_format_class_cached(col: str) -> Column:
    return _phone_format_class(col)


def _phone_format_class(col: Column | str) -> Column:
    """Fixable-format classification: the first matching mask name in the
    reference's union order, else 'dummy'/'bad_ten_digit'/'invalid'/
    'overlong' for the residual families, else 'ok'.

    Physical shape: the mask table is DATA, not branches — one literal
    ``array<struct>`` (constant-folded by Catalyst) scanned in-row with
    ``filter``/``forall``; the first survivor in array order IS the
    reference's first-match union order.  The previous form compiled the
    ~95 masks into a ~600-predicate CASE tree whose per-query analysis +
    codegen cost ~1 s regardless of data size; this form plans in
    milliseconds and evaluates the same short-circuit conjunctions per
    row (the leading length check prunes ~all non-matching masks in one
    comparison).  Differentially verified against the CASE-tree form on
    150 k derived strings: 0 mismatches.
    """
    c = (F.col(ident(col)) if isinstance(col, str) else col).cast("string")
    ln = F.length(c)
    mask_lengths = sorted({m[1] for m in PHONE_MASKS})
    table = F.array(*[
        F.struct(
            F.lit(name).alias("name"),
            F.lit(length).alias("len"),
            F.array(*[F.struct(F.lit(p + 1).alias("p"), F.lit(s).alias("s"))
                      for p, s in pos.items()])
            .cast("array<struct<p:int,s:string>>").alias("lits"),
            F.lit(pre or "").alias("pre"),
            F.lit(suf or "").alias("suf"),
            F.array(*[F.lit(s) for s in notc]).cast("array<string>")
            .alias("notc"),
            F.array(*[F.lit(s) for s in cont]).cast("array<string>")
            .alias("cont"),
        ) for name, length, pos, pre, suf, notc, cont in PHONE_MASKS])

    def matches(m):
        return (
            (ln == m["len"])
            & F.forall(m["lits"],
                       lambda l: c.substr(l["p"], F.length(l["s"])) == l["s"])
            & ((m["pre"] == "") | c.startswith(m["pre"]))
            & ((m["suf"] == "") | c.endswith(m["suf"]))
            & F.forall(m["notc"],
                       # '^0' sentinel: NOT startswith 0 (see PHONE_MASKS)
                       lambda s: F.when(s == "^0", ~c.startswith("0"))
                       .otherwise(~c.contains(s)))
            & F.forall(m["cont"], lambda s: c.contains(s))
        )

    first = F.try_element_at(F.filter(table, matches), F.lit(1))["name"]

    dummy = _contains_any(c, DUMMY_PHONE_PATTERNS)
    letters = c.rlike("[A-Za-z]")
    # reached only when no mask of a masked (>10) length matched:
    # dummy → invalid (letters; length ≥ 11 so len<10 is false) → overlong
    residual = (F.when(dummy, F.lit("dummy"))
                .when(letters, F.lit("invalid"))
                .otherwise(F.lit("overlong")))
    ten = (F.when(c.startswith("0") | _contains_any(c, SEPARATOR_CHARS),
                  F.lit("bad_ten_digit"))
           .when(dummy, F.lit("dummy"))
           .when(letters, F.lit("invalid"))
           .otherwise(F.lit("ok")))
    # lengths with no mask and ≠ 10: the residual-family chain on ln
    generic = (F.when(F.coalesce(dummy, F.lit(False)), F.lit("dummy"))
               .when((ln < 10) | letters, F.lit("invalid"))
               .when(ln > 10, F.lit("overlong"))
               .otherwise(F.lit("ok")))
    return F.coalesce(
        first,
        F.when(ln == 10, ten)
        .when(ln.isin(mask_lengths), residual)
        .otherwise(generic))


# --- SQL twin (DuckDB) -----------------------------------------------------

def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def phone_violation_sql(expr: str) -> str:
    sep = " OR ".join(f"contains({expr}, {_sql_quote(s)})" for s in SEPARATOR_CHARS)
    dummy = " OR ".join(f"contains({expr}, {_sql_quote(d)})" for d in DUMMY_PHONE_PATTERNS)
    return (
        f"((length({expr}) = 10 AND (starts_with({expr}, '0') OR {sep})) "
        f"OR ({dummy}) "
        f"OR (length({expr}) < 10 OR regexp_matches({expr}, '[A-Za-z]')) "
        f"OR length({expr}) > 10)"
    )


def phone_format_class_sql(expr: str) -> str:
    """DuckDB CASE expression mirroring :func:`phone_format_class`."""
    whens = []
    for name, length, pos, pre, suf, notc, cont in PHONE_MASKS:
        conds = [f"length({expr}) = {length}"]
        if pre is not None:
            conds.append(f"starts_with({expr}, {_sql_quote(pre)})")
        if suf is not None:
            conds.append(f"ends_with({expr}, {_sql_quote(suf)})")
        for p, lit in pos.items():
            conds.append(f"substring({expr}, {p + 1}, {len(lit)}) = {_sql_quote(lit)}")
        for n in notc:
            if n == "^0":
                conds.append(f"NOT starts_with({expr}, '0')")
            else:
                conds.append(f"NOT contains({expr}, {_sql_quote(n)})")
        for n in cont:
            conds.append(f"contains({expr}, {_sql_quote(n)})")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{name}'")
    sep = " OR ".join(f"contains({expr}, {_sql_quote(s)})" for s in SEPARATOR_CHARS)
    dummy = " OR ".join(f"contains({expr}, {_sql_quote(d)})" for d in DUMMY_PHONE_PATTERNS)
    whens.append(f"WHEN length({expr}) = 10 AND (starts_with({expr}, '0') OR {sep}) THEN 'bad_ten_digit'")
    whens.append(f"WHEN {dummy} THEN 'dummy'")
    whens.append(f"WHEN length({expr}) < 10 OR regexp_matches({expr}, '[A-Za-z]') THEN 'invalid'")
    whens.append(f"WHEN length({expr}) > 10 THEN 'overlong'")
    return "CASE " + " ".join(whens) + " ELSE 'ok' END"
