"""Rule algebra + built-in data-quality rules (SURVEY.md §2.9 R1–R14) and
scoring (A14–A16).

A :class:`Rule` is a named boolean *violation expression* over one column.
Because rules are Catalyst expressions (never UDFs), evaluating any number
of rules over a table is ONE projection + ONE aggregate — a single scan —
where the reference rescans the column per sub-rule (e-mail ~40×, phone
~95×; /root/reference/home.py:477-558,606-1103) and unions the results
(SURVEY §4 rewrite 1: rule fusion).

Null semantics (null-audited per SURVEY §7): a NULL input is never a
violation — it is counted separately as a null record, exactly like the
reference's ``dropna()`` on the unioned violation set (home.py:467-474,
559-560, 1104-1113).  Violation expressions are wrapped null-safe-false.
Deviation note: for *numeric* custom rules the reference counts NaN rows
into NOFR (``f1.shape[0]`` before dropna, home.py:315) — inconsistent with
its own string path; we use the consistent non-null semantics everywhere.

DQ score (A14, home.py:1132-1138):
    PFR  = total − (nulls + violations)
    score = round(PFR / total × 100, 2)
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataqtor_spark.functions.checksums import taxnum_expr, tcid_expr
from dataqtor_spark.functions.email import email_violation_expr
from dataqtor_spark.functions.phone import phone_violation_expr
from dataqtor_spark.functions.sqltext import (contains_any, count_true, ident, isin,
                                              lit, pct, struct)
from dataqtor_spark.session import local_frame

# R4 — the reference's 31-char special-character set (home.py:434-436)
SPECIAL_CHARS = ["@", "-", "_", ".", ",", "~", "`", "!", "#", "$", "%", "^",
                 "&", "*", "(", ")", "+", "=", "{", "}", "[", "]", "|", "/",
                 ":", ";", '"', "'", "<", ">", "?"]

# R11 — 81 TR provinces + İstanbul split variants (home.py:580-598)
TR_CITIES = [
    "Adana", "Adıyaman", "Afyon", "Ağrı", "Amasya", "Ankara", "Antalya",
    "Artvin", "Aydın", "Balıkesir", "Bilecik", "Bingöl", "Bitlis", "Bolu",
    "Burdur", "Bursa", "Çanakkale", "Çankırı", "Çorum", "Denizli",
    "Diyarbakır", "Edirne", "Elazığ", "Erzincan", "Erzurum", "Eskişehir",
    "Gaziantep", "Giresun", "Gümüşhane", "Hakkari", "Hatay", "Isparta",
    "İçel", "İstanbul", "İstanbul-Avrupa", "İstanbul-Anadolu", "İzmir",
    "Kars", "Kastamonu", "Kayseri", "Kırklareli", "Kırşehir", "Kocaeli",
    "Konya", "Kütahya", "Malatya", "Manisa", "Kahramanmaraş", "Mardin",
    "Muğla", "Muş", "Nevşehir", "Niğde", "Ordu", "Rize", "Sakarya",
    "Samsun", "Siirt", "Sinop", "Sivas", "Tekirdağ", "Tokat", "Trabzon",
    "Tunceli", "Şanlıurfa", "Uşak", "Van", "Yozgat", "Zonguldak", "Aksaray",
    "Bayburt", "Karaman", "Kırıkkale", "Batman", "Şırnak", "Bartın",
    "Ardahan", "Iğdır", "Yalova", "Karabük", "Kilis", "Osmaniye", "Düzce",
]


@dataclass(frozen=True)
class Rule:
    """A named violation predicate over one column.

    ``predicate`` is a boolean Column or its Spark SQL text.  It must be
    null-safe: NULL input rows must evaluate to false (they are tracked as
    nulls, not violations).  The built-in literal-heavy rules carry text,
    so building and fusing them costs a handful of py4j calls instead of
    one per literal (functions/sqltext.py).
    """
    name: str
    column: str
    predicate: Column | str

    @property
    def violation(self) -> Column:
        p = self.predicate
        return F.expr(p) if isinstance(p, str) else p

    def violations(self, df: DataFrame) -> DataFrame:
        """Rows violating the rule (never includes NULL inputs)."""
        return df.filter(self.violation)


def _col(name: str) -> Column:
    return F.col(ident(name))


def _null_safe(c: Column) -> Column:
    return F.coalesce(c, F.lit(False))


def _null_safe_sql(v: str) -> str:
    return f"coalesce({v}, false)"


def _unless_null(v: str, column: str) -> str:
    """``v`` made null-safe, and never a violation where ``column`` is NULL."""
    return f"({_null_safe_sql(v)} AND ({ident(column)} IS NOT NULL))"


# ---------------------------------------------------------------------------
# Rule constructors (R1–R12)
# ---------------------------------------------------------------------------

def rule_compare(column: str, op: str, value: Any = None,
                 low: Any = None, high: Any = None, name: str | None = None) -> Rule:
    """R1/R2 — custom numeric/date rule: violation = NOT(pred), nulls excluded
    (home.py:277-389).  ``between`` is inclusive on both ends."""
    c = _col(column)
    if op == "==":
        ok = c == F.lit(value)
    elif op == ">=":
        ok = c >= F.lit(value)
    elif op == "<":
        ok = c < F.lit(value)
    elif op == "between":
        ok = (c >= F.lit(low)) & (c <= F.lit(high))
    else:
        raise ValueError(f"unsupported op: {op}")
    return Rule(name or f"{column}_{op}", column, _null_safe(~ok) & c.isNotNull())


def rule_length(column: str, op: str, value: int | None = None,
                low: int | None = None, high: int | None = None,
                name: str | None = None) -> Rule:
    """R3 — string length rule (home.py:394-429)."""
    c = _col(column)
    ln = F.length(c.cast("string"))
    if op == "==":
        ok = ln == value
    elif op == ">=":
        ok = ln >= value
    elif op == "<":
        ok = ln < value
    elif op == "between":
        ok = (ln >= low) & (ln <= high)
    else:
        raise ValueError(f"unsupported op: {op}")
    return Rule(name or f"{column}_len_{op}", column, _null_safe(~ok) & c.isNotNull())


def rule_no_special_chars(column: str, allowed: list[str] | None = None,
                          name: str | None = None) -> Rule:
    """R4 — violation if the value contains any of the 31 special chars.

    ``allowed`` mirrors the reference's "exclusive" whitelist semantics
    (home.py:439-445): a value containing ANY whitelisted char is NOT a
    violation, even if it also contains other special chars.
    """
    c = f"CAST({ident(column)} AS STRING)"
    full = contains_any(c, SPECIAL_CHARS)
    if allowed:
        v = f"((NOT {contains_any(c, allowed)}) AND {full})"
    else:
        v = full
    return Rule(name or f"{column}_no_special_chars", column, _null_safe_sql(v))


def rule_no_digits(column: str, name: str | None = None) -> Rule:
    """R5 (home.py:448-452)."""
    c = _col(column).cast("string")
    return Rule(name or f"{column}_no_digits", column, _null_safe(c.rlike("[0-9]")))


def rule_no_spaces(column: str, name: str | None = None) -> Rule:
    """R6 (home.py:455-457)."""
    c = _col(column).cast("string")
    return Rule(name or f"{column}_no_spaces", column, _null_safe(c.contains(" ")))


def rule_forbidden_values(column: str, values: list[str], name: str | None = None) -> Rule:
    """R7 (home.py:460-465)."""
    return Rule(name or f"{column}_forbidden", column,
                _null_safe_sql(isin(ident(column), values)))


def rule_email(column: str, name: str | None = None) -> Rule:
    """R8 (home.py:476-563) — union of 10 sub-rules, one expression."""
    return Rule(name or f"{column}_email", column, email_violation_expr(ident(column)))


def rule_tcid(column: str, name: str | None = None) -> Rule:
    """R9 (TRnoChecker.py:1-21)."""
    return Rule(name or f"{column}_tcid", column,
                _unless_null(f"(NOT {tcid_expr(ident(column))})", column))


def rule_taxnum(column: str, name: str | None = None) -> Rule:
    """R10 (TRnoChecker.py:24-51)."""
    return Rule(name or f"{column}_taxnum", column,
                _unless_null(f"(NOT {taxnum_expr(ident(column))})", column))


def rule_domain(column: str, allowed: list[str] | None = None,
                name: str | None = None) -> Rule:
    """R11 — domain membership; default domain is the TR city list
    (home.py:579-601)."""
    vals = allowed if allowed is not None else TR_CITIES
    return Rule(name or f"{column}_domain", column,
                _unless_null(f"(NOT {isin(ident(column), vals)})", column))


def rule_phone_tr(column: str, name: str | None = None) -> Rule:
    """R12 (home.py:603-1130) — see functions/phone.py for the reduction."""
    return Rule(name or f"{column}_phone", column, phone_violation_expr(ident(column)))


# ---------------------------------------------------------------------------
# Fused evaluation + scoring (A14/A15/A16, U1–U3)
# ---------------------------------------------------------------------------

SUMMARY_COLUMNS = ["rule", "column", "total_records", "null_records",
                   "out_of_format_records", "proper_format_records", "dq_score"]


def evaluate_rules(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """DQ summary for any number of rules in ONE aggregate pass.

    Returns (rule, column, total_records, null_records,
    out_of_format_records, proper_format_records, dq_score) — the
    reference's before/after summary schema (home.py:41-52,1139-1150).

    The aggregate list and the reshaping into one row per rule are Spark
    SQL text, sent in two ``selectExpr`` calls.  A rule whose predicate is
    a Column is projected first under a positional name.
    """
    columns = {f"__rule_{i}": r.predicate for i, r in enumerate(rules)
               if not isinstance(r.predicate, str)}
    src = df.withColumns(columns) if columns else df
    aggs = ["count(1) AS __total"]
    structs = []
    for i, r in enumerate(rules):
        v = r.predicate if isinstance(r.predicate, str) else f"__rule_{i}"
        aggs += [f"{count_true(f'{ident(r.column)} IS NULL')} AS __nulls_{i}",
                 f"{count_true(v)} AS __viol_{i}"]
        proper = f"((__total - __nulls_{i}) - __viol_{i})"
        fields = [lit(r.name), lit(r.column), "__total", f"__nulls_{i}",
                  f"__viol_{i}", proper, pct(proper, "__total")]
        structs.append(struct(zip(fields, SUMMARY_COLUMNS)))
    one = src.selectExpr(*aggs)
    return one.selectExpr(f"explode(array({', '.join(structs)})) AS s").select("s.*")


def overall_score(summary: DataFrame) -> DataFrame:
    """A16 — mean of per-rule scores (home.py:1993-1994)."""
    return summary.agg(F.round(F.avg("dq_score"), 2).alias("overall_dq_score"))


def violations_union(df: DataFrame, rules: list[Rule], key: str) -> DataFrame:
    """U1 — rows violating ANY rule, deduped by ``key`` (home.py:467-474).

    Single pass: OR the violation expressions — no per-rule scan + union +
    dedup shuffle.  ``key`` is the row-identity column (a natural key or
    ``__row_id``)."""
    any_v = F.lit(False)
    for r in rules:
        any_v = any_v | r.violation
    return df.filter(any_v).dropDuplicates([key])


def clean_rows(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """U3 — rows with no violation and no null in any ruled column
    (the reference's symmetric-difference trick, home.py:1128-1130)."""
    any_v = F.lit(False)
    not_null = F.lit(True)
    for r in rules:
        any_v = any_v | r.violation
        not_null = not_null & _col(r.column).isNotNull()
    return df.filter((~any_v) & not_null)


def violation_flags(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Project one boolean per rule onto the rows (the fused-projection
    form — feeds both counting and violation extraction from one plan)."""
    out = df
    for r in rules:
        out = out.withColumn(f"__viol_{r.name}", r.violation)
    return out


def fk_orphans(child: DataFrame, parent: DataFrame, child_key: str,
               parent_key: str, relation: str | None = None) -> DataFrame:
    """Referential-integrity check: one summary row
    ``(relation, n_child, n_orphans, orphan_pct)`` counting child rows whose
    key has no match in the parent (NULL child keys are orphans too — an FK
    that is null references nothing).

    Shape at scale: a left-anti join on the key — shuffle-partitioned on
    both sides, or broadcast when the parent's distinct key set is small
    (AQE decides from runtime sizes).  The parent side is pre-projected to
    its distinct keys so only 8-byte keys ever move.
    """
    rel = relation or f"{child_key}->{parent_key}"
    pk = (parent.select(F.col(parent_key).alias(child_key)).distinct()
          .withColumn("__hit", F.lit(1)))
    flagged = child.select(child_key).join(pk, child_key, "left")
    return flagged.agg(
        F.lit(rel).alias("relation"),
        F.count(F.lit(1)).alias("n_child"),
        F.coalesce(F.sum(F.col("__hit").isNull().cast("long")), F.lit(0))
        .alias("n_orphans"),
    ).withColumn(
        "orphan_pct",
        F.when(F.col("n_child") > 0,
               F.round(F.col("n_orphans") * 100.0 / F.col("n_child"), 2))
        .otherwise(F.lit(0.0)))


def cross_table_violations(left: DataFrame, right: DataFrame,
                           on: list[str] | str, violation,
                           how: str = "inner") -> DataFrame:
    """Cross-table consistency rule: join the two tables on their key and
    keep rows where ``violation`` (a boolean Column over the joined frame)
    holds — e.g. a lineitem shipped before its order was placed.

    The join is the only shuffle; everything else is the same fused
    predicate evaluation as the single-table rules.  Null predicate results
    count as non-violations (three-valued logic, consistent with Rule).
    """
    joined = left.join(right, on, how)
    return joined.filter(F.coalesce(violation, F.lit(False)))


# ---------------------------------------------------------------------------
# Rules v2: conditional (cross-column), composite-key uniqueness,
# freshness, and per-group completeness — the expectation-suite staples
# beyond the reference's single-column surface
# ---------------------------------------------------------------------------

def rule_conditional(name: str, when: Column, then: Column,
                     column: str = "") -> Rule:
    """Cross-column implication rule: a row violates when ``when`` holds
    but ``then`` does not ("if status is F then totalprice > 0").  NULLs
    in either predicate are excluded (three-valued logic: NULL → not a
    violation), matching the engine's null-tracked-separately contract.
    Pure column expressions — participates in single-pass rule fusion
    like every R1–R12 rule."""
    return Rule(name, column, _null_safe(when) & _null_safe(~then))


def unique_key_violations(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Composite-key uniqueness check: key tuples appearing more than
    once, with their multiplicity — the "is (a, b) actually a key?"
    expectation.  One partial-aggregated groupBy on the candidate key;
    rows with any NULL key part are excluded (SQL keys are non-null).
    At scale this is the cheapest possible formulation: the shuffle
    carries pre-combined (key, partial_count) pairs, never raw rows."""
    nn = None
    for k in key_cols:
        c = F.col(k).isNotNull()
        nn = c if nn is None else (nn & c)
    return (df.filter(nn).groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .filter(F.col("n_rows") > 1))


def freshness_check(df: DataFrame, ts_col: str, group_col: str,
                    as_of, max_lag_hours: float) -> DataFrame:
    """Per-group data freshness: each group's latest timestamp, its lag
    behind ``as_of`` (a fixed reference time — never wall clock, so runs
    are reproducible), and whether the lag breaches ``max_lag_hours``.
    One map-side-combinable max per group; the whole check reads one
    column of the fact."""
    lag_h = (F.unix_micros(F.lit(as_of).cast("timestamp"))
             - F.unix_micros(F.max(F.col(ts_col).cast("timestamp")))) \
        / F.lit(3600.0 * 1e6)
    return (df.groupBy(group_col)
            .agg(F.max(F.col(ts_col).cast("timestamp")).alias("latest_ts"),
                 F.round(lag_h, 4).alias("lag_hours"))
            .withColumn("is_stale", F.col("lag_hours") > F.lit(max_lag_hours)))


def group_completeness(df: DataFrame, value_col: str,
                       group_col: str) -> DataFrame:
    """Per-group null-rate profile of one column: the flagship null
    profile (A3, home.py:146-152) sliced by a grouping dimension, which
    is how completeness regressions actually surface ("source X started
    sending NULL emails").  Single conditional aggregate, one shuffle on
    the (small) group key."""
    n = F.count(F.lit(1))
    nulls = F.sum(F.col(value_col).isNull().cast("int"))
    return (df.groupBy(group_col)
            .agg(n.cast("long").alias("total_records"),
                 nulls.cast("long").alias("null_records"),
                 F.round(nulls * 100.0 / n, 2).alias("null_pct")))


def verify_suggestions(df: DataFrame, suggestions: DataFrame) -> DataFrame:
    """Re-assert a suggested-constraint table
    (``profile.suggest_constraints`` output) against a dataset:
    (column, constraint, param, passed) — the other half of the
    profile→rules loop (suggest on yesterday's batch, verify today's).

    One wide aggregate recomputes the same statistics the suggester used
    (single scan, however many constraints), then each suggestion row
    compares against its recomputed value driver-side (the suggestion
    table is tiny by construction).  Numeric bounds use the exact stored
    values, so verifying against the SAME data always passes.
    """
    rows = suggestions.collect()
    cols = sorted({r["column"] for r in rows})
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0))
            .alias(f"__nulls_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            # try_cast: string columns yield NULL bounds instead of an
            # ANSI NumberFormatException; bound constraints only ever
            # reference numeric columns anyway
            F.min(F.expr(f"try_cast({c} AS double)")).alias(f"__min_{c}"),
            F.max(F.expr(f"try_cast({c} AS double)")).alias(f"__max_{c}"),
        ]
    got = df.agg(*aggs).collect()[0]
    n = got["__n"]
    out = []
    for r in rows:
        c, k, p = r["column"], r["constraint"], r["param"]
        nulls = got[f"__nulls_{c}"]
        filled = n - nulls
        if k == "not_null":
            ok = nulls == 0
        elif k == "complete_ge":
            ok = n > 0 and round(filled / n, 4) >= p
        elif k == "unique":
            ok = got[f"__nd_{c}"] == filled
        elif k == "isin":
            ok = got[f"__nd_{c}"] <= p
        elif k == "min_ge":
            ok = got[f"__min_{c}"] is not None and got[f"__min_{c}"] >= p
        elif k == "max_le":
            ok = got[f"__max_{c}"] is not None and got[f"__max_{c}"] <= p
        else:
            ok = False
        out.append((c, k, float(p), bool(ok)))
    return local_frame(
        df.sparkSession, out,
        "column string, constraint string, param double, passed boolean")


def violation_samples(df: DataFrame, rules: list[Rule], key: str,
                      k: int = 5) -> DataFrame:
    """Per-rule violation samples in ONE scan: for each rule, up to ``k``
    violating keys in deterministic (key asc) order — the "show me a few
    offending rows" every DQ report needs, without running one filter
    query per rule (the reference rescans per rule family,
    home.py:272-1130).

    One projection computes every rule's boolean, a single explode emits
    (rule, key) only for violations, and a per-rule rank window takes the
    sample — the scan count is 1 regardless of |rules|.
    """
    from pyspark.sql.window import Window

    structs = [F.when(r.violation,
                      F.struct(F.lit(r.name).alias("rule"),
                               F.col(key).alias("key")))
               for r in rules]
    pairs = (df.select(F.explode(F.array(*structs)).alias("s"))
             .filter(F.col("s").isNotNull())
             .select("s.rule", "s.key"))
    w = Window.partitionBy("rule").orderBy(F.asc("key"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
