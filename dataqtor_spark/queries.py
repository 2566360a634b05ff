"""Query registry: one named entry per implemented SURVEY.md §2 operator.

Each entry is ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
a DuckDB oracle SQL string over the pre-registered testdata views.

Determinism rules used throughout so the driver's order-insensitive value
hash matches between Spark and DuckDB:
- double SUMs go through exact DECIMAL(18,2) accumulation, then cast to
  double (bit-exact regardless of partial-aggregation order);
- means/stddevs/quantiles are rounded to 4 decimals on both sides;
- top-k orderings always carry a deterministic tie-breaker.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataqtor_spark.functions import checksums as CK
from dataqtor_spark.functions import email as EM
from dataqtor_spark.functions import exact as XR
from dataqtor_spark.functions import phone as PH
from dataqtor_spark.operators import profile as P
from dataqtor_spark.operators import rules as R
from dataqtor_spark.session import local_frame

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # session.read_table handles the events nanos→micros fixup and works in
    # any caller session (it sets the nanosAsLong conf at read time)
    from dataqtor_spark.session import read_table

    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship: fused per-column null profile over customer (A3, home.py:146-152)
# ---------------------------------------------------------------------------

CUSTOMER_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.null_profile(_t(spark, sf_dir, "customer"), CUSTOMER_COLS)


_NULL_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column",
       count(*)::BIGINT AS total_records,
       (count(*) - count({c}))::BIGINT AS null_records,
       count({c})::BIGINT AS filled_records,
       round((count(*) - count({c})) * 100.0 / count(*), 2) AS null_pct,
       round(count({c}) * 100.0 / count(*), 2) AS filled_pct
FROM customer"""
    for c in CUSTOMER_COLS
)

register("a03_null_profile_customer", _NULL_PROFILE_ORACLE)(flagship)


# ---------------------------------------------------------------------------
# A5 — describe over lineitem numerics (home.py:167-170)
# ---------------------------------------------------------------------------

_DESCRIBE_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


@register(
    "a05_describe_lineitem",
    "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS "column",
       count({c})::BIGINT AS count,
       {XR.round_ratio_sql(f'CAST(sum(CAST({c} AS DECIMAL(18,2))) * 100 AS HUGEINT)',
                           f'count({c}) * 100', 4)} AS mean,
       round(stddev_samp({c}), 4) AS std,
       CAST(min({c}) AS DOUBLE) AS min,
       CAST(round(quantile_cont({c}, 0.25), 4) AS DOUBLE) AS q1,
       CAST(round(quantile_cont({c}, 0.5), 4) AS DOUBLE) AS median,
       CAST(round(quantile_cont({c}, 0.75), 4) AS DOUBLE) AS q3,
       CAST(max({c}) AS DOUBLE) AS max,
       CAST(sum(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) AS sum
FROM lineitem"""
        for c in _DESCRIBE_COLS
    ),
)
def a05_describe_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    aggs = []
    for c in _DESCRIBE_COLS:
        col = F.col(c)
        dec_sum = F.sum(col.cast("decimal(18,2)")).cast("double")
        # mean from exact integer rationals (cent-scaled sum / count) —
        # round(<double ratio>, 4) flips at cross-engine rounding ties
        cents = F.sum(col.cast("decimal(18,2)")) * 100
        aggs += [
            F.count(col).alias(f"__count_{c}"),
            XR.round_ratio(cents, F.count(col) * 100, 4).alias(f"__mean_{c}"),
            F.round(F.stddev_samp(col), 4).alias(f"__std_{c}"),
            F.min(col).cast("double").alias(f"__min_{c}"),
            F.round(F.expr(f"percentile({c}, 0.25)"), 4).cast("double").alias(f"__q1_{c}"),
            F.round(F.expr(f"percentile({c}, 0.5)"), 4).cast("double").alias(f"__median_{c}"),
            F.round(F.expr(f"percentile({c}, 0.75)"), 4).cast("double").alias(f"__q3_{c}"),
            F.max(col).cast("double").alias(f"__max_{c}"),
            dec_sum.alias(f"__sum_{c}"),
        ]
    one = li.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__count_{c}").alias("count"),
            F.col(f"__mean_{c}").alias("mean"),
            F.col(f"__std_{c}").alias("std"),
            F.col(f"__min_{c}").alias("min"),
            F.col(f"__q1_{c}").alias("q1"),
            F.col(f"__median_{c}").alias("median"),
            F.col(f"__q3_{c}").alias("q3"),
            F.col(f"__max_{c}").alias("max"),
            F.col(f"__sum_{c}").alias("sum"),
        )
        for c in _DESCRIBE_COLS
    ]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


# ---------------------------------------------------------------------------
# A7 — frequency table (home.py:172-175)
# ---------------------------------------------------------------------------

@register(
    "a07_frequency_mktsegment",
    """SELECT c_mktsegment AS value, count(*)::BIGINT AS count,
       round(count(*) * 100.0 / (SELECT count(*) FROM customer), 4) AS pct
FROM customer GROUP BY c_mktsegment""",
)
def a07_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.frequency(_t(spark, sf_dir, "customer"), "c_mktsegment")


# ---------------------------------------------------------------------------
# A8 — top-k / bottom-k frequent values (home.py:176-191)
# ---------------------------------------------------------------------------

@register(
    "a08_topk_orderpriority",
    """SELECT value, count FROM (
  SELECT o_orderpriority AS value, count(*)::BIGINT AS count
  FROM orders GROUP BY o_orderpriority
) ORDER BY count DESC, value ASC LIMIT 3""",
)
def a08_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.top_k(_t(spark, sf_dir, "orders"), "o_orderpriority", 3).select("value", "count")


@register(
    "a08_bottomk_eventtype",
    """SELECT value, count FROM (
  SELECT event_type AS value, count(*)::BIGINT AS count
  FROM events GROUP BY event_type
) ORDER BY count ASC, value ASC LIMIT 3""",
)
def a08_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.bottom_k(_t(spark, sf_dir, "events"), "event_type", 3).select("value", "count")


# ---------------------------------------------------------------------------
# A9 — rare values (home.py:193-209)
# ---------------------------------------------------------------------------

@register(
    "a09_rare_values_nationkey",
    """SELECT value, count, pct FROM (
  SELECT c_nationkey AS value, count(*)::BIGINT AS count,
         round(count(*) * 100.0 / (SELECT count(*) FROM customer), 4) AS pct
  FROM customer GROUP BY c_nationkey
) WHERE pct < 3.0""",
)
def a09_rare(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.rare_values(_t(spark, sf_dir, "customer"), "c_nationkey", threshold_pct=3.0)


# ---------------------------------------------------------------------------
# A10 — sign histogram (home.py:211-227)
# ---------------------------------------------------------------------------

@register(
    "a10_sign_histogram_acctbal",
    """SELECT
  count(*) FILTER (c_acctbal > 0)::BIGINT AS positive,
  count(*) FILTER (c_acctbal = 0)::BIGINT AS zero,
  count(*) FILTER (c_acctbal < 0)::BIGINT AS negative,
  round(count(*) FILTER (c_acctbal > 0) * 100.0 / count(*), 2) AS positive_pct,
  round(count(*) FILTER (c_acctbal = 0) * 100.0 / count(*), 2) AS zero_pct,
  round(count(*) FILTER (c_acctbal < 0) * 100.0 / count(*), 2) AS negative_pct
FROM customer""",
)
def a10_sign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.sign_histogram(_t(spark, sf_dir, "customer"), "c_acctbal")


# ---------------------------------------------------------------------------
# A11 — pattern profile (home.py:229-251)
# ---------------------------------------------------------------------------

@register(
    "a11_pattern_profile_cname",
    """SELECT pattern, count, pct FROM (
  SELECT regexp_replace(regexp_replace(c_name, '[A-Za-zÖÇĞİŞÜöçğışü]', 'A', 'g'), '[0-9]', '9', 'g') AS pattern,
         count(*)::BIGINT AS count,
         round(count(*) * 100.0 / (SELECT count(*) FROM customer), 4) AS pct
  FROM customer GROUP BY 1
)""",
)
def a11_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.pattern_profile(_t(spark, sf_dir, "customer"), "c_name")


# ---------------------------------------------------------------------------
# A6 — string length stats + arg-min/max (home.py:133-144)
# ---------------------------------------------------------------------------

@register(
    "a06_string_stats_pname",
    """SELECT
  min(length(p_name))::INT AS min_length,
  max(length(p_name))::INT AS max_length,
  (SELECT min(p_name) FROM part WHERE length(p_name) = (SELECT min(length(p_name)) FROM part)) AS shortest_value,
  (SELECT max(p_name) FROM part WHERE length(p_name) = (SELECT max(length(p_name)) FROM part)) AS longest_value,
  min(p_name) AS alpha_min,
  max(p_name) AS alpha_max
FROM part""",
)
def a06_string_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "part")
    c, ln = F.col("p_name"), F.length("p_name")
    return df.agg(
        F.min(ln).alias("min_length"),
        F.max(ln).alias("max_length"),
        F.min(F.struct(ln.alias("l"), c.alias("v")))["v"].alias("shortest_value"),
        F.max(F.struct(ln.alias("l"), c.alias("v")))["v"].alias("longest_value"),
        F.min(c).alias("alpha_min"),
        F.max(c).alias("alpha_max"),
    )


# ---------------------------------------------------------------------------
# A12 — per-column duplicate values (home.py:253-263)
# ---------------------------------------------------------------------------

@register(
    "a12_duplicate_values_custkey",
    """SELECT o_custkey AS value, count(*)::BIGINT AS count
FROM orders GROUP BY o_custkey HAVING count(*) > 1""",
)
def a12_dup_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.duplicate_values(_t(spark, sf_dir, "orders"), "o_custkey")


# ---------------------------------------------------------------------------
# A2/R14 — duplicate rows (home.py:100-110)
# ---------------------------------------------------------------------------

@register(
    "a02_duplicate_rows_lineitem",
    """SELECT coalesce(sum(duplicate_count - 1), 0)::BIGINT AS duplicate_rows FROM (
  SELECT count(*) AS duplicate_count
  FROM lineitem
  GROUP BY l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
  HAVING count(*) > 1
)""",
)
def a02_dup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.duplicate_row_count(_t(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# A1 — table summary (home.py:88-92)
# ---------------------------------------------------------------------------

@register(
    "a01_table_summary_lineitem",
    """SELECT count(*)::BIGINT AS n_rows, 11::INT AS n_columns,
       8::INT AS n_numeric_columns, 3::INT AS n_nominal_columns
FROM lineitem""",
)
def a01_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.table_summary(_t(spark, sf_dir, "lineitem"))


# ===========================================================================
# Rules (SURVEY §2.9) — oracle-checked via derived dirty columns: the same
# deterministic derivation expression is written in BOTH dialects, so the
# DuckDB differential exercises the full rule expression trees.
# ===========================================================================

# --- R1 — custom numeric rule: violations of l_quantity BETWEEN 10 AND 40 --

@register(
    "r01_numeric_rule_violations",
    """SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_quantity IS NOT NULL AND NOT (l_quantity >= 10 AND l_quantity <= 40)""",
)
def r01_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rule = R.rule_compare("l_quantity", "between", low=10, high=40)
    return rule.violations(li).select("l_orderkey", "l_linenumber", "l_quantity")


# --- R2 — custom date rule on orders ---------------------------------------

@register(
    "r02_date_rule_violations",
    """SELECT o_orderstatus, count(*)::BIGINT AS n_violations
FROM orders
WHERE o_orderdate IS NOT NULL AND NOT (o_orderdate >= TIMESTAMP '1995-06-01')
GROUP BY o_orderstatus""",
)
def r02_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    o = _t(spark, sf_dir, "orders")
    rule = R.rule_compare("o_orderdate", ">=", datetime.datetime(1995, 6, 1))
    return (rule.violations(o).groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_violations")))


# --- R3–R7 fused into one DQ summary over customer (evaluate_rules + A14) --

def _summary_oracle_row(rule: str, column: str, table: str, null_pred: str, viol_pred: str) -> str:
    return f"""SELECT '{rule}' AS rule, '{column}' AS "column",
  count(*)::BIGINT AS total_records,
  sum(CASE WHEN {null_pred} THEN 1 ELSE 0 END)::BIGINT AS null_records,
  sum(CASE WHEN {viol_pred} THEN 1 ELSE 0 END)::BIGINT AS out_of_format_records,
  (count(*) - sum(CASE WHEN {null_pred} THEN 1 ELSE 0 END) - sum(CASE WHEN {viol_pred} THEN 1 ELSE 0 END))::BIGINT AS proper_format_records,
  round((count(*) - sum(CASE WHEN {null_pred} THEN 1 ELSE 0 END) - sum(CASE WHEN {viol_pred} THEN 1 ELSE 0 END)) * 100.0 / count(*), 2) AS dq_score
FROM {table}"""


_SPECIALS_SQL = " OR ".join(
    "contains(c_name, '" + ch.replace("'", "''") + "')" for ch in R.SPECIAL_CHARS
)

_R03_ORACLE = "\nUNION ALL\n".join([
    _summary_oracle_row(
        "acctbal_range", "c_acctbal", "customer",
        "c_acctbal IS NULL",
        "c_acctbal IS NOT NULL AND NOT (c_acctbal >= 0 AND c_acctbal <= 9000)"),
    _summary_oracle_row(
        "name_len18", "c_name", "customer",
        "c_name IS NULL",
        "c_name IS NOT NULL AND NOT (length(c_name) = 18)"),
    _summary_oracle_row(
        "name_no_specials", "c_name", "customer",
        "c_name IS NULL",
        f"c_name IS NOT NULL AND ({_SPECIALS_SQL})"),
    _summary_oracle_row(
        "segment_no_digits", "c_mktsegment", "customer",
        "c_mktsegment IS NULL",
        "c_mktsegment IS NOT NULL AND regexp_matches(c_mktsegment, '[0-9]')"),
    _summary_oracle_row(
        "segment_forbidden", "c_mktsegment", "customer",
        "c_mktsegment IS NULL",
        "c_mktsegment IS NOT NULL AND c_mktsegment IN ('MACHINERY', 'AUTOMOBILE')"),
])


def _r03_rules() -> list:
    return [
        R.rule_compare("c_acctbal", "between", low=0, high=9000, name="acctbal_range"),
        R.rule_length("c_name", "==", 18, name="name_len18"),
        R.rule_no_special_chars("c_name", name="name_no_specials"),
        R.rule_no_digits("c_mktsegment", name="segment_no_digits"),
        R.rule_forbidden_values("c_mktsegment", ["MACHINERY", "AUTOMOBILE"],
                                name="segment_forbidden"),
    ]


@register("r03_dq_summary_customer", _R03_ORACLE)
def r03_dq_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.evaluate_rules(_t(spark, sf_dir, "customer"), _r03_rules())


@register(
    "a16_overall_dq_score",
    f"SELECT round(avg(dq_score), 2) AS overall_dq_score FROM ({_R03_ORACLE})",
)
def a16_overall_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — mean of per-rule DQ scores (home.py:1993-1994)."""
    return R.overall_score(R.evaluate_rules(_t(spark, sf_dir, "customer"), _r03_rules()))


# --- R11 — domain membership on nation -------------------------------------

_NATION_DOMAIN = ["FRANCE", "GERMANY", "ROMANIA", "RUSSIA", "UNITED KINGDOM",
                  "CHINA", "INDIA", "JAPAN", "INDONESIA", "VIETNAM"]

@register(
    "r11_domain_rule_nation",
    "SELECT n_name FROM nation WHERE n_name IS NOT NULL AND n_name NOT IN ("
    + ", ".join(f"'{v}'" for v in _NATION_DOMAIN) + ")",
)
def r11_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    na = _t(spark, sf_dir, "nation")
    return R.rule_domain("n_name", allowed=_NATION_DOMAIN).violations(na).select("n_name")


# --- R9 — TCID checksum on a derived column (half valid by construction) ---

def _tcid_check_digits_spark(base9):
    """TCID check digits (d10, d11) over a 9-digit string Column."""
    d = [F.substring(base9, i, 1).try_cast("int") for i in range(1, 10)]
    odd, even = sum(d[2::2], d[0]), sum(d[3::2], d[1])
    d10 = F.pmod(7 * odd - even, F.lit(10))
    return d10, F.pmod(sum(d[1:], d[0]) + d10, F.lit(10))


def _tcid_check_digits_sql(base9: str) -> tuple[str, str]:
    """SQL twin of _tcid_check_digits_spark over a 9-digit VARCHAR expr."""
    d = [f"CAST(substring({base9}, {i}, 1) AS INT)" for i in range(1, 10)]
    odd, even = " + ".join(d[0::2]), " + ".join(d[1::2])
    d10 = f"(((7 * ({odd}) - ({even})) % 10 + 10) % 10)"
    return d10, f"((({' + '.join(d)}) + {d10}) % 10)"


def _tcid_derived_spark():
    base = (F.col("c_custkey") % 900000000 + 100000000).cast("string")
    d10, d11 = _tcid_check_digits_spark(base)
    d11c = F.pmod(d11 + 5 * F.pmod(F.col("c_custkey"), F.lit(2)), F.lit(10))
    return F.concat(base, d10.cast("string"), d11c.cast("string"))


_TCID_BASE_SQL = "CAST(c_custkey % 900000000 + 100000000 AS VARCHAR)"
_TCID_D10, _TCID_D11 = _tcid_check_digits_sql(_TCID_BASE_SQL)
_TCID_D11C = f"(({_TCID_D11} + 5 * (c_custkey % 2)) % 10)"
_TCID_EXPR_SQL = (f"({_TCID_BASE_SQL} || CAST({_TCID_D10} AS VARCHAR) || "
                  f"CAST({_TCID_D11C} AS VARCHAR))")

@register(
    "r09_tcid_checksum",
    f"""SELECT
  sum(CASE WHEN {CK.tcid_sql('tcid')} THEN 1 ELSE 0 END)::BIGINT AS n_valid,
  sum(CASE WHEN NOT {CK.tcid_sql('tcid')} THEN 1 ELSE 0 END)::BIGINT AS n_invalid
FROM (SELECT {_TCID_EXPR_SQL} AS tcid FROM customer)""",
)
def r09_tcid(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer").select(_tcid_derived_spark().alias("tcid"))
    ok = CK.is_valid_tcid("tcid")
    return cu.agg(
        F.coalesce(F.sum(ok.cast("long")), F.lit(0)).alias("n_valid"),
        F.coalesce(F.sum((~ok).cast("long")), F.lit(0)).alias("n_invalid"),
    )


# --- R10 — tax-number checksum on a derived column -------------------------

def _taxnum_derived_spark():
    base = (F.col("c_custkey") % 900000000 + 100000000).cast("string")
    d = [F.substring(base, i, 1).try_cast("int") for i in range(1, 10)]
    total = F.lit(0)
    for x in range(9):
        t1 = F.pmod(d[x] + (9 - x), F.lit(10))
        t2 = F.pmod(t1 * (2 ** (9 - x)), F.lit(9))
        t2 = F.when((t1 != 0) & (t2 == 0), F.lit(9)).otherwise(t2)
        total = total + t2
    check = F.pmod(F.lit(10) - F.pmod(total, F.lit(10)), F.lit(10))
    checkc = F.pmod(check + 3 * F.pmod(F.col("c_custkey"), F.lit(2)), F.lit(10))
    return F.concat(base, checkc.cast("string"))


def _taxnum_derived_sql() -> str:
    d = [f"CAST(substring({_TCID_BASE_SQL}, {i}, 1) AS INT)" for i in range(1, 10)]
    terms = []
    for x in range(9):
        t1 = f"(({d[x]} + {9 - x}) % 10)"
        t2 = f"(({t1} * {2 ** (9 - x)}) % 9)"
        terms.append(f"(CASE WHEN {t1} <> 0 AND {t2} = 0 THEN 9 ELSE {t2} END)")
    check = f"((10 - (({' + '.join(terms)}) % 10)) % 10)"
    checkc = f"(({check} + 3 * (c_custkey % 2)) % 10)"
    return f"({_TCID_BASE_SQL} || CAST({checkc} AS VARCHAR))"


@register(
    "r10_taxnum_checksum",
    f"""SELECT
  sum(CASE WHEN {CK.taxnum_sql('taxid')} THEN 1 ELSE 0 END)::BIGINT AS n_valid,
  sum(CASE WHEN NOT {CK.taxnum_sql('taxid')} THEN 1 ELSE 0 END)::BIGINT AS n_invalid
FROM (SELECT {_taxnum_derived_sql()} AS taxid FROM customer)""",
)
def r10_taxnum(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer").select(_taxnum_derived_spark().alias("taxid"))
    ok = CK.is_valid_taxnum("taxid")
    return cu.agg(
        F.coalesce(F.sum(ok.cast("long")), F.lit(0)).alias("n_valid"),
        F.coalesce(F.sum((~ok).cast("long")), F.lit(0)).alias("n_invalid"),
    )


# --- R8 — e-mail rule on derived dirty addresses ---------------------------

def _email_derived_spark():
    local = F.concat(F.lit("user"), F.col("c_custkey").cast("string"))
    m = F.pmod(F.col("c_custkey"), F.lit(8))
    return (F.when(m == 0, F.concat(local, F.lit("@example.com")))
            .when(m == 1, F.concat(F.upper(local), F.lit("@example.com")))
            .when(m == 2, F.concat(local, F.lit("@example.cm")))
            .when(m == 3, F.concat(F.lit("yok@"), local, F.lit(".com")))
            .when(m == 4, F.concat(local, F.lit("@@example.com")))
            .when(m == 5, F.concat(local, F.lit("@hotmil.com")))
            .when(m == 6, F.concat(local, F.lit("@.example.com")))
            .otherwise(F.lit("a@b.c")))


_EMAIL_DERIVED_SQL = """CASE c_custkey % 8
  WHEN 0 THEN 'user' || CAST(c_custkey AS VARCHAR) || '@example.com'
  WHEN 1 THEN upper('user' || CAST(c_custkey AS VARCHAR)) || '@example.com'
  WHEN 2 THEN 'user' || CAST(c_custkey AS VARCHAR) || '@example.cm'
  WHEN 3 THEN 'yok@user' || CAST(c_custkey AS VARCHAR) || '.com'
  WHEN 4 THEN 'user' || CAST(c_custkey AS VARCHAR) || '@@example.com'
  WHEN 5 THEN 'user' || CAST(c_custkey AS VARCHAR) || '@hotmil.com'
  WHEN 6 THEN 'user' || CAST(c_custkey AS VARCHAR) || '@.example.com'
  ELSE 'a@b.c' END"""

@register(
    "r08_email_rule",
    f"""SELECT
  sum(CASE WHEN {EM.email_violation_sql('email')} THEN 1 ELSE 0 END)::BIGINT AS n_violations,
  sum(CASE WHEN NOT {EM.email_violation_sql('email')} THEN 1 ELSE 0 END)::BIGINT AS n_ok
FROM (SELECT {_EMAIL_DERIVED_SQL} AS email FROM customer)""",
)
def r08_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer").select(_email_derived_spark().alias("email"))
    bad = EM.email_violation("email")
    return cu.agg(
        F.coalesce(F.sum(bad.cast("long")), F.lit(0)).alias("n_violations"),
        F.coalesce(F.sum((~bad).cast("long")), F.lit(0)).alias("n_ok"),
    )


# --- R12 — TR phone rule + mask classification on derived numbers ----------

def _phone_derived_spark():
    m9 = F.lpad((F.col("o_orderkey") % 1000000000).cast("string"), 9, "0")
    full = F.concat(F.lit("5"), m9)  # 10-digit mobile starting with 5
    g1, g2, g3, g4 = (F.substring(full, 1, 3), F.substring(full, 4, 3),
                      F.substring(full, 7, 2), F.substring(full, 9, 2))
    m = F.pmod(F.col("o_orderkey"), F.lit(8))
    sp = F.lit(" ")
    return (F.when(m == 0, full)
            .when(m == 1, F.concat(F.lit("0"), full))
            .when(m == 2, F.concat(F.lit("90"), full))
            .when(m == 3, F.concat(F.lit("+90 "), g1, sp, g2, sp, g3, sp, g4))
            .when(m == 4, F.concat(F.lit("(0"), g1, F.lit(") "), g2, sp, g3, sp, g4))
            .when(m == 5, F.concat(g1, sp, g2, sp, g3, sp, g4))
            .when(m == 6, F.concat(F.lit("ABC"), F.substring(full, 1, 7)))
            .otherwise(F.substring(full, 1, 8)))


_PHONE_FULL_SQL = "('5' || lpad(CAST(o_orderkey % 1000000000 AS VARCHAR), 9, '0'))"
_PHONE_G = [f"substring({_PHONE_FULL_SQL}, 1, 3)", f"substring({_PHONE_FULL_SQL}, 4, 3)",
            f"substring({_PHONE_FULL_SQL}, 7, 2)", f"substring({_PHONE_FULL_SQL}, 9, 2)"]
_PHONE_DERIVED_SQL = f"""CASE o_orderkey % 8
  WHEN 0 THEN {_PHONE_FULL_SQL}
  WHEN 1 THEN '0' || {_PHONE_FULL_SQL}
  WHEN 2 THEN '90' || {_PHONE_FULL_SQL}
  WHEN 3 THEN '+90 ' || {_PHONE_G[0]} || ' ' || {_PHONE_G[1]} || ' ' || {_PHONE_G[2]} || ' ' || {_PHONE_G[3]}
  WHEN 4 THEN '(0' || {_PHONE_G[0]} || ') ' || {_PHONE_G[1]} || ' ' || {_PHONE_G[2]} || ' ' || {_PHONE_G[3]}
  WHEN 5 THEN {_PHONE_G[0]} || ' ' || {_PHONE_G[1]} || ' ' || {_PHONE_G[2]} || ' ' || {_PHONE_G[3]}
  WHEN 6 THEN 'ABC' || substring({_PHONE_FULL_SQL}, 1, 7)
  ELSE substring({_PHONE_FULL_SQL}, 1, 8) END"""

@register(
    "r12_phone_rule_classes",
    f"""SELECT {PH.phone_format_class_sql('phone')} AS format_class,
  count(*)::BIGINT AS count,
  sum(CASE WHEN {PH.phone_violation_sql('phone')} THEN 1 ELSE 0 END)::BIGINT AS n_violations
FROM (SELECT {_PHONE_DERIVED_SQL} AS phone FROM orders)
GROUP BY 1""",
)
def r12_phone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataqtor_spark.session import parallelize

    # derive → exchange → classify: the repartition BETWEEN the projection
    # and the mask CASE stops CollapseProject from inlining the derivation
    # expression into all ~600 mask predicates (and parallelizes the
    # single-row-group scan)
    o = parallelize(_t(spark, sf_dir, "orders").select(_phone_derived_spark().alias("phone")))
    # violation ⟺ class != 'ok' (every mask implies overlong; residual
    # families are violations by definition) — one giant expression per row
    # instead of two
    cls = o.select(PH.phone_format_class("phone").alias("format_class"))
    return (cls.groupBy("format_class")
            .agg(F.count(F.lit(1)).alias("count"),
                 F.coalesce(F.sum((F.col("format_class") != "ok").cast("long")), F.lit(0))
                 .alias("n_violations")))


# --- U1/U3 — violation union + clean partition on lineitem -----------------

_U_RULES_SQL_VIOL = ("(l_quantity IS NOT NULL AND NOT (l_quantity >= 10 AND l_quantity <= 40)) "
                     "OR (l_discount IS NOT NULL AND NOT (l_discount < 0.08))")

@register(
    "u01_violations_union",
    f"""SELECT count(*)::BIGINT AS n_violating_rows FROM (
  SELECT DISTINCT l_orderkey * 10 + l_linenumber
  FROM lineitem WHERE {_U_RULES_SQL_VIOL}
)""",
)
def u01_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "__key", F.col("l_orderkey") * 10 + F.col("l_linenumber"))
    rules = [
        R.rule_compare("l_quantity", "between", low=10, high=40),
        R.rule_compare("l_discount", "<", 0.08),
    ]
    return (R.violations_union(li, rules, "__key")
            .agg(F.count(F.lit(1)).alias("n_violating_rows")))


@register(
    "u03_clean_rows",
    f"""SELECT count(*)::BIGINT AS n_clean_rows FROM lineitem
WHERE NOT ({_U_RULES_SQL_VIOL})
  AND l_quantity IS NOT NULL AND l_discount IS NOT NULL""",
)
def u03_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rules = [
        R.rule_compare("l_quantity", "between", low=10, high=40),
        R.rule_compare("l_discount", "<", 0.08),
    ]
    return R.clean_rows(li, rules).agg(F.count(F.lit(1)).alias("n_clean_rows"))


# ===========================================================================
# Repair & enrichment (SURVEY §2.8) — oracle-checked
# ===========================================================================

from dataqtor_spark.operators import enrich as EN  # noqa: E402
from dataqtor_spark.operators import repair as RP  # noqa: E402

_DIMS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "dims", "data")


# --- F2/F3/F4 — case, space-collapse, strip in one repaired projection -----

@register(
    "f02_string_repairs_part",
    """SELECT p_partkey,
       lower(p_name) AS name_lower,
       upper(p_brand) AS brand_upper,
       regexp_replace(p_type, ' +', ' ', 'g') AS type_onespace,
       trim(p_type, 'SD') AS type_stripped
FROM part""",
)
def f02_string_repairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = _t(spark, sf_dir, "part")
    out = RP.lower_case(pt.withColumn("name_lower", F.col("p_name")), "name_lower")
    out = RP.upper_case(out.withColumn("brand_upper", F.col("p_brand")), "brand_upper")
    out = RP.collapse_spaces(out.withColumn("type_onespace", F.col("p_type")), "type_onespace")
    out = RP.strip_chars(out.withColumn("type_stripped", F.col("p_type")), "type_stripped", "SD")
    return out.select("p_partkey", "name_lower", "brand_upper", "type_onespace", "type_stripped")


# --- F5/A17 — find-replace + match count -----------------------------------

@register(
    "f05_replace_count",
    """SELECT coalesce(sum(len(regexp_extract_all(p_type, 'ANODIZED'))), 0)::BIGINT AS n_matches
FROM part""",
)
def f05_replace_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RP.replace_count(_t(spark, sf_dir, "part"), "p_type", "ANODIZED")


@register(
    "f05_find_replace",
    """SELECT regexp_replace(p_type, 'ANODIZED', 'COATED', 'g') AS p_type,
       count(*)::BIGINT AS count
FROM part GROUP BY 1""",
)
def f05_find_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = RP.find_replace(_t(spark, sf_dir, "part"), "p_type", "ANODIZED", "COATED")
    return pt.groupBy("p_type").agg(F.count(F.lit(1)).alias("count"))


# --- F6 — leading-char strip on derived phones -----------------------------

@register(
    "f06_strip_leading_zero",
    f"""SELECT CASE WHEN starts_with(phone, '0') THEN substring(phone, 2) ELSE phone END AS phone,
       count(*)::BIGINT AS count
FROM (SELECT {_PHONE_DERIVED_SQL} AS phone FROM orders) GROUP BY 1""",
)
def f06_strip_leading(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(_phone_derived_spark().alias("phone"))
    return (RP.strip_leading_char(o, "phone", "0")
            .groupBy("phone").agg(F.count(F.lit(1)).alias("count")))


# --- F7/F8/F9 — cell update, value remap, row drop (natural-key row ids) ---

@register(
    "f07_cell_update",
    """SELECT c_custkey,
       CASE WHEN c_custkey = 42 THEN 'EDITED' ELSE c_mktsegment END AS c_mktsegment
FROM customer WHERE c_custkey BETWEEN 40 AND 45""",
)
def f07_cell_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer")
    out = RP.update_cell(cu, 42, "c_mktsegment", "EDITED", id_col="c_custkey")
    return (out.filter(F.col("c_custkey").between(40, 45))
            .select("c_custkey", "c_mktsegment"))


@register(
    "f08_value_remap",
    """SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 'CONSTRUCTION' ELSE c_mktsegment END AS c_mktsegment,
       count(*)::BIGINT AS count
FROM customer GROUP BY 1""",
)
def f08_value_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = RP.remap_value(_t(spark, sf_dir, "customer"), "c_mktsegment",
                        "BUILDING", "CONSTRUCTION")
    return cu.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("count"))


@register(
    "f09_delete_matching",
    """SELECT count(*)::BIGINT AS n_rows FROM customer
WHERE c_mktsegment <> 'MACHINERY' OR c_mktsegment IS NULL""",
)
def f09_delete_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = RP.delete_matching_rows(_t(spark, sf_dir, "customer"), "c_mktsegment", "MACHINERY")
    return cu.agg(F.count(F.lit(1)).alias("n_rows"))


# --- O1 — multi-column sort + deterministic top-k --------------------------

@register(
    "o01_sort_topk",
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 20""",
)
def o01_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (RP.sort_rows(li, ["l_extendedprice", "l_orderkey", "l_linenumber"],
                         [False, True, True])
            .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
            .limit(20))


# --- J2/F12 — gender enrichment via broadcast dim join ---------------------

_NAME_POOL = ["Ahmet", "Ayşe", "Mehmet", "Zeynep", "Mustafa", "Elif", "Xqzw"]
_NAME_POOL_SQL = "[" + ", ".join(f"'{n}'" for n in _NAME_POOL) + "]"

@register(
    "j02_gender_enrich",
    f"""SELECT g.gender AS gender, count(*)::BIGINT AS count
FROM (SELECT {_NAME_POOL_SQL}[CAST(c_custkey % 7 AS INT) + 1] || ' Yılmaz' AS name
      FROM customer) t
LEFT JOIN read_parquet('{_DIMS}/name_gender.parquet') g
  ON split_part(t.name, ' ', 1) = g.first_name
GROUP BY 1""",
)
def j02_gender(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer")
    name = F.concat(
        F.element_at(F.array(*[F.lit(n) for n in _NAME_POOL]),
                     F.pmod(F.col("c_custkey"), F.lit(7)).cast("int") + 1),
        F.lit(" Yılmaz"),
    )
    df = cu.select(name.alias("name"))
    out = EN.enrich_gender(df, "name", spark)
    return (out.groupBy(F.col("Gender_name").alias("gender"))
            .agg(F.count(F.lit(1)).alias("count")))


# --- J1/F13 — lat/lon enrichment via broadcast dim join --------------------

_CITY_POOL = ["Ankara", "İzmir", "Bursa", "Trabzon", "Gaziantep", "Atlantis"]
_CITY_POOL_SQL = "[" + ", ".join(f"'{c}'" for c in _CITY_POOL) + "]"

@register(
    "j01_latlon_enrich",
    f"""SELECT t.city AS city, count(*)::BIGINT AS count,
       round(avg(d.latitude), 4) AS avg_lat,
       round(avg(d.longitude), 4) AS avg_lon
FROM (SELECT {_CITY_POOL_SQL}[CAST(c_custkey % 6 AS INT) + 1] AS city
      FROM customer) t
LEFT JOIN read_parquet('{_DIMS}/city.parquet') d ON t.city = d.city
GROUP BY 1""",
)
def j01_latlon(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer")
    city = F.element_at(F.array(*[F.lit(c) for c in _CITY_POOL]),
                        F.pmod(F.col("c_custkey"), F.lit(6)).cast("int") + 1)
    df = cu.select(city.alias("city"))
    out = EN.enrich_latlon(df, "city", spark)
    return (out.groupBy("city")
            .agg(F.count(F.lit(1)).alias("count"),
                 F.round(F.avg("Latitude_city"), 4).alias("avg_lat"),
                 F.round(F.avg("Longitude_city"), 4).alias("avg_lon")))


# --- F10 — age enrichment with future-date pivot ---------------------------

@register(
    "f10_age_enrich",
    """SELECT age, count(*)::BIGINT AS count FROM (
  SELECT (CASE WHEN d >= DATE '2026-01-15' THEN d - INTERVAL 100 YEAR ELSE d END) AS dd,
         year(DATE '2026-01-15') - year(dd)
           - CASE WHEN (month(dd), day(dd)) > (1, 15) THEN 1 ELSE 0 END AS age
  FROM (
    SELECT CASE WHEN o_orderkey % 2 = 0
                THEN CAST(o_orderdate + INTERVAL 40 YEAR AS DATE)
                ELSE CAST(o_orderdate AS DATE) END AS d
    FROM orders)
) GROUP BY 1""",
)
def f10_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    o = _t(spark, sf_dir, "orders")
    d = F.when(F.pmod(F.col("o_orderkey"), F.lit(2)) == 0,
               F.add_months(F.col("o_orderdate"), 480)
               ).otherwise(F.col("o_orderdate")).cast("date")
    df = o.select(F.date_format(d, "ddMMyyyy").alias("bd"))
    out = EN.enrich_age(df, "bd", as_of=datetime.date(2026, 1, 15))
    return (out.groupBy(F.col("Age_bd").alias("age"))
            .agg(F.count(F.lit(1)).alias("count")))


# --- F11 — date parts ------------------------------------------------------

@register(
    "f11_date_parts",
    """SELECT year(o_orderdate)::INT AS year, quarter(o_orderdate)::INT AS quarter,
       month(o_orderdate)::INT AS month, day(o_orderdate)::INT AS day,
       dayname(o_orderdate) AS weekday, weekofyear(o_orderdate)::INT AS week,
       count(*)::BIGINT AS count
FROM orders GROUP BY 1, 2, 3, 4, 5, 6""",
)
def f11_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    out = EN.enrich_date_parts(o, "o_orderdate")
    return (out.groupBy(
        F.col("Year_o_orderdate").alias("year"),
        F.col("Quarter_o_orderdate").alias("quarter"),
        F.col("Month_o_orderdate").alias("month"),
        F.col("Day_o_orderdate").alias("day"),
        F.col("Weekday_o_orderdate").alias("weekday"),
        F.col("WeekofYear_o_orderdate").alias("week"),
    ).agg(F.count(F.lit(1)).alias("count")))


# ===========================================================================
# Training-data pipeline operators (north-star): text analysis, dedup
# families, similarity search — oracle-checked where SQL-expressible,
# rows-only for hash-seeded sketches (minhash/simhash/LSH).
# ===========================================================================

from dataqtor_spark.operators import ann as ANN  # noqa: E402
from dataqtor_spark.operators import dedup as DD  # noqa: E402
from dataqtor_spark.operators import embeddings as EB  # noqa: E402
from dataqtor_spark.operators import similarity as SIM  # noqa: E402
from dataqtor_spark.operators import textstats as TX  # noqa: E402


# --- t01 — token counting --------------------------------------------------

@register(
    "t01_token_counts",
    """SELECT lang,
       sum(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) END)::BIGINT AS total_tokens,
       sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]')))::BIGINT AS total_subword_tokens,
       count(*)::BIGINT AS n_docs
FROM documents GROUP BY lang""",
)
def t01_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = TX.add_token_counts(_t(spark, sf_dir, "documents"))
    return (docs.groupBy("lang")
            .agg(F.sum("n_tokens").alias("total_tokens"),
                 F.sum("n_subword_tokens").alias("total_subword_tokens"),
                 F.count(F.lit(1)).alias("n_docs")))


# --- t02 — quality features + score per document ---------------------------

_QF_SQL = """SELECT doc_id,
  length(text)::INT AS n_chars,
  (CASE WHEN length(trim(text)) = 0 THEN 0
        ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) END)::INT AS n_tokens,
  round(length(text) * 1.0 / greatest((CASE WHEN length(trim(text)) = 0 THEN 0
        ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) END), 1), 4) AS avg_token_len,
  round(len(regexp_extract_all(text, '[.,!?;:]')) * 1.0 / greatest(length(text), 1), 4) AS punct_ratio,
  round(len(regexp_extract_all(text, '[0-9]')) * 1.0 / greatest(length(text), 1), 4) AS digit_ratio,
  round(len(regexp_extract_all(text, '[A-Z]')) * 1.0 / greatest(length(text), 1), 4) AS upper_ratio,
  round(len(regexp_extract_all(text, '(?i)\\b(the|a|and|of|to|in|is|that|it|for)\\b')) * 1.0
        / greatest((CASE WHEN length(trim(text)) = 0 THEN 0
        ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) END), 1), 4) AS stopword_ratio
FROM documents"""

@register("t02_quality_features", _QF_SQL)
def t02_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = TX.add_quality(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", F.col("n_chars").cast("int").alias("n_chars"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "avg_token_len", "punct_ratio", "digit_ratio", "upper_ratio",
        "stopword_ratio",
    )


# --- t03 — language-ID confusion matrix ------------------------------------

def _langid_sql(expr: str) -> str:
    padded = f"(' ' || lower({expr}) || ' ')"
    votes = {}
    for lang, words in TX.LANG_MARKERS.items():
        votes[lang] = " + ".join(
            f"len(regexp_extract_all({padded}, '[ \\t\\n\\r\\f]{w}[ \\t\\n\\r\\f]'))" for w in words)
    best = "greatest(" + ", ".join(f"({votes[l]})" for l in TX.LANG_ORDER) + ")"
    whens = "".join(
        f" WHEN ({votes[l]}) = {best} THEN '{l}'" for l in TX.LANG_ORDER)
    return f"CASE WHEN {best} = 0 THEN 'und'{whens} ELSE 'und' END"


@register(
    "t03_langid_confusion",
    f"""SELECT lang, {_langid_sql('text')} AS lang_pred, count(*)::BIGINT AS count
FROM documents GROUP BY 1, 2""",
)
def t03_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = TX.add_lang_id(_t(spark, sf_dir, "documents"))
    return (docs.groupBy("lang", "lang_pred")
            .agg(F.count(F.lit(1)).alias("count")))


# --- t04 — fingerprint near-dup clusters -----------------------------------

@register(
    "t04_fingerprint_clusters",
    """SELECT fp, count(*)::BIGINT AS cluster_size,
       min(doc_id)::BIGINT AS min_id, max(doc_id)::BIGINT AS max_id
FROM (SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct(
            regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+'))), ' ')) AS fp
      FROM documents)
GROUP BY fp HAVING count(*) > 1""",
)
def t04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataqtor_spark.session import parallelize

    docs = parallelize(_t(spark, sf_dir, "documents"))
    return (docs.select("doc_id", TX.fingerprint("text").alias("fp"))
            .groupBy("fp")
            .agg(F.count(F.lit(1)).alias("cluster_size"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id"))
            .filter(F.col("cluster_size") > 1))


# --- d01 — exact dedup on a derived content key ----------------------------

@register(
    "d01_exact_dedup",
    """SELECT count(*)::BIGINT AS n_kept FROM (
  SELECT min(doc_id) FROM documents GROUP BY md5(substring(text, 1, 60))
)""",
)
def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn(
        "prefix", F.substring(F.col("text"), 1, 60))
    kept = DD.dedup_exact(docs, ["prefix"], "doc_id")
    return kept.agg(F.count(F.lit(1)).alias("n_kept"))


# --- d02 — exact n-gram Jaccard pairs (inverted index, both dialects) ------

_D02_PAIRS_SQL = """WITH ex AS (
  SELECT DISTINCT doc_id AS id, sh FROM (
    SELECT doc_id,
           array_to_string(words[i:i+4], ' ') AS sh
    FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f]+') AS words
          FROM documents),
         UNNEST(generate_series(1, len(words) - 4)) AS t(i)
  )
), sizes AS (
  SELECT id, count(*) AS n FROM ex GROUP BY id
), inter AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*) AS n_common
  FROM ex l JOIN ex r ON l.sh = r.sh AND l.id < r.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON inter.id_a = sa.id
JOIN sizes sb ON inter.id_b = sb.id
WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) >= 0.2"""


@register("d02_ngram_jaccard_pairs", _D02_PAIRS_SQL)
def d02_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_doc_freq=None: this is the string_grouper-parity registration —
    # the oracle replays the EXACT uncut semantics, so the auto
    # stop-shingle guard must never engage here regardless of corpus size.
    # d02b is the guarded scale path of the same operator.
    docs = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.2,
                                  max_doc_freq=None)


# d02b — the SCALE path of the same operator: stop-shingle cut enabled.
# The uncut inverted index costs Σ df(shingle)², which blows up on
# ultra-common shingles at 100 TB; dropping shingles shared by more than
# ``max_doc_freq`` docs bounds the per-shingle pair expansion at df² ≤ K²
# (documented recall trade: pairs sharing ONLY dropped shingles are missed,
# and surviving pair Jaccards are computed over the cut shingle sets).  The
# oracle replays the identical cut, so the trade itself is differentially
# tested — at sf0.01 the cut genuinely fires (25 → 23 pairs).

_D02B_CUT = 2

_D02B_PAIRS_SQL = f"""WITH ex0 AS (
  SELECT DISTINCT doc_id AS id, sh FROM (
    SELECT doc_id,
           array_to_string(words[i:i+4], ' ') AS sh
    FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f]+') AS words
          FROM documents),
         UNNEST(generate_series(1, len(words) - 4)) AS t(i)
  )
), dfq AS (
  SELECT sh, count(*) AS d FROM ex0 GROUP BY sh
), ex AS (
  SELECT ex0.id, ex0.sh FROM ex0 JOIN dfq USING (sh) WHERE d <= {_D02B_CUT}
), sizes AS (
  SELECT id, count(*) AS n FROM ex GROUP BY id
), inter AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*) AS n_common
  FROM ex l JOIN ex r ON l.sh = r.sh AND l.id < r.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON inter.id_a = sa.id
JOIN sizes sb ON inter.id_b = sb.id
WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) >= 0.2"""


@register("d02b_ngram_jaccard_cut", _D02B_PAIRS_SQL)
def d02b_jaccard_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.2,
                                  max_doc_freq=_D02B_CUT)


# d14 — near-superset duplication: Broder containment on the d02 device.
# |A∩B| / min(|A|,|B|) = 1.0 when one doc's shingle set is a subset of the
# other's — the quote-farm / article+boilerplate shape symmetric Jaccard
# under-scores when sizes differ.  Same inverted index, same uncapped fast
# path (per-doc sizes ride the posting-list structs); threshold 0.5.
_D14_PAIRS_SQL = """WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f]+') AS words
  FROM documents WHERE text IS NOT NULL
), ex AS (
  -- docs with <5 words contribute their whole token string as ONE
  -- shingle (the Spark k<=0 branch / word_shingles contract); NULL-text
  -- docs are absent on both engines
  SELECT DISTINCT id, sh FROM (
    SELECT doc_id AS id, array_to_string(words[i:i+4], ' ') AS sh
    FROM w, UNNEST(generate_series(1, len(words) - 4)) AS t(i)
    UNION ALL
    SELECT doc_id, array_to_string(words, ' ') FROM w
    WHERE len(words) <= 4
  )
), sizes AS (
  SELECT id, count(*) AS n FROM ex GROUP BY id
), inter AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*) AS n_common
  FROM ex l JOIN ex r ON l.sh = r.sh AND l.id < r.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common * 1.0 / least(sa.n, sb.n), 6) AS containment
FROM inter
JOIN sizes sa ON inter.id_a = sa.id
JOIN sizes sb ON inter.id_b = sb.id
WHERE round(n_common * 1.0 / least(sa.n, sb.n), 6) >= 0.5"""


@register("d14_containment_pairs", _D14_PAIRS_SQL)
def d14_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-superset duplication pairs: exact Broder containment
    (|A∩B| / min set size) over distinct 5-gram shingles — the
    asymmetric-dedup signal Jaccard misses when sizes differ
    (dedup.ngram_containment_pairs; max_doc_freq=None = oracle-exact,
    d02b's stop-shingle cut is the identical scale guard)."""
    docs = _t(spark, sf_dir, "documents")
    return DD.ngram_containment_pairs(docs, "doc_id", "text", n=5,
                                      threshold=0.5, max_doc_freq=None)


@register(
    "a19_levenshtein_pairs",
    """SELECT count(*)::BIGINT AS n_close_pairs,
       coalesce(sum(levenshtein(a.c_name, b.c_name)), 0)::BIGINT AS total_distance
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1""",
)
def a19_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching via the SymSpell deletion-neighborhood
    equi-join (``dedup.edit_distance_pairs``) — candidate generation is
    |s|+1 keys per row, never a quadratic block self-join, so the plan
    survives blocks of 10⁴+ rows.  The oracle states the same pair
    semantics as a blocked quadratic join, tractable for DuckDB at
    sf0.01.  (Earlier rounds registered this as a blocked |block|²
    Levenshtein join; re-routed per the round-3 audit so no registered
    query carries a known-quadratic plan.)"""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey",
                                             "c_name")
    pairs = DD.edit_distance_pairs(c, "c_custkey", "c_name",
                                   block_col="c_nationkey")
    na = c.select(F.col("c_custkey").alias("id_a"),
                  F.col("c_name").alias("name_a"))
    nb = c.select(F.col("c_custkey").alias("id_b"),
                  F.col("c_name").alias("name_b"))
    return (pairs.join(na, "id_a").join(nb, "id_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_close_pairs"),
                 F.coalesce(F.sum(F.levenshtein("name_a", "name_b")),
                            F.lit(0)).cast("long").alias("total_distance")))


# --- d03/d04 — MinHash and SimHash (portable md5 hash family) --------------
# The sketches use dedup's portable family (every hash derived from md5,
# which is bit-identical in Spark and DuckDB), so the full pipeline —
# shingle → signature → band → candidate → verify — is differentially
# checked against an ANSI-SQL oracle, not just rows-only.  The xxhash64
# family remains the scale path (covered by tests/test_dedup_text.py).

_MH_HASHES, _MH_BANDS, _MH_SHINGLE, _MH_THRESHOLD = 64, 16, 5, 0.35


def _nibble_value_sql(hex_col: str) -> str:
    """SQL for int(substr(md5_hex, 1, 15), 16) via per-nibble arithmetic."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({hex_col}, {j}, 1)) - 1) * {16 ** (15 - j)}"
        for j in range(1, 16)) + ")"


def _minhash_cte_prefix() -> str:
    """The shared WITH-prefix of the portable-MinHash SQL replay, through
    the ``cand`` banding-candidate CTE — reused by d03 (which verifies
    candidates) and er03 (which evaluates the candidate stage itself)."""
    from dataqtor_spark.operators.dedup import PORTABLE_P, portable_hash_constants

    n, nh, bands = _MH_SHINGLE, _MH_HASHES, _MH_BANDS
    rpb = nh // bands
    consts = portable_hash_constants(nh)
    hmins = ",\n       ".join(
        f"min(({a} * v + {b}) % {PORTABLE_P}) AS h{i}" for i, (a, b) in enumerate(consts))
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(f"h{b * rpb + r}" for r in range(rpb))
        + " AS key FROM sig" for b in range(bands))
    return f"""WITH words AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s.sh AS sh
  FROM words, unnest(CASE WHEN len(ws) < {n} THEN [array_to_string(ws, ' ')]
       ELSE list_transform(generate_series(1, len(ws) - {n - 1}),
                           i -> array_to_string(list_slice(ws, i, i + {n - 1}), ' ')) END) AS s(sh)),
hv AS (
  SELECT doc_id, {_nibble_value_sql("h16")} % {PORTABLE_P} AS v
  FROM (SELECT doc_id, md5(sh) AS h16 FROM sh)),
sig AS (
  SELECT doc_id, {hmins}
  FROM hv GROUP BY doc_id),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)"""


def _minhash_oracle_sql() -> str:
    nh, thr = _MH_HASHES, _MH_THRESHOLD
    eq = " + ".join(f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(nh))
    return f"""{_minhash_cte_prefix()}
SELECT id_a, id_b, est_jaccard FROM (
  SELECT c.id_a, c.id_b, ({eq}) / {nh}.0 AS est_jaccard
  FROM cand c JOIN sig a ON a.doc_id = c.id_a JOIN sig b ON b.doc_id = c.id_b)
WHERE est_jaccard >= {thr}"""


@register("d03_minhash_pairs", _minhash_oracle_sql())
def d03_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return DD.minhash_dedup_pairs_portable(
        docs, "doc_id", "text", threshold=_MH_THRESHOLD,
        num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=_MH_SHINGLE)


# --- d15 — sketch-estimated containment on the banded MinHash pass ----------
# The d03-sibling of d14: containment estimated from signature agreement
# k and in-row distinct-shingle sizes, all-integer arithmetic on the
# exact rounding surface.  Recall limit documented on the operator:
# Jaccard banding under-recalls extreme size-ratio pairs; d14 is the
# exact authority.

def _d15_oracle_sql() -> str:
    from dataqtor_spark.functions.exact import round_ratio_sql

    nh = _MH_HASHES
    eq = " + ".join(f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
                    for i in range(nh))
    est = round_ratio_sql("k * (na + nb)", f"({nh} + k) * least(na, nb)", 6)
    return f"""{_minhash_cte_prefix()},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
scored AS (
  SELECT c.id_a, c.id_b, ({eq}) AS k, sa.n AS na, sb.n AS nb
  FROM cand c
  JOIN sig a ON a.doc_id = c.id_a JOIN sig b ON b.doc_id = c.id_b
  JOIN sizes sa ON sa.doc_id = c.id_a JOIN sizes sb ON sb.doc_id = c.id_b)
SELECT id_a, id_b, est_containment FROM (
  SELECT id_a, id_b, {est} AS est_containment FROM scored)
WHERE est_containment >= 0.5"""


@register("d15_minhash_containment", _d15_oracle_sql())
def d15_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment estimated on the existing banded-MinHash pass
    (dedup.minhash_containment_pairs_portable): k-agreement signatures +
    in-row shingle counts, exact integer rounding — the cheap
    near-superset column on the LSH dedup you already run (d14 = the
    exact authority when superset recall is the requirement)."""
    docs = _t(spark, sf_dir, "documents")
    return DD.minhash_containment_pairs_portable(
        docs, "doc_id", "text", threshold=0.5,
        num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=_MH_SHINGLE)


# --- d13 — train/val split leakage audit + repair ---------------------------
# Near-dup pairs CROSSING the deterministic train/val boundary are the
# leakage that inflates eval numbers; the val-side member of each leaking
# pair is quarantined back to train.  Pair screen = the d03 banded
# MinHash chain; all-integer two-row report.

def _d13_oracle_sql() -> str:
    nh, thr = _MH_HASHES, _MH_THRESHOLD
    eq = " + ".join(f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
                    for i in range(nh))
    return f"""{_minhash_cte_prefix()},
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT c.id_a, c.id_b, ({eq}) / {nh}.0 AS est_jaccard
    FROM cand c JOIN sig a ON a.doc_id = c.id_a
                JOIN sig b ON b.doc_id = c.id_b)
  WHERE est_jaccard >= {thr}
), spl AS (
  SELECT doc_id, ((doc_id * 2654435761) % 4294967296) % 10 = 0 AS is_val
  FROM documents
), leak AS (
  SELECT sa.is_val AS va, p.id_a, p.id_b
  FROM pairs p JOIN spl sa ON sa.doc_id = p.id_a
               JOIN spl sb ON sb.doc_id = p.id_b
  WHERE sa.is_val <> sb.is_val
), moved AS (
  SELECT DISTINCT CASE WHEN va THEN id_a ELSE id_b END AS doc_id FROM leak
), tot AS (
  SELECT (SELECT count(*) FROM leak) AS leaked_pairs,
         (SELECT count(*) FROM moved) AS n_moved,
         (SELECT count(*) FROM spl WHERE is_val) AS n_val,
         (SELECT count(*) FROM spl WHERE NOT is_val) AS n_train
)
SELECT * FROM (
  SELECT 'train' AS split, n_train::BIGINT AS n_before,
         (n_train + n_moved)::BIGINT AS n_after,
         n_moved::BIGINT AS n_moved, leaked_pairs::BIGINT AS leaked_pairs
  FROM tot
  UNION ALL
  SELECT 'val', n_val::BIGINT, (n_val - n_moved)::BIGINT,
         n_moved::BIGINT, leaked_pairs::BIGINT
  FROM tot)"""


@register("d13_split_leakage", _d13_oracle_sql())
def d13_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage repair report: ~10% of docs held out by Knuth hash,
    MinHash near-dup pairs crossing the boundary quarantine their val
    member back to train."""
    docs = _t(spark, sf_dir, "documents")
    return DD.split_leakage_repair(
        docs, "doc_id", "text", threshold=_MH_THRESHOLD,
        num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=_MH_SHINGLE)


def _simhash_oracle_sql(max_hamming: int = 8) -> str:
    bitsums = ",\n       ".join(
        f"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, {b // 4 + 1}, 1)) - 1)"
        f" // {2 ** (b % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(64))
    chunk_exprs = ",\n       ".join(
        "(" + " + ".join(f"(CASE WHEN b{c * 16 + i} > 0 THEN {2 ** i} ELSE 0 END)"
                         for i in range(16)) + f")::BIGINT AS c{c}"
        for c in range(4))
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {c} AS band, c{c} AS key FROM sig" for c in range(4))
    ham = " + ".join(f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(4))
    return f"""WITH toks AS (
  SELECT doc_id, md5(t.t) AS h
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+') AS ws FROM documents) d,
       unnest(d.ws) AS t(t)),
bits AS (
  SELECT doc_id, {bitsums}
  FROM toks GROUP BY doc_id),
sig AS (
  SELECT doc_id, {chunk_exprs}
  FROM bits),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
SELECT id_a, id_b, hamming FROM (
  SELECT c.id_a, c.id_b, ({ham}) AS hamming
  FROM cand c JOIN sig a ON a.doc_id = c.id_a JOIN sig b ON b.doc_id = c.id_b)
WHERE hamming <= {max_hamming}"""


@register("d04_simhash_pairs", _simhash_oracle_sql(max_hamming=8))
def d04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sig = DD.simhash_portable(docs, "doc_id", "text")
    return DD.simhash_near_pairs(sig, "doc_id", max_hamming=8)


# --- d05 — embedding-cosine near-dup (label-blocked) -----------------------

@register(
    "d05_embedding_near_dup",
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4""",
)
def d05_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return DD.embedding_near_dup_pairs(emb, "vec_id", "embedding",
                                       threshold=0.4, block_col="label")


# --- ann01 — brute-force cosine top-k --------------------------------------

@register(
    "ann01_brute_topk",
    """SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings c, embeddings q
  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
) WHERE rank <= 5""",
)
def ann01_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = ANN.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "ann04_hard_negatives",
    """SELECT query_id, query_label, neighbor_id, neighbor_label,
       cosine, rank FROM (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS neighbor_id, c.label AS neighbor_label,
         round(list_cosine_similarity(c.embedding::DOUBLE[],
                                      q.embedding::DOUBLE[]), 6) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[],
                          q.embedding::DOUBLE[]), 6) DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings c, embeddings q
  WHERE q.vec_id % 25 = 0 AND c.vec_id <> q.vec_id
    AND c.label <> q.label
) WHERE rank <= 5""",
)
def ann04_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (contrastive-training data prep): for a
    deterministic query subset, the 5 most-similar OPPOSITE-label
    vectors — brute scored join here, LSH/IVF blocking at corpus-scale
    query sets (same ranking contract)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    out = ANN.hard_negatives(emb, queries, "vec_id", "embedding",
                             "label", k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


# The hyperplane set is deterministic driver-side Python (LCG + Box-Muller
# in ann._hyperplanes), so the oracle embeds the exact same float literals
# and reproduces signature bits, multi-probe buckets, and the re-rank in
# SQL — the full LSH pipeline is differentially checked, not rows-only.
_ANN02_PLANES, _ANN02_DIM = 6, 64  # testdata embeddings are 64-dim


def _ann02_oracle_sql(k: int = 5) -> str:
    from dataqtor_spark.operators.ann import _hyperplanes

    planes = _hyperplanes(_ANN02_DIM, _ANN02_PLANES)
    sig_bits = "\n     + ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(x) for x in p)
        + f"]) > 0 THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes))
    probe_list = ", ".join(["qsig"] + [f"xor(qsig, {2 ** i})" for i in range(_ANN02_PLANES)])
    return f"""WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (
  SELECT vec_id, v, {sig_bits} AS bucket
  FROM c),
q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qsig FROM sig WHERE vec_id < 8),
probes AS (
  SELECT query_id, qv, u.b AS bucket FROM q, unnest([{probe_list}]) AS u(b)),
scored AS (
  SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id,
         round(list_cosine_similarity(s.v, p.qv), 6) AS cosine
  FROM probes p JOIN sig s ON s.bucket = p.bucket AND s.vec_id <> p.query_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= {k}"""


@register("ann02_lsh_topk", _ann02_oracle_sql(k=5))
def ann02_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = ANN.lsh_topk(emb, queries, "vec_id", "embedding", k=5,
                       n_planes=_ANN02_PLANES, dim=_ANN02_DIM)
    return out.withColumn("rank", F.col("rank").cast("long"))


_ANN05_BRUTE_SQL = """SELECT query_id, neighbor_id FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[],
                          q.embedding::DOUBLE[]), 6) DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings c, embeddings q
  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
) WHERE rank <= 5"""


@register(
    "ann05_lsh_recall",
    "WITH brute AS (" + _ANN05_BRUTE_SQL + "),\n"
    "lsh AS (SELECT query_id, neighbor_id FROM (\n"
    + _ann02_oracle_sql(k=5) + "\n))\n"
    """SELECT b.query_id, count(*)::BIGINT AS n_brute,
       sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_hit,
       round(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 1.0 / count(*), 4) AS recall
FROM brute b LEFT JOIN lsh l
  ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
GROUP BY b.query_id""",
)
def ann05_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH path against exact brute force, per query —
    the approximation-quality dial every ANN deployment should watch
    (more planes/probes buy recall; this query IS the measurement).
    Both pipelines are themselves oracle-replayed, so the metric is
    differentially checked end-to-end, not just plumbing."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    brute = (ANN.brute_force_topk(emb, queries, "vec_id", "embedding",
                                  k=5)
             .select("query_id", "neighbor_id"))
    lsh = (ANN.lsh_topk(emb, queries, "vec_id", "embedding", k=5,
                        n_planes=_ANN02_PLANES, dim=_ANN02_DIM)
           .select(F.col("query_id").alias("lq"),
                   F.col("neighbor_id").alias("ln")))
    hit = F.sum(F.when(F.col("ln").isNotNull(), 1).otherwise(0))
    return (brute.join(F.broadcast(lsh),
                       (F.col("query_id") == F.col("lq"))
                       & (F.col("neighbor_id") == F.col("ln")), "left")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_brute"),
                 hit.cast("long").alias("n_hit"),
                 F.round(hit * 1.0 / F.count(F.lit(1)), 4)
                 .alias("recall")))


# --- a13 — string-similarity self-match (TF-IDF 3-gram cosine) -------------

_A13_SQL = """WITH vals AS (
  SELECT DISTINCT p_name AS value FROM part WHERE p_name IS NOT NULL
), n_docs AS (SELECT count(*) AS n FROM vals),
cleaned AS (
  SELECT value, regexp_replace(value, '[,\\-./]|[ \\t\\n\\r\\f]', '', 'g') AS cv FROM vals
),
grams AS (
  SELECT value, substring(cv, i, 3) AS gram, count(*) AS tf
  FROM cleaned, UNNEST(generate_series(1, greatest(length(cv) - 2, 1))) AS t(i)
  GROUP BY 1, 2
),
idf AS (
  SELECT gram, ln((1.0 + (SELECT n FROM n_docs)) / (1.0 + count(DISTINCT value))) + 1.0 AS idf
  FROM grams GROUP BY gram
),
w AS (
  SELECT g.value, g.gram, g.tf * i.idf AS w
  FROM grams g JOIN idf i ON g.gram = i.gram
),
norms AS (
  SELECT value, sqrt(sum(w * w)) AS nrm FROM w GROUP BY value
),
vec AS (
  SELECT w.value, w.gram, w.w / n.nrm AS weight
  FROM w JOIN norms n ON w.value = n.value
)
SELECT left_side, right_side, similarity FROM (
  SELECT l.value AS left_side, r.value AS right_side,
         round(sum(l.weight * r.weight), 4) AS similarity
  FROM vec l JOIN vec r ON l.gram = r.gram AND l.value < r.value
  GROUP BY 1, 2
) WHERE similarity >= 0.52
ORDER BY similarity DESC, left_side ASC, right_side ASC LIMIT 50"""

@register("a13_similar_strings", _A13_SQL)
def a13_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = _t(spark, sf_dir, "part")
    out = SIM.similar_strings(pt, "p_name", min_similarity=0.52, top_n=50)
    return out.withColumn("similarity", F.round(F.col("similarity"), 4))


_A13L_HASHES, _A13L_BANDS, _A13L_THRESHOLD = 32, 16, 0.4


def _a13_lsh_oracle_sql() -> str:
    from dataqtor_spark.operators.dedup import PORTABLE_P, portable_hash_constants

    nh, bands, thr = _A13L_HASHES, _A13L_BANDS, _A13L_THRESHOLD
    rpb = nh // bands
    consts = portable_hash_constants(nh)
    hmins = ",\n       ".join(
        f"min(({a} * v + {b}) % {PORTABLE_P}) AS h{i}" for i, (a, b) in enumerate(consts))
    band_rows = "\nUNION ALL\n".join(
        f"SELECT value, {b} AS band, "
        + " || ',' || ".join(f"h{b * rpb + r}" for r in range(rpb))
        + " AS key FROM sig" for b in range(bands))
    eq = " + ".join(f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(nh))
    return f"""WITH vals AS (
  SELECT DISTINCT p_name AS value FROM part WHERE p_name IS NOT NULL),
cleaned AS (
  SELECT value, regexp_replace(value, '[,\\-./]|[ \\t\\n\\r\\f]', '', 'g') AS cv FROM vals),
grams AS (
  SELECT DISTINCT value, substring(cv, i, 3) AS gram
  FROM cleaned, UNNEST(generate_series(1, greatest(length(cv) - 2, 1))) AS t(i)),
hv AS (
  SELECT value, {_nibble_value_sql("h16")} % {PORTABLE_P} AS v
  FROM (SELECT value, md5(gram) AS h16 FROM grams)),
sig AS (
  SELECT value, {hmins}
  FROM hv GROUP BY value),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT l.value AS left_side, r.value AS right_side
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.value < r.value)
SELECT left_side, right_side, est_jaccard FROM (
  SELECT c.left_side, c.right_side, ({eq}) / {nh}.0 AS est_jaccard
  FROM cand c JOIN sig a ON a.value = c.left_side JOIN sig b ON b.value = c.right_side)
WHERE est_jaccard >= {thr}"""


@register("a13_similar_strings_lsh", _a13_lsh_oracle_sql())
def a13_similar_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 scale mode on the portable md5 MinHash family (the MLlib
    MinHashLSH variant remains in similarity.similar_strings_lsh, covered
    by tests; its Spark-internal seeds cannot be oracle-replicated)."""
    pt = _t(spark, sf_dir, "part")
    return SIM.similar_strings_lsh_portable(
        pt, "p_name", threshold=_A13L_THRESHOLD,
        num_hashes=_A13L_HASHES, bands=_A13L_BANDS)


# ===========================================================================
# Streaming-equivalent windowed aggregations + multimodal plumbing
# ===========================================================================

from dataqtor_spark.operators import multimodal as MM  # noqa: E402
from dataqtor_spark.streaming import profiler as SP  # noqa: E402


@register(
    "s01_window_agg_events",
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type,
       count(*)::BIGINT AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2, 3""",
)
def s01_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SP.windowed_event_agg(_t(spark, sf_dir, "events"), window="1 hour")


@register(
    "s02_windowed_rule_scores",
    """SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
       time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS window_end,
       'value_small' AS rule,
       count(*)::BIGINT AS total_records,
       sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_records,
       sum(CASE WHEN value IS NOT NULL AND NOT (value < 200.0) THEN 1 ELSE 0 END)::BIGINT AS out_of_format_records,
       round((count(*) - sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
              - sum(CASE WHEN value IS NOT NULL AND NOT (value < 200.0) THEN 1 ELSE 0 END)) * 100.0
             / count(*), 2) AS dq_score
FROM events GROUP BY 1, 2""",
)
def s02_windowed_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    rules = [R.rule_compare("value", "<", 200.0, name="value_small")]
    return SP.windowed_rule_scores(ev, "ts", rules, window="6 hours")


@register(
    "m01_media_metadata",
    """SELECT doc_id AS media_id,
       octet_length(encode(text))::INT AS byte_size,
       sha256(text) AS content_sha256
FROM documents""",
)
def m01_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"))
    out = MM.attach_media_metadata(docs)
    return out.select("media_id", F.col("byte_size").cast("int").alias("byte_size"),
                      "content_sha256")


# The fake decode derives every property from sha256(payload) (multimodal
# module docstring), and DuckDB's sha256 is bit-identical — so the
# mapInPandas plumbing is differentially checked end-to-end: batch
# iteration, schema contract, and (for m03) the in-iterator row explosion.
# The float feature vector stays out of the registered m02 output (arrays
# hash poorly across engines); tests/test_multimodal_streaming.py covers it.


def _sha_byte_sql(hex_col: str, k: int) -> str:
    """SQL for byte k (0-based) of a lowercase hex digest string."""
    return (f"((strpos('0123456789abcdef', substr({hex_col}, {2 * k + 1}, 1)) - 1) * 16"
            f" + (strpos('0123456789abcdef', substr({hex_col}, {2 * k + 2}, 1)) - 1))")


_M02_SQL = f"""SELECT media_id, width, height,
       CASE WHEN m = 0 THEN 'RGB' WHEN m = 1 THEN 'RGBA' ELSE 'L' END AS mode
FROM (
  SELECT doc_id AS media_id,
         (64 + {_sha_byte_sql("h", 0)} * 4)::INT AS width,
         (64 + {_sha_byte_sql("h", 1)} * 4)::INT AS height,
         {_sha_byte_sql("h", 2)} % 3 AS m
  FROM (SELECT doc_id, sha256(text) AS h FROM documents))"""


@register("m02_image_decode_features", _M02_SQL)
def m02_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"))
    # the oracle replays the sha-derived fake decode, so pin the fake path
    # even on a machine where PIL is installed
    return MM.decode_image_features(docs, use_codec=False).drop("feature")


_M03_SQL = f"""SELECT media_id, (i - 1)::INT AS frame_index,
       ((i - 1) * 1000)::BIGINT AS ts_ms,
       h || printf('%08x', i - 1) AS frame_hex
FROM (
  SELECT doc_id AS media_id, h, 1 + ({_sha_byte_sql("h", 3)} % 8) AS nf
  FROM (SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id < 200)),
  unnest(generate_series(1, nf)) AS t(i)"""


@register("m03_video_frame_sampling", _M03_SQL)
def m03_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"))
    return (MM.sample_video_frames(docs, use_codec=False)  # oracle pins
            .withColumn("frame_hex", F.lower(F.hex("frame")))  # the fake
            .drop("frame"))


# ===========================================================================
# Search engine (P3–P6), null-majority rows (P8/R13), title case (F1),
# histogram + correlations (§2.10)
# ===========================================================================


@register(
    "p03_typed_search_orders",
    """SELECT o_orderkey, o_totalprice, o_orderstatus
FROM orders
WHERE o_totalprice BETWEEN 100000 AND 200000
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderstatus = 'O'""",
)
def p03_typed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4 — the corrector's typed search chain (home.py:1209-1364):
    numeric between + date >= + string equality, all pushed to the scan."""
    import datetime

    o = _t(spark, sf_dir, "orders")
    out = RP.search(o, "o_totalprice", "between", low=100000, high=200000)
    out = RP.search(out, "o_orderdate", ">=", datetime.datetime(1996, 1, 1))
    out = RP.search(out, "o_orderstatus", "==", "O")
    return out.select("o_orderkey", "o_totalprice", "o_orderstatus")


@register(
    "p05_null_search_customer",
    """SELECT c_nationkey, count(*)::BIGINT AS n_null_segment
FROM customer WHERE c_mktsegment = 'MACHINERY'
GROUP BY c_nationkey""",
)
def p05_null_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — isnull search (home.py:1366-1369) over a derived nullable column
    (testdata has no physical nulls; nullif injects them deterministically)."""
    cu = _t(spark, sf_dir, "customer").withColumn(
        "seg", F.when(F.col("c_mktsegment") == "MACHINERY", F.lit(None))
                .otherwise(F.col("c_mktsegment")))
    return (RP.search(cu, "seg", "isnull")
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_null_segment")))


@register(
    "p06_row_id_lookup",
    """SELECT __row_id, c_custkey, c_name
FROM (SELECT c_custkey, c_name,
             row_number() OVER (ORDER BY c_custkey) - 1 AS __row_id
      FROM customer)
WHERE __row_id = 42""",
)
def p06_row_id_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — row-identity search (home.py:1373-1377) on the materialized
    ``__row_id`` (session.with_row_id, reproducible row_number order)."""
    from dataqtor_spark.session import with_row_id

    cu = with_row_id(_t(spark, sf_dir, "customer").select("c_custkey", "c_name"),
                     order_by=["c_custkey"])
    return RP.search(cu, "__row_id", "row_id", 42).select("__row_id", "c_custkey", "c_name")


@register(
    "p08_null_majority_rows",
    """SELECT count(*)::BIGINT AS n_useless_rows
FROM customer
WHERE ((CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END)
     + (CASE WHEN c_acctbal < 1000 THEN 1 ELSE 0 END)
     + (CASE WHEN c_nationkey = 3 THEN 1 ELSE 0 END)) > 2.5""",
)
def p08_null_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/R13 — "useless rows": over half the cells null (home.py:94-97),
    on a 5-column view with 3 deterministically derived nullable cells."""
    cu = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name",
        F.when(F.col("c_mktsegment") == "MACHINERY", F.lit(None))
         .otherwise(F.col("c_mktsegment")).alias("seg_n"),
        F.when(F.col("c_acctbal") < 1000, F.lit(None))
         .otherwise(F.col("c_acctbal")).alias("bal_n"),
        F.when(F.col("c_nationkey") == 3, F.lit(None))
         .otherwise(F.col("c_nationkey")).alias("nat_n"))
    return P.null_majority_rows(cu).agg(F.count(F.lit(1)).alias("n_useless_rows"))


@register(
    "f01_title_case_part",
    """SELECT p_partkey,
       array_to_string(list_transform(string_split(p_name, ' '),
                                      x -> upper(x[1]) || lower(x[2:])), ' ')
       AS name_title
FROM part""",
)
def f01_title_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — initcap (home.py:1590-1597; apostrophe deviation documented in
    repair.title_case)."""
    pt = _t(spark, sf_dir, "part").withColumn("name_title", F.col("p_name"))
    return RP.title_case(pt, "name_title").select("p_partkey", "name_title")


@register(
    "pr01_histogram_price",
    """WITH mm AS (SELECT min(l_extendedprice)::DOUBLE AS lo,
                          max(l_extendedprice)::DOUBLE AS hi FROM lineitem),
b AS (SELECT CAST(least(floor((l_extendedprice - lo) / ((hi - lo) / 10)), 9) AS INT) AS bucket,
             lo, hi
      FROM lineitem, mm WHERE l_extendedprice IS NOT NULL)
SELECT bucket,
       round(lo + bucket * ((hi - lo) / 10), 4) AS bin_start,
       round(lo + (bucket + 1) * ((hi - lo) / 10), 4) AS bin_end,
       count(*)::BIGINT AS count
FROM b GROUP BY 1, 2, 3""",
)
def pr01_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — equi-width histogram, 2 jobs, no driver-side data."""
    h = P.histogram(_t(spark, sf_dir, "lineitem"), "l_extendedprice", bins=10)
    return h.select("bucket", F.round("bin_start", 4).alias("bin_start"),
                    F.round("bin_end", 4).alias("bin_end"), "count")


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

@register(
    "pr02_pearson_correlations",
    "\nUNION ALL\n".join(
        f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
       round(corr({a}, {b}), 4) AS pearson FROM lineitem"""
        for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:]
    ),
)
def pr02_pearson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — full Pearson correlation matrix in ONE aggregate pass."""
    out = P.correlations(_t(spark, sf_dir, "lineitem"), _CORR_COLS)
    return out.select("col_a", "col_b", F.round("pearson", 4).alias("pearson"))


_SPEAR_COLS = ["l_quantity", "l_discount", "l_tax"]

def _spearman_rank_sql(c: str) -> str:
    return (f"rank() OVER (ORDER BY {c}) "
            f"+ (count(*) OVER (PARTITION BY {c}) - 1) / 2.0")

@register(
    "pr03_spearman_correlations",
    "WITH r AS (SELECT "
    + ", ".join(f"{_spearman_rank_sql(c)} AS rk_{c}" for c in _SPEAR_COLS)
    + " FROM lineitem)\n"
    + "\nUNION ALL\n".join(
        f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
       round(corr(rk_{a}, rk_{b}), 4) AS spearman FROM r"""
        for i, a in enumerate(_SPEAR_COLS) for b in _SPEAR_COLS[i + 1:]
    ),
)
def pr03_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — exact Spearman via distinct-value fractional ranks (no
    full-table single-partition sort; see profile._fractional_ranks)."""
    return P.spearman_correlations(_t(spark, sf_dir, "lineitem"), _SPEAR_COLS)


@register(
    "pr04_cramers_v",
    """WITH ct AS (SELECT c_mktsegment AS a, c_nationkey AS b, count(*)::DOUBLE AS o
               FROM customer GROUP BY 1, 2),
m AS (SELECT o,
             sum(o) OVER (PARTITION BY a) AS rt,
             sum(o) OVER (PARTITION BY b) AS ctot,
             sum(o) OVER () AS n, a, b
      FROM ct),
chi AS (SELECT sum(pow(o - rt * ctot / n, 2) / (rt * ctot / n)) AS chi2,
               max(n) AS n, count(DISTINCT a) AS r, count(DISTINCT b) AS c
        FROM m)
SELECT 'c_mktsegment' AS col_a, 'c_nationkey' AS col_b,
       round(sqrt(chi2 / (n * (least(r, c) - 1))), 4) AS cramers_v
FROM chi""",
)
def pr04_cramers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — Cramér's V categorical association."""
    return P.cramers_v(_t(spark, sf_dir, "customer"), "c_mktsegment", "c_nationkey")


_PR22_SQL = """WITH cells AS (
  SELECT l_quantity AS x,
         CAST(floor(l_extendedprice / 5000) AS BIGINT) AS y,
         CAST(count(*) AS HUGEINT) AS cnt
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY 1, 2
), cd AS (
  SELECT coalesce(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0
                           THEN a.cnt * b.cnt END), 0) AS c_pairs,
         coalesce(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0
                           THEN a.cnt * b.cnt END), 0) AS d_pairs
  FROM cells a JOIN cells b
    ON a.x < b.x OR (a.x = b.x AND a.y < b.y)
), tx AS (
  SELECT sum(t * (t - 1)) // 2 AS n1
  FROM (SELECT sum(cnt) AS t FROM cells GROUP BY x)
), ty AS (
  SELECT sum(t * (t - 1)) // 2 AS n2
  FROM (SELECT sum(cnt) AS t FROM cells GROUP BY y)
), tot AS (SELECT sum(cnt) AS n FROM cells)
SELECT 'l_quantity' AS col_x, 'price_bin' AS col_y,
       CAST(n AS BIGINT) AS n,
       CAST(c_pairs AS DOUBLE) AS concordant,
       CAST(d_pairs AS DOUBLE) AS discordant,
       round(CAST(c_pairs - d_pairs AS DOUBLE)
             / (sqrt(CAST(n * (n - 1) // 2 - n1 AS DOUBLE))
                * sqrt(CAST(n * (n - 1) // 2 - n2 AS DOUBLE))), 6)
         AS kendall_tau
FROM cd, tx, ty, tot"""


@register("pr22_kendall_tau", _PR22_SQL)
def pr22_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — Kendall τ-b rank correlation (a last enumerated
    pandas-profiling report statistic; φk's SQL-expressible core is
    graded as pr23, its BVN inversion pytest-anchored).  Continuous
    price is binned
    to keep the contingency-cell pair join bounded (the operator's
    documented contract)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity",
        F.floor(F.col("l_extendedprice") / 5000).cast("long")
        .alias("price_bin"))
    return P.kendall_tau(li, "l_quantity", "price_bin")


def _phik_stats_sql(cy_name: str, y_expr: str) -> str:
    """DuckDB replay of ``profile.phik_statistics`` for one numeric pair.

    Mirrors the Spark plan exactly: CAST-to-DOUBLE before any
    arithmetic, the same equi-width bin expression (degenerate
    hi == lo → bin 0), and the same zero-cell χ² identity
    Σ_zero e = n − Σ_nonzero e so only nonzero cells are iterated."""
    return f"""WITH src AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x, CAST({y_expr} AS DOUBLE) AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND ({y_expr}) IS NOT NULL),
mm AS (SELECT min(x) lox, max(x) hix, min(y) loy, max(y) hiy FROM src),
b AS (SELECT
  CASE WHEN hix = lox THEN 0
       ELSE least(CAST(floor((x - lox) / ((hix - lox) / 10)) AS INT), 9)
  END AS bx,
  CASE WHEN hiy = loy THEN 0
       ELSE least(CAST(floor((y - loy) / ((hiy - loy) / 10)) AS INT), 9)
  END AS by
  FROM src, mm),
cells AS (SELECT bx, by, CAST(count(*) AS DOUBLE) AS cnt
          FROM b GROUP BY bx, by),
rx AS (SELECT bx, sum(cnt) AS rt FROM cells GROUP BY bx),
cy AS (SELECT by, sum(cnt) AS ct FROM cells GROUP BY by),
tot AS (SELECT sum(cnt) AS n,
               CAST(count(DISTINCT bx) AS INT) AS r_bins,
               CAST(count(DISTINCT by) AS INT) AS c_bins
        FROM cells),
agg AS (SELECT n, r_bins, c_bins,
               sum(pow(cnt - rt * ct / n, 2) / (rt * ct / n)) AS chi2_nz,
               sum(rt * ct / n) AS e_nz
        FROM cells JOIN rx USING (bx) JOIN cy USING (by), tot
        GROUP BY n, r_bins, c_bins)
SELECT 'l_quantity' AS col_x, '{cy_name}' AS col_y,
       CAST(n AS BIGINT) AS n, r_bins, c_bins,
       round(chi2_nz + (n - e_nz), 4) AS chi2,
       CAST((r_bins - 1) * (c_bins - 1) AS DOUBLE) AS pedestal,
       round(greatest(chi2_nz + (n - e_nz)
                      - (r_bins - 1) * (c_bins - 1), 0), 4)
         AS chi2_corrected
FROM agg"""


@register(
    "pr23_phik",
    "SELECT * FROM (\n"
    + _phik_stats_sql("l_extendedprice", "l_extendedprice")
    + "\n) UNION ALL SELECT * FROM (\n"
    + _phik_stats_sql("qty_plus_noise",
                      "CAST(l_quantity AS DOUBLE) * 2000"
                      " + CAST(l_extendedprice AS DOUBLE)")
    + "\n)",
)
def pr23_phik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — φk correlation screen (pandas-profiling 3.2.0 'phi_k'
    matrix, Baak et al. 2018), closing the last enumerated report
    statistic.  The graded query returns the SQL-replayable φk
    statistics — binned contingency χ², the (r−1)(c−1) independence
    pedestal, and the noise-corrected χ² the inversion consumes — via
    ``profile.phik_statistics``; the bivariate-normal inversion that
    turns chi2_corrected into the φk coefficient has no closed SQL form
    and stays in ``profile.phik_correlation``, pytest-anchored
    (ρ-recovery on Gaussian data, 0/1 limits, symmetry, and agreement
    with these statistics' binning).

    The synthetic tables generate every column independently (measured
    Pearson ≈ 0.003 across all pairs), so this returns BOTH regimes: the
    natural independent pair (χ² ≈ pedestal → corrected ≈ 0) and a
    derived signal+noise column (y = 2000·quantity + extendedprice)
    whose χ² is a deterministic large value."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice",
        (F.col("l_quantity").cast("double") * 2000
         + F.col("l_extendedprice").cast("double"))
        .alias("qty_plus_noise"))
    indep = P.phik_statistics(li, "l_quantity", "l_extendedprice")
    dep = P.phik_statistics(li, "l_quantity", "qty_plus_noise")
    return indep.unionByName(dep)


_MOMENT_COLS = ["l_quantity", "l_discount"]

def _moment_oracle(c: str) -> str:
    return f"""SELECT '{c}' AS "column",
       round((m3 / n) / pow(m2 / n, 1.5), 4) AS skewness,
       round((m4 / n) / pow(m2 / n, 2) - 3, 4) AS kurtosis
FROM (SELECT sum(pow({c} - m, 2)) AS m2, sum(pow({c} - m, 3)) AS m3,
             sum(pow({c} - m, 4)) AS m4, count({c}) AS n
      FROM lineitem, (SELECT avg({c}) AS m FROM lineitem))"""

@register(
    "pr05_moment_stats",
    "\nUNION ALL\n".join(_moment_oracle(c) for c in _MOMENT_COLS),
)
def pr05_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — population skewness + excess kurtosis, one aggregate."""
    return P.moment_stats(_t(spark, sf_dir, "lineitem"), _MOMENT_COLS)


@register(
    "s03_sessionize_events",
    """WITH x AS (SELECT user_id, ts,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL '30 minutes'
             THEN 1 ELSE 0 END AS new_s
      FROM events),
y AS (SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM x)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       count(*)::BIGINT AS n_events
FROM y GROUP BY user_id, sid""",
)
def s03_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified batch/streaming sessionization via F.session_window; the
    oracle is the classic gaps-and-islands construction."""
    return SP.sessionize(_t(spark, sf_dir, "events"), "ts", "user_id", "30 minutes")


# Every stage of the portable IVF is deterministic and ANSI-expressible —
# md5-ordered seed draw, 2 unrolled Lloyd rounds (centroids rounded to 6 dp,
# assignment on squared L2 rounded to 9 dp with cid tie-break), probe, and
# cosine re-rank — so the oracle replays the entire k-means, not just the
# final ranking.  The MLlib-quantizer ivf_topk stays as the tested scale
# path (its float internals aren't SQL-replicable).
_ANN03_K, _ANN03_PROBE, _ANN03_CLUSTERS, _ANN03_ITER, _ANN03_DIM = 5, 3, 8, 2, 64


def _ann03_oracle_sql() -> str:
    nc, npr, k, dim = _ANN03_CLUSTERS, _ANN03_PROBE, _ANN03_K, _ANN03_DIM

    def assign_cte(src: str, cents: str, rn_cap: int, id_out: str, v_out: str) -> str:
        return f"""(
  SELECT {id_out}, {v_out}, cid FROM (
    SELECT x.vec_id AS {id_out}, x.v AS {v_out}, s.cid,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY round(pow(list_distance(x.v, s.v), 2), 9), s.cid) AS rn
    FROM {src} x, {cents} s) WHERE rn <= {rn_cap})"""

    def recenter_cte(assigned: str) -> str:
        return f"""(
  SELECT cid, list(val ORDER BY i) AS v FROM (
    SELECT a.cid, t.i, round(avg(a.v[t.i]), 6) AS val
    FROM {assigned} a, unnest(generate_series(1, {dim})) AS t(i)
    GROUP BY a.cid, t.i) GROUP BY cid)"""

    return f"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
seeds AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cid, v
  FROM c ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {nc}),
a1 AS {assign_cte("c", "seeds", 1, "vec_id", "v")},
cent1 AS {recenter_cte("a1")},
a2 AS {assign_cte("c", "cent1", 1, "vec_id", "v")},
cent2 AS {recenter_cte("a2")},
af AS {assign_cte("c", "cent2", 1, "vec_id", "v")},
qp AS {assign_cte("(SELECT * FROM c WHERE vec_id < 8)", "cent2", npr, "query_id", "qv")},
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(a.v, q.qv), 6) AS cosine
  FROM qp q JOIN af a ON a.cid = q.cid AND a.vec_id <> q.query_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= {k}"""


@register("ann03_ivf_topk", _ann03_oracle_sql())
def ann03_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantized ANN, portable deterministic quantizer — the
    partition-pruned scale path with a fully SQL-replayed oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = ANN.ivf_topk_portable(
        emb, queries, "vec_id", "embedding",
        k=_ANN03_K, n_clusters=_ANN03_CLUSTERS, n_probe=_ANN03_PROBE,
        n_iter=_ANN03_ITER,
        cache_key=os.path.join(sf_dir, "embeddings.parquet"))
    return out.withColumn("rank", F.col("rank").cast("long"))


@register("ann03b_ivf_mllib_topk")
def ann03b_ivf_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib-KMeans IVF (rows-only: Spark-internal quantizer float paths;
    recall asserted in tests/test_ann.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = ANN.ivf_topk(emb, queries, "vec_id", "embedding",
                       k=5, n_clusters=8, n_probe=3,
                       cache_key=os.path.join(sf_dir, "embeddings.parquet"))
    return out.withColumn("rank", F.col("rank").cast("long"))


# --- a00 — the fused §2.10 profile report as one query ---------------------

_PROF_NUM = ["l_quantity", "l_extendedprice"]
_PROF_STR = ["l_returnflag", "l_linestatus"]

def _prof_num_oracle(c: str) -> str:
    return f"""SELECT '{c}' AS "column", 'double' AS dtype,
       count(*)::BIGINT AS total_records,
       (count(*) - count({c}))::BIGINT AS null_records,
       count(DISTINCT {c})::BIGINT AS distinct_values,
       {XR.round_ratio_sql(f'CAST(sum(CAST({c} AS DECIMAL(18,2))) * 100 AS HUGEINT)',
                           f'count({c}) * 100', 4)} AS mean,
       round(stddev_samp({c}), 4) AS std,
       (round(min({c}), 4)::DOUBLE) AS min, (round(max({c}), 4)::DOUBLE) AS max,
       (SELECT round((sum(pow({c} - m, 3)) / count({c}))
                     / pow(sum(pow({c} - m, 2)) / count({c}), 1.5), 4)
        FROM lineitem, (SELECT avg({c}) AS m FROM lineitem)) AS skewness,
       (SELECT round((sum(pow({c} - m, 4)) / count({c}))
                     / pow(sum(pow({c} - m, 2)) / count({c}), 2) - 3, 4)
        FROM lineitem, (SELECT avg({c}) AS m FROM lineitem)) AS kurtosis,
       sum(CASE WHEN {c} = 0 THEN 1 ELSE 0 END)::BIGINT AS zero_count,
       sum(CASE WHEN {c} < 0 THEN 1 ELSE 0 END)::BIGINT AS negative_count
FROM lineitem"""

def _prof_str_oracle(c: str) -> str:
    return f"""SELECT '{c}' AS "column", 'string' AS dtype,
       count(*)::BIGINT AS total_records,
       (count(*) - count({c}))::BIGINT AS null_records,
       count(DISTINCT {c})::BIGINT AS distinct_values,
       CAST(NULL AS DOUBLE) AS mean, CAST(NULL AS DOUBLE) AS std,
       CAST(NULL AS DOUBLE) AS min, CAST(NULL AS DOUBLE) AS max,
       CAST(NULL AS DOUBLE) AS skewness, CAST(NULL AS DOUBLE) AS kurtosis,
       CAST(NULL AS BIGINT) AS zero_count, CAST(NULL AS BIGINT) AS negative_count
FROM lineitem"""

@register(
    "a00_full_profile_lineitem",
    "\nUNION ALL\n".join([_prof_num_oracle(c) for c in _PROF_NUM]
                         + [_prof_str_oracle(c) for c in _PROF_STR]),
)
def a00_full_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — the pandas-profiling-equivalent per-column report, ONE
    aggregate pass (exact-distinct mode here for the oracle; the default
    uses HyperLogLog — see profile_columns docstring)."""
    out = P.profile_columns(_t(spark, sf_dir, "lineitem"),
                            _PROF_NUM + _PROF_STR, exact_distinct=True,
                            exact_mean=(2, 4))  # 2dp inputs, tie-proof 4dp
    return out.select(
        "column", "dtype", "total_records", "null_records", "distinct_values",
        "mean",  # already exactly rounded at 4dp by exact_mean
        *[F.round(F.col(c), 4).alias(c)
          for c in ["std", "min", "max", "skewness", "kurtosis"]],
        "zero_count", "negative_count")


# --- w01 — the reference's core loop: measure → repair → re-measure --------

_W01_RULES_SQL = {
    "name_no_specials": ("c_name", "c_name IS NULL",
                         f"c_name IS NOT NULL AND ({_SPECIALS_SQL.replace('c_name', 'c_name')})"),
    "segment_forbidden": ("c_mktsegment", "c_mktsegment IS NULL",
                          "c_mktsegment IS NOT NULL AND c_mktsegment IN ('MACHINERY', 'AUTOMOBILE')"),
}

def _w01_summary_sql(table_expr: str, phase: str) -> str:
    rows = []
    for rule, (col, nullp, violp) in _W01_RULES_SQL.items():
        rows.append(f"""SELECT '{phase}' AS phase, '{rule}' AS rule, '{col}' AS "column",
  count(*)::BIGINT AS total_records,
  sum(CASE WHEN {nullp} THEN 1 ELSE 0 END)::BIGINT AS null_records,
  sum(CASE WHEN {violp} THEN 1 ELSE 0 END)::BIGINT AS out_of_format_records,
  (count(*) - sum(CASE WHEN {nullp} THEN 1 ELSE 0 END) - sum(CASE WHEN {violp} THEN 1 ELSE 0 END))::BIGINT AS proper_format_records,
  round((count(*) - sum(CASE WHEN {nullp} THEN 1 ELSE 0 END) - sum(CASE WHEN {violp} THEN 1 ELSE 0 END)) * 100.0 / count(*), 2) AS dq_score
FROM ({table_expr})""")
    return "\nUNION ALL\n".join(rows)


_W01_REPAIRED_SQL = """SELECT
  regexp_replace(trim(c_name, '#'), ' +', ' ', 'g') AS c_name,
  CASE WHEN c_mktsegment = 'MACHINERY' THEN 'HEAVY EQUIPMENT'
       ELSE c_mktsegment END AS c_mktsegment
FROM customer"""

@register(
    "w01_before_after_scores",
    _w01_summary_sql("SELECT c_name, c_mktsegment FROM customer", "before")
    + "\nUNION ALL\n"
    + _w01_summary_sql(_W01_REPAIRED_SQL, "after"),
)
def w01_before_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's E2→E3→E2 lifecycle (SURVEY §3): score, repair via
    the lineage-based RepairSession (no in-place mutation — before/after
    are two lineage points), score again.  The union of the two summary
    tables is the reference's before/after report (A15)."""
    rules = [
        R.rule_no_special_chars("c_name", name="name_no_specials"),
        R.rule_forbidden_values("c_mktsegment", ["MACHINERY", "AUTOMOBILE"],
                                name="segment_forbidden"),
    ]
    sess = RP.RepairSession(_t(spark, sf_dir, "customer"))
    before = sess.snapshot("before")
    (sess.apply(RP.strip_chars, "c_name", "#")
         .apply(RP.collapse_spaces, "c_name")
         .apply(RP.remap_value, "c_mktsegment", "MACHINERY", "HEAVY EQUIPMENT"))
    after = sess.snapshot("after")
    b = R.evaluate_rules(before, rules).withColumn("phase", F.lit("before"))
    a = R.evaluate_rules(after, rules).withColumn("phase", F.lit("after"))
    cols = ["phase", "rule", "column", "total_records", "null_records",
            "out_of_format_records", "proper_format_records", "dq_score"]
    return b.select(*cols).unionByName(a.select(*cols))


# --- x01 — semi-structured props extraction (schema-on-read) ---------------

@register(
    "x01_json_extract_props",
    """SELECT event_type,
       count(*)::BIGINT AS n_events,
       sum(CAST(json_extract(props, '$.k') AS INT))::BIGINT AS sum_k,
       min(CAST(json_extract(props, '$.k') AS INT))::INT AS min_k,
       max(CAST(json_extract(props, '$.k') AS INT))::INT AS max_k
FROM events GROUP BY 1""",
)
def x01_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over a JSON string column: get_json_object stays in
    codegen (no Python), and only the extracted path is materialized."""
    ev = _t(spark, sf_dir, "events")
    from dataqtor_spark.session import parallelize

    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    # exchange the raw JSON first: the per-row parse otherwise runs in
    # the single-task scan stage (one-row-group input)
    return (parallelize(ev.select("event_type", "props"))
            .select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("k").cast("long").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k")))


# --- t05 — composite training-data pipeline --------------------------------

_T05_NTOK = ("(CASE WHEN length(trim(text)) = 0 THEN 0 "
             "ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) END)")
_T05_DIGR = ("round(len(regexp_extract_all(text, '[0-9]')) * 1.0 "
             "/ greatest(length(text), 1), 4)")

def _langid_tokens_sql(expr: str) -> str:
    toks = f"regexp_split_to_array(trim(lower({expr})), '[ \\t\\n\\r\\f]+')"
    votes = {}
    for lang in TX.LANG_ORDER:
        words = ", ".join(f"'{w}'" for w in TX.LANG_MARKERS[lang])
        votes[lang] = f"len(list_filter({toks}, t -> t IN ({words})))"
    best = "greatest(" + ", ".join(f"({votes[l]})" for l in TX.LANG_ORDER) + ")"
    whens = "".join(f" WHEN ({votes[l]}) = {best} THEN '{l}'" for l in TX.LANG_ORDER)
    return f"CASE WHEN {best} = 0 THEN 'und'{whens} ELSE 'und' END"


@register(
    "t05_training_pipeline",
    f"""WITH flt AS (
  SELECT doc_id, text FROM documents
  WHERE {_T05_NTOK} >= 5 AND {_T05_DIGR} < 0.2
), lng AS (
  SELECT doc_id, text, {{LANGID}} AS lang_pred FROM flt
  WHERE {{LANGID}} <> 'und'
), fp AS (
  SELECT doc_id, lang_pred,
         md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+'))), ' ')) AS fp
  FROM lng
), keep AS (
  SELECT lang_pred FROM (
    SELECT lang_pred, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fp) WHERE rn = 1
)
SELECT lang_pred, count(*)::BIGINT AS n_docs FROM keep GROUP BY 1""".replace(
        "{LANGID}", _langid_tokens_sql("text")),
)
def t05_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-training-data pipeline in one lineage: quality filter →
    language filter → fingerprint dedup (keep lowest id) → per-language
    counts.  Every stage is the already-tested operator; the composition
    is pure DataFrame flow — one scan, one fp shuffle, one count shuffle.
    The keep-lowest-id step is a ``min_by`` aggregate (map-side
    combinable), not a row_number window: same survivor, no per-group
    sort."""
    from dataqtor_spark.session import parallelize

    # documents.parquet is a single row group — without an exchange the
    # regex-heavy quality+langid stages run in one task
    docs = TX.add_quality(parallelize(_t(spark, sf_dir, "documents")))
    flt = docs.filter((F.col("n_tokens") >= 5) & (F.col("digit_ratio") < 0.2))
    lng = TX.add_lang_id_tokens(flt).filter(F.col("lang_pred") != "und")
    fp = lng.select("doc_id", "lang_pred", TX.fingerprint("text").alias("fp"))
    keep = fp.groupBy("fp").agg(
        F.min_by("lang_pred", "doc_id").alias("lang_pred"))
    return keep.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "pr06_null_pattern_profile",
    """SELECT (CASE WHEN c_mktsegment = 'MACHINERY' THEN '1' ELSE '0' END ||
        CASE WHEN c_acctbal < 1000 THEN '1' ELSE '0' END ||
        CASE WHEN c_nationkey = 3 THEN '1' ELSE '0' END) AS null_pattern,
       count(*)::BIGINT AS n_rows,
       ((CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END)
        + (CASE WHEN c_acctbal < 1000 THEN 1 ELSE 0 END)
        + (CASE WHEN c_nationkey = 3 THEN 1 ELSE 0 END))::INT AS n_null_columns
FROM customer GROUP BY 1, 3""",
)
def pr06_null_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — missing-value matrix over derived nullable columns (testdata
    has no physical nulls; same derivation as p08)."""
    cu = _t(spark, sf_dir, "customer").select(
        F.when(F.col("c_mktsegment") == "MACHINERY", F.lit(None))
         .otherwise(F.col("c_mktsegment")).alias("seg_n"),
        F.when(F.col("c_acctbal") < 1000, F.lit(None))
         .otherwise(F.col("c_acctbal")).alias("bal_n"),
        F.when(F.col("c_nationkey") == 3, F.lit(None))
         .otherwise(F.col("c_nationkey")).alias("nat_n"))
    out = P.null_pattern_profile(cu, ["seg_n", "bal_n", "nat_n"])
    return out.select("null_pattern", "n_rows",
                      F.col("n_null_columns").cast("int").alias("n_null_columns"))


@register(
    "s04_score_drift",
    """WITH s AS (
  SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
         'value_small' AS rule,
         round((count(*) - sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                - sum(CASE WHEN value IS NOT NULL AND NOT (value < 200.0)
                      THEN 1 ELSE 0 END)) * 100.0 / count(*), 2) AS dq_score
  FROM events GROUP BY 1
)
SELECT window_start, rule, dq_score,
       round(dq_score - lag(dq_score) OVER (PARTITION BY rule
                                            ORDER BY window_start), 2)
       AS score_drift
FROM s""",
)
def s04_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ-score drift between consecutive daily windows — the quality
    monitoring primitive over a stream or a backfill."""
    ev = _t(spark, sf_dir, "events")
    rules = [R.rule_compare("value", "<", 200.0, name="value_small")]
    scores = SP.windowed_rule_scores(ev, "ts", rules, window="1 day")
    return (SP.score_drift(scores)
            .select("window_start", "rule", "dq_score", "score_drift"))


@register(
    "r08b_email_subrule_counts",
    "\nUNION ALL\n".join(
        f"""SELECT '{name}' AS subrule,
       sum(CASE WHEN ({sql}) THEN 1 ELSE 0 END)::BIGINT AS n_violations
FROM (SELECT {{EMAIL}} AS email FROM customer)""".replace("{EMAIL}", _EMAIL_DERIVED_SQL)
        for name, sql in EM.email_flags_sql("email").items()
    ),
)
def r08b_email_subrules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 per-sub-rule violation counts — free by-products of the fused
    projection (the reference re-scans the column once per sub-family,
    home.py:477-558; here all 10 booleans come from one pass)."""
    cu = _t(spark, sf_dir, "customer").select(_email_derived_spark().alias("email"))
    flags = EM.email_flags("email")
    aggs = [F.coalesce(F.sum(v.cast("long")), F.lit(0)).alias(k)
            for k, v in flags.items()]
    one = cu.agg(*aggs)
    structs = [F.struct(F.lit(k).alias("subrule"),
                        F.col(k).alias("n_violations")) for k in flags]
    return (one.select(F.explode(F.array(*structs)).alias("s")).select("s.*"))


@register(
    "m02b_decode_dims",
    """SELECT doc_id AS media_id,
       (64 + CAST(concat('0x', substr(sha256(text), 1, 2)) AS INT) * 4)::INT AS width,
       (64 + CAST(concat('0x', substr(sha256(text), 3, 2)) AS INT) * 4)::INT AS height,
       (CASE CAST(concat('0x', substr(sha256(text), 5, 2)) AS INT) % 3
             WHEN 0 THEN 'RGB' WHEN 1 THEN 'RGBA' ELSE 'L' END) AS mode
FROM documents""",
)
def m02b_decode_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic-fake decode's dimensional output, oracle-checked:
    proves the mapInPandas batch plumbing produces exactly the declared
    per-row transform (the float feature vector stays rows-only in m02)."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"))
    return (MM.decode_image_features(docs, use_codec=False)
            .select("media_id", "width", "height", "mode"))


# --- j05 — as-of join (time-series enrichment) -----------------------------

from dataqtor_spark.operators import asof as AJ  # noqa: E402


@register(
    "j05_asof_join_events",
    """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
r AS (SELECT user_id, ts, max(value) AS value FROM events
      WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT l.event_id, l.user_id, l.ts, r.value AS value_right
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""",
)
def j05_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each view event enriched with the user's latest prior purchase value
    — union + carry-forward window (one shuffle per side), oracled against
    DuckDB's native ASOF JOIN."""
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    right = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts").agg(F.max("value").alias("value")))
    return AJ.asof_join(left, right, "user_id", "ts", ["value"])


@register(
    "s05_event_rollup",
    """SELECT coalesce(strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d'), 'ALL') AS day,
       coalesce(event_type, 'ALL') AS event_type,
       GROUPING(time_bucket(INTERVAL '1 day', ts), event_type)::INT AS grouping_level,
       count(*)::BIGINT AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY ROLLUP(time_bucket(INTERVAL '1 day', ts), event_type)""",
)
def s05_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: (day, type) cells, per-day
    subtotals, and the grand total in ONE pass — Catalyst's Expand feeds a
    single shuffle instead of three separate aggregations."""
    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type", "value")
    return (ev.rollup("day", "event_type")
            .agg(F.grouping_id().cast("int").alias("grouping_level"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                 .alias("total_value"))
            .select(F.coalesce(F.date_format("day", "yyyy-MM-dd"), F.lit("ALL")).alias("day"),
                    F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                    "grouping_level", "n_events", "total_value"))


_CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings"]

@register(
    "a01b_catalog_summary",
    "\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name, count(*)::BIGINT AS n_rows FROM {t}"
        for t in _CATALOG_TABLES),
)
def a01b_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog sweep: one row per table.  Parquet row counts come from
    footer metadata (count-star pushdown) — no data pages are read."""
    out = None
    for t in _CATALOG_TABLES:
        one = (_t(spark, sf_dir, t)
               .agg(F.count(F.lit(1)).alias("n_rows"))
               .select(F.lit(t).alias("table_name"), "n_rows"))
        out = one if out is None else out.unionByName(one)
    return out


# --- j06 — range join: events → containing session -------------------------

from dataqtor_spark.operators import rangejoin as RJ  # noqa: E402


@register(
    "j06_range_join_sessions",
    """WITH x AS (SELECT user_id, ts,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL '30 minutes'
             THEN 1 ELSE 0 END AS new_s
      FROM events),
y AS (SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM x),
sessions AS (SELECT user_id, min(ts) AS session_start,
                    max(ts) + INTERVAL '30 minutes' AS session_end
             FROM y GROUP BY user_id, sid)
SELECT s.user_id, count(*)::BIGINT AS n_assigned
FROM events e JOIN sessions s
  ON e.user_id = s.user_id
 AND e.ts >= s.session_start AND e.ts < s.session_end
GROUP BY 1""",
)
def j06_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every event to its containing session interval via the
    bucketized range join (equi-join on (key, hour-bucket) + exact
    containment filter — no inequality join in the plan), then count per
    user.  Oracle uses a plain BETWEEN join."""
    ev = _t(spark, sf_dir, "events")
    sessions = SP.sessionize(ev, "ts", "user_id", "30 minutes").select(
        "user_id", "session_start", "session_end")
    assigned = RJ.range_join(ev.select("user_id", "ts"), sessions,
                             "user_id", "ts", "session_start", "session_end",
                             bucket="1 hour")
    return assigned.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_assigned"))


# --- r15 — z-score outlier rule (stats pass + filter pass) -----------------

@register(
    "r15_zscore_outliers",
    """WITH s AS (SELECT avg(o_totalprice) AS m, stddev_samp(o_totalprice) AS sd
           FROM orders)
SELECT o_orderstatus, count(*)::BIGINT AS n_outliers
FROM orders, s
WHERE abs(o_totalprice - m) > 1.5 * sd
GROUP BY 1""",
)
def r15_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical outlier rule: |x−μ| > kσ.  Two jobs — a scalar stats
    aggregate broadcast into the filter pass; no per-row Python, the
    filter is an ordinary pushable predicate once μ/σ are literals."""
    o = _t(spark, sf_dir, "orders")
    stats = o.agg(F.avg("o_totalprice").alias("m"),
                  F.stddev_samp("o_totalprice").alias("sd"))
    return (o.crossJoin(F.broadcast(stats))
            .filter(F.abs(F.col("o_totalprice") - F.col("m")) > 1.5 * F.col("sd"))
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_outliers")))


# --- o05 — per-group top-k -------------------------------------------------

@register(
    "o05_topk_per_group",
    """SELECT o_orderstatus, o_orderkey, o_totalprice, rank
FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
      FROM orders)
WHERE rank <= 3""",
)
def o05_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via a ranked window — one shuffle on the group key,
    per-partition sort (contrast o01's global TakeOrderedAndProject)."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (o.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("o_orderstatus", "o_orderkey", "o_totalprice",
                    F.col("rank").cast("long").alias("rank")))


# --- a18 — pivot (crosstab) ------------------------------------------------

_PIVOT_STATUSES = ["F", "O", "P"]

@register(
    "a18_pivot_status_priority",
    "SELECT o_orderpriority, "
    + ", ".join(
        f"sum(CASE WHEN o_orderstatus = '{s}' THEN 1 ELSE 0 END)::BIGINT AS status_{s}"
        for s in _PIVOT_STATUSES)
    + " FROM orders GROUP BY 1",
)
def a18_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crosstab via pivot with an EXPLICIT value list — without it Spark
    runs an extra distinct job to discover pivot values; with it the plan
    is a single conditional aggregation."""
    o = _t(spark, sf_dir, "orders")
    out = (o.groupBy("o_orderpriority")
           .pivot("o_orderstatus", _PIVOT_STATUSES)
           .agg(F.coalesce(F.count(F.lit(1)), F.lit(0))))
    return out.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).cast("long").alias(f"status_{s}")
          for s in _PIVOT_STATUSES])


# --- p01/p02/f14/r06 — the remaining §2 items as oracle-checked queries ----

@register(
    "p01_project_reorder_drop",
    """SELECT o_orderpriority, o_orderkey, CAST(o_custkey AS VARCHAR) AS custkey_str
FROM orders""",
)
def p01_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 projection/reorder + P2 drop + F14 cast-to-string in one lineage
    (the corrector's column-management surface, home.py:1383-1389,2030-2034)."""
    o = _t(spark, sf_dir, "orders")
    o = RP.cast_column(o.withColumn("custkey_str", F.col("o_custkey")),
                       "custkey_str", "string")
    o = RP.drop_column(o, "o_totalprice")
    return RP.project(o, ["o_orderpriority", "o_orderkey", "custkey_str"])


@register(
    "r06_no_spaces_rule",
    """SELECT p_brand, count(*)::BIGINT AS n_violations
FROM part
WHERE p_name IS NOT NULL AND contains(p_name, ' ')
GROUP BY 1""",
)
def r06_no_spaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 — no-spaces rule violations per brand (home.py:455-457)."""
    pt = _t(spark, sf_dir, "part")
    return (R.rule_no_spaces("p_name").violations(pt)
            .groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_violations")))


@register(
    "t06_chunk_documents",
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+') AS toks
           FROM documents),
c AS (SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks), 1) + 1, 56),
                                   s -> array_to_string(toks[s:s+63], ' ')))
               AS chunk_text,
             generate_subscripts(list_transform(range(1, greatest(len(toks), 1) + 1, 56),
                                                s -> s), 1) - 1 AS chunk_index
      FROM t)
SELECT doc_id, chunk_index::INT AS chunk_index, chunk_text,
       len(regexp_split_to_array(chunk_text, '[ \\t\\n\\r\\f]+'))::INT AS n_chunk_tokens
FROM c WHERE length(chunk_text) > 0""",
)
def t06_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-windowed chunking (64-token windows, 8-token overlap)."""
    out = TX.chunk_documents(_t(spark, sf_dir, "documents"),
                             max_tokens=64, overlap=8)
    return out.select("doc_id", F.col("chunk_index").cast("int").alias("chunk_index"),
                      "chunk_text", F.col("n_chunk_tokens").cast("int").alias("n_chunk_tokens"))


@register(
    "t07_pii_scrub",
    """SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\\+?[0-9][0-9 ()\\-]{7,}[0-9]', '<PHONE>', 'g'),
         '[0-9]+', '<NUM>', 'g') AS text
FROM documents""",
)
def t07_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking before training (emails, phone-shaped runs, numbers)."""
    return TX.scrub_pii(_t(spark, sf_dir, "documents")).select("doc_id", "text")


@register(
    "d06_dedup_clusters",
    f"""WITH RECURSIVE pairs AS ({_D02_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
cc(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, cc.label FROM edges e JOIN cc ON cc.id = e.dst
),
comp AS (SELECT id, min(label) AS component FROM cc GROUP BY id)
SELECT component, count(*)::BIGINT AS cluster_size,
       min(id)::BIGINT AS survivor_id
FROM comp GROUP BY 1""",
)
def d06_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → survivor per cluster (the
    missing last stage of every dedup pipeline).  Oracle builds the same
    components with a recursive transitive-closure CTE."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.2)
    comp = DD.connected_components(pairs)
    return (comp.groupBy("component")
            .agg(F.count(F.lit(1)).alias("cluster_size"),
                 F.min("id").alias("survivor_id")))


# d08: the keep/drop decision — survivor = highest quality score (ties →
# lowest id) per near-dup component.  The SQL twin of textstats.
# quality_score mirrors the Spark operation order literal-for-literal so
# per-row double arithmetic is bit-identical.
_QSCORE_SQL = """round(
  0.5 * least((CASE WHEN length(trim(text)) = 0 THEN 0
        ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) END) * 1.0 / 20.0, 1.0)
+ 0.5 * least(len(regexp_extract_all(text, '(?i)\\b(the|a|and|of|to|in|is|that|it|for)\\b')) * 1.0
        / greatest((CASE WHEN length(trim(text)) = 0 THEN 0
        ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) END), 1) * 4.0, 1.0)
- 0.25 * least(len(regexp_extract_all(text, '[.,!?;:]')) * 1.0 / greatest(length(text), 1) * 5.0
             + len(regexp_extract_all(text, '[0-9]')) * 1.0 / greatest(length(text), 1) * 2.0, 1.0),
  4)"""


@register(
    "d08_quality_survivors",
    f"""WITH RECURSIVE pairs AS ({_D02_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
cc(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, cc.label FROM edges e JOIN cc ON cc.id = e.dst
),
comp AS (SELECT id, min(label) AS component FROM cc GROUP BY id),
q AS (SELECT doc_id, {_QSCORE_SQL} AS quality_score FROM documents),
ranked AS (
  SELECT comp.id AS doc_id, comp.component, q.quality_score,
         row_number() OVER (PARTITION BY comp.component
                            ORDER BY q.quality_score DESC, comp.id ASC) AS rn
  FROM comp JOIN q ON q.doc_id = comp.id),
svr AS (SELECT component, doc_id AS survivor_id FROM ranked WHERE rn = 1)
SELECT r.doc_id, r.component, r.quality_score, v.survivor_id,
       (r.doc_id = v.survivor_id) AS keep
FROM ranked r JOIN svr v USING (component)""",
)
def d08_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters → quality-aware keep/drop: survivor maximizes
    (quality_score, then lowest id) within each component."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.2)
    comp = DD.connected_components(pairs)
    from dataqtor_spark.session import parallelize

    # quality_score is a wide regex/ratio expression — exchange the raw
    # text first so it does not evaluate inside the one-task scan stage
    scores = (parallelize(docs.select("doc_id", "text"))
              .select("doc_id",
                      TX.quality_score("text").alias("quality_score")))
    return DD.select_survivors(comp, scores, "doc_id", "quality_score")


@register(
    "t03b_langid_tokens",
    f"""SELECT lang, {_langid_tokens_sql('text')} AS lang_pred, count(*)::BIGINT AS count
FROM documents GROUP BY 1, 2""",
)
def t03b_langid_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-vote language ID (single tokenize + array filters — the scale
    form of t03's regex voting)."""
    from dataqtor_spark.session import parallelize

    docs = TX.add_lang_id_tokens(parallelize(_t(spark, sf_dir, "documents")))
    return (docs.groupBy("lang", "lang_pred")
            .agg(F.count(F.lit(1)).alias("count")))


# --- t08/t09/d07 — training-set assembly -----------------------------------

_MIX_SQL = "((({id} + {seed}) * 2654435761) % 4294967296 + 4294967296) % 4294967296"

@register(
    "t08_shard_assignment",
    f"""SELECT shard, count(*)::BIGINT AS n_docs,
       min(doc_id)::BIGINT AS min_id, max(doc_id)::BIGINT AS max_id
FROM (SELECT doc_id,
             CAST({_MIX_SQL.format(id='doc_id', seed=0)} % 16 AS INT) AS shard
      FROM documents)
GROUP BY 1""",
)
def t08_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment for training-data writers (uniform
    mixed-id mod n; write side partitionBy(shard), no global sort)."""
    docs = _t(spark, sf_dir, "documents")
    out = TX.assign_shards(docs, "doc_id", n_shards=16)
    return (out.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id")))


_T39_TOK = ("CASE WHEN length(trim(text)) = 0 THEN 0 "
            "ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) "
            "END")

_T39_SQL = f"""WITH s AS (
  SELECT CAST({_MIX_SQL.format(id='doc_id', seed=0)} % 16 AS INT) AS shard,
         md5(text) AS hx, {_T39_TOK} AS tok
  FROM documents
)
SELECT shard, count(*)::BIGINT AS n_docs, sum(tok)::BIGINT AS n_tokens,
       bit_xor({_nibble_value_sql('hx')})::BIGINT AS content_checksum
FROM s GROUP BY 1"""


@register("t39_shard_manifest", _T39_SQL)
def t39_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard reproducibility manifest: rows, tokens, and an
    order-independent bit_xor content checksum over the deterministic
    16-shard layout."""
    docs = _t(spark, sf_dir, "documents")
    return TX.shard_manifest(docs, "doc_id", "text", n_shards=16)


@register(
    "t09_quality_binned_sample",
    f"""WITH q AS (
  SELECT doc_id,
         CASE WHEN length(text) >= 400 THEN 'long'
              WHEN length(text) >= 150 THEN 'medium'
              ELSE 'short' END AS bin
  FROM documents
)
SELECT bin, count(*)::BIGINT AS n_kept
FROM q
WHERE ({_MIX_SQL.format(id='doc_id', seed=7)}) % 100 <
      (CASE bin WHEN 'long' THEN 80 WHEN 'medium' THEN 40 ELSE 10 END)
GROUP BY 1""",
)
def t09_binned_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted curriculum sampling: per-bin keep rates applied via
    a deterministic mixed-id threshold (reproducible across engines/runs)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "bin", F.when(F.length("text") >= 400, F.lit("long"))
                .when(F.length("text") >= 150, F.lit("medium"))
                .otherwise(F.lit("short")))
    kept = TX.sample_by_bin(docs, F.col("bin"),
                            {"long": 80, "medium": 40, "short": 10},
                            id_col="doc_id", seed=7)
    return kept.groupBy("bin").agg(F.count(F.lit(1)).alias("n_kept"))


@register(
    "d07_incremental_dedup",
    """WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+'))), ' ')) AS fp
  FROM documents
),
old AS (SELECT fp FROM fp WHERE doc_id < 250),
new AS (SELECT doc_id, fp FROM fp WHERE doc_id >= 250)
SELECT count(*)::BIGINT AS n_new,
       sum(CASE WHEN old.fp IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_novel
FROM new LEFT JOIN (SELECT DISTINCT fp FROM old) old USING (fp)""",
)
def d07_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: new batch anti-joined against the historical
    corpus's fingerprints (the steady-state form of crawl dedup — history
    is a fingerprint table, not the full corpus; broadcast when small,
    bucketed on fp when not)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", TX.fingerprint("text").alias("fp"))
    old = docs.filter(F.col("doc_id") < 250).select("fp").distinct()
    new = docs.filter(F.col("doc_id") >= 250)
    novel = new.join(old, "fp", "left_anti")
    return (new.agg(F.count(F.lit(1)).alias("n_new"))
            .crossJoin(novel.agg(F.count(F.lit(1)).alias("n_novel"))))


@register(
    "s06_windowed_null_profile",
    """SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
       time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS window_end,
       count(*)::BIGINT AS total_records,
       sum(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS nulls_value,
       0::BIGINT AS nulls_user_id
FROM events GROUP BY 1, 2""",
)
def s06_windowed_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship null profile (A3) as a windowed/streaming aggregate,
    over a derived nullable column (testdata has no physical nulls)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "value", F.when(F.col("event_id") % 5 == 0, F.lit(None))
                  .otherwise(F.col("value")))
    return SP.windowed_null_profile(ev, "ts", ["value", "user_id"],
                                    window="1 day")


@register(
    "ann04_label_centroids",
    """SELECT label, i::INT AS dim_index,
       round(avg(v), 6) AS mean_value,
       count(*)::BIGINT AS n_vectors
FROM (SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE label IS NOT NULL)
GROUP BY 1, 2""",
)
def ann04_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class prototypes): posexplode →
    groupBy(label, dim) — the shuffle carries partial (sum, count) pairs
    per (label, dim), i.e. O(labels × dim), not row data."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("label").isNotNull())
    return (emb.select("label", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim_index"))
            .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("mean_value"),
                 F.count(F.lit(1)).alias("n_vectors")))


_E01_SQL = """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
         greatest(round(list_max(list_transform(v, x -> abs(x))) / 127.0, 9), 1e-12) AS scale
  FROM c)
SELECT vec_id, scale, (t.i - 1)::INT AS dim,
       greatest(-127.0, least(127.0, round(v[t.i] / scale)))::INT AS q
FROM s, unnest(generate_series(1, 64)) AS t(i)"""


@register("e01_quantize_int8", _E01_SQL)
def e01_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = max|v|/127), the
    4×-compression step before shipping vectors to an ANN index."""
    emb = _t(spark, sf_dir, "embeddings")
    return EB.quantize_int8(emb, "vec_id", "embedding")


_E02_SQL = """WITH c AS (SELECT embedding::DOUBLE[] AS v FROM embeddings)
SELECT (t.i - 1)::INT AS dim,
       round(avg(v[t.i]), 6) AS mean,
       round(stddev_samp(v[t.i]), 6) AS std,
       round(min(v[t.i]), 6) AS "min",
       round(max(v[t.i]), 6) AS "max",
       sum(CASE WHEN v[t.i] = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero
FROM c, unnest(generate_series(1, 64)) AS t(i)
GROUP BY 1"""


@register("e02_embedding_dim_stats", _E02_SQL)
def e02_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health profile (dead dims, scale drift)."""
    return EB.dim_stats(_t(spark, sf_dir, "embeddings"), "embedding")


@register(
    "pr07_psi_drift",
    """WITH mm AS (SELECT min(o_totalprice)::DOUBLE AS lo,
                          max(o_totalprice)::DOUBLE AS hi FROM orders),
b AS (SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 10)), 9) AS INT) AS bucket,
             (o_orderdate < TIMESTAMP '1996-01-01') AS p
      FROM orders, mm WHERE o_totalprice IS NOT NULL),
c AS (SELECT bucket,
             sum(CASE WHEN p THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN NOT p THEN 1 ELSE 0 END) AS nb
      FROM b GROUP BY 1),
t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM c),
s AS (SELECT (na + 0.5) / (ta + 0.5 * 10) AS pa,
             (nb + 0.5) / (tb + 0.5 * 10) AS pb
      FROM c, t)
SELECT round(sum((pa - pb) * ln(pa / pb)), 6) AS psi FROM s""",
)
def pr07_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift (PSI) of order value between the pre/post-1996
    periods — the dataset-shift gate for incoming training batches."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "__period", F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    return P.psi_drift(o, "o_totalprice", "__period", bins=10)


_T10_CTE = f"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+') AS toks
           FROM documents),
c AS (SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks), 1) + 1, 56),
                                   s -> array_to_string(toks[s:s+63], ' ')))
               AS chunk_text,
             generate_subscripts(list_transform(range(1, greatest(len(toks), 1) + 1, 56),
                                                s -> s), 1) - 1 AS chunk_index
      FROM t),
ck AS (SELECT doc_id, chunk_index,
              len(regexp_split_to_array(chunk_text, '[ \\t\\n\\r\\f]+')) AS n_chunk_tokens,
              CAST({_MIX_SQL.format(id='doc_id', seed=0)} % 8 AS INT) AS shard
       FROM c WHERE length(chunk_text) > 0),
p AS (SELECT shard,
             CAST(floor(coalesce(sum(n_chunk_tokens) OVER (
                 PARTITION BY shard ORDER BY doc_id, chunk_index
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512)
                  AS INT) AS bin,
             n_chunk_tokens
      FROM ck),
bins AS (SELECT shard, bin, count(*)::BIGINT AS n_chunks,
       sum(n_chunk_tokens)::BIGINT AS n_tokens
FROM p GROUP BY 1, 2)"""


@register("t10_sequence_packing",
          _T10_CTE + "\nSELECT shard, bin, n_chunks, n_tokens FROM bins")
def t10_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk → shard → greedy 512-token sequence packing (the last step
    before a training-data writer); per-shard windows keep packing
    embarrassingly parallel across shards."""
    docs = _t(spark, sf_dir, "documents")
    chunks = TX.chunk_documents(docs, max_tokens=64, overlap=8)
    sharded = TX.assign_shards(chunks, "doc_id", n_shards=8)
    packed = TX.pack_sequences(sharded, token_budget=512)
    return (packed.groupBy("shard", "bin")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum("n_chunk_tokens").alias("n_tokens")))


# Shared tokenization for the corpus-statistics family (t11/t12): lowercase
# whitespace tokens, blanks dropped — textstats._tokens_exploded's twin.
_TOKS_CTE = """toks AS (
  SELECT doc_id, u.t AS token
  FROM documents, unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f]+')) AS u(t)
  WHERE u.t <> '')"""

_T11_TOPK = 100

_T11_SQL = f"""WITH {_TOKS_CTE},
counts AS (SELECT token, count(*)::BIGINT AS count FROM toks GROUP BY token)
SELECT token, count, rank FROM (
  SELECT token, count,
         row_number() OVER (ORDER BY count DESC, token ASC) AS rank
  FROM counts) WHERE rank <= {_T11_TOPK}"""


@register("t11_vocab_topk", _T11_SQL)
def t11_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: explode → skew-absorbing partial-agg
    groupBy → distributed TakeOrdered top-k."""
    docs = _t(spark, sf_dir, "documents")
    out = TX.vocab(docs, "text", "doc_id", top_k=_T11_TOPK)
    return out.withColumn("rank", F.col("rank").cast("long"))


_T12_SQL = f"""WITH {_TOKS_CTE},
lm AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
tot AS (SELECT sum(cnt) AS total FROM lm)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       round(avg(-ln(cnt / total)), 6) AS nll
FROM toks JOIN lm USING (token), tot
GROUP BY doc_id"""


@register("t12_unigram_logprob", _T12_SQL)
def t12_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy scoring under the corpus's own unigram LM."""
    return TX.unigram_logprob(_t(spark, sf_dir, "documents"), "doc_id", "text")


# Decontamination: benchmark = doc_id ≡ 0 (mod 20) (stand-in for an external
# eval set), corpus = the rest; any shared word 5-gram flags the doc.
_T13_N = 5


def _t13_oracle_sql() -> str:
    from dataqtor_spark.operators.dedup import PORTABLE_P

    n = _T13_N
    shingles = f"""(
  SELECT DISTINCT doc_id, s.sh AS sh
  FROM words, unnest(CASE WHEN len(ws) < {n} THEN [array_to_string(ws, ' ')]
       ELSE list_transform(generate_series(1, len(ws) - {n - 1}),
                           i -> array_to_string(list_slice(ws, i, i + {n - 1}), ' ')) END) AS s(sh))"""
    return f"""WITH words AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+') AS ws FROM documents),
sh AS {shingles},
hv AS (
  SELECT doc_id, {_nibble_value_sql("h16")} % {PORTABLE_P} AS g
  FROM (SELECT doc_id, md5(sh) AS h16 FROM sh)),
bench AS (SELECT DISTINCT g FROM hv WHERE doc_id % 20 = 0),
hits AS (
  SELECT hv.doc_id, count(*)::BIGINT AS shared_shingles
  FROM hv JOIN bench USING (g) WHERE hv.doc_id % 20 <> 0
  GROUP BY hv.doc_id)
SELECT d.doc_id, coalesce(h.shared_shingles, 0)::BIGINT AS shared_shingles,
       coalesce(h.shared_shingles, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
LEFT JOIN hits h ON h.doc_id = d.doc_id"""


@register("t13_decontaminate", _t13_oracle_sql())
def t13_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-set hygiene: flag corpus docs sharing any word 5-gram with the
    held-out benchmark slice (broadcast benchmark shingle set)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return TX.decontaminate(corpus, bench, "doc_id", "text", shingle_n=_T13_N)


# ---------------------------------------------------------------------------
# t14/t15 — Gopher-style repetition signals + quality gate
# ---------------------------------------------------------------------------

_TOKS_CTE = """toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f]+'), t -> t <> '') AS tk
  FROM documents
), base AS (
  SELECT doc_id, tk, len(tk) AS n FROM toks
)"""

_SIG_CTES = _TOKS_CTE + """, sig AS (
  SELECT doc_id, n,
         CASE WHEN n > 0 THEN 1.0 - len(list_distinct(tk)) * 1.0 / n
              ELSE 0.0 END AS dupu,
         CASE WHEN n > 1 THEN
              len(list_filter(generate_series(1, n - 1), i -> tk[i] = tk[i + 1]))
              * 1.0 / (n - 1)
              ELSE 0.0 END AS adj
  FROM base
), grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, n - 1),
                               i -> tk[i] || ' ' || tk[i + 1])) AS g
  FROM base WHERE n >= 2
), gc AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
), topg AS (
  SELECT doc_id, max(c) * 1.0 / sum(c) AS top2 FROM gc GROUP BY 1
), signals AS (
  SELECT s.doc_id, s.n,
         round(coalesce(t.top2, 0), 6) AS top_2gram_frac,
         round(s.dupu, 6) AS dup_unigram_frac,
         round(s.adj, 6) AS repeat_adjacent_frac
  FROM sig s LEFT JOIN topg t USING (doc_id)
)"""

_T14_SQL = "WITH " + _SIG_CTES + """
SELECT doc_id, n::BIGINT AS n_tokens, top_2gram_frac, dup_unigram_frac,
       repeat_adjacent_frac
FROM signals"""


@register("t14_repetition_signals", _T14_SQL)
def t14_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-doc repetition stats (dup unigrams, adjacent
    repeats, top-bigram share)."""
    return TX.repetition_signals(_t(spark, sf_dir, "documents"))


def _t15_oracle_sql() -> str:
    p = TX.GOPHER_DEFAULTS
    stop = ", ".join(f"'{w}'" for w in TX.EN_STOPWORDS)
    return "WITH " + _SIG_CTES + f""", feats AS (
  SELECT doc_id,
         len(list_intersect(list_distinct(tk), [{stop}])) AS nstop,
         CASE WHEN n > 0
              THEN list_sum(list_transform(tk, t -> length(t))) * 1.0 / n
              ELSE 0.0 END AS avglen
  FROM base
), flags AS (
  SELECT s.doc_id, s.n,
         s.n BETWEEN {p["min_tokens"]} AND {p["max_tokens"]} AS word_count_ok,
         f.avglen BETWEEN {p["min_avg_token_len"]} AND {p["max_avg_token_len"]} AS avg_len_ok,
         f.nstop >= {p["min_distinct_stopwords"]} AS stopword_ok,
         (s.dup_unigram_frac <= {p["max_dup_unigram_frac"]}
          AND s.top_2gram_frac <= {p["max_top_2gram_frac"]}
          AND s.repeat_adjacent_frac <= {p["max_repeat_adjacent_frac"]}) AS repetition_ok
  FROM signals s JOIN feats f USING (doc_id)
)
SELECT doc_id, n::BIGINT AS n_tokens, word_count_ok, avg_len_ok, stopword_ok,
       repetition_ok,
       (word_count_ok AND avg_len_ok AND stopword_ok AND repetition_ok) AS keep
FROM flags"""


@register("t15_gopher_flags", _t15_oracle_sql())
def t15_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gate: per-doc flags + keep decision."""
    return TX.gopher_filter(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# t16 — cross-document repeated spans (exact-substring dedup signal)
# ---------------------------------------------------------------------------

_T16_SPAN = 8

_T16_SQL = f"""WITH {_TOKS_CTE},
wins AS (
  SELECT doc_id, array_to_string(list_slice(tk, i, i + {_T16_SPAN - 1}), ' ') AS sp
  FROM base, unnest(generate_series(1, n - {_T16_SPAN - 1})) AS t(i)
  WHERE n >= {_T16_SPAN}
),
shared AS (
  SELECT sp FROM wins GROUP BY sp HAVING count(DISTINCT doc_id) >= 2
),
per AS (
  SELECT doc_id, count(*) AS ns FROM wins JOIN shared USING (sp) GROUP BY doc_id
),
tot AS (
  SELECT doc_id,
         CASE WHEN n >= {_T16_SPAN} THEN n - {_T16_SPAN - 1} ELSE 0 END AS nw
  FROM base
)
SELECT t.doc_id, t.nw::BIGINT AS n_windows,
       coalesce(p.ns, 0)::BIGINT AS n_shared_windows,
       round(coalesce(p.ns, 0) * 1.0 / greatest(t.nw, 1), 6) AS shared_frac
FROM tot t LEFT JOIN per p USING (doc_id)"""


@register("t16_repeated_spans", _T16_SQL)
def t16_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of 8-token windows whose text recurs in another
    document (Lee et al. 2022 substring-dedup signal, windowed)."""
    return TX.repeated_spans(_t(spark, sf_dir, "documents"),
                             span_tokens=_T16_SPAN, min_docs=2)


# ---------------------------------------------------------------------------
# t40 — exact-substring scrub (the removal complement of t16)
# ---------------------------------------------------------------------------

_T40_SPAN = _T16_SPAN

_T40_SQL = f"""WITH {_TOKS_CTE},
toks2 AS (
  SELECT doc_id, t.i AS pos, tk[t.i] AS token
  FROM base, unnest(generate_series(1, n)) AS t(i)
  WHERE n > 0
),
wins AS (
  SELECT doc_id, i AS s,
         array_to_string(list_slice(tk, i, i + {_T40_SPAN - 1}), ' ') AS sp
  FROM base, unnest(generate_series(1, n - {_T40_SPAN - 1})) AS t(i)
  WHERE n >= {_T40_SPAN}
),
shared AS (
  SELECT sp FROM wins GROUP BY sp HAVING count(DISTINCT doc_id) >= 2
),
cov AS (
  SELECT DISTINCT w.doc_id, w.s + t.j AS pos
  FROM wins w JOIN shared USING (sp),
       unnest(generate_series(0, {_T40_SPAN - 1})) AS t(j)
),
m AS (
  SELECT t.doc_id, t.pos, t.token, (c.pos IS NOT NULL) AS covered
  FROM toks2 t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
),
agg AS (
  SELECT doc_id,
         sum(CASE WHEN covered THEN 1 ELSE 0 END) AS nr,
         string_agg(CASE WHEN NOT covered THEN token END,
                    ' ' ORDER BY pos) AS clean
  FROM m GROUP BY doc_id
)
SELECT b.doc_id, b.n::BIGINT AS n_tokens,
       CASE WHEN b.n IS NULL THEN NULL
            ELSE coalesce(a.nr, 0) END::BIGINT AS n_removed,
       a.clean AS cleaned_text
FROM base b LEFT JOIN agg a USING (doc_id)"""


# t41 — within-doc repeat collapse (the self-repeat half of ExactSubstr;
# t40 is the cross-document half).  A window is a duplicate OCCURRENCE
# iff an equal-text window starts earlier in the SAME document; covered
# tokens of duplicate occurrences are removed, first occurrences survive.
# The synthetic corpus has no natural self-repeats, so the registration
# PLANTS them (the m04/pii01 device): every 5th document re-appends its
# own first 12 tokens, creating seam-crossing duplicate windows the
# collapse must scrub — replayed bit-identically in the oracle.
_T41_PLANT_MOD, _T41_PLANT_TOKENS = 5, 12

_T41_SQL = f"""WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_T41_PLANT_MOD} = 0 THEN
           text || ' ' || array_to_string(list_slice(
             list_filter(regexp_split_to_array(trim(lower(text)),
                                               '[ \\t\\n\\r\\f]+'),
                         t -> t <> ''), 1, {_T41_PLANT_TOKENS}), ' ')
         ELSE text END AS text
  FROM documents
),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)),
                                           '[ \\t\\n\\r\\f]+'),
                     t -> t <> '') AS tk
  FROM docs2
), base AS (
  SELECT doc_id, tk, len(tk) AS n FROM toks
),
toks2 AS (
  SELECT doc_id, t.i AS pos, tk[t.i] AS token
  FROM base, unnest(generate_series(1, n)) AS t(i)
  WHERE n > 0
),
wins AS (
  SELECT doc_id, i AS s,
         array_to_string(list_slice(tk, i, i + {_T40_SPAN - 1}), ' ') AS sp
  FROM base, unnest(generate_series(1, n - {_T40_SPAN - 1})) AS t(i)
  WHERE n >= {_T40_SPAN}
),
firsts AS (
  SELECT doc_id, sp, min(s) AS s0 FROM wins GROUP BY doc_id, sp
),
dupw AS (
  SELECT w.doc_id, w.s FROM wins w
  JOIN firsts f ON f.doc_id = w.doc_id AND f.sp = w.sp AND w.s > f.s0
),
cov AS (
  SELECT DISTINCT d.doc_id, d.s + t.j AS pos
  FROM dupw d, unnest(generate_series(0, {_T40_SPAN - 1})) AS t(j)
),
m AS (
  SELECT t.doc_id, t.pos, t.token, (c.pos IS NOT NULL) AS covered
  FROM toks2 t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
),
agg AS (
  SELECT doc_id,
         sum(CASE WHEN covered THEN 1 ELSE 0 END) AS nr,
         string_agg(CASE WHEN NOT covered THEN token END,
                    ' ' ORDER BY pos) AS clean
  FROM m GROUP BY doc_id
)
SELECT b.doc_id, b.n::BIGINT AS n_tokens,
       CASE WHEN b.n IS NULL THEN NULL
            ELSE coalesce(a.nr, 0) END::BIGINT AS n_removed,
       a.clean AS cleaned_text
FROM base b LEFT JOIN agg a USING (doc_id)"""


# t43 — reference-vocabulary novelty (distinct word 3-gram overlap with
# the src0 slice — the signal between t13 exact and t37 fuzzy decon)
_T43_N = 3

_T43_SQL = f"""WITH w AS (
  SELECT doc_id, source = 'src0' AS t,
         regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f]+') AS words
  FROM documents
), ex AS (
  SELECT DISTINCT doc_id, t, array_to_string(words[i:i+{_T43_N - 1}], ' ') AS sh
  FROM w, UNNEST(generate_series(1, len(words) - {_T43_N - 1})) AS t2(i)
  WHERE len(words) >= {_T43_N}
  UNION
  SELECT doc_id, t, array_to_string(words, ' ') AS sh
  FROM w WHERE len(words) < {_T43_N}
), ref AS (
  SELECT DISTINCT sh FROM ex WHERE t
), agg AS (
  SELECT e.doc_id, count(*) AS ns,
         sum(CASE WHEN r.sh IS NOT NULL THEN 1 ELSE 0 END) AS seen
  FROM ex e LEFT JOIN ref r ON e.sh = r.sh GROUP BY 1
)
SELECT doc_id, ns::BIGINT AS n_shingles, seen::BIGINT AS n_seen,
       ((2*(ns - seen)::HUGEINT*1000000 + ns) // (2*ns))::BIGINT
         AS novelty_ppm
FROM agg"""


@register("t43_ngram_novelty", _T43_SQL)
def t43_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of distinct word 3-grams unseen in the src0
    reference slice (textstats.ngram_novelty) — the vocabulary-overlap
    decontamination/domain signal; exact half-up ppm."""
    docs = _t(spark, sf_dir, "documents")
    return TX.ngram_novelty(docs, F.col("source") == "src0", n=_T43_N)


# --- t44 — tokenizer fertility / compression profile per source -------------
# The number a tokenizer owner reads before committing a vocab to a new
# corpus slice: subword pieces per whitespace word (fertility — high =
# the vocab fragments this source) and bytes per subword piece
# (compression — low = token budget burns fast here).  Exact integer-ppm
# surface (the t17 device); byte counts via octet_length/strlen so the
# profile is multibyte-correct.  One map-side-combinable groupBy:
# |sources| output rows, all per-row work in one codegen'd projection.
_T44_SQL = """WITH d AS (
  SELECT source, length(text) AS ch, strlen(text) AS by,
         (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) END) AS wt,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]')) AS st
  FROM documents)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(ch)::BIGINT AS n_chars, sum(by)::BIGINT AS n_bytes,
  sum(wt)::BIGINT AS n_word_tokens, sum(st)::BIGINT AS n_subword_tokens,
  (CASE WHEN sum(wt) > 0 THEN
     {fert} END)::BIGINT AS subword_per_word_ppm,
  (CASE WHEN sum(st) > 0 THEN
     {bps} END)::BIGINT AS bytes_per_subword_ppm
FROM d GROUP BY source"""
_T44_SQL = _T44_SQL.format(
    fert=XR.round_ratio_int_sql("sum(st) * 1000000", "sum(wt)", 0),
    bps=XR.round_ratio_int_sql("sum(by) * 1000000", "sum(st)", 0))


@register("t44_tokenizer_fertility", _T44_SQL)
def t44_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility (subword pieces per whitespace
    word) and byte compression (bytes per subword piece) on the exact
    integer-ppm surface — textstats.token_count /
    subword_token_count aggregated once per source."""
    docs = _t(spark, sf_dir, "documents")
    from dataqtor_spark.session import parallelize

    c = F.col("text").cast("string")
    # exchange raw text first: the token/subword regex splits otherwise
    # evaluate inside the single-task scan stage (one-row-group input)
    d = parallelize(docs.select("source", "text")).select(
        "source",
        F.length(c).alias("__ch"),
        F.octet_length(c).alias("__by"),
        TX.token_count("text").alias("__wt"),
        TX.subword_token_count("text").alias("__st"))
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__ch").cast("long").alias("n_chars"),
        F.sum("__by").cast("long").alias("n_bytes"),
        F.sum("__wt").cast("long").alias("n_word_tokens"),
        F.sum("__st").cast("long").alias("n_subword_tokens"))
    fert = XR.round_ratio_int(F.col("n_subword_tokens") * F.lit(1000000),
                              F.col("n_word_tokens"), 0)
    bps = XR.round_ratio_int(F.col("n_bytes") * F.lit(1000000),
                             F.col("n_subword_tokens"), 0)
    return agg.select(
        "source", "n_docs", "n_chars", "n_bytes", "n_word_tokens",
        "n_subword_tokens",
        F.when(F.col("n_word_tokens") > 0, fert).cast("long")
        .alias("subword_per_word_ppm"),
        F.when(F.col("n_subword_tokens") > 0, bps).cast("long")
        .alias("bytes_per_subword_ppm"))

# --- t45 — code-switch (mixed-language) scan --------------------------------
# Per-doc language consistency over fixed 20-token chunks: the stopword-
# vote langid (t03's heuristic) applied per CHUNK instead of per doc, so
# a document that switches language mid-way (wrapper boilerplate in one
# language around content in another — the shape a doc-level langid
# mislabels) surfaces as n_langs >= 2.  The corpus is single-language by
# construction, so markers are PLANTED (the pii01 device): a German
# marker sentence on doc_id%31, a Spanish one on doc_id%37.
_T45_CHUNK = 20
_T45_DE = " der die und das nicht ist der die und das"
_T45_ES = " el los las es en que el los las es"

_T45_SQL = f"""WITH aug AS (
  SELECT doc_id, concat(text,
    CASE WHEN doc_id % 31 = 0 THEN '{_T45_DE}' ELSE '' END,
    CASE WHEN doc_id % 37 = 0 THEN '{_T45_ES}' ELSE '' END) AS text
  FROM documents
),
base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f]+'),
                     t -> t <> '') AS tk
  FROM aug
),
ch AS (
  SELECT doc_id,
         array_to_string(list_slice(tk, t.i * {_T45_CHUNK} + 1,
                                    (t.i + 1) * {_T45_CHUNK}), ' ') AS chunk
  FROM base,
       unnest(generate_series(0,
         CAST(ceil(len(tk) / {_T45_CHUNK}.0) AS INT) - 1)) AS t(i)
  WHERE len(tk) > 0
),
lg AS (SELECT doc_id, {{langid}} AS lang FROM ch)
SELECT doc_id, count(*)::BIGINT AS n_chunks,
  sum(CASE WHEN lang <> 'und' THEN 1 ELSE 0 END)::BIGINT AS n_lang_chunks,
  count(DISTINCT CASE WHEN lang <> 'und' THEN lang END)::BIGINT AS n_langs,
  count(DISTINCT CASE WHEN lang <> 'und' THEN lang END) >= 2 AS is_mixed
FROM lg GROUP BY doc_id"""
_T45_SQL = _T45_SQL.format(langid=_langid_sql("chunk"))


@register("t45_code_switch_scan", _T45_SQL)
def t45_code_switch_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language (code-switch) detection: the t03 stopword-vote
    langid per fixed 20-token chunk, aggregated to per-doc language
    counts — docs with >= 2 determined chunk languages are flagged.
    One explode + one groupBy; the langid is a codegen'd projection."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    # concat_ws("") mirrors DuckDB concat()'s NULL-skipping (t41 class):
    # a NULL-text doc hitting a %31/%37 plant must chunk the marker alone
    aug = F.concat_ws(
        "",
        F.col("text").cast("string"),
        F.when(did % 31 == 0, F.lit(_T45_DE)).otherwise(F.lit("")),
        F.when(did % 37 == 0, F.lit(_T45_ES)).otherwise(F.lit("")))
    from dataqtor_spark.session import parallelize

    # exchange the raw text first: documents.parquet is one row group,
    # so without it the tokenize + per-chunk langid regex voting (the
    # CPU of this query) runs inside the single-task scan stage
    base = (parallelize(docs.select("doc_id", "text"))
            .select("doc_id", TX._clean_tokens(aug).alias("__tk")))
    nchunks = F.ceil(F.size("__tk") / _T45_CHUNK).cast("int")
    chunk_arr = F.when(
        F.size("__tk") > 0,
        F.transform(
            F.sequence(F.lit(0), nchunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("__tk"), i * _T45_CHUNK + 1,
                             _T45_CHUNK)))).otherwise(
        F.array().cast("array<string>"))
    ch = base.select("doc_id", F.explode(chunk_arr).alias("__chunk"))
    lg = ch.select("doc_id", TX.lang_id("__chunk").alias("__lang"))
    det = F.when(F.col("__lang") != "und", F.col("__lang"))
    return (lg.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"),
                 F.sum((F.col("__lang") != "und").cast("long"))
                 .cast("long").alias("n_lang_chunks"),
                 F.count_distinct(det).cast("long").alias("n_langs"),
                 (F.count_distinct(det) >= 2).alias("is_mixed")))



# t42 — training-token budget planner (epochs per source after exact
# dedup under a uniform budget split; the t17 integer-ppm surface)
_T42_BUDGET = 1_000_000

_T42_SQL = f"""WITH per_text AS (
  SELECT source, md5(text) AS h, count(*) AS dups,
         min(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text),
                                                 '[ \\t\\n\\r\\f]+')) END)
           AS tok
  FROM documents GROUP BY 1, 2
), agg AS (
  SELECT source, sum(dups)::BIGINT AS n_docs,
         count(*)::BIGINT AS n_unique_docs,
         sum(dups * tok)::BIGINT AS n_tokens,
         sum(tok)::BIGINT AS n_unique_tokens
  FROM per_text GROUP BY 1
), tot AS (SELECT count(*) AS ns FROM agg)
SELECT source, n_docs, n_unique_docs, n_tokens, n_unique_tokens,
       CASE WHEN n_tokens = 0 THEN NULL ELSE
         ((2*(n_tokens - n_unique_tokens)::HUGEINT*1000000 + n_tokens)
          // (2*n_tokens))::BIGINT END AS dup_token_ppm,
       CASE WHEN n_unique_tokens = 0 THEN NULL ELSE
         ((2*{_T42_BUDGET}::HUGEINT*1000000 + ns*n_unique_tokens)
          // (2*ns*n_unique_tokens))::BIGINT END AS epochs_ppm
FROM agg, tot"""


@register("t42_token_budget", _T42_SQL)
def t42_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epochs under a uniform 1M-token budget after exact
    dedup — the repeat-rate planning table behind mixture weights
    (textstats.token_budget; all-integer ppm surface)."""
    return TX.token_budget(_t(spark, sf_dir, "documents"), _T42_BUDGET)


@register("t41_within_doc_collapse", _T41_SQL)
def t41_within_doc_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document exact-substring collapse: tokens covered by any
    8-token window whose text already occurred earlier in the SAME
    document are removed (first occurrence survives) — the self-repeat
    half of ExactSubstr; zero-shuffle array expressions.  Self-repeats
    are planted (every 5th doc re-appends its first 12 tokens) since the
    synthetic corpus has none naturally."""
    from dataqtor_spark.operators.textstats import _clean_tokens

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        # isNotNull guard: concat_ws silently coerces NULL to '' while
        # the SQL plant's `text || ...` keeps NULL — a NULL-text doc
        # must stay NULL on both sides
        F.when((F.col("doc_id") % _T41_PLANT_MOD == 0)
               & F.col("text").isNotNull(),
               F.concat_ws(" ", F.col("text"),
                           F.concat_ws(" ", F.slice(
                               _clean_tokens("text"), 1,
                               _T41_PLANT_TOKENS))))
        .otherwise(F.col("text")).alias("text"))
    return TX.collapse_repeated_spans(docs, span_tokens=_T40_SPAN)


@register("t40_exact_substring_scrub", _T40_SQL)
def t40_exact_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup removal (Lee et al. 2022 ExactSubstr,
    windowed): tokens covered by any cross-document duplicated 8-token
    window are scrubbed and the cleaned text rebuilt in order — the
    operation LLM pipelines actually run on t16's signal.  NULL
    cleaned_text = the whole document was boilerplate (or token-less),
    the cross-engine canonical form of "empty join"."""
    return TX.scrub_shared_spans(_t(spark, sf_dir, "documents"),
                                 span_tokens=_T40_SPAN, min_docs=2)


# ---------------------------------------------------------------------------
# t17/t18 — source mixing + per-source quota sampling
# ---------------------------------------------------------------------------

_T17_SQL = """WITH agg AS (
  SELECT source, count(*) AS n_docs,
         sum(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) END) AS n_tokens
  FROM documents GROUP BY source
), tot AS (SELECT sum(n_tokens) AS tt, count(*) AS ns FROM agg)
SELECT source, n_docs, n_tokens::BIGINT AS n_tokens,
       ((2*n_tokens::HUGEINT*1000000 + tt) // (2*tt))::BIGINT AS token_share_ppm,
       CASE WHEN n_tokens = 0 THEN NULL ELSE
            ((2*tt::HUGEINT*1000000 + ns*n_tokens) // (2*ns*n_tokens))::BIGINT
       END AS weight_ppm
FROM agg, tot"""


@register("t17_source_mix", _T17_SQL)
def t17_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token shares + uniform-target mixture reweighting.

    The hashed surface is ALL-INTEGER (parts-per-million BIGINT columns,
    ``ppm=True``): rounds 9–10 proved the float form can diverge in a
    foreign driver environment even when computed from exact integer
    rationals, so the division back to DOUBLE is simply not emitted."""
    return TX.source_mix(_t(spark, sf_dir, "documents"), ppm=True)


_T17B_SQL = """SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) END)::BIGINT
         AS n_tokens
FROM documents GROUP BY source"""


@register("t17b_source_mix_diag", _T17B_SQL)
def t17b_source_mix_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic split of t17: raw per-source doc/token counts only — no
    derived ratios at all.  If t17 is ever red while t17b is green the
    divergence is in ratio hashing; if both are red it is tokenization."""
    from dataqtor_spark.session import parallelize

    # exchange raw text first: token_count's regex split otherwise
    # evaluates inside the single-task scan stage (one-row-group input)
    d = parallelize(_t(spark, sf_dir, "documents").select("source", "text"))
    return (d.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(TX.token_count("text").cast("long")).alias("n_tokens")))


_T18_QUOTA = 10

_T18_SQL = f"""SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn
  FROM documents) WHERE rn <= {_T18_QUOTA}"""


@register("t18_stratified_sample", _T18_SQL)
def t18_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source quota sample (hash-ordered row_number)."""
    return (TX.stratified_sample(_t(spark, sf_dir, "documents"),
                                 "source", _T18_QUOTA)
            .select("doc_id", "source"))


# ---------------------------------------------------------------------------
# pr08 — Tukey-fence (IQR) outlier summary
# ---------------------------------------------------------------------------

_PR08_SQL = """WITH q AS (
  SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
         quantile_cont(l_extendedprice, 0.75) AS q3
  FROM lineitem
), b AS (
  SELECT q1, q3, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM q
)
SELECT 'l_extendedprice' AS "column",
       round(q1, 4) AS q1, round(q3, 4) AS q3,
       round(lo, 4) AS lo, round(hi, 4) AS hi,
       (SELECT coalesce(sum(CASE WHEN l_extendedprice < b.lo
                                   OR l_extendedprice > b.hi
                                 THEN 1 ELSE 0 END), 0)
        FROM lineitem)::BIGINT AS n_outliers
FROM b"""


@register("pr08_outlier_iqr", _PR08_SQL)
def pr08_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier summary over lineitem prices (exact quartiles;
    percentile_approx is the documented 100 TB path)."""
    return P.outlier_iqr(_t(spark, sf_dir, "lineitem"), "l_extendedprice")


# ---------------------------------------------------------------------------
# s07 — interval (funnel) join; pr09 — cardinality profile
# ---------------------------------------------------------------------------

_S07_SQL = """SELECT l.user_id,
       l.event_id AS left_event_id, r.event_id AS right_event_id,
       l.ts AS left_ts, r.ts AS right_ts
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
WHERE l.event_type = 'signup' AND r.event_type = 'purchase'"""


@register("s07_interval_join_events", _S07_SQL)
def s07_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase attribution pairs within 1 hour (the unified
    batch/stream interval join on its batch side)."""
    from dataqtor_spark.streaming import profiler as SP

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "signup").select("user_id", "ts", "event_id")
    right = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    return SP.stream_interval_join(left, right, "user_id", "ts", within="1 hour")


_PR09_COLS = ["o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]

_PR09_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", count(DISTINCT {c})::BIGINT AS n_distinct,
       (count(*) - count({c}))::BIGINT AS n_nulls FROM orders"""
    for c in _PR09_COLS)


@register("pr09_distinct_profile", _PR09_SQL)
def pr09_distinct_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-column cardinality profile over orders (approx HLL++ form
    is the scale path, pinned by tests to ±3·rsd)."""
    return P.distinct_profile(_t(spark, sf_dir, "orders"), _PR09_COLS)


# ---------------------------------------------------------------------------
# r14/r15 — referential integrity + cross-table consistency; pr10 — equi-depth
# ---------------------------------------------------------------------------

_R14_RELS = [("orders", "o_custkey", "customer", "c_custkey"),
             ("lineitem", "l_orderkey", "orders", "o_orderkey"),
             ("lineitem", "l_partkey", "part", "p_partkey")]

_R14_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{ck}->{pk}' AS relation,
       count(*)::BIGINT AS n_child,
       coalesce(sum(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END), 0)::BIGINT AS n_orphans,
       CASE WHEN count(*) > 0 THEN round(
         coalesce(sum(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END), 0) * 100.0
         / count(*), 2) ELSE 0.0 END AS orphan_pct
FROM {c} LEFT JOIN (SELECT DISTINCT {pk} FROM {p}) p ON {c}.{ck} = p.{pk}"""
    for c, ck, p, pk in _R14_RELS)


@register("r14_fk_orphans", _R14_SQL)
def r14_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity summary across the star schema's FK edges."""
    outs = []
    for c, ck, p, pk in _R14_RELS:
        outs.append(R.fk_orphans(_t(spark, sf_dir, c), _t(spark, sf_dir, p),
                                 ck, pk, relation=f"{ck}->{pk}"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


_R15_SQL = """SELECT o.o_orderpriority, count(*)::BIGINT AS n_violations
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate < o.o_orderdate
GROUP BY o.o_orderpriority"""


@register("r15_ship_before_order", _R15_SQL)
def r15_ship_before_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table consistency rule: lineitems shipped before their order's
    date, broken down by order priority."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate",
                                            "o_orderpriority")
    bad = R.cross_table_violations(
        li, od.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey",
        F.col("l_shipdate") < F.col("o_orderdate"))
    return bad.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_violations"))


_PR10_SQL = """WITH vc AS (
  SELECT l_extendedprice AS v, count(*) AS c FROM lineitem
  WHERE l_extendedprice IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, c,
         coalesce(sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
         sum(c) OVER () AS tot
  FROM vc
)
SELECT (cb * 10 // tot)::BIGINT AS bucket, sum(c)::BIGINT AS n_rows,
       min(v) AS lo, max(v) AS hi
FROM cum GROUP BY 1"""


@register("pr10_equi_depth_histogram", _PR10_SQL)
def pr10_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency histogram over lineitem prices (distinct-value
    cumulative counts — no float boundary interpolation)."""
    return P.equi_depth_histogram(_t(spark, sf_dir, "lineitem"),
                                  "l_extendedprice", buckets=10)


# ---------------------------------------------------------------------------
# t19 — keyword extraction; pr11 — KS drift; s08 — rolling stats; f12 — impute
# ---------------------------------------------------------------------------

_T19_SQL = """WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f]+'),
                            t -> t <> '')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
), dfq AS (
  SELECT token, count(*) AS dfc FROM tf GROUP BY 1
), nd AS (
  SELECT count(DISTINCT doc_id) AS n FROM tf
), scored AS (
  SELECT doc_id, token,
         round(tf * (ln((1.0 + n) / (1.0 + dfc)) + 1), 6) AS score
  FROM tf JOIN dfq USING (token) CROSS JOIN nd
)
SELECT doc_id, token, score, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, token) AS rank
  FROM scored) WHERE rank <= 3"""


@register("t19_top_terms", _T19_SQL)
def t19_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords."""
    return TX.top_terms_tfidf(_t(spark, sf_dir, "documents"), k=3)


_PR11_SQL = """WITH v AS (
  SELECT value AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS b
  FROM events
  WHERE event_type IN ('click', 'error') AND value IS NOT NULL
), vc AS (
  SELECT v, sum(a) AS ca, sum(b) AS cb FROM v GROUP BY v
), cum AS (
  SELECT sum(ca) OVER (ORDER BY v) * 1.0 / sum(ca) OVER () AS fa,
         sum(cb) OVER (ORDER BY v) * 1.0 / sum(cb) OVER () AS fb,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM vc
)
SELECT first(na)::BIGINT AS n_a, first(nb)::BIGINT AS n_b,
       round(max(abs(fa - fb)), 6) AS ks
FROM cum"""


@register("pr11_ks_drift", _PR11_SQL)
def pr11_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between click and error value
    distributions."""
    return P.ks_drift(_t(spark, sf_dir, "events"), "value", "event_type",
                      "click", "error")


_S08_SQL = """SELECT user_id, event_id, ts,
       count(*) OVER w AS n_trailing,
       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"""


@register("s08_rolling_user_stats", _S08_SQL)
def s08_rolling_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1h per-user event count + exact value sum, per event."""
    from dataqtor_spark.streaming import profiler as SP

    return SP.rolling_user_stats(_t(spark, sf_dir, "events"),
                                 "user_id", "ts", "value", 3600)


_F12_SQL = """WITH nulled AS (
  SELECT l_returnflag,
         CASE WHEN l_tax > 0.05 THEN NULL ELSE l_discount END AS l_discount
  FROM lineitem
), per AS (
  SELECT l_returnflag,
         CAST(sum(CAST(l_discount AS DECIMAL(18,2))) / count(l_discount)
              AS DOUBLE) AS fill
  FROM nulled GROUP BY l_returnflag
), imputed AS (
  SELECT n.l_returnflag,
         coalesce(n.l_discount, p.fill) AS l_discount,
         CASE WHEN n.l_discount IS NULL THEN 1 ELSE 0 END AS was_null
  FROM nulled n LEFT JOIN per p USING (l_returnflag)
)
SELECT l_returnflag, count(*)::BIGINT AS n_rows,
       sum(was_null)::BIGINT AS n_imputed,
       CAST(round(sum(CAST(l_discount AS DECIMAL(28,10))) / count(l_discount)
                 , 6) AS DOUBLE) AS mean_after
FROM imputed GROUP BY l_returnflag"""


@register("f12_group_impute", _F12_SQL)
def f12_group_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation demo: deterministically null l_discount where
    l_tax > 0.05, impute by per-returnflag mean, report the repair."""
    from dataqtor_spark.operators import repair as RP2

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.when(F.col("l_tax") > 0.05, F.lit(None).cast("double"))
        .otherwise(F.col("l_discount")).alias("l_discount"))
    marked = li.withColumn("was_null", F.col("l_discount").isNull().cast("long"))
    fixed = RP2.impute_by_group(marked, "l_discount", ["l_returnflag"], "mean")
    return (fixed.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("was_null").alias("n_imputed"),
                 F.round((F.sum(F.col("l_discount").cast("decimal(28,10)"))
                          / F.count("l_discount")), 6).cast("double")
                 .alias("mean_after")))


# ---------------------------------------------------------------------------
# s09 — windowed volume anomalies
# ---------------------------------------------------------------------------

_S09_SQL = """WITH wc AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
         count(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT window_start, event_type, n_events,
         avg(n_events) OVER (PARTITION BY event_type) AS mu,
         stddev_samp(n_events) OVER (PARTITION BY event_type) AS sd
  FROM wc
)
SELECT window_start, event_type, n_events,
       round(CASE WHEN sd > 0 THEN (n_events - mu) / sd ELSE 0.0 END, 4) AS z,
       abs(round(CASE WHEN sd > 0 THEN (n_events - mu) / sd ELSE 0.0 END, 4))
         > 2.0 AS is_anomaly
FROM stats"""


@register("s09_window_anomalies", _S09_SQL)
def s09_window_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(hour, event_type) volume z-scores with |z|>2 anomaly flags."""
    from dataqtor_spark.streaming import profiler as SP

    return SP.window_count_anomalies(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# fd01 / pr12-14 — dependency, key, Benford, and skew profiling
# ---------------------------------------------------------------------------

_FD_DEPS = [("o_custkey", "o_orderstatus"), ("o_orderkey", "o_orderpriority")]

_FD01_SQL = "\nUNION ALL\n".join(f"""(
WITH p AS (
  SELECT {lhs} AS l, {rhs} AS r, count(*)::BIGINT AS n
  FROM orders WHERE {lhs} IS NOT NULL GROUP BY 1, 2
), g AS (
  SELECT l, sum(n) AS rws, max(n) AS maj, count(*) AS nvals FROM p GROUP BY l
)
SELECT '{lhs}' AS determinant, '{rhs}' AS dependent,
       count(*)::BIGINT AS n_groups,
       sum(CASE WHEN nvals > 1 THEN 1 ELSE 0 END)::BIGINT AS violating_groups,
       round(sum(maj) * 100.0 / sum(rws), 4) AS fd_strength_pct
FROM g)""" for lhs, rhs in _FD_DEPS)


@register("fd01_functional_deps_orders", _FD01_SQL)
def fd01_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g3-style approximate-FD strength for two candidate dependencies."""
    return P.functional_dependency(_t(spark, sf_dir, "orders"), _FD_DEPS)


_PR13_SQL = """WITH one AS (
  SELECT count(*) AS rws,
         count(DISTINCT o_orderkey) AS d1,
         sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS z1,
         count(DISTINCT o_custkey) AS d2,
         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS z2,
         count(DISTINCT o_orderstatus) AS d3,
         sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS z3,
         count(DISTINCT concat_ws(chr(31), CAST(o_custkey AS VARCHAR),
                                  CAST(o_orderdate AS VARCHAR))) AS d4,
         sum(CASE WHEN o_custkey IS NULL AND o_orderdate IS NULL
             THEN 1 ELSE 0 END) AS z4
  FROM orders
)
SELECT 'o_orderkey' AS column_set, d1::BIGINT AS n_distinct, z1::BIGINT AS n_nulls,
       (d1 = rws AND z1 = 0) AS is_unique_key,
       round(d1 * 100.0 / rws, 4) AS distinct_pct FROM one
UNION ALL SELECT 'o_custkey', d2::BIGINT, z2::BIGINT, (d2 = rws AND z2 = 0),
       round(d2 * 100.0 / rws, 4) FROM one
UNION ALL SELECT 'o_orderstatus', d3::BIGINT, z3::BIGINT, (d3 = rws AND z3 = 0),
       round(d3 * 100.0 / rws, 4) FROM one
UNION ALL SELECT 'o_custkey+o_orderdate', d4::BIGINT, z4::BIGINT,
       (d4 = rws AND z4 = 0), round(d4 * 100.0 / rws, 4) FROM one"""


@register("pr13_uniqueness_profile", _PR13_SQL)
def pr13_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery over orders columns and one composite."""
    return P.uniqueness_profile(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus"],
        pairs=[("o_custkey", "o_orderdate")])


_PR12_SQL = """WITH c AS (
  SELECT CAST(substr(CAST(CAST(floor(abs(l_extendedprice)) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*)::BIGINT AS n
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND abs(l_extendedprice) >= 1
  GROUP BY 1
)
SELECT digit, n,
       round(n / (sum(n) OVER ()), 6) AS observed,
       round(log10(1 + 1.0 / digit), 6) AS expected,
       round(abs(n / (sum(n) OVER ()) - log10(1 + 1.0 / digit)), 6) AS abs_dev
FROM c"""


@register("pr12_benford_extendedprice", _PR12_SQL)
def pr12_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen on lineitem extended price."""
    return P.benford_profile(_t(spark, sf_dir, "lineitem"), "l_extendedprice")


_PR14_SQL = """WITH c AS (
  SELECT user_id AS k, count(*)::BIGINT AS n
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), r AS (
  SELECT n, row_number() OVER (ORDER BY n, k) AS i FROM c
)
SELECT 'user_id' AS key, sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
       max(n)::BIGINT AS max_per_key,
       round(sum(n) / count(*), 4) AS avg_per_key,
       round(max(n) / sum(n), 6) AS top1_share,
       round(2.0 * sum(i * n) / (count(*) * sum(n))
             - (count(*) + 1) / count(*), 6) AS gini
FROM r"""


@register("pr14_key_skew_user", _PR14_SQL)
def pr14_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew pre-flight on events.user_id."""
    return P.key_skew_profile(_t(spark, sf_dir, "events"), "user_id")


# ---------------------------------------------------------------------------
# b01-b03 — behavioral analytics over events
# ---------------------------------------------------------------------------

_B01_SQL = """WITH s0 AS (
  SELECT user_id AS u, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1
), s1 AS (
  SELECT e.user_id AS u, min(e.ts) AS t FROM events e
  JOIN s0 ON e.user_id = s0.u AND e.ts > s0.t
  WHERE e.event_type = 'click' GROUP BY 1
), s2 AS (
  SELECT e.user_id AS u, min(e.ts) AS t FROM events e
  JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t
  WHERE e.event_type = 'purchase' GROUP BY 1
), c AS (
  SELECT 0 AS step_idx, 'view' AS step, count(*)::BIGINT AS n FROM s0
  UNION ALL SELECT 1, 'click', count(*)::BIGINT FROM s1
  UNION ALL SELECT 2, 'purchase', count(*)::BIGINT FROM s2
)
SELECT step_idx, step, n AS n_users,
       round(n * 100.0 / max(CASE WHEN step_idx = 0 THEN n END) OVER (), 4)
         AS pct_of_first
FROM c"""


@register("b01_funnel_events", _B01_SQL)
def b01_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch ordered funnel view → click → purchase."""
    from dataqtor_spark.operators import behavior as B

    return B.funnel(_t(spark, sf_dir, "events"),
                    ["view", "click", "purchase"])


_B02_SQL = """WITH f AS (
  SELECT user_id AS u, min(ts) AS first_ts FROM events GROUP BY 1
), a AS (
  SELECT DISTINCT date_trunc('week', f.first_ts) AS cohort_week,
         (date_diff('day', CAST(f.first_ts AS DATE), CAST(e.ts AS DATE)) // 7)
           ::BIGINT AS week_offset,
         e.user_id
  FROM events e JOIN f ON e.user_id = f.u
)
SELECT cohort_week, week_offset, count(*)::BIGINT AS n_users
FROM a GROUP BY 1, 2"""


@register("b02_cohort_retention", _B02_SQL)
def b02_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort × week-offset distinct active users."""
    from dataqtor_spark.operators import behavior as B

    return B.cohort_retention(_t(spark, sf_dir, "events"))


_B03_SQL = """WITH nx AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
), c AS (
  SELECT src, dst, count(*)::BIGINT AS n FROM nx
  WHERE dst IS NOT NULL GROUP BY 1, 2
)
SELECT src, dst, n, round(n / (sum(n) OVER (PARTITION BY src)), 6) AS share
FROM c"""


@register("b03_event_transitions", _B03_SQL)
def b03_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts/shares between event types."""
    from dataqtor_spark.operators import behavior as B

    return B.event_transitions(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# h01/h03/h05 — TPC-H classics over the star schema (the "is it actually an
# analytics engine" parity check; plans: h01 = single map-side-combinable
# agg, h03/h05 = broadcast-pruned dim joins feeding one fact shuffle)
# ---------------------------------------------------------------------------

_H01_SQL = """SELECT l_returnflag, l_linestatus,
  CAST(round(sum(CAST(l_quantity AS DECIMAL(28,10))), 4) AS DOUBLE) AS sum_qty,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,10))), 4) AS DOUBLE)
    AS sum_base_price,
  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10)))
            , 4) AS DOUBLE) AS sum_disc_price,
  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                      AS DECIMAL(28,10))), 4) AS DOUBLE) AS sum_charge,
  CAST(round(sum(CAST(l_quantity AS DECIMAL(28,10))) / count(*), 4) AS DOUBLE)
    AS avg_qty,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,10))) / count(*)
            , 4) AS DOUBLE) AS avg_price,
  CAST(round(sum(CAST(l_discount AS DECIMAL(28,10))) / count(*), 4) AS DOUBLE)
    AS avg_disc,
  count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus"""


@register("h01_pricing_summary", _H01_SQL)
def h01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: one scan, one partial-aggregated groupBy on a 6-value key;
    DECIMAL accumulation keeps the double sums order-independent."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    dec = lambda c: F.sum(c.cast("decimal(28,10)"))
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc * (F.lit(1.0) + F.col("l_tax"))
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(dec(F.col("l_quantity")), 4).cast("double").alias("sum_qty"),
        F.round(dec(F.col("l_extendedprice")), 4).cast("double")
        .alias("sum_base_price"),
        F.round(dec(disc), 4).cast("double").alias("sum_disc_price"),
        F.round(dec(charge), 4).cast("double").alias("sum_charge"),
        F.round((dec(F.col("l_quantity")) / n), 4).cast("double").alias("avg_qty"),
        F.round((dec(F.col("l_extendedprice")) / n), 4).cast("double")
        .alias("avg_price"),
        F.round((dec(F.col("l_discount")) / n), 4).cast("double").alias("avg_disc"),
        n.cast("long").alias("count_order"))


_H03_SQL = """SELECT l_orderkey,
  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10)))
            , 4) AS DOUBLE) AS revenue,
  o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10"""


@register("h03_shipping_priority", _H03_SQL)
def h03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (o_orderpriority standing in for o_shippriority): the
    segment-filtered customer side broadcasts, orders⋈lineitem is the only
    fact shuffle, and the top-10 is TakeOrderedAndProject — no global sort."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp"))
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (orders.join(F.broadcast(cust),
                        orders["o_custkey"] == cust["c_custkey"])
            .join(li, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(disc.cast("decimal(28,10)")), 4).cast("double")
                 .alias("revenue"))
            .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10))


_H05_SQL = """SELECT n_name,
  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10)))
            , 4) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name"""


@register("h05_local_supplier_volume", _H05_SQL)
def h05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: region→nation→supplier dim chain broadcasts (it's tiny
    after the region filter), so the fact side shuffles only for
    orders⋈lineitem and the final 25-key aggregate is map-side combined."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey")).select(
        "n_nationkey", "n_name")
    supplier = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation),
        F.col("s_nationkey") == F.col("n_nationkey")).select(
        "s_suppkey", "s_nationkey", "n_name")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (li.join(F.broadcast(supplier),
                    li["l_suppkey"] == supplier["s_suppkey"])
            .join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, (orders["o_custkey"] == cust["c_custkey"])
                  & (cust["c_nationkey"] == supplier["s_nationkey"]))
            .groupBy("n_name")
            .agg(F.round(F.sum(disc.cast("decimal(28,10)")), 4).cast("double")
                 .alias("revenue")))


# ---------------------------------------------------------------------------
# x02 — VARIANT semi-structured path; pr15 — MAD outliers; ts01 — gaps;
# er01 — entity resolution composition
# ---------------------------------------------------------------------------

_X02_SQL = """WITH k AS (
  SELECT CAST(json_extract(props, '$.k') AS INT) AS k FROM events
)
SELECT (k // 10)::INT AS bucket, count(*)::BIGINT AS n,
       min(k)::INT AS min_k, max(k)::INT AS max_k, sum(k)::BIGINT AS sum_k
FROM k GROUP BY 1"""


@register("x02_variant_props_histogram", _X02_SQL)
def x02_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 VARIANT path: ``parse_json`` once into a binary variant
    column, then typed ``try_variant_get`` extraction — the
    parse-once/extract-many shape that beats repeated string JSON parsing
    when several paths are read (x01 is the single-path string twin)."""
    ev = _t(spark, sf_dir, "events").withColumn("v", F.parse_json("props"))
    k = F.try_variant_get(F.col("v"), "$.k", "int")
    return (ev.select(k.alias("k"))
            .groupBy(F.floor(F.col("k") / 10).cast("int").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("k").alias("min_k"), F.max("k").alias("max_k"),
                 F.sum("k").cast("long").alias("sum_k")))


_PR15_SQL = """WITH m AS (
  SELECT quantile_cont(c_acctbal, 0.5) AS med FROM customer
  WHERE c_acctbal IS NOT NULL
), d AS (
  SELECT c_acctbal AS x, med, abs(c_acctbal - med) AS ad
  FROM customer, m WHERE c_acctbal IS NOT NULL
), mm AS (
  SELECT any_value(med) AS med, quantile_cont(ad, 0.5) AS mad FROM d
)
SELECT 'c_acctbal' AS "column", count(*)::BIGINT AS n,
       round(any_value(mm.med), 4) AS median,
       round(any_value(mm.mad), 4) AS mad,
       sum(CASE WHEN abs(d.x - mm.med) * 0.6745 > 3.5 * mm.mad
           THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
       round(sum(CASE WHEN abs(d.x - mm.med) * 0.6745 > 3.5 * mm.mad
                 THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS outlier_pct
FROM d, mm"""


@register("pr15_mad_outliers_acctbal", _PR15_SQL)
def pr15_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modified-z-score (MAD) outlier screen on customer account balance."""
    return P.mad_outliers(_t(spark, sf_dir, "customer"), "c_acctbal")


_TS01_SQL = f"""WITH g AS (
  SELECT event_type AS etype,
         epoch_us(ts) - epoch_us(lag(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) AS gap
  FROM events
)
SELECT etype, count(*)::BIGINT AS n_gaps,
       {XR.round_ratio_sql('sum(CAST(gap AS DECIMAL(28,0)))::HUGEINT',
                           'count(*)::HUGEINT * 1000000', 4)} AS avg_gap_s,
       round(quantile_cont(gap, 0.5) / 1000000.0, 4) AS p50_gap_s,
       round(max(gap) / 1000000.0, 4) AS max_gap_s
FROM g WHERE gap IS NOT NULL GROUP BY 1"""


@register("ts01_interarrival_stats", _TS01_SQL)
def ts01_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival gap statistics over the event stream."""
    from dataqtor_spark.operators import behavior as B

    return B.interarrival_stats(_t(spark, sf_dir, "events"))


_ER01_SQL = """WITH RECURSIVE pairs AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 1
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), cc(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, cc.label FROM edges e JOIN cc ON cc.id = e.dst
), comp AS (
  SELECT id, min(label) AS component FROM cc GROUP BY id
)
SELECT component::BIGINT AS component, count(*)::BIGINT AS cluster_size,
       min(id)::BIGINT AS survivor_id
FROM comp GROUP BY 1"""


@register("er01_entity_resolution", _ER01_SQL)
def er01_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: SymSpell deletion-neighborhood
    candidate generation (equi-join, never a quadratic block join) →
    exact edit-distance ≤ 1 verify → connected components → survivor per
    entity cluster.  The oracle expresses the same pair semantics as a
    blocked quadratic join — tractable for SQL at sf0.01, while the Spark
    path stays linear-ish in rows at any scale."""
    from dataqtor_spark.operators import dedup as DD

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey",
                                             "c_name")
    pairs = DD.edit_distance_pairs(c, "c_custkey", "c_name",
                                   block_col="c_nationkey")
    comp = DD.connected_components(pairs)
    return (comp.groupBy("component")
            .agg(F.count(F.lit(1)).alias("cluster_size"),
                 F.min("id").alias("survivor_id")))


# ---------------------------------------------------------------------------
# h04/h06/h10/h13/h14/h18/h22 — the rest of the TPC-H join-shape gallery,
# adapted to the reduced star schema (no commitdate/shipmode/address cols).
# Each exercises a distinct physical-plan shape the engine must get right
# at scale: semi-join, fused scan-agg, top-k after a 3-way join, outer-join
# distribution, broadcast conditional agg, having-subquery, anti-join with
# a scalar subquery.
# ---------------------------------------------------------------------------

_H04_SQL = """SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority"""


@register("h04_priority_check", _H04_SQL)
def h04_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (late-ship EXISTS adapted to the reduced schema): the
    EXISTS becomes a LEFT SEMI join with the correlated l_shipdate >
    o_orderdate predicate folded into the join condition — lineitem is
    never materialized into the output, and the quarter filter prunes the
    orders side before the shuffle."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (orders.join(
                li, (orders["o_orderkey"] == li["l_orderkey"])
                & (li["l_shipdate"] > orders["o_orderdate"]), "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


_H06_SQL = """SELECT
  CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,10)))
            , 4) AS DOUBLE) AS revenue,
  count(*)::BIGINT AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24"""


@register("h06_forecast_revenue", _H06_SQL)
def h06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the whole query is one scan with every predicate pushed
    to parquet and a single partial-aggregated global sum — the plan is a
    pure WholeStageCodegen span over the scan, no shuffle but the final
    1-row exchange."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24))
    rev = F.col("l_extendedprice") * F.col("l_discount")
    return li.agg(
        F.round(F.sum(rev.cast("decimal(28,10)")), 4).cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"))


_H10_SQL = """SELECT c_custkey, c_name,
  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10)))
            , 4) AS DOUBLE) AS revenue,
  c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20"""


@register("h10_returned_items", _H10_SQL)
def h10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue per customer.  The quarter filter
    shrinks orders before the fact-fact shuffle, the 25-row nation dim
    broadcasts, and the top-20 is TakeOrderedAndProject (no global sort
    of the aggregate)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(nation),
                  cust["c_nationkey"] == nation["n_nationkey"])
            .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
            .agg(F.round(F.sum(disc.cast("decimal(28,10)")), 4).cast("double")
                 .alias("revenue"))
            .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(20))


_H13_SQL = """WITH co AS (
  SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT c_count, count(*)::BIGINT AS custdist
FROM co GROUP BY c_count"""


@register("h13_customer_distribution", _H13_SQL)
def h13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (priority filter standing in for the comment pattern):
    LEFT OUTER join so zero-order customers survive with count 0, then a
    second tiny groupBy over per-customer counts.  count(o_orderkey)
    (not count(*)) is what makes the no-match rows count as 0."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW").select("o_custkey", "o_orderkey")
    per_cust = (cust.join(orders, cust["c_custkey"] == orders["o_custkey"],
                          "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist"))


_H14_SQL = """SELECT
  CAST(round(100.0 * sum(CAST(CASE WHEN p_type = 'PROMO'
                   THEN l_extendedprice * (1.0 - l_discount) ELSE 0 END
                   AS DECIMAL(28,10)))
        / sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10)))
       , 4) AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'"""


@register("h14_promo_revenue", _H14_SQL)
def h14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo share of one month's revenue.  part broadcasts
    (projected to 2 columns), so the month-filtered lineitem scan never
    shuffles; the conditional sum is one map-side-combined aggregate."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp")))
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .agg(F.round(
                (F.lit(100.0) * F.sum(promo.cast("decimal(28,10)"))
                 / F.sum(disc.cast("decimal(28,10)"))), 4).cast("double")
                .alias("promo_revenue_pct")))


_H18_SQL = """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
  CAST(round(sum(CAST(l_quantity AS DECIMAL(28,10))), 4) AS DOUBLE)
    AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100"""


@register("h18_large_orders", _H18_SQL)
def h18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders.  The HAVING subquery is computed
    once as a lineitem aggregate and semi-joined back (big-key list, so a
    shuffled semi-join, not a broadcast IN); at scale AQE picks the
    strategy from the aggregate's actual size."""
    li = _t(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("__q"))
           .filter(F.col("__q") > 200).select("l_orderkey"))
    orders = _t(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "__ok"),
        F.col("o_orderkey") == F.col("__ok"), "left_semi")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                     "o_totalprice")
            .agg(F.round(F.sum(F.col("l_quantity").cast("decimal(28,10)"))
                         , 4).cast("double").alias("total_qty"))
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(100))


_H22_SQL = """WITH avg_bal AS (
  SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0
)
SELECT n_name,
       count(*)::BIGINT AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey, avg_bal
WHERE c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY n_name"""


@register("h22_dormant_customers", _H22_SQL)
def h22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (nation standing in for the phone prefix): above-average
    balance customers with no recent orders.  The scalar subquery is a
    1-row aggregate broadcast via crossJoin (never a collect), the NOT
    EXISTS is a LEFT ANTI join against date-pruned orders, and nation
    broadcasts."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    avg_bal = (cust.filter(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("__avg_bal")))
    return (cust.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("__avg_bal"))
            .join(recent, cust["c_custkey"] == recent["o_custkey"],
                  "left_anti")
            .join(F.broadcast(nation),
                  cust["c_nationkey"] == nation["n_nationkey"])
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.round(F.sum("c_acctbal"), 2).alias("totacctbal")))


# ---------------------------------------------------------------------------
# d09 — SemDeDup semantic dedup; t20 — CCNet paragraph dedup
# ---------------------------------------------------------------------------

_D09_THRESHOLD, _D09_CLUSTERS, _D09_ITER, _D09_DIM = 0.9, 8, 2, 64


def _d09_oracle_sql() -> str:
    nc, dim, tau = _D09_CLUSTERS, _D09_DIM, _D09_THRESHOLD

    def assign_cte(src: str, cents: str) -> str:
        return f"""(
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, s.cid,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY round(pow(list_distance(x.v, s.v), 2), 9), s.cid) AS rn
    FROM {src} x, {cents} s) WHERE rn = 1)"""

    def recenter_cte(assigned: str) -> str:
        return f"""(
  SELECT cid, list(val ORDER BY i) AS v FROM (
    SELECT a.cid, t.i, round(avg(a.v[t.i]), 6) AS val
    FROM {assigned} a, unnest(generate_series(1, {dim})) AS t(i)
    GROUP BY a.cid, t.i) GROUP BY cid)"""

    return f"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
seeds AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cid, v
  FROM c ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {nc}),
a1 AS {assign_cte("c", "seeds")},
cent1 AS {recenter_cte("a1")},
a2 AS {assign_cte("c", "cent1")},
cent2 AS {recenter_cte("a2")},
af AS {assign_cte("c", "cent2")},
rm AS (
  SELECT DISTINCT b.vec_id AS id
  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {tau})
SELECT a.vec_id, a.cid::INT AS cluster, (rm.id IS NULL) AS keep
FROM af a LEFT JOIN rm ON a.vec_id = rm.id"""


@register("d09_semantic_dedup", _d09_oracle_sql())
def d09_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: portable-k-means clustering of the embedding space, then
    within-cluster cosine pruning — keep the min-id member of every
    ε-similar group.  The oracle replays the full 2-round Lloyd training
    in SQL, so clustering AND pruning are differentially checked."""
    from dataqtor_spark.operators import dedup as DD

    return DD.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        threshold=_D09_THRESHOLD, n_clusters=_D09_CLUSTERS,
        n_iter=_D09_ITER,
        cache_key=os.path.join(sf_dir, "embeddings.parquet"))


_T20_CHUNK = 10

_T20_SQL = f"""WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f]+'),
                     t -> t <> '') AS tk
  FROM documents
),
ch AS (
  SELECT doc_id, t.i AS cno,
         array_to_string(list_slice(tk, t.i * {_T20_CHUNK} + 1,
                                    (t.i + 1) * {_T20_CHUNK}), ' ') AS chunk
  FROM base,
       unnest(generate_series(0,
         CAST(ceil(len(tk) / {_T20_CHUNK}.0) AS INT) - 1)) AS t(i)
  WHERE len(tk) > 0
),
h AS (SELECT doc_id, cno, chunk, md5(chunk) AS hh FROM ch),
sh AS (SELECT hh FROM h GROUP BY hh HAVING count(DISTINCT doc_id) > 1),
m AS (SELECT h.doc_id, h.cno, h.chunk, (sh.hh IS NOT NULL) AS shared
      FROM h LEFT JOIN sh ON h.hh = sh.hh)
SELECT doc_id, count(*)::BIGINT AS n_chunks,
       sum(CASE WHEN shared THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       coalesce(string_agg(CASE WHEN NOT shared THEN chunk END,
                           ' ' ORDER BY cno), '') AS clean_text
FROM m GROUP BY doc_id"""


@register("t20_paragraph_dedup", _T20_SQL)
def t20_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet paragraph-level dedup over fixed 10-token chunks: drop
    corpus-shared chunks, rebuild the cleaned text in order."""
    from dataqtor_spark.operators import textstats as TX2

    return TX2.paragraph_dedup(_t(spark, sf_dir, "documents"),
                               chunk_tokens=_T20_CHUNK, max_df=1)


# ---------------------------------------------------------------------------
# w02/w03 — SCD2 history build + incremental merge
# ---------------------------------------------------------------------------

_W02_SQL = """WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), s AS (
  SELECT user_id, event_type, ts, event_id FROM o
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type, ts AS valid_from,
       coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                TIMESTAMP '2200-01-01') AS valid_to,
       (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
         AS is_current
FROM s"""


@register("w02_scd2_history", _W02_SQL)
def w02_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension built from the events change log: one row per
    (user, run of equal event_type), validity interval per run."""
    from dataqtor_spark.operators import scd as SCD

    out = SCD.scd2_from_history(_t(spark, sf_dir, "events"),
                                "user_id", "ts", ["event_type"],
                                tiebreak_col="event_id")
    return out.withColumn("valid_to", F.coalesce(
        F.col("valid_to"), F.lit("2200-01-01").cast("timestamp")))


_W03_CUTOFF = "2024-01-15"

# the oracle is the DIRECT full-history SCD2 — hash-matching it proves the
# incremental merge (close-open-rows + replay) reproduces a from-scratch
# rebuild exactly
_W03_SQL = _W02_SQL


@register("w03_scd2_merge", _W03_SQL)
def w03_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 merge: history before the cutoff becomes the
    current table, the rest is applied as a batch via scd2_merge; the
    oracle rebuilds from the full log — equality is the merge-correctness
    proof (incremental ≡ from-scratch)."""
    from dataqtor_spark.operators import scd as SCD

    ev = _t(spark, sf_dir, "events")
    cut = F.lit(_W03_CUTOFF).cast("timestamp")
    current = SCD.scd2_from_history(ev.filter(F.col("ts") < cut),
                                    "user_id", "ts", ["event_type"],
                                    tiebreak_col="event_id")
    updates = ev.filter(F.col("ts") >= cut)
    out = SCD.scd2_merge(current, updates, "user_id", "ts",
                         ["event_type"], tiebreak_col="event_id")
    return out.withColumn("valid_to", F.coalesce(
        F.col("valid_to"), F.lit("2200-01-01").cast("timestamp")))


# ---------------------------------------------------------------------------
# j07 — salted skew join (result-identical to the plain join, by oracle)
# ---------------------------------------------------------------------------

_J07_SQL = """SELECT c_mktsegment, count(*)::BIGINT AS n_events,
  CAST(round(sum(CAST(value AS DECIMAL(28,10))), 4) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment"""


@register("j07_salted_skew_join", _J07_SQL)
def j07_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact⋈dim join: fact rows carry a deterministic row-hash
    salt, the dim side replicates n_salt×, the shuffle key is (key, salt)
    — a hot user id spreads over n_salt reducers.  The oracle is the plain
    join: hash equality shows salting is a pure execution strategy."""
    from dataqtor_spark.operators import skew as SK

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = SK.salted_join(ev, cust, "user_id", "c_custkey", n_salt=8)
    return (joined.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum(F.col("value").cast("decimal(28,10)"))
                         , 4).cast("double").alias("total_value")))


# ---------------------------------------------------------------------------
# pr16 — incremental cardinality via mergeable theta-sketch state (the s13
# device: theta sketches are EXACT below their 2^lgk retained-key capacity,
# so the DuckDB COUNT(DISTINCT) oracle hash-matches at test SFs while the
# SAME plan degrades gracefully to a ±1/√k estimate above capacity at
# 100 TB; the HLL variant stays in profile.hll_sketches/hll_rollup_estimate
# as the lower-memory alternative, merge + error-bound pytest-anchored in
# tests/test_warehouse_layout)
# ---------------------------------------------------------------------------

@register("pr16_incremental_distinct_users",
          "SELECT CAST(count(DISTINCT user_id) AS BIGINT)"
          " AS distinct_users FROM events")
def pr16_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day theta user sketches rolled up to one corpus-wide distinct
    count — the rescan-free incremental form of pr09's cardinality
    profile (store per-partition sketch state, merge on demand at any
    granularity; each day's sketch is a map-side-combinable partial, the
    rollup is a bounded union of ≤ n_days 32 KB blobs)."""
    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = ev.groupBy("day").agg(
        F.theta_sketch_agg(F.col("user_id")).alias("sk"))
    return daily.agg(
        F.theta_sketch_estimate(F.theta_union_agg(F.col("sk")))
        .cast("long").alias("distinct_users"))


# ---------------------------------------------------------------------------
# g01 — PageRank over the event-transition graph (iterative algorithm;
# the oracle replays all 10 rounds as unrolled CTEs)
# ---------------------------------------------------------------------------

_G01_DAMPING, _G01_ITER = 0.85, 10


def _g01_oracle_sql() -> str:
    # embed the exact Python-computed doubles (1.0-0.85 != 0.15 in IEEE)
    link = repr(_G01_DAMPING)
    base_num = repr(1.0 - _G01_DAMPING)
    parts = [f"""WITH nx AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
), e AS (
  SELECT src, dst, count(*) * 1.0 AS w FROM nx
  WHERE dst IS NOT NULL GROUP BY 1, 2
), tot AS (SELECT src, sum(w) AS wout FROM e GROUP BY 1),
m AS (SELECT e.src, e.dst, e.w / t.wout AS share
      FROM e JOIN tot t USING (src)),
n AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM m UNION SELECT dst FROM m)),
nn AS (SELECT count(*) AS cnt FROM n),
r0 AS (SELECT node, round(1.0 / cnt, 12) AS r FROM n CROSS JOIN nn)"""]
    for i in range(1, _G01_ITER + 1):
        parts.append(f""",
c{i} AS (SELECT m.dst, sum(m.share * p.r) AS c
  FROM m JOIN r{i - 1} p ON p.node = m.src GROUP BY m.dst),
r{i} AS (SELECT n.node,
  round({base_num} / cnt + {link} * coalesce(c{i}.c, 0.0), 12) AS r
  FROM n CROSS JOIN nn LEFT JOIN c{i} ON c{i}.dst = n.node)""")
    parts.append(f"""
SELECT node, round(r, 6) AS rank FROM r{_G01_ITER}""")
    return "".join(parts)


@register("g01_pagerank_transitions", _g01_oracle_sql())
def g01_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the first-order event-transition graph: which event
    types are the behavioral sinks.  Fixed 10 rounds, 12-dp per-round
    rounding — the oracle replays every iteration in SQL."""
    from pyspark.sql.window import Window

    from dataqtor_spark.operators import behavior as B

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (ev.select(F.col("event_type").alias("src"),
                       F.lead("event_type").over(w).alias("dst"))
             .filter(F.col("dst").isNotNull())
             .groupBy("src", "dst")
             .agg(F.count(F.lit(1)).cast("double").alias("n")))
    return B.pagerank(edges, "src", "dst", weight="n",
                      damping=_G01_DAMPING, n_iter=_G01_ITER)


# ---------------------------------------------------------------------------
# h11/h15/h16 — remaining TPC-H shapes expressible on the reduced schema
# ---------------------------------------------------------------------------

_H11_SQL = """WITH tot AS (
  SELECT sum(s_acctbal) AS t FROM supplier
)
SELECT n_name, round(sum(s_acctbal), 2) AS nation_value
FROM supplier JOIN nation ON s_nationkey = n_nationkey, tot
GROUP BY n_name, tot.t
HAVING sum(s_acctbal) > 0.05 * tot.t"""


@register("h11_nation_concentration", _H11_SQL)
def h11_nation_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (nation value standing in for partsupp stock value):
    group-HAVING against a broadcast scalar — the total is a 1-row
    aggregate crossJoined in, never a collect, and the HAVING prunes
    after one map-side-combined aggregate."""
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    tot = sup.agg(F.sum("s_acctbal").alias("__t"))
    return (sup.join(F.broadcast(nation),
                     sup["s_nationkey"] == nation["n_nationkey"])
            .crossJoin(F.broadcast(tot))
            .groupBy("n_name", "__t")
            .agg(F.round(F.sum("s_acctbal"), 2).alias("nation_value"),
                 F.sum("s_acctbal").alias("__v"))
            .filter(F.col("__v") > 0.05 * F.col("__t"))
            .select("n_name", "nation_value"))


_H15_SQL = """WITH rev AS (
  SELECT l_suppkey,
         CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(28,10))), 4) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)"""


@register("h15_top_supplier", _H15_SQL)
def h15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the max-revenue supplier of a quarter.  Revenue is one
    DECIMAL-accumulated aggregate; the max is a 1-row broadcast scalar
    (handles ties, unlike a LIMIT 1), and supplier broadcasts."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    rev = (li.groupBy("l_suppkey")
           .agg(F.round(F.sum(disc.cast("decimal(28,10)")), 4).cast("double")
                .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (rev.crossJoin(F.broadcast(mx))
            .filter(F.col("total_revenue") == F.col("__mx"))
            .join(F.broadcast(sup), rev["l_suppkey"] == sup["s_suppkey"])
            .select("s_suppkey", "s_name", "total_revenue"))


_H16_SQL = """SELECT p_brand, p_size,
       count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'BRAND#1' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
GROUP BY p_brand, p_size"""


@register("h16_supplier_diversity", _H16_SQL)
def h16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (lineitem standing in for partsupp): distinct suppliers
    per part class.  The brand/size filters push into the broadcast part
    dim; count-distinct expands to a two-phase aggregate (distinct
    pre-shuffle, then count) — no collect_set blowup on hot classes."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "BRAND#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    ).select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .groupBy("p_brand", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


# ---------------------------------------------------------------------------
# j05b — as-of join with a match-age tolerance (pandas merge_asof semantics)
# ---------------------------------------------------------------------------

_J05B_SQL = """WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
), r AS (
  SELECT user_id, ts, max(value) AS value FROM events
  WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT l.event_id, l.user_id, l.ts,
       CASE WHEN date_diff('microsecond', r.ts, l.ts) <= 3600000000::BIGINT
            THEN r.value END AS value_right
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"""


@register("j05b_asof_tolerance", _J05B_SQL)
def j05b_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join bounded to matches ≤1 hour old: the matched right ts is
    carried by the same window (no extra join), stale values revert to
    NULL — the merge_asof tolerance semantics at shuffle-once cost."""
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts")
    right = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts").agg(F.max("value").alias("value")))
    return AJ.asof_join(left, right, "user_id", "ts", ["value"],
                        tolerance_seconds=3600)


# ---------------------------------------------------------------------------
# pr17 — exact per-group percentiles; f13 — winsorize repair
# ---------------------------------------------------------------------------

_PR17_SQL = """SELECT event_type,
  round(quantile_cont(value, 0.5), 4) AS p50,
  round(quantile_cont(value, 0.9), 4) AS p90,
  round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type"""


@register("pr17_group_percentiles", _PR17_SQL)
def pr17_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated per-group percentiles (Spark `percentile` ≡
    SQL quantile_cont).  Exact mode is the oracle-checkable path; the
    100 TB path swaps in approx_percentile's mergeable KLL-style sketch
    with identical plan shape."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(*[F.round(F.percentile(F.col("value"), F.lit(q)), 4)
                   .alias(f"p{int(q * 100)}")
                   for q in (0.5, 0.9, 0.99)]))


_F13_SQL = """WITH cuts AS (
  SELECT quantile_cont(c_acctbal, 0.05) AS lo,
         quantile_cont(c_acctbal, 0.95) AS hi
  FROM customer
)
SELECT count(*)::BIGINT AS n_rows,
  sum(CASE WHEN c_acctbal < lo OR c_acctbal > hi THEN 1 ELSE 0 END)::BIGINT
    AS n_clipped,
  CAST(round(sum(CAST(least(greatest(c_acctbal, lo), hi) AS DECIMAL(28,10)))
            , 4) AS DOUBLE) AS clipped_sum
FROM customer, cuts"""


@register("f13_winsorize_acctbal", _F13_SQL)
def f13_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize account balances at p05/p95 and summarize the repair —
    one exact-percentile aggregate broadcast over one scan."""
    from dataqtor_spark.operators import repair as RP2

    w = RP2.winsorize(_t(spark, sf_dir, "customer"), "c_acctbal",
                      0.05, 0.95)
    return w.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("c_acctbal__clipped").cast("long")).alias("n_clipped"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(28,10)"))
                , 4).cast("double").alias("clipped_sum"))


# ---------------------------------------------------------------------------
# pit01 — point-in-time join: facts see only the dim version valid at
# their timestamp (leakage-free feature joins)
# ---------------------------------------------------------------------------

_PIT01_SQL = """WITH ch AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value / 20) AS INT) AS tier,
         lag(CAST(floor(value / 20) AS INT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events WHERE event_type = 'purchase'
), s AS (
  SELECT user_id, tier, ts, event_id FROM ch
  WHERE prev IS NULL OR prev <> tier
), runs AS (
  SELECT user_id, tier, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to
  FROM s
), v AS (
  SELECT e.event_id, r.tier
  FROM events e LEFT JOIN runs r
    ON e.user_id = r.user_id
   AND e.ts >= r.valid_from
   AND (r.valid_to IS NULL OR e.ts < r.valid_to)
  WHERE e.event_type = 'view'
)
SELECT coalesce(tier, -1)::INT AS tier_at, count(*)::BIGINT AS n_views
FROM v GROUP BY 1"""


@register("pit01_point_in_time_join", _PIT01_SQL)
def pit01_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views enriched with the purchase-tier each user was in AT view
    time: SCD2 of purchase tiers + as-of on valid_from (one shuffle per
    side; the oracle is the explicit interval join — the hash match shows
    the as-of carry-forward is the interval lookup)."""
    from dataqtor_spark.operators import scd as SCD

    ev = _t(spark, sf_dir, "events")
    tiers = (ev.filter(F.col("event_type") == "purchase")
             .select("user_id", "ts", "event_id",
                     F.floor(F.col("value") / 20).cast("int").alias("tier")))
    dim = SCD.scd2_from_history(tiers, "user_id", "ts", ["tier"],
                                tiebreak_col="event_id")
    facts = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts")
    pit = SCD.point_in_time_join(facts, dim, "user_id", "ts", ["tier"])
    return (pit.groupBy(F.coalesce(F.col("tier_at"), F.lit(-1)).cast("int")
                        .alias("tier_at"))
            .agg(F.count(F.lit(1)).alias("n_views")))


# ---------------------------------------------------------------------------
# pr18 — column entropy + mutual information
# ---------------------------------------------------------------------------

_PR18_SQL = """WITH j AS (
  SELECT o_orderstatus AS a, o_orderpriority AS b, count(*) * 1.0 AS n
  FROM orders WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
  GROUP BY 1, 2
), t AS (SELECT sum(n) AS t FROM j),
pa AS (SELECT a, sum(n) AS na FROM j GROUP BY a),
pb AS (SELECT b, sum(n) AS nb FROM j GROUP BY b),
f AS (SELECT j.*, pa.na, pb.nb, t.t
      FROM j JOIN pa USING (a) JOIN pb USING (b) CROSS JOIN t)
SELECT
  round(-sum((na / t) * ln(na / t) * n / na), 6) AS entropy_a,
  round(-sum((nb / t) * ln(nb / t) * n / nb), 6) AS entropy_b,
  round(sum((n / t) * ln((n / t) / ((na / t) * (nb / t)))), 6)
    AS mutual_information
FROM f"""


@register("pr18_entropy_mi_orders", _PR18_SQL)
def pr18_entropy_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy of order status/priority and their mutual information —
    one joint-count shuffle, marginals re-aggregated from the r×c table."""
    return P.entropy_mi(_t(spark, sf_dir, "orders"),
                        "o_orderstatus", "o_orderpriority")


# ---------------------------------------------------------------------------
# er02 — golden records: attribute-level survivorship per entity cluster
# ---------------------------------------------------------------------------

_ER02_SQL = """WITH RECURSIVE pairs AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 1
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), cc(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, cc.label FROM edges e JOIN cc ON cc.id = e.dst
), comp AS (
  SELECT id, min(label) AS component FROM cc GROUP BY id
), members AS (
  SELECT comp.component, c.*
  FROM comp JOIN customer c ON c.c_custkey = comp.id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY component
                               ORDER BY c_acctbal DESC, c_name DESC) AS rn
  FROM members
)
SELECT m.component::BIGINT AS component,
       count(*)::BIGINT AS n_members,
       min(m.c_custkey)::BIGINT AS survivor_id,
       max(CASE WHEN r.rn = 1 THEN r.c_name END) AS best_name,
       round(sum(m.c_acctbal), 2) AS total_acctbal
FROM members m JOIN ranked r ON r.component = m.component
  AND r.c_custkey = m.c_custkey
GROUP BY 1"""


@register("er02_golden_records", _ER02_SQL)
def er02_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-level survivorship: one golden record per entity cluster
    — canonical id = min member id, best_name = the richest member's name
    (deterministic (acctbal, name) arg-max via a per-component window),
    balances summed.  Same SymSpell→components pipeline as er01."""
    from pyspark.sql.window import Window

    from dataqtor_spark.operators import dedup as DD

    c = _t(spark, sf_dir, "customer")
    pairs = DD.edit_distance_pairs(
        c.select("c_custkey", "c_nationkey", "c_name"),
        "c_custkey", "c_name", block_col="c_nationkey")
    comp = DD.connected_components(pairs)
    members = comp.join(c, comp["id"] == c["c_custkey"])
    w = Window.partitionBy("component").orderBy(
        F.desc("c_acctbal"), F.desc("c_name"))
    ranked = members.withColumn("__rn", F.row_number().over(w))
    return (ranked.groupBy("component")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.min("c_custkey").alias("survivor_id"),
                 F.max(F.when(F.col("__rn") == 1, F.col("c_name")))
                 .alias("best_name"),
                 F.round(F.sum("c_acctbal"), 2).alias("total_acctbal")))


# ---------------------------------------------------------------------------
# t22 — end-to-end semantic search: chunk → (deterministic) embed →
# brute-force cosine top-k.  The md5-derived embedding makes the WHOLE
# retrieval pipeline SQL-replayable; production swaps that one expression
# for a model UDF.
# ---------------------------------------------------------------------------

_T22_DIMS, _T22_CHUNK, _T22_K = 8, 32, 10
_T22_QUERY = "table scan fast join"


def _t22_vec_sql(text_expr: str) -> str:
    from dataqtor_spark.operators.dedup import PORTABLE_P

    dims = ", ".join(
        f"(({_nibble_value_sql(f'md5({text_expr} || ' + chr(39) + f':{i}' + chr(39) + ')')} "
        f"% {PORTABLE_P}) / {PORTABLE_P}.0) * 2.0 - 1.0"
        for i in range(_T22_DIMS))
    return f"[{dims}]"


def _t22_oracle_sql() -> str:
    q = _T22_QUERY
    return f"""WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+') AS tk FROM documents
), ch AS (
  SELECT doc_id, CAST((s.s - 1) // {_T22_CHUNK} AS INT) AS chunk_index,
         array_to_string(list_slice(tk, s.s, s.s + {_T22_CHUNK - 1}), ' ') AS chunk
  FROM base,
       unnest(generate_series(1, greatest(len(tk), 1), {_T22_CHUNK})) AS s(s)
  WHERE length(array_to_string(list_slice(tk, s.s, s.s + {_T22_CHUNK - 1}), ' ')) > 0
), emb AS (
  SELECT doc_id, chunk_index, {_t22_vec_sql("chunk")} AS v FROM ch
), qv AS (
  SELECT {_t22_vec_sql(chr(39) + q + chr(39))} AS v
)
SELECT doc_id, chunk_index, cosine, rank FROM (
  SELECT e.doc_id, e.chunk_index,
         round(list_cosine_similarity(e.v, qv.v), 6) AS cosine,
         row_number() OVER (ORDER BY round(list_cosine_similarity(e.v, qv.v), 6) DESC,
                            e.doc_id, e.chunk_index) AS rank
  FROM emb e CROSS JOIN qv)
WHERE rank <= {_T22_K}"""


@register("t22_semantic_search", _t22_oracle_sql())
def t22_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk the corpus, embed every chunk (deterministic hash embedding
    — the model-UDF stand-in), brute-force cosine top-10 for one query.
    One Generate for chunking, map-only embedding, one TakeOrdered."""
    from dataqtor_spark.operators import ann as ANN
    from dataqtor_spark.operators import embeddings as EB

    chunks = TX.chunk_documents(_t(spark, sf_dir, "documents"),
                                max_tokens=_T22_CHUNK, overlap=0)
    emb = chunks.select("doc_id", "chunk_index",
                        EB.hash_embedding("chunk_text", _T22_DIMS)
                        .alias("v"))
    qv = EB.hash_embedding(F.lit(_T22_QUERY), _T22_DIMS)
    scored = emb.select(
        "doc_id", "chunk_index",
        F.round(ANN.dot(F.col("v"), qv)
                / (ANN.l2_norm(F.col("v")) * ANN.l2_norm(qv)), 6)
        .alias("cosine"))
    from pyspark.sql.window import Window

    # limit first: orderBy+limit compiles to TakeOrderedAndProject
    # (per-partition heaps + driver merge), so the corpus-sized score
    # table never funnels through a single-partition rank window; the
    # rank window then runs over k rows (the vocab top-k device)
    order = [F.desc("cosine"), F.asc("doc_id"), F.asc("chunk_index")]
    top = scored.orderBy(*order).limit(_T22_K)
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))


# ---------------------------------------------------------------------------
# h19 — disjunctive-predicate revenue (TPC-H Q19 shape); b05 — top event
# trigrams (path analysis one step past b03's bigrams)
# ---------------------------------------------------------------------------

_H19_SQL = """SELECT
  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10)))
            , 4) AS DOUBLE) AS revenue,
  count(*)::BIGINT AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'BRAND#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'BRAND#2' AND p_size BETWEEN 11 AND 25
       AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'BRAND#3' AND p_size BETWEEN 26 AND 50
       AND l_quantity BETWEEN 20 AND 35)"""


@register("h19_banded_revenue", _H19_SQL)
def h19_banded_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of three conjunctive bands across the join.
    The part-side conjuncts are derivable per branch, so the broadcast dim
    carries its own disjunctive filter and only band-eligible parts
    replicate; the residual mixed predicate evaluates post-join in
    codegen."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    band = (
        ((F.col("p_brand") == "BRAND#1") & F.col("p_size").between(1, 10)
         & F.col("l_quantity").between(1, 15))
        | ((F.col("p_brand") == "BRAND#2") & F.col("p_size").between(11, 25)
           & F.col("l_quantity").between(10, 25))
        | ((F.col("p_brand") == "BRAND#3") & F.col("p_size").between(26, 50)
           & F.col("l_quantity").between(20, 35)))
    part_f = part.filter(
        ((F.col("p_brand") == "BRAND#1") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "BRAND#2") & F.col("p_size").between(11, 25))
        | ((F.col("p_brand") == "BRAND#3") & F.col("p_size").between(26, 50)))
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (li.join(F.broadcast(part_f),
                    li["l_partkey"] == part_f["p_partkey"])
            .filter(band)
            .agg(F.round(F.sum(disc.cast("decimal(28,10)")), 4).cast("double")
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


_B05_SQL = """WITH tri AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e1, e2, e3, n, rank FROM (
  SELECT e1, e2, e3, count(*)::BIGINT AS n,
         row_number() OVER (ORDER BY count(*) DESC, e1, e2, e3) AS rank
  FROM tri WHERE e3 IS NOT NULL GROUP BY 1, 2, 3)
WHERE rank <= 10"""


@register("b05_top_trigrams", _B05_SQL)
def b05_top_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 3-step behavioral paths: two leads over the per-user time
    window, one count shuffle, TakeOrdered top-k."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(F.col("event_type").alias("e1"),
                    F.lead("event_type", 1).over(w).alias("e2"),
                    F.lead("event_type", 2).over(w).alias("e3"))
    counts = (tri.filter(F.col("e3").isNotNull())
              .groupBy("e1", "e2", "e3")
              .agg(F.count(F.lit(1)).alias("n")))
    # limit first (t11's device): orderBy+limit compiles to
    # TakeOrderedAndProject — distributed per-partition top-k + driver
    # merge — so the aggregated trigram table is never sorted on one
    # partition even when the path alphabet is high-cardinality (URLs,
    # product ids); the rank window then runs over 10 rows.
    order = [F.desc("n"), F.asc("e1"), F.asc("e2"), F.asc("e3")]
    top = counts.orderBy(*order).limit(10)
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))


# ---------------------------------------------------------------------------
# h02/h07/h08/h09/h12/h17/h20/h21 — the remaining TPC-H shapes, completing
# the 22-query suite.  The driver schema has no partsupp / l_shipmode /
# commit-receipt dates, so (precedent: h03 substitutes o_orderpriority)
# these keep each query's canonical PLAN SHAPE while standing in columns:
# lineitem rows act as the supplier×part "offer" table, p_retailprice×0.1
# stands in for ps_supplycost, l_returnflag for l_shipmode, and
# "l_shipdate > o_orderdate + N days" for receipt-after-commit lateness.
# ---------------------------------------------------------------------------

_H02_SQL = """WITH px AS (
  SELECT p_partkey FROM part WHERE p_size = 15
), mo AS (
  SELECT l_partkey, min(l_extendedprice) AS min_price
  FROM lineitem JOIN px ON l_partkey = p_partkey GROUP BY 1
)
SELECT DISTINCT s_acctbal, n_name, s_name, lineitem.l_partkey AS p_partkey,
       l_extendedprice AS price
FROM lineitem
JOIN mo ON lineitem.l_partkey = mo.l_partkey AND l_extendedprice = min_price
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100"""


@register("h02_min_cost_supplier", _H02_SQL)
def h02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (lineitem = the supplier×part offer table): per-part
    MIN over the filtered offers, joined back on equality to keep every
    supplier attaining the minimum.  The part filter and the per-part min
    table both broadcast; the offer scan is touched twice but shuffles
    only on the tiny group key (partkey), and min-equality on *stored*
    doubles is bit-exact across engines."""
    part_f = _t(spark, sf_dir, "part").filter(
        F.col("p_size") == 15).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice")
    offers = li.join(F.broadcast(part_f),
                     li["l_partkey"] == part_f["p_partkey"]).drop("p_partkey")
    mo = offers.groupBy("l_partkey").agg(
        F.min("l_extendedprice").alias("min_price"))
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (offers.join(F.broadcast(mo.withColumnRenamed("l_partkey", "mk")),
                        (offers["l_partkey"] == F.col("mk"))
                        & (offers["l_extendedprice"] == F.col("min_price")))
            .join(F.broadcast(supp), offers["l_suppkey"] == supp["s_suppkey"])
            .join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
            .select("s_acctbal", "n_name", "s_name",
                    F.col("l_partkey").alias("p_partkey"),
                    F.col("l_extendedprice").alias("price"))
            .distinct()
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
            .limit(100))


_H07_SQL = """SELECT supp_nation, cust_nation, l_year,
  CAST(round(sum(CAST(volume AS DECIMAL(28,10))), 4) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1.0 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
) GROUP BY supp_nation, cust_nation, l_year"""


@register("h07_volume_shipping", _H07_SQL)
def h07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: both nation maps broadcast onto supplier/customer (which
    then broadcast onto the facts after their nation filters — each side
    shrinks to 1/25th), so the only real shuffle is lineitem⋈orders; the
    cross-pair predicate is applied post-join as in the spec."""
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pick = nat.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(pick), F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (_t(spark, sf_dir, "customer")
            .join(F.broadcast(pick), F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
            .join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
            .filter(F.col("supp_nation") != F.col("cust_nation"))
            .select("supp_nation", "cust_nation",
                    F.year("l_shipdate").alias("l_year"), vol.alias("volume"))
            .groupBy("supp_nation", "cust_nation", "l_year")
            .agg(F.round(F.sum(F.col("volume").cast("decimal(28,10)"))
                         , 4).cast("double").alias("revenue")))


_H08_SQL = f"""SELECT o_year,
  {XR.round_ratio_sql('num', 'den', 6)} AS mkt_share
FROM (
  SELECT o_year,
    CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                  THEN CAST(volume AS DECIMAL(28,10))
                  ELSE CAST(0 AS DECIMAL(28,10)) END)
         * 10000000000 AS HUGEINT) AS num,
    CAST(sum(CAST(volume AS DECIMAL(28,10)))
         * 10000000000 AS HUGEINT) AS den
  FROM (
    SELECT year(o_orderdate) AS o_year,
           l_extendedprice * (1.0 - l_discount) AS volume,
           n1.n_name AS supp_nation
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region ON n2.n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
  ) GROUP BY o_year
)"""


@register("h08_market_share", _H08_SQL)
def h08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: every dimension (type-filtered part, region-filtered
    customer, nation-tagged supplier) broadcasts, lineitem⋈orders is the
    one fact shuffle, and market share is a conditional/total DECIMAL sum
    pair divided once at the end."""
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cust_nat = (nat.join(F.broadcast(reg),
                         nat["n_regionkey"] == reg["r_regionkey"])
                .select("n_nationkey"))
    cust = (_t(spark, sf_dir, "customer")
            .join(F.broadcast(cust_nat),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey"))
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(nat.select("n_nationkey",
                                         F.col("n_name").alias("supp_nation"))),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "supp_nation"))
    part_f = _t(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY").select("p_partkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem")
    vol = (F.col("l_extendedprice")
           * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(28,10)")
    dec0 = F.lit(0).cast("decimal(28,10)")
    return (li.join(F.broadcast(part_f), li["l_partkey"] == part_f["p_partkey"])
            .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
            .join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
            .select(F.year("o_orderdate").alias("o_year"),
                    vol.alias("volume"), "supp_nation")
            .groupBy("o_year")
            .agg(XR.round_ratio(
                F.sum(F.when(F.col("supp_nation") == "NATION_3",
                             F.col("volume")).otherwise(dec0))
                * F.lit(10000000000),
                F.sum("volume") * F.lit(10000000000), 6)
                .alias("mkt_share")))


_H09_SQL = """SELECT nation, o_year,
  CAST(round(sum(CAST(amount AS DECIMAL(28,10))), 4) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation, year(o_orderdate) AS o_year,
         l_extendedprice * (1.0 - l_discount)
           - p_retailprice * 0.1 * l_quantity AS amount
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) GROUP BY nation, o_year"""


@register("h09_product_type_profit", _H09_SQL)
def h09_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (ps_supplycost stood in by 10% of p_retailprice): the
    name-filtered part prunes the fact early via broadcast, supplier+nation
    broadcast too, orders⋈lineitem is the one shuffle, then a 25×years-key
    aggregate."""
    part_f = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")).select("p_partkey", "p_retailprice")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey",
                                             F.col("n_name").alias("nation"))
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    amount = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
              - F.col("p_retailprice") * F.lit(0.1) * F.col("l_quantity"))
    return (li.join(F.broadcast(part_f), li["l_partkey"] == part_f["p_partkey"])
            .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
            .join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
            .select("nation", F.year("o_orderdate").alias("o_year"),
                    amount.alias("amount"))
            .groupBy("nation", "o_year")
            .agg(F.round(F.sum(F.col("amount").cast("decimal(28,10)"))
                         , 4).cast("double").alias("sum_profit")))


_H12_SQL = """SELECT l_returnflag AS ship_class,
  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END)::BIGINT AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag"""


@register("h12_shipmode_priority", _H12_SQL)
def h12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (l_returnflag stands in for l_shipmode; "shipped ≥60 days
    after order" for receipt-after-commit): one fact join with the date
    filters pushed to the lineitem scan, then a 3-key conditional count."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .filter(F.col("l_shipdate")
                    >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
            .groupBy(F.col("l_returnflag").alias("ship_class"))
            .agg(F.sum(F.when(high, 1).otherwise(0)).cast("long")
                 .alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).cast("long")
                 .alias("low_line_count")))


_H17_SQL = f"""WITH pa AS (
  SELECT l_partkey AS ak,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         count(*)::BIGINT AS cnt
  FROM lineitem GROUP BY 1
)
SELECT {XR.round_ratio_sql('CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) * 100 AS HUGEINT)',
                           '7::HUGEINT * 100', 4)} AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pa ON ak = l_partkey
WHERE p_brand = 'Brand#23' AND p_type = 'SMALL'
  AND 5.0 * l_quantity * cnt < sum_qty"""


@register("h17_small_quantity_revenue", _H17_SQL)
def h17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (p_type='SMALL' stands in for the container filter): the
    per-part average-quantity subquery becomes a broadcast per-part
    aggregate re-joined to the fact.  The threshold "qty < 0.2·avg" is
    algebraically cleared of division (5·qty·cnt < Σqty, all positive) so
    the DECIMAL-exact sum makes the cut bit-identical across engines."""
    li = _t(spark, sf_dir, "lineitem")
    part_f = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "SMALL")
    ).select("p_partkey")
    pa = (li.groupBy(F.col("l_partkey").alias("ak"))
          .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
               .cast("double").alias("sum_qty"),
               F.count(F.lit(1)).cast("long").alias("cnt")))
    return (li.join(F.broadcast(part_f), li["l_partkey"] == part_f["p_partkey"])
            .join(F.broadcast(pa), F.col("ak") == li["l_partkey"])
            .filter(F.lit(5.0) * F.col("l_quantity") * F.col("cnt")
                    < F.col("sum_qty"))
            .agg(XR.round_ratio(
                (F.sum(F.col("l_extendedprice").cast("decimal(28,10)"))
                 * 100).cast("decimal(38,0)"),
                F.lit(700).cast("decimal(38,0)"), 4).alias("avg_yearly")))


_H20_SQL = """WITH shipped AS (
  SELECT l_suppkey, l_partkey,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%red%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
), tot AS (
  SELECT l_partkey AS tk, sum(qty) AS total_qty FROM shipped GROUP BY 1
)
SELECT DISTINCT s_name, n_name
FROM shipped
JOIN tot ON tk = l_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE CAST(qty AS DOUBLE) > 0.3 * CAST(total_qty AS DOUBLE)
ORDER BY s_name"""


@register("h20_part_promotion", _H20_SQL)
def h20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp/availqty: "supplier shipped >30% of the
    part's year volume" stands in for "stock exceeds half the year's
    shipments"): name-filtered part broadcasts into one (supp, part)
    aggregate, the per-part total is a second tiny aggregate of THAT
    result (no second fact scan), and the qualifying pairs semi-join
    supplier."""
    part_f = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    shipped = (li.join(F.broadcast(part_f),
                       li["l_partkey"] == part_f["p_partkey"])
               .groupBy("l_suppkey", "l_partkey")
               .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                    .alias("qty")))
    tot = shipped.groupBy(F.col("l_partkey").alias("tk")).agg(
        F.sum("qty").alias("total_qty"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name",
                                                "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (shipped.join(F.broadcast(tot), F.col("tk") == F.col("l_partkey"))
            .filter(F.col("qty").cast("double")
                    > F.lit(0.3) * F.col("total_qty").cast("double"))
            .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
            .join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
            .select("s_name", "n_name").distinct())


_H21_SQL = """WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY
  GROUP BY 1, 2
), allsup AS (
  SELECT l_orderkey, l_suppkey FROM lineitem GROUP BY 1, 2
)
SELECT s_name, count(*)::BIGINT AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM allsup a
              WHERE a.l_orderkey = l1.l_orderkey
                AND a.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
GROUP BY s_name"""


@register("h21_waiting_suppliers", _H21_SQL)
def h21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 ("shipped >90 days after order" stands in for
    receipt-after-commit): instead of translating the EXISTS pair into a
    semi+anti join (two sort-merge passes over the deduped pair sets),
    both predicates collapse into per-order counts — "another supplier
    exists" ⇔ n_supp > 1, "no other late supplier" ⇔ n_late = 1 for the
    late row itself — so the plan is two small key aggregates whose
    qualifying-order intersection broadcasts back onto the late set."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey",
                                              "l_shipdate")
    # ONE (orderkey, suppkey) aggregate replaces the earlier shape's two
    # distinct() passes (all-pairs + late-pairs): has_late = any line of
    # that supplier in that order shipped >90 days late — identical to
    # the old distinct late set; n_supp/n_late then derive from this
    # pair table with a small second aggregate.  Only F-order pairs are
    # kept, which is equivalence-preserving: the qualifying-order
    # intersection was already inner on the late (hence F-order) side.
    # no broadcast hint on orders: the F-status slice is ~half the orders
    # table and scales with the data — let AQE pick the strategy
    pairs = (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
             .groupBy("l_orderkey", "l_suppkey")
             .agg(F.max(F.when(
                 F.col("l_shipdate")
                 > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"),
                 1).otherwise(0)).alias("__late")))
    # pairs feeds two consumers; deliberately NOT localCheckpoint'd — the
    # recompute is cheaper than hiding the scans' pushdown evidence from
    # the plan audit and losing lineage-based recompute on executor loss
    per_order = pairs.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("__late").alias("n_late"))
    qual = (per_order.filter((F.col("n_supp") > 1)
                             & (F.col("n_late") == 1))
            .select("l_orderkey"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (pairs.filter(F.col("__late") == 1)
            .join(F.broadcast(qual), "l_orderkey", "left_semi")
            .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).cast("long").alias("numwait")))


# ---------------------------------------------------------------------------
# cdc01/cdc02 — CDC primitives (snapshot diff, changelog compaction);
# x03 — unpivot/melt; cube01 — CUBE grouping sets; t23 — BM25 retrieval;
# t24 — vocabulary-coverage (OOV) profile
# ---------------------------------------------------------------------------

_CDC01_SQL = """WITH newv AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 499 = 0
), o AS (
  SELECT o_orderkey, o_totalprice AS old_o_totalprice,
         o_orderstatus AS old_o_orderstatus, 1 AS in_old FROM orders
), n AS (
  SELECT o_orderkey, o_totalprice AS new_o_totalprice,
         o_orderstatus AS new_o_orderstatus, 1 AS in_new FROM newv
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN in_old IS NULL THEN 'added'
            WHEN in_new IS NULL THEN 'removed'
            WHEN old_o_totalprice IS DISTINCT FROM new_o_totalprice
              OR old_o_orderstatus IS DISTINCT FROM new_o_orderstatus
            THEN 'changed' END AS change_type,
       old_o_totalprice, old_o_orderstatus,
       new_o_totalprice, new_o_orderstatus
FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
WHERE (in_old IS NULL OR in_new IS NULL
       OR old_o_totalprice IS DISTINCT FROM new_o_totalprice
       OR old_o_orderstatus IS DISTINCT FROM new_o_orderstatus)"""


@register("cdc01_snapshot_diff", _CDC01_SQL)
def cdc01_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (added/removed/changed) between orders and a
    deterministically perturbed v2 (drops keys ≡0 mod 97, bumps totalprice
    on ≡0 mod 101, appends shifted copies of ≡0 mod 499)."""
    from dataqtor_spark.operators import scd as S

    orders = _t(spark, sf_dir, "orders")
    keep = orders.filter(F.col("o_orderkey") % 97 != 0)
    bumped = keep.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 101 == 0,
               F.col("o_totalprice") + F.lit(1.0))
        .otherwise(F.col("o_totalprice")))
    added = orders.filter(F.col("o_orderkey") % 499 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(100000000))
    newv = bumped.select("o_orderkey", "o_orderstatus", "o_totalprice") \
        .unionByName(added.select("o_orderkey", "o_orderstatus",
                                  "o_totalprice"))
    return S.snapshot_diff(orders, newv, ["o_orderkey"],
                           ["o_totalprice", "o_orderstatus"])


_CDC02_SQL = """SELECT user_id, ts, event_type, value FROM events
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1"""


@register("cdc02_latest_per_key", _CDC02_SQL)
def cdc02_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction: latest event per user — one per-key
    row_number window, no global sort."""
    from dataqtor_spark.operators import scd as S

    ev = _t(spark, sf_dir, "events")
    return S.latest_per_key(ev, ["user_id"], "ts",
                            tiebreak_cols=["event_id"]) \
        .select("user_id", "ts", "event_type", "value")


_X03_SQL = """SELECT 'l_quantity' AS measure, count(l_quantity)::BIGINT AS n,
  CAST(round(sum(CAST(l_quantity AS DECIMAL(28,10))), 4) AS DOUBLE) AS total,
  min(l_quantity) AS min_v, max(l_quantity) AS max_v FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(l_extendedprice)::BIGINT,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,10))), 4) AS DOUBLE),
  min(l_extendedprice), max(l_extendedprice) FROM lineitem
UNION ALL
SELECT 'l_discount', count(l_discount)::BIGINT,
  CAST(round(sum(CAST(l_discount AS DECIMAL(28,10))), 4) AS DOUBLE),
  min(l_discount), max(l_discount) FROM lineitem
UNION ALL
SELECT 'l_tax', count(l_tax)::BIGINT,
  CAST(round(sum(CAST(l_tax AS DECIMAL(28,10))), 4) AS DOUBLE),
  min(l_tax), max(l_tax) FROM lineitem"""


@register("x03_unpivot_measures", _X03_SQL)
def x03_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of the lineitem measures, then one
    aggregate over the long form.  The unpivot is a generate-side
    projection (no shuffle); the 4-key aggregate partial-combines."""
    li = _t(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = li.unpivot([], measures, "measure", "value")
    return long.groupBy("measure").agg(
        F.count("value").cast("long").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(28,10)"))
                , 4).cast("double").alias("total"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"))


_CUBE01_SQL = """SELECT l_returnflag, l_linestatus,
  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
  count(*)::BIGINT AS n,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,10))), 4) AS DOUBLE)
    AS total_price
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""


@register("cube01_returnflag_status", _CUBE01_SQL)
def cube01_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (returnflag, linestatus): all four
    granularities in one pass (Spark expands the cube before the shuffle;
    partial aggregation still applies per grouping set)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(28,10)"))
                , 4).cast("double").alias("total_price"))


_BM25_TERMS = ["spark", "agg", "join"]

_T23_SQL = """WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+'),
                            x -> x <> '')) AS token
  FROM documents
), dl AS (
  SELECT id, count(*)::BIGINT AS dl FROM toks GROUP BY 1
), corpus AS (
  SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_dl FROM dl
), tf AS (
  SELECT id, token, count(*)::BIGINT AS tf FROM toks
  WHERE token IN ('spark', 'agg', 'join') GROUP BY 1, 2
), dfreq AS (
  SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1
), scored AS (
  SELECT id,
         round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * (1.2 + 1.0))
               / (tf + 1.2 * (1.0 - 0.75
                              + 0.75 * dl / (CAST(total_dl AS DOUBLE) / n_docs))),
               8) AS c
  FROM tf JOIN dfreq USING (token) JOIN dl USING (id) CROSS JOIN corpus
)
SELECT id AS doc_id,
       CAST(round(sum(CAST(c AS DECIMAL(28,8))), 4) AS DOUBLE) AS score
FROM scored GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 15"""


@register("t23_bm25_search", _T23_SQL)
def t23_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 for a 3-term query over documents."""
    from dataqtor_spark.operators import textstats as T

    return T.bm25_search(_t(spark, sf_dir, "documents"), _BM25_TERMS,
                         top_k=15)


# --- rrf01 — hybrid retrieval (BM25 + cosine, Reciprocal Rank Fusion) -------
# The fused score is an exact scaled integer floor(num·10¹²/den) over the
# rational 1/(60+r) sums, so the hashed surface is all-integer; the legs
# reuse the t23 BM25 chain and the ann01 6-dp cosine device verbatim.

_RRF_K, _RRF_EACH, _RRF_TOP, _RRF_QVEC = 60, 20, 10, 3

_RRF_HEAD_SPLIT = "SELECT id AS doc_id"
assert _RRF_HEAD_SPLIT in _T23_SQL, "t23 oracle shape changed — rrf01 broken"
_RRF01_SQL = _T23_SQL[:_T23_SQL.index(_RRF_HEAD_SPLIT)].rstrip() + f""",
lexs AS (
  SELECT id, CAST(round(sum(CAST(c AS DECIMAL(28,8))), 4) AS DOUBLE) AS score
  FROM scored GROUP BY 1 ORDER BY score DESC, id LIMIT {_RRF_EACH}
), lex AS (
  SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank_lex
  FROM lexs
), sem AS (
  SELECT neighbor_id AS id, rank AS rank_sem FROM (
    SELECT c.vec_id AS neighbor_id,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(
                 c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) DESC,
                 c.vec_id ASC) AS rank
    FROM embeddings c, embeddings q
    WHERE q.vec_id = {_RRF_QVEC} AND c.vec_id <> q.vec_id)
  WHERE rank <= {_RRF_EACH}
), fused AS (
  SELECT coalesce(l.id, s.id) AS doc_id, rank_lex, rank_sem,
         CASE WHEN rank_lex IS NOT NULL AND rank_sem IS NOT NULL
              THEN {2 * _RRF_K} + rank_lex + rank_sem ELSE 1 END AS num,
         CASE WHEN rank_lex IS NOT NULL AND rank_sem IS NOT NULL
              THEN ({_RRF_K} + rank_lex) * ({_RRF_K} + rank_sem)
              ELSE coalesce({_RRF_K} + rank_lex, {_RRF_K} + rank_sem)
         END AS den
  FROM lex l FULL OUTER JOIN sem s ON l.id = s.id
)
SELECT doc_id, rank_lex, rank_sem, rrf_e12, rank FROM (
  SELECT doc_id, rank_lex, rank_sem,
         (num::HUGEINT * 1000000000000 // den)::BIGINT AS rrf_e12,
         row_number() OVER (
           ORDER BY (num::HUGEINT * 1000000000000 // den) DESC,
                    doc_id)::BIGINT AS rank
  FROM fused)
WHERE rank <= {_RRF_TOP}"""


@register("rrf01_hybrid_search", _RRF01_SQL)
def rrf01_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 + brute-cosine top-20 for query
    vector 3, fused by Reciprocal Rank Fusion on an exact integer
    surface."""
    from dataqtor_spark.operators import textstats as T

    return T.hybrid_rrf_search(
        _t(spark, sf_dir, "documents"), _t(spark, sf_dir, "embeddings"),
        _BM25_TERMS, query_vec_id=_RRF_QVEC, k_each=_RRF_EACH,
        top_k=_RRF_TOP, rrf_k=_RRF_K)


_T24_SQL = """WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+'),
                            x -> x <> '')) AS token
  FROM documents
), voc AS (
  SELECT token FROM (
    SELECT token, count(*) AS n FROM toks GROUP BY 1
    ORDER BY n DESC, token LIMIT 30)
)
SELECT source, count(*)::BIGINT AS n_tokens,
       sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
       round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
             / count(*), 6) AS oov_rate
FROM toks t LEFT JOIN voc v ON t.token = v.token
GROUP BY source"""


@register("t24_oov_rate", _T24_SQL)
def t24_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus top-30
    vocabulary."""
    from dataqtor_spark.operators import textstats as T

    return T.oov_rate(_t(spark, sf_dir, "documents"), vocab_size=30)


# ---------------------------------------------------------------------------
# gap01 — sequence-gap detection; pctl01 — NTILE decile profile;
# mb01 — market-basket co-occurrence; ts02 — resample + forward fill;
# geo01 — haversine nearest city over the S4 lat/lon dimension
# ---------------------------------------------------------------------------

_GAP01_SQL = """WITH k AS (
  SELECT DISTINCT o_orderkey AS k FROM orders
  WHERE o_orderkey IS NOT NULL AND o_orderkey % 97 <> 0
), d AS (
  SELECT k, lag(k) OVER (ORDER BY k) AS pk FROM k
)
SELECT pk + 1 AS gap_start, k - 1 AS gap_end, (k - pk - 1)::BIGINT AS gap_size
FROM d WHERE k - pk > 1"""


@register("gap01_orderkey_gaps", _GAP01_SQL)
def gap01_orderkey_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Islands-and-gaps completeness check on the order key sequence,
    run over a deterministically thinned key set (every 97th key dropped,
    simulating lost batches) so the gap report is non-trivial."""
    return P.sequence_gaps(
        _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 != 0),
        "o_orderkey")


_PCTL01_SQL = """SELECT c_mktsegment, tile, count(*)::BIGINT AS n,
  min(c_acctbal) AS min_v, max(c_acctbal) AS max_v,
  CAST(round(sum(CAST(c_acctbal AS DECIMAL(28,10))), 4) AS DOUBLE) AS total
FROM (
  SELECT c_mktsegment, c_acctbal,
         ntile(10) OVER (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal, c_custkey) AS tile
  FROM customer WHERE c_acctbal IS NOT NULL
) GROUP BY c_mktsegment, tile"""


@register("pctl01_acctbal_deciles", _PCTL01_SQL)
def pctl01_acctbal_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment account-balance deciles (deterministic NTILE via the
    custkey tiebreak)."""
    return P.decile_profile(_t(spark, sf_dir, "customer"), "c_acctbal",
                            "c_mktsegment", "c_custkey", n_tiles=10)


_MB01_SQL = """WITH items AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
  WHERE l_partkey IS NOT NULL
), pairs AS (
  SELECT a.b, a.i AS item_a, c.i AS item_b
  FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
)
SELECT item_a, item_b, count(*)::BIGINT AS n_baskets
FROM pairs GROUP BY 1, 2
ORDER BY n_baskets DESC, item_a, item_b LIMIT 20"""


@register("mb01_copurchase_pairs", _MB01_SQL)
def mb01_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchased part pairs (market-basket support): posting-list
    pair expansion per order, no self-join.

    ``basket_cap=None`` matches the oracle exactly (the d02 parity
    convention): the plain-SQL replay has no hot-basket cap, so a
    >=100k-row dataset with one pathological basket would otherwise
    silently diverge from it.  The OPERATOR default keeps the deferred
    auto guard — that is the production setting; its engagement is
    covered by the skew probe rows, not this graded query."""
    from dataqtor_spark.operators import behavior as B

    return B.copurchase_pairs(_t(spark, sf_dir, "lineitem"),
                              "l_orderkey", "l_partkey", top_k=20,
                              basket_cap=None)


_TS02_SQL = """WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value AS __v
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                             ORDER BY ts DESC, event_id DESC) = 1
), span AS (
  SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events
), grid AS (
  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT DISTINCT user_id FROM events) CROSS JOIN span
)
SELECT g.user_id, CAST(g.day AS TIMESTAMP) AS day,
       last_value(__v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day
                                          ROWS UNBOUNDED PRECEDING) AS value
FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day"""


@register("ts02_resample_ffill", _TS02_SQL)
def ts02_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free daily series per user with forward-filled values."""
    from dataqtor_spark.operators import behavior as B

    out = B.resample_ffill(_t(spark, sf_dir, "events"), "user_id", "ts",
                           "value", "event_id")
    # DATE columns surface as datetime.date in Spark's toPandas but as
    # midnight Timestamps from DuckDB; compare in the common timestamp type
    return out.withColumn("day", F.col("day").cast("timestamp"))


_GEO01_SQL = f"""WITH c AS (
  SELECT city, radians(latitude) AS la, radians(longitude) AS lo
  FROM read_parquet('{_DIMS}/city.parquet')
), pairs AS (
  SELECT a.city AS city_a, b.city AS city_b,
         round(2 * 6371.0 * asin(sqrt(
           pow(sin((b.la - a.la) / 2), 2)
           + cos(a.la) * cos(b.la) * pow(sin((b.lo - a.lo) / 2), 2))), 3)
           AS dist_km
  FROM c a JOIN c b ON a.city <> b.city
)
SELECT city_a, city_b, dist_km, rank FROM (
  SELECT city_a, city_b, dist_km,
         row_number() OVER (PARTITION BY city_a
                            ORDER BY dist_km, city_b) AS rank
  FROM pairs)
WHERE rank <= 1"""


@register("geo01_nearest_city", _GEO01_SQL)
def geo01_nearest_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest neighbor per city by haversine distance over the S4
    lat/lon dimension (pure column trig, broadcast cross join)."""
    from dataqtor_spark.operators import enrich as E

    return E.nearest_city(spark, top_k=1)


# geo02 — geohash density raster.  No driver table carries coordinates,
# so the query derives a deterministic point cloud from customer keys
# (the a23/pr25 device); the oracle replays the full quantize→interleave→
# base-32 bit arithmetic, so the geohash itself is differentially tested.
_GEO02_PRECISION = 3


def _geohash_cell_sql(precision: int) -> tuple[str, int, int]:
    """(cell_expr, nx, ny): the base-32 geohash cell over integer grid
    columns ``x``/``y`` — the SQL twin of ``enrich.geohash``'s bit
    interleave, shared by the geo02 raster and geo03 blocking oracles."""
    from dataqtor_spark.operators.enrich import _GEOHASH_B32

    nbits = 5 * precision
    nx, ny = (nbits + 1) // 2, nbits // 2

    def bit(i: int) -> str:
        if i % 2 == 0:
            return f"((x >> {nx - 1 - i // 2}) & 1)"
        return f"((y >> {ny - 1 - (i - 1) // 2}) & 1)"

    chars = []
    for k in range(precision):
        val = " + ".join(f"{bit(5 * k + j)} * {2 ** (4 - j)}"
                         for j in range(5))
        chars.append(
            f"substring('{_GEOHASH_B32}', CAST(({val}) + 1 AS INT), 1)")
    return " || ".join(chars), nx, ny


def _geo02_oracle_sql(precision: int = _GEO02_PRECISION) -> str:
    cell, nx, ny = _geohash_cell_sql(precision)
    return f"""WITH pts AS (
  SELECT (c_custkey % 17000) / 100.0 - 85.0 AS lat,
         (c_custkey % 35900) / 100.0 - 179.5 AS lng
  FROM customer
), q AS (
  SELECT lat, lng,
         least(CAST(floor((lng + 180.0) / 360.0 * {2 ** nx}) AS BIGINT),
               {2 ** nx - 1}) AS x,
         least(CAST(floor((lat + 90.0) / 180.0 * {2 ** ny}) AS BIGINT),
               {2 ** ny - 1}) AS y
  FROM pts
)
SELECT {cell} AS cell, count(*)::BIGINT AS n,
       round(avg(lat), 4) AS avg_lat, round(avg(lng), 4) AS avg_lng
FROM q GROUP BY 1"""


@register("geo02_geohash_density", _geo02_oracle_sql())
def geo02_geohash_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density raster over geohash cells (pure bit-arithmetic
    encode, no UDF): the blocking key that turns scale geo joins into
    prefix equi-joins.  Point cloud derived deterministically from
    customer keys; the oracle replays the quantize→interleave→base-32
    pipeline bit for bit."""
    from dataqtor_spark.operators import enrich as E

    pts = _t(spark, sf_dir, "customer").select(
        ((F.col("c_custkey") % 17000) / 100.0 - 85.0).alias("lat"),
        ((F.col("c_custkey") % 35900) / 100.0 - 179.5).alias("lng"))
    return E.geohash_density(pts, "lat", "lng",
                             precision=_GEO02_PRECISION)


# ---------------------------------------------------------------------------
# r16–r19 — rules v2: conditional cross-column rule, composite-key
# uniqueness, freshness, per-group completeness
# ---------------------------------------------------------------------------

_R16_SQL = """SELECT o_orderstatus,
  count(*)::BIGINT AS n_violations
FROM orders
WHERE COALESCE(o_orderpriority = '1-URGENT', FALSE)
  AND COALESCE(NOT (o_totalprice >= 50000.0), FALSE)
GROUP BY o_orderstatus"""


@register("r16_conditional_rule", _R16_SQL)
def r16_conditional_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-column implication: urgent orders must be worth ≥ 50k;
    violations counted by status."""
    orders = _t(spark, sf_dir, "orders")
    r = R.rule_conditional(
        "urgent_value", F.col("o_orderpriority") == "1-URGENT",
        F.col("o_totalprice") >= 50000.0)
    return (r.violations(orders).groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).cast("long").alias("n_violations")))


_R17_SQL = """SELECT l_orderkey, l_linenumber, count(*)::BIGINT AS n_rows
FROM lineitem
WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
GROUP BY 1, 2 HAVING count(*) > 1"""


@register("r17_unique_key_rule", _R17_SQL)
def r17_unique_key_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key uniqueness expectation on (orderkey, linenumber)."""
    return R.unique_key_violations(_t(spark, sf_dir, "lineitem"),
                                   ["l_orderkey", "l_linenumber"])


_R18_SQL = """SELECT event_type,
  max(CAST(ts AS TIMESTAMP)) AS latest_ts,
  round((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
         - epoch_us(max(CAST(ts AS TIMESTAMP)))) / 3600000000.0, 4)
    AS lag_hours,
  round((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
         - epoch_us(max(CAST(ts AS TIMESTAMP)))) / 3600000000.0, 4) > 36.0
    AS is_stale
FROM events GROUP BY event_type"""


@register("r18_freshness_check", _R18_SQL)
def r18_freshness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type freshness against a fixed as-of time (36 h SLA)."""
    import datetime as _dt

    return R.freshness_check(_t(spark, sf_dir, "events"), "ts",
                             "event_type",
                             _dt.datetime(2024, 2, 1), 36.0)


_R19_SQL = """SELECT c_mktsegment, count(*)::BIGINT AS total_records,
  sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_records,
  round(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) * 100.0
        / count(*), 2) AS null_pct
FROM customer GROUP BY c_mktsegment"""


@register("r19_group_completeness", _R19_SQL)
def r19_group_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-rate of acctbal sliced by market segment."""
    return R.group_completeness(_t(spark, sf_dir, "customer"),
                                "c_acctbal", "c_mktsegment")


# ---------------------------------------------------------------------------
# sg01 — constraint suggestion (profile → proposed expectation suite)
# ---------------------------------------------------------------------------

_SG01_COLS = [("c_custkey", True), ("c_name", False), ("c_nationkey", True),
              ("c_acctbal", True), ("c_mktsegment", False)]


def _sg01_oracle() -> str:
    stats = ["count(*) AS n"]
    for c, isnum in _SG01_COLS:
        stats.append(f"count({c}) AS f_{c}")
        stats.append(f"count(DISTINCT {c}) AS nd_{c}")
        if isnum:
            stats.append(f"min({c}) AS min_{c}")
            stats.append(f"max({c}) AS max_{c}")
    parts = []
    for c, isnum in _SG01_COLS:
        sup = f"round(f_{c} / n, 4)"
        row = (f"SELECT '{c}' AS \"column\", '{{k}}' AS \"constraint\", "
               f"{{p}} AS param, {sup} AS support FROM s WHERE {{w}}")
        parts += [
            row.format(k="not_null", p="0.0", w=f"n - f_{c} = 0"),
            row.format(k="complete_ge", p=sup,
                       w=f"n - f_{c} > 0 AND {sup} >= 0.95"),
            row.format(k="unique", p="0.0", w=f"f_{c} > 0 AND nd_{c} = f_{c}"),
            row.format(k="isin", p=f"CAST(nd_{c} AS DOUBLE)",
                       w=f"nd_{c} > 0 AND nd_{c} <= 10"),
        ]
        if isnum:
            parts.append(row.format(k="min_ge", p=f"CAST(min_{c} AS DOUBLE)",
                                    w=f"f_{c} > 0"))
            parts.append(row.format(k="max_le", p=f"CAST(max_{c} AS DOUBLE)",
                                    w=f"f_{c} > 0"))
    return ("WITH s AS (SELECT " + ", ".join(stats) + " FROM customer)\n"
            + "\nUNION ALL\n".join(parts))


@register("sg01_suggest_constraints", _sg01_oracle())
def sg01_suggest_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint suggestion over customer: one wide profile
    aggregate proposing not-null/completeness/uniqueness/domain/bounds
    expectations, ready to re-assert as rules on the next batch."""
    return P.suggest_constraints(
        _t(spark, sf_dir, "customer"), [c for c, _ in _SG01_COLS])


_BPE01_SQL = """WITH t AS (
  SELECT list_filter(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+'),
                     x -> x <> '') AS l
  FROM documents
), p AS (
  SELECT unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS pr
  FROM t WHERE len(l) > 1
)
SELECT pr[1] AS tok_a, pr[2] AS tok_b, count(*)::BIGINT AS n
FROM p GROUP BY 1, 2
ORDER BY n DESC, tok_a, tok_b LIMIT 20"""


@register("bpe01_merge_candidates", _BPE01_SQL)
def bpe01_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent token pairs (the BPE merge-round statistic)."""
    from dataqtor_spark.operators import textstats as T

    return T.bpe_merge_candidates(_t(spark, sf_dir, "documents"), top_k=20)


# ---------------------------------------------------------------------------
# pr19 — correlation ratio η²; pr20 — χ² independence; s10 — windowed top-k
# ---------------------------------------------------------------------------

_PR19_SQL = """WITH g AS (
  SELECT c_mktsegment, count(*)::BIGINT AS n,
         sum(CAST(c_acctbal AS DECIMAL(28,6))) AS s,
         sum(CAST(round(CAST(c_acctbal AS DOUBLE) * c_acctbal, 6)
                  AS DECIMAL(28,6))) AS ss
  FROM customer
  WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL
  GROUP BY 1
), t AS (
  SELECT sum(n) AS N,
         CAST(sum(s) AS DOUBLE) AS S,
         CAST(sum(ss) AS DOUBLE) AS SS,
         CAST(sum(CAST(round(pow(CAST(s AS DOUBLE), 2) / n, 6)
                       AS DECIMAL(28,6))) AS DOUBLE) AS BG
  FROM g
)
SELECT CAST(N AS BIGINT) AS n_rows,
       round((BG - pow(S, 2) / N) / (SS - pow(S, 2) / N), 6) AS eta_squared
FROM t"""


@register("pr19_eta_squared_acctbal", _PR19_SQL)
def pr19_eta_squared_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation ratio of acctbal across market segments."""
    return P.correlation_ratio(_t(spark, sf_dir, "customer"),
                               "c_acctbal", "c_mktsegment")


_PR20_SQL = """WITH ct AS (
  SELECT o_orderstatus AS a, o_orderpriority AS b, count(*)::BIGINT AS o
  FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
  GROUP BY 1, 2
), cells AS (
  SELECT a, b, o,
         CAST(sum(o) OVER (PARTITION BY a) AS DOUBLE)
           * sum(o) OVER (PARTITION BY b) / sum(o) OVER () AS e
  FROM ct
)
SELECT CAST(round(sum(CAST(round((o - e) * (o - e) / e, 8)
                          AS DECIMAL(28,8))), 4) AS DOUBLE) AS chi2,
       ((SELECT count(DISTINCT a) FROM ct) - 1)::BIGINT
         * ((SELECT count(DISTINCT b) FROM ct) - 1)::BIGINT AS dof
FROM cells"""


@register("pr20_chi2_status_priority", _PR20_SQL)
def pr20_chi2_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence statistic for order status × priority."""
    return P.chi_squared_stat(_t(spark, sf_dir, "orders"),
                              "o_orderstatus", "o_orderpriority")


_S10_SQL = """WITH w AS (
  SELECT time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
         event_type, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n, rank FROM (
  SELECT window_start, event_type, n,
         row_number() OVER (PARTITION BY window_start
                            ORDER BY n DESC, event_type) AS rank
  FROM w)
WHERE rank <= 3"""


@register("s10_windowed_topk", _S10_SQL)
def s10_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending event types: top-3 per 6-hour tumbling window."""
    from dataqtor_spark.streaming import profiler as SP

    return SP.windowed_topk(_t(spark, sf_dir, "events"),
                            window="6 hours", k=3)


_O07_SQL = """WITH cuts AS (
  SELECT quantile_cont(c_acctbal, 0.05) AS lo,
         quantile_cont(c_acctbal, 0.95) AS hi
  FROM customer
)
SELECT count(*)::BIGINT AS n_kept,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(28,10))) / count(*)
                 , 6) AS DOUBLE) AS trimmed_mean
FROM customer, cuts WHERE c_acctbal BETWEEN lo AND hi"""


@register("o07_trimmed_mean_acctbal", _O07_SQL)
def o07_trimmed_mean_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5–95% trimmed mean of customer account balance."""
    return P.trimmed_mean(_t(spark, sf_dir, "customer"), "c_acctbal")


_A20_COLS = ["c_name", "c_nationkey", "c_mktsegment"]

_A20_SQL = ("WITH pairs AS (\n"
            + "\n  UNION ALL\n".join(
                f"""  SELECT '{c}' AS "column", CAST({c} AS VARCHAR) AS value
  FROM customer WHERE {c} IS NOT NULL""" for c in _A20_COLS)
            + """
), counts AS (
  SELECT "column", value, count(*)::BIGINT AS n FROM pairs GROUP BY 1, 2
), tot AS (
  SELECT "column", sum(n) AS t FROM counts GROUP BY 1
), best AS (
  SELECT "column", value AS mode_value, n,
         row_number() OVER (PARTITION BY "column"
                            ORDER BY n DESC, value) AS rk
  FROM counts
)
SELECT b."column", mode_value, n, round(n / t, 6) AS share
FROM best b JOIN tot USING ("column") WHERE rk = 1""")


@register("a20_column_modes", _A20_SQL)
def a20_column_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column mode (most frequent value, smallest-value tiebreak)."""
    return P.column_modes(_t(spark, sf_dir, "customer"), _A20_COLS)


def e03_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-component projection of the embeddings table
    (mapInPandas scatter-matrix partials + driver power iteration).
    RETIRED from the registry (VERDICT.md r7, task 6): the power-iteration
    float path is inherently non-SQL-replayable, so it sat rows-only;
    ``e03b_pca2_closed_form`` is the hash-checkable registry query and the
    operator itself stays unit-tested (variance capture + determinism,
    tests/test_gaps_basket_geo.py) and importable here for callers."""
    from dataqtor_spark.operators import embeddings as E

    proj, _info = E.pca_top_component(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", n_iter=50)
    return proj


_E03B_SQL = """WITH src AS (
  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
         CAST(embedding[2] AS DOUBLE) AS y
  FROM embeddings
  WHERE embedding[1] IS NOT NULL AND embedding[2] IS NOT NULL
), m AS (
  SELECT avg(x) AS mx, avg(y) AS my, var_pop(x) AS vx, var_pop(y) AS vy,
         covar_pop(x, y) AS cxy
  FROM src
), lm AS (
  SELECT src.*, m.*,
         (vx + vy) / 2
           + sqrt(((vx - vy) / 2) * ((vx - vy) / 2) + cxy * cxy) AS lam
  FROM src, m
), u AS (
  SELECT *,
    CASE WHEN cxy * cxy > 1e-18 * vx * vy
         THEN abs(cxy) / sqrt(cxy * cxy + (lam - vx) * (lam - vx))
         WHEN vx >= vy THEN 1.0 ELSE 0.0 END AS u1,
    CASE WHEN cxy * cxy > 1e-18 * vx * vy
         THEN sign(cxy) * (lam - vx)
              / sqrt(cxy * cxy + (lam - vx) * (lam - vx))
         WHEN vx >= vy THEN 0.0 ELSE 1.0 END AS u2
  FROM lm
)
SELECT vec_id, round((x - mx) * u1 + (y - my) * u2, 4) AS pc1 FROM u"""


@register("e03b_pca2_closed_form", _E03B_SQL)
def e03b_pca2_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable PCA companion to e03: project embedding dims 0–1
    onto the ANALYTIC top eigenvector of their 2×2 covariance (same
    closed-form device as mv01's Σ⁻¹) — pure expressions on both
    engines, so the full d-dimensional power-iteration path in e03 has a
    differentially-tested exemplar of its centering/projection algebra."""
    from dataqtor_spark.operators import embeddings as E

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.try_element_at(F.col("embedding"), F.lit(1)).alias("e0"),
        F.try_element_at(F.col("embedding"), F.lit(2)).alias("e1"))
    return E.pca2_closed_form(emb, "vec_id", "e0", "e1")


_G02_SQL = """WITH e AS (
  SELECT DISTINCT least(l_partkey, p2) AS a, greatest(l_partkey, p2) AS b
  FROM (
    SELECT x.l_partkey, y.l_partkey AS p2
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  )
)
SELECT count(*)::BIGINT AS n_triangles
FROM e e1
JOIN e e2 ON e1.b = e2.a
JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b"""


@register("g02_triangle_count", _G02_SQL)
def g02_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the co-purchase graph (parts co-occurring in an
    order are connected)."""
    from dataqtor_spark.operators import behavior as B

    li = _t(spark, sf_dir, "lineitem")
    pairs = (li.select("l_orderkey", "l_partkey").distinct().alias("x")
             .join(li.select(F.col("l_orderkey").alias("ok"),
                             F.col("l_partkey").alias("p2")).distinct(),
                   (F.col("l_orderkey") == F.col("ok"))
                   & (F.col("l_partkey") < F.col("p2")))
             .select(F.col("l_partkey").alias("src"),
                     F.col("p2").alias("dst")))
    return B.triangle_count(pairs)


# ---------------------------------------------------------------------------
# b06 — RFM segmentation; pareto01 — revenue concentration (80/20)
# ---------------------------------------------------------------------------

_B06_SQL = """WITH per_user AS (
  SELECT user_id,
         date_diff('day', CAST(max(ts) AS DATE), DATE '2024-02-01')::INT
           AS recency_days,
         count(*)::BIGINT AS frequency,
         sum(CAST(value AS DECIMAL(18,2))) AS m
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
)
SELECT user_id, recency_days, frequency,
       CAST(round(m, 2) AS DOUBLE) AS monetary,
       ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
       ntile(5) OVER (ORDER BY frequency ASC, user_id) AS f_score,
       ntile(5) OVER (ORDER BY m ASC, user_id) AS m_score,
       concat(ntile(5) OVER (ORDER BY recency_days DESC, user_id),
              ntile(5) OVER (ORDER BY frequency ASC, user_id),
              ntile(5) OVER (ORDER BY m ASC, user_id)) AS segment
FROM per_user"""


@register("b06_rfm_segments", _B06_SQL)
def b06_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation of purchase events as of 2024-02-01."""
    import datetime as _dt

    from dataqtor_spark.operators import behavior as B

    return B.rfm_segments(_t(spark, sf_dir, "events"),
                          _dt.date(2024, 2, 1), event_filter="purchase")


_PARETO01_SQL = """WITH per_key AS (
  SELECT l_partkey AS k,
         sum(CAST(l_extendedprice * (1.0 - l_discount)
                  AS DECIMAL(28,10))) AS rev
  FROM lineitem GROUP BY 1
), scored AS (
  SELECT k, rev,
         CAST(sum(rev) OVER (ORDER BY rev DESC, k
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / CAST(sum(rev) OVER () AS DOUBLE) AS cum_share,
         CAST(coalesce(sum(rev) OVER (ORDER BY rev DESC, k
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS DOUBLE)
           / CAST(sum(rev) OVER () AS DOUBLE) AS prev_share
  FROM per_key
)
SELECT count(*)::BIGINT AS n_keys,
       sum(CASE WHEN prev_share < 0.8 THEN 1 ELSE 0 END)::BIGINT
         AS n_keys_to_threshold,
       round(min(cum_share), 6) AS top_key_share
FROM scored"""


@register("pareto01_revenue_concentration", _PARETO01_SQL)
def pareto01_revenue_concentration(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """80/20 diagnosis: parts carrying 80% of discounted revenue."""
    from dataqtor_spark.operators import behavior as B

    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return B.pareto_concentration(_t(spark, sf_dir, "lineitem"),
                                  "l_partkey", rev, threshold=0.8)


# ---------------------------------------------------------------------------
# rr01 — hierarchical rollup with ratio-to-parent; cep01 — time-bound
# sequence pattern matching (CEP)
# ---------------------------------------------------------------------------

# ratio-to-parent via self-joins on the rollup result (deterministic, no
# engine-specific grouping-window interplay)
_RR01_SQL = f"""WITH base AS (
  SELECT r_name, n_name,
         CAST(GROUPING(r_name) AS INT) AS g_r,
         CAST(GROUPING(n_name) AS INT) AS g_n,
         sum(CAST(o_totalprice AS DECIMAL(28,10))) AS rev,
         count(*)::BIGINT AS n_orders
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY ROLLUP (r_name, n_name)
)
SELECT b.r_name, b.n_name, b.g_r, b.g_n, b.n_orders,
       CAST(round(b.rev, 4) AS DOUBLE) AS revenue,
       CASE WHEN p.rev IS NOT NULL THEN
         {XR.round_ratio_sql('CAST(b.rev * 10000000000 AS HUGEINT)',
                             'CAST(p.rev * 10000000000 AS HUGEINT)', 6)}
       END AS share_of_parent
FROM base b
LEFT JOIN base p
  ON (b.g_n = 0 AND b.g_r = 0 AND p.g_n = 1 AND p.g_r = 0
      AND p.r_name = b.r_name)
  OR (b.g_n = 1 AND b.g_r = 0 AND p.g_n = 1 AND p.g_r = 1)"""


@register("rr01_region_nation_rollup", _RR01_SQL)
def rr01_region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical revenue rollup (region → nation → grand total) with
    each row's share of its parent level: one ROLLUP pass over the fact
    (dims broadcast), then a self-join of the tiny rollup table to
    attach parent totals — no second fact scan."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name",
                                             "n_regionkey")
    reg = _t(spark, sf_dir, "region")
    base = (orders
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
            .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
            .rollup("r_name", "n_name")
            .agg(F.grouping("r_name").cast("int").alias("g_r"),
                 F.grouping("n_name").cast("int").alias("g_n"),
                 F.sum(F.col("o_totalprice").cast("decimal(28,10)"))
                 .alias("rev"),
                 F.count(F.lit(1)).cast("long").alias("n_orders")))
    p = base.select(F.col("r_name").alias("p_r"), F.col("g_r").alias("p_gr"),
                    F.col("g_n").alias("p_gn"), F.col("rev").alias("p_rev"))
    nation_parent = ((F.col("g_n") == 0) & (F.col("g_r") == 0)
                     & (F.col("p_gn") == 1) & (F.col("p_gr") == 0)
                     & (F.col("p_r") == F.col("r_name")))
    region_parent = ((F.col("g_n") == 1) & (F.col("g_r") == 0)
                     & (F.col("p_gn") == 1) & (F.col("p_gr") == 1))
    return (base.join(F.broadcast(p), nation_parent | region_parent, "left")
            .select("r_name", "n_name", "g_r", "g_n", "n_orders",
                    F.round(F.col("rev"), 4).cast("double").alias("revenue"),
                    F.when(F.col("p_rev").isNotNull(), XR.round_ratio(
                        F.col("rev") * F.lit(10000000000),
                        F.col("p_rev") * F.lit(10000000000), 6))
                    .alias("share_of_parent")))


_CEP01_SQL = """WITH seq AS (
  SELECT user_id, event_type AS e1, ts AS t1,
         lead(event_type, 1) OVER w AS e2, lead(ts, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS e3, lead(ts, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, count(*)::BIGINT AS n_matches
FROM seq
WHERE e1 = 'view' AND e2 = 'click' AND e3 = 'purchase'
  AND t3 <= t1 + INTERVAL 12 HOUR
GROUP BY user_id"""


@register("cep01_sequence_match", _CEP01_SQL)
def cep01_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern: strictly-consecutive view→click→purchase within 12
    hours, counted per user.  Two leads inside the per-user window
    (parallel across users) — the pattern predicate is a pure row filter
    after the window, so no joins and one shuffle on user_id."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", F.col("event_type").alias("e1"), F.col("ts").alias("t1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        F.lead("ts", 2).over(w).alias("t3"))
    return (seq.filter((F.col("e1") == "view") & (F.col("e2") == "click")
                       & (F.col("e3") == "purchase")
                       & (F.col("t3")
                          <= F.col("t1") + F.expr("INTERVAL 12 HOUR")))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_matches")))


# ---------------------------------------------------------------------------
# s11 — session bounce rate; b07 — time-to-convert percentiles
# ---------------------------------------------------------------------------

_S11_SQL = """WITH x AS (SELECT user_id, ts,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL '30 minutes'
             THEN 1 ELSE 0 END AS new_s
      FROM events),
y AS (SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM x),
s AS (SELECT user_id, sid, min(ts) AS session_start,
             count(*)::BIGINT AS n_events
      FROM y GROUP BY user_id, sid)
SELECT CAST(session_start AS DATE) AS day,
       count(*)::BIGINT AS n_sessions,
       sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounces,
       round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) / count(*), 6)
         AS bounce_rate
FROM s GROUP BY 1"""


@register("s11_session_bounce_rate", _S11_SQL)
def s11_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of 30-minute-gap sessions containing a
    single event.  Builds on the unified sessionizer — one shuffle on
    user, then an aggregate over the (small) session table."""
    sess = SP.sessionize(_t(spark, sf_dir, "events"), "ts", "user_id",
                         "30 minutes")
    one = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (sess.groupBy(F.to_date("session_start").alias("day"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"),
                 one.cast("long").alias("n_bounces"),
                 F.round(one / F.count(F.lit(1)), 6).alias("bounce_rate"))
            .withColumn("day", F.col("day").cast("timestamp")))


_B07_SQL = """WITH s AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY 1
), p AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s.t0
  GROUP BY 1
), d AS (
  SELECT (epoch_us(t1) - epoch_us(t0)) / 1000000.0 AS secs
  FROM s JOIN p ON s.user_id = p.user_id
)
SELECT count(*)::BIGINT AS n_converted,
       round(quantile_cont(secs, 0.25), 4) AS p25_s,
       round(quantile_cont(secs, 0.5), 4) AS p50_s,
       round(quantile_cont(secs, 0.75), 4) AS p75_s
FROM d"""


@register("b07_time_to_convert", _B07_SQL)
def b07_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→first-purchase latency percentiles: two per-user min
    aggregates joined on the user key (sort-merge on an already-
    clustered key at scale), exact-µs seconds, exact percentiles."""
    ev = _t(spark, sf_dir, "events")
    s = (ev.filter(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("t0")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", F.col("ts").alias("pt"))
         .join(s, "user_id")
         .filter(F.col("pt") > F.col("t0"))
         .groupBy("user_id").agg(F.min("pt").alias("t1"),
                                 F.first("t0").alias("t0")))
    secs = ((F.unix_micros(F.col("t1").cast("timestamp"))
             - F.unix_micros(F.col("t0").cast("timestamp")))
            / F.lit(1e6))
    d = p.select(secs.alias("secs"))
    return d.agg(F.count(F.lit(1)).cast("long").alias("n_converted"),
                 F.round(F.expr("percentile(secs, 0.25)"), 4).alias("p25_s"),
                 F.round(F.expr("percentile(secs, 0.5)"), 4).alias("p50_s"),
                 F.round(F.expr("percentile(secs, 0.75)"), 4).alias("p75_s"))


# ---------------------------------------------------------------------------
# a21 — duplicate-column detection; fd02 — inclusion-dependency discovery
# ---------------------------------------------------------------------------

_A21_SQL = """WITH t AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         c_nationkey AS nation_copy FROM customer
)
SELECT 'c_custkey' AS col_a, 'c_nationkey' AS col_b,
       count(*)::BIGINT AS n_rows,
       sum(CASE WHEN CAST(c_custkey AS VARCHAR) IS NOT DISTINCT FROM
                     CAST(c_nationkey AS VARCHAR) THEN 1 ELSE 0 END)::BIGINT
         AS n_equal,
       round(sum(CASE WHEN CAST(c_custkey AS VARCHAR) IS NOT DISTINCT FROM
                           CAST(c_nationkey AS VARCHAR)
                      THEN 1 ELSE 0 END) / count(*), 6) AS equal_rate
FROM t
UNION ALL
SELECT 'c_custkey', 'c_mktsegment', count(*)::BIGINT,
       sum(CASE WHEN CAST(c_custkey AS VARCHAR) IS NOT DISTINCT FROM
                     c_mktsegment THEN 1 ELSE 0 END)::BIGINT,
       round(sum(CASE WHEN CAST(c_custkey AS VARCHAR) IS NOT DISTINCT FROM
                           c_mktsegment THEN 1 ELSE 0 END) / count(*), 6)
FROM t
UNION ALL
SELECT 'c_custkey', 'nation_copy', count(*)::BIGINT,
       sum(CASE WHEN CAST(c_custkey AS VARCHAR) IS NOT DISTINCT FROM
                     CAST(nation_copy AS VARCHAR) THEN 1 ELSE 0 END)::BIGINT,
       round(sum(CASE WHEN CAST(c_custkey AS VARCHAR) IS NOT DISTINCT FROM
                           CAST(nation_copy AS VARCHAR)
                      THEN 1 ELSE 0 END) / count(*), 6)
FROM t
UNION ALL
SELECT 'c_nationkey', 'c_mktsegment', count(*)::BIGINT,
       sum(CASE WHEN CAST(c_nationkey AS VARCHAR) IS NOT DISTINCT FROM
                     c_mktsegment THEN 1 ELSE 0 END)::BIGINT,
       round(sum(CASE WHEN CAST(c_nationkey AS VARCHAR) IS NOT DISTINCT FROM
                           c_mktsegment THEN 1 ELSE 0 END) / count(*), 6)
FROM t
UNION ALL
SELECT 'c_nationkey', 'nation_copy', count(*)::BIGINT,
       sum(CASE WHEN CAST(c_nationkey AS VARCHAR) IS NOT DISTINCT FROM
                     CAST(nation_copy AS VARCHAR) THEN 1 ELSE 0 END)::BIGINT,
       round(sum(CASE WHEN CAST(c_nationkey AS VARCHAR) IS NOT DISTINCT FROM
                           CAST(nation_copy AS VARCHAR)
                      THEN 1 ELSE 0 END) / count(*), 6)
FROM t
UNION ALL
SELECT 'c_mktsegment', 'nation_copy', count(*)::BIGINT,
       sum(CASE WHEN c_mktsegment IS NOT DISTINCT FROM
                     CAST(nation_copy AS VARCHAR) THEN 1 ELSE 0 END)::BIGINT,
       round(sum(CASE WHEN c_mktsegment IS NOT DISTINCT FROM
                           CAST(nation_copy AS VARCHAR)
                      THEN 1 ELSE 0 END) / count(*), 6)
FROM t"""


@register("a21_duplicate_columns", _A21_SQL)
def a21_duplicate_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-redundancy profile over customer plus a simulated ETL
    duplicate (nation_copy = c_nationkey), which the 1.0 equal-rate pair
    flags."""
    t = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        F.col("c_nationkey").alias("nation_copy"))
    return P.duplicate_columns(t)


_FD02_SQL = """SELECT 'orders.o_custkey -> customer.c_custkey' AS dependency,
  (SELECT count(DISTINCT o_custkey) FROM orders
   WHERE o_custkey IS NOT NULL)::BIGINT AS n_child_distinct,
  (SELECT count(*) FROM
    (SELECT DISTINCT o_custkey FROM orders WHERE o_custkey IS NOT NULL) c
   WHERE NOT EXISTS (SELECT 1 FROM customer
                     WHERE c_custkey = c.o_custkey))::BIGINT AS n_missing
UNION ALL
SELECT 'customer.c_custkey -> orders.o_custkey',
  (SELECT count(DISTINCT c_custkey) FROM customer
   WHERE c_custkey IS NOT NULL)::BIGINT,
  (SELECT count(*) FROM
    (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey IS NOT NULL) c
   WHERE NOT EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c.c_custkey))::BIGINT
UNION ALL
SELECT 'lineitem.l_partkey -> part.p_partkey',
  (SELECT count(DISTINCT l_partkey) FROM lineitem
   WHERE l_partkey IS NOT NULL)::BIGINT,
  (SELECT count(*) FROM
    (SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey IS NOT NULL) c
   WHERE NOT EXISTS (SELECT 1 FROM part
                     WHERE p_partkey = c.l_partkey))::BIGINT"""


@register("fd02_inclusion_dependencies", _FD02_SQL)
def fd02_inclusion_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK-candidate discovery across the star schema: distinct-reduced
    anti-join containment for three directed column pairs."""
    cands = [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_custkey", "orders", "o_custkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
    ]
    out = None
    for ct, cc, pt, pc in cands:
        r = P.inclusion_dependency(_t(spark, sf_dir, ct), cc,
                                   _t(spark, sf_dir, pt), pc)
        r = r.select(F.lit(f"{ct}.{cc} -> {pt}.{pc}").alias("dependency"),
                     "n_child_distinct", "n_missing")
        out = r if out is None else out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# s12 — windowed distinct users; a22 — whitespace/encoding anomaly profile;
# clv01 — cumulative per-user revenue (CLV curve)
# ---------------------------------------------------------------------------

_S12_SQL = """SELECT time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP))
         AS window_start,
       count(DISTINCT user_id)::BIGINT AS n_users,
       count(*)::BIGINT AS n_events
FROM events GROUP BY 1"""


@register("s12_windowed_distinct_users", _S12_SQL)
def s12_windowed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active users per 6-hour window (exact here and in the
    oracle; in streaming swap count_distinct for approx_count_distinct —
    HLL state merges per window, bounded by windows-in-flight)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.window(F.col("ts"), "6 hours").alias("w"))
            .agg(F.count_distinct("user_id").cast("long").alias("n_users"),
                 F.count(F.lit(1)).cast("long").alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "n_users",
                    "n_events"))


_A22_COLS = ["c_name", "c_mktsegment"]

_A22_SQL = "\nUNION ALL\n".join(f"""SELECT '{c}' AS "column",
  sum(CASE WHEN {c} <> trim({c}) THEN 1 ELSE 0 END)::BIGINT
    AS n_untrimmed,
  sum(CASE WHEN {c} LIKE '%  %' THEN 1 ELSE 0 END)::BIGINT
    AS n_multispace,
  sum(CASE WHEN regexp_matches({c}, '[^\\x00-\\x7F]') THEN 1 ELSE 0 END)::BIGINT
    AS n_non_ascii,
  sum(CASE WHEN {c} = '' THEN 1 ELSE 0 END)::BIGINT AS n_empty
FROM customer WHERE {c} IS NOT NULL""" for c in _A22_COLS)


@register("a22_whitespace_profile", _A22_SQL)
def a22_whitespace_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/encoding anomaly profile per string column (untrimmed,
    multi-space, non-ASCII, empty counts) — the invisible-character
    findings behind most "two identical values don't join" bugs.  One
    fused aggregate for all columns, same single-scan shape as A3."""
    df = _t(spark, sf_dir, "customer")
    aggs = []
    for c in _A22_COLS:
        col = F.col(c)
        nn = col.isNotNull()
        aggs += [
            F.sum((nn & (col != F.trim(col))).cast("long"))
            .alias(f"__untrim_{c}"),
            F.sum((nn & col.contains("  ")).cast("long"))
            .alias(f"__multi_{c}"),
            F.sum((nn & col.rlike("[^\\x00-\\x7F]")).cast("long"))
            .alias(f"__nonascii_{c}"),
            F.sum((nn & (col == "")).cast("long")).alias(f"__empty_{c}"),
        ]
    one = df.agg(*aggs)
    structs = [F.struct(
        F.lit(c).alias("column"),
        F.col(f"__untrim_{c}").alias("n_untrimmed"),
        F.col(f"__multi_{c}").alias("n_multispace"),
        F.col(f"__nonascii_{c}").alias("n_non_ascii"),
        F.col(f"__empty_{c}").alias("n_empty")) for c in _A22_COLS]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


_CLV01_SQL = """WITH weekly AS (
  SELECT user_id,
         date_diff('day', TIMESTAMP '2024-01-01', CAST(ts AS TIMESTAMP))
           // 7 AS week,
         sum(CAST(value AS DECIMAL(18,2))) AS wk_rev
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT user_id, CAST(week AS INT) AS week,
       CAST(round(sum(wk_rev) OVER (PARTITION BY user_id ORDER BY week
                                    ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE)
         AS cum_revenue
FROM weekly"""


@register("clv01_cumulative_revenue", _CLV01_SQL)
def clv01_cumulative_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value curve: weekly purchase revenue per user,
    accumulated along the user's own timeline (per-user window, DECIMAL
    sums; weeks are day-offset based so no engine week-start drift)."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase")
    week = (F.datediff(F.to_date("ts"),
                       F.lit("2024-01-01").cast("date"))
            / 7).cast("int")
    weekly = (ev.groupBy("user_id", week.alias("week"))
              .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                   .alias("wk_rev")))
    w = (Window.partitionBy("user_id").orderBy("week")
         .rowsBetween(Window.unboundedPreceding, 0))
    return weekly.select(
        "user_id", F.col("week").cast("int").alias("week"),
        F.round(F.sum("wk_rev").over(w), 2).cast("double")
        .alias("cum_revenue"))


# ---------------------------------------------------------------------------
# f14 — locale number parsing; a23 — date-format sniffing
# ---------------------------------------------------------------------------

_F14_SQL = """WITH t AS (
  SELECT o_orderkey,
         concat(CAST(CAST(floor(o_totalprice) AS BIGINT) // 1000 AS VARCHAR), '.',
                lpad(CAST(CAST(floor(o_totalprice) AS BIGINT) % 1000 AS VARCHAR),
                     3, '0'), ',', '25') AS tr_num
  FROM orders WHERE o_totalprice >= 1000 AND o_totalprice IS NOT NULL
)
SELECT o_orderkey, tr_num,
       try_cast(replace(replace(tr_num, '.', ''), ',', '.') AS DOUBLE)
         AS tr_num_parsed
FROM t"""


@register("f14_locale_number_parse", _F14_SQL)
def f14_locale_number_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse tr-locale number strings (built deterministically from
    o_totalprice: '12.345,25' style) back into doubles."""
    from dataqtor_spark.operators import repair as RP

    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_totalprice") >= 1000) & F.col("o_totalprice").isNotNull())
    ik = F.floor("o_totalprice").cast("bigint")
    t = o.select(
        "o_orderkey",
        F.concat((ik / 1000).cast("bigint").cast("string"), F.lit("."),
                 F.lpad((ik % 1000).cast("string"), 3, "0"),
                 F.lit(","), F.lit("25")).alias("tr_num"))
    return RP.parse_locale_number(t, "tr_num")


_A23_SQL_PARTS = []
for _name, _pat in [
    ("yyyy-MM-dd", r"^\d{4}-\d{2}-\d{2}$"),
    ("dd/MM/yyyy", r"^\d{2}/\d{2}/\d{4}$"),
    ("dd.MM.yyyy", r"^\d{2}\.\d{2}\.\d{4}$"),
    ("ddMMyyyy", r"^\d{8}$"),
    ("yyyy-MM-dd HH:mm:ss", r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"),
]:
    _A23_SQL_PARTS.append(
        f"""SELECT '{_name}' AS format,
  sum(CASE WHEN regexp_matches(ds, '{_pat}') THEN 1 ELSE 0 END)::BIGINT
    AS n_matching,
  round(sum(CASE WHEN regexp_matches(ds, '{_pat}')
            THEN 1 ELSE 0 END) * 100.0 / count(*), 2) AS pct
FROM t""")

_A23_SQL = ("""WITH t AS (
  SELECT CASE WHEN o_orderkey % 3 = 0
              THEN strftime(CAST(o_orderdate AS TIMESTAMP), '%d/%m/%Y')
              WHEN o_orderkey % 3 = 1
              THEN strftime(CAST(o_orderdate AS TIMESTAMP), '%d%m%Y')
              ELSE strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d')
         END AS ds
  FROM orders WHERE o_orderdate IS NOT NULL
)
""" + "\nUNION ALL\n".join(_A23_SQL_PARTS)
    + """
UNION ALL
SELECT 'unmatched' AS format, 0::BIGINT AS n_matching, 0.0 AS pct""")


@register("a23_date_format_profile", _A23_SQL)
def a23_date_format_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-format sniffing over a deterministically mixed-format string
    column (orderdate rendered three ways keyed on orderkey mod 3)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    ds = (F.when(F.col("o_orderkey") % 3 == 0,
                 F.date_format("o_orderdate", "dd/MM/yyyy"))
          .when(F.col("o_orderkey") % 3 == 1,
                F.date_format("o_orderdate", "ddMMyyyy"))
          .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd")))
    return P.date_format_profile(o.select(ds.alias("ds")), "ds")


# ---------------------------------------------------------------------------
# a24 — sentinel (de-facto null) profile; a25 — case-consistency profile
# ---------------------------------------------------------------------------

_A24_COLS = ["c_name", "c_mktsegment"]

_A24_SQL = "\nUNION ALL\n".join(f"""SELECT '{c}' AS "column",
  count({c})::BIGINT AS n_values,
  sum(CASE WHEN lower(trim(CAST({c} AS VARCHAR))) IN
           ('n/a', 'na', 'null', 'none', '-', '?', 'unknown', '')
           THEN 1 ELSE 0 END)::BIGINT AS n_sentinels,
  round(sum(CASE WHEN lower(trim(CAST({c} AS VARCHAR))) IN
            ('n/a', 'na', 'null', 'none', '-', '?', 'unknown', '')
            THEN 1 ELSE 0 END) * 100.0 / count({c}), 2) AS sentinel_pct
FROM customer""" for c in _A24_COLS)


@register("a24_sentinel_profile", _A24_SQL)
def a24_sentinel_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """De-facto-null sentinel counts over customer string columns."""
    return P.sentinel_profile(_t(spark, sf_dir, "customer"), _A24_COLS)


_A25_SQL = """SELECT
  sum(CASE WHEN regexp_matches(p_name, '[A-Za-z]') THEN 1 ELSE 0 END)::BIGINT
    AS n_values,
  sum(CASE WHEN regexp_matches(p_name, '[A-Za-z]')
            AND p_name = upper(p_name) THEN 1 ELSE 0 END)::BIGINT AS n_upper,
  sum(CASE WHEN regexp_matches(p_name, '[A-Za-z]')
            AND p_name = lower(p_name) THEN 1 ELSE 0 END)::BIGINT AS n_lower,
  sum(CASE WHEN regexp_matches(p_name, '[A-Za-z]')
            AND p_name = list_aggregate(list_transform(
                  string_split(p_name, ' '),
                  w -> CASE WHEN w = '' THEN w
                       ELSE upper(w[1]) || lower(w[2:]) END), 'string_agg', ' ')
            AND p_name <> upper(p_name) AND p_name <> lower(p_name)
           THEN 1 ELSE 0 END)::BIGINT AS n_title,
  sum(CASE WHEN regexp_matches(p_name, '[A-Za-z]')
            AND p_name <> upper(p_name) AND p_name <> lower(p_name)
            AND p_name <> list_aggregate(list_transform(
                  string_split(p_name, ' '),
                  w -> CASE WHEN w = '' THEN w
                       ELSE upper(w[1]) || lower(w[2:]) END), 'string_agg', ' ')
           THEN 1 ELSE 0 END)::BIGINT AS n_mixed
FROM part"""


@register("a25_case_profile", _A25_SQL)
def a25_case_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-consistency counts over part names."""
    return P.case_profile(_t(spark, sf_dir, "part"), "p_name")


_R20_SQL = "\nUNION ALL\n".join(
    f"""SELECT * FROM (
  SELECT '{rule}' AS rule, c_custkey AS key,
         row_number() OVER (ORDER BY c_custkey) AS rank
  FROM customer WHERE {pred}) WHERE rank <= 5"""
    for rule, pred in [
        ("acctbal_range",
         "c_acctbal IS NOT NULL AND NOT (c_acctbal >= 0 AND c_acctbal <= 9000)"),
        ("segment_no_digits",
         "c_mktsegment IS NOT NULL AND regexp_matches(c_mktsegment, '[0-9]')"),
        ("name_len18",
         "c_name IS NOT NULL AND NOT (length(c_name) = 18)"),
    ])


@register("r20_violation_samples", _R20_SQL)
def r20_violation_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up to five sample violating keys per rule, one scan for all
    rules."""
    rules = [
        R.rule_compare("c_acctbal", "between", low=0, high=9000,
                       name="acctbal_range"),
        R.rule_no_digits("c_mktsegment", name="segment_no_digits"),
        R.rule_length("c_name", "==", 18, name="name_len18"),
    ]
    return R.violation_samples(_t(spark, sf_dir, "customer"), rules,
                               "c_custkey", k=5)


# ---------------------------------------------------------------------------
# t25 — Zipf rank-frequency fit; pr21 — last-digit uniformity screen;
# e04 — embedding isotropy (pairwise-cosine stats)
# ---------------------------------------------------------------------------

_T25_SQL = """WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+'),
                            x -> x <> '')) AS token
  FROM documents
), voc AS (
  SELECT token, count(*)::BIGINT AS n FROM toks GROUP BY 1
), ranked AS (
  SELECT row_number() OVER (ORDER BY n DESC, token) AS rank, n
  FROM voc ORDER BY n DESC, token LIMIT 100
), pts AS (
  SELECT round(ln(rank), 8) AS x, round(ln(n), 8) AS y FROM ranked
), s AS (
  SELECT count(*)::BIGINT AS m,
         CAST(sum(CAST(x AS DECIMAL(28,8))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(28,8))) AS DOUBLE) AS sy,
         CAST(sum(CAST(round(x * y, 8) AS DECIMAL(28,8))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(round(x * x, 8) AS DECIMAL(28,8))) AS DOUBLE) AS sxx
  FROM pts
)
SELECT m AS n_points,
       round((m * sxy - sx * sy) / (m * sxx - sx * sx), 4) AS zipf_slope,
       round((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m, 4)
         AS intercept
FROM s"""


@register("t25_zipf_fit", _T25_SQL)
def t25_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency diagnostic: least-squares slope of
    ln(count) vs ln(rank) over the top-100 vocabulary (natural corpora
    sit near −1; a flat slope flags synthetic/templated text).  The
    regression runs on the aggregated 100-row vocab table with the
    standard deterministic-float recipe (rounded terms, DECIMAL sums)."""
    from dataqtor_spark.operators import textstats as T

    voc = T.vocab(_t(spark, sf_dir, "documents"), top_k=100)
    pts = voc.select(F.round(F.log("rank"), 8).alias("x"),
                     F.round(F.log("count"), 8).alias("y"))
    d8 = lambda c: F.sum(c.cast("decimal(28,8)")).cast("double")
    s = pts.agg(F.count(F.lit(1)).cast("long").alias("m"),
                d8(F.col("x")).alias("sx"), d8(F.col("y")).alias("sy"),
                d8(F.round(F.col("x") * F.col("y"), 8)).alias("sxy"),
                d8(F.round(F.col("x") * F.col("x"), 8)).alias("sxx"))
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / \
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return s.select(F.col("m").alias("n_points"),
                    F.round(slope, 4).alias("zipf_slope"),
                    F.round((F.col("sy") - slope * F.col("sx")) / F.col("m"),
                            4).alias("intercept"))


_PR21_SQL = """WITH d AS (
  SELECT CAST(CAST(floor(o_totalprice * 100) AS BIGINT) % 10 AS INT)
    AS last_digit
  FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT last_digit, count(*)::BIGINT AS n,
       round(count(*) * 100.0 / sum(count(*)) OVER (), 4) AS pct
FROM d GROUP BY last_digit"""


@register("pr21_last_digit_uniformity", _PR21_SQL)
def pr21_last_digit_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-digit (cents) histogram of order totals — the fraud/rounding
    screen complementing the Benford first-digit profile (uniform
    expected; spikes at 0/5 reveal hand-entered or rounded amounts)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    d = o.select((F.floor(F.col("o_totalprice") * 100).cast("bigint") % 10)
                 .cast("int").alias("last_digit"))
    from pyspark.sql.window import Window

    counts = d.groupBy("last_digit").agg(F.count(F.lit(1)).cast("long")
                                         .alias("n"))
    return counts.withColumn(
        "pct", F.round(F.col("n") * 100.0
                       / F.sum("n").over(Window.partitionBy()), 4))


_E04_SQL = f"""WITH pairs AS (
  SELECT a.vec_id,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 6) AS cos
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
)
SELECT count(*)::BIGINT AS n_pairs,
       {XR.round_ratio_sql('CAST(sum(CAST(cos AS DECIMAL(18,6))) * 1000000 AS HUGEINT)',
                           'count(*)::HUGEINT * 1000000', 6)} AS mean_cosine,
       round(min(cos), 6) AS min_cosine,
       round(max(cos), 6) AS max_cosine
FROM pairs"""


def _e05_dec_mean_sql(col: str, cond: str) -> str:
    return XR.round_ratio_sql(
        f"CAST(sum(CASE WHEN {cond} THEN CAST({col} AS DECIMAL(18,6)) END)"
        f" * 1000000 AS HUGEINT)",
        f"greatest(sum(CASE WHEN {cond} THEN 1 ELSE 0 END), 1)::HUGEINT"
        f" * 1000000", 6)


_E05_SQL = f"""WITH ex AS (
  SELECT vec_id, vec_id % 2 = 0 AS a, t.i - 1 AS dim, v[t.i] AS x
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       unnest(generate_series(1, 64)) AS t(i)
), cent AS (
  SELECT dim, round(avg(CASE WHEN a THEN x END), 6) AS ma,
         round(avg(CASE WHEN NOT a THEN x END), 6) AS mb
  FROM ex GROUP BY dim
), cs AS (
  SELECT round(sum(ma * mb), 6) AS dotab,
         sum(ma * ma) AS na2, sum(mb * mb) AS nb2
  FROM cent
), per AS (
  SELECT e.vec_id, e.a,
         sum(e.x * CASE WHEN e.a THEN c.ma ELSE c.mb END) AS dotc,
         sum(e.x * e.x) AS nv2
  FROM ex e JOIN cent c USING (dim) GROUP BY 1, 2
), pc AS (
  SELECT a,
         round(dotc / (sqrt(nv2)
               * sqrt(CASE WHEN a THEN cs.na2 ELSE cs.nb2 END)), 6) AS cos,
         round(sqrt(nv2), 6) AS vn
  FROM per, cs
)
SELECT sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS n_a,
       sum(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS n_b,
       (SELECT round(dotab / (sqrt(na2) * sqrt(nb2)), 6) FROM cs)
         AS centroid_cosine,
       {_e05_dec_mean_sql('cos', 'a')} AS cohesion_a,
       {_e05_dec_mean_sql('cos', 'NOT a')} AS cohesion_b,
       {_e05_dec_mean_sql('vn', 'a')} AS norm_mean_a,
       {_e05_dec_mean_sql('vn', 'NOT a')} AS norm_mean_b
FROM pc"""


@register("e05_embedding_drift", _E05_SQL)
def e05_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between two corpus snapshots (vec_id parity
    as the accretion split): centroid cosine, per-snapshot cohesion, and
    mean-norm scale drift — the refresh gate a pipeline checks before
    trusting a frozen quantizer/ANN index on a new crawl."""
    emb = _t(spark, sf_dir, "embeddings")
    return EB.embedding_drift(emb, F.col("vec_id") % 2 == 0, "vec_id")


@register("e04_embedding_isotropy", _E04_SQL)
def e04_embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy diagnostic: cosine similarity between deterministically
    paired embeddings (vec_id, vec_id+1).  Healthy isotropic spaces show
    mean cosine near 0; anisotropic collapse (all vectors in a cone,
    common after bad normalization) shows a high floor.  Adjacent-id
    pairing is an equi-join — no sampling RNG, no cross join."""
    from dataqtor_spark.operators.dedup import _dot, _norm

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select("vec_id", F.col("embedding").alias("va"))
    b = emb.select((F.col("vec_id") - 1).alias("vec_id"),
                   F.col("embedding").alias("vb"))
    va, vb = F.col("va"), F.col("vb")
    cos = F.round(_dot(va, vb) / (_norm(va) * _norm(vb)), 6)
    pairs = a.join(b, "vec_id").select(cos.alias("cos"))
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        XR.round_ratio((F.sum(F.col("cos").cast("decimal(18,6)"))
                        * 1000000).cast("decimal(38,0)"),
                       F.count(F.lit(1)) * 1000000, 6)
        .alias("mean_cosine"),
        F.round(F.min("cos"), 6).alias("min_cosine"),
        F.round(F.max("cos"), 6).alias("max_cosine"))


# ---------------------------------------------------------------------------
# priv01 — k-anonymity / l-diversity; priv02 — deterministic masking
# ---------------------------------------------------------------------------

_PRIV01_SQL = """WITH classes AS (
  SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n,
         count(DISTINCT c_acctbal)::BIGINT AS l
  FROM customer
  WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
  GROUP BY 1, 2
)
SELECT count(*)::BIGINT AS n_classes,
       min(n)::BIGINT AS k_anonymity,
       sum(CASE WHEN n < 5 THEN n ELSE 0 END)::BIGINT AS n_rows_below_k,
       min(l)::BIGINT AS l_diversity
FROM classes"""


@register("priv01_k_anonymity", _PRIV01_SQL)
def priv01_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity/l-diversity of customer under (nationkey, mktsegment)
    quasi-identifiers with acctbal as the sensitive attribute."""
    return P.k_anonymity(_t(spark, sf_dir, "customer"),
                         ["c_nationkey", "c_mktsegment"], "c_acctbal", k=5)


_PRIV02_SQL = """SELECT c_custkey,
       CASE WHEN c_name IS NOT NULL
            THEN substr(sha256(concat('pepper', c_name)), 1, 16) END
         AS c_name,
       c_mktsegment
FROM customer ORDER BY c_custkey LIMIT 100"""


@register("priv02_masked_names", _PRIV02_SQL)
def priv02_masked_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-SHA256 name masking (first 100 customers): deterministic
    pseudonyms that still join/group across tables sharing the salt."""
    from dataqtor_spark.operators import repair as RP

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name",
                                             "c_mktsegment")
    return (RP.mask_columns(c, ["c_name"], salt="pepper")
            .orderBy("c_custkey").limit(100))


_MB02_SQL = """WITH items AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
  WHERE l_partkey IS NOT NULL
), nb AS (SELECT count(DISTINCT b) AS n_baskets FROM items),
supp AS (SELECT i AS item, count(*)::BIGINT AS n_item FROM items GROUP BY 1),
pairs AS (
  SELECT x.i AS a, y.i AS b, count(*)::BIGINT AS n_ab
  FROM items x JOIN items y ON x.b = y.b AND x.i < y.i
  GROUP BY 1, 2 HAVING count(*) >= 2
), bidir AS (
  SELECT a, b, n_ab FROM pairs
  UNION ALL SELECT b, a, n_ab FROM pairs
)
SELECT a, b, n_ab AS support,
       ((2*n_ab::HUGEINT*1000000 + sa.n_item) // (2*sa.n_item)) / 1e6
         AS confidence,
       ((2*n_ab::HUGEINT*n_baskets*1000000 + sa.n_item*sb.n_item)
        // (2*sa.n_item::HUGEINT*sb.n_item)) / 1e6 AS lift
FROM bidir
JOIN supp sa ON sa.item = a
JOIN supp sb ON sb.item = b
CROSS JOIN nb
ORDER BY lift DESC, a, b LIMIT 20"""


@register("mb02_association_rules", _MB02_SQL)
def mb02_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 association rules (support/confidence/lift) over co-ordered
    parts."""
    from dataqtor_spark.operators import behavior as B

    return B.association_rules(_t(spark, sf_dir, "lineitem"),
                               "l_orderkey", "l_partkey",
                               min_pair_support=2, top_k=20)


# ---------------------------------------------------------------------------
# t26 — weighted resampling toward a uniform source mix
# ---------------------------------------------------------------------------

_T26_NIBBLE = _nibble_value_sql("md5(concat('rs:', CAST(doc_id AS VARCHAR)))")

_T26_SQL = f"""WITH shares AS (
  SELECT source, count(*)::BIGINT AS n,
         count(*) / CAST(sum(count(*)) OVER () AS DOUBLE) AS share
  FROM documents GROUP BY source
), w AS (
  SELECT source, (1.0 / (SELECT count(DISTINCT source) FROM documents))
                 / share AS wt
  FROM shares
), docs AS (
  SELECT d.doc_id, d.source, w.wt,
         ({_T26_NIBBLE} % 1000000007) / 1000000007.0 AS frac
  FROM documents d JOIN w ON d.source = w.source
), copies AS (
  SELECT source,
         CAST(floor(wt) + CASE WHEN frac < wt - floor(wt)
                               THEN 1 ELSE 0 END AS INT) AS n_copies
  FROM docs
)
SELECT source, sum(n_copies)::BIGINT AS n_resampled
FROM copies GROUP BY source"""


@register("t26_weighted_resample", _T26_SQL)
def t26_weighted_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically resample documents toward an equal source mix:
    per-source weight = target share / current share, applied via the
    portable-hash fractional replicator; output is the resampled count
    per source (≈ uniform)."""
    from dataqtor_spark.operators import textstats as T

    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    shares = (docs.groupBy("source")
              .agg(F.count(F.lit(1)).alias("n"))
              .withColumn("share", F.col("n")
                          / F.sum("n").over(Window.partitionBy())))
    n_src = docs.select("source").distinct().count()
    w = shares.select("source",
                      ((1.0 / n_src) / F.col("share")).alias("wt"))
    joined = docs.join(F.broadcast(w), "source")
    res = T.weighted_resample(joined, "wt", id_col="doc_id")
    return (res.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_resampled")))


# ---------------------------------------------------------------------------
# t27 — leakage-safe train/val/test split assignment
# ---------------------------------------------------------------------------

_T27_NIBBLE = _nibble_value_sql(
    "md5(concat('split:', md5(array_to_string(list_sort(list_distinct("
    "list_filter(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+'), "
    "x -> x <> ''))), ' '))))")

_T27_SQL = f"""WITH s AS (
  SELECT doc_id,
         ({_T27_NIBBLE} % 1000000007) / 1000000007.0 AS frac
  FROM documents
)
SELECT CASE WHEN frac < 0.8 THEN 'train'
            WHEN frac < 0.9 THEN 'val' ELSE 'test' END AS split,
       count(*)::BIGINT AS n_docs
FROM s GROUP BY 1"""


@register("t27_leakage_safe_split", _T27_SQL)
def t27_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-hashed 80/10/10 split counts (near-dups share a
    split by construction)."""
    from dataqtor_spark.operators import textstats as T

    s = T.leakage_safe_split(_t(spark, sf_dir, "documents"))
    return s.groupBy("split").agg(F.count(F.lit(1)).cast("long")
                                  .alias("n_docs"))


# t28 — C4 line/document cleaning.  The synthetic documents are single-
# line word soup, so the query first DERIVES line structure + planted
# violations deterministically (the a23/pr25 device): sentence breaks at
# ' table ', an injected javascript-boilerplate line at ' window ',
# terminal punctuation on even ids, 'lorem ipsum' every 97th doc, code
# braces every 89th — identical plain-string replaces in both dialects
# (neither engine rescans replaced text).
# shared CTE prefix: the derived multi-line corpus + C4 line algebra
# (t28 grades the per-doc results; t29 composes the full funnel on top)
_T28_CTES = """WITH src AS (
  SELECT doc_id,
         concat(
           replace(replace(text,
                   ' table ', '.' || chr(10) || 'the table '),
                   ' window ',
                   '.' || chr(10) || 'enable javascript now.' || chr(10)),
           CASE WHEN doc_id % 2 = 0 THEN ' ok.' ELSE '' END,
           CASE WHEN doc_id % 97 = 0
                THEN chr(10) || 'lorem ipsum dolor.' ELSE '' END,
           CASE WHEN doc_id % 89 = 0
                THEN chr(10) || 'if (x) { y }' ELSE '' END) AS text
  FROM documents
), f AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls,
         (contains(lower(text), 'lorem ipsum')
          OR contains(text, '{')) AS doc_dropped
  FROM src
), k AS (
  SELECT doc_id, doc_dropped, len(ls)::INT AS n_lines,
         list_filter(ls, l ->
           regexp_matches(trim(l), '[.!?]$')
           AND len(regexp_split_to_array(trim(l), '[ \\t\\n\\r\\f]+')) >= 3
           AND NOT contains(lower(l), 'javascript')) AS kept
  FROM f
)"""

_T28_SQL = _T28_CTES + """
SELECT doc_id, n_lines, len(kept)::INT AS n_kept, doc_dropped,
       CASE WHEN NOT doc_dropped
            THEN array_to_string(kept, chr(10)) END AS cleaned
FROM k"""


def _t28_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived multi-line corpus both t28 and t29 run on."""
    d = F.col("doc_id")
    t = F.replace(F.col("text"), F.lit(" table "),
                  F.lit(".\nthe table "))
    t = F.replace(t, F.lit(" window "),
                  F.lit(".\nenable javascript now.\n"))
    t = F.concat(
        t,
        F.when(d % 2 == 0, F.lit(" ok.")).otherwise(F.lit("")),
        F.when(d % 97 == 0, F.lit("\nlorem ipsum dolor."))
        .otherwise(F.lit("")),
        F.when(d % 89 == 0, F.lit("\nif (x) { y }"))
        .otherwise(F.lit("")))
    return _t(spark, sf_dir, "documents").select(d, t.alias("text"))


@register("t28_c4_line_filters", _T28_SQL)
def t28_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. 2020 §2.2) over a derived
    multi-line corpus: terminal-punctuation + min-words line keep,
    javascript-boilerplate line drop, lorem-ipsum / curly-brace document
    drop — all in-row array algebra, oracle-replayed line for line."""
    from dataqtor_spark.operators import textstats as TS

    return TS.c4_line_filters(_t28_derived(spark, sf_dir))


_T29_NIBBLE = _nibble_value_sql(
    "md5(concat('split:', md5(array_to_string(list_sort(list_distinct("
    "list_filter(regexp_split_to_array(lower(trim(cleaned)), '[ \\t\\n\\r\\f]+'), "
    "x -> x <> ''))), ' '))))")

_T29_SQL = _T28_CTES + f""",
cl AS (
  SELECT doc_id, array_to_string(kept, chr(10)) AS cleaned
  FROM k WHERE NOT doc_dropped AND len(kept) > 0
), dd AS (
  SELECT min(doc_id) AS doc_id, cleaned FROM cl GROUP BY cleaned
), sp AS (
  SELECT ({_T29_NIBBLE} % 1000000007) / 1000000007.0 AS frac FROM dd
)
SELECT 'total' AS stage, count(*)::BIGINT AS n_docs FROM src
UNION ALL SELECT 'cleaned', count(*)::BIGINT FROM cl
UNION ALL SELECT 'deduped', count(*)::BIGINT FROM dd
UNION ALL
SELECT concat('split_', CASE WHEN frac < 0.8 THEN 'train'
                             WHEN frac < 0.9 THEN 'val'
                             ELSE 'test' END),
       count(*)::BIGINT
FROM sp GROUP BY 1"""


@register("t29_curation_funnel", _T29_SQL)
def t29_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-curation funnel — C4 clean → exact dedup on
    the cleaned text → leakage-safe 80/10/10 split — with per-stage
    survivor counts, every stage the registered operator the standalone
    queries grade (t28 / d01-style groupBy / t27).  The whole pipeline
    is one lazy DAG: Catalyst fuses the clean + dedup + split stages
    over a single documents scan per output branch, and the oracle
    replays all three stages end-to-end."""
    from dataqtor_spark.operators import textstats as TS

    src = _t28_derived(spark, sf_dir)
    c4 = TS.c4_line_filters(src)
    kept = (c4.filter(F.col("cleaned").isNotNull())
            .select("doc_id", "cleaned"))
    dd = kept.groupBy("cleaned").agg(F.min("doc_id").alias("doc_id"))
    sp = TS.leakage_safe_split(
        dd.select("doc_id", F.col("cleaned").alias("text")))

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.lit(name).alias("stage"),
                      F.count(F.lit(1)).cast("long").alias("n_docs"))

    splits = (sp.groupBy(F.concat(F.lit("split_"), F.col("split"))
                         .alias("stage"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    return (stage("total", src)
            .unionByName(stage("cleaned", kept))
            .unionByName(stage("deduped", dd))
            .unionByName(splits))


# ---------------------------------------------------------------------------
# th01/kll01 — mergeable DataSketches (theta set algebra, KLL quantile
# rollup).  Exact below sketch capacity (the oracle's scale factor),
# bounded-error estimates at 100 TB — see operators/sketches.py.
# ---------------------------------------------------------------------------

_TH01_SQL = """WITH a AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
), b AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
), i AS (
  SELECT count(*)::BIGINT AS n FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
), u AS (
  SELECT count(*)::BIGINT AS n FROM (SELECT * FROM a UNION SELECT * FROM b)
)
SELECT 'view' AS segment_a, 'purchase' AS segment_b,
       (SELECT count(*) FROM a)::BIGINT AS distinct_a,
       (SELECT count(*) FROM b)::BIGINT AS distinct_b,
       i.n AS n_overlap, u.n AS n_union,
       round(i.n * 1.0 / u.n, 6) AS jaccard
FROM i, u"""


@register("th01_audience_overlap", _TH01_SQL)
def th01_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user overlap between the 'view' and 'purchase' segments
    via theta sketches — one scan, no raw-key co-shuffle; exact at the
    oracle SF (distinct keys < the 4096-entry exact-mode capacity)."""
    from dataqtor_spark.operators import sketches as SK

    return SK.theta_overlap(_t(spark, sf_dir, "events"),
                            "event_type", "user_id", "view", "purchase")


_KLL01_QS = (0.25, 0.5, 0.75, 0.95)

_KLL01_SQL = ("""WITH src AS (
  SELECT l_returnflag AS grp, CAST(l_quantity AS DOUBLE) AS v
  FROM lineitem WHERE l_quantity IS NOT NULL
), allv AS (
  SELECT grp, v FROM src
  UNION ALL
  SELECT '__all__' AS grp, v FROM src
)
""" + "\nUNION ALL\n".join(
    f"""SELECT grp AS "group", {q} AS q,
  quantile_disc(v, {q}) AS value FROM allv GROUP BY grp"""
    for q in _KLL01_QS))


@register("kll01_quantile_rollup", _KLL01_SQL)
def kll01_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag quantity quantiles plus the '__all__' rollup merged
    from the per-group KLL sketches (never re-reading the data); equals
    percentile_disc exactly while n per merged sketch ≤ k."""
    from dataqtor_spark.operators import sketches as SK

    return SK.kll_quantile_rollup(_t(spark, sf_dir, "lineitem"),
                                  "l_quantity", "l_returnflag",
                                  quantiles=_KLL01_QS)


_TH02_SQL = """WITH s AS (
  SELECT DISTINCT event_type, user_id FROM events
)
SELECT a.event_type AS segment_a, b.event_type AS segment_b,
       count(*)::BIGINT AS n_overlap
FROM s a JOIN s b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2"""


@register("th02_segment_overlap_matrix", _TH02_SQL)
def th02_segment_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distinct-user overlap across ALL event types from one
    scan of per-segment theta sketches (the broadcast pair join is over
    |segments| kB-sized sketch rows, never raw keys); exact at the
    oracle SF, bounded-error estimate at scale."""
    from dataqtor_spark.operators import sketches as SK

    return SK.theta_segment_matrix(_t(spark, sf_dir, "events"),
                                   "event_type", "user_id")


_TS03_LAGS = (1, 2, 24)

_TS03_SQL = ("""WITH raw AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS b,
         count(*)::DOUBLE AS v
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), grid AS (
  SELECT unnest(generate_series((SELECT min(b) FROM raw),
                                (SELECT max(b) FROM raw),
                                INTERVAL 1 HOUR)) AS b
), s AS (
  SELECT grid.b, coalesce(raw.v, 0.0) AS v
  FROM grid LEFT JOIN raw USING (b)
), l AS (
  SELECT v, """
 + ", ".join(f"lag(v, {k}) OVER (ORDER BY b) AS l{k}" for k in _TS03_LAGS)
 + """
  FROM s
)
""" + "\nUNION ALL\n".join(
    f"""SELECT {k} AS lag, round(corr(v, l{k}), 4) AS autocorr,
  count(l{k})::BIGINT AS n_pairs FROM l"""
    for k in _TS03_LAGS))


@register("ts03_autocorrelation", _TS03_SQL)
def ts03_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-rate autocorrelation at lags 1/2/24 — the seasonality
    screen over the bucketed (bounded) series, never the raw events."""
    from dataqtor_spark.operators import behavior as B

    return B.autocorrelation(_t(spark, sf_dir, "events"), "ts",
                             lags=_TS03_LAGS, bucket="hour")


_TS04_SQL = f"""WITH raw AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS b,
         count(*)::BIGINT AS v
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), grid AS (
  SELECT unnest(generate_series((SELECT min(b) FROM raw),
                                (SELECT max(b) FROM raw),
                                INTERVAL 1 HOUR)) AS b
), s AS (
  SELECT grid.b, coalesce(raw.v, 0) AS v
  FROM grid LEFT JOIN raw USING (b)
), m AS (
  SELECT sum(v)::BIGINT AS tot, count(*)::BIGINT AS n FROM s
), scored AS (
  SELECT b,
         sum(v) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS pre,
         row_number() OVER (ORDER BY b) AS i, n, tot
  FROM s, m
), f AS (
  SELECT b, n*pre - i*tot AS num, pre, i, n, tot FROM scored
)
SELECT b AS changepoint_ts,
       {XR.round_ratio_sql('abs(num)', 'n', 4)} AS max_abs_cusum,
       {XR.round_ratio_sql('pre', 'i', 4)} AS mean_before,
       CASE WHEN i < n THEN {XR.round_ratio_sql('tot - pre', 'n - i', 4)}
            ELSE 0.0 END AS mean_after,
       n AS n_buckets
FROM f ORDER BY abs(num) DESC, b ASC LIMIT 1"""


@register("ts04_cusum_changepoint", _TS04_SQL)
def ts04_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift screen on the hourly event-rate series."""
    from dataqtor_spark.operators import behavior as B

    return B.cusum_changepoint(_t(spark, sf_dir, "events"), "ts",
                               bucket="hour")


_TS05_LAGS = (-2, -1, 0, 1, 2)

_TS05_SQL = ("""WITH raw AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS b,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::DOUBLE AS a,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::DOUBLE AS v
  FROM events
  WHERE ts IS NOT NULL AND event_type IN ('click', 'error')
  GROUP BY 1
), grid AS (
  SELECT unnest(generate_series((SELECT min(b) FROM raw),
                                (SELECT max(b) FROM raw),
                                INTERVAL 1 HOUR)) AS b
), s AS (
  SELECT grid.b, coalesce(raw.a, 0.0) AS a, coalesce(raw.v, 0.0) AS v
  FROM grid LEFT JOIN raw USING (b)
), l AS (
  SELECT a, """
 + ", ".join(
     (f"lead(v, {k}) OVER (ORDER BY b) AS bl{i}" if k > 0
      else f"lag(v, {-k}) OVER (ORDER BY b) AS bl{i}")
     for i, k in enumerate(_TS05_LAGS))
 + """
  FROM s
)
""" + "\nUNION ALL\n".join(
    f"""SELECT {k} AS lag, round(corr(a, bl{i}), 4) AS xcorr,
  count(bl{i})::BIGINT AS n_pairs FROM l"""
    for i, k in enumerate(_TS05_LAGS)))


@register("ts05_cross_correlation", _TS05_SQL)
def ts05_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """click→error lead/lag profile on hourly rates (positive lag:
    clicks lead errors)."""
    from dataqtor_spark.operators import behavior as B

    return B.cross_correlation(_t(spark, sf_dir, "events"), "event_type",
                               "click", "error", "ts", lags=_TS05_LAGS)


_S13_SQL = """SELECT time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP))
         AS window_start,
       time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP))
         + INTERVAL 6 HOUR AS window_end,
       count(DISTINCT user_id)::BIGINT AS n_distinct_est
FROM events GROUP BY 1"""


@register("s13_windowed_distinct_sketch", _S13_SQL)
def s13_windowed_distinct_sketch(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """s12's distinct-users-per-window with theta-sketch state — the
    streaming-safe mergeable form (kB of state per window instead of the
    key set); exact at the oracle SF so the DuckDB COUNT DISTINCT
    hash-matches."""
    from dataqtor_spark.streaming import profiler as SP

    return SP.windowed_distinct_sketch(_t(spark, sf_dir, "events"),
                                       "ts", "user_id", "6 hours")


_PR24_SQL = """SELECT o_orderpriority AS "group",
       round(regr_slope(y, x), 4) AS slope,
       round(regr_intercept(y, x), 4) AS intercept,
       round(regr_r2(y, x), 4) AS r2,
       regr_count(y, x)::BIGINT AS n
FROM (
  SELECT o_orderpriority,
         CAST(o_totalprice AS DOUBLE) AS y,
         date_diff('day', DATE '1995-01-01',
                   CAST(o_orderdate AS DATE))::DOUBLE AS x
  FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
) GROUP BY 1"""


@register("pr24_group_trend", _PR24_SQL)
def pr24_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority order-value drift: regr_slope/intercept/r2 over days
    since a fixed origin — one aggregate, cross-engine-stable centered x."""
    return P.group_trend(_t(spark, sf_dir, "orders"), "o_totalprice",
                         "o_orderdate", "o_orderpriority")


_MV01_SQL = """WITH m AS (
  SELECT avg(c_acctbal) AS mx, avg(CAST(c_nationkey AS DOUBLE)) AS my,
         var_pop(c_acctbal) AS vx,
         var_pop(CAST(c_nationkey AS DOUBLE)) AS vy,
         covar_pop(c_acctbal, CAST(c_nationkey AS DOUBLE)) AS cxy
  FROM customer WHERE c_acctbal IS NOT NULL AND c_nationkey IS NOT NULL
), d AS (
  SELECT CASE WHEN vx * vy - cxy * cxy > 1e-9 * vx * vy THEN
           (vy * (c_acctbal - mx) * (c_acctbal - mx)
            - 2 * cxy * (c_acctbal - mx) * (CAST(c_nationkey AS DOUBLE) - my)
            + vx * (CAST(c_nationkey AS DOUBLE) - my)
                 * (CAST(c_nationkey AS DOUBLE) - my))
           / (vx * vy - cxy * cxy)
         ELSE 0.0 END AS d2
  FROM customer, m
  WHERE c_acctbal IS NOT NULL AND c_nationkey IS NOT NULL
)
SELECT count(*)::BIGINT AS n,
       sum(CASE WHEN d2 > 13.816 THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
       round(sum(CASE WHEN d2 > 13.816 THEN 1 ELSE 0 END) * 100.0
             / count(*), 4) AS pct_outliers,
       round(max(d2), 4) AS max_dist2
FROM d"""


@register("mv01_mahalanobis_outliers", _MV01_SQL)
def mv01_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint-outlier screen over (acctbal, nationkey) — closed-form 2×2
    Mahalanobis, pure expressions on both engines."""
    return P.mahalanobis_profile(_t(spark, sf_dir, "customer"),
                                 "c_acctbal", "c_nationkey")


# The synthetic tables carry no physical NULLs, so pr25 derives a
# deterministic missingness pattern first (the same device a23 uses for
# date formats): acctbal missing for negative balances, segment missing
# for MOST of those same rows (co-missing), name missing on an unrelated
# key pattern (independent).
_PR25_SQL = """WITH d AS (
  SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal,
         CASE WHEN c_acctbal < 0 AND c_custkey % 10 < 8
              THEN NULL ELSE c_mktsegment END AS seg,
         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END AS nm
  FROM customer
)
SELECT 'bal' AS col_a, 'seg' AS col_b,
       round(corr(CASE WHEN bal IS NULL THEN 1.0 ELSE 0.0 END,
                  CASE WHEN seg IS NULL THEN 1.0 ELSE 0.0 END), 4)
         AS null_corr FROM d
UNION ALL
SELECT 'bal', 'nm',
       round(corr(CASE WHEN bal IS NULL THEN 1.0 ELSE 0.0 END,
                  CASE WHEN nm IS NULL THEN 1.0 ELSE 0.0 END), 4) FROM d
UNION ALL
SELECT 'seg', 'nm',
       round(corr(CASE WHEN seg IS NULL THEN 1.0 ELSE 0.0 END,
                  CASE WHEN nm IS NULL THEN 1.0 ELSE 0.0 END), 4) FROM d"""


@register("pr25_null_correlation", _PR25_SQL)
def pr25_null_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nullity correlation over a derived co-missingness pattern: bal/seg
    strongly co-missing, nm independent of both."""
    c = _t(spark, sf_dir, "customer")
    d = c.select(
        F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal"))
        .alias("bal"),
        F.when((F.col("c_acctbal") < 0) & (F.col("c_custkey") % 10 < 8),
               None).otherwise(F.col("c_mktsegment")).alias("seg"),
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_name")).alias("nm"))
    return P.null_correlation(d, ["bal", "seg", "nm"])


# --- pq01 — product quantization + ADC (compressed-codes ANN scale path) ---
# Per-subspace portable k-means (the ann03 recipe on each 16-dim slice),
# corpus stored as 4 small codes, ADC cosine from per-query LUTs.  The
# oracle replays the ENTIRE pipeline in SQL: per-subspace seed draw +
# 2 Lloyd rounds + final encoding + reconstruction-norm ADC ranking.
_PQ01_M, _PQ01_KS, _PQ01_K, _PQ01_DIM = 4, 8, 5, 64


def _pq01_oracle_sql() -> str:
    m, ks, k, dim = _PQ01_M, _PQ01_KS, _PQ01_K, _PQ01_DIM
    sub = dim // m

    def assign_cte(src: str, cents: str) -> str:
        return f"""(
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, s.cid,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY round(pow(list_distance(x.v, s.v), 2), 9), s.cid) AS rn
    FROM {src} x, {cents} s) WHERE rn <= 1)"""

    def recenter_cte(assigned: str) -> str:
        return f"""(
  SELECT cid, list(val ORDER BY i) AS v FROM (
    SELECT a.cid, t.i, round(avg(a.v[t.i]), 6) AS val
    FROM {assigned} a, unnest(generate_series(1, {sub})) AS t(i)
    GROUP BY a.cid, t.i) GROUP BY cid)"""

    parts = [f"WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),",
             f"""seeds AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cid, v
  FROM c ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {ks})"""]
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(f"cs{j} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM c)")
        parts.append(f"s{j} AS (SELECT cid, v[{lo}:{hi}] AS v FROM seeds)")
        parts.append(f"a1_{j} AS {assign_cte(f'cs{j}', f's{j}')}")
        parts.append(f"cent1_{j} AS {recenter_cte(f'a1_{j}')}")
        parts.append(f"a2_{j} AS {assign_cte(f'cs{j}', f'cent1_{j}')}")
        parts.append(f"cent2_{j} AS {recenter_cte(f'a2_{j}')}")
        parts.append(f"af{j} AS {assign_cte(f'cs{j}', f'cent2_{j}')}")
    parts.append(
        "qs AS (SELECT vec_id AS query_id, v, "
        "sqrt(list_inner_product(v, v)) AS qn FROM c WHERE vec_id < 8)")
    dot_terms = " + ".join(
        f"list_inner_product(q.v[{j * sub + 1}:{(j + 1) * sub}], c{j}.v)"
        for j in range(m))
    norm_terms = " + ".join(
        f"list_inner_product(c{j}.v, c{j}.v)" for j in range(m))
    joins = "af0 a0"
    for j in range(1, m):
        joins += f" JOIN af{j} a{j} ON a{j}.vec_id = a0.vec_id"
    for j in range(m):
        joins += f" JOIN cent2_{j} c{j} ON c{j}.cid = a{j}.cid"
    parts.append(f"""scored AS (
  SELECT q.query_id, a0.vec_id AS neighbor_id,
         round(({dot_terms}) / (sqrt({norm_terms}) * q.qn), 6) AS adc_cosine
  FROM {joins}, qs q WHERE a0.vec_id <> q.query_id)""")
    return f"""{parts[0]}
{",".join(parts[1:])}
SELECT query_id, neighbor_id, adc_cosine, rank FROM (
  SELECT query_id, neighbor_id, adc_cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_cosine DESC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= {k}"""


@register("pq01_product_quantization", _pq01_oracle_sql())
def pq01_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k over the embeddings table: dim-64 vectors
    compressed to 4 codebook codes (8 entries per subspace, portable
    deterministic k-means), queries score candidates through per-query
    lookup tables.  The compressed-storage ANN path for corpora whose raw
    vectors don't fit the scan budget."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = ANN.pq_topk_portable(
        emb, queries, "vec_id", "embedding", k=_PQ01_K, m=_PQ01_M,
        ks=_PQ01_KS, n_iter=2,
        cache_key=os.path.join(sf_dir, "embeddings.parquet"))
    return out.withColumn("rank", F.col("rank").cast("long"))


# --- zorder01 — Z-order layout key (multi-dimension pruning, bit-exact) ---
# The write-time clustering device: Morton-interleave (user, day) and
# audit how the curve segments the data — per curve-segment row counts
# and per-dimension min/max spans, i.e. exactly the row-group statistics
# a Z-ordered parquet file would expose to pruning.  Bit-for-bit SQL
# replay (the geo02 precedent for bit-arithmetic layout keys).
_Z01_BITS, _Z01_SEG = 10, 6  # 20-bit z, segments of 2^6 curve steps


def _zorder01_sql() -> str:
    from dataqtor_spark.operators.layout import zvalue_sql

    z = zvalue_sql(["(user_id & 1023)",
                    "(datediff('day', DATE '2024-01-01', ts) & 1023)"],
                   bits=_Z01_BITS)
    return f"""SELECT seg, count(*)::BIGINT AS n_rows,
       min(user_id)::BIGINT AS min_user, max(user_id)::BIGINT AS max_user,
       min(day)::BIGINT AS min_day, max(day)::BIGINT AS max_day
FROM (
  SELECT ({z} >> {_Z01_SEG}) AS seg, user_id,
         datediff('day', DATE '2024-01-01', ts) AS day
  FROM (SELECT (user_id & 1023) AS user_id, ts FROM events))
GROUP BY seg"""


@register("zorder01_curve_segments", _zorder01_sql())
def zorder01_curve_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-curve layout audit over events: Morton(user mod 2^10, day mod
    2^10), rows grouped into 2^6-step curve segments, per-segment count
    + both dimensions' min/max (the row-group stats pruning would use)."""
    from dataqtor_spark.operators.layout import zvalue_expr

    ev = _t(spark, sf_dir, "events")
    user = F.col("user_id").bitwiseAND(F.lit(1023))
    day = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
    z = zvalue_expr([user, day.bitwiseAND(F.lit(1023))], bits=_Z01_BITS)
    return (ev.select(F.shiftright(z, _Z01_SEG).alias("seg"),
                      user.alias("user_id"), day.cast("long").alias("day"))
            .groupBy("seg")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("user_id").alias("min_user"),
                 F.max("user_id").alias("max_user"),
                 F.min("day").alias("min_day"),
                 F.max("day").alias("max_day")))


# --- b08 — first/last-touch conversion attribution -------------------------
_B08_SQL = """WITH tagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN event_type IN ('view', 'click') THEN event_type END
           AS touch
  FROM events
), conv AS (
  SELECT event_type, value,
         first_value(touch IGNORE NULLS) OVER w AS first_touch,
         last_value(touch IGNORE NULLS) OVER w AS last_touch
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT * FROM (
  SELECT 'first' AS model, first_touch AS touch, count(*)::BIGINT AS n_conv,
         round(sum(value::DECIMAL(18,2)), 2) AS revenue
  FROM conv WHERE event_type = 'purchase' AND first_touch IS NOT NULL
  GROUP BY first_touch
  UNION ALL
  SELECT 'last', last_touch, count(*)::BIGINT,
         round(sum(value::DECIMAL(18,2)), 2)
  FROM conv WHERE event_type = 'purchase' AND last_touch IS NOT NULL
  GROUP BY last_touch)"""


@register("b08_touch_attribution", _B08_SQL)
def b08_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style conversion attribution: each purchase credits the
    user's FIRST and LAST preceding touch event (view/click stand in for
    channels).  Scale shape: one per-user PARTITIONED window carries both
    models (first/last ignore-nulls over the strictly-preceding frame) —
    no self-join of conversions to touches, no unpartitioned window; the
    credit aggregation is a bounded (model × channel) groupBy."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    tagged = ev.select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.when(F.col("event_type").isin("view", "click"),
               F.col("event_type")).alias("touch"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    conv = (tagged
            .withColumn("first_touch", F.first("touch", True).over(w))
            .withColumn("last_touch", F.last("touch", True).over(w))
            .filter(F.col("event_type") == "purchase"))
    dec = F.col("value").cast("decimal(18,2)")

    def credit(model: str, col: str) -> DataFrame:
        return (conv.filter(F.col(col).isNotNull())
                .groupBy(F.col(col).alias("touch"))
                .agg(F.count(F.lit(1)).alias("n_conv"),
                     F.round(F.sum(dec), 2).alias("revenue"))
                .select(F.lit(model).alias("model"), "touch",
                        "n_conv", "revenue"))

    return credit("first", "first_touch").unionByName(
        credit("last", "last_touch"))


# --- t30 — URL canonicalization (web-corpus identity) -----------------------
# The documents table carries no URL column, so (the a23/pr25 device) messy
# URLs are DERIVED deterministically from doc_id — mixed-case hosts, www
# prefixes, default ports, tracking params, unsorted params, fragments,
# trailing slashes — then canonicalized; the oracle replays both the
# derivation and every canonicalization rule with the same regexes.
_T30_DERIVE_SQL = """
  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
  (CASE doc_id % 4 WHEN 0 THEN 'WWW.Example.COM:80' WHEN 1 THEN 'example.com'
        WHEN 2 THEN 'Shop.NET:443' ELSE 'www.shop.net' END) ||
  '/p/' || (doc_id % 7)::VARCHAR ||
  (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
  (CASE doc_id % 3 WHEN 0 THEN '?utm_source=x&id=' || (doc_id % 11)::VARCHAR
        WHEN 1 THEN '?id=' || (doc_id % 11)::VARCHAR || '&utm_campaign=y'
        ELSE '' END) ||
  (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END)"""

_T30_SQL = f"""WITH raw AS (
  SELECT doc_id, {_T30_DERIVE_SQL} AS url FROM documents
), u AS (
  SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM raw
), parts AS (
  SELECT doc_id,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(u, '^[^:/?#]+://([^/?#]*)', 1)) AS hostport,
    regexp_extract(u, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path0,
    regexp_extract(u, '\\?([^#]*)', 1) AS query0
  FROM u
), canon AS (
  SELECT doc_id, scheme || '://' ||
    (CASE WHEN scheme = 'http'
          THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':80$', '')
          WHEN scheme = 'https'
          THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':443$', '')
          ELSE regexp_replace(hostport, '^www\\.', '') END) ||
    regexp_replace(path0, '/$', '') ||
    (CASE WHEN len(list_filter(string_split(query0, '&'),
            p -> p <> '' AND NOT regexp_matches(p,
              '^(utm_|fbclid|gclid|mc_eid|ref=)'))) > 0
          THEN '?' || array_to_string(list_sort(list_filter(
            string_split(query0, '&'),
            p -> p <> '' AND NOT regexp_matches(p,
              '^(utm_|fbclid|gclid|mc_eid|ref=)'))), '&')
          ELSE '' END) AS canonical_url
  FROM parts)
SELECT canonical_url, count(*)::BIGINT AS n_docs,
       min(doc_id)::BIGINT AS first_doc
FROM canon GROUP BY canonical_url"""


@register("t30_url_canonical", _T30_SQL)
def t30_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus URL identity: derive messy URL variants, canonicalize
    (lowercase scheme/host, strip www/default port/fragment/tracking
    params/trailing slash, sort surviving params), count docs per
    canonical URL.  One projection + one bounded groupBy."""
    from dataqtor_spark.operators.textstats import canonicalize_url

    d = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    scheme = F.when(did % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    host = (F.when(did % 4 == 0, F.lit("WWW.Example.COM:80"))
            .when(did % 4 == 1, F.lit("example.com"))
            .when(did % 4 == 2, F.lit("Shop.NET:443"))
            .otherwise(F.lit("www.shop.net")))
    url = F.concat(
        scheme, F.lit("://"), host,
        F.lit("/p/"), (did % 7).cast("string"),
        F.when(did % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(did % 3 == 0,
               F.concat(F.lit("?utm_source=x&id="),
                        (did % 11).cast("string")))
        .when(did % 3 == 1,
              F.concat(F.lit("?id="), (did % 11).cast("string"),
                       F.lit("&utm_campaign=y")))
        .otherwise(F.lit("")),
        F.when(did % 6 == 0, F.lit("#sec")).otherwise(F.lit("")))
    return (d.select("doc_id", canonicalize_url(url).alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("first_doc")))


# --- t31 — model-based quality filter (fixed-weight linear classifier) -----
_T31_NT = ("(CASE WHEN length(trim(text)) = 0 THEN 0 "
           "ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) END)")
_T31_STOP_NUM = ("len(regexp_extract_all(text,"
                 " '(?i)\\b(the|a|and|of|to|in|is|that|it|for)\\b'))::HUGEINT"
                 " * 10000")
_T31_SQL = f"""WITH f AS (
  SELECT source,
    {XR.round_ratio_int_sql('length(text)::HUGEINT * 10000',
                            f'greatest({_T31_NT}, 1)', 0)} AS atl4,
    {XR.round_ratio_int_sql(
        "len(regexp_extract_all(text, '[.,!?;:]'))::HUGEINT * 10000",
        'greatest(length(text), 1)', 0)} AS pr4,
    {XR.round_ratio_int_sql(
        "len(regexp_extract_all(text, '[0-9]'))::HUGEINT * 10000",
        'greatest(length(text), 1)', 0)} AS dr4,
    {XR.round_ratio_int_sql(
        "len(regexp_extract_all(text, '[A-Z]'))::HUGEINT * 10000",
        'greatest(length(text), 1)', 0)} AS ur4,
    {XR.round_ratio_int_sql(_T31_STOP_NUM, f'greatest({_T31_NT}, 1)', 0)} AS sr4,
    {_T31_NT} AS nt
  FROM documents
), s AS (
  SELECT source,
    (-1500000 + 600 * sr4 - 800 * pr4 - 500 * dr4 - 300 * ur4
     - 40 * abs(atl4 - 50000) + 8 * least(nt, 100) * 10000) AS m
  FROM f
), p AS (
  SELECT source, m,
         {XR.round_ratio_int_sql('1000000 + abs(m) + m',
                                 '2 * (1000000 + abs(m))', 6)} AS p6
  FROM s)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(CASE WHEN m >= 0 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
  {XR.round_ratio_sql('sum(p6)', '1000000', 4)} AS sum_score
FROM p GROUP BY source"""


@register("t31_quality_logistic", _T31_SQL)
def t31_quality_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based corpus filter: fixed-weight linear quality classifier
    (algebraic sigmoid) scored per document in one projection, keep/drop
    + score mass aggregated per source — ALL in exact scaled-integer
    arithmetic (quality_logistic_exact), so no round() ever sees a
    double and no cross-engine rounding tie exists (the t17 class)."""
    docs = _t(spark, sf_dir, "documents")
    ex = TX.quality_logistic_exact(F.col("text"))
    return (docs.select("source", ex["logit6"].alias("__m"),
                        ex["p6"].alias("__p6"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("__m") >= 0, 1).otherwise(0))
                 .cast("long").alias("n_kept"),
                 XR.round_ratio(F.sum(F.col("__p6").cast("decimal(38,0)")),
                                F.lit(1000000), 4).alias("sum_score")))


# --- ab01 — experiment assignment + sample-ratio-mismatch check -------------
_AB01_MIX = "(((user_id + 11) * 2654435761) % 4294967296 + 4294967296) % 4294967296"
_AB01_SQL = f"""WITH arms AS (
  SELECT CASE WHEN ({_AB01_MIX}) % 2 = 0 THEN 'A' ELSE 'B' END AS arm
  FROM (SELECT DISTINCT user_id FROM events)
), counts AS (
  SELECT arm, count(*)::BIGINT AS n_users FROM arms GROUP BY arm
), tot AS (SELECT sum(n_users) AS n FROM counts)
SELECT arm, n_users,
  round((n_users - n / 2.0) * (n_users - n / 2.0) / (n / 2.0), 6)
    AS chi2_term,
  (n_users - n / 2.0) * (n_users - n / 2.0) / (n / 2.0) > 3.841
    AS srm_flag_half
FROM counts, tot"""


@register("ab01_srm_check", _AB01_SQL)
def ab01_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation hygiene: deterministic 50/50 hash assignment of
    users to arms (the t08 mixing key, so assignment is reproducible and
    SQL-replayable) and the sample-ratio-mismatch χ² screen against the
    expected split — the first thing to check before reading any A/B
    metric.  Distinct-user pass + bounded per-arm aggregate."""
    from dataqtor_spark.operators.textstats import shuffle_key

    users = _t(spark, sf_dir, "events").select("user_id").distinct()
    arm = F.when(F.pmod(shuffle_key("user_id", 11), F.lit(2)) == 0,
                 F.lit("A")).otherwise(F.lit("B"))
    counts = (users.select(arm.alias("arm"))
              .groupBy("arm").agg(F.count(F.lit(1)).alias("n_users")))
    tot = counts.agg(F.sum("n_users").cast("double").alias("n"))
    term = ((F.col("n_users") - F.col("n") / 2)
            * (F.col("n_users") - F.col("n") / 2) / (F.col("n") / 2))
    return (counts.crossJoin(F.broadcast(tot))
            .select("arm", "n_users",
                    F.round(term, 6).alias("chi2_term"),
                    (term > 3.841).alias("srm_flag_half")))


# --- ab02 — Welch two-sample t-test over the A/B arms ------------------------
# The metric read behind ab01's assignment: per-user event counts
# (integer, so every moment is exact), Welch's unequal-variance t.
# Portability ladder: means and variances are exact integer rationals
# 9dp-rounded (round_ratio — no float meets round()); the remaining
# chain is IEEE-deterministic on identical doubles (x/int division,
# addition, sqrt — sqrt is CORRECTLY ROUNDED by IEEE 754, unlike ln);
# only the final round(·, 6)/round(·, 4) carries the audited tie risk.
_AB02_SQL = f"""WITH arms AS (
  SELECT CASE WHEN ({_AB01_MIX}) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         count(*)::BIGINT AS cnt
  FROM events GROUP BY user_id
), m AS (
  SELECT arm, count(*)::BIGINT AS n, sum(cnt)::BIGINT AS s,
         sum(cnt * cnt)::BIGINT AS ssq
  FROM arms GROUP BY arm
), w AS (
  SELECT
    max(CASE WHEN arm = 'A' THEN n END) AS na,
    max(CASE WHEN arm = 'B' THEN n END) AS nb,
    max(CASE WHEN arm = 'A' THEN
      {XR.round_ratio_sql('s', 'n', 9)} END) AS ma,
    max(CASE WHEN arm = 'B' THEN
      {XR.round_ratio_sql('s', 'n', 9)} END) AS mb,
    max(CASE WHEN arm = 'A' THEN
      {XR.round_ratio_sql('n::HUGEINT * ssq - s::HUGEINT * s',
                          'greatest(n::HUGEINT * (n - 1), 1)', 9)} END) AS va,
    max(CASE WHEN arm = 'B' THEN
      {XR.round_ratio_sql('n::HUGEINT * ssq - s::HUGEINT * s',
                          'greatest(n::HUGEINT * (n - 1), 1)', 9)} END) AS vb
  FROM m
), t AS (
  SELECT na, nb, ma, mb, va, vb,
         va / na + vb / nb AS se2,
         (na > 1 AND nb > 1 AND va / na + vb / nb > 0) AS ok
  FROM w
)
SELECT na AS n_a, nb AS n_b,
       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       CASE WHEN ok THEN round((ma - mb) / sqrt(se2), 6) END AS t_stat,
       CASE WHEN ok THEN
         round(se2 * se2 / ((va / na) * (va / na) / (na - 1)
                            + (vb / nb) * (vb / nb) / (nb - 1)), 4)
       END AS df,
       CASE WHEN ok THEN
         abs(round((ma - mb) / sqrt(se2), 6)) > 1.96
       END AS significant
FROM t"""


@register("ab02_welch_t_test", _AB02_SQL)
def ab02_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t over per-user event counts between ab01's
    deterministic A/B arms: one per-user shuffle, one 2-row arm
    aggregate, the statistic assembled on a 1-row frame."""
    from dataqtor_spark.operators.textstats import shuffle_key

    ev = _t(spark, sf_dir, "events")
    arm = F.when(F.pmod(shuffle_key("user_id", 11), F.lit(2)) == 0,
                 F.lit("A")).otherwise(F.lit("B"))
    per_user = (ev.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .select(arm.alias("arm"), "cnt"))
    m = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ssq"))
    mean9 = XR.round_ratio(F.col("s"), F.col("n"), 9)
    # moments cast to DECIMAL(38,0) BEFORE the multiply: n*ssq and s*s in
    # 64-bit LONG silently wrap past 2^63 with ANSI off (the DuckDB twin
    # computes the same expression in HUGEINT) — plausible at 100 TB count
    # shapes, so the whole numerator/denominator is decimal end-to-end.
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    var9 = XR.round_ratio(
        dec(F.col("n")) * dec(F.col("ssq")) - dec(F.col("s")) * dec(F.col("s")),
        F.greatest(dec(F.col("n")) * dec(F.col("n") - 1),
                   F.lit(1).cast("decimal(38,0)")), 9)
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, c))  # noqa: E731
    w = m.agg(pick("A", F.col("n")).alias("na"),
              pick("B", F.col("n")).alias("nb"),
              pick("A", mean9).alias("ma"), pick("B", mean9).alias("mb"),
              pick("A", var9).alias("va"), pick("B", var9).alias("vb"))
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    # degenerate arms (n<=1, or zero pooled variance) yield NULL stats in
    # BOTH dialects — Spark's NULL-on-div-by-zero and DuckDB's raise would
    # otherwise diverge on tiny/skewed inputs.
    ok = (F.col("na") > 1) & (F.col("nb") > 1) & (se2 > 0)
    tstat = F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2), 6)
    df_w = F.round(
        se2 * se2 / ((F.col("va") / F.col("na")) * (F.col("va") / F.col("na"))
                     / (F.col("na") - 1)
                     + (F.col("vb") / F.col("nb"))
                     * (F.col("vb") / F.col("nb")) / (F.col("nb") - 1)), 4)
    return w.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("ma"), 6).alias("mean_a"),
        F.round(F.col("mb"), 6).alias("mean_b"),
        F.when(ok, tstat).alias("t_stat"),
        F.when(ok, df_w).alias("df"),
        F.when(ok, F.abs(tstat) > 1.96).alias("significant"))


# --- s14 — windowed KLL quantile sketch (streaming mergeable state) ---------
_S14_QS = (0.5, 0.95)
_S14_SQL = "\nUNION ALL\n".join(f"""SELECT
  time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
  time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP)) + INTERVAL 6 HOUR
    AS window_end,
  {q} AS q, quantile_disc(CAST(value AS DOUBLE), {q}) AS value
FROM events WHERE value IS NOT NULL GROUP BY 1""" for q in _S14_QS)


@register("s14_windowed_quantile_sketch", _S14_SQL)
def s14_windowed_quantile_sketch(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Per-window value quantiles with KLL sketch state — the
    streaming-safe mergeable form of a windowed latency/price
    distribution monitor; exact at the oracle SF (window n ≪ k) so
    DuckDB's quantile_disc hash-matches."""
    from dataqtor_spark.streaming import profiler as SP

    return SP.windowed_quantile_sketch(_t(spark, sf_dir, "events"),
                                       "ts", "value", "6 hours",
                                       quantiles=_S14_QS)


# --- ann06 — IVF-PQ composed ANN (coarse prune + compressed ADC scoring) ---
_ANN06_NC, _ANN06_NPROBE = 8, 3


def _ann06_oracle_sql(rerank_from: int | None = None,
                      final_k: int | None = None,
                      append_sql: str | None = None) -> str:
    """ann06's full IVF-PQ replay; with ``rerank_from`` set, the ADC
    ranking becomes a k'-deep shortlist that a second stage re-scores
    with EXACT cosine and cuts to ``final_k`` (the ann09 two-stage
    production pattern).  ``append_sql`` (a SELECT yielding extra
    ``(vec_id, v)`` rows) models index APPEND: the quantizers still
    train on the ORIGINAL corpus ``c`` — exactly the stored-sidecar
    no-retrain contract of ``append_to_ivfpq_index`` — while encoding
    and probing run over the union (the ann12 replay)."""
    m, ks, k, dim = _PQ01_M, _PQ01_KS, _PQ01_K, _PQ01_DIM
    nc, npr = _ANN06_NC, _ANN06_NPROBE
    sub = dim // m
    served = "c" if append_sql is None else "call"

    def assign(src: str, cents: str, rn_cap: int, id_out: str,
               v_out: str) -> str:
        return f"""(
  SELECT {id_out}, {v_out}, cid FROM (
    SELECT x.vec_id AS {id_out}, x.v AS {v_out}, s.cid,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY round(pow(list_distance(x.v, s.v), 2), 9), s.cid) AS rn
    FROM {src} x, {cents} s) WHERE rn <= {rn_cap})"""

    def recenter(assigned: str, d: int) -> str:
        return f"""(
  SELECT cid, list(val ORDER BY i) AS v FROM (
    SELECT a.cid, t.i, round(avg(a.v[t.i]), 6) AS val
    FROM {assigned} a, unnest(generate_series(1, {d})) AS t(i)
    GROUP BY a.cid, t.i) GROUP BY cid)"""

    parts = ["WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),",
             f"""seeds AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cid, v
  FROM c ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {max(nc, ks)})"""]
    if append_sql is not None:
        parts.append(
            f"call AS (SELECT vec_id, v FROM c UNION ALL {append_sql})")
    # coarse quantizer over full vectors (g-prefixed CTEs); training
    # always reads c — append never retrains
    parts.append(f"gseeds AS (SELECT cid, v FROM seeds WHERE cid < {nc})")
    parts.append(f"ga1 AS {assign('c', 'gseeds', 1, 'vec_id', 'v')}")
    parts.append(f"gcent1 AS {recenter('ga1', dim)}")
    parts.append(f"ga2 AS {assign('c', 'gcent1', 1, 'vec_id', 'v')}")
    parts.append(f"gcent2 AS {recenter('ga2', dim)}")
    parts.append(f"gaf AS {assign(served, 'gcent2', 1, 'vec_id', 'v')}")
    parts.append(
        f"gq AS {assign('(SELECT * FROM c WHERE vec_id < 8)', 'gcent2', npr, 'query_id', 'qv')}")
    # PQ codebooks per subspace: ts{j} (training slices, always c) feed
    # the two Lloyd rounds; cs{j} (serving slices) feed only the final
    # encode — identical frames unless append_sql is set
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(f"ts{j} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM c)")
        if append_sql is not None:
            parts.append(
                f"cs{j} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM {served})")
        else:
            parts.append(f"cs{j} AS (SELECT * FROM ts{j})")
        parts.append(
            f"s{j} AS (SELECT cid, v[{lo}:{hi}] AS v FROM seeds WHERE cid < {ks})")
        parts.append(f"a1_{j} AS {assign(f'ts{j}', f's{j}', 1, 'vec_id', 'v')}")
        parts.append(f"cent1_{j} AS {recenter(f'a1_{j}', sub)}")
        parts.append(f"a2_{j} AS {assign(f'ts{j}', f'cent1_{j}', 1, 'vec_id', 'v')}")
        parts.append(f"cent2_{j} AS {recenter(f'a2_{j}', sub)}")
        parts.append(f"af{j} AS {assign(f'cs{j}', f'cent2_{j}', 1, 'vec_id', 'v')}")
    parts.append(
        "qn AS (SELECT vec_id AS query_id, "
        "sqrt(list_inner_product(v, v)) AS qn FROM c WHERE vec_id < 8)")
    dot_terms = " + ".join(
        f"list_inner_product(q.qv[{j * sub + 1}:{(j + 1) * sub}], c{j}.v)"
        for j in range(m))
    norm_terms = " + ".join(
        f"list_inner_product(c{j}.v, c{j}.v)" for j in range(m))
    joins = "gaf g JOIN gq q ON q.cid = g.cid"
    for j in range(m):
        joins += f" JOIN af{j} a{j} ON a{j}.vec_id = g.vec_id"
    for j in range(m):
        joins += f" JOIN cent2_{j} c{j} ON c{j}.cid = a{j}.cid"
    joins += " JOIN qn n ON n.query_id = q.query_id"
    parts.append(f"""scored AS (
  SELECT q.query_id, g.vec_id AS neighbor_id,
         round(({dot_terms}) / (sqrt({norm_terms}) * n.qn), 6) AS adc_cosine
  FROM {joins} WHERE g.vec_id <> q.query_id)""")
    if rerank_from is None:
        return f"""{parts[0]}
{",".join(parts[1:])}
SELECT query_id, neighbor_id, adc_cosine, rank FROM (
  SELECT query_id, neighbor_id, adc_cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_cosine DESC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= {k}"""
    parts.append(f"""short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_cosine DESC, neighbor_id ASC) AS rk
    FROM scored) WHERE rk <= {rerank_from})""")
    parts.append("""exact AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_inner_product(cv.v, qv.v)
               / (sqrt(list_inner_product(cv.v, cv.v))
                  * sqrt(list_inner_product(qv.v, qv.v))), 6) AS cosine
  FROM short s
  JOIN c cv ON cv.vec_id = s.neighbor_id
  JOIN c qv ON qv.vec_id = s.query_id)""")
    return f"""{parts[0]}
{",".join(parts[1:])}
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM exact) WHERE rank <= {final_k}"""


@register("ann06_ivfpq_topk", _ann06_oracle_sql())
def ann06_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN: coarse inverted lists prune the candidate
    set (3 of 8 clusters probed), PQ codes + per-query LUTs score the
    survivors — the FAISS-architecture scale path, fully SQL-replayed."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = ANN.ivfpq_topk_portable(
        emb, queries, "vec_id", "embedding", k=_PQ01_K,
        n_clusters=_ANN06_NC, n_probe=_ANN06_NPROBE,
        m=_PQ01_M, ks=_PQ01_KS, n_iter=2,
        cache_key=os.path.join(sf_dir, "embeddings.parquet"))
    return out.withColumn("rank", F.col("rank").cast("long"))


# --- ann07 — NDCG@5 of the LSH ranking vs exact ------------------------------
# Ranking-quality complement to ann05's recall: recall says WHETHER the
# true neighbors were found, NDCG says whether they were found IN ORDER
# (rank-discounted).  Gains are exact cosines shifted positive; the
# 1/log2(rank+1) discounts are PRECOMPUTED float literals embedded
# identically in both engines (rank ≤ 5), so no libm log enters either
# plan.  Both ranked lists are themselves SQL-replayed pipelines.
_ANN07_K = 5
_ANN07_DISC = [1.0 / math.log2(i + 1) for i in range(1, _ANN07_K + 1)]


def _ann07_oracle_sql() -> str:
    disc_case = ("CASE rank " + " ".join(
        f"WHEN {i + 1} THEN {repr(_ANN07_DISC[i])}"
        for i in range(_ANN07_K)) + " END")
    return (f"""WITH brute AS (SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(c.embedding::DOUBLE[],
                                      q.embedding::DOUBLE[]), 6) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[],
                          q.embedding::DOUBLE[]), 6) DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings c, embeddings q
  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
) WHERE rank <= {_ANN07_K}),
lsh AS (SELECT query_id, cosine, rank FROM (
""" + _ann02_oracle_sql(k=_ANN07_K) + f"""
)),
idcg AS (
  SELECT query_id,
         sum(round((cosine + 1.0) * ({disc_case}), 9)::DECIMAL(18,9))
           AS idcg
  FROM brute GROUP BY query_id),
dcg AS (
  SELECT query_id,
         sum(round((cosine + 1.0) * ({disc_case}), 9)::DECIMAL(18,9))
           AS dcg,
         count(*)::BIGINT AS n_found
  FROM lsh GROUP BY query_id)
SELECT i.query_id, coalesce(d.n_found, 0)::BIGINT AS n_found,
       round(coalesce(d.dcg, 0)::DOUBLE / i.idcg::DOUBLE, 4) AS ndcg
FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id""")


@register("ann07_lsh_ndcg", _ann07_oracle_sql())
def ann07_lsh_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of the LSH ANN ranking against the exact ideal ordering,
    per query — the rank-aware approximation-quality dial (ann05's
    recall ignores position)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _ANN07_DISC]), F.col("rank").cast("int"))
    term = (F.round((F.col("cosine") + 1.0) * disc, 9)
            .cast("decimal(18,9)"))
    brute = ANN.brute_force_topk(emb, queries, "vec_id", "embedding",
                                 k=_ANN07_K)
    idcg = brute.groupBy("query_id").agg(F.sum(term).alias("idcg"))
    lsh = ANN.lsh_topk(emb, queries, "vec_id", "embedding", k=_ANN07_K,
                       n_planes=_ANN02_PLANES, dim=_ANN02_DIM)
    dcg = (lsh.groupBy("query_id")
           .agg(F.sum(term).alias("dcg"),
                F.count(F.lit(1)).cast("long").alias("n_found")))
    d = dcg.select(F.col("query_id").alias("dq"), "dcg", "n_found")
    return (idcg.join(F.broadcast(d),
                      F.col("query_id") == F.col("dq"), "left")
            .select("query_id",
                    F.coalesce(F.col("n_found"), F.lit(0)).cast("long")
                    .alias("n_found"),
                    F.round(F.coalesce(F.col("dcg"), F.lit(0))
                            .cast("double")
                            / F.col("idcg"), 4).cast("double")
                    .alias("ndcg")))


# --- ts06 — additive seasonal decomposition ---------------------------------
_TS06_SQL = f"""WITH raw AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS b,
         count(*)::BIGINT AS v
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), grid AS (
  SELECT unnest(generate_series((SELECT min(b) FROM raw),
                                (SELECT max(b) FROM raw),
                                INTERVAL 1 HOUR)) AS b
), s AS (
  SELECT grid.b, coalesce(raw.v, 0) AS v
  FROM grid LEFT JOIN raw USING (b)
), t AS (
  SELECT b, v,
         {XR.round_ratio_int_sql(
             'sum(v) OVER (ORDER BY b ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)',
             'count(*) OVER (ORDER BY b ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)',
             6)} AS t6
  FROM s
), ph AS (
  SELECT b, v, t6,
         (epoch_us(b) // 3600000000) % 24 AS phase
  FROM t
), se AS (
  SELECT phase,
         {XR.round_ratio_int_sql('sum(1000000*v::HUGEINT - t6)',
                                 '1000000*count(*)::HUGEINT', 6)} AS s6
  FROM ph GROUP BY phase
)
SELECT ph.b AS bucket, ph.v::DOUBLE AS v,
       ph.t6 / 1e6 AS trend, se.s6 / 1e6 AS seasonal,
       {XR.round_ratio_sql('1000000*ph.v::HUGEINT - ph.t6 - se.s6',
                           '1000000', 4)} AS remainder
FROM ph JOIN se USING (phase)"""


@register("ts06_seasonal_decompose", _TS06_SQL)
def ts06_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-rate decomposition: 24h centered-MA trend (explode +
    re-group over the bounded zero-filled grid — no ordering window),
    hour-of-day seasonal profile, residual anomaly signal."""
    from dataqtor_spark.operators import behavior as B

    return B.seasonal_decompose(_t(spark, sf_dir, "events"), "ts",
                                bucket="hour", period=24, trend_window=24)


# --- d10 — dedup run report (cluster-size histogram + reduction rate) -------
@register(
    "d10_dedup_report",
    f"""WITH RECURSIVE pairs AS ({_D02_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
cc(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, cc.label FROM edges e JOIN cc ON cc.id = e.dst
),
comp AS (SELECT id, min(label) AS component FROM cc GROUP BY id),
sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1),
tot AS (SELECT count(*) AS n_docs FROM documents),
dup AS (SELECT sum(cluster_size) AS in_clusters,
               count(*) AS n_clusters FROM sizes)
SELECT cluster_size::BIGINT AS cluster_size,
       count(*)::BIGINT AS n_clusters,
       (SELECT round((n_docs - in_clusters + n_clusters) * 1.0 / n_docs, 4)
        FROM tot, dup) AS survivor_rate
FROM sizes GROUP BY cluster_size""",
)
def d10_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup run's governance report: near-dup cluster-size histogram
    plus the corpus survivor rate (docs kept after keeping one survivor
    per cluster).  Composes the d02 pair pass + d06 components + bounded
    aggregates — the number every curation run logs before/after."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=5,
                                   threshold=0.2)
    comp = DD.connected_components(pairs)
    sizes = (comp.groupBy("component")
             .agg(F.count(F.lit(1)).alias("cluster_size")))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dup = sizes.agg(F.sum("cluster_size").alias("in_clusters"),
                    F.count(F.lit(1)).alias("n_clusters"))
    rate = (n_docs.crossJoin(F.broadcast(dup))
            .select(F.round((F.col("n_docs") - F.col("in_clusters")
                             + F.col("n_clusters")) * 1.0 / F.col("n_docs"),
                            4).alias("survivor_rate")))
    return (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
            .select(F.col("cluster_size").cast("long").alias("cluster_size"),
                    "n_clusters")
            .crossJoin(F.broadcast(rate)))


# --- f15 — robust scaling repair (median/IQR standardization) ---------------
_F15_SQL = """WITH s AS (
  SELECT round(quantile_cont(c_acctbal, 0.5), 6) AS med,
         round(quantile_cont(c_acctbal, 0.75)
               - quantile_cont(c_acctbal, 0.25), 6) AS iqr
  FROM customer WHERE c_acctbal IS NOT NULL
)
SELECT c_custkey, round((c_acctbal - med) / iqr, 4) AS acctbal_scaled
FROM customer, s WHERE c_acctbal IS NOT NULL"""


@register("f15_robust_scale_acctbal", _F15_SQL)
def f15_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-pipeline repair: robust standardization (x − median)/IQR —
    outlier-insensitive where z-scores are not (f13's winsorize clips,
    this rescales).  One exact-percentile aggregate broadcast over the
    table; exact mode is the oracle path, approx_percentile the 100 TB
    swap-in (pr17's contract)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal").isNotNull())
    stats = c.agg(
        F.round(F.percentile("c_acctbal", F.lit(0.5)), 6).alias("med"),
        F.round(F.percentile("c_acctbal", F.lit(0.75))
                - F.percentile("c_acctbal", F.lit(0.25)), 6).alias("iqr"))
    return (c.crossJoin(F.broadcast(stats))
            .select("c_custkey",
                    F.round((F.col("c_acctbal") - F.col("med"))
                            / F.col("iqr"), 4).alias("acctbal_scaled")))


# --- er03 — blocking-quality evaluation (pair completeness / reduction) -----
# The record-linkage/dedup analog of ann05: does the LSH banding stage
# find the TRUE near-dup pairs (pair completeness) while pruning the
# quadratic pair space (reduction ratio)?  Truth = the exact inverted-
# index Jaccard pairs (d02 semantics); candidates = the MinHash banding
# stage BEFORE verification.  Both pipelines SQL-replayed end-to-end.
_ER03_SQL = f"""{_minhash_cte_prefix()},
truth AS (SELECT id_a, id_b FROM ({_D02_PAIRS_SQL})),
nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
m AS (
  SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
         (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
         (SELECT count(*) FROM cand c
            JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b)::BIGINT
           AS n_hit)
SELECT n_truth, n_candidates, n_hit,
       round(n_hit * 1.0 / n_truth, 4) AS pair_completeness,
       round(1.0 - n_candidates / (SELECT n * (n - 1) / 2.0 FROM nd), 6)
         AS reduction_ratio
FROM m"""


@register("er03_blocking_quality", _ER03_SQL)
def er03_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-stage evaluation: MinHash banding candidates vs the exact
    Jaccard truth pairs — pair completeness (recall of true pairs) and
    reduction ratio (fraction of the quadratic pair space pruned), the
    two numbers every blocking scheme is judged by."""
    docs = _t(spark, sf_dir, "documents")
    # truth (exact inverted-index pairs) and candidates (MinHash banding)
    # are independent eager pipelines until the hit join; building them
    # in threads overlaps the two materializations (the d11 device)
    from concurrent.futures import ThreadPoolExecutor

    def _truth():
        return DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=5,
                                      threshold=0.2, max_doc_freq=None) \
            .select("id_a", "id_b")

    def _cand():
        # eager localCheckpoint: cand feeds TWO consumers (the candidate
        # count and the hit join) — lazy, each would recompute the full
        # signature + banding pipeline; materialized, the corpus-sized
        # signature pass runs exactly once (candidate pairs are bounded
        # by true-duplicate density, not corpus size, so the pin is small)
        sig = DD.minhash_signatures_portable(docs, "doc_id", "text",
                                             _MH_HASHES, _MH_SHINGLE)
        return DD.minhash_candidates(sig, "doc_id", _MH_HASHES,
                                     _MH_BANDS).localCheckpoint()

    with ThreadPoolExecutor(2) as ex:
        truth_f, cand_f = ex.submit(_truth), ex.submit(_cand)
        truth, cand = truth_f.result(), cand_f.result()
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    nh = (cand.join(truth, ["id_a", "id_b"])
          .agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (nt.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(nh))
            .crossJoin(F.broadcast(nd))
            .select("n_truth", "n_candidates", "n_hit",
                    F.round(F.col("n_hit") * 1.0 / F.col("n_truth"), 4)
                    .alias("pair_completeness"),
                    F.round(1.0 - F.col("n_candidates")
                            / (F.col("n") * (F.col("n") - 1) / 2.0), 6)
                    .alias("reduction_ratio")))


# --- a26 — FK fan-out / join-cardinality reconciliation ----------------------
_A26_SQL = """WITH fan AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS n_children
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
), orphans AS (
  SELECT count(*) AS n FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey)
)
SELECT 'customer<-orders' AS fk,
       count(*)::BIGINT AS n_parents,
       sum(CASE WHEN n_children = 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_childless,
       min(n_children)::BIGINT AS min_fanout,
       max(n_children)::BIGINT AS max_fanout,
       round(avg(n_children), 4) AS avg_fanout,
       round(quantile_cont(n_children, 0.5), 4) AS p50_fanout,
       (SELECT n FROM orphans)::BIGINT AS n_orphan_children
FROM fan"""


@register("a26_fk_fanout_profile", _A26_SQL)
def a26_fk_fanout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality reconciliation for the customer←orders FK: the
    fan-out distribution (children per parent, childless parents) plus
    orphaned children — the numbers that predict a join's output size
    and catch referential drift BEFORE a 100 TB join materializes it.
    One outer-join aggregate + one anti-join count."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    fan = (c.join(o, c["c_custkey"] == o["o_custkey"], "left")
           .groupBy("c_custkey")
           .agg(F.count("o_orderkey").alias("n_children")))
    orphans = (o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
               .agg(F.count(F.lit(1)).cast("long")
                    .alias("n_orphan_children")))
    prof = fan.agg(
        F.count(F.lit(1)).cast("long").alias("n_parents"),
        F.sum(F.when(F.col("n_children") == 0, 1).otherwise(0))
        .cast("long").alias("n_childless"),
        F.min("n_children").cast("long").alias("min_fanout"),
        F.max("n_children").cast("long").alias("max_fanout"),
        F.round(F.avg("n_children"), 4).alias("avg_fanout"),
        F.round(F.percentile("n_children", F.lit(0.5)), 4)
        .alias("p50_fanout"))
    return (prof.crossJoin(F.broadcast(orphans))
            .select(F.lit("customer<-orders").alias("fk"),
                    "n_parents", "n_childless", "min_fanout", "max_fanout",
                    "avg_fanout", "p50_fanout", "n_orphan_children"))


# --- mb03 — co-occurrence recommendations (next-basket top-3) ----------------
_MB03_SQL = """WITH items AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
  WHERE l_partkey IS NOT NULL
), nb AS (SELECT count(DISTINCT b) AS n_baskets FROM items),
supp AS (SELECT i AS item, count(*)::BIGINT AS n_item FROM items GROUP BY 1),
pairs AS (
  SELECT x.i AS a, y.i AS b, count(*)::BIGINT AS n_ab
  FROM items x JOIN items y ON x.b = y.b AND x.i < y.i
  GROUP BY 1, 2 HAVING count(*) >= 2
), bidir AS (
  SELECT a, b, n_ab FROM pairs
  UNION ALL SELECT b, a, n_ab FROM pairs
), rules AS (
  SELECT a, b,
         ((2*n_ab::HUGEINT*n_baskets*1000000 + sa.n_item*sb.n_item)
          // (2*sa.n_item::HUGEINT*sb.n_item)) / 1e6 AS lift
  FROM bidir
  JOIN supp sa ON sa.item = a
  JOIN supp sb ON sb.item = b
  CROSS JOIN nb
), hist AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey < 20 AND l.l_partkey IS NOT NULL
), cand AS (
  SELECT h.u, r.b AS rec, max(r.lift) AS score
  FROM hist h JOIN rules r ON r.a = h.i
  WHERE NOT EXISTS (SELECT 1 FROM hist h2
                    WHERE h2.u = h.u AND h2.i = r.b)
  GROUP BY h.u, r.b
)
SELECT u AS custkey, rec AS partkey, score, rank FROM (
  SELECT u, rec, score,
         row_number() OVER (PARTITION BY u
                            ORDER BY score DESC, rec ASC) AS rank
  FROM cand) WHERE rank <= 3"""


@register("mb03_cooccurrence_recs", _MB03_SQL)
def mb03_cooccurrence_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-basket recommendations from association rules: for each user
    in a bounded subset, the top-3 not-yet-ordered parts by max lift from
    anything in their history.  Composes the posting-list rules table
    (support-cut, no top-k truncation) with a history join and an
    owned-item anti-join; ranking is a per-user PARTITIONED window."""
    from pyspark.sql.window import Window

    from dataqtor_spark.operators import behavior as B

    li = _t(spark, sf_dir, "lineitem")
    rules = B.association_rules(li, "l_orderkey", "l_partkey",
                                min_pair_support=2, top_k=None) \
        .select("a", "b", "lift")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 20)
    hist = (o.join(li.select("l_orderkey", "l_partkey"),
                   o["o_orderkey"] == li["l_orderkey"])
            .filter(F.col("l_partkey").isNotNull())
            .select(F.col("o_custkey").alias("u"),
                    F.col("l_partkey").alias("i")).distinct())
    cand = (hist.join(rules, hist["i"] == rules["a"])
            .groupBy("u", F.col("b").alias("rec"))
            .agg(F.max("lift").alias("score")))
    owned = hist.select("u", F.col("i").alias("rec"))
    cand = cand.join(owned, ["u", "rec"], "left_anti")
    w = Window.partitionBy("u").orderBy(F.desc("score"), F.asc("rec"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select(F.col("u").alias("custkey"),
                    F.col("rec").alias("partkey"), "score",
                    F.col("rank").cast("long").alias("rank")))


# --- t32 — packing-efficiency report -----------------------------------------
_T32_SQL = _T10_CTE + """
SELECT shard, count(*)::BIGINT AS n_bins,
       CAST(ceil(sum(n_tokens) / 512.0) AS BIGINT) AS min_bins,
       sum(n_tokens)::BIGINT AS total_tokens,
       round(sum(n_tokens) / (count(*) * 512.0), 4) AS fill_rate
FROM bins GROUP BY shard"""


@register("t32_packing_efficiency", _T32_SQL)
def t32_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-writer governance for t10's greedy packing: per shard,
    bins used vs the ceil(total/budget) lower bound and the realized
    fill rate — the wasted-compute number a packing change is judged by
    (greedy-by-prefix-sum wastes < one chunk per bin boundary)."""
    docs = _t(spark, sf_dir, "documents")
    chunks = TX.chunk_documents(docs, max_tokens=64, overlap=8)
    sharded = TX.assign_shards(chunks, "doc_id", n_shards=8)
    packed = TX.pack_sequences(sharded, token_budget=512)
    bins = (packed.groupBy("shard", "bin")
            .agg(F.sum("n_chunk_tokens").alias("n_tokens")))
    return (bins.groupBy("shard")
            .agg(F.count(F.lit(1)).cast("long").alias("n_bins"),
                 F.ceil(F.sum("n_tokens") / 512.0).cast("long")
                 .alias("min_bins"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"),
                 F.round(F.sum("n_tokens") / (F.count(F.lit(1)) * 512.0), 4)
                 .alias("fill_rate")))


# --- w04 — SCD2 time-travel snapshot ----------------------------------------
_W04_AT = "2024-01-15 12:00:00"
_W04_SQL = f"""WITH h AS ({_W02_SQL})
SELECT user_id, event_type, valid_from, valid_to
FROM h
WHERE valid_from <= TIMESTAMP '{_W04_AT}'
  AND valid_to > TIMESTAMP '{_W04_AT}'"""


@register("w04_scd2_snapshot", _W04_SQL)
def w04_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the w02 SCD2 history: the dimension's exact
    state as of a fixed instant — one covering-interval row per key,
    a pure filter over the history (partition/Z-order on valid_from
    prunes it at rest)."""
    from dataqtor_spark.operators import scd as SCD

    hist = SCD.scd2_from_history(_t(spark, sf_dir, "events"),
                                 "user_id", "ts", ["event_type"],
                                 tiebreak_col="event_id")
    hist = hist.withColumn("valid_to", F.coalesce(
        F.col("valid_to"), F.lit("2200-01-01").cast("timestamp")))
    return (SCD.snapshot_at(hist, _W04_AT, "user_id")
            .select("user_id", "event_type", "valid_from", "valid_to"))


# --- r21 — Luhn mod-10 checksum rule ----------------------------------------
# Card-shaped numbers derived deterministically from custkey (the usual
# derived-pattern device); the final digit is the key's own last digit,
# so ~10% of rows pass the mod-10 check by construction.
_R21_NUM = ("'42' || lpad(CAST((c_custkey * 7919) % 100000000000000 "
            "AS VARCHAR), 14, '0')")


def _r21_sql() -> str:
    from dataqtor_spark.functions.checksums import luhn_valid_sql

    return f"""SELECT {luhn_valid_sql(_R21_NUM, 16)} AS luhn_valid,
       count(*)::BIGINT AS n
FROM customer GROUP BY 1"""


@register("r21_luhn_checksum", _r21_sql())
def r21_luhn_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn mod-10 validity over derived card-shaped numbers — the
    payment-card/IMEI sibling of the reference's TR-ID/tax checksums
    (functions/checksums.py), as one generated arithmetic expression
    shared verbatim by both engines."""
    from dataqtor_spark.functions.checksums import luhn_valid_sql

    c = _t(spark, sf_dir, "customer")
    num_spark = ("'42' || lpad(CAST((c_custkey * 7919) % 100000000000000 "
                 "AS STRING), 14, '0')")
    return (c.select(F.expr(luhn_valid_sql(num_spark, 16))
                     .alias("luhn_valid"))
            .groupBy("luhn_valid")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


# --- geo03 — geohash-blocked proximity pairs ---------------------------------
_GEO03_PRECISION, _GEO03_KM = 2, 300.0
_GEO03_PTS = """SELECT c_custkey AS id,
         ((c_custkey * 7919) % 17000) / 100.0 - 85.0 AS lat,
         ((c_custkey * 104729) % 35900) / 100.0 - 179.5 AS lng
  FROM customer"""


def _geo03_oracle_sql() -> str:
    cell, nx, ny = _geohash_cell_sql(_GEO03_PRECISION)
    return f"""WITH pts AS (
  {_GEO03_PTS}
), q AS (
  SELECT id, radians(lat) AS la, radians(lng) AS lo,
         least(CAST(floor((lng + 180.0) / 360.0 * {2 ** nx}) AS BIGINT),
               {2 ** nx - 1}) AS x,
         least(CAST(floor((lat + 90.0) / 180.0 * {2 ** ny}) AS BIGINT),
               {2 ** ny - 1}) AS y
  FROM pts
), cells AS (
  SELECT id, la, lo, {cell} AS cell FROM q
)
SELECT a.cell, a.id AS id_a, b.id AS id_b,
       round(2 * 6371.0 * asin(sqrt(
         pow(sin((b.la - a.la) / 2), 2)
         + cos(a.la) * cos(b.la) * pow(sin((b.lo - a.lo) / 2), 2))), 3)
         AS dist_km
FROM cells a JOIN cells b ON a.cell = b.cell AND a.id < b.id
WHERE round(2 * 6371.0 * asin(sqrt(
        pow(sin((b.la - a.la) / 2), 2)
        + cos(a.la) * cos(b.la) * pow(sin((b.lo - a.lo) / 2), 2))), 3)
      <= {_GEO03_KM}"""


@register("geo03_blocked_proximity_pairs", _geo03_oracle_sql())
def geo03_blocked_proximity_pairs(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The geohash-blocking claim as a measured query: proximity pairs
    found through cell equi-joins + exact haversine refine, over the
    derived point cloud — a radius self-join with NO cross product."""
    from dataqtor_spark.operators import enrich as E

    did = F.col("c_custkey")
    pts = _t(spark, sf_dir, "customer").select(
        did.alias("id"),
        (((did * 7919) % 17000) / 100.0 - 85.0).alias("lat"),
        (((did * 104729) % 35900) / 100.0 - 179.5).alias("lng"))
    return E.geohash_blocked_pairs(pts, "id", "lat", "lng",
                                   precision=_GEO03_PRECISION,
                                   max_km=_GEO03_KM)


# --- pr26 — pairwise normalized-MI matrix ------------------------------------
_PR26_DOW = "(datediff('day', DATE '1995-01-01', o_orderdate) % 7)"
_PR26_COLS = [("status", "o_orderstatus"),
              ("priority", "o_orderpriority"),
              ("dow", _PR26_DOW)]


def _pr26_pair_sql(la: str, ea: str, lb: str, eb: str) -> str:
    return f"""SELECT * FROM (
WITH j AS (
  SELECT {ea} AS a, {eb} AS b, count(*) * 1.0 AS n
  FROM orders WHERE {ea} IS NOT NULL AND {eb} IS NOT NULL
  GROUP BY 1, 2
), t AS (SELECT sum(n) AS t FROM j),
pa AS (SELECT a, sum(n) AS na FROM j GROUP BY a),
pb AS (SELECT b, sum(n) AS nb FROM j GROUP BY b),
f AS (SELECT j.*, pa.na, pb.nb, t.t
      FROM j JOIN pa USING (a) JOIN pb USING (b) CROSS JOIN t),
m AS (SELECT
  round(-sum((na / t) * ln(na / t) * n / na), 6) AS entropy_a,
  round(-sum((nb / t) * ln(nb / t) * n / nb), 6) AS entropy_b,
  round(sum((n / t) * ln((n / t) / ((na / t) * (nb / t)))), 6) AS mi
FROM f)
SELECT '{la}' AS col_a, '{lb}' AS col_b, entropy_a, entropy_b, mi,
       round(mi / least(entropy_a, entropy_b), 6) AS nmi
FROM m)"""


_PR26_SQL = "\nUNION ALL\n".join(
    _pr26_pair_sql(la, ea, lb, eb)
    for i, (la, ea) in enumerate(_PR26_COLS)
    for lb, eb in _PR26_COLS[i + 1:])


@register("pr26_nmi_matrix", _PR26_SQL)
def pr26_nmi_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise normalized mutual information over three categoricals
    (status, priority, engine-exact day-of-week): the dependence matrix
    a feature-selection pass reads.  NMI = MI / min(H) computed from the
    already-rounded components so both engines divide identical values;
    each pair is one joint-count shuffle (pr18's shape)."""
    o = _t(spark, sf_dir, "orders")
    dow = (F.datediff(F.to_date("o_orderdate"),
                      F.lit("1995-01-01").cast("date")) % 7)
    src = o.select(F.col("o_orderstatus").alias("status"),
                   F.col("o_orderpriority").alias("priority"),
                   dow.alias("dow"))
    labels = [la for la, _ in _PR26_COLS]
    # ONE corpus pass: the full |labels|-way contingency cube (bounded by
    # the product of the categorical cardinalities, ~105 rows here);
    # every pair's joint table re-aggregates the cube — identical integer
    # counts, so the rounded entropy/MI doubles cannot differ from the
    # per-pair scans this replaces (3 orders scans -> 1).  Eager
    # localCheckpoint so the pass runs once across the 3 pair consumers.
    cube = (src.groupBy(*labels)
            .agg(F.count(F.lit(1)).alias("__n")).localCheckpoint())
    outs = []
    for i, la in enumerate(labels):
        for lb in labels[i + 1:]:
            j = (cube.filter(F.col(la).isNotNull()
                             & F.col(lb).isNotNull())
                 .groupBy(F.col(la).alias("a"), F.col(lb).alias("b"))
                 .agg(F.sum("__n").cast("double").alias("n")))
            m = P._entropy_mi_from_joint(j)
            outs.append(m.select(
                F.lit(la).alias("col_a"), F.lit(lb).alias("col_b"),
                "entropy_a", "entropy_b",
                F.col("mutual_information").alias("mi"),
                F.round(F.col("mutual_information")
                        / F.least(F.col("entropy_a"), F.col("entropy_b")),
                        6).alias("nmi")))
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


# --- s16 — sliding (hopping) window aggregates -------------------------------
@register(
    "s16_sliding_window_agg",
    """WITH x AS (
  SELECT event_type, value,
         unnest([time_bucket(INTERVAL '1 hour', ts),
                 time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour'])
           AS window_start
  FROM events
)
SELECT window_start, window_start + INTERVAL '2 hours' AS window_end,
       count(*)::BIGINT AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM x GROUP BY 1, 2""",
)
def s16_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2h windows hopping every 1h (each event lands in two overlapping
    windows) — the moving-average read; the oracle expands each event to
    its covering slide-aligned starts.  Identical semantics on a stream
    with a watermark."""
    return SP.windowed_event_agg(_t(spark, sf_dir, "events"),
                                 window="2 hours", slide="1 hour",
                                 group_col=None)


# --- m04 — perceptual image near-duplicate pairs (pHash + hamming banding) --
# The image sibling of d04 SimHash dedup: multimodal.image_phash computes a
# 64-bit perceptual hash per payload (PIL / stdlib-PNG / sha-derived fake
# tiers), multimodal.phash_near_pairs bands it into 4×16-bit chunks for a
# bucket equi-join + exact xor/bit_count verify.  The registry query pins
# the fake tier (the m02 oracle device: 56-bit hash from sha256 bytes 1-7)
# and PLANTS a hamming-1 neighbour per doc (bit doc_id%56 flipped), so the
# banding + verify path is exercised end-to-end; pigeonhole makes 4-band
# recall EXACT at max_hamming=3, so the oracle can replay with a brute-force
# all-pairs hamming join and the results must agree bit-for-bit.  Real-PNG
# near-identical images are covered in tests/test_multimodal.py.
_M04_PHASH_BYTES = " + ".join(
    f"(CAST({_sha_byte_sql('h', k)} AS BIGINT) << {8 * (7 - k)})"
    for k in range(1, 8))
_M04_SQL = f"""WITH base AS (
  SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id < 300
), sig0 AS (
  SELECT doc_id, ({_M04_PHASH_BYTES}) AS phash FROM base
), sig AS (
  SELECT doc_id * 2 AS media_id, phash FROM sig0
  UNION ALL
  SELECT doc_id * 2 + 1 AS media_id,
         xor(phash, CAST(1 AS BIGINT) << CAST(doc_id % 56 AS INT)) AS phash
  FROM sig0
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3"""


@register("m04_image_phash_pairs", _M04_SQL)
def m04_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs over sha-derived fake-decode
    payloads with a planted hamming-1 neighbour per image; banded
    candidate join (signatures only shuffle, never payloads) + exact
    hamming verify, oracle-replayed as brute-force all-pairs."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"))
    sig = MM.image_phash(docs, use_codec=False)
    flip = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(media_id % 56 AS INT))")
    planted = sig.select(
        (F.col("media_id") * 2).alias("media_id"), "phash").unionByName(
        sig.select((F.col("media_id") * 2 + 1).alias("media_id"),
                   F.col("phash").bitwiseXOR(flip).alias("phash")))
    return MM.phash_near_pairs(planted, max_hamming=3)


# --- bpe02/bpe03 — BPE tokenizer training + tokenizer-true token counts ----
# Closes the bpe01 loop (VERDICT.md r7, task 3): bpe01 found round-1 merge
# CANDIDATES; bpe02 runs the full iterative merge-apply-recount trainer
# (textstats.bpe_train — one corpus-sized shuffle for word counts, then R
# bounded rounds over the distinct-word vocabulary, 1-row ledger collect per
# round) and bpe03 counts learned-vocab subword tokens per source by joining
# the trained vocabulary segmentation back to the corpus (the t01 token-count
# read, tokenizer-true).  The oracle replays ALL R rounds as an unrolled CTE
# chain (the g01 fixed-rounds device) using the same two-pass literal-replace
# merge semantics — see textstats._bpe_merge_seq for why replace() is
# engine-portable here.
_BPE_ROUNDS = 8


def _bpe_cte_chain(rounds: int) -> str:
    sql = """WITH w AS (
  SELECT tok AS word, count(*)::BIGINT AS cnt FROM (
    SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+'),
                              x -> x <> '')) AS tok
    FROM documents) WHERE regexp_matches(tok, '^[a-z]+$')
  GROUP BY 1
), s0 AS (
  SELECT word, cnt, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
  FROM w
)"""
    for r in range(rounds):
        sql += f""", p{r} AS (
  SELECT pr[1] AS a, pr[2] AS b, sum(cnt)::BIGINT AS n
  FROM (
    SELECT cnt, unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS pr
    FROM (SELECT cnt, list_filter(string_split(seq, ' '), x -> x <> '') AS l
          FROM s{r}) WHERE len(l) > 1)
  GROUP BY 1, 2
), b{r} AS (
  SELECT a, b, n FROM p{r} ORDER BY n DESC, a, b LIMIT 1
), s{r + 1} AS (
  SELECT word, cnt,
         replace(replace(seq, ' ' || a || ' ' || b || ' ',
                         ' ' || a || b || ' '),
                 ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS seq
  FROM s{r}, b{r}
)"""
    return sql


_BPE02_SQL = (_bpe_cte_chain(_BPE_ROUNDS) + "\nSELECT * FROM (\n"
              + "\nUNION ALL\n".join(
                  f"SELECT CAST({r} AS INT) AS merge_round, a AS sym_a, "
                  f"b AS sym_b, a || b AS merged, n FROM b{r}"
                  for r in range(_BPE_ROUNDS))
              + "\n) ORDER BY merge_round")


@register("bpe02_bpe_train", _BPE02_SQL)
def bpe02_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained merge table after R=8 rounds — each row a (pair →
    new symbol) rule with its corpus count at selection time."""
    merges, _words = TX.bpe_train(_t(spark, sf_dir, "documents"),
                                  rounds=_BPE_ROUNDS)
    return local_frame(
        spark, [(m["round"], m["sym_a"], m["sym_b"], m["merged"], m["n"])
                for m in merges],
        "merge_round int, sym_a string, sym_b string, merged string, n long")


_BPE03_SQL = (_bpe_cte_chain(_BPE_ROUNDS) + f""", wl AS (
  SELECT word, len(list_filter(string_split(seq, ' '), x -> x <> ''))::BIGINT
           AS n_sub
  FROM s{_BPE_ROUNDS}
), d AS (
  SELECT source, tok FROM (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+'),
                              x -> x <> '')) AS tok
    FROM documents) WHERE regexp_matches(tok, '^[a-z]+$')
)
SELECT source, count(*)::BIGINT AS n_words,
       sum(n_sub)::BIGINT AS n_bpe_tokens,
       {XR.round_ratio_sql('sum(n_sub)::HUGEINT', 'count(*)', 6)}
         AS subwords_per_word
FROM d JOIN wl ON d.tok = wl.word
GROUP BY source""")


@register("bpe03_tokenizer_token_counts", _BPE03_SQL)
def bpe03_tokenizer_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-true token counts per source: train BPE, then join the
    trained vocabulary's segmentation lengths back to the corpus — the
    scale path for counting learned-vocab tokens (one hash join on the
    bounded distinct-word table instead of re-segmenting every
    occurrence; textstats.apply_bpe is the in-row expression sibling,
    equality-tested in pytest)."""
    docs = _t(spark, sf_dir, "documents")
    # serving path: the tokenizer is an offline artifact — train once per
    # process per sf_dir (the ann06 trainer-cache contract; bpe02 stays
    # the honest training benchmark).  The corpus fingerprint in the key
    # makes in-process regeneration of the parquet a cache MISS instead
    # of silently serving a tokenizer trained on the old bytes.
    _merges, words = TX.bpe_train(
        docs, rounds=_BPE_ROUNDS,
        cache_key=f"bpe03:{sf_dir}:"
                  f"{_corpus_fingerprint(f'{sf_dir}/documents.parquet')}")
    n_sub = F.size(F.filter(F.split(F.col("seq"), " "),
                            lambda x: x != "")).cast("long")
    wl = words.select(F.col("word"), n_sub.alias("n_sub"))
    from dataqtor_spark.session import parallelize
    # raw text through the exchange, tokenize above it (single-row-group
    # inputs otherwise tokenize inside the one-task scan stage)
    d = (parallelize(docs.select("source", "text"))
         .select(
            F.col("source"),
            F.filter(F.split(F.trim(F.lower(F.col("text"))), TX.WS_PLUS),
                     lambda t: t != "").alias("__toks"))
         # explode_outer: stops the inferred size()>0 filter from
         # cloning the tokenize below the repartition (the d02
         # with_count trap); the NULL word it emits fails the rlike
         .select("source", F.explode_outer("__toks").alias("word"))
         .filter(F.col("word").rlike("^[a-z]+$")))
    return (d.join(wl, "word")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                 F.sum("n_sub").cast("long").alias("n_bpe_tokens"))
            .withColumn("subwords_per_word",
                        XR.round_ratio(F.col("n_bpe_tokens"),
                                       F.col("n_words"), 6)))


@register(
    "m05_image_dedup_clusters",
    f"""WITH RECURSIVE pairs AS (SELECT * FROM ({_M04_SQL})),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
cc(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, cc.label FROM edges e JOIN cc ON cc.id = e.dst
),
comp AS (SELECT id, min(label) AS component FROM cc GROUP BY id)
SELECT component, count(*)::BIGINT AS cluster_size,
       min(id)::BIGINT AS survivor_id
FROM comp GROUP BY 1""",
)
def m05_image_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-dedup pipeline's last stage: m04's hamming-banded pHash
    pairs → min-label connected components → survivor per visual
    cluster (d06's device on the image modality; components iterate on
    spilled parquet, never a transitive in-memory self-join)."""
    pairs = m04_image_phash_pairs(spark, sf_dir)
    comp = DD.connected_components(pairs)
    return (comp.groupBy("component")
            .agg(F.count(F.lit(1)).alias("cluster_size"),
                 F.min("id").alias("survivor_id")))


@register(
    "ann08_mips_topk",
    """SELECT query_id, neighbor_id, dot, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_inner_product(c.embedding::DOUBLE[],
                                  q.embedding::DOUBLE[]), 6) AS dot,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_inner_product(c.embedding::DOUBLE[],
                          q.embedding::DOUBLE[]), 6) DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings c, embeddings q
  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
) WHERE rank <= 5""",
)
def ann08_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product retrieval (dot-product dual encoders,
    where cosine normalization is the wrong objective): exact brute
    scored-broadcast baseline; the norm-augmentation reduction
    (ann.mips_augment) routes the same workload through the LSH/IVF/PQ
    cosine structures at scale, equality-tested in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = ANN.mips_topk(emb, queries, "vec_id", "embedding", k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


# --- m06 — perceptual audio near-duplicate pairs (fingerprint + banding) ---
# Audio sibling of m04, completing the text/image/audio near-dup triplet:
# multimodal.audio_fingerprint (real tier: WAV rFFT 9x8 time-band spectral
# gradient signs, pytest-covered on synthesized PCM) feeds the same 4x16-bit
# hamming banding.  The registry query pins the sha-derived fake tier (the
# m02/m04 oracle device) and PLANTS a hamming-2 neighbour per track (bits
# doc_id%56 and (doc_id*7+13)%56 — never equal mod 56, since 6d = 43 mod 56
# has no solution with 43 odd), so banding recall at max_hamming=3 is
# pigeonhole-exact and the DuckDB oracle replays with brute-force all-pairs.
_M06_AFP_BYTES = " + ".join(
    f"(CAST({_sha_byte_sql('h', k)} AS BIGINT) << {8 * (7 - k)})"
    for k in range(1, 8))
_M06_SQL = f"""WITH base AS (
  SELECT doc_id, sha256(text) AS h FROM documents
  WHERE doc_id >= 300 AND doc_id < 550
), sig0 AS (
  SELECT doc_id, ({_M06_AFP_BYTES}) AS afp FROM base
), sig AS (
  SELECT doc_id * 2 AS media_id, afp FROM sig0
  UNION ALL
  SELECT doc_id * 2 + 1 AS media_id,
         xor(xor(afp, CAST(1 AS BIGINT) << CAST(doc_id % 56 AS INT)),
             CAST(1 AS BIGINT) << CAST((doc_id * 7 + 13) % 56 AS INT)) AS afp
  FROM sig0
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.media_id < b.media_id
WHERE bit_count(xor(a.afp, b.afp)) <= 3"""


@register("m06_audio_fp_pairs", _M06_SQL)
def m06_audio_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio near-dup pairs over sha-derived fake-fingerprint
    payloads with a planted hamming-2 neighbour per track; banded
    candidate join (8-byte fingerprints shuffle, payloads never do) +
    exact hamming verify, oracle-replayed as brute-force all-pairs."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 550)).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"))
    sig = MM.audio_fingerprint(docs, use_codec=False)
    flip = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(media_id % 56 AS INT)) ^ "
        "shiftleft(CAST(1 AS BIGINT), CAST((media_id * 7 + 13) % 56 AS INT))")
    planted = sig.select(
        (F.col("media_id") * 2).alias("media_id"), "afp").unionByName(
        sig.select((F.col("media_id") * 2 + 1).alias("media_id"),
                   F.col("afp").bitwiseXOR(flip).alias("afp")))
    return MM.afp_near_pairs(planted, max_hamming=3)


# --- hilbert01 — Hilbert-curve layout key (continuity-tight pruning) -------
# The Z-order sibling with provably tighter segment bounding boxes: the
# Hilbert curve never jumps (consecutive steps are grid-adjacent), so the
# per-segment min/max spans this query audits — exactly the row-group
# stats a Hilbert-clustered parquet file exposes — stay compact across
# power-of-two seams where Morton diagonals blow up.  The per-bit state
# fold runs as chained projections in Spark and replays bit-for-bit as an
# unrolled CTE chain in DuckDB (layout.hilbert_cte_sql, the g01 device).
_H01_BITS, _H01_SEG = 8, 6  # 16-bit curve, segments of 2^6 steps


def _hilbert01_sql() -> str:
    from dataqtor_spark.operators.layout import hilbert_cte_sql

    chain = hilbert_cte_sql(
        base_sql=("SELECT (user_id & 255) AS user_id, "
                  "(datediff('day', DATE '2024-01-01', ts) & 255) AS day "
                  "FROM events"),
        passthrough=["user_id", "day"],
        x_sql="user_id", y_sql="day", bits=_H01_BITS)
    return f"""SELECT seg, count(*)::BIGINT AS n_rows,
       min(user_id)::BIGINT AS min_user, max(user_id)::BIGINT AS max_user,
       min(day)::BIGINT AS min_day, max(day)::BIGINT AS max_day
FROM (
  SELECT (hvalue >> {_H01_SEG}) AS seg, user_id, day
  FROM ({chain})
) GROUP BY seg"""


@register("hilbert01_curve_segments", _hilbert01_sql())
def hilbert01_curve_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout audit over events: index (user mod 2^8, day
    mod 2^8), rows grouped into 2^6-step curve segments, per-segment
    count + both dimensions' min/max — the stats pruning would use,
    tighter than zorder01's by curve continuity."""
    from dataqtor_spark.operators.layout import with_hilbert

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.col("user_id").bitwiseAND(F.lit(255)).alias("user_id"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .bitwiseAND(F.lit(255)).alias("day"))
    h = with_hilbert(base, "user_id", "day", bits=_H01_BITS)
    return (h.select(F.shiftright(F.col("hvalue"), _H01_SEG).alias("seg"),
                     F.col("user_id").cast("long").alias("user_id"),
                     F.col("day").cast("long").alias("day"))
            .groupBy("seg")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("user_id").alias("min_user"),
                 F.max("user_id").alias("max_user"),
                 F.min("day").alias("min_day"),
                 F.max("day").alias("max_day")))


# --- mix01 — budgeted domain-mixture allocation ----------------------------
# The static data-mixing step of a training run (The Pile / DoReMi fixed
# weights) as exact integer arithmetic: largest-remainder quotas (sum to
# the budget bit-for-bit — no float shares), availability caps, shortfall
# and oversampling epochs.  Weights deliberately include a surplus domain
# (de), heavy-shortfall domains (en), and a domain absent from the corpus
# (it → zero avail, NULL epochs); budget 30007 is coprime-ish to W=1000 so
# the remainder ranking actually engages.  One corpus-sized groupBy; all
# quota math on the 6-row domain frame.
_MIX01_TOKENS = ("sum(CASE WHEN length(trim(text)) = 0 THEN 0 "
                 "ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) "
                 "END)::BIGINT")
_MIX01_SQL = f"""WITH avail AS (
  SELECT lang AS domain, count(*)::BIGINT AS n_docs,
         {_MIX01_TOKENS} AS avail_tokens
  FROM documents GROUP BY 1
), w AS (
  SELECT * FROM (VALUES ('de', 100), ('en', 400), ('es', 150),
                        ('fr', 150), ('it', 50), ('zh', 150))
         AS t(domain, weight)
), base AS (
  SELECT w.domain, w.weight::BIGINT AS weight,
         coalesce(a.n_docs, 0) AS n_docs,
         coalesce(a.avail_tokens, 0) AS avail_tokens,
         (30007 * w.weight) // 1000 AS base_q,
         (30007 * w.weight) % 1000 AS rem
  FROM w LEFT JOIN avail a USING (domain)
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, domain ASC) AS rk,
         sum(base_q) OVER () AS tot_base
  FROM base
), quota AS (
  SELECT domain, weight, n_docs, avail_tokens,
         (base_q + CASE WHEN rk <= 30007 - tot_base
                        THEN 1 ELSE 0 END)::BIGINT AS quota_tokens
  FROM ranked
)
SELECT domain, weight, n_docs, avail_tokens, quota_tokens,
       least(quota_tokens, avail_tokens)::BIGINT AS alloc_tokens,
       (quota_tokens
        - least(quota_tokens, avail_tokens))::BIGINT AS shortfall_tokens,
       CASE WHEN avail_tokens > 0
            THEN ((quota_tokens + avail_tokens - 1) // avail_tokens)::BIGINT
       END AS epochs
FROM quota"""


@register("mix01_domain_mixture", _MIX01_SQL)
def mix01_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder token-budget allocation across language domains
    with availability caps, shortfall, and oversampling epochs — exact
    integer quotas replayed bit-for-bit by the oracle."""
    docs = _t(spark, sf_dir, "documents")
    return TX.domain_mixture_plan(
        docs, "lang",
        {"en": 400, "zh": 150, "fr": 150, "es": 150, "de": 100, "it": 50},
        budget=30007)


# --- d11 — cross-modality dedup governance report --------------------------
# One row per modality (text n-gram Jaccard, image pHash, audio
# fingerprint): corpus size, items caught in any near-dup pair, cluster
# count, survivor rate — the single table a curation run logs when all
# three dedup passes ship together.  Composes the d02 pair pass and the
# m04/m06 banded fake-tier pairs with connected components per modality;
# every branch replays in SQL (three recursive CCs under one WITH).
# planted-modality id bounds — used by BOTH the oracle SQL below and the
# Spark body's signature frames / n_items counts
_D11_IMG_MAX, _D11_AUD_LO, _D11_AUD_HI = 300, 300, 550

_D11_SQL = f"""WITH RECURSIVE pairs_t AS ({_D02_PAIRS_SQL}),
edges_t AS (
  SELECT id_a AS src, id_b AS dst FROM pairs_t
  UNION SELECT id_b, id_a FROM pairs_t
),
cc_t(id, label) AS (
  SELECT src, src FROM edges_t
  UNION
  SELECT e.src, cc_t.label FROM edges_t e JOIN cc_t ON cc_t.id = e.dst
),
comp_t AS (SELECT id, min(label) AS component FROM cc_t GROUP BY id),
base_i AS (
  SELECT doc_id, sha256(text) AS h FROM documents
  WHERE doc_id < {_D11_IMG_MAX}
), sig0_i AS (
  SELECT doc_id, ({_M04_PHASH_BYTES}) AS phash FROM base_i
), sig_i AS (
  SELECT doc_id * 2 AS media_id, phash FROM sig0_i
  UNION ALL
  SELECT doc_id * 2 + 1 AS media_id,
         xor(phash, CAST(1 AS BIGINT) << CAST(doc_id % 56 AS INT)) AS phash
  FROM sig0_i
), pairs_i AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b
  FROM sig_i a JOIN sig_i b ON a.media_id < b.media_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 3
),
edges_i AS (
  SELECT id_a AS src, id_b AS dst FROM pairs_i
  UNION SELECT id_b, id_a FROM pairs_i
),
cc_i(id, label) AS (
  SELECT src, src FROM edges_i
  UNION
  SELECT e.src, cc_i.label FROM edges_i e JOIN cc_i ON cc_i.id = e.dst
),
comp_i AS (SELECT id, min(label) AS component FROM cc_i GROUP BY id),
base_a AS (
  SELECT doc_id, sha256(text) AS h FROM documents
  WHERE doc_id >= {_D11_AUD_LO} AND doc_id < {_D11_AUD_HI}
), sig0_a AS (
  SELECT doc_id, ({_M06_AFP_BYTES}) AS afp FROM base_a
), sig_a AS (
  SELECT doc_id * 2 AS media_id, afp FROM sig0_a
  UNION ALL
  SELECT doc_id * 2 + 1 AS media_id,
         xor(xor(afp, CAST(1 AS BIGINT) << CAST(doc_id % 56 AS INT)),
             CAST(1 AS BIGINT) << CAST((doc_id * 7 + 13) % 56 AS INT)) AS afp
  FROM sig0_a
), pairs_a AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b
  FROM sig_a a JOIN sig_a b ON a.media_id < b.media_id
  WHERE bit_count(xor(a.afp, b.afp)) <= 3
),
edges_a AS (
  SELECT id_a AS src, id_b AS dst FROM pairs_a
  UNION SELECT id_b, id_a FROM pairs_a
),
cc_a(id, label) AS (
  SELECT src, src FROM edges_a
  UNION
  SELECT e.src, cc_a.label FROM edges_a e JOIN cc_a ON cc_a.id = e.dst
),
comp_a AS (SELECT id, min(label) AS component FROM cc_a GROUP BY id)
SELECT 'text' AS modality,
       (SELECT count(*) FROM documents)::BIGINT AS n_items,
       (SELECT count(*) FROM comp_t)::BIGINT AS n_dup_items,
       (SELECT count(DISTINCT component) FROM comp_t)::BIGINT AS n_clusters,
       round(((SELECT count(*) FROM documents) - (SELECT count(*) FROM comp_t)
              + (SELECT count(DISTINCT component) FROM comp_t)) * 1.0
             / (SELECT count(*) FROM documents), 4) AS survivor_rate
UNION ALL
SELECT 'image',
       (SELECT count(*) FROM sig_i)::BIGINT,
       (SELECT count(*) FROM comp_i)::BIGINT,
       (SELECT count(DISTINCT component) FROM comp_i)::BIGINT,
       round(((SELECT count(*) FROM sig_i) - (SELECT count(*) FROM comp_i)
              + (SELECT count(DISTINCT component) FROM comp_i)) * 1.0
             / (SELECT count(*) FROM sig_i), 4)
UNION ALL
SELECT 'audio',
       (SELECT count(*) FROM sig_a)::BIGINT,
       (SELECT count(*) FROM comp_a)::BIGINT,
       (SELECT count(DISTINCT component) FROM comp_a)::BIGINT,
       round(((SELECT count(*) FROM sig_a) - (SELECT count(*) FROM comp_a)
              + (SELECT count(DISTINCT component) FROM comp_a)) * 1.0
             / (SELECT count(*) FROM sig_a), 4)"""


@register("d11_multimodal_dedup_report", _D11_SQL)
def d11_multimodal_dedup_report(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Per-modality near-dup governance: text (n-gram Jaccard), image
    (pHash banding), audio (fingerprint banding) — items, dup items,
    clusters, survivor rate in one table."""
    docs = _t(spark, sf_dir, "documents")

    # image (the m04 planted fake-tier device); the planted-modality
    # bounds are shared between the signature frames and the n_items
    # conditional counts below so they cannot drift apart
    img_max, aud_lo, aud_hi = _D11_IMG_MAX, _D11_AUD_LO, _D11_AUD_HI
    idocs = docs.filter(F.col("doc_id") < img_max).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"))
    isig = MM.image_phash(idocs, use_codec=False)
    iflip = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(media_id % 56 AS INT))")
    iplanted = isig.select(
        (F.col("media_id") * 2).alias("media_id"), "phash").unionByName(
        isig.select((F.col("media_id") * 2 + 1).alias("media_id"),
                    F.col("phash").bitwiseXOR(iflip).alias("phash")))
    # audio (the m06 device)
    adocs = docs.filter(
        (F.col("doc_id") >= aud_lo) & (F.col("doc_id") < aud_hi)).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"))
    asig = MM.audio_fingerprint(adocs, use_codec=False)
    aflip = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(media_id % 56 AS INT)) ^ "
        "shiftleft(CAST(1 AS BIGINT), CAST((media_id * 7 + 13) % 56 AS INT))")
    aplanted = asig.select(
        (F.col("media_id") * 2).alias("media_id"), "afp").unionByName(
        asig.select((F.col("media_id") * 2 + 1).alias("media_id"),
                    F.col("afp").bitwiseXOR(aflip).alias("afp")))
    # each modality's WHOLE leg — pair materialization AND the
    # connected-components driver loop — runs in its own thread: the
    # text leg's n-gram pair job (ngram_jaccard_pairs materializes
    # eagerly via localCheckpoint) overlaps the image/audio legs' CC
    # rounds instead of serializing in front of them — same results,
    # ~wall-clock of the slowest leg instead of the sum
    from concurrent.futures import ThreadPoolExecutor

    legs = [
        lambda: DD.connected_components(
            DD.ngram_jaccard_pairs(docs, "doc_id", "text",
                                   n=5, threshold=0.2,
                                   materialize=False)),
        lambda: DD.connected_components(
            MM.phash_near_pairs(iplanted, max_hamming=3)),
        lambda: DD.connected_components(
            MM.afp_near_pairs(aplanted, max_hamming=3)),
    ]
    with ThreadPoolExecutor(3) as ex:
        comps = list(ex.map(lambda leg: leg(), legs))
    # assembly in TWO jobs, not nine: the three comp frames union under a
    # modality tag into one groupBy, and the three n_items counts fuse
    # into ONE documents scan of conditional aggregates (the planted
    # frames are by construction exactly 2 rows per source doc, so no
    # signature mapInPandas re-runs just to count rows).  A modality with
    # zero dup pairs contributes no stats row -> coalesce to 0.
    tagged = (comps[0].withColumn("modality", F.lit("text"))
              .unionByName(comps[1].withColumn("modality", F.lit("image")))
              .unionByName(comps[2].withColumn("modality", F.lit("audio"))))
    stats = tagged.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_dup_items"),
        F.countDistinct("component").alias("n_clusters"))
    items = docs.agg(
        F.count(F.lit(1)).alias("text"),
        (F.count(F.when(F.col("doc_id") < img_max, 1)) * 2).alias("image"),
        (F.count(F.when((F.col("doc_id") >= aud_lo)
                        & (F.col("doc_id") < aud_hi), 1)) * 2).alias("audio"))
    per_mod = items.selectExpr(
        "stack(3, 'text', text, 'image', image, 'audio', audio) "
        "AS (modality, n_items)")
    return (per_mod.join(F.broadcast(stats), "modality", "left")
            .select("modality",
                    F.col("n_items").cast("long").alias("n_items"),
                    F.coalesce(F.col("n_dup_items"), F.lit(0))
                    .cast("long").alias("n_dup_items"),
                    F.coalesce(F.col("n_clusters"), F.lit(0))
                    .cast("long").alias("n_clusters"),
                    F.round((F.col("n_items") - F.coalesce("n_dup_items", F.lit(0))
                             + F.coalesce("n_clusters", F.lit(0))) * 1.0
                            / F.col("n_items"), 4).alias("survivor_rate")))


# --- ann09 — two-stage retrieval (IVF-PQ shortlist → exact rerank) ---------
# THE production serving pattern: the compressed index (ann06's IVF-PQ,
# 3/8 clusters probed, ADC scoring) returns a k'=20 shortlist cheaply;
# stage two re-scores only those candidates with exact cosine over the
# true vectors and cuts to k=5 — ADC quantization error never decides
# the final ranking, and the exact math runs on a candidate set whose
# size is independent of corpus scale.  The oracle replays BOTH stages
# (the ann06 trainer/probe/ADC replay extended with the shortlist +
# exact-rescore CTEs).
@register("ann09_two_stage_rerank",
          _ann06_oracle_sql(rerank_from=20, final_k=_PQ01_K))
def ann09_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ shortlist (k'=20, ADC) re-scored with exact cosine to
    top-5 — ann.rerank_topk broadcasts the bounded shortlist, the
    corpus never shuffles in either stage."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    short = ANN.ivfpq_topk_portable(
        emb, queries, "vec_id", "embedding", k=20,
        n_clusters=_ANN06_NC, n_probe=_ANN06_NPROBE,
        m=_PQ01_M, ks=_PQ01_KS, n_iter=2,
        cache_key=os.path.join(sf_dir, "embeddings.parquet"))
    out = ANN.rerank_topk(short, emb, "vec_id", "embedding", k=_PQ01_K)
    return out.withColumn("rank", F.col("rank").cast("long"))


# --- m07 — video near-dup via frame-fingerprint overlap --------------------
# Completes the modality matrix (text d02, image m04, audio m06): videos
# match when >= 3 of their 5 sampled frames share a perceptual hash.
# The device: each doc spawns TWO synthetic 5-frame videos — 2k with
# frames text#0..text#4, 2k+1 sharing frames 0-3 but diverging on frame
# 4 — so every planted pair overlaps on exactly 4 fingerprints and the
# HAVING >= 3 gate is decisive; the fake pHash tier (sha bytes 1-7)
# replays per frame in DuckDB.  The real path is identical plumbing:
# sample_video_frames -> image_phash -> video_near_dup_pairs.
_M07_SQL = f"""WITH f AS (
  SELECT doc_id, text, i
  FROM documents, unnest(generate_series(0, 4)) AS t(i)
  WHERE doc_id < 200
), frames AS (
  SELECT doc_id * 2 AS media_id,
         sha256(text || '#' || i::VARCHAR) AS h FROM f
  UNION ALL
  SELECT doc_id * 2 + 1,
         sha256(text || CASE WHEN i < 4 THEN '#' || i::VARCHAR
                             ELSE '#alt' END) FROM f
), sig AS (
  SELECT DISTINCT media_id, ({_M04_PHASH_BYTES}) AS phash FROM frames
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       count(*)::BIGINT AS n_matched
FROM sig a JOIN sig b ON a.phash = b.phash AND a.media_id < b.media_id
GROUP BY 1, 2 HAVING count(*) >= 3"""


@register("m07_video_frame_dedup", _M07_SQL)
def m07_video_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling video dedup over synthetic 5-frame videos with a
    planted 4/5-overlap twin per video; fingerprint equi-join (8 bytes
    per frame shuffle, posting-list shape — never video x video)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    f = docs.select("doc_id", "text",
                    F.explode(F.sequence(F.lit(0), F.lit(4))).alias("i"))
    fa = f.select(
        (F.col("doc_id") * 2).alias("media_id"),
        F.encode(F.concat(F.col("text"), F.lit("#"),
                          F.col("i").cast("string")), "UTF-8")
        .alias("payload"))
    fb = f.select(
        (F.col("doc_id") * 2 + 1).alias("media_id"),
        F.encode(F.concat(
            F.col("text"),
            F.when(F.col("i") < 4,
                   F.concat(F.lit("#"), F.col("i").cast("string")))
            .otherwise(F.lit("#alt"))), "UTF-8").alias("payload"))
    sig = MM.image_phash(fa.unionByName(fb), use_codec=False)
    return MM.video_near_dup_pairs(sig, min_matches=3)


# --- ann10 — Matryoshka truncated-dimension retrieval evaluation -----------
# The dimension-truncation scale lever (MRL-style embeddings): cosine over
# the first d dims costs d/64 of the full scan and, on nested-trained
# embeddings, loses little recall — this query MEASURES that trade on the
# corpus (recall@5 of prefix-dim brute force vs full-dim truth, the ann05
# evaluation device applied to dimensionality instead of LSH).  Both
# pipelines are exact and fully SQL-replayed; synthetic embeddings have no
# MRL structure, so the observed curve is the honest pessimistic baseline.
def _ann10_sql() -> str:
    dims = (8, 16, 32, 64)

    def topk(d: int) -> str:
        sl = f"(c.embedding::DOUBLE[])[1:{d}], (q.embedding::DOUBLE[])[1:{d}]"
        return f"""(
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity({sl}), 6) DESC,
                      c.vec_id ASC) AS rank
    FROM embeddings c, embeddings q
    WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
  ) WHERE rank <= 5)"""

    parts = [f"t{d} AS {topk(d)}" for d in dims]
    selects = [
        f"""SELECT CAST({d} AS BIGINT) AS dim,
       (SELECT count(*) FROM t{d} x JOIN t64 y
        USING (query_id, neighbor_id))::BIGINT AS n_matched,
       round((SELECT count(*) FROM t{d} x JOIN t64 y
              USING (query_id, neighbor_id)) / 40.0, 4) AS recall_at_5"""
        for d in dims]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register("ann10_matryoshka_recall", _ann10_sql())
def ann10_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of prefix-dimension cosine retrieval (8/16/32/64 dims)
    against full-dimension truth — the measurement behind serving ANN on
    truncated embeddings at a fraction of the scan cost."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)

    def top(d: int) -> DataFrame:
        c = emb.withColumn("embedding", F.slice("embedding", 1, d))
        qq = q.withColumn("embedding", F.slice("embedding", 1, d))
        return (ANN.brute_force_topk(c, qq, "vec_id", "embedding", k=5)
                .select("query_id", "neighbor_id"))

    truth = top(64)
    out = None
    for d in (8, 16, 32, 64):
        m = (top(d).join(truth, ["query_id", "neighbor_id"])
             .agg(F.count(F.lit(1)).alias("n_matched")))
        row = m.select(
            F.lit(d).cast("long").alias("dim"),
            F.col("n_matched").cast("long").alias("n_matched"),
            F.round(F.col("n_matched") / F.lit(40.0), 4)
            .alias("recall_at_5"))
        out = row if out is None else out.unionByName(row)
    return out


# --- geo04 — grid-density spatial clustering (DBSCAN-lite) -----------------
# DBSCAN's grid approximation at warehouse scale: the corpus pays ONE
# counting groupBy; everything after (core-cell gate, 8-neighbor
# adjacency, components) runs on the bounded grid.  The oracle replays
# quantization, the neighbor join, and the component closure (recursive
# CTE seeded from ALL core cells, so isolated cores keep their singleton
# clusters).  Point cloud = the geo03 derived spread.
_GEO04_SQL = """WITH pts AS (
  SELECT ((c_custkey * 7919) % 17000) / 100.0 - 85.0 AS lat,
         ((c_custkey * 104729) % 35900) / 100.0 - 179.5 AS lng
  FROM customer
), cells AS (
  SELECT CAST(floor(lat / 10.0) AS BIGINT) AS cx,
         CAST(floor(lng / 10.0) AS BIGINT) AS cy,
         count(*) AS n_points
  FROM pts GROUP BY 1, 2
), core AS (
  SELECT (cx * 4294967296 + cy + 2147483648) AS cell, cx, cy, n_points
  FROM cells WHERE n_points >= 4
), edges AS (
  SELECT a.cell AS src, b.cell AS dst
  FROM core a JOIN core b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
   AND a.cell <> b.cell
), cc AS (
  SELECT cell AS id, cell AS label FROM core
  UNION
  SELECT e.src, cc.label FROM edges e JOIN cc ON cc.id = e.dst
), comp AS (
  SELECT id, min(label) AS component FROM cc GROUP BY id
)
SELECT comp.component AS cluster, count(*)::BIGINT AS n_cells,
       sum(core.n_points)::BIGINT AS n_points
FROM comp JOIN core ON core.cell = comp.id
GROUP BY 1"""


@register("geo04_density_clusters", "WITH RECURSIVE " + _GEO04_SQL[5:])
def geo04_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clusters over the derived point cloud: core cells
    (>= 4 points per 10-degree cell) unioned across 8-neighbor
    adjacency — cluster id, cell count, point count."""
    from dataqtor_spark.operators import enrich as E

    did = F.col("c_custkey")
    pts = _t(spark, sf_dir, "customer").select(
        (((did * 7919) % 17000) / 100.0 - 85.0).alias("lat"),
        (((did * 104729) % 35900) / 100.0 - 179.5).alias("lng"))
    return E.grid_density_clusters(pts, "lat", "lng", cell_deg=10.0,
                                   min_pts=4)


# --- s18 — late-arrival (watermark) audit ----------------------------------
# What would a 1h watermark drop?  Event-time lateness measured against
# ARRIVAL order (event_id): an event is late iff its ts trails the
# GLOBAL high-water mark (max ts across ALL keys) of everything that
# arrived before it by more than the watermark — Structured Streaming's
# actual rule (one global watermark, not per-key), replayed as a batch
# audit so the watermark can be chosen from data.  Row-level advancement
# makes n_late a tight upper bound on real drops (Spark only advances
# the watermark at micro-batch boundaries).  The Spark side computes the
# global prefix max with the two-level range-partitioned scan
# (ordered.ordered_running_max), never a single-partition window.
_S18_SQL = """SELECT event_type, count(*)::BIGINT AS n_events,
       coalesce(sum(late), 0)::BIGINT AS n_late,
       round(coalesce(sum(late), 0) * 1.0 / count(*), 4) AS late_frac
FROM (
  SELECT event_type,
         CASE WHEN ts < max(ts) OVER (
                ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              - INTERVAL 1 HOUR
              THEN 1 ELSE 0 END AS late
  FROM events)
GROUP BY 1"""


@register("s18_late_arrival_audit", _S18_SQL)
def s18_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type share of events a 1-hour watermark would discard
    (streaming.late_arrival_audit over the events table)."""
    from dataqtor_spark.streaming import profiler as SP

    ev = _t(spark, sf_dir, "events")
    return SP.late_arrival_audit(ev, watermark="1 hour")


# --- t33 — curriculum schedule (easy→hard quality phases) ------------------
# Curriculum learning's data side: a deterministic easy→hard global
# ranking (quality desc, id tiebreak) split into NTILE phases.  Spark
# ranks through the distributed total-order primitive (ordered_prefix +
# ntile_expr — no single-partition window); the oracle uses native
# NTILE, whose SQL-standard bucket arithmetic ntile_expr reproduces
# exactly.  Quality sums ride DECIMAL so no float summation order leaks
# into the hash.
_T33_TOK = ("(CASE WHEN length(trim(text)) = 0 THEN 0 "
            "ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+')) END)")
_T33_SQL = f"""WITH q AS (
  SELECT doc_id, {_T33_TOK} AS n_tok, {_QSCORE_SQL} AS quality_score
  FROM documents
), p AS (
  SELECT *, ntile(4) OVER (ORDER BY quality_score DESC, doc_id) AS phase
  FROM q
)
SELECT phase::BIGINT AS phase, count(*)::BIGINT AS n_docs,
       sum(n_tok)::BIGINT AS n_tokens,
       CAST(round(sum(CAST(quality_score AS DECIMAL(18,4))), 4) AS DOUBLE)
         AS sum_quality,
       min(quality_score) AS min_quality,
       max(quality_score) AS max_quality
FROM p GROUP BY 1"""


@register("t33_curriculum_phases", _T33_SQL)
def t33_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Easy→hard curriculum phases over documents (4 NTILE phases by
    quality score) with per-phase doc/token/quality stats."""
    docs = _t(spark, sf_dir, "documents")
    return TX.curriculum_phases(docs, n_phases=4)


# --- t35 — exact-substring dedup APPLY (scrub shared spans) ----------------
# t16 detects Lee-et-al cross-document boilerplate; t35 removes it: every
# token covered by an 8-token window whose text recurs in another document
# is dropped, and the cleaned text is re-joined.  The Spark side marks
# shared windows with one analytic pass over the window-hash partitioning
# (no self-join) and tests coverage in-row against the bounded list of
# shared start offsets; the oracle replays the same construction over the
# literal window text.  Empty-join is canonicalized to NULL on both sides.
_T35_SPAN = 8

_T35_SQL = f"""WITH {_TOKS_CTE},
wins AS (
  SELECT doc_id, i, array_to_string(list_slice(tk, i, i + {_T35_SPAN - 1}), ' ') AS sp
  FROM base, unnest(generate_series(1, n - {_T35_SPAN - 1})) AS t(i)
  WHERE n >= {_T35_SPAN}
),
shared AS (
  SELECT sp FROM wins GROUP BY sp HAVING count(DISTINCT doc_id) >= 2
),
starts AS (
  SELECT doc_id, list(i) AS ss FROM wins JOIN shared USING (sp) GROUP BY doc_id
),
cleaned AS (
  SELECT b.doc_id, b.n,
         CASE WHEN b.n > 0 THEN
           list_transform(
             list_filter(generate_series(1, b.n),
                         i -> len(list_filter(coalesce(s.ss, []),
                                x -> i BETWEEN x AND x + {_T35_SPAN - 1})) = 0),
             i -> b.tk[i])
         ELSE [] END AS kept
  FROM base b LEFT JOIN starts s USING (doc_id)
)
SELECT doc_id, n::BIGINT AS n_tokens,
       (n - len(kept))::BIGINT AS n_removed,
       array_to_string(kept, ' ') AS cleaned_text
FROM cleaned"""


@register("t35_span_scrub", _T35_SQL)
def t35_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup apply: scrub cross-document repeated 8-token
    spans from every document (textstats.scrub_shared_spans)."""
    return TX.scrub_shared_spans(_t(spark, sf_dir, "documents"),
                                 span_tokens=_T35_SPAN, min_docs=2)


# --- dsir01 — DSIR importance resampling (Xie et al. 2023) -----------------
# Target distribution = the src0 documents (a stand-in for in-domain seed
# data); raw = the whole corpus.  Unigram+bigram features, Laplace
# smoothing over the joint vocabulary, per-doc log importance weight
# sum(c_f * (ln p_t - ln p_q)) accumulated as DECIMAL over 9-dp-rounded
# log ratios (summation-order-proof), top-k selection ranked AFTER the
# rounding so both engines rank identical values.
_DSIR_K = 50
_DSIR_B = 8192


def _dsir_oracle_sql(hash_buckets: int | None = None) -> str:
    """DSIR replay; ``hash_buckets`` adds the paper's feature-hashing
    stage (portable md5 buckets, mirroring ``dsir_importance``)."""
    gram_src = "grams"
    bucket_ctes = ""
    if hash_buckets is not None:
        bucket_ctes = f"""), gramh AS (
  SELECT doc_id, t, md5(f) AS h FROM grams
), gramb AS (
  SELECT doc_id, t, ({_nibble_value_sql('h')}) % {hash_buckets} AS f
  FROM gramh
"""
        gram_src = "gramb"
    return _DSIR_SQL_BODY.replace("__GRAM_SRC__", gram_src).replace(
        "__BUCKET_CTES__", bucket_ctes)


_DSIR_SQL_BODY = f"""WITH toks AS (
  SELECT doc_id, (source = 'src0') AS t,
         list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f]+'),
                     x -> x <> '') AS tk
  FROM documents
), tkn AS (
  SELECT doc_id, t, tk, len(tk) AS n FROM toks
), grams AS (
  SELECT doc_id, t, u.f
  FROM tkn, unnest(list_concat(
    tk,
    CASE WHEN n >= 2 THEN list_transform(generate_series(1, n - 1),
                                         i -> tk[i] || ' ' || tk[i + 1])
         ELSE [] END)) AS u(f)
__BUCKET_CTES__), docf AS (
  SELECT doc_id, f, count(*) AS c FROM __GRAM_SRC__ GROUP BY 1, 2
), feat AS (
  SELECT f, count(*) AS cr, sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct
  FROM __GRAM_SRC__ GROUP BY 1
), tot AS (
  SELECT sum(cr) AS tr, sum(ct) AS tt, count(*) AS v FROM feat
), ratio AS (
  SELECT f, CAST(round(ln((ct + 1.0) / (tt + v))
                       - ln((cr + 1.0) / (tr + v)), 9) AS DECIMAL(18,9)) AS lr
  FROM feat, tot
), scored AS (
  SELECT doc_id, sum(c)::BIGINT AS n_feats,
         CAST(round(sum(CAST(c AS DECIMAL(10,0)) * lr), 6) AS DOUBLE)
           AS log_weight
  FROM docf JOIN ratio USING (f) GROUP BY 1
)
SELECT doc_id, n_feats, log_weight,
       row_number() OVER (ORDER BY log_weight DESC, doc_id)::BIGINT AS rank
FROM scored ORDER BY log_weight DESC, doc_id LIMIT {_DSIR_K}"""


@register("dsir01_importance_select", _dsir_oracle_sql())
def dsir01_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: top-50 docs by n-gram importance weight of
    the src0 target distribution vs the raw corpus."""
    docs = _t(spark, sf_dir, "documents")
    return TX.dsir_importance(docs, F.col("source") == "src0",
                              top_k=_DSIR_K)


@register("dsir02_hashed_importance", _dsir_oracle_sql(_DSIR_B))
def dsir02_hashed_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR with the paper's feature hashing: n-grams map into 8192
    md5 buckets before the distribution estimates, bounding the
    feature-state size independent of corpus vocabulary — the mode a
    100 TB web crawl needs, fully SQL-replayed."""
    docs = _t(spark, sf_dir, "documents")
    return TX.dsir_importance(docs, F.col("source") == "src0",
                              top_k=_DSIR_K, hash_buckets=_DSIR_B)


# --- ann11 — IVF-PQ serving from the at-rest index --------------------------
# ann06 measured with the training cost amortized to ZERO: the index
# (PQ codes + norms partitioned by coarse cluster, quantizer sidecars)
# is built ONCE into a local fixture keyed by corpus fingerprint +
# quantizer params, and the query is the serving cost only — partition
# pruning over the code table, broadcast per-query LUTs, codegen'd ADC.
# Same deterministic training as ann06, so the same full SQL replay
# grades it; this is the number a 1000-executor cluster would see per
# probe (ann06's bench variance is per-process trainer cache warm-up).
_ANN11_ROOT = "/tmp/dataqtor_spark_ann11"


def _corpus_fingerprint(path: str) -> str:
    """Byte size + max mtime of a parquet file-or-directory — staleness
    key for the at-rest index fixtures (testdata regenerates between
    rounds; size alone would serve a stale index if regenerated data had
    different content at an identical byte total)."""
    if os.path.isfile(path):
        return f"{os.path.getsize(path)}_{int(os.path.getmtime(path))}"
    total, mt = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            total += os.path.getsize(p)
            mt = max(mt, int(os.path.getmtime(p)))
    return f"{total}_{mt}"


def _ensure_fixture(idx: str, build) -> None:
    """Build a /tmp index fixture exactly once, crash-safely: existence
    is keyed on a ``_COMPLETE`` marker written only AFTER ``build()``
    returns — a directory without the marker (e.g. a crash between the
    base index write and the delta append) is torn down and rebuilt,
    never served half-built."""
    marker = os.path.join(idx, "_COMPLETE")
    if os.path.exists(marker):
        return
    if os.path.isdir(idx):
        import shutil

        shutil.rmtree(idx)
    build()
    with open(marker, "w") as f:
        f.write("ok\n")


@register("ann11_ivfpq_at_rest", _ann06_oracle_sql())
def ann11_ivfpq_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 served from the persisted index layout
    (ann.write_ivfpq_index → ann.ivfpq_topk_at_rest): identical results
    to ann06, but the measured path is pure serving — no quantizer
    training in the query."""
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    idx = os.path.join(
        _ANN11_ROOT,
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{_ANN06_NC}c{_PQ01_M}m{_PQ01_KS}k"
        f"_{_corpus_fingerprint(emb_path)}")
    _ensure_fixture(idx, lambda: ANN.write_ivfpq_index(
        _t(spark, sf_dir, "embeddings"), idx, "vec_id", "embedding",
        n_clusters=_ANN06_NC, m=_PQ01_M, ks=_PQ01_KS, n_iter=2,
        cache_key=emb_path))
    queries = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    out = ANN.ivfpq_topk_at_rest(spark, idx, queries, "vec_id",
                                 "embedding", k=_PQ01_K,
                                 n_probe=_ANN06_NPROBE)
    return out.withColumn("rank", F.col("rank").cast("long"))


# --- mix02 — temperature-scaled mixture (alpha = 1/2) -----------------------
# Multilingual rebalancing: sampling weight per domain = avail_tokens^0.5
# (temperature sampling upweights tail languages), computed as EXACT
# integer isqrt (floor(sqrt) with the +/-1 ulp correction — the dedup
# auto-cap device) so the largest-remainder quota split stays
# bit-reproducible across engines; alpha=1/2 is the one fractional power
# with that property.  Budget 25013 exercises the remainder ranking.
_MIX02_BUDGET = 25013

_MIX02_SQL = f"""WITH avail AS (
  SELECT lang AS domain, count(*)::BIGINT AS n_docs,
         {_MIX01_TOKENS} AS avail_tokens
  FROM documents GROUP BY 1
), w AS (
  SELECT domain, n_docs, avail_tokens,
         (CASE WHEN (r + 1) * (r + 1) <= avail_tokens THEN r + 1
               WHEN r * r > avail_tokens THEN r - 1 ELSE r END)::BIGINT
           AS weight
  FROM (SELECT *, CAST(floor(sqrt(avail_tokens)) AS BIGINT) AS r
        FROM avail)
), base AS (
  SELECT *, sum(weight) OVER () AS W,
         {_MIX02_BUDGET} * weight AS num
  FROM w
), ranked AS (
  SELECT domain, n_docs, avail_tokens, weight,
         (num - num % W) // W AS base_q,
         row_number() OVER (ORDER BY num % W DESC, domain ASC) AS rk,
         sum((num - num % W) // W) OVER () AS tot_base
  FROM base
), quota AS (
  SELECT domain, weight, n_docs, avail_tokens,
         (base_q + CASE WHEN rk <= {_MIX02_BUDGET} - tot_base
                        THEN 1 ELSE 0 END)::BIGINT AS quota_tokens
  FROM ranked
)
SELECT domain, weight, n_docs, avail_tokens, quota_tokens,
       least(quota_tokens, avail_tokens)::BIGINT AS alloc_tokens,
       (quota_tokens
        - least(quota_tokens, avail_tokens))::BIGINT AS shortfall_tokens,
       CASE WHEN avail_tokens > 0
            THEN ((quota_tokens + avail_tokens - 1) // avail_tokens)::BIGINT
       END AS epochs
FROM quota"""


@register("mix02_temperature_mixture", _MIX02_SQL)
def mix02_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=1/2) domain mixture over language
    domains: isqrt-derived weights, exact largest-remainder quotas,
    availability caps, shortfall, oversampling epochs."""
    docs = _t(spark, sf_dir, "documents")
    return TX.temperature_mixture_plan(docs, "lang", budget=_MIX02_BUDGET)


# --- ann12 — IVF-PQ index APPEND (no-retrain maintenance) -------------------
# The maintenance half of the at-rest story: new vectors (a deterministic
# negated-copy delta) are encoded with the STORED quantizers and appended
# into the partitioned layout; probes then serve base+delta through the
# same partition pruning.  The oracle replays exactly that contract —
# quantizers train on the ORIGINAL corpus only, encoding/probing run over
# the union (the append_sql variant of the ann06 CTE chain).
_ANN12_APPEND_SQL = ("SELECT vec_id + 100000 AS vec_id, "
                     "list_transform(v, x -> -x) AS v "
                     "FROM c WHERE vec_id < 40")


@register("ann12_ivfpq_append",
          _ann06_oracle_sql(append_sql=_ANN12_APPEND_SQL))
def ann12_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving after an index APPEND: base corpus indexed once,
    a negated-copy delta appended with stored quantizers
    (ann.append_to_ivfpq_index), top-5 ADC probes over the union."""
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    idx = os.path.join(
        _ANN11_ROOT,
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{_ANN06_NC}c{_PQ01_M}m{_PQ01_KS}k"
        f"_{_corpus_fingerprint(emb_path)}_app")

    def _build() -> None:
        emb = _t(spark, sf_dir, "embeddings")
        ANN.write_ivfpq_index(emb, idx, "vec_id", "embedding",
                              n_clusters=_ANN06_NC, m=_PQ01_M,
                              ks=_PQ01_KS, n_iter=2, cache_key=emb_path)
        delta = (emb.filter(F.col("vec_id") < 40)
                 .select((F.col("vec_id") + 100000).alias("vec_id"),
                         F.transform("embedding", lambda x: -x)
                         .alias("embedding")))
        ANN.append_to_ivfpq_index(delta, idx, "vec_id", "embedding")

    _ensure_fixture(idx, _build)
    queries = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    out = ANN.ivfpq_topk_at_rest(spark, idx, queries, "vec_id",
                                 "embedding", k=_PQ01_K,
                                 n_probe=_ANN06_NPROBE)
    return out.withColumn("rank", F.col("rank").cast("long"))


# --- w05 — SCD2 with hard deletes (tombstones) ------------------------------
# The CDC quadrant w02-w04 left open: events with event_id % 97 == 0 act
# as the delete stream; a delete closes the key's open interval at the
# tombstone timestamp without opening a new one, and later changes
# re-open the key.  The __del flag rides the run-boundary compare (no
# NULL-attr sentinel), tombstone runs drop after interval construction.
_W05_SQL = """WITH h AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_id % 97 = 0 THEN NULL ELSE event_type END
           AS event_type,
         (event_id % 97 = 0) AS del
  FROM events
), o AS (
  SELECT user_id, event_type, ts, event_id, del,
         lag(event_type) OVER w AS prev_t,
         lag(del) OVER w AS prev_d
  FROM h WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_type, ts, event_id, del FROM o
  WHERE prev_d IS NULL OR del <> prev_d
        OR NOT (event_type IS NOT DISTINCT FROM prev_t)
)
SELECT user_id, event_type, valid_from, coalesce(valid_to_raw,
       TIMESTAMP '2200-01-01') AS valid_to,
       (valid_to_raw IS NULL) AS is_current
FROM (
  SELECT user_id, event_type, del, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to_raw
  FROM s)
WHERE NOT del"""


@register("w05_scd2_deletes", _W05_SQL)
def w05_scd2_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history with hard deletes: a deterministic tombstone stream
    (event_id % 97 == 0) closes open intervals; later changes re-open."""
    from dataqtor_spark.operators import scd as SCD

    ev = _t(spark, sf_dir, "events")
    tomb = F.pmod(F.col("event_id"), F.lit(97)) == 0
    out = SCD.scd2_with_deletes(
        ev.filter(~tomb), ev.filter(tomb), "user_id", "ts",
        ["event_type"], tiebreak_col="event_id")
    return out.withColumn("valid_to", F.coalesce(
        F.col("valid_to"), F.lit("2200-01-01").cast("timestamp")))


# --- pr27 — partial correlations (control for a shared driver) --------------
# The §2.10 matrix says whether two measures move together; pr27 asks
# whether they STILL do once a control column is held fixed — the
# classic shared-driver screen.  Pairwise r's round to 9 dp before the
# closed form so both engines combine identical inputs; the formula
# itself is a handful of deterministic flops on a 1-row frame.
_PR27_PAIRS = [("l_quantity", "l_extendedprice"),
               ("l_quantity", "l_discount"),
               ("l_extendedprice", "l_discount")]
_PR27_GIVEN = "l_tax"


def _pr27_sql() -> str:
    cols = sorted({c for p in _PR27_PAIRS for c in p})
    need = {tuple(sorted(p)) for p in _PR27_PAIRS}
    need |= {tuple(sorted((c, _PR27_GIVEN))) for c in cols}
    aggs = ", ".join(f"round(corr({a}, {b}), 9) AS r_{a}__{b}"
                     for a, b in sorted(need))

    def r(a, b):
        a, b = sorted((a, b))
        return f"r_{a}__{b}"

    sels = []
    for x, y in _PR27_PAIRS:
        rxy, rxz, ryz = r(x, y), r(x, _PR27_GIVEN), r(y, _PR27_GIVEN)
        sels.append(f"""SELECT '{x}' AS col_a, '{y}' AS col_b,
       '{_PR27_GIVEN}' AS given, round({rxy}, 6) AS pearson,
       round(({rxy} - {rxz} * {ryz})
             / sqrt((1 - {rxz} * {rxz}) * (1 - {ryz} * {ryz})), 6)
         AS partial_r
FROM c""")
    return (f"WITH c AS (SELECT {aggs} FROM lineitem)\n"
            + "\nUNION ALL\n".join(sels))


@register("pr27_partial_correlations", _pr27_sql())
def pr27_partial_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial Pearson correlations of the lineitem measures
    controlling for l_tax — one aggregate pass, closed-form combine."""
    return P.partial_correlations(_t(spark, sf_dir, "lineitem"),
                                  _PR27_PAIRS, _PR27_GIVEN)


# --- geo05 — point-in-polygon containment join ------------------------------
# Even-odd ray casting as a DIVISION-FREE column expression (sign of the
# cross product, flipped by edge direction — exact IEEE products, no
# div-by-zero hazard on horizontal edges, engine-reproducible).  Points
# = the geo03/geo04 derived cloud; polygons = three literal regions
# (triangle / pentagon / quad).  Polygons broadcast; the bbox prefilter
# rides the same join.  Report: per-polygon point count + key range.
_GEO05_POLYS = [
    (1, [0.0, 40.0, 10.0], [0.0, 10.0, 40.0]),
    (2, [-120.0, -140.0, -100.0, -60.0, -80.0],
        [-60.0, -20.0, 0.0, -30.0, -70.0]),
    (3, [100.0, 120.0, 160.0, 150.0], [50.0, 80.0, 70.0, 40.0]),
]

_GEO05_VALUES = ", ".join(
    f"({pid}, {xs}, {ys})" for pid, xs, ys in _GEO05_POLYS)

_GEO05_SQL = f"""WITH pts AS (
  SELECT c_custkey AS pt_id,
         ((c_custkey * 104729) % 35900) / 100.0 - 179.5 AS x,
         ((c_custkey * 7919) % 17000) / 100.0 - 85.0 AS y
  FROM customer
), polys AS (
  SELECT * FROM (VALUES {_GEO05_VALUES}) t(poly_id, xs, ys)
), edges AS (
  SELECT poly_id, xs[i] AS x1, ys[i] AS y1,
         xs[i % len(xs) + 1] AS x2, ys[i % len(ys) + 1] AS y2
  FROM polys, unnest(generate_series(1, len(xs))) t(i)
), cand AS (
  SELECT p.pt_id, q.poly_id, p.x, p.y
  FROM pts p JOIN polys q
    ON p.x >= list_min(q.xs) AND p.x <= list_max(q.xs)
   AND p.y >= list_min(q.ys) AND p.y <= list_max(q.ys)
), cr AS (
  SELECT c.pt_id, c.poly_id,
         sum(CASE WHEN (e.y1 > c.y) <> (e.y2 > c.y)
                  AND ((c.x - e.x1) * (e.y2 - e.y1)
                       - (e.x2 - e.x1) * (c.y - e.y1))
                      * (CASE WHEN e.y2 > e.y1
                              THEN 1.0 ELSE -1.0 END) < 0.0
             THEN 1 ELSE 0 END) AS n_cross
  FROM cand c JOIN edges e USING (poly_id)
  GROUP BY 1, 2
)
SELECT poly_id, count(*)::BIGINT AS n_points,
       min(pt_id)::BIGINT AS min_key, max(pt_id)::BIGINT AS max_key
FROM cr WHERE n_cross % 2 = 1 GROUP BY 1"""


@register("geo05_point_in_polygon", _GEO05_SQL)
def geo05_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment join of the derived point cloud against three literal
    polygons (enrich.point_in_polygon_join): per-polygon point count and
    key range."""
    from dataqtor_spark.operators import enrich as E

    did = F.col("c_custkey")
    pts = _t(spark, sf_dir, "customer").select(
        did.alias("pt_id"),
        (((did * 104729) % 35900) / 100.0 - 179.5).alias("x"),
        (((did * 7919) % 17000) / 100.0 - 85.0).alias("y"))
    polys = local_frame(
        spark, _GEO05_POLYS, "poly_id int, xs array<double>, ys array<double>")
    inside = E.point_in_polygon_join(pts, polys)
    return (inside.groupBy("poly_id")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.min("pt_id").alias("min_key"),
                 F.max("pt_id").alias("max_key")))


# --- ml01 — quality-classifier calibration report (ECE bins) ----------------
# Before trusting a learned quality filter's threshold at corpus scale,
# check its calibration: equal-width score bins vs the empirical rate of
# an independent label (here the length+stopword prose gate).  Scores
# 6-dp-round BEFORE binning and DECIMAL-sum per bin (the t31 device), so
# bin membership and averages are engine-exact; ECE is one more fold the
# consumer can take over the table.
_ML01_SQL = f"""WITH f AS (
  SELECT
    round(length(text) * 1.0 / greatest({_T31_NT}, 1), 4) AS atl,
    round(len(regexp_extract_all(text, '[.,!?;:]')) * 1.0
          / greatest(length(text), 1), 4) AS pr,
    round(len(regexp_extract_all(text, '[0-9]')) * 1.0
          / greatest(length(text), 1), 4) AS dr,
    round(len(regexp_extract_all(text, '[A-Z]')) * 1.0
          / greatest(length(text), 1), 4) AS ur,
    round(len(regexp_extract_all(text,
          '(?i)\\b(the|a|and|of|to|in|is|that|it|for)\\b')) * 1.0
          / greatest({_T31_NT}, 1), 4) AS sr,
    {_T31_NT} AS nt
  FROM documents
), s AS (
  SELECT round(0.5 + 0.5 * logit / (1.0 + abs(logit)),
               6)::DECIMAL(18,6) AS p,
         (CASE WHEN nt >= 40 AND sr >= 0.05 THEN 1 ELSE 0 END) AS y
  FROM (SELECT nt, sr,
          (-1.5 + 6.0 * sr - 8.0 * pr - 5.0 * dr - 3.0 * ur
           - 0.4 * abs(atl - 5.0) + 0.08 * least(nt, 100)) AS logit
        FROM f)
)
SELECT bin, count(*)::BIGINT AS n_docs,
       (round((sum(p) / count(*)), 4)::DOUBLE) AS avg_score,
       round(sum(y) * 1.0 / count(*), 4) AS label_rate,
       round(abs((round((sum(p) / count(*)), 4)::DOUBLE)
                 - round(sum(y) * 1.0 / count(*), 4)), 4) AS abs_gap
FROM (SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin, p, y FROM s)
GROUP BY 1"""


@register("ml01_calibration_report", _ML01_SQL)
def ml01_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability bins of the fixed-weight quality classifier against
    the length+stopword prose gate (textstats.calibration_report)."""
    docs = _t(spark, sf_dir, "documents")
    feats = TX.quality_features(F.col("text"))
    label = ((feats["n_tokens"] >= 40)
             & (F.round(feats["stopword_ratio"], 4) >= 0.05))
    return TX.calibration_report(docs, TX.quality_logistic(F.col("text")),
                                 label)


# --- pr28 — Theil's U (asymmetric dependence) --------------------------------
# The direction the symmetric family (pr04 Cramér's V, pr26 NMI) can't
# see: U(A|B) = I/H(A) vs U(B|A) = I/H(B).  Entropies and MI round to
# 9 dp before the ratio (both engines divide identical inputs); the
# heavy path is pr18's single joint-count shuffle.  Pairs chosen so the
# asymmetry is real: l_returnflag (3 values) and l_linestatus (2) are
# strongly but unevenly coupled, while orders' status/priority pair
# mirrors pr18's near-independent baseline.
_PR28_PAIRS = [("orders", "o_orderstatus", "o_orderpriority"),
               ("lineitem", "l_returnflag", "l_linestatus")]


def _pr28_sql() -> str:
    blocks = []
    for tbl, a, b in _PR28_PAIRS:
        blocks.append(f"""SELECT * FROM (
WITH j AS (
  SELECT {a} AS a, {b} AS b, count(*) * 1.0 AS n
  FROM {tbl} WHERE {a} IS NOT NULL AND {b} IS NOT NULL GROUP BY 1, 2
), t AS (SELECT sum(n) AS t FROM j),
pa AS (SELECT a, sum(n) AS na FROM j GROUP BY a),
pb AS (SELECT b, sum(n) AS nb FROM j GROUP BY b),
f AS (SELECT j.*, pa.na, pb.nb, t.t
      FROM j JOIN pa USING (a) JOIN pb USING (b) CROSS JOIN t),
e AS (SELECT
  round(round(-sum((na / t) * ln(na / t) * n / na), 6), 9) AS ha,
  round(round(-sum((nb / t) * ln(nb / t) * n / nb), 6), 9) AS hb,
  round(round(sum((n / t) * ln((n / t) / ((na / t) * (nb / t)))), 6), 9)
    AS mi
FROM f)
SELECT '{a}' AS col_a, '{b}' AS col_b, ha AS entropy_a, hb AS entropy_b,
       mi AS mutual_information,
       round(CASE WHEN ha <> 0 THEN mi / ha END, 6) AS u_a_given_b,
       round(CASE WHEN hb <> 0 THEN mi / hb END, 6) AS u_b_given_a
FROM e)""")
    return "\nUNION ALL\n".join(blocks)


@register("pr28_theils_u", _pr28_sql())
def pr28_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric dependence (Theil's U) for two categorical pairs —
    profile.theils_u, one joint-count shuffle per pair."""
    out = None
    for tbl, a, b in _PR28_PAIRS:
        row = P.theils_u(_t(spark, sf_dir, tbl), a, b)
        out = row if out is None else out.unionByName(row)
    return out


# --- x04 — JSON key/type inference profile ----------------------------------
# Which variant keys are promotable to real columns, and as what type?
# A heterogeneous JSON column is derived deterministically from events
# (four textual shapes — int, int+string, int+decimal, bare bool — built
# by string concatenation of INTEGER casts only, so both engines
# construct byte-identical JSON), then profiled per key: coverage + a
# type histogram classified by REGEX on the extracted string form
# (never engine typeof, whose type names differ).
_X04_KEYS = ["k", "tag", "score", "flag"]

_X04_VARIANT = ("CASE event_id % 4 "
                "WHEN 0 THEN '{\"k\": ' || CAST(k AS VARCHAR) "
                "|| ', \"tag\": \"a\"}' "
                "WHEN 1 THEN '{\"k\": ' || CAST(k AS VARCHAR) "
                "|| ', \"score\": ' || CAST(k AS VARCHAR) || '.5}' "
                "WHEN 2 THEN '{\"flag\": true}' "
                "ELSE props END")

_FLOAT_RE = "-?[0-9]+\\.[0-9]+"
_INT_RE = "-?[0-9]+"


def _x04_key_sql(k: str) -> str:
    return f"""SELECT '{k}' AS key,
  count(v_{k})::BIGINT AS n_present,
  round(count(v_{k}) * 1.0 / count(*), 4) AS coverage,
  sum(CASE WHEN regexp_full_match(v_{k}, '{_INT_RE}')
           THEN 1 ELSE 0 END)::BIGINT AS n_int,
  sum(CASE WHEN regexp_full_match(v_{k}, '{_FLOAT_RE}')
           THEN 1 ELSE 0 END)::BIGINT AS n_float,
  sum(CASE WHEN v_{k} IN ('true', 'false') THEN 1 ELSE 0 END)::BIGINT
    AS n_bool,
  (count(v_{k})
   - sum(CASE WHEN regexp_full_match(v_{k}, '{_INT_RE}')
              OR regexp_full_match(v_{k}, '{_FLOAT_RE}')
              OR v_{k} IN ('true', 'false')
         THEN 1 ELSE 0 END))::BIGINT AS n_string
FROM e"""


_X04_EXTRACTS = ", ".join(f"json_extract_string(j, '$.{k}') AS v_{k}"
                          for k in _X04_KEYS)
_X04_SQL = f"""WITH v AS (
  SELECT {_X04_VARIANT} AS j
  FROM (SELECT event_id, props,
               CAST(json_extract(props, '$.k') AS INT) AS k FROM events)
), e AS (
  SELECT j, {_X04_EXTRACTS}
  FROM v
)
""" + "\nUNION ALL\n".join(_x04_key_sql(k) for k in _X04_KEYS)


@register("x04_json_type_profile", _X04_SQL)
def x04_json_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant-key schema inference (profile.json_key_type_profile) over
    a derived four-shape JSON column."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int").cast("string")
    j = (F.when(F.pmod("event_id", F.lit(4)) == 0,
                F.concat(F.lit('{"k": '), k, F.lit(', "tag": "a"}')))
         .when(F.pmod("event_id", F.lit(4)) == 1,
               F.concat(F.lit('{"k": '), k, F.lit(', "score": '), k,
                        F.lit('.5}')))
         .when(F.pmod("event_id", F.lit(4)) == 2, F.lit('{"flag": true}'))
         .otherwise(F.col("props")))
    return P.json_key_type_profile(ev.select(j.alias("j")), "j", _X04_KEYS)


# --- t37 — fuzzy benchmark decontamination (MinHash) -------------------------
# t13 flags exact 5-gram overlap; t37 is the GPT-3/PaLM-style FUZZY
# screen — train docs whose MinHash signature agrees with any benchmark
# doc on >= 50% of positions, catching paraphrase/truncation
# contamination.  Asymmetric LSH: the benchmark band table broadcasts,
# the corpus never self-joins.  Same portable signature family as d03,
# so the whole pipeline replays in SQL.
_T37_THRESHOLD = 0.5


def _t37_oracle_sql() -> str:
    nh = _MH_HASHES
    eq = " + ".join(f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
                    for i in range(nh))
    return f"""{_minhash_cte_prefix()},
dcand AS (
  SELECT DISTINCT l.doc_id AS cid, r.doc_id AS bid
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
  WHERE l.doc_id % 20 <> 0 AND r.doc_id % 20 = 0),
scored AS (
  SELECT c.cid, round(({eq}) / {nh}.0, 6) AS est
  FROM dcand c JOIN sig a ON a.doc_id = c.cid
               JOIN sig b ON b.doc_id = c.bid)
SELECT cid AS doc_id, count(*)::BIGINT AS n_bench_hits,
       max(est) AS max_est_jaccard
FROM scored WHERE est >= {_T37_THRESHOLD} GROUP BY 1"""


@register("t37_fuzzy_decontaminate", _t37_oracle_sql())
def t37_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash fuzzy decontamination of the training slice against the
    held-out benchmark slice (dedup.minhash_decontaminate)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return DD.minhash_decontaminate(
        corpus, bench, "doc_id", "text", threshold=_T37_THRESHOLD,
        num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=_MH_SHINGLE)


# --- ann13 — filtered ANN (metadata-constrained retrieval) -------------------
# The "WHERE clause on a vector search" every vector store documents:
# the predicate (here: even vec_id — a stand-in for a tenant/language/
# license filter) restricts which corpus rows are scored while the
# quantizer keeps the FULL corpus's geometry (pre-filter semantics).
# At rest the same predicate lands as PushedFilters beside the cluster
# PartitionFilters.  Oracle = the ann03 full k-means replay with the
# filter applied to the encoded corpus only — training CTEs untouched.
def _ann13_oracle_sql() -> str:
    base = _ann03_oracle_sql()
    return base.replace(
        "FROM qp q JOIN af a ON a.cid = q.cid AND a.vec_id <> q.query_id",
        "FROM qp q JOIN af a ON a.cid = q.cid AND a.vec_id <> q.query_id "
        "AND a.vec_id % 2 = 0")


@register("ann13_filtered_topk", _ann13_oracle_sql())
def ann13_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered IVF top-5: only even-id corpus vectors are eligible;
    training stays on the full corpus (ann.ivf_topk_portable
    corpus_filter)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = ANN.ivf_topk_portable(
        emb, queries, "vec_id", "embedding",
        k=_ANN03_K, n_clusters=_ANN03_CLUSTERS, n_probe=_ANN03_PROBE,
        n_iter=_ANN03_ITER,
        cache_key=os.path.join(sf_dir, "embeddings.parquet"),
        corpus_filter=F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    return out.withColumn("rank", F.col("rank").cast("long"))


# --- ann14 — filtered ANN served from the at-rest index ---------------------
# ann13 proved pre-filter semantics on the live path; ann14 proves the
# AT-REST claim (ann.py ivf_topk_at_rest docstring): a vector-store user's
# most common real query is filter+search over the STORED index, and the
# metadata predicate must land as PushedFilters in the pruned scan beside
# the cluster PartitionFilters (plan-asserted in tests/test_dedup_text.py)
# — evaluated in the reader, touching no extra bytes.  The predicate here
# is a pushable range (vec_id >= 100, a tenant/recency stand-in; ann13's
# pmod predicate is correct but not parquet-pushable, which is exactly
# why the at-rest query uses a pushable one).  Oracle = the ann03 full
# k-means replay with the filter on the encoded corpus only — training
# CTEs untouched (pre-filter semantics), same recipe as ann13.
_ANN14_MIN_ID = 100


def _ann14_oracle_sql() -> str:
    base = _ann03_oracle_sql()
    return base.replace(
        "FROM qp q JOIN af a ON a.cid = q.cid AND a.vec_id <> q.query_id",
        "FROM qp q JOIN af a ON a.cid = q.cid AND a.vec_id <> q.query_id "
        f"AND a.vec_id >= {_ANN14_MIN_ID}")


@register("ann14_filtered_at_rest", _ann14_oracle_sql())
def ann14_filtered_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered IVF top-5 over the persisted index (ann.write_ivf_index →
    ann.ivf_topk_at_rest with corpus_filter): quantizer trained on the
    full corpus at build time, only vec_id >= 100 rows eligible at
    serve time, scan = PartitionFilters (probed clusters) +
    PushedFilters (the metadata predicate)."""
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    idx = os.path.join(
        _ANN11_ROOT,
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"_ivf{_ANN03_CLUSTERS}c_{_corpus_fingerprint(emb_path)}")
    _ensure_fixture(idx, lambda: ANN.write_ivf_index(
        _t(spark, sf_dir, "embeddings"), idx, "vec_id", "embedding",
        n_clusters=_ANN03_CLUSTERS, n_iter=_ANN03_ITER))
    queries = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    out = ANN.ivf_topk_at_rest(
        spark, idx, queries, "vec_id", "embedding",
        k=_ANN03_K, n_probe=_ANN03_PROBE,
        corpus_filter=F.col("vec_id") >= _ANN14_MIN_ID)
    return out.withColumn("rank", F.col("rank").cast("long"))


# --- lm01 — CCNet-style n-gram LM quality scoring ---------------------------
# Train a Laplace-smoothed bigram LM on the src0 in-domain slice, score
# every document by average token log-probability (perplexity filtering
# in log space — libm exp never runs).  Per-position logs 9dp-round into
# DECIMAL (the dsir01 device), final average = exact integer-rational
# rounding.  Zero-token docs produce no row (nothing to score).
_LM01_SQL = f"""WITH toks AS (
  SELECT doc_id, (source = 'src0') AS t,
         list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f]+'),
                     x -> x <> '') AS tk
  FROM documents
), tkn AS (
  SELECT doc_id, t, tk, len(tk) AS n FROM toks
), uni AS (
  SELECT doc_id, t, u.w FROM tkn, unnest(tk) AS u(w)
), ref_uni AS (
  SELECT w, count(*)::BIGINT AS cu FROM uni WHERE t GROUP BY 1
), ref_tot AS (
  SELECT sum(cu)::BIGINT AS tt, count(*)::BIGINT AS v FROM ref_uni
), bi AS (
  SELECT doc_id, t, tk[i] AS a, tk[i + 1] AS b
  FROM tkn, unnest(generate_series(1, n - 1)) AS s(i)
  WHERE n >= 2
), ref_bi AS (
  SELECT a, b, count(*)::BIGINT AS cb FROM bi WHERE t GROUP BY 1, 2
), start AS (
  SELECT doc_id,
         CAST(round(ln((coalesce(cu, 0) + 1.0) / (tt + v)), 9)
              AS DECIMAL(18,9)) AS lp,
         1::BIGINT AS c
  FROM (SELECT doc_id, tk[1] AS w FROM tkn WHERE n >= 1) f
  LEFT JOIN ref_uni USING (w)
  CROSS JOIN ref_tot
), docg AS (
  SELECT doc_id, a, b, count(*)::BIGINT AS c FROM bi GROUP BY 1, 2, 3
), grams AS (
  SELECT doc_id,
         CAST(round(ln((coalesce(rb.cb, 0) + 1.0)
                       / (coalesce(ua.cu, 0) + v)), 9)
              AS DECIMAL(18,9)) AS lp,
         c
  FROM docg
  LEFT JOIN ref_bi rb USING (a, b)
  LEFT JOIN ref_uni ua ON ua.w = docg.a
  CROSS JOIN ref_tot
), terms AS (
  SELECT doc_id, lp, c FROM start
  UNION ALL SELECT doc_id, lp, c FROM grams
), scored AS (
  SELECT doc_id, sum(CAST(c AS DECIMAL(10,0)) * lp) AS s,
         sum(c)::BIGINT AS np
  FROM terms GROUP BY 1
)
SELECT doc_id, np AS n_tokens,
       {XR.round_ratio_sql('CAST(s * 1000000000 AS HUGEINT)',
                           'np::HUGEINT * 1000000000', 6)} AS avg_logprob
FROM scored"""


@register("lm01_ngram_logprob", _LM01_SQL)
def lm01_ngram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: per-document average token
    log-probability under a Laplace-smoothed bigram LM trained on the
    src0 reference slice (textstats.ngram_lm_score)."""
    docs = _t(spark, sf_dir, "documents")
    return TX.ngram_lm_score(docs, F.col("source") == "src0")


# --- pii01 — PII scan over free text ----------------------------------------
# The pre-release scrub pass: e-mails, TR-mobile-shaped phones, and
# checksum-VALIDATED national-ID candidates extracted from document text
# (the reference's TRnoChecker semantics applied to extracted spans).
# The synthetic corpus contains no PII, so the query PLANTS it
# deterministically from doc_id (the a23/pr25 device): an e-mail on
# doc_id%7, a phone on %11, a checksum-correct TCID built digit-by-digit
# on %13, and an 11-digit candidate with a fixed '00' tail on %17 whose
# validity is whatever the checksum says — proving the validator screens
# candidates instead of counting digit runs.
_PII_BASE9 = "CAST(100000000 + doc_id % 900000000 AS VARCHAR)"
_PII_D10, _PII_D11 = _tcid_check_digits_sql(_PII_BASE9)
_PII_TCID = (f"({_PII_BASE9} || CAST({_PII_D10} AS VARCHAR)"
             f" || CAST({_PII_D11} AS VARCHAR))")

_PII_AUG_CTE = f"""aug AS (
  SELECT doc_id, concat(text,
    CASE WHEN doc_id % 7 = 0 THEN ' iletisim: kisi'
              || CAST(doc_id % 50 AS VARCHAR) || '@ornek.example'
         ELSE '' END,
    CASE WHEN doc_id % 11 = 0 THEN ' tel: 05'
              || lpad(CAST(doc_id % 1000000000 AS VARCHAR), 9, '0')
         ELSE '' END,
    CASE WHEN doc_id % 13 = 0 THEN ' tc: ' || {_PII_TCID} ELSE '' END,
    CASE WHEN doc_id % 17 = 0 THEN ' basvuru no ' || {_PII_BASE9} || '00'
         ELSE '' END) AS text
  FROM documents
)"""

_PII01_SQL = f"""WITH {_PII_AUG_CTE}
SELECT doc_id,
  len(regexp_extract_all(text,
      '{TX.PII_EMAIL_RE}'))::BIGINT AS n_emails,
  len(regexp_extract_all(text,
      '{TX.PII_PHONE_RE}'))::BIGINT AS n_phones,
  len(regexp_extract_all(text,
      '{TX.PII_TCID_RE}'))::BIGINT AS n_id_candidates,
  len(list_filter(regexp_extract_all(text, '{TX.PII_TCID_RE}'),
      x -> {CK.tcid_sql('x')}))::BIGINT AS n_ids_valid,
  (len(regexp_extract_all(text, '{TX.PII_EMAIL_RE}'))
   + len(regexp_extract_all(text, '{TX.PII_PHONE_RE}'))
   + len(list_filter(regexp_extract_all(text, '{TX.PII_TCID_RE}'),
         x -> {CK.tcid_sql('x')}))) > 0 AS has_pii
FROM aug"""


def _pii_planted(docs: DataFrame) -> DataFrame:
    """The Spark twin of _PII_AUG_CTE: documents with deterministic PII
    appended from doc_id."""
    did = F.col("doc_id")
    base9 = (F.lit(100000000) + F.pmod(did, F.lit(900000000))).cast("string")
    d10, d11 = _tcid_check_digits_spark(base9)
    tcid = F.concat(base9, d10.cast("string"), d11.cast("string"))
    blank = F.lit("")
    # concat_ws("") — NOT F.concat — mirrors DuckDB concat()'s
    # NULL-skipping: a NULL-text doc must scan as its planted parts (or
    # ''), never as NULL (the t41 NULL-parity class)
    aug = F.concat_ws(
        "",
        F.col("text"),
        F.when(did % 7 == 0, F.concat(
            F.lit(" iletisim: kisi"), (did % 50).cast("string"),
            F.lit("@ornek.example"))).otherwise(blank),
        F.when(did % 11 == 0, F.concat(
            F.lit(" tel: 05"),
            F.lpad((did % 1000000000).cast("string"), 9, "0")))
        .otherwise(blank),
        F.when(did % 13 == 0, F.concat(F.lit(" tc: "), tcid))
        .otherwise(blank),
        F.when(did % 17 == 0, F.concat(
            F.lit(" basvuru no "), base9, F.lit("00"))).otherwise(blank))
    return docs.select("doc_id", aug.alias("text"))


@register("pii01_document_scan", _PII01_SQL)
def pii01_document_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII counts (e-mails, TR phones, checksum-valid
    national IDs) over deterministically PII-planted text
    (textstats.pii_scan)."""
    return TX.pii_scan(_pii_planted(_t(spark, sf_dir, "documents")))


_PII02_SQL = f"""WITH {_PII_AUG_CTE}
SELECT doc_id,
  list_reduce(
    list_prepend(
      regexp_replace(regexp_replace(text,
          '{TX.PII_EMAIL_RE}', '[EMAIL]', 'g'),
          '{TX.PII_PHONE_RE}', '[PHONE]', 'g'),
      list_filter(regexp_extract_all(text, '{TX.PII_TCID_RE}'),
                  x -> {CK.tcid_sql('x')})),
    (acc, x) -> replace(acc, x, '[ID]')) AS text_redacted,
  (len(regexp_extract_all(text, '{TX.PII_EMAIL_RE}'))
   + len(regexp_extract_all(text, '{TX.PII_PHONE_RE}'))
   + len(list_filter(regexp_extract_all(text, '{TX.PII_TCID_RE}'),
         x -> {CK.tcid_sql('x')})))::BIGINT AS n_redactions
FROM aug"""


@register("pii02_redact", _PII02_SQL)
def pii02_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply step: placeholder-redact the planted PII
    (textstats.pii_redact)."""
    return TX.pii_redact(_pii_planted(_t(spark, sf_dir, "documents")))


# --- pii03 — payment-card scan (Luhn-validated spans in free text) ----------
# The corpus contains no card numbers, so the query PLANTS them (the pii01
# device): a Luhn-VALID 16-digit card on doc_id%19 (check digit computed
# digit-by-digit in BOTH dialects) and a Luhn-INVALID 16-digit run on
# doc_id%29 (same digits, check digit +5 mod 10) — proving the validator
# separates real card shapes from arbitrary digit runs.
_PII03_CARD_RE = r"\b[0-9]{16}\b"
_PII03_BASE15 = "('4' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 14, '0'))"
_PII03_D = [f"CAST(substring({_PII03_BASE15}, {i}, 1) AS INT)"
            for i in range(1, 16)]
# check digit at position 16 (distance 0 from the right): digits at odd
# distance are doubled, i.e. ODD 1-based positions of the 15-digit prefix
_PII03_TERMS = [
    (f"(CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9 ELSE {d} * 2 END)"
     if i % 2 == 1 else d)
    for i, d in zip(range(1, 16), _PII03_D)]
_PII03_SUM = "(" + " + ".join(_PII03_TERMS) + ")"
_PII03_CHECK = f"((10 - {_PII03_SUM} % 10) % 10)"
_PII03_BAD = f"(({_PII03_CHECK} + 5) % 10)"

_PII03_AUG_CTE = f"""aug AS (
  SELECT doc_id, concat(text,
    CASE WHEN doc_id % 19 = 0 THEN ' kart no '
              || {_PII03_BASE15} || CAST({_PII03_CHECK} AS VARCHAR)
         ELSE '' END,
    CASE WHEN doc_id % 29 = 0 THEN ' siparis ref '
              || {_PII03_BASE15} || CAST({_PII03_BAD} AS VARCHAR)
         ELSE '' END) AS text
  FROM documents
)"""

_PII03_SQL = f"""WITH {_PII03_AUG_CTE}
SELECT doc_id,
  len(regexp_extract_all(text, '{_PII03_CARD_RE}'))::BIGINT
    AS n_card_candidates,
  len(list_filter(regexp_extract_all(text, '{_PII03_CARD_RE}'),
      x -> {CK.luhn_valid_sql('x', 16)}))::BIGINT AS n_cards_valid,
  len(list_filter(regexp_extract_all(text, '{_PII03_CARD_RE}'),
      x -> {CK.luhn_valid_sql('x', 16)})) > 0 AS has_payment_pii
FROM aug"""


def _pii03_planted(docs: DataFrame) -> DataFrame:
    """Spark twin of _PII03_AUG_CTE: deterministic card plants."""
    did = F.col("doc_id")
    base15 = F.concat(F.lit("4"),
                      F.lpad(F.pmod(did, F.lit(100000000)).cast("string"),
                             14, "0"))
    digits = [F.substring(base15, i, 1).cast("int") for i in range(1, 16)]
    total = F.lit(0)
    for i, d in zip(range(1, 16), digits):
        if i % 2 == 1:
            total = total + F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)
        else:
            total = total + d
    check = F.pmod(F.lit(10) - F.pmod(total, F.lit(10)), F.lit(10))
    bad = F.pmod(check + 5, F.lit(10))
    blank = F.lit("")
    # concat_ws("") mirrors DuckDB concat()'s NULL-skipping (t41 class)
    aug = F.concat_ws(
        "",
        F.col("text"),
        F.when(did % 19 == 0, F.concat(
            F.lit(" kart no "), base15, check.cast("string")))
        .otherwise(blank),
        F.when(did % 29 == 0, F.concat(
            F.lit(" siparis ref "), base15, bad.cast("string")))
        .otherwise(blank))
    return docs.select("doc_id", aug.alias("text"))


@register("pii03_payment_card_scan", _PII03_SQL)
def pii03_payment_card_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payment-card PII scan: 16-digit spans extracted from free text and
    screened by the Luhn checksum (functions/checksums.py) — candidates
    vs validated counts per document, one codegen'd projection, no
    shuffle, no UDF (the pii01 shape with the mod-10 validator)."""
    docs = _pii03_planted(_t(spark, sf_dir, "documents"))
    c = F.col("text").cast("string")
    cards = F.regexp_extract_all(c, F.lit(_PII03_CARD_RE), F.lit(0))
    valid = F.filter(cards, lambda x: CK.luhn_valid(x, 16))
    return docs.select(
        F.col("doc_id"),
        F.size(cards).cast("long").alias("n_card_candidates"),
        F.size(valid).cast("long").alias("n_cards_valid"),
        (F.size(valid) > 0).alias("has_payment_pii"))


# --- ann15 — SQ8 (int8 scalar-quantized) at-rest index -----------------------
# The FAISS "IVF,SQ8" tier between raw-vector IVF (ann03/ann14) and
# IVF-PQ (ann06/ann11): codes are e01's per-vector symmetric int8
# quantization, stored partitioned by coarse cluster with the
# integer-exact norm sqrt(Σq²); the per-vector scale CANCELS out of
# cosine, so serving reads codes + norm only — 4× smaller than float32.
# Oracle = the ann03 k-means replay with the scoring CTE swapped for the
# quantized form (train/assign untouched).
def _ann15_oracle_sql() -> str:
    base = _ann03_oracle_sql()
    old = """scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(a.v, q.qv), 6) AS cosine
  FROM qp q JOIN af a ON a.cid = q.cid AND a.vec_id <> q.query_id)"""
    new = """qz AS (
  SELECT vec_id, cid,
         list_transform(v, x -> CAST(greatest(-127.0, least(127.0, round(
             x / greatest(round(list_max(list_transform(v, y -> abs(y)))
                                / 127.0, 9), 1e-12)))) AS INT)) AS q
  FROM af),
qd AS (
  SELECT vec_id, cid, list_transform(q, z -> z::DOUBLE) AS qv8,
         sqrt(list_inner_product(list_transform(q, z -> z::DOUBLE),
                                 list_transform(q, z -> z::DOUBLE))) AS rn
  FROM qz),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         round(list_inner_product(a.qv8, q.qv)
               / (a.rn * sqrt(list_inner_product(q.qv, q.qv))), 6)
           AS cosine
  FROM qp q JOIN qd a ON a.cid = q.cid AND a.vec_id <> q.query_id)"""
    assert old in base, "ann03 oracle shape changed"
    return base.replace(old, new)


@register("ann15_sq8_at_rest", _ann15_oracle_sql())
def ann15_sq8_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-5 served from the SQ8 at-rest index
    (ann.write_sq8_index → ann.sq8_topk_at_rest): partition-pruned code
    scan, scale-free integer-code cosine."""
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    idx = os.path.join(
        _ANN11_ROOT,
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"_sq8v2_{_ANN03_CLUSTERS}c_{_corpus_fingerprint(emb_path)}")
    _ensure_fixture(idx, lambda: ANN.write_sq8_index(
        _t(spark, sf_dir, "embeddings"), idx, "vec_id", "embedding",
        n_clusters=_ANN03_CLUSTERS, n_iter=_ANN03_ITER))
    queries = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    out = ANN.sq8_topk_at_rest(spark, idx, queries, "vec_id", "embedding",
                               k=_ANN03_K, n_probe=_ANN03_PROBE)
    return out.withColumn("rank", F.col("rank").cast("long"))


# --- d12 — dedup threshold sensitivity ---------------------------------------
# The tuning table before picking a dedup cutoff: one banding + scoring
# pass (d03's exact CTE chain), then per integer-percent threshold the
# pair count and distinct flagged-doc count, zero-hit thresholds kept.
_D12_THS = (25, 35, 50, 70, 90)


def _d12_oracle_sql() -> str:
    nh = _MH_HASHES
    eq = " + ".join(f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
                    for i in range(nh))
    ths = ", ".join(str(t) for t in _D12_THS)
    return f"""{_minhash_cte_prefix()},
scored AS (
  SELECT c.id_a, c.id_b, ({eq}) / {nh}.0 AS ej
  FROM cand c JOIN sig a ON a.doc_id = c.id_a
              JOIN sig b ON b.doc_id = c.id_b),
th AS (SELECT unnest([{ths}]) AS threshold_pct),
hits AS (
  SELECT t.threshold_pct, s.id_a, s.id_b
  FROM th t JOIN scored s ON s.ej >= t.threshold_pct / 100.0),
pa AS (SELECT threshold_pct, count(*)::BIGINT AS n_pairs
       FROM hits GROUP BY 1),
da AS (SELECT threshold_pct, count(DISTINCT u.d)::BIGINT AS n_docs_flagged
       FROM hits, unnest([id_a, id_b]) AS u(d) GROUP BY 1)
SELECT th.threshold_pct,
       coalesce(pa.n_pairs, 0)::BIGINT AS n_pairs,
       coalesce(da.n_docs_flagged, 0)::BIGINT AS n_docs_flagged
FROM th LEFT JOIN pa USING (threshold_pct)
        LEFT JOIN da USING (threshold_pct)"""


@register("d12_threshold_sensitivity", _d12_oracle_sql())
def d12_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cutoff tuning: pairs + flagged docs per Jaccard threshold
    from one MinHash banding pass (dedup.minhash_threshold_sensitivity)."""
    return DD.minhash_threshold_sensitivity(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        thresholds_pct=_D12_THS, num_hashes=_MH_HASHES,
        bands=_MH_BANDS, shingle_n=_MH_SHINGLE)


# --- ann16 — IVF n_probe recall sweep ----------------------------------------
# The retrieval twin of d12's tuning table: recall@5 vs exact brute
# force for n_probe in {1,2,3}, ONE row per setting — the curve an
# operator reads before trading probe cost for recall.  Training CTEs
# are shared across the sweep (the chain is probe-independent); only
# the query-assignment cap and the scoring join differ per branch.
_ANN16_PROBES = (1, 2, 3)


def _ann16_oracle_sql() -> str:
    base = _ann03_oracle_sql()
    head = base[:base.index("qp AS")]
    qp_tail = base[base.index("qp AS"):base.index("scored AS")]
    qp_tail = qp_tail.rstrip().rstrip(",")
    k = _ANN03_K
    parts = [head.rstrip().rstrip(","), ",\nbrute AS (",
             _ANN05_BRUTE_SQL, ")"]
    rows = []
    for p in _ANN16_PROBES:
        # assert-before-replace: a silent no-op here would emit an SQL
        # that runs but sweeps the SAME n_probe for every row
        assert "qp AS" in qp_tail and f"rn <= {_ANN03_PROBE})" in qp_tail, \
            "ann03 oracle qp shape changed — ann16 re-parametrization broken"
        qp_p = (qp_tail.replace("qp AS", f"qp{p} AS")
                .replace(f"rn <= {_ANN03_PROBE})", f"rn <= {p})"))
        parts.append(",\n" + qp_p)
        parts.append(f""",
ivf{p} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, a.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(a.v, q.qv), 6) DESC,
                      a.vec_id ASC) AS rank
    FROM qp{p} q JOIN af a ON a.cid = q.cid AND a.vec_id <> q.query_id)
  WHERE rank <= {k})""")
        rows.append(f"""SELECT {p} AS n_probe,
       count(*)::BIGINT AS n_brute,
       sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_hit,
       {XR.round_ratio_sql(
           'sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)',
           'count(*)', 4)} AS recall
FROM brute b LEFT JOIN ivf{p} i
  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id""")
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(rows)


@register("ann16_nprobe_recall_sweep", _ann16_oracle_sql())
def ann16_nprobe_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 vs brute force per n_probe setting (1/2/3) — the probe
    budget tuning curve, trained once (process-cached quantizer)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    brute = (ANN.brute_force_topk(emb, queries, "vec_id", "embedding",
                                  k=_ANN03_K)
             .select("query_id", "neighbor_id"))
    outs = []
    for p in _ANN16_PROBES:
        ivf = ANN.ivf_topk_portable(
            emb, queries, "vec_id", "embedding",
            k=_ANN03_K, n_clusters=_ANN03_CLUSTERS, n_probe=p,
            n_iter=_ANN03_ITER,
            cache_key=os.path.join(sf_dir, "embeddings.parquet"))
        hit = ivf.select("query_id",
                         F.col("neighbor_id").alias("__hit_id"))
        j = brute.join(hit, (brute["query_id"] == hit["query_id"])
                       & (brute["neighbor_id"] == hit["__hit_id"]),
                       "left").select(brute["query_id"],
                                      F.col("__hit_id"))
        outs.append(j.agg(
            F.lit(p).cast("int").alias("n_probe"),
            F.count(F.lit(1)).cast("long").alias("n_brute"),
            F.sum(F.col("__hit_id").isNotNull().cast("int")).cast("long")
            .alias("n_hit"),
            XR.round_ratio(
                F.sum(F.col("__hit_id").isNotNull().cast("int")),
                F.count(F.lit(1)), 4).alias("recall")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# --- ann17 — 1-bit (sign) embedding retrieval + exact rerank -----------------
# The smallest rung of the compression ladder: 64 dims → two 32-bit words
# (8 bytes), Hamming shortlist via bit_count(xor), exact 6-dp cosine
# re-scores only the shortlist.  Packing uses 32-bit words so the bit
# arithmetic is identical in engines that reject 1<<63 (DuckDB).

_ANN17_K, _ANN17_RERANK = 5, 20


def _ann17_oracle_sql() -> str:
    word = (lambda w: "list_sum(list_transform(range(0, 32), i -> "
            f"CASE WHEN embedding[{w} + i + 1] >= 0 "
            "THEN (1::BIGINT << i) ELSE 0::BIGINT END))::BIGINT")
    return f"""WITH pk AS (
  SELECT vec_id, embedding, [{word(0)}, {word(32)}] AS wds
  FROM embeddings
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         (bit_count(xor(c.wds[1], q.wds[1]))
          + bit_count(xor(c.wds[2], q.wds[2])))::BIGINT AS hamming,
         round(list_cosine_similarity(c.embedding::DOUBLE[],
                                      q.embedding::DOUBLE[]), 6) AS cosine
  FROM pk c, pk q WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
), short AS (
  SELECT * FROM (
    SELECT query_id, neighbor_id, hamming, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY hamming ASC, neighbor_id) AS rh
    FROM pairs) WHERE rh <= {_ANN17_RERANK}
)
SELECT query_id, neighbor_id, hamming, cosine, rank FROM (
  SELECT query_id, neighbor_id, hamming, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id)::BIGINT
           AS rank
  FROM short) WHERE rank <= {_ANN17_K}"""


@register("ann17_binary_rerank", _ann17_oracle_sql())
def ann17_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized retrieval: Hamming-shortlist 20 on packed sign
    bits (8 bytes/vector), exact-cosine rerank to top-5."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return ANN.binary_sign_topk(emb, queries, "vec_id", "embedding",
                                dim=64, k=_ANN17_K,
                                rerank_from=_ANN17_RERANK)


# --- ann18 — 1-bit index at rest (partition-pruned Hamming + rerank) --------
# ann17's serving plan against a persisted IVF + sign-bit layout: stage
# one reads only (id, words) from the probed cluster partitions (8
# bytes/candidate), stage two re-reads just the shortlist's raw vectors
# through the same pruned scan.  Oracle = ann03's full training replay
# with the scored CTE swapped for pack → Hamming shortlist → rerank.


def _ann18_oracle_sql() -> str:
    base = _ann03_oracle_sql()
    old = """scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(a.v, q.qv), 6) AS cosine
  FROM qp q JOIN af a ON a.cid = q.cid AND a.vec_id <> q.query_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= 5"""
    assert old in base, "ann03 oracle shape changed — ann18 swap broken"

    def word(src: str, w: int) -> str:
        return ("list_sum(list_transform(range(0, 32), i -> "
                f"CASE WHEN {src}[{w} + i + 1] >= 0 "
                "THEN (1::BIGINT << i) ELSE 0::BIGINT END))::BIGINT")

    new = f"""pw AS (
  SELECT vec_id, v, cid, [{word('v', 0)}, {word('v', 32)}] AS wds FROM af),
qw AS (
  SELECT query_id, qv, cid,
         [{word('qv', 0)}, {word('qv', 32)}] AS qwds FROM qp),
short AS (
  SELECT query_id, neighbor_id, v, qv, hamming FROM (
    SELECT query_id, neighbor_id, v, qv, hamming,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY hamming ASC, neighbor_id) AS rh
    FROM (SELECT q.query_id, a.vec_id AS neighbor_id, a.v, q.qv,
                 (bit_count(xor(a.wds[1], q.qwds[1]))
                  + bit_count(xor(a.wds[2], q.qwds[2])))::BIGINT AS hamming
          FROM qw q JOIN pw a ON a.cid = q.cid
                              AND a.vec_id <> q.query_id))
  WHERE rh <= {_ANN17_RERANK})
SELECT query_id, neighbor_id, hamming, cosine, rank FROM (
  SELECT query_id, neighbor_id, hamming,
         round(list_cosine_similarity(v, qv), 6) AS cosine,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(list_cosine_similarity(v, qv), 6) DESC,
                    neighbor_id)::BIGINT AS rank
  FROM short) WHERE rank <= {_ANN17_K}"""
    return base.replace(old, new)


@register("ann18_binary_at_rest", _ann18_oracle_sql())
def ann18_binary_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming shortlist + exact rerank served from the persisted 1-bit
    index (ann.write_binary_index → ann.binary_topk_at_rest):
    partition-pruned 8-byte-per-candidate stage one, bounded rerank."""
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    idx = os.path.join(
        _ANN11_ROOT,
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"_bin_{_ANN03_CLUSTERS}c_{_corpus_fingerprint(emb_path)}")
    _ensure_fixture(idx, lambda: ANN.write_binary_index(
        _t(spark, sf_dir, "embeddings"), idx, "vec_id", "embedding",
        dim=64, n_clusters=_ANN03_CLUSTERS, n_iter=_ANN03_ITER))
    queries = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    return ANN.binary_topk_at_rest(
        spark, idx, queries, "vec_id", "embedding", dim=64, k=_ANN17_K,
        n_probe=_ANN03_PROBE, rerank_from=_ANN17_RERANK)


# --- pr29 — profile drift between two snapshots -------------------------------
# The DQ-monitoring loop: profile snapshot A vs snapshot B of the same
# table and emit per-column deltas (the table an alerting rule
# thresholds on).  Snapshots here = the deterministic even/odd event_id
# halves; means via the exact-rational device at (0,4) — `value` is an
# arbitrary double column and is deliberately excluded (a decimal cast
# of a non-decimal double rounds differently across engines).
_PR29_COLS = ["user_id", "event_type"]


def _pr29_side_sql(alias: str, pred: str) -> str:
    rows = []
    for c in _PR29_COLS:
        mean = ("CAST(NULL AS DOUBLE)" if c == "event_type" else
                XR.round_ratio_sql(
                    f"CAST(sum(CAST({c} AS DECIMAL(38,0))) AS HUGEINT)",
                    f"greatest(count({c}), 1)", 4))
        rows.append(f"""SELECT '{c}' AS col, count(*)::BIGINT AS total_{alias},
       (count(*) - count({c}))::BIGINT AS nulls_{alias},
       count(DISTINCT {c})::BIGINT AS distinct_{alias},
       {mean} AS mean_{alias}
FROM events WHERE {pred}""")
    return "\nUNION ALL\n".join(rows)


_PR29_SQL = f"""WITH pa AS (
{_pr29_side_sql('a', 'event_id % 2 = 0')}
), pb AS (
{_pr29_side_sql('b', 'event_id % 2 = 1')}
)
SELECT pa.col AS "column", total_a, total_b, distinct_a, distinct_b,
       {XR.round_ratio_sql('nulls_a', 'greatest(total_a, 1)', 6)}
         AS null_rate_a,
       {XR.round_ratio_sql('nulls_b', 'greatest(total_b, 1)', 6)}
         AS null_rate_b,
       mean_a, mean_b,
       (total_b - total_a)::BIGINT AS total_delta,
       (distinct_b - distinct_a)::BIGINT AS distinct_delta
FROM pa JOIN pb ON pa.col = pb.col"""


@register("pr29_profile_drift", _PR29_SQL)
def pr29_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column drift report between the even/odd event_id snapshots
    (profile.profile_drift): totals, distincts, exact null rates, exact
    means, and the deltas an alert thresholds on."""
    ev = _t(spark, sf_dir, "events")
    even = F.pmod(F.col("event_id"), F.lit(2)) == 0
    return P.profile_drift(ev.filter(even), ev.filter(~even),
                           _PR29_COLS, exact_mean=(0, 4))


# --- pr30 — Population Stability Index drift, per-bin integer report --------
# pr07 already emits the scalar PSI through a float pipeline (double bins,
# float shares, round(sum(double),6) — the exact shape the tie census
# flags); pr30 is the hash-robust replacement surface: per-bin counts and
# contributions with equi-width cent-integer bins over the union range,
# +1-smoothed shares, contribution = (p−q)·ln(p/q) with the only float a
# 9dp-rounded ln of an exact integer ratio (the dsir device); the hashed
# surface is all-integer (contrib_e9 / psi_e9).

_PR30_BINS = 10
_PR30_PIVOT = "1998-07-01"

_PR30_SQL = f"""WITH src AS (
  SELECT (o_totalprice::DECIMAL(18,2) * 100)::HUGEINT AS c,
         (o_orderdate < TIMESTAMP '{_PR30_PIVOT}') AS is_base
  FROM orders
), mm AS (SELECT min(c) AS lo, max(c) AS hi FROM src
), cnt AS (
  SELECT ((c - lo) * {_PR30_BINS}) // (hi - lo + 1) AS bin,
         count(*) FILTER (is_base) AS n_base,
         count(*) FILTER (NOT is_base) AS n_curr
  FROM src, mm GROUP BY 1
), grid AS (
  SELECT u.b AS bin, coalesce(n_base, 0) AS n_base,
         coalesce(n_curr, 0) AS n_curr
  FROM unnest(generate_series(0, {_PR30_BINS - 1})) AS u(b)
  LEFT JOIN cnt ON cnt.bin = u.b
), tot AS (SELECT sum(n_base) AS N, sum(n_curr) AS M FROM grid
), term AS (
  SELECT bin, n_base, n_curr,
         (n_base + 1)::HUGEINT AS pnum, (n_curr + 1)::HUGEINT AS qnum,
         (N + {_PR30_BINS})::HUGEINT AS pden,
         (M + {_PR30_BINS})::HUGEINT AS qden
  FROM grid, tot
), lr AS (
  SELECT bin, n_base, n_curr, pnum, qnum, pden, qden,
         (round(ln((pnum * qden)::DOUBLE / (qnum * pden)::DOUBLE), 9)
          ::DECIMAL(18,9) * 1000000000)::HUGEINT AS lr9
  FROM term
), contrib AS (
  SELECT bin, n_base::BIGINT AS n_base, n_curr::BIGINT AS n_curr,
         {XR.round_ratio_int_sql(
             '(pnum * qden - qnum * pden) * lr9',
             'pden * qden * 1000000000', 9)}::BIGINT AS contrib_e9
  FROM lr
)
SELECT bin::BIGINT AS bin, n_base, n_curr, contrib_e9,
       sum(contrib_e9) OVER ()::BIGINT AS psi_e9
FROM contrib"""


@register("pr30_psi_drift", _PR30_SQL)
def pr30_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between pre/post-{_PR30_PIVOT} order totals, 10 equi-width
    bins — all-integer hashed surface."""
    o = _t(spark, sf_dir, "orders")
    pivot = F.lit(_PR30_PIVOT).cast("timestamp")
    return P.psi_drift_report(o.filter(F.col("o_orderdate") < pivot),
                       o.filter(~(F.col("o_orderdate") < pivot)),
                       "o_totalprice", bins=_PR30_BINS).withColumn(
        "bin", F.col("bin").cast("long"))


# --- t38 — combined contamination report (exact + fuzzy, per source) --------
# The release-gate artifact: per training source, how much of the slice
# the EXACT 5-gram screen (t13) and the FUZZY MinHash screen (t37) each
# flag, their union, and the surviving clean rate — one table instead of
# two per-doc lists.  Both screens replay their own oracle CTE chains;
# clean_rate is an exact integer rational.
def _t38_oracle_sql() -> str:
    nh = _MH_HASHES
    eq = " + ".join(f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
                    for i in range(nh))
    n = _T13_N
    from dataqtor_spark.operators.dedup import PORTABLE_P
    return f"""{_minhash_cte_prefix()},
dcand AS (
  SELECT DISTINCT l.doc_id AS cid, r.doc_id AS bid
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
  WHERE l.doc_id % 20 <> 0 AND r.doc_id % 20 = 0),
fscored AS (
  SELECT c.cid, round(({eq}) / {nh}.0, 6) AS est
  FROM dcand c JOIN sig a ON a.doc_id = c.cid
               JOIN sig b ON b.doc_id = c.bid),
fuzzy AS (SELECT DISTINCT cid AS doc_id FROM fscored
          WHERE est >= {_T37_THRESHOLD}),
xwords AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f]+') AS ws
  FROM documents),
xsh AS (
  SELECT DISTINCT doc_id, s.sh AS sh
  FROM xwords, unnest(CASE WHEN len(ws) < {n} THEN [array_to_string(ws, ' ')]
       ELSE list_transform(generate_series(1, len(ws) - {n - 1}),
                           i -> array_to_string(list_slice(ws, i, i + {n - 1}), ' ')) END) AS s(sh)),
xhv AS (
  SELECT doc_id, {_nibble_value_sql("h16")} % {PORTABLE_P} AS g
  FROM (SELECT doc_id, md5(sh) AS h16 FROM xsh)),
xbench AS (SELECT DISTINCT g FROM xhv WHERE doc_id % 20 = 0),
exact AS (
  SELECT DISTINCT xhv.doc_id
  FROM xhv JOIN xbench USING (g) WHERE xhv.doc_id % 20 <> 0),
base AS (
  SELECT d.doc_id, d.source,
         (e.doc_id IS NOT NULL) AS is_exact,
         (f.doc_id IS NOT NULL) AS is_fuzzy
  FROM documents d
  LEFT JOIN exact e ON e.doc_id = d.doc_id
  LEFT JOIN fuzzy f ON f.doc_id = d.doc_id
  WHERE d.doc_id % 20 <> 0)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN is_exact THEN 1 ELSE 0 END)::BIGINT AS n_exact,
       sum(CASE WHEN is_fuzzy THEN 1 ELSE 0 END)::BIGINT AS n_fuzzy,
       sum(CASE WHEN is_exact OR is_fuzzy THEN 1 ELSE 0 END)::BIGINT
         AS n_flagged,
       {XR.round_ratio_sql(
           'count(*) - sum(CASE WHEN is_exact OR is_fuzzy THEN 1 ELSE 0 END)',
           'count(*)', 6)} AS clean_rate
FROM base GROUP BY source"""


@register("t38_contamination_report", _t38_oracle_sql())
def t38_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contamination summary: exact 5-gram (t13) and fuzzy
    MinHash (t37) screens against the held-out benchmark slice, their
    union, and the exact clean rate."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    ex = (TX.decontaminate(corpus, bench, "doc_id", "text",
                           shingle_n=_T13_N)
          .select("doc_id", F.col("contaminated").alias("__ex")))
    fz = (DD.minhash_decontaminate(
        corpus, bench, "doc_id", "text", threshold=_T37_THRESHOLD,
        num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_n=_MH_SHINGLE)
        .select("doc_id", F.lit(True).alias("__fz")))
    j = (corpus.select("doc_id", "source")
         .join(ex, "doc_id", "left").join(fz, "doc_id", "left"))
    is_ex = F.coalesce(F.col("__ex"), F.lit(False))
    is_fz = F.coalesce(F.col("__fz"), F.lit(False))
    flagged = F.sum((is_ex | is_fz).cast("int"))
    return (j.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(is_ex.cast("int")).cast("long").alias("n_exact"),
                 F.sum(is_fz.cast("int")).cast("long").alias("n_fuzzy"),
                 flagged.cast("long").alias("n_flagged"),
                 XR.round_ratio(F.count(F.lit(1)) - flagged,
                                F.count(F.lit(1)), 6).alias("clean_rate")))


# --- sel01 — greedy k-center diversity selection ----------------------------
# Coverage-driven subset selection (Gonzalez 1985 greedy 2-approx): pick
# the k mutually-most-distant embeddings — the diversity primitive for
# annotation batches, curriculum seeds, and coresets.  k bounded rounds,
# each one corpus scan + TakeOrdered(1); the oracle replays the greedy
# loop as an incremental-least CTE chain (distances round to 6 dp before
# every comparison, ties break on ascending vec_id — the ann01 device).
_SEL01_K = 6


def _sel01_oracle_sql(k: int = _SEL01_K) -> str:
    sql = """WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), c0 AS (
  SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1
), t1 AS (
  SELECT e.vec_id, e.v,
         1 - round(list_cosine_similarity(e.v, c0.v), 6) AS md
  FROM e, c0
)"""
    for r in range(1, k):
        not_in = " UNION ALL ".join(
            f"SELECT vec_id FROM c{i}" for i in range(r))
        sql += f""", c{r} AS (
  SELECT vec_id, v, md FROM t{r}
  WHERE vec_id NOT IN ({not_in})
  ORDER BY md DESC, vec_id LIMIT 1
)"""
        if r < k - 1:
            sql += f""", t{r + 1} AS (
  SELECT t.vec_id, t.v,
         least(t.md, 1 - round(list_cosine_similarity(t.v, c.v), 6)) AS md
  FROM t{r} t, c{r} c
)"""
    parts = ["SELECT CAST(0 AS INT) AS rank, vec_id,"
             " CAST(NULL AS DOUBLE) AS maximin_dist FROM c0"]
    parts += [f"SELECT CAST({r} AS INT) AS rank, vec_id,"
              f" md AS maximin_dist FROM c{r}" for r in range(1, k)]
    return sql + "\n" + "\nUNION ALL\n".join(parts)


@register("sel01_kcenter_diversity", _sel01_oracle_sql())
def sel01_kcenter_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center over the embeddings table: the k most mutually
    distant vectors with the maximin-radius sequence."""
    from dataqtor_spark.operators import selection as SEL

    emb = _t(spark, sf_dir, "embeddings")
    return SEL.kcenter_select(emb, "vec_id", "embedding", k=_SEL01_K)


# --- s19 — count-min sketch heavy hitters ------------------------------------
# The bounded-state frequency sketch beside HLL (s13) and KLL (s14):
# depth×width counter cells built in ONE projection+groupBy (each task
# emits ≤ depth·width rows — mergeable across shards/streams by
# cell-wise sum), estimates validated against the exact top-k.  The
# md5-derived "cms"-salted hash family replays bit-identically in
# DuckDB, so the ESTIMATES are hash-checked, not just the exact counts.
_S19_DEPTH, _S19_WIDTH, _S19_TOPK = 4, 256, 10


def _s19_oracle_sql() -> str:
    from dataqtor_spark.operators.dedup import (
        PORTABLE_P, portable_hash_constants)

    consts = portable_hash_constants(_S19_DEPTH, salt="cms")
    w = _S19_WIDTH
    nib = _nibble_value_sql("md5(t)")
    cell_rows = "\nUNION ALL\n".join(
        f"SELECT {i} AS i, ({a} * v + {b}) % {PORTABLE_P} % {w} AS b,"
        f" cnt FROM tv"
        for i, (a, b) in enumerate(consts))
    probe_rows = "\nUNION ALL\n".join(
        f"SELECT t, cnt, {i} AS i,"
        f" ({a} * v + {b}) % {PORTABLE_P} % {w} AS b FROM topk"
        for i, (a, b) in enumerate(consts))
    return f"""WITH toks AS (
  SELECT u.t FROM (
    SELECT list_filter(regexp_split_to_array(trim(lower(text)),
                       '[ \\t\\n\\r\\f]+'), x -> x <> '') AS tk
    FROM documents) d, unnest(d.tk) AS u(t)
), tv AS (
  SELECT t, {nib} % {PORTABLE_P} AS v, count(*)::BIGINT AS cnt
  FROM toks GROUP BY 1
), cells AS (
  SELECT i, b, sum(cnt)::BIGINT AS c FROM (
{cell_rows}
  ) GROUP BY 1, 2
), topk AS (
  SELECT t, v, cnt FROM tv ORDER BY cnt DESC, t LIMIT {_S19_TOPK}
), probes AS (
{probe_rows}
)
SELECT p.t AS token, p.cnt AS exact_cnt,
       min(c.c)::BIGINT AS cms_est,
       (min(c.c) - p.cnt)::BIGINT AS overcount
FROM probes p JOIN cells c ON c.i = p.i AND c.b = p.b
GROUP BY p.t, p.cnt"""


@register("s19_cms_heavy_hitters", _s19_oracle_sql())
def s19_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream: exact top-10
    tokens with their CMS estimates and overcounts
    (sketches.cms_heavy_hitters)."""
    from dataqtor_spark.operators import sketches as SK

    return SK.cms_heavy_hitters(_t(spark, sf_dir, "documents"),
                                depth=_S19_DEPTH, width=_S19_WIDTH,
                                top_k=_S19_TOPK)


# --- sel03 — cluster-balanced coreset sampling -------------------------------
# Equal representation across semantic regions: the d09 portable k-means
# replay assigns every vector a cluster, then md5-of-id order keeps
# per_cluster items from EACH cluster — the balancing sampler a uniform
# draw can't provide (dense regions would dominate).  Oracle = the full
# 2-round Lloyd chain (the d09 device) + one window per cluster.
_SEL03_CLUSTERS, _SEL03_ITER, _SEL03_PER, _SEL03_DIM = 8, 2, 10, 64


def _sel03_oracle_sql() -> str:
    nc, dim, m = _SEL03_CLUSTERS, _SEL03_DIM, _SEL03_PER

    def assign_cte(src: str, cents: str) -> str:
        return f"""(
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, s.cid,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY round(pow(list_distance(x.v, s.v), 2), 9), s.cid) AS rn
    FROM {src} x, {cents} s) WHERE rn = 1)"""

    def recenter_cte(assigned: str) -> str:
        return f"""(
  SELECT cid, list(val ORDER BY i) AS v FROM (
    SELECT a.cid, t.i, round(avg(a.v[t.i]), 6) AS val
    FROM {assigned} a, unnest(generate_series(1, {dim})) AS t(i)
    GROUP BY a.cid, t.i) GROUP BY cid)"""

    return f"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
seeds AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cid, v
  FROM c ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {nc}),
a1 AS {assign_cte("c", "seeds")},
cent1 AS {recenter_cte("a1")},
a2 AS {assign_cte("c", "cent1")},
cent2 AS {recenter_cte("a2")},
af AS {assign_cte("c", "cent2")}
SELECT vec_id, cluster, pick_rank FROM (
  SELECT vec_id, cid::INT AS cluster,
         row_number() OVER (PARTITION BY cid
           ORDER BY md5(vec_id::VARCHAR), vec_id)::BIGINT AS pick_rank
  FROM af)
WHERE pick_rank <= {m}"""


@register("sel03_cluster_balanced_sample", _sel03_oracle_sql())
def sel03_cluster_balanced_sample(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Cluster-balanced coreset: portable k-means clusters + md5-ordered
    top-10 per cluster (selection.cluster_balanced_sample)."""
    from dataqtor_spark.operators import selection as SEL

    return SEL.cluster_balanced_sample(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        n_clusters=_SEL03_CLUSTERS, n_iter=_SEL03_ITER,
        per_cluster=_SEL03_PER, cache_key="sel03")


# --- sel02 — Maximal Marginal Relevance re-ranking ---------------------------
# The relevance-plus-diversity serving re-rank (Carbonell & Goldstein
# 1998): cosine top-12 shortlist per query, then 5 greedy rounds of
# argmax(0.5·rel − 0.5·max_sim_to_selected).  The Spark side advances
# ALL queries one round per iteration (no driver-side candidate rows);
# the oracle unrolls the same greedy rounds as anti-join CTEs.
_SEL02_K, _SEL02_SHORTLIST, _SEL02_NQ = 5, 12, 4  # lam = 0.5


def _sel02_oracle_sql(k: int = _SEL02_K,
                      shortlist: int = _SEL02_SHORTLIST) -> str:
    sql = f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), sl AS (
  SELECT qid, cid, rel FROM (
    SELECT q.vec_id AS qid, c.vec_id AS cid,
           round(list_cosine_similarity(c.v, q.v), 6) AS rel,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(c.v, q.v), 6) DESC,
                      c.vec_id ASC) AS rn
    FROM e c, e q WHERE q.vec_id < {_SEL02_NQ} AND c.vec_id <> q.vec_id)
  WHERE rn <= {shortlist}
), cv AS (
  SELECT sl.qid, sl.cid, sl.rel, e.v FROM sl JOIN e ON e.vec_id = sl.cid
), p AS (
  SELECT x.qid, x.cid AS a, y.cid AS b,
         round(list_cosine_similarity(x.v, y.v), 6) AS sim
  FROM cv x JOIN cv y ON x.qid = y.qid AND x.cid <> y.cid
), sel1 AS (
  SELECT qid, cid, rel, score FROM (
    SELECT qid, cid, rel, 0.5 * rel - 0.5 * 0.0 AS score,
           row_number() OVER (PARTITION BY qid
             ORDER BY 0.5 * rel - 0.5 * 0.0 DESC, cid ASC) AS rn
    FROM cv)
  WHERE rn = 1
)"""
    for r in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT qid, cid FROM sel{i}" for i in range(1, r))
        sql += f""", ms{r} AS (
  SELECT p.qid, p.a AS cid, max(p.sim) AS ms
  FROM p JOIN ({prev}) s ON p.qid = s.qid AND p.b = s.cid
  GROUP BY 1, 2
), sel{r} AS (
  SELECT qid, cid, rel, score FROM (
    SELECT cv.qid, cv.cid, cv.rel,
           0.5 * cv.rel - 0.5 * coalesce(m.ms, 0.0) AS score,
           row_number() OVER (PARTITION BY cv.qid
             ORDER BY 0.5 * cv.rel - 0.5 * coalesce(m.ms, 0.0) DESC,
                      cv.cid ASC) AS rn
    FROM cv LEFT JOIN ms{r} m ON m.qid = cv.qid AND m.cid = cv.cid
    WHERE NOT EXISTS (SELECT 1 FROM ({prev}) s
                      WHERE s.qid = cv.qid AND s.cid = cv.cid))
  WHERE rn = 1
)"""
    parts = [f"SELECT qid AS query_id, CAST({r} AS INT) AS rank,"
             f" cid AS neighbor_id, rel, score AS mmr_score FROM sel{r}"
             for r in range(1, k + 1)]
    return sql + "\n" + "\nUNION ALL\n".join(parts)


@register("sel02_mmr_rerank", _sel02_oracle_sql())
def sel02_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-rank of the cosine top-12 shortlist for 4 query vectors:
    5 greedy diversity-aware picks per query, all queries advancing in
    parallel (selection.mmr_select)."""
    from dataqtor_spark.operators import selection as SEL

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _SEL02_NQ)
    return SEL.mmr_select(emb, queries, "vec_id", "embedding",
                          k=_SEL02_K, shortlist=_SEL02_SHORTLIST, lam=0.5)


# --- lm02 — perplexity gate (per-source LM-filter funnel) --------------------
# The deployment form of lm01's CCNet scoring: gate every document on its
# bigram-LM avg token log-probability (threshold −3.5, a real split at
# every SF) and report the per-source funnel — docs and tokens in, docs
# and tokens kept, kept fraction in exact ppm (no float ratio ever meets
# round(): the t17 lesson).  The oracle nests the full lm01 replay as a
# CTE, so the gate is differentially checked end-to-end, scores included.
_LM02_THRESH = -3.5

_LM02_SQL = f"""WITH lm AS (
{_LM01_SQL}
), j AS (
  SELECT d.source, lm.n_tokens,
         CASE WHEN lm.avg_logprob >= {_LM02_THRESH} THEN 1 ELSE 0 END AS kept
  FROM lm JOIN documents d USING (doc_id)
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(kept)::BIGINT AS n_kept,
       sum(n_tokens)::BIGINT AS n_tokens,
       sum(CASE WHEN kept = 1 THEN n_tokens ELSE 0 END)::BIGINT
         AS kept_tokens,
       CAST({XR.round_ratio_int_sql('sum(kept)::HUGEINT * 1000000',
                                    'count(*)', 0)} AS BIGINT) AS kept_ppm
FROM j GROUP BY source"""


@register("lm02_perplexity_gate", _LM02_SQL)
def lm02_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source perplexity-filter funnel: train the lm01 bigram LM on
    src0, gate every scored document at avg_logprob ≥ −3.5, report
    docs/tokens in and kept plus the kept fraction in exact ppm."""
    docs = _t(spark, sf_dir, "documents")
    scores = TX.ngram_lm_score(docs, F.col("source") == "src0")
    kept = F.when(F.col("avg_logprob") >= F.lit(_LM02_THRESH), 1) \
        .otherwise(0)
    j = (scores.join(docs.select("doc_id", "source"), "doc_id")
         .select("source", "n_tokens", kept.alias("kept")))
    return (j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("kept").cast("long").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("kept") == 1, F.col("n_tokens"))
              .otherwise(F.lit(0))).cast("long").alias("kept_tokens"),
        XR.round_ratio_int(F.sum("kept") * F.lit(1000000),
                           F.count(F.lit(1)), 0)
        .cast("long").alias("kept_ppm")))


# --- pack01/chunk01 — corpus layout: sequence packing + RAG chunking --------
# The step between a curated corpus and the training/embedding job it
# feeds: pack01 lays documents end-to-end into fixed-length token blocks
# (concat-and-chunk, the GPT pre-training layout) via the distributed
# total-order prefix sum — no single-partition window anywhere; chunk01
# splits documents into overlapping character windows with offsets and a
# content fingerprint — the embedding-indexing splitter.
_PACK01_L = 512

_PACK01_SQL = f"""WITH t AS (
  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f]+')) END
           AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id) AS cum
  FROM t
)
SELECT doc_id, n_tokens::BIGINT AS n_tokens,
       (cum - n_tokens)::BIGINT AS tok_start,
       CASE WHEN n_tokens > 0
            THEN ((cum - n_tokens) // {_PACK01_L})::BIGINT END AS first_block,
       CASE WHEN n_tokens > 0
            THEN ((cum - 1) // {_PACK01_L})::BIGINT END AS last_block,
       CASE WHEN n_tokens > 0
            THEN ((cum - 1) // {_PACK01_L}
                  - (cum - n_tokens) // {_PACK01_L} + 1)::BIGINT
            ELSE 0 END AS n_blocks,
       CASE WHEN n_tokens > 0
            THEN ((cum - 1) // {_PACK01_L})
                 <> ((cum - n_tokens) // {_PACK01_L}) END AS is_split
FROM c"""


@register("pack01_sequence_packing", _PACK01_SQL)
def pack01_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing of documents into 512-token training
    blocks: per-doc token offset, first/last block, span and split flag —
    the global token-space layout computed as a distributed prefix sum."""
    return TX.concat_chunk_packing(_t(spark, sf_dir, "documents"),
                                   seq_len=_PACK01_L)


_CHUNK01_LEN, _CHUNK01_OVERLAP = 1000, 200
_CHUNK01_STRIDE = _CHUNK01_LEN - _CHUNK01_OVERLAP

_CHUNK01_SQL = f"""SELECT d.doc_id,
       (s.g // {_CHUNK01_STRIDE})::BIGINT AS chunk_idx,
       s.g::BIGINT AS char_start,
       length(substr(d.text, s.g + 1, {_CHUNK01_LEN}))::BIGINT AS chunk_chars,
       md5(substr(d.text, s.g + 1, {_CHUNK01_LEN})) AS chunk_md5
FROM documents d,
     unnest(generate_series(0, length(d.text) - 1, {_CHUNK01_STRIDE}))
       AS s(g)
WHERE length(d.text) > 0"""


@register("chunk01_doc_chunks", _CHUNK01_SQL)
def chunk01_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 1000-char chunks (stride 800) with offsets and md5
    content fingerprints — the RAG/embedding splitter; one projection +
    explode, no shuffle."""
    return TX.doc_chunks(_t(spark, sf_dir, "documents"),
                         chunk_len=_CHUNK01_LEN, overlap=_CHUNK01_OVERLAP)


# --- pack02 — length-bucketed batching efficiency ---------------------------
_PACK02_SQL = f"""WITH t AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f]+')) END
           AS n
  FROM documents
), b AS (
  SELECT CASE WHEN n > 0 THEN length(bin(n)) - 1 ELSE -1 END AS bucket, n
  FROM t
), g AS (
  SELECT bucket::BIGINT AS bucket, min(n)::BIGINT AS min_tokens,
         max(n)::BIGINT AS max_tokens, count(*)::BIGINT AS n_docs,
         sum(n)::BIGINT AS sum_tokens
  FROM b GROUP BY bucket
)
SELECT bucket, min_tokens, max_tokens, n_docs, sum_tokens,
       (n_docs * max_tokens - sum_tokens)::BIGINT AS pad_waste,
       CAST({XR.round_ratio_int_sql(
           '(n_docs * max_tokens - sum_tokens)::HUGEINT * 1000000',
           'greatest(n_docs * max_tokens, 1)', 0)} AS BIGINT) AS waste_ppm
FROM g"""


@register("pack02_length_buckets", _PACK02_SQL)
def pack02_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length buckets with per-bucket padding-waste share
    (exact ppm): the batching-efficiency report behind bucketed batching
    vs pack01's packed layout.  Bucket index by integer bit-length —
    never a float log2."""
    return TX.length_bucket_report(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Registry order: the driver grades the first 50 entries of ``queries()``.
# GRADED_PREFIX is that window (rotate it by editing this list); every other
# query follows in registration order.
# ---------------------------------------------------------------------------

GRADED_PREFIX = [
    "t17b_source_mix_diag",
    "p01_project_reorder_drop",
    "p03_typed_search_orders",
    "p05_null_search_customer",
    "p06_row_id_lookup",
    "p08_null_majority_rows",
    "pareto01_revenue_concentration",
    "pr07_psi_drift",
    "pr08_outlier_iqr",
    "pr10_equi_depth_histogram",
    "pr11_ks_drift",
    "pr12_benford_extendedprice",
    "pr14_key_skew_user",
    "pr16_incremental_distinct_users",
    "pr18_entropy_mi_orders",
    "pr20_chi2_status_priority",
    "r06_no_spaces_rule",
    "r08b_email_subrule_counts",
    "s13_windowed_distinct_sketch",
    "t05_training_pipeline",
    "t06_chunk_documents",
    "t07_pii_scrub",
    "t08_shard_assignment",
    "t15_gopher_flags",
    "t23_bm25_search",
    "t29_curation_funnel",
    "ts03_autocorrelation",
    "x01_json_extract_props",
    "a01b_catalog_summary",
    "a18_pivot_status_priority",
    "a20_column_modes",
    "a21_duplicate_columns",
    "ann04_label_centroids",
    "b01_funnel_events",
    "b07_time_to_convert",
    "bpe01_merge_candidates",
    "cdc01_snapshot_diff",
    "cdc02_latest_per_key",
    "cep01_sequence_match",
    "cube01_returnflag_status",
    "er01_entity_resolution",
    "fd01_functional_deps_orders",
    "fd02_inclusion_dependencies",
    "g01_pagerank_transitions",
    "g02_triangle_count",
    "d15_minhash_containment",
    "t45_code_switch_scan",
    "d14_containment_pairs",
    "pii03_payment_card_scan",
    "t44_tokenizer_fertility",
]
QUERIES = {n: QUERIES[n] for n in dict.fromkeys([*GRADED_PREFIX, *QUERIES])}
ORACLES = {n: ORACLES[n] for n in QUERIES if n in ORACLES}
