"""Differential tests: the Spark SQL text builders against the Column
compositions they replaced.

The retired Column forms are copied below as the reference.  The text form
must parse to the same Catalyst expression (``sameSemantics``) and give the
same rows and the same schema, nullability included.
"""

import functools
import random
from decimal import Decimal

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st
from test_properties import _SETTINGS, ID_VALUES, PHONE_VALUES

from dataqtor_spark import session as S
from dataqtor_spark.functions import checksums as CK
from dataqtor_spark.functions import email as EM
from dataqtor_spark.functions import exact as EX
from dataqtor_spark.functions import phone as PH
from dataqtor_spark.operators import profile as P
from dataqtor_spark.operators import rules as R
from dataqtor_spark.operators import textstats as TS
from dataqtor_spark.workbench import Workbench

# ---------------------------------------------------------------------------
# The retired Column builders (reference)
# ---------------------------------------------------------------------------


def _contains_any(c, needles):
    out = F.lit(False)
    for n in needles:
        out = out | c.contains(n)
    return out


def ref_email_flags(col):
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    at_count = F.length(c) - F.length(F.regexp_replace(c, "@", ""))
    flags = {
        "f1_forbidden_chars": _contains_any(c, EM.FORBIDDEN_CHARS),
        "f2_too_short": F.length(c) <= 6,
        "f3_missing_at_or_dot": (~c.contains("@")) | (~c.contains(".")),
        "f4_multiple_at": at_count > 1,
        "f5_dummy_prefix": F.lit(False),
        "f6_malformed_at": _contains_any(c, EM.MALFORMED_AT),
        "v1_turkish_chars": _contains_any(c, EM.TURKISH_CHARS),
        "v2_uppercase": c.rlike("[A-Z]"),
        "v3_bad_ending": F.lit(False),
        "v4_typo_domain": _contains_any(c, EM.TYPO_DOMAINS),
    }
    f5 = F.lit(False)
    for p in EM.DUMMY_PREFIXES:
        f5 = f5 | c.startswith(p)
    flags["f5_dummy_prefix"] = f5
    v3 = F.lit(False)
    for e in EM.BAD_ENDINGS:
        v3 = v3 | c.endswith(e)
    flags["v3_bad_ending"] = v3
    return {k: F.coalesce(v, F.lit(False)) for k, v in flags.items()}


def ref_email_violation(col):
    out = F.lit(False)
    for v in ref_email_flags(col).values():
        out = out | v
    return out


def _digit(c, i):
    return F.substring(c, i, 1).try_cast("int")


def ref_is_valid_tcid(col):
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    d = [_digit(c, i) for i in range(1, 12)]
    odd = d[0] + d[2] + d[4] + d[6] + d[8]
    even = d[1] + d[3] + d[5] + d[7]
    sum10 = sum(d[0:10], F.lit(0))
    return (
        (F.length(c) == 11)
        & c.rlike("^[0-9]{11}$")
        & (d[0] != 0)
        & (F.pmod(sum10, F.lit(10)) == d[10])
        & (F.pmod(7 * odd - even, F.lit(10)) == d[9])
    )


def ref_is_valid_taxnum(col):
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    d = [_digit(c, i) for i in range(1, 11)]
    total = F.lit(0)
    for x in range(9):
        t1 = F.pmod(d[x] + (9 - x), F.lit(10))
        t2 = F.pmod(t1 * (2 ** (9 - x)), F.lit(9))
        t2 = F.when((t1 != 0) & (t2 == 0), F.lit(9)).otherwise(t2)
        total = total + t2
    check = F.pmod(F.lit(10) - F.pmod(total, F.lit(10)), F.lit(10))
    ten_ok = (F.length(c) == 10) & c.rlike("^[0-9]{10}$") & (d[9] == check)
    eleven_ok = (F.length(c) == 11) & ref_is_valid_tcid(c)
    return ten_ok | eleven_ok


def ref_phone_flags(col):
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    ln = F.length(c)
    flags = {
        "bad_ten_digit": (ln == 10) & (c.startswith("0")
                                       | _contains_any(c, PH.SEPARATOR_CHARS)),
        "dummy_sequence": _contains_any(c, PH.DUMMY_PHONE_PATTERNS),
        "invalid": (ln < 10) | c.rlike("[A-Za-z]"),
        "overlong": ln > 10,
    }
    return {k: F.coalesce(v, F.lit(False)) for k, v in flags.items()}


def ref_phone_violation(col):
    out = F.lit(False)
    for v in ref_phone_flags(col).values():
        out = out | v
    return out


def _null_safe(c):
    return F.coalesce(c, F.lit(False))


def ref_rule_no_special_chars(column, allowed=None):
    c = F.col(column).cast("string")
    full = F.lit(False)
    for ch in R.SPECIAL_CHARS:
        full = full | c.contains(ch)
    if allowed:
        wl = F.lit(False)
        for ch in allowed:
            wl = wl | c.contains(ch)
        v = (~wl) & full
    else:
        v = full
    return _null_safe(v)


def ref_rule_forbidden_values(column, values):
    return _null_safe(F.col(column).isin(values))


def ref_rule_domain(column, allowed=None):
    c = F.col(column)
    vals = allowed if allowed is not None else R.TR_CITIES
    return _null_safe(~c.isin(vals)) & c.isNotNull()


def ref_rule_tcid(column):
    c = F.col(column)
    return _null_safe(~ref_is_valid_tcid(c)) & c.isNotNull()


def ref_rule_taxnum(column):
    c = F.col(column)
    return _null_safe(~ref_is_valid_taxnum(c)) & c.isNotNull()


def ref_evaluate_rules(df, rules):
    aggs = [F.count(F.lit(1)).alias("__total")]
    for i, r in enumerate(rules):
        aggs.append(F.coalesce(F.sum(F.col(r.column).isNull().cast("long")), F.lit(0))
                    .alias(f"__nulls_{i}"))
        aggs.append(F.coalesce(F.sum(r.violation.cast("long")), F.lit(0))
                    .alias(f"__viol_{i}"))
    one = df.agg(*aggs)
    structs = []
    for i, r in enumerate(rules):
        total = F.col("__total")
        nulls = F.col(f"__nulls_{i}")
        viol = F.col(f"__viol_{i}")
        proper = total - nulls - viol
        structs.append(F.struct(
            F.lit(r.name).alias("rule"),
            F.lit(r.column).alias("column"),
            total.alias("total_records"),
            nulls.alias("null_records"),
            viol.alias("out_of_format_records"),
            proper.alias("proper_format_records"),
            F.when(total > 0, F.round(proper * 100.0 / total, 2))
            .otherwise(F.lit(0.0)).alias("dq_score"),
        ))
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def ref_null_profile(df, cols=None):
    cols = P._data_cols(df, cols)
    aggs = [F.count(F.lit(1)).alias("__total")]
    for c in cols:
        aggs.append(
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(f"__nulls_{c}")
        )
    one = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__total").alias("total_records"),
            F.col(f"__nulls_{c}").alias("null_records"),
            (F.col("__total") - F.col(f"__nulls_{c}")).alias("filled_records"),
        )
        for c in cols
    ]
    return (
        one.select(F.explode(F.array(*structs)).alias("s"))
        .select("s.*")
        .withColumn(
            "null_pct",
            F.when(F.col("total_records") > 0,
                   F.round(F.col("null_records") * 100.0 / F.col("total_records"), 2)
                   ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "filled_pct",
            F.when(F.col("total_records") > 0,
                   F.round(F.col("filled_records") * 100.0 / F.col("total_records"), 2)
                   ).otherwise(F.lit(0.0)),
        )
    )


def ref_profile_columns(df, cols=None, exact_distinct=False, exact_mean=None):
    cols = P._data_cols(df, cols)
    types = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))
    num = set(P.numeric_columns(df))
    aggs = [F.count(F.lit(1)).alias("__total")]
    for c in cols:
        aggs.append(F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(f"__nulls_{c}"))
        if exact_distinct:
            aggs.append(F.countDistinct(F.col(c)).alias(f"__distinct_{c}"))
        else:
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"__distinct_{c}"))
        if c in num:
            if exact_mean is not None:
                s_in, s_out = exact_mean
                scaled = (F.sum(F.col(c).cast(f"decimal(38,{s_in})"))
                          * (10 ** s_in))
                mean_col = EX.round_ratio(
                    scaled, F.count(F.col(c)) * (10 ** s_in), s_out)
            else:
                mean_col = F.avg(F.col(c))
            aggs += [
                mean_col.alias(f"__mean_{c}"),
                F.stddev_samp(F.col(c)).alias(f"__std_{c}"),
                F.min(F.col(c)).cast("double").alias(f"__min_{c}"),
                F.max(F.col(c)).cast("double").alias(f"__max_{c}"),
                F.skewness(F.col(c)).alias(f"__skew_{c}"),
                F.kurtosis(F.col(c)).alias(f"__kurt_{c}"),
                F.coalesce(F.sum((F.col(c) == 0).cast("long")), F.lit(0)).alias(f"__zeros_{c}"),
                F.coalesce(F.sum((F.col(c) < 0).cast("long")), F.lit(0)).alias(f"__neg_{c}"),
            ]
        else:
            aggs += [
                F.lit(None).cast("double").alias(f"__mean_{c}"),
                F.lit(None).cast("double").alias(f"__std_{c}"),
                F.lit(None).cast("double").alias(f"__min_{c}"),
                F.lit(None).cast("double").alias(f"__max_{c}"),
                F.lit(None).cast("double").alias(f"__skew_{c}"),
                F.lit(None).cast("double").alias(f"__kurt_{c}"),
                F.lit(None).cast("long").alias(f"__zeros_{c}"),
                F.lit(None).cast("long").alias(f"__neg_{c}"),
            ]
    one = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.lit(types[c].simpleString()).alias("dtype"),
            F.col("__total").alias("total_records"),
            F.col(f"__nulls_{c}").alias("null_records"),
            F.col(f"__distinct_{c}").cast("long").alias("distinct_values"),
            F.col(f"__mean_{c}").alias("mean"),
            F.col(f"__std_{c}").alias("std"),
            F.col(f"__min_{c}").alias("min"),
            F.col(f"__max_{c}").alias("max"),
            F.col(f"__skew_{c}").alias("skewness"),
            F.col(f"__kurt_{c}").alias("kurtosis"),
            F.col(f"__zeros_{c}").alias("zero_count"),
            F.col(f"__neg_{c}").alias("negative_count"),
        )
        for c in cols
    ]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def ref_report(summaries):
    """The retired Workbench.report over lazy detect summaries."""
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionByName(s)
    overall = (out.groupBy("measurement")
               .agg(F.round(F.avg("dq_score"), 2).alias("overall_dq_score")))
    return out.join(overall, "measurement")


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------

# quotes, backslashes, Turkish letters and NULL: what the text must escape
EDGE = [None, "", "'", "\\", '"', "\\'", "''", "a'b@c.com", "x\\y@mail.com",
        'q"w@mail.com', "İstanbul", "Iğdır", "ığüşöç@gmail.com", "O'Neil",
        "05551234567", "0555 123 45 67", "10000000146", "1234567890",
        "%_$1", "a@b.c", "Ankara", "ANKARA", "üye@yahoo.com.tr", "\n\t"]
FORBIDDEN = ["O'Neil", "a\\b", 'say "hi"', "İl", "%_$1"]
EMAIL_VALUES = st.lists(st.one_of(
    st.none(), st.sampled_from(EDGE),
    st.text("abcAB0@._-'\\\"ıİşçğü ~#+", max_size=18)), min_size=1, max_size=60)


@functools.lru_cache(maxsize=None)
def _pairs(column):
    """(name, retired Column, new Column) for every builder over ``column``
    (built once: the retired forms cost thousands of py4j calls)."""
    out = [("email", ref_email_violation(column), EM.email_violation(column)),
           ("phone", ref_phone_violation(column), PH.phone_violation(column)),
           ("tcid", ref_is_valid_tcid(column), CK.is_valid_tcid(column)),
           ("taxnum", ref_is_valid_taxnum(column), CK.is_valid_taxnum(column)),
           ("r_email", ref_email_violation(column), R.rule_email(column).violation),
           ("r_phone", ref_phone_violation(column), R.rule_phone_tr(column).violation),
           ("r_tcid", ref_rule_tcid(column), R.rule_tcid(column).violation),
           ("r_taxnum", ref_rule_taxnum(column), R.rule_taxnum(column).violation),
           ("r_domain", ref_rule_domain(column), R.rule_domain(column).violation),
           ("r_domain_allowed", ref_rule_domain(column, FORBIDDEN),
            R.rule_domain(column, FORBIDDEN).violation),
           ("r_special", ref_rule_no_special_chars(column),
            R.rule_no_special_chars(column).violation),
           ("r_special_allowed", ref_rule_no_special_chars(column, ["-", "'"]),
            R.rule_no_special_chars(column, ["-", "'"]).violation),
           ("r_forbidden", ref_rule_forbidden_values(column, FORBIDDEN),
            R.rule_forbidden_values(column, FORBIDDEN).violation)]
    out += [(f"email_{k}", ref_email_flags(column)[k], v)
            for k, v in EM.email_flags(column).items()]
    out += [(f"phone_{k}", ref_phone_flags(column)[k], v)
            for k, v in PH.phone_flags(column).items()]
    return out


def _assert_rows_agree(spark, vals):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, s string")
    pairs = _pairs("s")
    rows = df.select("id", *[c for name, old, new in pairs
                             for c in (old.alias(f"old_{name}"), new.alias(f"new_{name}"))]
                     ).collect()
    for r in rows:
        for name, _, _ in pairs:
            assert r[f"old_{name}"] == r[f"new_{name}"], (name, vals[r["id"]])


def _table(df):
    """Schema (names, types and nullability) and rows, in a fixed order."""
    return df.schema, sorted(map(repr, df.collect()))


def _same_table(a, b):
    assert _table(a) == _table(b)


def _customers(spark, n=300, seed=7, all_null=False):
    """A seeded customer frame with valid and broken values and NULLs."""
    rnd = random.Random(seed)

    def tcid():
        d = [rnd.randint(1, 9)] + [rnd.randint(0, 9) for _ in range(8)]
        d.append((7 * sum(d[0:9:2]) - sum(d[1:8:2])) % 10)
        d.append(sum(d) % 10)
        return "".join(map(str, d))

    def pick(options):
        return None if all_null or rnd.random() < 0.1 else rnd.choice(options)

    rows = []
    for i in range(n):
        rows.append((
            i,
            pick([f"user{i}@mail.com", f"User{i}@Mail.com", "yok@x.com", "a@b",
                  f"u{i}@gmail", "x'y@z.com", "ali.veli@hotmial.com", "ış@x.com"]),
            pick([f"05{rnd.randint(100000000, 999999999)}", "0555 123 45 67",
                  "5551234567", "123", "555555555555", "05a5"]),
            pick([tcid(), tcid(), "12345678901", "0" * 11, "1234"]),
            pick(R.TR_CITIES[:20] + ["Istanbul", "ankara", "İzmir ", "O'Neil"]),
            pick(["Ali", "Ayşe", "Mehmet", "Zeynep", "a\\b"]),
            pick([-3, 0, 18, 35, 64, 91]),
            pick([-120.5, 0.0, 10.25, 99.99, 1000.0]),
        ))
    schema = ("id long, email string, phone string, tcid string, city string, "
              "first_name string, age int, balance double")
    return spark.createDataFrame(rows, schema)


def _frames(spark):
    cust = _customers(spark)
    return {"customers": cust, "empty": cust.limit(0),
            "all_null": _customers(spark, n=20, all_null=True)}


def _rule_pairs():
    """(retired Rule, new Rule) for the benchmark rules plus the rest."""
    return [
        (R.Rule("email_r", "email", ref_email_violation("email")), R.rule_email("email", "email_r")),
        (R.Rule("phone_r", "phone", ref_phone_violation("phone")), R.rule_phone_tr("phone", "phone_r")),
        (R.Rule("tcid_r", "tcid", ref_rule_tcid("tcid")), R.rule_tcid("tcid", "tcid_r")),
        (R.Rule("city_r", "city", ref_rule_domain("city")), R.rule_domain("city", name="city_r")),
        (R.Rule("tax_r", "tcid", ref_rule_taxnum("tcid")), R.rule_taxnum("tcid", "tax_r")),
        (R.Rule("name_r", "first_name", ref_rule_no_special_chars("first_name")),
         R.rule_no_special_chars("first_name", name="name_r")),
        (R.Rule("forb_r", "first_name", ref_rule_forbidden_values("first_name", FORBIDDEN)),
         R.rule_forbidden_values("first_name", FORBIDDEN, "forb_r")),
        # a Column-predicate rule goes through the same fused aggregate
        (R.rule_compare("age", ">=", 18), R.rule_compare("age", ">=", 18)),
    ]


# ---------------------------------------------------------------------------
# Tests
# ---------------------------------------------------------------------------

def test_text_parses_to_the_retired_expression(spark):
    df = spark.createDataFrame([("a", 1)], "s string, n long")
    for column in ("s", "n"):
        for name, old, new in _pairs(column):
            assert df.select(old).sameSemantics(df.select(new)), (column, name)
    num, den = F.col("n") * 3 - 7, F.col("n") + 2
    assert df.select(EX.round_ratio(num, den, 4)).sameSemantics(
        df.select(F.expr(EX.round_ratio_expr("((`n` * 3) - 7)", "(`n` + 2)", 4))))


def test_rows_agree_on_escapes_and_turkish_letters(spark):
    _assert_rows_agree(spark, EDGE)


@settings(**_SETTINGS)
@given(ID_VALUES)
def test_rows_agree_on_id_values(spark, vals):
    _assert_rows_agree(spark, vals)


@settings(**_SETTINGS)
@given(PHONE_VALUES)
def test_rows_agree_on_phone_values(spark, vals):
    _assert_rows_agree(spark, vals)


@settings(**_SETTINGS)
@given(EMAIL_VALUES)
def test_rows_agree_on_email_values(spark, vals):
    _assert_rows_agree(spark, vals)


def test_pii_tcid_filter_matches_column_lambda(spark):
    df = spark.createDataFrame(
        [(1, "ids 10000000146 and 12345678901, 98765432109"), (2, None), (3, "")],
        "doc_id long, text string")
    ids = F.regexp_extract_all(F.col("text").cast("string"), F.lit(TS.PII_TCID_RE), F.lit(0))
    old = F.filter(ids, lambda x: ref_is_valid_tcid(x))
    got = df.select(old.alias("old"), TS._valid_tcids("text").alias("new")).collect()
    assert [r["old"] for r in got] == [r["new"] for r in got]
    assert got[0]["new"] == ["10000000146"]


def test_evaluate_rules_matches_retired_form(spark):
    pairs = _rule_pairs()
    for frame in _frames(spark).values():
        _same_table(ref_evaluate_rules(frame, [o for o, _ in pairs]),
                    R.evaluate_rules(frame, [n for _, n in pairs]))


def test_profiles_match_retired_form(spark):
    # The default distinct is a DataSketches HLL estimate (lgK 12), exact
    # on these frames' few hundred values.  Its reference is the exact
    # count(DISTINCT); on the seeded frame the retired HLL++ read 296, 98
    # and 113 where the exact counts of id, email and tcid are 300, 103
    # and 120.
    for frame in _frames(spark).values():
        _same_table(ref_null_profile(frame), P.null_profile(frame))
        _same_table(ref_profile_columns(frame, exact_distinct=True), P.profile_columns(frame))
        _same_table(ref_profile_columns(frame, exact_distinct=True, exact_mean=(2, 4)),
                    P.profile_columns(frame, exact_distinct=True, exact_mean=(2, 4)))


def test_profile_distinct_estimate_error(spark):
    # lgK 12: relative standard error 1.04 / sqrt(4096) ≈ 1.6%; allow 3 RSE
    df = spark.range(10_000).selectExpr(
        "id", "CAST(id * 7919 AS STRING) AS s", "CAST(id % 4000 AS INT) AS i",
        "id / 3.0D AS d", "CAST(id % 7000 AS FLOAT) AS f",
        "CAST(id * 0.5 AS DECIMAL(10, 1)) AS dec",
        "date_add(DATE'2000-01-01', CAST(id % 5000 AS INT)) AS dt")
    exact = df.selectExpr(*[f"count(DISTINCT {c}) AS {c}" for c in df.columns]).first()
    for r in P.profile_columns(df).collect():
        n = exact[r["column"]]
        assert abs(r["distinct_values"] - n) <= 3 * 0.016 * n, (r["column"], r["distinct_values"], n)
    # floats count as count(DISTINCT) groups them: -0.0 is 0.0, NaN is one value
    signed = spark.createDataFrame(
        [(-0.0, -0.0), (0.0, 0.0), (float("nan"), float("nan")), (float("nan"), 1.5)],
        "d double, f float")
    got = {r["column"]: r["distinct_values"] for r in P.profile_columns(signed).collect()}
    assert got == {"d": 2, "f": 3}
    assert signed.selectExpr("count(DISTINCT d)", "count(DISTINCT f)").first() == (2, 3)


def _repairs():
    """One Workbench repair of each kind."""
    return [("column op", lambda wb: wb.title_case("city")),
            ("fill_nulls", lambda wb: wb.fill_nulls("email", "yok@x.com")),
            ("drop_rows", lambda wb: wb.drop_rows([1, 2, 3])),
            ("update_cell", lambda wb: wb.update_cell(4, "phone", "05a5")),
            ("sort_rows", lambda wb: wb.sort_rows(["age"], [False])),
            ("project", lambda wb: wb.project([S.ROW_ID, "email", "phone", "city", "age"]))]


def test_snapshots_match_fresh_computation(spark):
    """After every repair kind, profile, null_profile and detect equal a
    fresh computation on the new head, both when profile measures and when
    profile and null_profile are served from the rows it kept."""
    for frame in _frames(spark).values():
        # checkpointed: each job then reads JVM blocks, not Python rows
        wb = Workbench(frame.withColumn(S.ROW_ID, F.col("id")).localCheckpoint())
        m = 0
        for kind, repair in _repairs():
            repair(wb)
            # a text rule and a Column-predicate rule on kept columns
            rules = [R.rule_email("email"), R.rule_compare("age", ">=", 18)]
            fresh = [_table(P.profile_columns(wb.df)), _table(P.null_profile(wb.df)),
                     _table(P.null_profile(wb.df, ["city", "email"]))]
            summary = _table(R.evaluate_rules(wb.df, rules))
            for _ in range(2):  # measured, then served
                assert [_table(wb.profile()), _table(wb.null_profile()),
                        _table(wb.null_profile(["city", "email"]))] == fresh, kind
                detected = wb.detect(rules)
                assert _table(detected.drop("measurement")) == summary, kind
                assert {r["measurement"] for r in detected.collect()} == {m}
                m += 1
            # a column subset is measured afresh, in its own schema
            assert _table(wb.profile(["age"])) == _table(P.profile_columns(wb.df, ["age"]))


def test_decimal_profile_snapshot(spark):
    """On DECIMAL columns alone ``mean`` stays a decimal; the served
    profile keeps that type and its values."""
    df = spark.createDataFrame(
        [(1, Decimal("9.99"), Decimal("0.000")), (2, None, Decimal("-1.250")),
         (3, Decimal("12345678.10"), None)],
        f"{S.ROW_ID} long, price decimal(10,2), rate decimal(6,3)")
    wb = Workbench(df)
    for cols in (None, ["price"]):
        fresh = P.profile_columns(df, cols)
        assert dict(fresh.dtypes)["mean"].startswith("decimal")
        for _ in range(2):  # measured, then served
            assert _table(wb.profile(cols)) == _table(fresh)
            assert _table(wb.null_profile(cols)) == _table(P.null_profile(df, cols))


def test_detect_and_report_match_retired_form(spark):
    pairs = _rule_pairs()
    for frame in _frames(spark).values():
        wb = Workbench(frame)
        lazy = []
        for _ in range(2):
            lazy.append(ref_evaluate_rules(wb.df, [o for o, _ in pairs])
                        .withColumn("measurement", F.lit(len(lazy))))
            _same_table(lazy[-1], wb.detect([n for _, n in pairs]))
            wb.title_case("city").strip_chars("email")
        _same_table(ref_report(lazy), wb.report())


def test_report_rounding_tie(spark):
    # scores 50.0 and 50.01: their mean sits on the 2-dp rounding tie
    df = spark.range(10_000).selectExpr(
        "IF(id < 5000, 'bad', 'ok') AS a", "IF(id < 4999, 'bad', 'ok') AS b")
    rules = [R.rule_forbidden_values("a", ["bad"]), R.rule_forbidden_values("b", ["bad"])]
    wb = Workbench(df)
    assert sorted(r["dq_score"] for r in wb.detect(rules).collect()) == [50.0, 50.01]
    lazy = R.evaluate_rules(df, rules).withColumn("measurement", F.lit(0))
    _same_table(ref_report([lazy]), wb.report())
