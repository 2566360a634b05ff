import datetime
import os

import pyspark.sql.functions as F
import pytest

from dataqtor_spark.operators import enrich as E
from dataqtor_spark.operators import repair as RP
from dataqtor_spark.session import with_row_id


def test_case_transforms(spark):
    df = spark.createDataFrame([("hello world",), ("ALL CAPS",), (None,)], "s string")
    t = {r["s"] for r in RP.title_case(df, "s").collect()}
    assert t == {"Hello World", "All Caps", None}
    lo = {r["s"] for r in RP.lower_case(df, "s").collect()}
    assert "all caps" in lo
    up = {r["s"] for r in RP.upper_case(df, "s").collect()}
    assert "HELLO WORLD" in up


def test_collapse_and_strip(spark):
    df = spark.createDataFrame([("a   b  c",), ("  x ",), ("0005320",)], "s string")
    c = {r["s"] for r in RP.collapse_spaces(df, "s").collect()}
    assert "a b c" in c
    st = {r["s"] for r in RP.strip_chars(df, "s").collect()}
    assert "x" in st
    zeros = {r["s"] for r in RP.strip_chars(df, "s", "0").collect()}
    assert "532" in zeros  # both ends stripped of the char set


def test_find_replace_and_count(spark):
    df = spark.createDataFrame([("foo(bar",), ("baz",), ("(((",)], "s string")
    # '(' given as the whole input → escaped like the reference
    n = RP.replace_count(df, "s", "(").collect()[0]["n_matches"]
    assert n == 4
    out = {r["s"] for r in RP.find_replace(df, "s", "(", "none").collect()}
    assert out == {"foobar", "baz", ""}


def test_strip_leading_char(spark):
    df = spark.createDataFrame([("05321234567",), ("5321234567",), (None,)], "s string")
    out = {r["s"] for r in RP.strip_leading_char(df, "s", "0").collect()}
    assert out == {"5321234567", None}


def test_cell_and_value_edits(spark):
    df = with_row_id(spark.createDataFrame([("a",), ("b",), ("a",)], "s string"),
                     order_by=["s"])
    upd = RP.update_cell(df, 0, "s", "z")
    assert sorted(r["s"] for r in upd.collect()) == ["a", "b", "z"]
    rm = RP.remap_value(df, "s", "a", "q")
    assert sorted(r["s"] for r in rm.collect()) == ["b", "q", "q"]
    nulled = RP.value_to_null(df, "s", "a")
    assert [r["s"] for r in nulled.collect()].count(None) == 2
    deleted = RP.delete_matching_rows(df, "s", "a")
    assert deleted.count() == 1
    dropped = RP.drop_rows(df, [0, 1])
    assert dropped.count() == 1


def test_search_and_sort_project(spark):
    df = spark.createDataFrame([(3, "c"), (1, "a"), (2, None)], "x int, s string")
    assert RP.search(df, "x", "between", low=1, high=2).count() == 2
    assert RP.search(df, "s", "isnull").count() == 1
    srt = RP.sort_rows(df, ["x"], [False]).collect()
    assert [r["x"] for r in srt] == [3, 2, 1]
    assert RP.project(df, ["s", "x"]).columns == ["s", "x"]


def test_repair_session_lineage(spark):
    df = spark.createDataFrame([(" A  B ",), ("c",)], "s string")
    sess = RP.RepairSession(df)
    sess.snapshot("before")
    sess.apply(RP.strip_chars, "s").apply(RP.collapse_spaces, "s").apply(RP.lower_case, "s")
    after = {r["s"] for r in sess.df.collect()}
    assert after == {"a b", "c"}
    before = {r["s"] for r in sess.get_snapshot("before").collect()}
    assert " A  B " in before  # lineage, not mutation


def test_enrich_gender(spark):
    df = spark.createDataFrame(
        [("Ahmet Yılmaz",), ("Ayşe Kaya",), ("Xqzw Nope",), (None,)], "name string"
    )
    out = {r["name"]: r["Gender_name"] for r in E.enrich_gender(df, "name", spark).collect()}
    assert out["Ahmet Yılmaz"] == "E"
    assert out["Ayşe Kaya"] == "K"
    assert out["Xqzw Nope"] is None  # miss → NULL (Series.map semantics)
    assert out[None] is None


def test_enrich_latlon(spark):
    df = spark.createDataFrame([("Ankara",), ("İzmir",), ("Atlantis",)], "city string")
    out = {r["city"]: (r["Latitude_city"], r["Longitude_city"])
           for r in E.enrich_latlon(df, "city", spark).collect()}
    assert out["Ankara"] == (pytest.approx(39.91987), pytest.approx(32.85427))
    assert out["Atlantis"] == (None, None)
    # passthrough mode: miss keeps the original value (reference semantics)
    pt = {r["city"]: r["Latitude_city"]
          for r in E.enrich_latlon(df, "city", spark, miss="passthrough").collect()}
    assert pt["Atlantis"] == "Atlantis"
    assert pt["Ankara"] == "39.91987"


def test_dim_schemas_match_parquet_footers(spark):
    # the dims are read with a declared schema (no inference job per
    # read); it must stay the schema a footer read infers from the files
    sc = spark.sparkContext
    for read, name in [(E.city_dim, "city"), (E.name_gender_dim, "name_gender")]:
        footer = spark.read.parquet(os.path.join(E.DIMS_DIR, f"{name}.parquet"))
        sc.setJobGroup(f"dim-{name}", name)
        try:
            declared = read(spark)
        finally:
            sc._jsc.sc().clearJobGroup()
        assert declared.schema == footer.schema, name
        assert list(sc.statusTracker().getJobIdsForGroup(f"dim-{name}")) == []


def test_enrich_age_future_pivot(spark):
    df = spark.createDataFrame([("15061990",), ("15062030",), ("bogus",), (None,)],
                               "bd string")
    as_of = datetime.date(2026, 1, 15)
    out = [r["Age_bd"] for r in E.enrich_age(df, "bd", as_of=as_of).collect()]
    # 1990-06-15 → 35 (birthday not yet in 2026 on Jan 15)
    # 2030-06-15 is future → minus 100y = 1930-06-15 → 95
    assert out == [35, 95, None, None]


def test_enrich_date_parts(spark):
    df = spark.createDataFrame([(datetime.datetime(2026, 8, 13, 10, 0),)], "ts timestamp")
    r = E.enrich_date_parts(df, "ts").collect()[0]
    assert (r["Day_ts"], r["Month_ts"], r["Year_ts"]) == (13, 8, 2026)
    assert r["Weekday_ts"] == "Thursday"
    assert r["Quarter_ts"] == 3
    assert r["WeekofYear_ts"] == 33


def test_age_ansi_safe_on_garbage(spark):
    import datetime

    from dataqtor_spark.operators import enrich as EN

    # ANSI mode (Spark 4 default) throws on strict parses — the age
    # enrichment must stay null-on-garbage (try_to_timestamp), including
    # calendar-invalid dates like Feb 31
    df = spark.createDataFrame(
        [("15061990",), ("garbage",), ("31022020",), ("",), (None,)],
        "bd string")
    out = {r["bd"]: r["Age_bd"] for r in
           EN.enrich_age(df, "bd", as_of=datetime.date(2026, 8, 13)).collect()}
    assert out["15061990"] == 36
    assert out["garbage"] is None
    assert out["31022020"] is None  # no Feb 31
    assert out[""] is None
    assert out[None] is None


def test_parse_locale_number_variants(spark):
    from dataqtor_spark.operators import repair as RP

    df = spark.createDataFrame(
        [("1.234,56",), ("0,5",), ("12",), ("abc",), (None,)], "s string")
    got = [r["s_parsed"] for r in
           RP.parse_locale_number(df, "s").collect()]
    assert got == [1234.56, 0.5, 12.0, None, None]
    us = spark.createDataFrame([("1,234.56",)], "s string")
    assert RP.parse_locale_number(us, "s", decimal_comma=False) \
        .collect()[0]["s_parsed"] == 1234.56


def test_date_format_profile_counts(spark):
    from dataqtor_spark.operators import profile as P

    df = spark.createDataFrame(
        [("2024-01-05",), ("05/01/2024",), ("05012024",), ("garbage",),
         (None,)], "ds string")
    got = {r["format"]: r["n_matching"]
           for r in P.date_format_profile(df, "ds").collect()}
    assert got["yyyy-MM-dd"] == 1 and got["dd/MM/yyyy"] == 1
    assert got["ddMMyyyy"] == 1 and got["unmatched"] == 1
    assert sum(got.values()) == 4  # nulls excluded everywhere


def test_mask_columns_deterministic_and_joinable(spark):
    from dataqtor_spark.operators import repair as RP

    a = spark.createDataFrame([(1, "alice"), (2, "bob"), (3, None)],
                              "id long, name string")
    b = spark.createDataFrame([("alice", 10), ("bob", 20)],
                              "name string, score long")
    ma = RP.mask_columns(a, ["name"], salt="s1")
    mb = RP.mask_columns(b, ["name"], salt="s1")
    rows = {r["id"]: r["name"] for r in ma.collect()}
    assert rows[3] is None and rows[1] != "alice" and len(rows[1]) == 16
    # same salt -> masked keys still join
    assert ma.join(mb, "name").count() == 2
    # different salt -> unlinkable
    mc = RP.mask_columns(b, ["name"], salt="s2")
    assert ma.join(mc, "name").count() == 0


def test_k_anonymity_known_values(spark):
    from dataqtor_spark.operators import profile as P

    rows = [("a", 1, 10.0), ("a", 1, 20.0), ("a", 1, 10.0),
            ("b", 2, 5.0)]
    df = spark.createDataFrame(rows, "qi1 string, qi2 int, s double")
    r = P.k_anonymity(df, ["qi1", "qi2"], "s", k=2).collect()[0]
    assert r["n_classes"] == 2
    assert r["k_anonymity"] == 1        # the singleton (b,2) class
    assert r["n_rows_below_k"] == 1
    assert r["l_diversity"] == 1        # (b,2) has one sensitive value
