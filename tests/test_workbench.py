"""End-to-end workbench lifecycle: the reference's upload → profile →
detect → correct → re-detect → report → download loop."""

import pyspark.sql.functions as F

from dataqtor_spark import Workbench
from dataqtor_spark.operators import rules as R


def test_full_lifecycle(spark, tables, tmp_path):
    src_path = str(tmp_path / "cust_src")
    tables["customer"].write.mode("overwrite").parquet(src_path)

    wb = Workbench.load(spark, src_path, row_id_order=["c_custkey"])
    n0 = wb.df.count()

    prof = wb.profile(["c_acctbal", "c_mktsegment"]).collect()
    assert {r["column"] for r in prof} == {"c_acctbal", "c_mktsegment"}

    rules = [R.rule_forbidden_values("c_mktsegment", ["MACHINERY"], name="seg")]
    before = wb.detect(rules).collect()[0]
    assert before["out_of_format_records"] > 0

    wb.remap_value("c_mktsegment", "MACHINERY", "HEAVY EQUIPMENT")
    after = wb.detect(rules).collect()[0]
    assert after["out_of_format_records"] == 0
    assert after["dq_score"] > before["dq_score"]

    rep = wb.report().collect()
    assert {r["measurement"] for r in rep} == {0, 1}
    by_m = {r["measurement"]: r["overall_dq_score"] for r in rep}
    assert by_m[1] >= by_m[0]

    # search + cell edit by row id
    hit = wb.search("__row_id", "row_id", 7).collect()
    assert len(hit) == 1
    wb.update_cell(7, "c_name", "EDITED")
    assert wb.search("c_name", "==", "EDITED").count() == 1

    out_path = str(tmp_path / "cust_out")
    wb.save(out_path)
    back = spark.read.parquet(out_path)
    assert back.count() == n0
    assert "__row_id" not in back.columns  # stripped on download


def test_readme_quickstart(spark, tmp_path):
    """The README 'Quick start' snippet, verbatim (plus asserts), over the
    sf0.001 test data — mirrors the reference's E2→E3 loop: profile →
    rule → repair → before/after score (home.py's Detector/Corrector
    pages)."""
    from dataqtor_spark import Workbench
    from dataqtor_spark.operators import rules

    wb = Workbench.load(spark, "/root/testdata/sf0.001/customer.parquet",
                        row_id_order=["c_custkey"])
    prof = wb.profile(["c_acctbal", "c_mktsegment"])
    assert {r["column"] for r in prof.collect()} == {"c_acctbal",
                                                     "c_mktsegment"}
    seg_rule = rules.rule_forbidden_values("c_mktsegment", ["MACHINERY"])
    before = wb.detect([seg_rule]).collect()[0]
    wb.remap_value("c_mktsegment", "MACHINERY", "HEAVY EQUIPMENT")
    after = wb.detect([seg_rule]).collect()[0]
    assert before["out_of_format_records"] > 0
    assert after["out_of_format_records"] == 0
    rep = wb.report().collect()
    by_m = {r["measurement"]: r["overall_dq_score"] for r in rep}
    assert by_m[1] > by_m[0]
    wb.save(str(tmp_path / "clean.parquet"))
    assert spark.read.parquet(str(tmp_path / "clean.parquet")).count() \
        == wb.df.count()


def test_workbench_expectation_shortcuts(spark, tmp_path):
    import pyspark.sql.functions as F

    from dataqtor_spark.workbench import Workbench

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", None), (2, "b", 3.0)],
        "id long, cat string, v double")
    wb = Workbench(df)
    sug = {(r["column"], r["constraint"])
           for r in wb.suggest_constraints().collect()}
    assert ("cat", "isin") in sug and ("id", "not_null") in sug
    dup = wb.unique_key(["id"]).collect()
    assert len(dup) == 1 and dup[0]["n_rows"] == 2
    comp = {r["cat"]: r["null_pct"]
            for r in wb.completeness_by("v", "cat").collect()}
    assert comp["b"] == 50.0
    v2 = Workbench(df.withColumn("v", F.coalesce("v", F.lit(0.0))))
    d = v2.diff_against(wb, ["id", "cat", "v"], ["v"])
    assert d.count() >= 1  # the null-fill shows up as add+remove on the key


def test_render_report_markdown(spark):
    from dataqtor_spark.operators import repair as RP
    from dataqtor_spark.operators import rules as R
    from dataqtor_spark.workbench import Workbench

    df = spark.createDataFrame(
        [(1, "a b"), (2, "xy"), (3, None)], "id long, name string")
    wb = Workbench(df)
    wb.detect([R.rule_no_spaces("name")])
    wb.collapse_spaces("name").find_replace("name", " ", "")
    wb.detect([R.rule_no_spaces("name")])
    md = RP.render_report_markdown(wb.report())
    assert "# Data-quality report" in md and "Measurement 0" in md
    assert "Overall change: " in md and "name_no_spaces" in md
    # after repair the score improved, so the change is positive
    assert "Overall change: +" in md


def test_snapshot_diff_common_cols_and_schema_changes(spark):
    from dataqtor_spark.operators import scd as SCD

    old = spark.createDataFrame([(1, 1.0, "x")], "k int, v double, gone string")
    new = spark.createDataFrame([(1, 2.0, 5)], "k int, v double, added int")
    # compare_cols=None -> only common non-key column v is compared
    d = SCD.snapshot_diff(old, new, ["k"]).collect()
    assert len(d) == 1 and d[0]["change_type"] == "changed"
    ch = SCD.schema_changes(old, new)
    assert {(c["column"], c["change"]) for c in ch} == {
        ("gone", "removed"), ("added", "added")}


def test_suggestion_verify_roundtrip_and_drift(spark):
    from dataqtor_spark.operators import profile as P
    from dataqtor_spark.operators import rules as R

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 7.5), (3, "a", 2.0)],
        "id long, cat string, v double")
    sug = P.suggest_constraints(df)
    # same data: every suggestion must verify
    res = R.verify_suggestions(df, sug).collect()
    assert res and all(r["passed"] for r in res)
    # drifted data: new max above stored bound + a null in id fails
    drift = spark.createDataFrame(
        [(None, "a", 99.0)], "id long, cat string, v double")
    res2 = {(r["column"], r["constraint"]): r["passed"]
            for r in R.verify_suggestions(df.unionByName(drift), sug).collect()}
    assert res2[("v", "max_le")] is False
    assert res2[("id", "not_null")] is False
    assert res2[("cat", "isin")] is True  # domain unchanged


def test_repair_session_audit_log(spark):
    from dataqtor_spark.operators import repair as RP

    df = spark.createDataFrame([(1, "  a  b ")], "id long, name string")
    s = RP.RepairSession(df)
    s.apply(RP.collapse_spaces, "name").apply(RP.upper_case, "name")
    log = s.audit_log()
    assert [e["op"] for e in log] == ["collapse_spaces", "upper_case"]
    assert log[0]["step"] == 0 and "'name'" in log[0]["args"]


def test_metrics_repository_anomaly_detection(spark, tmp_path):
    import pyspark.sql.functions as F

    from dataqtor_spark.operators import metrics_repo as MR
    from dataqtor_spark.operators import profile as P

    path = str(tmp_path / "metrics")
    # three near-stable runs (null count 10/11/12), then a spike to 50
    for k, run in [(10, "r1"), (11, "r2"), (12, "r3")]:
        base = [(i, None if i < k else float(i % 7)) for i in range(100)]
        df = spark.createDataFrame(base, "id long, v double")
        MR.save_metrics(MR.metrics_from_profile(
            P.null_profile(df, ["v"]), run), path)
    spiked = spark.createDataFrame(
        [(i, None if i % 2 else 1.0) for i in range(100)], "id long, v double")
    MR.save_metrics(MR.metrics_from_profile(
        P.null_profile(spiked, ["v"]), "r4"), path)

    hist = MR.load_history(spark, path)
    res = {r["metric"]: r for r in
           MR.metric_anomalies(hist, "r4", z_threshold=3.0).collect()}
    assert res["null_records"]["is_anomaly"]
    assert res["total_records"]["is_anomaly"] is False  # constant metric
    # constant history -> zero variance -> NULL z, never a false alarm
    assert res["total_records"]["z"] is None


def test_dotted_and_quoted_column_names(spark):
    """Names that read as struct paths or need quoting: a dot, a space,
    a backtick and a Turkish capital."""
    from dataqtor_spark.operators import profile as P

    names = ["e.mail", "full name", "we`ird", "İl"]
    df = spark.createDataFrame(
        [("a@b.com", "Ali Kaya", "x", "Ankara"),
         ("bad", "Ay$e", None, "Paris"),
         (None, None, "y", None)],
        ", ".join(f"`{n.replace('`', '``')}` string" for n in names))
    rules = [R.rule_email("e.mail"), R.rule_no_special_chars("full name"),
             R.rule_forbidden_values("we`ird", ["y"]), R.rule_domain("İl")]
    want = {("e.mail", 1, 1), ("full name", 1, 1), ("we`ird", 1, 1), ("İl", 1, 1)}

    for prof in (P.profile_columns(df), P.null_profile(df)):
        got = {(r["column"], r["total_records"], r["null_records"]) for r in prof.collect()}
        assert got == {(n, 3, 1) for n in names}
    got = {(r["column"], r["null_records"], r["out_of_format_records"])
           for r in R.evaluate_rules(df, rules).collect()}
    assert got == want

    wb = Workbench(df)
    wb.detect(rules)
    rep = wb.report().collect()
    assert {(r["column"], r["null_records"], r["out_of_format_records"])
            for r in rep} == want
    assert {r["overall_dq_score"] for r in rep} == {33.33}


def test_report_survives_replaced_source(spark, tmp_path):
    """detect measures when called: replacing the uploaded file afterwards
    does not change (or break) the report of what was measured."""
    path = str(tmp_path / "upload")
    spark.createDataFrame(
        [(1, "a b"), (2, "xy"), (3, None)], "id long, name string"
    ).write.parquet(path)
    wb = Workbench.load(spark, path)
    rules = [R.rule_no_spaces("name")]
    wb.detect(rules)
    wb.find_replace("name", " ", "")
    wb.detect(rules)
    spark.createDataFrame([(9, "new upload")], "id long, name string") \
        .write.mode("overwrite").parquet(path)

    rep = sorted((r["measurement"], r["out_of_format_records"], r["dq_score"],
                  r["overall_dq_score"]) for r in wb.report().collect())
    assert rep == [(0, 1, 33.33, 33.33), (1, 0, 66.67, 66.67)]


def test_profile_boolean_and_interval_columns(spark):
    """Booleans and day-time intervals get counts and NULL moments, as
    strings do: ``avg`` rejects a boolean and ``stddev_samp`` an
    interval.  Numeric columns beside them keep their moments."""
    df = spark.sql(
        "SELECT * FROM VALUES (true, INTERVAL '1' DAY, 2L), "
        "(false, INTERVAL '-2' HOUR, 4L), (NULL, NULL, 6L) AS t(flag, iv, n)")
    wb = Workbench(df)
    got = {r["column"]: r for r in wb.profile().collect()}
    for c in ("flag", "iv"):
        r = got[c]
        assert (r["total_records"], r["null_records"], r["distinct_values"]) == (3, 1, 2)
        assert {r[k] for k in ("mean", "std", "min", "max", "skewness", "kurtosis",
                               "zero_count", "negative_count")} == {None}
    assert (got["n"]["mean"], got["n"]["min"], got["n"]["max"]) == (4.0, 2.0, 6.0)
    assert {r["column"]: r["null_records"] for r in wb.null_profile().collect()} \
        == {"flag": 1, "iv": 1, "n": 0}


def test_profile_frame_without_data_columns(spark):
    """A frame whose only column is ``__row_id`` profiles to zero rows of
    the usual schema, through the operators and the Workbench."""
    from dataqtor_spark.operators import profile as P
    from dataqtor_spark.session import ROW_ID

    df = spark.range(3).withColumnRenamed("id", ROW_ID)
    usual = spark.range(3).withColumnRenamed("id", "n")
    wb = Workbench(df)
    for got, want in ((P.profile_columns(df), P.profile_columns(usual)),
                      (wb.profile(), P.profile_columns(usual)),
                      (P.null_profile(df), P.null_profile(usual)),
                      (wb.null_profile(), P.null_profile(usual))):
        assert got.schema == want.schema
        assert got.collect() == []
