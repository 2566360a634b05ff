"""Property-based tests (SURVEY §5.3): rule-algebra invariants, checksum
equivalence against an independent reimplementation, dedup idempotence,
and skew-helper equivalence.  Examples are generated in batches (one Spark
job per hypothesis example keeps runtime bounded)."""

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from dataqtor_spark.operators import profile as P
from dataqtor_spark.operators import rules as R
from dataqtor_spark.operators import skew as SK
from dataqtor_spark.functions import checksums as CK
from dataqtor_spark.functions import phone as PH

import os

_SETTINGS = dict(max_examples=int(os.environ.get("HYP_EXAMPLES", "8")),
                 deadline=None)


# --- rule algebra: violations ⊎ clean ⊎ nulls = all ------------------------

@settings(**_SETTINGS)
@given(st.lists(st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                               width=32)),
                min_size=1, max_size=60))
def test_partition_invariant(spark, vals):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id long, v double")
    rules = [R.rule_compare("v", "between", low=-10.0, high=10.0)]
    n_viol = R.violations_union(df, rules, "id").count()
    n_clean = R.clean_rows(df, rules).count()
    n_null = df.filter(F.col("v").isNull()).count()
    assert n_viol + n_clean + n_null == len(vals)


@settings(**_SETTINGS)
@given(st.lists(st.one_of(st.none(), st.integers(min_value=-1000, max_value=1000)),
                min_size=1, max_size=60))
def test_scores_bounded(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    summary = R.evaluate_rules(df, [R.rule_compare("v", ">=", 0)])
    row = summary.collect()[0]
    assert 0.0 <= row["dq_score"] <= 100.0
    assert (row["null_records"] + row["out_of_format_records"]
            + row["proper_format_records"]) == row["total_records"]


# --- dedup idempotence ------------------------------------------------------

@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 5), st.text("ab", max_size=3)),
                min_size=1, max_size=40))
def test_dedup_idempotent(spark, rows):
    df = spark.createDataFrame(rows, "k long, s string")
    once = df.dropDuplicates(["k", "s"])
    assert once.count() == once.dropDuplicates(["k", "s"]).count()
    assert once.count() == len(set(rows))


# --- R9 checksum vs independent python reimplementation ---------------------

def _tcid_valid_py(s: str) -> bool:
    if len(s) != 11 or not s.isdigit() or s[0] == "0":
        return False
    d = [int(ch) for ch in s]
    d10 = (7 * (d[0] + d[2] + d[4] + d[6] + d[8]) - (d[1] + d[3] + d[5] + d[7])) % 10
    d11 = sum(d[:10]) % 10
    return d[9] == d10 and d[10] == d11


# ID-shaped values: well-formed 11-digit strings plus near misses
ID_VALUES = st.lists(st.one_of(
    st.text("0123456789", min_size=11, max_size=11),
    st.text("0123456789abc ", min_size=0, max_size=13),
), min_size=1, max_size=60)


@settings(**_SETTINGS)
@given(ID_VALUES)
def test_tcid_expression_matches_python(spark, vals):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id long, s string")
    got = {r["id"]: r["ok"] for r in
           df.select("id", F.coalesce(CK.is_valid_tcid("s"), F.lit(False))
                     .alias("ok")).collect()}
    for i, v in enumerate(vals):
        assert got[i] == _tcid_valid_py(v), v


# --- phone: class == 'ok' ⟺ not violation ----------------------------------

PHONE_VALUES = st.lists(st.text("0123456789 -/()+ab", min_size=0, max_size=20),
                        min_size=1, max_size=60)


@settings(**_SETTINGS)
@given(PHONE_VALUES)
def test_phone_class_consistent_with_violation(spark, vals):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id long, s string")
    rows = df.select(
        "id", PH.phone_format_class("s").alias("cls"),
        F.coalesce(PH.phone_violation("s"), F.lit(False)).alias("viol")).collect()
    for r in rows:
        assert (r["cls"] == "ok") == (not r["viol"]), (vals[r["id"]], r["cls"])


# --- skew helpers ≡ direct aggregation --------------------------------------

@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
                min_size=1, max_size=80))
def test_salted_aggs_match_direct(spark, rows):
    df = spark.createDataFrame(rows, "k long, v long")
    direct_set = {r["k"]: sorted(r["vs"]) for r in
                  df.groupBy("k").agg(F.collect_set("v").alias("vs")).collect()}
    salted_set = {r["k"]: list(r["values"]) for r in
                  SK.salted_collect_set(df, "k", "v", n_salt=4).collect()}
    assert direct_set == salted_set
    direct_n = {r["k"]: r["n"] for r in
                df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()}
    salted_n = {r["k"]: r["n_distinct"] for r in
                SK.salted_count_distinct(df, "k", "v", n_salt=4).collect()}
    assert direct_n == salted_n


# --- round-2 operators ------------------------------------------------------

@settings(**_SETTINGS)
@given(st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
                min_size=1, max_size=80),
       st.integers(min_value=1, max_value=8))
def test_equi_depth_partitions_all_rows(spark, vals, buckets):
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = P.equi_depth_histogram(df, "v", buckets).collect()
    assert sum(r["n_rows"] for r in out) == len(vals)
    # buckets are ordered and non-overlapping: each bucket's hi <= next lo
    rows = sorted(out, key=lambda r: r["bucket"])
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] <= b["lo"]


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.sampled_from(["a", "b"]),
                          st.floats(min_value=-100, max_value=100,
                                    allow_nan=False)),
                min_size=2, max_size=60).filter(
                    lambda rs: len({g for g, _ in rs}) == 2))
def test_ks_bounded_and_symmetric(spark, rows):
    df = spark.createDataFrame(rows, "g string, v double")
    ab = P.ks_drift(df, "v", "g", "a", "b").collect()[0]
    ba = P.ks_drift(df, "v", "g", "b", "a").collect()[0]
    assert 0.0 <= ab["ks"] <= 1.0
    assert ab["ks"] == ba["ks"]
    assert (ab["n_a"], ab["n_b"]) == (ba["n_b"], ba["n_a"])


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 3),
                          st.one_of(st.none(),
                                    st.floats(min_value=-100, max_value=100,
                                              allow_nan=False))),
                min_size=1, max_size=50))
def test_impute_preserves_non_nulls_and_count(spark, rows):
    from dataqtor_spark.operators.repair import impute_by_group

    df = spark.createDataFrame(rows, "g long, x double")
    out = impute_by_group(df, "x", ["g"], "mean")
    assert out.count() == len(rows)
    # non-null values are untouched
    before = sorted(v for _, v in rows if v is not None)
    after_nonnull = sorted(
        r["x"] for r in out.collect() if r["x"] is not None)
    for v in before:
        assert any(abs(v - w) < 1e-9 for w in after_nonnull)


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 1000), st.sampled_from(["s0", "s1", "s2"])),
                min_size=1, max_size=60).map(
                    lambda rs: list({i: s for i, s in rs}.items())),
       st.integers(min_value=1, max_value=10))
def test_stratified_sample_never_exceeds_quota(spark, rows, quota):
    from dataqtor_spark.operators.textstats import stratified_sample

    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_sample(df, "source", quota)
    counts = {r["source"]: r["count"]
              for r in out.groupBy("source").count().collect()}
    orig = {}
    for _, s in rows:
        orig[s] = orig.get(s, 0) + 1
    for s, n in counts.items():
        assert n == min(quota, orig[s])


def test_property_snapshot_diff_classification(spark):
    """For random perturbations, snapshot_diff classifies exactly the
    perturbed keys (delta-proportional output, property form)."""
    import random

    rnd = random.Random(11)
    for _ in range(3):
        n = 60
        old_rows = [(i, float(rnd.randint(0, 5)),
                     rnd.choice("abc")) for i in range(n)]
        removed = set(rnd.sample(range(n), 7))
        changed = set(rnd.sample([i for i in range(n) if i not in removed], 9))
        added = set(range(n, n + 5))
        new_rows = [(k, (v + 1.0) if k in changed else v,
                     s) for k, v, s in old_rows if k not in removed]
        new_rows += [(k, 1.0, "z") for k in added]
        from dataqtor_spark.operators import scd as SCD

        old = spark.createDataFrame(old_rows, "k long, v double, s string")
        new = spark.createDataFrame(new_rows, "k long, v double, s string")
        got = {r["k"]: r["change_type"]
               for r in SCD.snapshot_diff(old, new, ["k"], ["v", "s"]).collect()}
        assert {k for k, c in got.items() if c == "removed"} == removed
        assert {k for k, c in got.items() if c == "changed"} == changed
        assert {k for k, c in got.items() if c == "added"} == added


def test_property_latest_per_key_is_idempotent_and_partition_free(spark):
    """Compacting a compacted changelog is a no-op, and the result is
    independent of input partitioning (semilattice property the
    streaming sink relies on)."""
    import random

    from dataqtor_spark.operators import scd as SCD

    rnd = random.Random(5)
    rows = [(rnd.randint(0, 9), rnd.randint(0, 100), i)
            for i in range(300)]
    df = spark.createDataFrame(rows, "k int, ts int, id int")
    once = SCD.latest_per_key(df, ["k"], "ts", ["id"])
    twice = SCD.latest_per_key(once, ["k"], "ts", ["id"])
    a = {(r["k"], r["ts"], r["id"]) for r in once.collect()}
    b = {(r["k"], r["ts"], r["id"]) for r in twice.collect()}
    c = {(r["k"], r["ts"], r["id"]) for r in
         SCD.latest_per_key(df.repartition(13), ["k"], "ts", ["id"]).collect()}
    assert a == b == c


# --- round-4 operators: sketch set-algebra + correlation invariants --------

@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.sampled_from(["x", "y"]),
                          st.integers(0, 30)),
                min_size=1, max_size=80))
def test_theta_overlap_set_algebra_invariants(spark, rows):
    from dataqtor_spark.operators import sketches as SKC

    df = spark.createDataFrame(rows, "seg string, k int")
    r = SKC.theta_overlap(df, "seg", "k", "x", "y").collect()[0]
    ka = {k for s, k in rows if s == "x"}
    kb = {k for s, k in rows if s == "y"}
    # exact below capacity: every field matches set arithmetic
    assert r["distinct_a"] == len(ka) and r["distinct_b"] == len(kb)
    assert r["n_overlap"] == len(ka & kb)
    assert r["n_union"] == len(ka | kb)
    # invariants that must hold for ANY estimator
    assert r["n_overlap"] <= min(r["distinct_a"], r["distinct_b"])
    assert r["n_union"] >= max(r["distinct_a"], r["distinct_b"])


@settings(**_SETTINGS)
@given(st.lists(st.floats(min_value=-100, max_value=100, allow_nan=False),
                min_size=5, max_size=60))
def test_kll_quantiles_monotone_and_within_range(spark, vals):
    from dataqtor_spark.operators import sketches as SKC

    df = spark.createDataFrame([("g", v) for v in vals],
                               "g string, v double")
    out = SKC.kll_quantile_rollup(df, "v", "g",
                                  quantiles=(0.1, 0.5, 0.9)).collect()
    for grp in ("g", "__all__"):
        qs = {r["q"]: r["value"] for r in out if r["group"] == grp}
        assert qs[0.1] <= qs[0.5] <= qs[0.9]      # monotone in q
        for v in qs.values():
            assert v in vals                      # order statistics


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.floats(-50, 50, allow_nan=False),
                          st.floats(-50, 50, allow_nan=False)),
                min_size=10, max_size=80))
def test_phik_bounded_and_symmetric(spark, rows):
    df = spark.createDataFrame(rows, "x double, y double")
    fwd = P.phik_correlation(df, "x", "y").collect()[0]["phik"]
    rev = P.phik_correlation(df, "y", "x").collect()[0]["phik"]
    assert 0.0 <= fwd <= 1.0
    assert fwd == rev


# --- round-6 algebra --------------------------------------------------------

@settings(max_examples=int(os.environ.get("HYP_EXAMPLES", "8")), deadline=None)
@given(st.lists(st.tuples(st.integers(0, 6), st.integers(0, 6)),
                min_size=4, max_size=80))
def test_phik_statistics_matches_numpy_contingency(spark, pairs):
    import numpy as np

    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in pairs], "x double, y double")
    r = P.phik_statistics(df, "x", "y").collect()[0]
    # independent brute-force: bin exactly as the operator (equi-width
    # over [lo, hi], 10 bins, top clamp), then full-grid chi2
    xs = np.array([p[0] for p in pairs], float)
    ys = np.array([p[1] for p in pairs], float)

    def bins(v):
        lo, hi = v.min(), v.max()
        if hi == lo:
            return np.zeros(len(v), int)
        return np.minimum(((v - lo) / ((hi - lo) / 10)).astype(int), 9)

    bx, by = bins(xs), bins(ys)
    ux, uy = np.unique(bx), np.unique(by)
    obs = np.zeros((len(ux), len(uy)))
    for a, b in zip(bx, by):
        obs[np.searchsorted(ux, a), np.searchsorted(uy, b)] += 1
    n = obs.sum()
    e = np.outer(obs.sum(1), obs.sum(0)) / n
    chi2 = float(((obs - e) ** 2 / e).sum())
    assert r["n"] == len(pairs)
    assert (r["r_bins"], r["c_bins"]) == (len(ux), len(uy))
    assert abs(r["chi2"] - round(chi2, 4)) <= 1e-3


@settings(max_examples=int(os.environ.get("HYP_EXAMPLES", "8")), deadline=None)
@given(st.lists(st.floats(-100, 100), min_size=1, max_size=120),
       st.integers(1, 7))
def test_segmented_prefix_sum_property(spark, vals, seg):
    from dataqtor_spark.operators import behavior as B

    df = spark.createDataFrame(
        [(i + 1, float(v)) for i, v in enumerate(vals)], "idx long, v double")
    got = {r["idx"]: r["p"] for r in B._segmented_prefix_sum(
        df, "idx", "v", "p", segment_rows=seg).collect()}
    acc = 0.0
    for i, v in enumerate(vals, start=1):
        acc += v
        assert abs(got[i] - acc) < 1e-6 * max(1.0, abs(acc))


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 12), st.integers(1, 10),
       st.sampled_from([0, 2, 6]), st.data())
def test_png_roundtrip_property(w, h, ctype, data):
    # library encode (filter 0) -> decode returns identical scanlines;
    # identity resize preserves bytes.  Pure python, no Spark.
    from dataqtor_spark.operators import multimodal as MM

    bpp = {0: 1, 2: 3, 6: 4}[ctype]
    rows = [bytearray(data.draw(st.binary(min_size=w * bpp,
                                          max_size=w * bpp)))
            for _ in range(h)]
    png = MM._encode_png(w, h, ctype, rows)
    w2, h2, ct2, bpp2, rows2 = MM._decode_png_raw(png)
    assert (w2, h2, ct2, bpp2) == (w, h, ctype, bpp)
    assert [bytes(r) for r in rows2] == [bytes(r) for r in rows]
    same = MM._stdlib_png_resize(png, w, h)
    assert MM._decode_png_raw(same)[4] == rows2


def test_resolve_auto_cap_monotone():
    from dataqtor_spark.operators.dedup import resolve_auto_cap

    prev = 0
    for n in (100_000, 300_000, 1_000_000, 9_000_000, 10 ** 9):
        cap = resolve_auto_cap(n)
        assert cap >= prev
        prev = cap


@settings(max_examples=int(os.environ.get("HYP_EXAMPLES", "8")), deadline=None)
@given(st.lists(st.integers(-50, 50), min_size=1, max_size=80),
       st.integers(2, 7))
def test_ordered_prefix_and_ntile_match_window_forms(spark, vals, n):
    from pyspark.sql.window import Window

    from dataqtor_spark.operators.ordered import ntile_expr, ordered_prefix

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double")
    order = [F.col("v").desc(), F.col("id")]
    got = {r["id"]: (r["c"], r["rn"])
           for r in ordered_prefix(df, order, sums={"c": F.col("v")},
                                   out_rn="rn", partitions=5).collect()}
    w = Window.orderBy(*order)
    ref = df.select(
        "id",
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("c"),
        F.row_number().over(w).alias("rn"),
        F.ntile(n).over(w).alias("t")).collect()
    for r in ref:
        c, rn = got[r["id"]]
        assert rn == r["rn"]
        assert abs(c - r["c"]) < 1e-9 * max(1.0, abs(r["c"]))
    # ntile arithmetic reproduces the window NTILE exactly
    nt = {r["id"]: r["nt"] for r in ordered_prefix(
        df, order, out_rn="rn", partitions=5)
        .select("id", ntile_expr(F.col("rn"), F.lit(len(vals)), n)
                .alias("nt")).collect()}
    for r in ref:
        assert nt[r["id"]] == r["t"], (r["id"], nt[r["id"]], r["t"])


@settings(max_examples=int(os.environ.get("HYP_EXAMPLES", "8")), deadline=None)
@given(st.lists(st.integers(-50, 50), min_size=1, max_size=80))
def test_ordered_running_max_matches_window_form(spark, vals):
    """The two-level range-partitioned running max equals the
    single-partition window form in both exclusive and inclusive modes,
    including the partition-carry boundaries (partitions=5 forces
    them)."""
    from pyspark.sql.window import Window

    from dataqtor_spark.operators.ordered import ordered_running_max

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double")
    w = Window.orderBy("id")
    ref = {r["id"]: (r["ex"], r["inc"]) for r in df.select(
        "id",
        F.max("v").over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("ex"),
        F.max("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("inc")).collect()}
    ex = {r["id"]: r["m"] for r in ordered_running_max(
        df, [F.col("id")], F.col("v"), "m", exclusive=True,
        partitions=5).collect()}
    inc = {r["id"]: r["m"] for r in ordered_running_max(
        df, [F.col("id")], F.col("v"), "m", exclusive=False,
        partitions=5).collect()}
    for i, (e, c) in ref.items():
        assert ex[i] == e, (i, ex[i], e)
        assert inc[i] == c, (i, inc[i], c)


def test_ordered_prefix_reliable_mode_agrees(spark, tmp_path):
    """With a checkpoint dir set, the pin is a reliable checkpoint: same
    rows as the localCheckpoint pin, files under the dir, and the dir
    setting left as the caller set it."""
    from dataqtor_spark.operators.ordered import ordered_prefix

    sc = spark.sparkContext
    df = spark.range(0, 500).select(
        F.col("id"), ((F.col("id") * 37) % 101).cast("double").alias("v"))
    order = [F.col("v"), F.col("id")]

    def run():
        return {r["id"]: (r["rn"], r["c"]) for r in ordered_prefix(
            df, order, sums={"c": F.col("v")}, out_rn="rn",
            partitions=7).collect()}

    base = run()
    assert sc.getCheckpointDir() is None
    ckpt = tmp_path / "op_ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        set_to = sc.getCheckpointDir()
        rel = run()
        assert sc.getCheckpointDir() == set_to
    finally:
        # clear, never "restore" a prior dir string: setCheckpointDir
        # nests a fresh UUID subdir under whatever it is given
        sc.setCheckpointDir(None)
    assert base == rel
    assert [p for p in ckpt.rglob("*") if p.is_file()], \
        "reliable checkpoint wrote nothing under the dir"


def test_ordered_prefix_reliable_auto_resolution():
    """The durability predicate is the checkpoint dir, read at each
    call."""
    from dataqtor_spark.operators.ordered import durable_barriers

    class _FakeSC:
        def __init__(self, ckpt):
            self.ckpt = ckpt

        def getCheckpointDir(self):
            return self.ckpt

    class _FakeSession:
        def __init__(self, sc):
            self.sparkContext = sc

    sc = _FakeSC(None)
    session = _FakeSession(sc)
    assert durable_barriers(session) is False
    sc.ckpt = "/ckpt"
    assert durable_barriers(session) is True
    sc.ckpt = None
    assert durable_barriers(session) is False


def test_with_row_id_ordered_matches_window_row_number(spark):
    from pyspark.sql.window import Window

    from dataqtor_spark.session import ROW_ID, with_row_id

    df = spark.range(0, 300).select(
        F.col("id").alias("k"), ((F.col("id") * 13) % 37).alias("v"))
    got = {r["k"]: r[ROW_ID]
           for r in with_row_id(df, order_by=["v", "k"]).collect()}
    w = Window.orderBy(F.col("v"), F.col("k"))
    ref = {r["k"]: r["rid"] for r in df.withColumn(
        "rid", F.row_number().over(w).cast("long") - F.lit(1)).collect()}
    assert got == ref
    # the routed plan runs through ordered_prefix (its __pid partition
    # marker is in the plan; the old single-partition Window.orderBy form
    # never produced one) — the data-sized window is partitioned by __pid,
    # and the range exchange sits behind the checkpoint that pins it
    plan = with_row_id(df, order_by=["v", "k"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "__pid" in plan


def test_rfm_pareto_plans_free_of_single_partition_windows(spark):
    import datetime as dt

    from dataqtor_spark.operators import behavior as B

    rows = [(i % 17, dt.datetime(2024, 1, 1 + i % 20), float(i % 7) + 1, i)
            for i in range(200)]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_id long")

    def plan(q):
        return q._jdf.queryExecution().executedPlan().toString()

    p_rfm = plan(B.rfm_segments(df, as_of="2024-02-01"))
    p_par = plan(B.pareto_concentration(df, "user_id", F.col("value")))
    for p in (p_rfm, p_par):
        for line in p.splitlines():
            if "windowspecdefinition" in line:
                assert "__pid" in line    # only range-partitioned windows


@given(st.integers(2, 12), st.integers(2, 12), st.booleans(), st.data())
@settings(max_examples=25, deadline=None)
def test_gif_roundtrip_identity(w, h, interlace, data):
    """Any gray grid encoded as GIF (real LZW compression, identity
    palette) decodes to exactly itself — interlaced or not."""
    from dataqtor_spark.operators import multimodal as MM
    from tests.test_multimodal_streaming import _encode_gif

    flat = data.draw(st.lists(st.integers(0, 255), min_size=w * h,
                              max_size=w * h))
    pixels = [flat[y * w:(y + 1) * w] for y in range(h)]
    gw, gh, _mode, lum = MM._decode_gif(_encode_gif(pixels,
                                                    interlace=interlace))
    assert (gw, gh) == (w, h)
    assert lum == pixels


@given(st.lists(st.lists(st.tuples(st.integers(0, 255), st.integers(0, 255),
                                   st.integers(0, 255)),
                         min_size=1, max_size=9),
                min_size=1, max_size=9).filter(
                    lambda rows: len({len(r) for r in rows}) == 1),
       st.sampled_from([24, 32]), st.booleans())
@settings(max_examples=25, deadline=None)
def test_bmp_roundtrip_luma(pixels, bpp, top_down):
    """BMP decode reproduces the ITU-R 601-2 luma of every pixel for
    24/32-bit, bottom-up and top-down, across padded strides."""
    from dataqtor_spark.operators import multimodal as MM
    from tests.test_multimodal_streaming import _encode_bmp

    w, h, _mode, lum = MM._decode_bmp(
        _encode_bmp(pixels, bpp=bpp, top_down=top_down))
    assert (w, h) == (len(pixels[0]), len(pixels))
    for y, row in enumerate(pixels):
        for x, (r, g, b) in enumerate(row):
            assert lum[y][x] == (r * 299 + g * 587 + b * 114 + 500) // 1000


@given(st.integers(1, 6), st.data())
@settings(max_examples=20, deadline=None)
def test_hilbert_reference_agreement_random_points(bits, data):
    """with_hilbert's per-round expressions implement the canonical
    xy2d fold for arbitrary orders and points (driver-side replica of
    the column arithmetic — the Spark plan equality is covered by
    test_warehouse_layout)."""
    n = 1 << bits
    pts = data.draw(st.lists(st.tuples(st.integers(0, n - 1),
                                       st.integers(0, n - 1)),
                             min_size=1, max_size=20))

    def xy2d(order, x, y):
        d, s = 0, 1 << (order - 1)
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    def fold(order, x, y):  # the exact arithmetic with_hilbert emits
        d = 0
        for r in range(order - 1, -1, -1):
            s = 1 << r
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * (3 * rx + ry * (1 - 2 * rx))
            nx = x if ry == 1 else (s - 1 - y if rx == 1 else y)
            ny = y if ry == 1 else (s - 1 - x if rx == 1 else x)
            x, y = nx, ny
        return d

    for x, y in pts:
        assert fold(bits, x, y) == xy2d(bits, x, y)


# --- pair-metric invariants (d02 / d14 share one device) --------------------

@settings(**_SETTINGS)
@given(st.lists(st.lists(st.sampled_from("abcdefgh"), min_size=1,
                         max_size=12).map(" ".join),
                min_size=2, max_size=8))
def test_containment_dominates_jaccard(spark, texts):
    # containment = |A∩B| / min(|A|,|B|)  >=  jaccard = |A∩B| / |A∪B|
    # on every pair, and both are in (0, 1]; pairs are a<b exactly once
    from dataqtor_spark.operators import dedup as DD

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    jac = {(r.id_a, r.id_b): r.jaccard
           for r in DD.ngram_jaccard_pairs(
               df, "doc_id", "text", n=3, threshold=1e-9,
               max_doc_freq=None).collect()}
    con = {(r.id_a, r.id_b): r.containment
           for r in DD.ngram_containment_pairs(
               df, "doc_id", "text", n=3, threshold=1e-9,
               max_doc_freq=None).collect()}
    assert set(jac) == set(con)          # same candidate pairs
    for k, j in jac.items():
        assert k[0] < k[1]
        assert 0 < j <= con[k] <= 1.0


@settings(**_SETTINGS)
@given(st.lists(st.lists(st.sampled_from("abcde"), min_size=1,
                         max_size=10).map(" ".join),
                min_size=2, max_size=6))
def test_uncapped_pairs_match_capped_with_huge_cap(spark, texts):
    # the r15 uncapped fast path (counts riding posting-list structs)
    # must agree exactly with the legacy capped path when the cap can
    # never engage — same pairs, same jaccard values
    from dataqtor_spark.operators import dedup as DD

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    fast = sorted(map(tuple, DD.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.01,
        max_doc_freq=None).collect()))
    legacy = sorted(map(tuple, DD.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.01,
        max_doc_freq=10_000).collect()))
    assert fast == legacy


# --- word_shingles: tokenize-once form == the retired per-shingle form -----

def _word_shingles_retired(col, n):
    """``dedup.word_shingles`` before tokenize-once: the word array is
    captured inside the shingle lambda, so it is re-split per shingle."""
    from dataqtor_spark.operators import dedup as DD

    words = DD._words(col)
    k = F.size(words) - (n - 1)
    return F.when(k <= 0, F.array(F.concat_ws(" ", words))).otherwise(
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)))))


@settings(**_SETTINGS)
@given(st.lists(st.one_of(st.none(), st.text(alphabet=" \t\naAbİı",
                                              max_size=16)),
                min_size=1, max_size=30),
       st.integers(min_value=1, max_value=4))
def test_word_shingles_matches_retired_form(spark, texts, n):
    from dataqtor_spark.operators import dedup as DD

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select(DD.word_shingles("t", n).alias("new"),
                     _word_shingles_retired("t", n).alias("old")).collect()
    assert [r.new for r in rows] == [r.old for r in rows]
