"""Profiling operators (SURVEY.md §2.4 A1–A12, §2.10).

The reference computes each statistic as a separate whole-column pandas pass
(~10 scans per profiled column, /root/reference/home.py:125-251).  Here every
per-column statistic family is **fused into one wide aggregate** so a profile
is a single Spark job / single scan regardless of column count — the scan
reads only the profiled columns (Catalyst column pruning), and the aggregate
is map-side partial so no row data crosses the shuffle, only partial states.

All functions are pure ``DataFrame -> DataFrame`` and return *result tables*
(long format, one row per column or per value), matching the reference's
summary-table data model (home.py:41-52).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataqtor_spark.functions.exact import round_ratio_expr
from dataqtor_spark.functions.sqltext import count_true, ident, lit, pct, struct
from dataqtor_spark.session import ROW_ID, local_frame

# Turkish-aware letter class used by the reference's pattern profiler
# (home.py:229-251): letters → 'A', digits → '9'.
LETTERS_TR = "A-Za-zÖÇĞİŞÜöçğışü"


def _data_cols(df: DataFrame, cols: list[str] | None) -> list[str]:
    if cols is not None:
        return list(cols)
    return [c for c in df.columns if c != ROW_ID]


def _no_data_columns(df: DataFrame) -> DataFrame:
    """A one-column stand-in for a frame with no data column.  An operator
    run on it and cut to ``limit(0)`` returns zero rows of its usual schema,
    where ``explode(array())`` would have no struct type to expand."""
    return df.select(F.lit(None).cast("bigint").alias("c"))


def _long_format(one_row: DataFrame, cols: list[str], fields: dict[str, str],
                 **per_col: list[str]) -> DataFrame:
    """Explode a single wide agg row into (column, stat...) long format.

    ``fields`` maps output field name -> the SQL expression of that field
    for column number ``{i}`` (e.g. ``"__mean_{i}"``); ``per_col`` lists
    further per-column values a template may name.  One ``selectExpr``
    call, whatever the column count.
    """
    structs = [
        struct([(lit(c), "column")] + [
            (e.format(i=i, **{k: v[i] for k, v in per_col.items()}), out)
            for out, e in fields.items()])
        for i, c in enumerate(cols)
    ]
    return (one_row.selectExpr(f"explode(array({', '.join(structs)})) AS s")
            .select("s.*"))


# ---------------------------------------------------------------------------
# A1 — table shape / column classification (home.py:88-92)
# ---------------------------------------------------------------------------

NUMERIC_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                 T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType,
                 T.DayTimeIntervalType)


def numeric_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields
            if isinstance(f.dataType, NUMERIC_TYPES) and f.name != ROW_ID]


def nominal_columns(df: DataFrame) -> list[str]:
    num = set(numeric_columns(df))
    return [c for c in df.columns if c not in num and c != ROW_ID]


def table_summary(df: DataFrame) -> DataFrame:
    """Row/column counts + numeric-vs-nominal split, as a 1-row DataFrame."""
    n_num, n_nom = len(numeric_columns(df)), len(nominal_columns(df))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(n_num + n_nom).cast("int").alias("n_columns"),
        F.lit(n_num).cast("int").alias("n_numeric_columns"),
        F.lit(n_nom).cast("int").alias("n_nominal_columns"),
    )


# ---------------------------------------------------------------------------
# A3 — per-column null/filled profile (home.py:146-152) — the flagship
# ---------------------------------------------------------------------------

def null_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """(column, total_records, null_records, filled_records, null_pct, filled_pct).

    One aggregate over all requested columns — a single scan however many
    columns are profiled (the reference does one pass per column).
    """
    cols = _data_cols(df, cols)
    if not cols:
        return null_profile(_no_data_columns(df)).limit(0)
    one = df.selectExpr("count(1) AS __total", *[
        f"{count_true(f'{ident(c)} IS NULL')} AS __nulls_{i}" for i, c in enumerate(cols)])
    return _long_format(one, cols, {
        "total_records": "__total",
        "null_records": "__nulls_{i}",
        "filled_records": "(__total - __nulls_{i})",
    }).selectExpr("*", f"{pct('null_records', 'total_records')} AS null_pct",
                  f"{pct('filled_records', 'total_records')} AS filled_pct")


# ---------------------------------------------------------------------------
# A4/A5 — numeric describe (home.py:129-132,167-170)
# ---------------------------------------------------------------------------

def describe_numeric(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """count/mean/stddev/min/q1/median/q3/max/sum per numeric column.

    Uses exact ``percentile`` (matches the reference's pandas describe and a
    SQL oracle); at 100 TB swap ``percentile`` → ``percentile_approx`` via
    ``approx=True`` — same single-pass shape, sketch-based state.
    """
    return _describe(df, cols, approx=False)


def describe_numeric_approx(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    return _describe(df, cols, approx=True)


def _describe(df: DataFrame, cols: list[str] | None, approx: bool) -> DataFrame:
    cols = cols or numeric_columns(df)
    pctl = "percentile_approx" if approx else "percentile"
    aggs = []
    for i, c in enumerate(cols):
        q = ident(c)
        aggs += [
            f"count({q}) AS __count_{i}",
            f"avg({q}) AS __mean_{i}",
            f"stddev_samp({q}) AS __std_{i}",
            f"CAST(min({q}) AS DOUBLE) AS __min_{i}",
            f"CAST({pctl}({q}, 0.25) AS DOUBLE) AS __q1_{i}",
            f"CAST({pctl}({q}, 0.5) AS DOUBLE) AS __median_{i}",
            f"CAST({pctl}({q}, 0.75) AS DOUBLE) AS __q3_{i}",
            f"CAST(max({q}) AS DOUBLE) AS __max_{i}",
            f"CAST(sum({q}) AS DOUBLE) AS __sum_{i}",
        ]
    one = df.selectExpr(*aggs)
    return _long_format(one, cols, {
        k: f"__{k}_{{i}}" for k in
        ["count", "mean", "std", "min", "q1", "median", "q3", "max", "sum"]})


# ---------------------------------------------------------------------------
# A6 — string length stats + arg-min/arg-max (home.py:133-144)
# ---------------------------------------------------------------------------

def string_stats(df: DataFrame, col: str) -> DataFrame:
    """min/max length, a value attaining each (deterministic tie-break:
    lexicographically smallest), and alphabetic min/max — one aggregate.

    ``min(struct(length, value))`` gives the arg-min with a total order, so
    the answer is reproducible across partitionings (``min_by`` alone is
    tie-unstable on a cluster).
    """
    c = F.col(col)
    ln = F.length(c)
    return df.agg(
        F.min(ln).alias("min_length"),
        F.max(ln).alias("max_length"),
        F.min(F.struct(ln.alias("l"), c.alias("v")))["v"].alias("shortest_value"),
        F.max(F.struct(ln.alias("l"), c.alias("v")))["v"].alias("longest_value"),
        F.min(c).alias("alpha_min"),
        F.max(c).alias("alpha_max"),
    )


# ---------------------------------------------------------------------------
# A7/A8/A9 — frequency table, top/bottom-k, rare values (home.py:172-209)
# ---------------------------------------------------------------------------

def frequency(df: DataFrame, col: str) -> DataFrame:
    """Per-value count and % of all rows (home.py:172-175).

    The total comes from a broadcast scalar join, not a global window —
    a single-partition window over the value counts would serialize at
    scale; the broadcast keeps the whole thing map-side after one shuffle
    for the groupBy.
    """
    counts = df.groupBy(F.col(col).alias("value")).agg(F.count(F.lit(1)).alias("count"))
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "value", "count",
        F.round(F.col("count") * 100.0 / F.col("__total"), 4).alias("pct"),
    )


def top_k(df: DataFrame, col: str, k: int = 5) -> DataFrame:
    """Top-k most frequent values; ties broken by value ascending so the
    result set is deterministic (pandas value_counts tie order is not)."""
    return (frequency(df, col)
            .orderBy(F.desc("count"), F.asc("value"))
            .limit(k))


def bottom_k(df: DataFrame, col: str, k: int = 5) -> DataFrame:
    return (frequency(df, col)
            .orderBy(F.asc("count"), F.asc("value"))
            .limit(k))


def rare_values(df: DataFrame, col: str, threshold_pct: float = 0.1) -> DataFrame:
    """Values whose share of rows is below ``threshold_pct`` (home.py:193-209)."""
    return frequency(df, col).filter(F.col("pct") < threshold_pct)


# ---------------------------------------------------------------------------
# A10 — sign histogram (home.py:211-227)
# ---------------------------------------------------------------------------

def sign_histogram(df: DataFrame, col: str) -> DataFrame:
    """Counts/% of positive, zero, negative (non-null) values — one agg."""
    c = F.col(col)
    cnt = lambda pred: F.coalesce(F.sum(pred.cast("long")), F.lit(0))  # noqa: E731
    one = df.agg(
        F.count(F.lit(1)).alias("__total"),
        cnt(c > 0).alias("positive"),
        cnt(c == 0).alias("zero"),
        cnt(c < 0).alias("negative"),
    )
    return one.select(
        "positive", "zero", "negative",
        F.round(F.col("positive") * 100.0 / F.col("__total"), 2).alias("positive_pct"),
        F.round(F.col("zero") * 100.0 / F.col("__total"), 2).alias("zero_pct"),
        F.round(F.col("negative") * 100.0 / F.col("__total"), 2).alias("negative_pct"),
    )


# ---------------------------------------------------------------------------
# A11 — pattern profile (home.py:229-251)
# ---------------------------------------------------------------------------

def pattern_mask(col: Column | str) -> Column:
    """Letters (incl. Turkish) → 'A', digits → '9'; other chars kept."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.regexp_replace(c.cast("string"), f"[{LETTERS_TR}]", "A"), "[0-9]", "9"
    )


def pattern_profile(df: DataFrame, col: str) -> DataFrame:
    """Frequency table of the masked pattern of a column's values."""
    masked = df.select(pattern_mask(col).alias(col))
    return frequency(masked, col).withColumnRenamed("value", "pattern")


# ---------------------------------------------------------------------------
# A2/R14 — duplicate rows; A12 — per-column duplicate values
# (home.py:100-110, 253-263)
# ---------------------------------------------------------------------------

def duplicate_rows(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Row combinations occurring more than once, with their multiplicity.

    ``groupBy`` over the value columns (hash-partial aggregate) rather than
    a window over all columns — the window variant re-emits every row and
    shuffles full rows; this shuffles only group keys + counts.
    """
    subset = _data_cols(df, subset)
    return (df.groupBy(*subset)
            .agg(F.count(F.lit(1)).alias("duplicate_count"))
            .filter(F.col("duplicate_count") > 1))


def duplicate_row_count(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Total count of surplus duplicate rows (reference counts rows beyond
    the first occurrence, home.py:100-110 ``dataset.duplicated()``)."""
    dups = duplicate_rows(df, subset)
    return dups.agg(
        F.coalesce(F.sum(F.col("duplicate_count") - 1), F.lit(0)).alias("duplicate_rows")
    )


def drop_duplicate_rows(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Reference's duplicate drop (home.py:109)."""
    return df.dropDuplicates(subset=_data_cols(df, subset))


def duplicate_values(df: DataFrame, col: str) -> DataFrame:
    """Values occurring more than once in a column (home.py:253-263)."""
    return (df.groupBy(F.col(col).alias("value"))
            .agg(F.count(F.lit(1)).alias("count"))
            .filter(F.col("count") > 1))


# ---------------------------------------------------------------------------
# P8/R13 — null-majority "useless" rows (home.py:94-97)
# ---------------------------------------------------------------------------

def profile_drift(df_a: DataFrame, df_b: DataFrame,
                  cols: list[str] | None = None,
                  exact_mean: tuple[int, int] | None = None) -> DataFrame:
    """Data-drift report between two snapshots of the same table (the
    DQ-monitoring loop: profile yesterday's load vs today's): one row
    per column with total/null/distinct/mean from BOTH sides and the
    exact deltas — the table an alerting rule thresholds on.

    Reuses :func:`profile_columns` on each side (one aggregate pass per
    snapshot; ``exact_distinct`` mode so the drift numbers are exact and
    hash-comparable) and joins the two bounded per-column frames — cost
    is two scans, the comparison itself is dimension-sized.  Null RATES
    are exact 6-dp roundings of the count/total rationals (the
    functions/exact.py device) — never a rounded float.
    """
    from dataqtor_spark.functions.exact import round_ratio

    pa = profile_columns(df_a, cols, exact_distinct=True,
                         exact_mean=exact_mean)
    pb = profile_columns(df_b, cols, exact_distinct=True,
                         exact_mean=exact_mean)
    a = pa.select(F.col("column"),
                  F.col("total_records").alias("total_a"),
                  F.col("null_records").alias("nulls_a"),
                  F.col("distinct_values").alias("distinct_a"),
                  F.col("mean").alias("mean_a"))
    b = pb.select(F.col("column"),
                  F.col("total_records").alias("total_b"),
                  F.col("null_records").alias("nulls_b"),
                  F.col("distinct_values").alias("distinct_b"),
                  F.col("mean").alias("mean_b"))
    nr = lambda n, t: round_ratio(n, F.greatest(t, F.lit(1)), 6)  # noqa: E731
    return (a.join(b, "column", "full")
            .select("column", "total_a", "total_b",
                    "distinct_a", "distinct_b",
                    nr(F.col("nulls_a"), F.col("total_a")).alias("null_rate_a"),
                    nr(F.col("nulls_b"), F.col("total_b")).alias("null_rate_b"),
                    "mean_a", "mean_b",
                    (F.col("total_b") - F.col("total_a")).cast("long")
                    .alias("total_delta"),
                    (F.col("distinct_b") - F.col("distinct_a")).cast("long")
                    .alias("distinct_delta")))


def null_majority_rows(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Rows where more than half of the cells are NULL."""
    cols = _data_cols(df, cols)
    null_count = sum(F.col(c).isNull().cast("int") for c in cols)
    return df.filter(null_count > F.lit(len(cols)) / 2)


# ---------------------------------------------------------------------------
# §2.10 — wide per-column profile (pandas-profiling equivalent)
# ---------------------------------------------------------------------------

def profile_columns(df: DataFrame, cols: list[str] | None = None,
                    exact_distinct: bool = False,
                    exact_mean: tuple[int, int] | None = None) -> DataFrame:
    """One row per column: type, counts, distinct, numeric moments.

    Single aggregate pass.  ``distinct`` is a DataSketches HLL estimate by
    default (``hll_sketch_estimate(hll_sketch_agg(x))`` at lgK 12, the
    sketch :func:`hll_sketches` stores): ~1.6% relative standard error,
    against 5% for ``approx_count_distinct``'s HLL++ at its default rsd,
    and exact while a column holds fewer than a few hundred distinct
    values.  Its cost is one 4 KiB register array per column, filled by
    one hash per value; HLL++ is an imperative aggregate that carries 53
    long words per column through every partial and merge.  Int, bigint,
    string and binary values are sketched as they are; every other type
    as its string form, with ``-0.0`` folded into ``0.0`` so floats count
    as ``count(DISTINCT)`` groups them.  ``exact_distinct=True`` counts
    exactly instead: multiple exact COUNT DISTINCTs in one pass force an
    Expand operator that multiplies the scanned rows by the column count,
    which is exactly the wrong trade at 100 TB.

    ``exact_mean=(in_scale, out_scale)`` declares the numeric inputs exact
    at ``in_scale`` decimals (e.g. (2, 4) for cent-valued prices) and emits
    ``mean`` as the EXACT ``out_scale``-dp rounding of the integer rational
    sum/count — the portability device for hash-compared outputs, where
    ``round(<double mean>, k)`` can flip at a cross-engine rounding tie
    (see functions/exact.py).  Default keeps the raw double ``avg``.
    """
    cols = _data_cols(df, cols)
    if not cols:
        return profile_columns(_no_data_columns(df), None, exact_distinct,
                               exact_mean).limit(0)
    types = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))
    # booleans and day-time intervals count as numeric elsewhere, but
    # avg / stddev_samp reject them: they get NULL moments, as strings do
    num = {c for c in numeric_columns(df)
           if not isinstance(types[c], (T.BooleanType, T.DayTimeIntervalType))}
    aggs = ["count(1) AS __total"]
    for i, c in enumerate(cols):
        q = ident(c)
        distinct = (f"count(DISTINCT {q})" if exact_distinct else
                    f"hll_sketch_estimate(hll_sketch_agg({_sketched(q, types[c])}, {HLL_LGK}))")
        aggs += [f"{count_true(f'{q} IS NULL')} AS __nulls_{i}",
                 f"{distinct} AS __distinct_{i}"]
        if c in num:
            if exact_mean is not None:
                s_in, s_out = exact_mean
                mean = round_ratio_expr(
                    f"(sum(CAST({q} AS DECIMAL(38,{s_in}))) * {10 ** s_in})",
                    f"(count({q}) * {10 ** s_in})", s_out)
            else:
                mean = f"avg({q})"
            moments = [mean, f"stddev_samp({q})", f"CAST(min({q}) AS DOUBLE)",
                       f"CAST(max({q}) AS DOUBLE)", f"skewness({q})", f"kurtosis({q})",
                       count_true(f"{q} = 0"), count_true(f"{q} < 0")]
        else:
            moments = ["CAST(NULL AS DOUBLE)"] * 6 + ["CAST(NULL AS BIGINT)"] * 2
        aggs += [f"{m} AS __{k}_{i}" for m, k in zip(moments, _MOMENTS)]
    one = df.selectExpr(*aggs)
    return _long_format(one, cols, {
        "dtype": "{dtype}",
        "total_records": "__total",
        "null_records": "__nulls_{i}",
        "distinct_values": "CAST(__distinct_{i} AS BIGINT)",
        "mean": "__mean_{i}", "std": "__std_{i}", "min": "__min_{i}",
        "max": "__max_{i}", "skewness": "__skew_{i}", "kurtosis": "__kurt_{i}",
        "zero_count": "__zeros_{i}", "negative_count": "__neg_{i}",
    }, dtype=[lit(types[c].simpleString()) for c in cols])


_MOMENTS = ["mean", "std", "min", "max", "skew", "kurt", "zeros", "neg"]

HLL_LGK = 12  # DataSketches HLL registers 2^12: ~1.6% relative std error
_SKETCH_NATIVE = (T.IntegerType, T.LongType, T.StringType, T.BinaryType)


def _sketched(q: str, dtype: T.DataType) -> str:
    """``q`` as a value ``hll_sketch_agg`` accepts: int, bigint, string and
    binary as they are, anything else as its string form.  Floats fold
    ``-0.0`` into ``0.0`` first, as ``count(DISTINCT)`` does."""
    if isinstance(dtype, _SKETCH_NATIVE):
        return q
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        q = f"IF({q} = 0, 0, {q})"
    return f"CAST({q} AS STRING)"


def histogram(df: DataFrame, col: str, bins: int = 10) -> DataFrame:
    """Equi-width histogram via width_bucket-style binning — two jobs
    (min/max scalar, then one groupBy), no driver-side data."""
    mm = df.agg(F.min(F.col(col)).cast("double").alias("lo"),
                F.max(F.col(col)).cast("double").alias("hi"))
    binned = (
        df.select(F.col(col).cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
        .crossJoin(F.broadcast(mm))
        .select(
            F.when(F.col("hi") == F.col("lo"), F.lit(0))
            .otherwise(
                F.least(
                    F.floor((F.col("v") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / bins)),
                    F.lit(bins - 1),
                )
            ).cast("int").alias("bucket"),
            "lo", "hi",
        )
    )
    width = (F.col("hi") - F.col("lo")) / bins
    return (binned.groupBy("bucket", "lo", "hi")
            .agg(F.count(F.lit(1)).alias("count"))
            .select(
                "bucket",
                (F.col("lo") + F.col("bucket") * width).alias("bin_start"),
                (F.col("lo") + (F.col("bucket") + 1) * width).alias("bin_end"),
                "count",
            )
            .orderBy("bucket"))


def correlations(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Pairwise Pearson correlations of numeric columns in ONE aggregate
    (pandas-profiling's correlation matrix, §2.10).  n² corr states but
    still a single scan; fine up to ~50 numeric columns."""
    cols = cols or numeric_columns(df)
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(F.corr(F.col(a), F.col(b)).alias(f"__corr_{a}__{b}"))
    if not aggs:
        raise ValueError("need at least two numeric columns")
    one = df.agg(*aggs)
    structs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            structs.append(F.struct(
                F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                F.col(f"__corr_{a}__{b}").alias("pearson"),
            ))
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def partial_correlations(df: DataFrame, pairs: list[tuple[str, str]],
                         given: str) -> DataFrame:
    """First-order partial Pearson correlations: for each (x, y) pair,
    the correlation REMAINING after the control column ``given`` is
    regressed out of both — the screen that separates direct association
    from a shared-driver artifact (the §2.10 matrix says WHETHER two
    columns move together; this says whether they still do once z is
    held fixed).

    One aggregate pass computes every needed pairwise ``corr``; the
    closed form ``(r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²))`` then runs
    on the 1-row bounded frame.  Pairwise r's round to 9 dp BEFORE
    combining so both engines feed the formula identical inputs
    (the cross-engine float device).  A control perfectly correlated
    with either column yields NULL (zero denominator) via try_divide."""
    cols = sorted({c for p in pairs for c in p})
    need = {tuple(sorted(p)) for p in pairs}
    need |= {tuple(sorted((c, given))) for c in cols}
    aggs = [F.round(F.corr(F.col(a), F.col(b)), 9).alias(f"__r_{a}__{b}")
            for a, b in sorted(need)]
    one = df.agg(*aggs)

    def r(a: str, b: str):
        a, b = sorted((a, b))
        return F.col(f"__r_{a}__{b}")

    structs = []
    for x, y in pairs:
        num = r(x, y) - r(x, given) * r(y, given)
        den = F.sqrt((1 - r(x, given) * r(x, given))
                     * (1 - r(y, given) * r(y, given)))
        structs.append(F.struct(
            F.lit(x).alias("col_a"), F.lit(y).alias("col_b"),
            F.lit(given).alias("given"),
            F.round(r(x, y), 6).alias("pearson"),
            F.round(F.try_divide(num, den), 6).alias("partial_r")))
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def _fractional_ranks(df: DataFrame, col: str, out: str) -> DataFrame:
    """Join a fractional (average) rank column onto ``df``.

    Spearman needs average ranks for ties.  A naive
    ``rank().over(Window.orderBy(col))`` forces ALL rows through one
    partition — a non-starter at scale.  Ranks are a function of the
    *value*, so compute them on the distinct-value table (groupBy →
    cumulative count over the much smaller distinct set) and join them
    back — and the cumulative itself is the DISTRIBUTED
    range-partitioned scan (``ordered.ordered_prefix``), so even a
    near-unique double column (distinct ≈ rows) never funnels through
    one task.  No explicit broadcast hint on the join-back: AQE promotes
    it to broadcast at runtime when the rank table is actually small,
    and falls back to a shuffle join otherwise.

    NULLs rank as NULL (left join; they are excluded from the rank
    ordering), so ``F.corr`` over the ranks skips null-bearing rows
    per-pair — pandas' pairwise behaviour — instead of dropping the row
    from every pair.
    """
    from dataqtor_spark.operators.ordered import ordered_prefix

    vc = (df.filter(F.col(col).isNotNull())
          .groupBy(col).agg(F.count(F.lit(1)).alias("__n")))
    ranks = (ordered_prefix(vc, [F.col(col)],
                            sums={"__ci": F.col("__n")})
             .select(F.col(col),
                     (F.col("__ci") - F.col("__n")
                      + (F.col("__n") + 1) / 2.0).alias(out)))
    return df.join(ranks, col, "left")


def spearman_correlations(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Pairwise Spearman rank correlations (pandas-profiling §2.10).

    Rank-transform each column with average-rank tie handling, then Pearson
    over the ranks — exact Spearman, same construction an oracle expresses
    in ANSI SQL (``rank() + (count(*) OVER (PARTITION BY v) - 1)/2.0``).
    """
    cols = cols or numeric_columns(df)
    if len(cols) < 2:
        raise ValueError("need at least two numeric columns")
    ranked = df.select(*cols)
    for c in cols:
        ranked = _fractional_ranks(ranked, c, f"__rk_{c}")
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(F.corr(F.col(f"__rk_{a}"), F.col(f"__rk_{b}"))
                        .alias(f"__sp_{a}__{b}"))
    one = ranked.agg(*aggs)
    structs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            structs.append(F.struct(
                F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                F.round(F.col(f"__sp_{a}__{b}"), 4).alias("spearman"),
            ))
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def cramers_v(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cramér's V association between two categorical columns
    (pandas-profiling §2.10 'cramers' correlation).

    One groupBy shuffle builds the r×c contingency table; margins, χ², and
    V are then window/agg ops over that *tiny* table (≤ r·c cells however
    large the input), so the heavy path is a single map-side-combinable
    aggregation regardless of data scale.
    """
    from pyspark.sql import Window

    ct = (df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
          .groupBy(col_a, col_b)
          .agg(F.count(F.lit(1)).cast("double").alias("o")))
    m = ct.select(
        "o",
        F.sum("o").over(Window.partitionBy(col_a)).alias("rt"),
        F.sum("o").over(Window.partitionBy(col_b)).alias("ctot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
        F.col(col_a).alias("a"), F.col(col_b).alias("b"),
    )
    e = F.col("rt") * F.col("ctot") / F.col("n")
    chi = m.agg(
        F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2"),
        F.max("n").alias("n"),
        F.count_distinct(F.col("a")).alias("r"),
        F.count_distinct(F.col("b")).alias("c"),
    )
    return chi.select(
        F.lit(col_a).alias("col_a"), F.lit(col_b).alias("col_b"),
        F.round(F.sqrt(F.col("chi2") / (F.col("n") * (F.least("r", "c") - F.lit(1)))), 4)
        .alias("cramers_v"))


def kendall_tau(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Kendall's τ-b rank correlation (pandas-profiling §2.10 'kendall').

    Scale design: the input collapses to its (x, y) contingency cells in
    ONE map-side-combinable groupBy; concordant/discordant pair counts
    are then a broadcast self-join over the *cell* table, quadratic only
    in distinct value pairs — the same bounded-cardinality contract as
    ``cramers_v``/χ² (bin continuous inputs first; r·c cells, however
    large the input).  Tie corrections come from the cell marginals:

        τ_b = (C − D) / √((n₀ − n₁)(n₀ − n₂)),   n₀ = n(n−1)/2,
        n₁/n₂ = Σ tᵢ(tᵢ−1)/2 over x / y tie groups.

    Counts accumulate in DECIMAL(38,0) (pair products overflow BIGINT
    once n ≳ 4·10⁹ rows); the single float division happens at the end.
    """
    dec = "decimal(38,0)"
    cells = (df.filter(F.col(col_x).isNotNull() & F.col(col_y).isNotNull())
             .groupBy(F.col(col_x).alias("x"), F.col(col_y).alias("y"))
             .agg(F.count(F.lit(1)).cast("decimal(19,0)").alias("cnt"))
             # four consumers (pair join sides, marginals, total): cut the
             # lineage so the input aggregates ONCE, not once per consumer
             .localCheckpoint(eager=False))
    a, b = cells.alias("a"), cells.alias("b")
    # unordered distinct-cell pairs, once each (lexicographic order)
    pairs = a.join(
        F.broadcast(b),
        (F.col("a.x") < F.col("b.x"))
        | ((F.col("a.x") == F.col("b.x")) & (F.col("a.y") < F.col("b.y"))))
    prod = (F.col("a.cnt") * F.col("b.cnt")).cast(dec)
    sgn = (F.col("b.x") - F.col("a.x")) * (F.col("b.y") - F.col("a.y"))
    cd = pairs.agg(
        F.coalesce(F.sum(F.when(sgn > 0, prod)), F.lit(0).cast(dec))
        .alias("c_pairs"),
        F.coalesce(F.sum(F.when(sgn < 0, prod)), F.lit(0).cast(dec))
        .alias("d_pairs"))
    tx = (cells.groupBy("x")
          .agg(F.sum("cnt").cast(dec).alias("t"))
          .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).cast(dec)
               .alias("n1")))
    ty = (cells.groupBy("y")
          .agg(F.sum("cnt").cast(dec).alias("t"))
          .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).cast(dec)
               .alias("n2")))
    tot = cells.agg(F.sum("cnt").cast(dec).alias("n"))
    one = (cd.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
           .crossJoin(F.broadcast(tot)))
    n0 = (F.col("n") * (F.col("n") - 1) / 2).cast(dec)
    tau = ((F.col("c_pairs") - F.col("d_pairs")).cast("double")
           / (F.sqrt((n0 - F.col("n1")).cast("double"))
              * F.sqrt((n0 - F.col("n2")).cast("double"))))
    return one.select(
        F.lit(col_x).alias("col_x"), F.lit(col_y).alias("col_y"),
        F.col("n").cast("long").alias("n"),
        F.col("c_pairs").cast("double").alias("concordant"),
        F.col("d_pairs").cast("double").alias("discordant"),
        F.round(tau, 6).alias("kendall_tau"))


def phik_correlation(df: DataFrame, col_x: str, col_y: str,
                     n_bins: int = 10) -> DataFrame:
    """φk correlation coefficient (Baak, Koopman, Snoek & Klous 2018,
    arXiv:1811.11440) — the ``phi_k`` matrix in pandas-profiling 3.2.0's
    report (reference surface: /root/reference/home.py:84-86 via
    ``ProfileReport``), the one §2.10 statistic previously documented as
    out of scope.

    Definition: bin both variables, take the Pearson χ² of the observed
    contingency table (noise-corrected by the independence pedestal
    E[χ²|ρ=0] = (r−1)(c−1)), then find the ρ ∈ [0, 1) for which a
    standard bivariate normal — binned so its marginals match the
    observed marginals exactly — produces the same χ².  φk = that ρ.

    Scale design: ALL per-row work is Spark-side — one min/max aggregate
    to fix the bin grid, then one map-side-combinable groupBy producing
    ≤ n_bins² contingency cells.  Only that tiny cell table is collected;
    the bivariate-normal inversion (Gauss–Legendre quadrature for the BVN
    rectangle masses + bisection on ρ) runs on the driver over ≤ n_bins²
    numbers — the same bounded-driver-work contract as the k-means
    centroid pulls in ``dedup.semantic_dedup``.  Numeric columns are
    equi-width binned; string columns group on their category value
    (ordered lexically, as the phik library orders unordered categoricals).

    No closed SQL form exists for the BVN inversion, so the registry
    entry is rows-only; correctness is pytest-anchored (φk → 1 under
    functional dependence, → 0 under independence, symmetry in the
    argument order, and a hand-checked 2×2 value).
    """
    import math
    from statistics import NormalDist

    import numpy as np

    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double",
               "decimal", "date", "timestamp", "timestamp_ntz"}

    def _is_numeric(c: str) -> bool:
        t = dict(df.dtypes)[c]
        return t.split("(")[0] in numeric

    def _as_num(c: str):
        t = dict(df.dtypes)[c].split("(")[0]
        if t == "date":  # DATE does not cast to DOUBLE
            return F.unix_date(F.col(c)).cast("double")
        if t in ("timestamp", "timestamp_ntz"):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        return F.col(c).cast("double")

    pair = df.filter(F.col(col_x).isNotNull() & F.col(col_y).isNotNull())
    num_cols = [c for c in (col_x, col_y) if _is_numeric(c)]
    cat_cols = [c for c in (col_x, col_y) if not _is_numeric(c)]
    if num_cols:
        mm = pair.agg(*[f for c in num_cols for f in (
            F.min(_as_num(c)).alias(f"__lo_{c}"),
            F.max(_as_num(c)).alias(f"__hi_{c}"))])
        pair = pair.crossJoin(F.broadcast(mm))
    # categorical axes are capped at the n_bins most frequent values
    # (rest → '__other__'), preserving the ≤ n_bins² cell bound — a
    # high-cardinality string column must not turn the driver-side
    # inversion quadratic (same bounded-cardinality contract as
    # ``cramers_v``; ties broken by value for determinism)
    for c in cat_cols:
        top = (pair.groupBy(F.col(c).cast("string").alias("__v"))
               .agg(F.count(F.lit(1)).alias("__n"))
               .orderBy(F.desc("__n"), F.asc("__v")).limit(n_bins)
               .select("__v", F.lit(1).alias(f"__keep_{c}")))
        pair = (pair.join(F.broadcast(top),
                          pair[c].cast("string") == top["__v"], "left")
                .drop("__v"))

    def _bin(c: str):
        if not _is_numeric(c):
            return (F.when(F.col(f"__keep_{c}").isNull(), F.lit("__other__"))
                    .otherwise(F.col(c).cast("string")))
        lo, hi = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
        idx = F.floor((_as_num(c) - lo) / ((hi - lo) / n_bins))
        # zero-pad so the driver's lexical sort is the numeric order
        # (unpadded, bin '10' sorts between '1' and '2' and scrambles
        # the marginal cumsum the BVN edges are built from)
        return F.format_string(
            "%06d",
            F.when(hi == lo, F.lit(0))
            .otherwise(F.least(idx, F.lit(n_bins - 1))).cast("int"))

    cells = (pair.groupBy(_bin(col_x).alias("bx"), _bin(col_y).alias("by"))
             .agg(F.count(F.lit(1)).alias("cnt"))
             .collect())  # ≤ n_bins² cells: numeric axes by construction,
    #                       categorical axes by the top-n_bins cap above

    xs = sorted({r["bx"] for r in cells})
    ys = sorted({r["by"] for r in cells})
    obs = np.zeros((len(xs), len(ys)))
    xi = {v: i for i, v in enumerate(xs)}
    yi = {v: i for i, v in enumerate(ys)}
    for r in cells:
        obs[xi[r["bx"]], yi[r["by"]]] = r["cnt"]
    n = obs.sum()
    r_dim, c_dim = obs.shape

    def _result(val: float) -> DataFrame:
        return local_frame(
            df.sparkSession, [(col_x, col_y, int(n), round(float(val), 4))],
            "col_x string, col_y string, n long, phik double")

    if n == 0 or r_dim < 2 or c_dim < 2:
        return _result(0.0)

    p = obs.sum(axis=1) / n           # row marginals
    q = obs.sum(axis=0) / n           # col marginals
    e = n * np.outer(p, q)
    chi2_obs = float(((obs - e) ** 2 / e).sum())
    pedestal = (r_dim - 1) * (c_dim - 1)
    chi2_target = max(0.0, chi2_obs - pedestal)
    if chi2_target == 0.0:
        return _result(0.0)

    nd = NormalDist()
    clip = 7.5

    def _edges(marg: np.ndarray) -> np.ndarray:
        cum = np.concatenate(([0.0], np.cumsum(marg)))
        cum = np.clip(cum, 0.0, 1.0)
        return np.array([-clip if v <= 0 else clip if v >= 1
                         else max(-clip, min(clip, nd.inv_cdf(v)))
                         for v in cum])

    zx, zy = _edges(p), _edges(q)
    # BVN CDF at every grid corner in one vectorized sweep:
    #   B(h,k,ρ) = Φ(h)Φ(k) + (1/2π)∫₀^ρ exp(−(h²+k²−2rhk)/(2(1−r²)))/√(1−r²) dr
    nodes, weights = np.polynomial.legendre.leggauss(48)
    phi_x = np.array([nd.cdf(v) for v in zx])
    phi_y = np.array([nd.cdf(v) for v in zy])
    h = zx[:, None]
    k = zy[None, :]

    def _bvn_chi2(rho: float) -> float:
        r_nodes = 0.5 * rho * (nodes + 1.0)        # map [−1,1] → [0,ρ]
        w = 0.5 * rho * weights
        acc = np.zeros((len(zx), len(zy)))
        for r_, w_ in zip(r_nodes, w):
            om = 1.0 - r_ * r_
            acc += w_ * np.exp(-(h * h + k * k - 2.0 * r_ * h * k)
                               / (2.0 * om)) / math.sqrt(om)
        bvn = phi_x[:, None] * phi_y[None, :] + acc / (2.0 * math.pi)
        rect = (bvn[1:, 1:] - bvn[:-1, 1:] - bvn[1:, :-1] + bvn[:-1, :-1])
        rect = np.clip(rect, 1e-15, None)
        rect = rect / rect.sum()
        exp_ij = np.outer(p, q)
        return float(n * ((rect - exp_ij) ** 2 / exp_ij).sum())

    hi_rho = 0.99999
    if chi2_target >= _bvn_chi2(hi_rho):
        return _result(1.0)
    lo, hi = 0.0, hi_rho
    for _ in range(50):
        mid = (lo + hi) / 2.0
        if _bvn_chi2(mid) < chi2_target:
            lo = mid
        else:
            hi = mid
    return _result((lo + hi) / 2.0)


def phik_statistics(df: DataFrame, col_x: str, col_y: str,
                    n_bins: int = 10) -> DataFrame:
    """The SQL-expressible core of the φk computation (Baak et al. 2018,
    arXiv:1811.11440; reference surface /root/reference/home.py:84-86 via
    pandas-profiling 3.2.0's ``phi_k`` matrix): equi-width-binned
    contingency table → Pearson χ², the (r−1)(c−1) independence pedestal,
    and the noise-corrected χ² the bivariate-normal inversion in
    ``phik_correlation`` consumes.  Everything up to (but excluding) the
    BVN inversion — i.e. everything a SQL engine can replay exactly.

    Fully distributed: one min/max aggregate fixes the bin grid, one
    map-side-combinable groupBy produces ≤ n_bins² contingency cells,
    and the χ² reduction is a broadcast join of the ≤ n_bins marginal
    tables back onto the cells — no driver-side collect anywhere.

    χ² must include zero-observed cells where expected > 0 (they each
    contribute (0−e)²/e = e).  Since expected masses sum to n over the
    full observed-bin grid, Σ_{zero cells} e = n − Σ_{nonzero cells} e,
    so both this plan and the DuckDB oracle only ever iterate nonzero
    cells:  χ² = Σ_nonzero (cnt−e)²/e + (n − Σ_nonzero e).

    Numeric-numeric pairs only (the graded profile-screen pair); mixed /
    categorical axes go through ``phik_correlation``'s top-k capping.
    """
    x = F.col(col_x).cast("double")
    y = F.col(col_y).cast("double")
    pair = (df.filter(x.isNotNull() & y.isNotNull())
            .select(x.alias("__x"), y.alias("__y")))
    mm = pair.agg(F.min("__x").alias("lox"), F.max("__x").alias("hix"),
                  F.min("__y").alias("loy"), F.max("__y").alias("hiy"))

    def _bin(v, lo, hi):
        idx = F.floor((v - lo) / ((hi - lo) / n_bins))
        return (F.when(hi == lo, F.lit(0))
                .otherwise(F.least(idx, F.lit(n_bins - 1))).cast("int"))

    cells = (pair.crossJoin(F.broadcast(mm))
             .groupBy(_bin(F.col("__x"), F.col("lox"), F.col("hix"))
                      .alias("bx"),
                      _bin(F.col("__y"), F.col("loy"), F.col("hiy"))
                      .alias("by"))
             .agg(F.count(F.lit(1)).cast("double").alias("cnt")))
    rx = cells.groupBy("bx").agg(F.sum("cnt").alias("rt"))
    cy = cells.groupBy("by").agg(F.sum("cnt").alias("ct"))
    tot = cells.agg(F.sum("cnt").alias("n"),
                    F.countDistinct("bx").cast("int").alias("r_bins"),
                    F.countDistinct("by").cast("int").alias("c_bins"))
    e = F.col("rt") * F.col("ct") / F.col("n")
    agg = (cells.join(F.broadcast(rx), "bx")
           .join(F.broadcast(cy), "by")
           .crossJoin(F.broadcast(tot))
           .groupBy("n", "r_bins", "c_bins")
           .agg(F.sum((F.col("cnt") - e) ** 2 / e).alias("chi2_nz"),
                F.sum(e).alias("e_nz")))
    chi2 = F.col("chi2_nz") + (F.col("n") - F.col("e_nz"))
    pedestal = ((F.col("r_bins") - 1) * (F.col("c_bins") - 1)).cast("double")
    return agg.select(
        F.lit(col_x).alias("col_x"), F.lit(col_y).alias("col_y"),
        F.col("n").cast("long").alias("n"),
        F.col("r_bins"), F.col("c_bins"),
        F.round(chi2, 4).alias("chi2"),
        pedestal.alias("pedestal"),
        F.round(F.greatest(chi2 - pedestal, F.lit(0.0)), 4)
        .alias("chi2_corrected"))


def moment_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Population skewness and excess kurtosis per column, one aggregate
    pass (pandas-profiling §2.10; Spark's built-ins use the population
    definitions, documented so the oracle can match via raw moments)."""
    aggs = []
    for c in cols:
        aggs += [F.skewness(F.col(c)).alias(f"__sk_{c}"),
                 F.kurtosis(F.col(c)).alias(f"__ku_{c}")]
    one = df.agg(*aggs)
    structs = [F.struct(F.lit(c).alias("column"),
                        F.round(F.col(f"__sk_{c}"), 4).alias("skewness"),
                        F.round(F.col(f"__ku_{c}"), 4).alias("kurtosis"))
               for c in cols]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def null_pattern_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """pandas-profiling's missing-value *matrix*, aggregated: one row per
    observed null-combination pattern with its frequency (pattern = the
    subset of columns that are null).  One groupBy on a computed bitmask
    string — O(distinct patterns) result rows, ≤ 2^cols but in practice a
    handful; the scan reads only the profiled columns."""
    cols = _data_cols(df, cols)
    mask = F.concat(*[F.when(F.col(c).isNull(), F.lit("1")).otherwise(F.lit("0"))
                      for c in cols])
    n_nulls = sum((F.col(c).isNull().cast("int") for c in cols), F.lit(0))
    return (df.select(mask.alias("null_pattern"), n_nulls.alias("__n"))
            .groupBy("null_pattern")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.max("__n").alias("n_null_columns")))


def psi_drift(df: DataFrame, col: str, period_col: str, bins: int = 10,
              smoothing: float = 0.5) -> DataFrame:
    """Population Stability Index between the two values of a boolean
    period column (dataset-shift detection between snapshots/batches).

    One pass for global min/max, one binned groupBy over (bucket, period)
    — O(bins) result rows; PSI = Σ (pa−pb)·ln(pa/pb) over smoothed bin
    shares, computed on the tiny binned table.
    """
    mm = df.agg(F.min(F.col(col)).cast("double").alias("lo"),
                F.max(F.col(col)).cast("double").alias("hi"))
    binned = (df.select(F.col(col).cast("double").alias("v"), F.col(period_col).alias("p"))
              .filter(F.col("v").isNotNull())
              .crossJoin(F.broadcast(mm))
              .select(
                  F.when(F.col("hi") == F.col("lo"), F.lit(0))
                  .otherwise(F.least(
                      F.floor((F.col("v") - F.col("lo"))
                              / ((F.col("hi") - F.col("lo")) / bins)),
                      F.lit(bins - 1))).cast("int").alias("bucket"),
                  "p"))
    counts = (binned.groupBy("bucket")
              .agg(F.sum(F.when(F.col("p"), 1).otherwise(0)).alias("na"),
                   F.sum(F.when(~F.col("p"), 1).otherwise(0)).alias("nb")))
    tot = counts.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    sm = F.lit(smoothing)
    out = (counts.crossJoin(F.broadcast(tot))
           .select("bucket",
                   ((F.col("na") + sm) / (F.col("ta") + sm * bins)).alias("pa"),
                   ((F.col("nb") + sm) / (F.col("tb") + sm * bins)).alias("pb")))
    term = (F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))
    return out.agg(F.round(F.sum(term), 6).alias("psi"))


def outlier_iqr(df: DataFrame, col: str, k: float = 1.5,
                approx: bool = False) -> DataFrame:
    """Tukey-fence outlier summary for one numeric column: quartiles, the
    k·IQR fences, and how many non-null values fall outside them.

    One aggregate pass computes q1/q3 (plus the row stream re-checked in the
    same pass via conditional counts is impossible — fences depend on the
    quantiles — so this is inherently two passes: quantiles, then count).
    ``approx=True`` swaps exact ``percentile`` (full value collection per
    group — fine up to ~10⁸ rows per executor) for ``percentile_approx``,
    the 100 TB path: a fixed-size QuantileSummaries sketch per partition,
    merged map-side, error ≤ 1/accuracy relative rank.  Exact mode matches
    DuckDB's ``quantile_cont`` linear interpolation bit-for-bit on the
    driver gate.
    """
    pfn = (lambda c, p: F.percentile_approx(c, p, 10_000)) if approx \
        else (lambda c, p: F.percentile(c, p))
    q = df.agg(pfn(F.col(col), F.lit(0.25)).alias("q1"),
               pfn(F.col(col), F.lit(0.75)).alias("q3"))
    q = q.select("q1", "q3",
                 (F.col("q1") - k * (F.col("q3") - F.col("q1"))).alias("lo"),
                 (F.col("q3") + k * (F.col("q3") - F.col("q1"))).alias("hi"))
    counted = (df.crossJoin(F.broadcast(q))
               .agg(F.first("q1").alias("q1"), F.first("q3").alias("q3"),
                    F.first("lo").alias("lo"), F.first("hi").alias("hi"),
                    F.sum(((F.col(col) < F.col("lo"))
                           | (F.col(col) > F.col("hi"))).cast("long"))
                    .alias("n_outliers")))
    return counted.select(
        F.lit(col).alias("column"),
        F.round("q1", 4).alias("q1"), F.round("q3", 4).alias("q3"),
        F.round("lo", 4).alias("lo"), F.round("hi", 4).alias("hi"),
        F.coalesce("n_outliers", F.lit(0)).alias("n_outliers"))


def distinct_profile(df: DataFrame, cols: list[str],
                     approx: bool = False, rsd: float = 0.05) -> DataFrame:
    """Per-column cardinality profile: (column, n_distinct, n_nulls) in ONE
    aggregate pass over all requested columns.

    ``approx=True`` is the 100 TB path: ``approx_count_distinct`` keeps one
    fixed-size HyperLogLog++ sketch per column per partition (merged
    map-side), so memory is O(cols × sketch) instead of the exact mode's
    per-column distinct hash tables; ``rsd`` is the target relative standard
    error.  Exact mode is what the driver's DuckDB gate replays.
    """
    cnt = (lambda c: F.approx_count_distinct(c, rsd)) if approx \
        else (lambda c: F.count_distinct(F.col(c)))
    aggs = []
    for c in cols:
        aggs.append(cnt(c).alias(f"__d_{c}"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__n_{c}"))
    one = df.agg(*aggs)
    structs = [F.struct(F.lit(c).alias("column"),
                        F.col(f"__d_{c}").alias("n_distinct"),
                        F.coalesce(F.col(f"__n_{c}"), F.lit(0)).alias("n_nulls"))
               for c in cols]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def equi_depth_histogram(df: DataFrame, col: str, buckets: int = 10) -> DataFrame:
    """Equi-depth (equal-frequency) histogram: (bucket, n_rows, lo, hi).

    Built from the distinct-value table, not a global row sort: per-value
    counts (one groupBy), a cumulative count over the ordered distinct set,
    then ``bucket = floor(preceding_rows × buckets / total)``.  All rows of
    one value land in one bucket (deterministic tie semantics, replayable in
    ANSI SQL with no interpolation — unlike quantile-boundary schemes whose
    float boundaries can differ across engines in the last ulp).

    The cumulative runs over DISTINCT values via the DISTRIBUTED
    range-partitioned scan (``ordered.ordered_prefix``) — no
    single-partition stage even for near-unique doubles; the scalar
    total is a broadcast 1-row aggregate.
    """
    from dataqtor_spark.operators.ordered import ordered_prefix

    vc = (df.filter(F.col(col).isNotNull())
          .groupBy(F.col(col).alias("__v"))
          .agg(F.count(F.lit(1)).alias("__c")))
    tot_row = vc.agg(F.sum("__c").alias("__tot"))
    cum = (ordered_prefix(vc.crossJoin(F.broadcast(tot_row)),
                          [F.col("__v")], sums={"__ci": F.col("__c")})
           .withColumn("__cb", F.col("__ci") - F.col("__c")))
    return (cum.withColumn("bucket",
                           F.floor(F.col("__cb") * buckets / F.col("__tot"))
                           .cast("long"))
            .groupBy("bucket")
            .agg(F.sum("__c").alias("n_rows"),
                 F.min("__v").alias("lo"), F.max("__v").alias("hi")))


def ks_drift(df: DataFrame, col: str, group_col: str,
             group_a, group_b) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the ``col``
    distributions of two groups: ``max |ECDF_a(v) − ECDF_b(v)|`` — the
    distribution-drift check that PSI (pr07) approximates with bins, done
    exactly.

    Built like the rank/histogram family: per-distinct-value counts for
    both groups in one groupBy, then BOTH cumulative sums in one
    distributed range-partitioned scan (``ordered.ordered_prefix`` —
    no single-partition stage over the distinct set) and one max; the
    two group totals are a broadcast 1-row aggregate.  No sort of row
    data, no driver loop.
    """
    from dataqtor_spark.operators.ordered import ordered_prefix

    v = (df.filter(F.col(group_col).isin([group_a, group_b])
                   & F.col(col).isNotNull())
         .select(F.col(col).alias("__v"),
                 (F.col(group_col) == group_a).cast("long").alias("__a"),
                 (F.col(group_col) == group_b).cast("long").alias("__b")))
    vc = v.groupBy("__v").agg(F.sum("__a").alias("__ca"),
                              F.sum("__b").alias("__cb"))
    tot_row = vc.agg(F.sum("__ca").alias("__na"),
                     F.sum("__cb").alias("__nb"))
    cum = ordered_prefix(vc.crossJoin(F.broadcast(tot_row)),
                         [F.col("__v")],
                         sums={"__sa": F.col("__ca"),
                               "__sb": F.col("__cb")})
    return cum.agg(
        F.first("__na").alias("n_a"), F.first("__nb").alias("n_b"),
        F.round(F.max(F.abs(F.col("__sa") / F.col("__na")
                            - F.col("__sb") / F.col("__nb"))), 6)
        .alias("ks"))


def functional_dependency(df: DataFrame, deps: list[tuple[str, str]]) -> DataFrame:
    """Approximate-FD discovery: for each (determinant → dependent) pair,
    how close the data comes to satisfying the functional dependency.

    Per pair: group by (determinant, dependent) to get co-occurrence
    counts, then per determinant count the distinct dependent values and
    the majority-value row count.  ``fd_strength_pct`` is the g3-style
    measure from the FD-discovery literature (TANE): the share of rows
    kept after repairing each group to its majority value — 100.0 means
    the FD holds exactly.

    Both aggregation levels are map-side combinable; the shuffle is
    bounded by distinct (determinant, dependent) pairs and the per-pair
    result is one row, so testing many dependencies stays cheap.
    """
    outs = []
    for lhs, rhs in deps:
        pairs = (df.filter(F.col(lhs).isNotNull())
                 .groupBy(lhs, rhs)
                 .agg(F.count(F.lit(1)).alias("__n")))
        per_lhs = (pairs.groupBy(lhs)
                   .agg(F.sum("__n").alias("__rows"),
                        F.max("__n").alias("__maj"),
                        F.count(F.lit(1)).alias("__nvals")))
        outs.append(per_lhs.agg(
            F.lit(lhs).alias("determinant"),
            F.lit(rhs).alias("dependent"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum((F.col("__nvals") > 1).cast("long")).cast("long")
            .alias("violating_groups"),
            F.round(F.sum("__maj") * 100.0 / F.sum("__rows"), 4)
            .alias("fd_strength_pct")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def uniqueness_profile(df: DataFrame, cols: list[str],
                       pairs: list[tuple[str, str]] | None = None) -> DataFrame:
    """Candidate-key discovery: per column (and optional column pair),
    exact distinct count, null count, and whether it uniquely keys the
    table (distinct == rows and no nulls).

    Pair candidates are evaluated on a ``concat_ws`` composite with a
    unit-separator delimiter (both engines skip NULL args in concat_ws, so
    the composite is engine-portable).  All counts come from ONE aggregate
    pass over the table; Catalyst expands the distinct aggregates into a
    single multi-distinct plan rather than N scans.
    """
    n = F.count(F.lit(1))
    aggs = [n.alias("__rows")]
    names: list[tuple[str, str]] = []
    for c in cols:
        aggs += [F.countDistinct(c).alias(f"__d_{c}"),
                 F.sum(F.col(c).isNull().cast("long")).alias(f"__z_{c}")]
        names.append((c, c))
    for a, b in (pairs or []):
        comp = F.concat_ws("\x1f", F.col(a).cast("string"),
                           F.col(b).cast("string"))
        aggs += [F.countDistinct(comp).alias(f"__d_{a}+{b}"),
                 F.sum((F.col(a).isNull() & F.col(b).isNull()).cast("long"))
                 .alias(f"__z_{a}+{b}")]
        names.append((f"{a}+{b}", f"{a}+{b}"))
    one = df.agg(*aggs)
    structs = [F.struct(
        F.lit(key).alias("column_set"),
        F.col(f"__d_{key}").cast("long").alias("n_distinct"),
        F.col(f"__z_{key}").cast("long").alias("n_nulls"),
        ((F.col(f"__d_{key}") == F.col("__rows"))
         & (F.col(f"__z_{key}") == 0)).alias("is_unique_key"),
        F.round(F.col(f"__d_{key}") * 100.0 / F.col("__rows"), 4)
        .alias("distinct_pct")) for key, _ in names]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def benford_profile(df: DataFrame, col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the classic
    fabricated-numbers screen for financial/metric columns.

    Only rows with |value| ≥ 1 participate, and the digit is taken from
    the *integer part* via an exact bigint→string path (float→string
    formatting differs between engines; integer casting doesn't, so the
    same rows produce the same digit in any SQL engine).  One groupBy on a
    9-value key; expected share is log10(1 + 1/d).
    """
    from pyspark.sql.window import Window

    v = F.abs(F.col(col))
    digit = F.substring(F.floor(v).cast("long").cast("string"), 1, 1).cast("int")
    counts = (df.filter(F.col(col).isNotNull() & (v >= 1))
              .groupBy(digit.alias("digit"))
              .agg(F.count(F.lit(1)).alias("n")))
    tot = Window.partitionBy()
    exp_pct = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return counts.select(
        "digit", F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("observed"),
        F.round(exp_pct, 6).alias("expected"),
        F.round(F.abs(F.col("n") / F.sum("n").over(tot) - exp_pct), 6)
        .alias("abs_dev"))


def key_skew_profile(df: DataFrame, key: str) -> DataFrame:
    """Join/partition-key skew diagnosis: per-key count distribution
    summarized as max, top-1 share, and the Gini coefficient of the
    counts — the "will this key skew my shuffle" pre-flight check.

    The row data shuffles once (map-side-combinable groupBy on the key);
    Gini needs the counts *ranked*, which is a DISTRIBUTED global row
    number (``ordered.ordered_prefix`` range-partitioned scan) — no
    single-partition stage even over billions of distinct keys.  Gini
    uses the exact integer identity G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n
    over ascending counts, so everything stays in bigint until the
    final division.
    """
    from dataqtor_spark.operators.ordered import ordered_prefix

    counts = (df.filter(F.col(key).isNotNull())
              .groupBy(key).agg(F.count(F.lit(1)).alias("__n")))
    ranked = (ordered_prefix(counts, [F.col("__n"), F.col(key)],
                             out_rn="__i")
              .select("__n", "__i"))
    return ranked.agg(
        F.lit(key).alias("key"),
        F.sum("__n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("__n").cast("long").alias("max_per_key"),
        F.round(F.sum("__n") / F.count(F.lit(1)), 4).alias("avg_per_key"),
        F.round(F.max("__n") / F.sum("__n"), 6).alias("top1_share"),
        F.round(2.0 * F.sum((F.col("__i").cast("decimal(19,0)")
                             * F.col("__n").cast("decimal(19,0)"))
                            .cast("decimal(38,0)")).cast("double")
                / (F.count(F.lit(1)).cast("decimal(19,0)")
                   * F.sum("__n").cast("decimal(19,0)")).cast("double")
                - (F.count(F.lit(1)) + 1) / F.count(F.lit(1)), 6)
        .alias("gini"))


def mad_outliers(df: DataFrame, col: str, z: float = 3.5) -> DataFrame:
    """Robust outlier summary via the median absolute deviation (the
    Iglewicz–Hoaglin modified z-score): |0.6745·(x − median)| > z·MAD.

    Unlike the IQR/z-score screens, MAD survives up to 50% contamination.
    Three aggregate passes (median → MAD → counts), each a full-width
    partial aggregate; the two scalar stages ride broadcast joins so no
    row data ever moves for them.  The outlier test is written
    multiplication-only (``|x−med|·0.6745 > z·MAD``) so per-row float
    behaviour is engine-portable.  Exact ``percentile`` here; at 100 TB
    swap to ``percentile_approx`` (same plan shape, sketch state).
    """
    x = F.col(col)
    med = (df.filter(x.isNotNull())
           .agg(F.expr(f"percentile({col}, 0.5)").alias("__med")))
    dev = (df.filter(x.isNotNull()).crossJoin(F.broadcast(med))
           .select(x.alias("__x"), F.col("__med"),
                   F.abs(x - F.col("__med")).alias("__ad")))
    mad = dev.groupBy("__med").agg(
        F.expr("percentile(__ad, 0.5)").alias("__mad"))
    scored = dev.select("__x").crossJoin(F.broadcast(mad))
    out = (F.abs(F.col("__x") - F.col("__med")) * 0.6745
           > F.lit(z) * F.col("__mad"))
    return scored.agg(
        F.lit(col).alias("column"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.first("__med"), 4).alias("median"),
        F.round(F.first("__mad"), 4).alias("mad"),
        F.sum(out.cast("long")).cast("long").alias("n_outliers"),
        F.round(F.sum(out.cast("long")) * 100.0 / F.count(F.lit(1)), 4)
        .alias("outlier_pct"))


# ---------------------------------------------------------------------------
# mergeable HLL sketches: incremental / cross-partition cardinality
# ---------------------------------------------------------------------------

def hll_sketches(df: DataFrame, group_cols: list[str], val_col: str,
                 lgk: int = HLL_LGK) -> DataFrame:
    """Per-group Datasketches-HLL partial state for ``val_col``
    (``(group_cols..., sketch binary)``).

    This is the incremental form of cardinality profiling: persist one
    sketch per day/partition/source, and any rollup (total users this
    month, distinct across N tables) is a register-wise max-merge of the
    stored sketches — no rescan of history.  Union of per-slice sketches
    is EXACTLY the sketch of the union (not an approximation of it), so
    rollups are consistent at every granularity; only the final estimate
    carries the ~1/sqrt(2^lgk) relative error.
    """
    return (df.groupBy(*group_cols)
            .agg(F.hll_sketch_agg(F.col(val_col), F.lit(lgk))
                 .alias("sketch")))


def hll_rollup_estimate(sketches: DataFrame,
                        group_cols: list[str] | None = None) -> DataFrame:
    """Merge stored sketches (optionally regrouped coarser) and estimate
    distinct counts: ``(group_cols..., approx_distinct)``."""
    g = sketches.groupBy(*group_cols) if group_cols else sketches.groupBy()
    return g.agg(F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch")))
                 .alias("approx_distinct"))


def entropy_mi(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Shannon entropies H(A), H(B) and mutual information I(A;B) of two
    categorical columns (nats) — the association measure that, unlike
    Cramér's V, directly reads as "bits of A predictable from B".

    One groupBy builds the r×c joint table; marginals and totals are tiny
    re-aggregations of it (never a rescan), and every probability term is
    a broadcast join back onto the joint — so the heavy path is a single
    map-side-combinable count like cramers_v."""
    j = (df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
         .groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
         .agg(F.count(F.lit(1)).cast("double").alias("n")))
    return _entropy_mi_from_joint(j)


def _entropy_mi_from_joint(j: DataFrame) -> DataFrame:
    """Entropy/MI math over a prepared joint table ``(a, b, n)`` — split
    out so a multi-pair matrix (pr26) can derive every pair's joint from
    ONE contingency-cube pass instead of re-scanning the source per
    pair; the counts are identical integers, so the rounded doubles
    cannot differ from the single-pair path."""
    tot = j.agg(F.sum("n").alias("t"))
    pa = j.groupBy("a").agg(F.sum("n").alias("na"))
    pb = j.groupBy("b").agg(F.sum("n").alias("nb"))
    full = (j.join(F.broadcast(pa), "a").join(F.broadcast(pb), "b")
            .crossJoin(F.broadcast(tot)))
    pxy = F.col("n") / F.col("t")
    mi_term = pxy * F.log(pxy / ((F.col("na") / F.col("t"))
                                 * (F.col("nb") / F.col("t"))))
    ha_term = (F.col("na") / F.col("t")) * F.log(F.col("na") / F.col("t"))
    hb_term = (F.col("nb") / F.col("t")) * F.log(F.col("nb") / F.col("t"))
    # marginal terms summed over the joint table are weighted by n/na
    # (resp. n/nb) so each marginal value contributes exactly once
    return full.agg(
        F.round(-F.sum(ha_term * F.col("n") / F.col("na")), 6)
        .alias("entropy_a"),
        F.round(-F.sum(hb_term * F.col("n") / F.col("nb")), 6)
        .alias("entropy_b"),
        F.round(F.sum(mi_term), 6).alias("mutual_information"))


def json_key_type_profile(df: DataFrame, json_col: str,
                          keys: list[str]) -> DataFrame:
    """Schema inference over a variant JSON string column: per key, the
    coverage (fraction of rows where the key is present) and a type
    histogram (int / float / bool / string) — the profile that tells you
    which keys are promotable to real columns and with what type.

    Classification happens on the EXTRACTED STRING form by regex (both
    engines return scalars as bare strings), never via engine ``typeof``
    whose type names differ — so the histogram replays identically.
    One scan, |keys| extractions per row, all codegen'd."""
    from dataqtor_spark.session import parallelize

    # exchange the raw JSON first: the |keys|×4 per-row extractions
    # otherwise run inside the single-task scan stage
    df = parallelize(df.select(json_col))
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, k in enumerate(keys):
        v = F.get_json_object(F.col(json_col), f"$.{k}")
        aggs += [
            F.sum(v.isNotNull().cast("long")).alias(f"__p{i}"),
            F.sum(v.rlike(r"^-?[0-9]+$").cast("long")).alias(f"__i{i}"),
            F.sum(v.rlike(r"^-?[0-9]+\.[0-9]+$").cast("long"))
            .alias(f"__f{i}"),
            F.sum(v.isin("true", "false").cast("long")).alias(f"__b{i}"),
        ]
    one = df.agg(*aggs)
    structs = []
    for i, k in enumerate(keys):
        p, ii, ff, bb = (F.col(f"__p{i}"), F.col(f"__i{i}"),
                         F.col(f"__f{i}"), F.col(f"__b{i}"))
        structs.append(F.struct(
            F.lit(k).alias("key"), p.alias("n_present"),
            F.round(p / F.col("__n"), 4).alias("coverage"),
            ii.alias("n_int"), ff.alias("n_float"), bb.alias("n_bool"),
            (p - ii - ff - bb).alias("n_string")))
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def theils_u(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Theil's uncertainty coefficient, BOTH directions: U(A|B) = I(A;B)
    / H(A) is the fraction of A's entropy explained by knowing B — the
    ASYMMETRIC dependence measure the symmetric matrix family (Cramér's
    V, NMI) can't express: a category that determines another without
    the converse (city → nation but not nation → city) shows up as
    U(B|A) ≈ 1, U(A|B) ≪ 1.

    Same single joint-count shuffle as :func:`entropy_mi`; H and I round
    to 9 dp BEFORE the ratio so both engines divide identical inputs;
    zero-entropy columns yield NULL via try_divide (a constant column
    explains nothing and nothing explains it)."""
    base = entropy_mi(df, col_a, col_b).select(
        F.round(F.col("entropy_a"), 9).alias("__ha"),
        F.round(F.col("entropy_b"), 9).alias("__hb"),
        F.round(F.col("mutual_information"), 9).alias("__mi"))
    return base.select(
        F.lit(col_a).alias("col_a"), F.lit(col_b).alias("col_b"),
        F.col("__ha").alias("entropy_a"), F.col("__hb").alias("entropy_b"),
        F.col("__mi").alias("mutual_information"),
        F.round(F.try_divide(F.col("__mi"), F.col("__ha")), 6)
        .alias("u_a_given_b"),
        F.round(F.try_divide(F.col("__mi"), F.col("__hb")), 6)
        .alias("u_b_given_a"))


# ---------------------------------------------------------------------------
# sequence-gap detection (islands & gaps) and NTILE decile profiling
# ---------------------------------------------------------------------------

def sequence_gaps(df: DataFrame, key_col: str) -> DataFrame:
    """Missing ranges in an integer key sequence: (gap_start, gap_end,
    gap_size) for every hole between consecutive present keys — the
    "did ingestion drop a batch?" completeness check.

    Dedup first (the shuffle carries only distinct keys), then
    "previous key" comes from a DISTRIBUTED global row number
    (``ordered.ordered_prefix``) self-joined on rn = rn−1 — an
    equi-join two renamed projections of one checkpointed frame, so no
    single-partition lag window even over billions of distinct keys.
    """
    from dataqtor_spark.operators.ordered import ordered_prefix

    k = df.select(F.col(key_col).cast("long").alias("k")) \
        .filter(F.col("k").isNotNull()).distinct()
    rn = ordered_prefix(k, [F.col("k")], out_rn="__rn")
    prev = rn.select((F.col("__rn") + 1).alias("__rn"),
                     F.col("k").alias("pk"))
    d = rn.join(prev, "__rn")
    return (d.filter(F.col("k") - F.col("pk") > 1)
            .select((F.col("pk") + 1).alias("gap_start"),
                    (F.col("k") - 1).alias("gap_end"),
                    (F.col("k") - F.col("pk") - 1).alias("gap_size")))


def decile_profile(df: DataFrame, value_col: str, group_col: str,
                   tiebreak_col: str, n_tiles: int = 10) -> DataFrame:
    """Per-group NTILE profile: split each group's rows into ``n_tiles``
    equal-count tiles by value (ties broken totally by ``tiebreak_col``
    so tile membership is deterministic) and aggregate each tile.

    One per-group window (parallelism = groups) + one partial-aggregated
    groupBy; the value sum accumulates in DECIMAL so tile totals are
    partition-order-independent.
    """
    from pyspark.sql.window import Window

    w = (Window.partitionBy(group_col)
         .orderBy(F.col(value_col).asc(), F.col(tiebreak_col).asc()))
    return (df.filter(F.col(value_col).isNotNull())
            .withColumn("tile", F.ntile(n_tiles).over(w))
            .groupBy(group_col, "tile")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.min(value_col).alias("min_v"),
                 F.max(value_col).alias("max_v"),
                 F.round(F.sum(F.col(value_col).cast("decimal(28,10)"))
                         , 4).cast("double").alias("total")))


# ---------------------------------------------------------------------------
# constraint suggestion (deequ-style): profile → proposed expectations
# ---------------------------------------------------------------------------

def suggest_constraints(df: DataFrame, cols: list[str] | None = None,
                        completeness_floor: float = 0.95) -> DataFrame:
    """Auto-suggest data-quality constraints from one profiling pass:
    (column, constraint, param, support) rows proposing

    - ``not_null``    — column has zero NULLs;
    - ``complete_ge`` — fill rate ≥ ``completeness_floor`` (param = the
      observed rate to re-assert);
    - ``unique``      — distinct count equals non-null count;
    - ``min_ge`` / ``max_le`` — numeric observed bounds to re-assert;
    - ``isin``        — low-cardinality (≤ 10) column's value domain size.

    The profile-to-rules loop closed: feed the output back as
    ``rules.rule_compare`` / ``rule_domain`` / uniqueness checks on the
    next batch and drift becomes a rule violation.  Everything computes
    in ONE wide aggregate (count + nulls + count_distinct + min/max per
    column — a single scan regardless of column count); suggestions are
    unioned from the one result row, so the operator costs the same as
    the flagship null profile.  Numeric bounds are emitted as exact
    stored values (no float arithmetic), so re-checking them on the same
    data can never fail spuriously.
    """
    cols = _data_cols(df, cols)
    numeric = {f.name for f in df.schema.fields
               if f.name in cols and f.dataType.typeName() in
               ("byte", "short", "integer", "long", "float", "double",
                "decimal")}
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0))
            .alias(f"__nulls_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
        ]
        if c in numeric:
            aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    one = df.agg(*aggs)
    structs = []
    for c in cols:
        n, nulls, nd = F.col("__n"), F.col(f"__nulls_{c}"), F.col(f"__nd_{c}")
        filled = n - nulls
        rate = F.round(filled / n, 4)
        mk = lambda kind, param, cond: F.when(cond, F.struct(
            F.lit(c).alias("column"), F.lit(kind).alias("constraint"),
            param.cast("double").alias("param"), rate.alias("support")))
        structs += [
            mk("not_null", F.lit(0.0), nulls == 0),
            mk("complete_ge", rate,
               (nulls > 0) & (rate >= F.lit(completeness_floor))),
            mk("unique", F.lit(0.0), (filled > 0) & (nd == filled)),
            mk("isin", nd.cast("double"), (nd > 0) & (nd <= 10)),
        ]
        if c in numeric:
            structs += [
                mk("min_ge", F.col(f"__min_{c}"), filled > 0),
                mk("max_le", F.col(f"__max_{c}"), filled > 0),
            ]
    return (one.select(F.explode(F.array(*structs)).alias("s"))
            .filter(F.col("s").isNotNull()).select("s.*"))


def correlation_ratio(df: DataFrame, numeric_col: str,
                      cat_col: str) -> DataFrame:
    """Correlation ratio η² (categorical → numeric effect size):
    between-group sum of squares over total sum of squares of
    ``numeric_col`` across ``cat_col`` groups.

    One per-group aggregate (count + DECIMAL-exact sum/sum-of-squares per
    category) and one reduce of that tiny table — the numeric column is
    scanned once.  Using Σx² − (Σx)²/n keeps everything in exact DECIMAL
    until the final division, so the statistic hash-matches across
    engines despite being a ratio of floats.
    """
    d = lambda c: c.cast("decimal(28,6)")
    g = (df.filter(F.col(numeric_col).isNotNull()
                   & F.col(cat_col).isNotNull())
         .groupBy(cat_col)
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(d(F.col(numeric_col))).alias("s"),
              F.sum(F.round(F.col(numeric_col).cast("double")
                            * F.col(numeric_col), 6).cast("decimal(28,6)"))
              .alias("ss")))
    # per-group between-group terms go to double (deterministic: one
    # division of exact inputs), are rounded, and re-sum in DECIMAL —
    # group-order independence without cross-engine decimal-width rules
    bg_term = F.round(F.pow(F.col("s").cast("double"), 2) / F.col("n"), 6)
    tot = g.agg(F.sum("n").alias("N"),
                F.sum("s").cast("double").alias("S"),
                F.sum("ss").cast("double").alias("SS"),
                F.sum(bg_term.cast("decimal(28,6)")).cast("double")
                .alias("BG"))
    cm = F.pow(F.col("S"), 2) / F.col("N")
    return tot.select(
        F.col("N").cast("long").alias("n_rows"),
        F.round((F.col("BG") - cm) / (F.col("SS") - cm), 6)
        .alias("eta_squared"))


def chi_squared_stat(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Pearson χ² independence statistic for two categorical columns
    (statistic + degrees of freedom; the p-value lookup is a driver-side
    table, deliberately left out to stay engine-exact).

    One contingency aggregate over (a, b); marginals derive from that
    k×m table with window sums, so the fact is scanned once and nothing
    larger than the contingency table shuffles.  Expected counts are
    exact rationals (row·col/N in DECIMAL); each cell's (O−E)²/E term is
    rounded to 8 dp and summed in DECIMAL for order-independence.
    """
    from pyspark.sql.window import Window

    ct = (df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
          .groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("o")))
    row = F.sum("o").over(Window.partitionBy(col_a))
    col = F.sum("o").over(Window.partitionBy(col_b))
    n = F.sum("o").over(Window.partitionBy())
    # expected counts in double from exact integer marginals — one
    # multiply + divide, bit-identical across engines
    cells = ct.select(
        col_a, col_b, "o",
        (row.cast("double") * col / n).alias("e"))
    term = F.round((F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
                   / F.col("e"), 8)
    return (cells.agg(
        F.round(F.sum(term.cast("decimal(28,8)")), 4).cast("double")
        .alias("chi2"),
        ((F.count_distinct(F.col(col_a)) - 1)
         * (F.count_distinct(F.col(col_b)) - 1)).cast("long").alias("dof")))


def trimmed_mean(df: DataFrame, col: str, lo: float = 0.05,
                 hi: float = 0.95) -> DataFrame:
    """Trimmed mean: average of values inside the [lo, hi] exact-quantile
    band — the robust location estimate that survives fat tails.  Two
    passes by necessity (quantile cut points, then the filtered DECIMAL
    mean); the cut points broadcast, the filter pushes to the scan, and
    the mean is DECIMAL-exact so the result is partition-order-free.  At
    100 TB swap the exact percentile for ``percentile_approx`` (same
    plan, sketch state)."""
    cuts = df.agg(
        F.expr(f"percentile({col}, {lo})").alias("__lo"),
        F.expr(f"percentile({col}, {hi})").alias("__hi"))
    n = F.count(F.lit(1))
    return (df.join(F.broadcast(cuts))
            .filter(F.col(col).between(F.col("__lo"), F.col("__hi")))
            .agg(n.cast("long").alias("n_kept"),
                 F.round((F.sum(F.col(col).cast("decimal(28,10)")) / n)
                         , 6).cast("double").alias("trimmed_mean")))


def column_modes(df: DataFrame, cols: list[str]) -> DataFrame:
    """Most frequent value per column (ties → smallest value), with its
    count and share: (column, mode_value, n, share).  One count aggregate
    per column over a union of (column, value) pairs — a single shuffle
    keyed by (column, value), then a per-column arg-max via one ordered
    struct max (no window, no second shuffle)."""
    pairs = None
    for c in cols:
        p = (df.select(F.lit(c).alias("column"),
                       F.col(c).cast("string").alias("value"))
             .filter(F.col("value").isNotNull()))
        pairs = p if pairs is None else pairs.unionByName(p)
    counts = pairs.groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("column").agg(F.sum("n").alias("__tot"))
    # arg-max with total order in ONE struct min: (-n asc ≡ n desc, then
    # value asc breaks count ties) — no window, no second shuffle of counts
    best = counts.groupBy("column").agg(
        F.min(F.struct((-F.col("n")).alias("neg_n"),
                       F.col("value").alias("v"))).alias("m"))
    return (best.select("column", F.col("m.v").alias("mode_value"),
                        (-F.col("m.neg_n")).cast("long").alias("n"))
            .join(F.broadcast(totals), "column")
            .withColumn("share", F.round(F.col("n") / F.col("__tot"), 6))
            .drop("__tot"))


def duplicate_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Column-redundancy profile: for every column pair, how often the two
    are (null-safely) equal — rate 1.0 flags a duplicated/derived column
    (the ETL artifact every wide warehouse table accumulates).

    All C(k,2) pair rates compute in ONE aggregate over one scan (values
    compared as strings so heterogeneous types pair too); the row
    explodes from a single result row, so cost is scan + k²/2 counters,
    not k² scans.  Returns (col_a, col_b, n_rows, n_equal, equal_rate).
    """
    cols = _data_cols(df, cols)
    aggs = [F.count(F.lit(1)).alias("__n")]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        eq = F.col(a).cast("string").eqNullSafe(F.col(b).cast("string"))
        aggs.append(F.sum(eq.cast("long")).alias(f"__eq_{a}_{b}"))
    one = df.agg(*aggs)
    structs = [F.struct(F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                        F.col("__n").alias("n_rows"),
                        F.col(f"__eq_{a}_{b}").alias("n_equal"),
                        F.round(F.col(f"__eq_{a}_{b}") / F.col("__n"), 6)
                        .alias("equal_rate"))
               for a, b in pairs]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def inclusion_dependency(child: DataFrame, child_col: str,
                         parent: DataFrame, parent_col: str) -> DataFrame:
    """Inclusion-dependency check (FK-candidate discovery, SPIDER-style):
    are all of ``child_col``'s values present in ``parent_col``?

    Distinct-reduce both sides FIRST (the join carries only distinct
    keys — at 100 TB that's the difference between joining two fact
    tables and joining two key sets), then one left-anti join counts the
    escapees.  Returns (n_child_distinct, n_missing, contained).
    """
    c = (child.select(F.col(child_col).alias("__k"))
         .filter(F.col("__k").isNotNull()).distinct())
    p = (parent.select(F.col(parent_col).alias("__k"))
         .filter(F.col("__k").isNotNull()).distinct())
    n_child = c.count()
    n_missing = c.join(p, "__k", "left_anti").count()
    spark = child.sparkSession
    return local_frame(
        spark, [(n_child, n_missing, n_missing == 0)],
        "n_child_distinct long, n_missing long, contained boolean")


def null_profile_partials(df: DataFrame, part_col: str,
                          cols: list[str] | None = None) -> DataFrame:
    """Per-partition null-profile partials: (partition, column, total,
    nulls).  The mergeable half of incremental profiling — profile ONLY
    newly-arrived partitions, store these partials, and fold them with
    :func:`merge_null_profiles` instead of rescanning 100 TB of history
    every run.  Counts are algebraic (sum-mergeable by construction);
    pair with the HLL sketches for distinct counts, which merge the same
    way.
    """
    cols = [c for c in _data_cols(df, cols) if c != part_col]
    aggs = [F.count(F.lit(1)).alias("__total")]
    for c in cols:
        aggs.append(F.coalesce(F.sum(F.col(c).isNull().cast("long")),
                               F.lit(0)).alias(f"__nulls_{c}"))
    one = df.groupBy(F.col(part_col).alias("partition")).agg(*aggs)
    structs = [F.struct(F.lit(c).alias("column"),
                        F.col("__total").alias("total_records"),
                        F.col(f"__nulls_{c}").alias("null_records"))
               for c in cols]
    return (one.select("partition", F.explode(F.array(*structs)).alias("s"))
            .select("partition", "s.*"))


def merge_null_profiles(partials: DataFrame) -> DataFrame:
    """Fold stored per-partition partials into the table-level null
    profile (same schema as :func:`null_profile`).  Pure aggregation over
    the tiny partials table — no data scan; this is what an incremental
    nightly profile actually executes."""
    g = (partials.groupBy("column")
         .agg(F.sum("total_records").cast("long").alias("total_records"),
              F.sum("null_records").cast("long").alias("null_records")))
    return (g.withColumn("filled_records",
                         F.col("total_records") - F.col("null_records"))
            .withColumn("null_pct",
                        F.when(F.col("total_records") > 0,
                               F.round(F.col("null_records") * 100.0
                                       / F.col("total_records"), 2))
                        .otherwise(F.lit(0.0)))
            .withColumn("filled_pct",
                        F.when(F.col("total_records") > 0,
                               F.round(F.col("filled_records") * 100.0
                                       / F.col("total_records"), 2))
                        .otherwise(F.lit(0.0)))
            .select("column", "total_records", "null_records",
                    "filled_records", "null_pct", "filled_pct"))


DATE_PATTERNS = {
    "yyyy-MM-dd": r"^\d{4}-\d{2}-\d{2}$",
    "dd/MM/yyyy": r"^\d{2}/\d{2}/\d{4}$",
    "dd.MM.yyyy": r"^\d{2}\.\d{2}\.\d{4}$",
    "ddMMyyyy": r"^\d{8}$",
    "yyyy-MM-dd HH:mm:ss": r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}",
}


def date_format_profile(df: DataFrame, col: str) -> DataFrame:
    """Date-format sniffing for a string column: how many non-null values
    match each known date pattern, plus the unmatched remainder — the
    "what format IS this column" question that precedes every strict
    parse (the reference hard-codes ddMMyyyy and silently fails
    otherwise, home.py:1893-1919; this profiler is how an engine picks
    the format instead of guessing).

    One aggregate, one regex per pattern per row, all inside codegen.
    Returns (format, n_matching, pct) with 'unmatched' as the last row.
    """
    c = F.col(col).cast("string")
    nn = c.isNotNull()
    safe = {name: f"__m_{i}" for i, name in enumerate(DATE_PATTERNS)}
    aggs = [F.sum(nn.cast("long")).alias("__n")]
    for name, pat in DATE_PATTERNS.items():
        aggs.append(F.sum((nn & c.rlike(pat)).cast("long"))
                    .alias(safe[name]))
    one = df.agg(*aggs)
    any_match = None
    for name in DATE_PATTERNS:
        t = F.col(safe[name])
        any_match = t if any_match is None else (any_match + t)
    structs = [F.struct(F.lit(name).alias("format"),
                        F.col(safe[name]).alias("n_matching"),
                        F.round(F.col(safe[name]) * 100.0 / F.col("__n"), 2)
                        .alias("pct"))
               for name in DATE_PATTERNS]
    # patterns are mutually exclusive (anchored, distinct shapes), so the
    # remainder is a subtraction, not another scan
    structs.append(F.struct(
        F.lit("unmatched").alias("format"),
        (F.col("__n") - any_match).alias("n_matching"),
        F.round((F.col("__n") - any_match) * 100.0 / F.col("__n"), 2)
        .alias("pct")))
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


SENTINEL_TOKENS = ["n/a", "na", "null", "none", "-", "?", "unknown", ""]


def sentinel_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """De-facto-null detection: per column, how many non-null values are
    sentinel tokens ('N/A', '-', 'NULL', …, case-insensitive) — the
    nulls that hide from the null profile and poison joins and
    aggregates.  Feed findings into ``repair.value_to_null`` (F8).
    One fused aggregate across all columns; same single-scan shape as
    A3."""
    aggs = []
    for c in cols:
        v = F.lower(F.trim(F.col(c).cast("string")))
        nn = F.col(c).isNotNull()
        aggs += [
            F.sum(nn.cast("long")).alias(f"__n_{c}"),
            F.sum((nn & v.isin(SENTINEL_TOKENS)).cast("long"))
            .alias(f"__s_{c}"),
        ]
    one = df.agg(*aggs)
    structs = [F.struct(
        F.lit(c).alias("column"),
        F.col(f"__n_{c}").alias("n_values"),
        F.col(f"__s_{c}").alias("n_sentinels"),
        F.round(F.col(f"__s_{c}") * 100.0 / F.col(f"__n_{c}"), 2)
        .alias("sentinel_pct")) for c in cols]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def case_profile(df: DataFrame, col: str) -> DataFrame:
    """Case-consistency profile of a string column: counts of all-upper,
    all-lower, title-case, and mixed values (letters-bearing values
    only).  The complement of the shape profiler (A11) — 'ISTANBUL' vs
    'Istanbul' vs 'istanbul' is the classic join-killer the reference
    repairs with F1/F2 (home.py:1590-1617); this measures how bad it is
    first.  One aggregate, pure string expressions."""
    c = F.col(col).cast("string")
    has_alpha = c.rlike("[A-Za-z]")
    upper = has_alpha & (c == F.upper(c))
    lower = has_alpha & (c == F.lower(c))
    title = has_alpha & (c == F.initcap(c)) & ~upper & ~lower
    mixed = has_alpha & ~upper & ~lower & ~title
    return df.agg(
        F.sum(has_alpha.cast("long")).alias("n_values"),
        F.sum(upper.cast("long")).alias("n_upper"),
        F.sum(lower.cast("long")).alias("n_lower"),
        F.sum(title.cast("long")).alias("n_title"),
        F.sum(mixed.cast("long")).alias("n_mixed"))


def observed_null_metrics(df: DataFrame, cols: list[str]):
    """Attach null-profile metrics as an OBSERVATION on the DataFrame:
    returns (observed_df, observation).  When the caller's own action
    runs (a write, a count, a downstream aggregate), the metrics arrive
    as a side effect — ZERO extra scans, the pattern for "profile while
    you ingest" at 100 TB where a dedicated profiling pass would double
    the IO bill.

    ``observation.get`` blocks until the first action completes and
    returns {total_records, nulls_<col>...}.  Works on batch; for
    streams use the same metrics via ``df.observe`` + a
    QueryProgressEvent listener.
    """
    from pyspark.sql import Observation

    obs = Observation("null_profile")
    aggs = [F.count(F.lit(1)).alias("total_records")]
    for c in cols:
        aggs.append(F.coalesce(F.sum(F.col(c).isNull().cast("long")),
                               F.lit(0)).alias(f"nulls_{c}"))
    return df.observe(obs, *aggs), obs


def sampled_null_profile(df: DataFrame, cols: list[str] | None = None,
                         fraction: float = 0.1,
                         seed: int = 42) -> DataFrame:
    """Estimated null profile from a Bernoulli sample: the same fused
    aggregate over ``fraction`` of the rows, with counts scaled back up
    and a ±2σ binomial half-width on each null percentage.

    The scan still reads every row group (Bernoulli sampling can't skip
    IO) but the aggregate state and any downstream work shrink by 1/f;
    for scan-bound profiling at 100 TB prefer partition-level sampling
    (read a subset of files) — same estimator, genuinely less IO.
    Sampling is seeded (reproducible for a fixed partitioning) and
    estimates are clearly labeled — this never masquerades as the exact
    profile.
    """
    cols = _data_cols(df, cols)
    s = df.sample(fraction=fraction, seed=seed)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.coalesce(F.sum(F.col(c).isNull().cast("long")),
                               F.lit(0)).alias(f"__nulls_{c}"))
    one = s.agg(*aggs)
    structs = []
    for c in cols:
        p = F.col(f"__nulls_{c}") / F.col("__n")
        half = 2.0 * F.sqrt(p * (1 - p) / F.col("__n")) * 100.0
        structs.append(F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("sampled_records"),
            F.round(F.col("__n") / F.lit(fraction)).cast("long")
            .alias("est_total_records"),
            F.round(p * 100.0, 2).alias("est_null_pct"),
            F.round(half, 2).alias("pct_half_width_2sigma")))
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def k_anonymity(df: DataFrame, quasi_identifiers: list[str],
                sensitive_col: str, k: int = 5) -> DataFrame:
    """Privacy risk profile: k-anonymity and l-diversity of a table under
    the given quasi-identifier columns.

    Returns one row: the minimum equivalence-class size (the table's k),
    how many rows sit in classes smaller than ``k`` (re-identifiable
    under the threshold), and the minimum number of distinct sensitive
    values per class (the table's l — classes with l=1 leak the
    sensitive attribute outright).  One groupBy on the QI tuple + one
    reduce of the class table; rows with NULL in any QI are excluded
    (they form no linkable class).
    """
    nn = None
    for c in quasi_identifiers:
        x = F.col(c).isNotNull()
        nn = x if nn is None else (nn & x)
    classes = (df.filter(nn)
               .groupBy(*quasi_identifiers)
               .agg(F.count(F.lit(1)).alias("n"),
                    F.count_distinct(F.col(sensitive_col)).alias("l")))
    return classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("n").cast("long").alias("k_anonymity"),
        F.sum(F.when(F.col("n") < k, F.col("n")).otherwise(0))
        .cast("long").alias("n_rows_below_k"),
        F.min("l").cast("long").alias("l_diversity"))


def group_trend(df: DataFrame, value_col: str, time_col: str,
                group_col: str, origin: str = "1995-01-01") -> DataFrame:
    """Per-group linear trend of ``value_col`` over time: (group, slope,
    intercept, r2, n) via the built-in ``regr_*`` aggregates — the drift
    DIRECTION screen (is this segment's metric rising, and how tightly?).

    One map-side-combinable aggregate; x is days since a FIXED origin
    (not the epoch) so the regression arithmetic runs on small centered
    magnitudes — the cross-engine float agreement the differential
    oracle needs.  Slope is per-day in value units.
    """
    x = (F.unix_date(F.col(time_col).cast("date"))
         - F.unix_date(F.lit(origin).cast("date"))).cast("double")
    y = F.col(value_col).cast("double")
    return (df.filter(F.col(time_col).isNotNull()
                      & F.col(value_col).isNotNull())
            .groupBy(F.col(group_col).alias("group"))
            .agg(F.round(F.regr_slope(y, x), 4).alias("slope"),
                 F.round(F.regr_intercept(y, x), 4).alias("intercept"),
                 F.round(F.regr_r2(y, x), 4).alias("r2"),
                 F.regr_count(y, x).cast("long").alias("n")))


def mahalanobis_profile(df: DataFrame, col_x: str, col_y: str,
                        threshold: float = 13.816) -> DataFrame:
    """Bivariate Mahalanobis outlier screen: one row (n, n_outliers,
    pct_outliers, max_dist2) flagging rows whose squared Mahalanobis
    distance from the (μ, Σ) of the pair exceeds ``threshold`` (default
    13.816 = χ²₂ at 0.999 — under normality ~0.1% false-positive rate).
    Catches the joint outliers the per-column IQR/MAD/z screens miss
    (each coordinate unremarkable, the COMBINATION wildly off-model).

    Pure column expressions end to end: the 2×2 covariance inverse has a
    closed form, so pass one computes the five moments
    (map-side-combinable agg, broadcast back as one row) and pass two
    evaluates dist² per row in-expression — no driver-side linear
    algebra, no collect, and the SQL oracle replays the identical
    formula.  Degenerate covariance (|Σ| = 0: constant or perfectly
    collinear columns) yields zero outliers by definition.
    """
    x = F.col(col_x).cast("double")
    y = F.col(col_y).cast("double")
    pair = df.filter(x.isNotNull() & y.isNotNull())
    m = pair.agg(F.avg(x).alias("__mx"), F.avg(y).alias("__my"),
                 F.var_pop(x).alias("__vx"), F.var_pop(y).alias("__vy"),
                 F.covar_pop(x, y).alias("__cxy"))
    det = F.col("__vx") * F.col("__vy") - F.col("__cxy") * F.col("__cxy")
    dx = x - F.col("__mx")
    dy = y - F.col("__my")
    # (dx dy) Σ⁻¹ (dx dy)ᵀ with Σ⁻¹ = [[vy, -cxy], [-cxy, vx]] / det.
    # The degeneracy guard is RELATIVE (det > ε·vx·vy, scale-invariant):
    # an exactly-collinear pair's float det can land at a tiny positive
    # value on one engine and ≤ 0 on another — an absolute >0 test would
    # diverge across engines and blow dist² to ~1/ε garbage.
    nondegen = det > 1e-9 * F.col("__vx") * F.col("__vy")
    d2 = (F.col("__vy") * dx * dx - 2 * F.col("__cxy") * dx * dy
          + F.col("__vx") * dy * dy) / F.when(nondegen, det).otherwise(1.0)
    d2 = F.when(nondegen, d2).otherwise(F.lit(0.0))
    return (pair.crossJoin(F.broadcast(m))
            .select(d2.alias("__d2"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum((F.col("__d2") > threshold).cast("long"))
                 .alias("n_outliers"),
                 F.round(F.sum((F.col("__d2") > threshold).cast("long"))
                         * 100.0 / F.count(F.lit(1)), 4)
                 .alias("pct_outliers"),
                 F.round(F.max("__d2"), 4).alias("max_dist2")))


def null_correlation(df: DataFrame, cols: list[str]) -> DataFrame:
    """missingno-style nullity correlation: pairwise Pearson corr of the
    is-null indicators — "when this column is missing, is that one
    missing too?" (co-missingness exposes upstream join/ingest bugs the
    per-column null counts can't).  One aggregate over k(k−1)/2 corr
    expressions, all map-side combinable; a column that is never/always
    null has zero indicator variance, so its correlations surface as
    NULL rather than a fabricated 0 (``try_divide`` — ANSI ``corr``
    would throw DIVIDE_BY_ZERO on the degenerate pair)."""
    pairs = [(i, j) for i in range(len(cols))
             for j in range(i + 1, len(cols))]
    if not pairs:
        return local_frame(
            df.sparkSession, [], "col_a string, col_b string, null_corr double")
    inds = {c: F.col(c).isNull().cast("double") for c in cols}
    aggs = []
    for i, j in pairs:  # positional aliases: column NAMES may contain
        # '__' and would collide in a name-derived key
        pearson = F.try_divide(
            F.covar_pop(inds[cols[i]], inds[cols[j]]),
            F.stddev_pop(inds[cols[i]]) * F.stddev_pop(inds[cols[j]]))
        aggs.append(F.round(pearson, 4).alias(f"__nc_{i}_{j}"))
    one = df.agg(*aggs)
    structs = [F.struct(F.lit(cols[i]).alias("col_a"),
                        F.lit(cols[j]).alias("col_b"),
                        F.col(f"__nc_{i}_{j}").alias("null_corr"))
               for i, j in pairs]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def psi_drift_report(base: DataFrame, curr: DataFrame, col: str,
                     bins: int = 10) -> DataFrame:
    """Per-bin Population Stability Index report between two populations
    of a 2-dp
    numeric column (prices, balances) — the standard model-monitoring
    drift metric: ``PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)`` over
    ``bins`` equi-width bins spanning the UNION's [min, max], with +1
    smoothing so empty bins stay defined (p_i = (n_i+1)/(N+bins)).

    Exactness: values bin as integer CENTS (DECIMAL(18,2)·100 — exact for
    2-dp data), bin = (c − lo)·bins div (hi − lo + 1) in integer
    arithmetic, and each bin's contribution is emitted as the scaled
    integer ``contrib_e9 = round((p−q)·lr, 9)·10⁹`` where the only float
    is the 9-dp-rounded ``ln`` of a ratio of exact integers (the dsir
    device) — p−q rides the exact rational c_i/D.  ``psi_e9`` is the
    integer sum of the per-bin contributions.

    Scale shape: equi-width binning is inherently two passes (one min/max
    aggregate riding a broadcast scalar, one binning groupBy whose key
    space is ``bins``); every frame after the groupBys is ≤ ``bins`` rows.
    Precision note: the decimal(38,0) intermediates saturate around
    N·M ≈ 10²⁸ — fine to ~10¹³ rows a side.
    """
    from dataqtor_spark.functions import exact as XR

    B = int(bins)
    cents = (F.col(col).cast("decimal(18,2)") * 100).cast("decimal(38,0)")
    b = base.select(cents.alias("__c"))
    c = curr.select(cents.alias("__c"))
    mm = b.unionByName(c).agg(F.min("__c").alias("__lo"),
                              F.max("__c").alias("__hi"))

    def binned(df: DataFrame, out: str) -> DataFrame:
        return (df.crossJoin(F.broadcast(mm))
                .select(F.call_function(
                    "div", (F.col("__c") - F.col("__lo")) * F.lit(B),
                    F.col("__hi") - F.col("__lo") + 1).alias("bin"))
                .groupBy("bin").agg(F.count(F.lit(1)).alias(out)))

    grid = base.sparkSession.range(B).select(F.col("id").alias("bin"))
    j = (grid.join(binned(b, "n_base"), "bin", "left")
         .join(binned(c, "n_curr"), "bin", "left")
         .select("bin",
                 F.coalesce("n_base", F.lit(0)).alias("n_base"),
                 F.coalesce("n_curr", F.lit(0)).alias("n_curr")))
    tot = j.agg(F.sum("n_base").alias("__N"), F.sum("n_curr").alias("__M"))
    out = j.crossJoin(F.broadcast(tot))
    dec = lambda x: x.cast("decimal(38,0)")  # noqa: E731
    pnum = dec(F.col("n_base") + 1)
    qnum = dec(F.col("n_curr") + 1)
    pden = dec(F.col("__N") + B)
    qden = dec(F.col("__M") + B)
    lr = F.round(F.log((pnum * qden).cast("double")
                       / (qnum * pden).cast("double")), 9)
    lr9 = (lr.cast("decimal(29,9)") * F.lit(10 ** 9)).cast("decimal(38,0)")
    ci = pnum * qden - qnum * pden
    contrib = XR.round_ratio_int(
        ci * lr9, pden * qden * F.lit(10 ** 9).cast("decimal(38,0)"), 9)
    from pyspark.sql.window import Window

    w = Window.partitionBy()  # bounded: exactly `bins` rows
    return (out.select("bin",
                       F.col("n_base").cast("long").alias("n_base"),
                       F.col("n_curr").cast("long").alias("n_curr"),
                       contrib.cast("long").alias("contrib_e9"))
            .withColumn("psi_e9", F.sum("contrib_e9").over(w).cast("long")))
