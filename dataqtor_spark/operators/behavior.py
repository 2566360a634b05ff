"""Behavioral analytics over event streams: funnels, cohort retention,
transition matrices.

The reference has no event-analytics surface (it profiles static tables);
these are the standard product-analytics operators a DQ/analytics engine
runs over the same `events` fact table, built shuffle-minimal:

- every operator aggregates to a per-user (or per-distinct-value) table
  FIRST, so the heavy input shuffles once on `user_id` and everything
  downstream is small;
- funnel stage joins are per-user aggregates joined on the user key — at
  100 TB these are sort-merge joins on an already-clustered key, and the
  stage tables only shrink as the funnel deepens;
- no `Window.orderBy` over row data — per-user ordering happens inside a
  `user_id`-partitioned window (parallel across users), and global stats
  only ever run on aggregate tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def funnel(df: DataFrame, steps: list[str],
           user_col: str = "user_id", ts_col: str = "ts",
           type_col: str = "event_type") -> DataFrame:
    """Ordered-funnel conversion: how many users completed step 1, then
    step 2 *after* their step 1, then step 3 after that, ...

    Per-step semantics: a user counts for step k+1 if they have an event of
    that type strictly after their earliest qualifying time for step k
    (classic "first-touch" funnel).  Each stage is

        events(step_k+1) ⋈ stage_k(user, t_k)  →  groupBy(user) min(ts)

    so stage tables are one row per surviving user and strictly shrink.
    Returns (step_idx, step, n_users, pct_of_first) ordered by step_idx.
    """
    stage = (df.filter(F.col(type_col) == steps[0])
             .groupBy(F.col(user_col).alias("__u"))
             .agg(F.min(ts_col).alias("__t")))
    counts = [stage.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(0).alias("step_idx"), F.lit(steps[0]).alias("step"), "n")]
    for i, s in enumerate(steps[1:], start=1):
        ev = df.filter(F.col(type_col) == s).select(
            F.col(user_col).alias("__u"), F.col(ts_col).alias("__ts"))
        stage = (ev.join(stage, "__u")
                 .filter(F.col("__ts") > F.col("__t"))
                 .groupBy("__u").agg(F.min("__ts").alias("__t")))
        counts.append(stage.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(i).alias("step_idx"), F.lit(s).alias("step"), "n"))
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    w = Window.partitionBy()
    return (out.withColumn(
        "pct_of_first",
        F.round(F.col("n") * 100.0 / F.max(F.when(F.col("step_idx") == 0,
                                                  F.col("n"))).over(w), 4))
        .select("step_idx", "step", F.col("n").cast("long").alias("n_users"),
                "pct_of_first"))


def cohort_retention(df: DataFrame, user_col: str = "user_id",
                     ts_col: str = "ts") -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week; for
    each cohort × week-offset, how many distinct users were active.

    The only full shuffle is the per-user first-event aggregate; the
    activity join is (events ⋈ first_seen) on the user key, then a
    distinct over (cohort_day, offset, user) — all downstream tables are
    bounded by users × weeks.  Offsets are day-difference based
    (``days_between div 7``), so cohort boundaries don't depend on
    engine-specific week-start conventions.
    """
    first = (df.groupBy(F.col(user_col).alias("__u"))
             .agg(F.min(ts_col).alias("__first")))
    joined = df.select(F.col(user_col).alias("__u"), F.col(ts_col).alias("__ts"))\
               .join(first, "__u")
    return (joined
            .select(F.date_trunc("week", F.col("__first")).alias("cohort_week"),
                    (F.datediff(F.to_date("__ts"), F.to_date("__first")) / 7)
                    .cast("long").alias("week_offset"),
                    F.col("__u"))
            .distinct()
            .groupBy("cohort_week", "week_offset")
            .agg(F.count(F.lit(1)).alias("n_users")))


def event_transitions(df: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts", type_col: str = "event_type",
                      tiebreak_col: str = "event_id") -> DataFrame:
    """Per-user adjacent-event transition matrix (first-order Markov
    counts): for each (event_type → next event_type), the transition count
    and its share of all transitions out of the source type.

    ``lead`` runs inside a ``user_id``-partitioned window — parallel
    across users, no global sort.  The tie-break column makes same-
    timestamp ordering deterministic (and oracle-reproducible).  The share
    window runs on the k×k transition table, not row data.
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col),
                                             F.col(tiebreak_col))
    nxt = (df.select(F.col(user_col), F.col(type_col).alias("src"),
                     F.lead(type_col).over(w).alias("dst"))
           .filter(F.col("dst").isNotNull()))
    counts = nxt.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    src_tot = Window.partitionBy("src")
    return counts.select(
        "src", "dst", F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.sum("n").over(src_tot), 6).alias("share"))


_BUCKET_US = {"hour": 3_600_000_000, "day": 86_400_000_000,
              "minute": 60_000_000, "week": 7 * 86_400_000_000}


def _bucketed_series(df: DataFrame, ts_col: str, bucket: str,
                     aggs: dict):
    """The shared series builder every time-axis screen uses: collapse
    raw events through ONE map-side-combinable groupBy to a row per
    bucket, then ZERO-FILL the missing buckets over the dense
    min..max grid — a silent hour is a 0-rate data point, not an absent
    row, or outage/seasonality math silently runs on "observed buckets
    back" instead of time (the grid is generated in-row from the
    broadcast min/max span, still ≤ time-span/bucket rows).  Returns
    (bucket, *agg) with every agg coalesced to 0 on filled gaps.

    Because the grid is DENSE and REGULAR (one row every
    ``_BUCKET_US[bucket]`` µs, no holes), "k rows back" ≡ "k buckets of
    wall time back" — downstream screens exploit this to turn ordering
    windows into equi-joins on shifted timestamps (autocorrelation,
    cross-correlation) or in-row index arithmetic (CUSUM), so NO screen
    funnels the series through a single-partition WindowExec."""
    per_us = _BUCKET_US
    if bucket not in per_us:
        raise ValueError(f"unsupported bucket {bucket!r}")
    # Truncate with pure integer µs arithmetic, NOT date_trunc: date_trunc
    # follows the session timezone, and under a DST zone day/week buckets
    # are 23/25-hour wide around transitions — off the regular
    # _BUCKET_US grid, so those rows would be silently dropped by the
    # grid left-join below.  pmod on unix_micros is timezone-independent
    # and exact (no double rounding), identical to date_trunc under the
    # repo's pinned UTC sessions; buckets are UTC-aligned regardless of
    # session zone.  Week buckets start Monday (epoch 1970-01-01 is a
    # Thursday, hence the 3-day shift), matching date_trunc('week').
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    if bucket == "week":
        off = F.lit(3 * 86_400_000_000)
        b = F.timestamp_micros(
            (us + off) - F.pmod(us + off, F.lit(per_us[bucket])) - off)
    else:
        b = F.timestamp_micros(us - F.pmod(us, F.lit(per_us[bucket])))
    series = (df.filter(F.col(ts_col).isNotNull())
              .groupBy(b.alias("__b"))
              .agg(*[expr.alias(name) for name, expr in aggs.items()]))
    span = series.agg(F.min("__b").alias("__lo"), F.max("__b").alias("__hi"))
    grid = (span.select(F.explode(F.sequence(
        F.unix_micros(F.col("__lo")),
        F.unix_micros(F.col("__hi")),
        F.lit(per_us[bucket]))).alias("__us"))
        .select(F.timestamp_micros(F.col("__us")).alias("__b")))
    return (grid.join(series, "__b", "left")
            .select("__b", *[F.coalesce(F.col(n), F.lit(0.0)).alias(n)
                             for n in aggs]))


def autocorrelation(df: DataFrame, ts_col: str = "ts",
                    lags: tuple[int, ...] = (1, 2, 24),
                    bucket: str = "hour",
                    value_col: str | None = None) -> DataFrame:
    """Lag-k autocorrelation of a time-bucketed series: (lag, autocorr,
    n_pairs) — the seasonality/burstiness screen (a strong lag-24 on an
    hourly series = daily cycle; near-zero everywhere = arrival noise).

    ``value_col=None`` correlates bucket COUNTS (event-rate seasonality);
    otherwise bucket sums of the value.  Scale design: the grid from
    :func:`_bucketed_series` is dense and regular, so lag-k "k rows
    back" is exactly "value at __b − k·bucket_width" — each lag becomes
    an EQUI-JOIN of the series with a timestamp-shifted copy of itself
    (one explode carries all lags through a single partition-parallel
    join), and NO single-partition ordering window exists anywhere in
    the plan.  A minute-grain multi-year series (≈10⁶ rows) spreads over
    the cluster instead of funneling through one task.  n_pairs counts
    the pairs the correlation actually used (both buckets on the grid).
    """
    width = _BUCKET_US[bucket]
    v = (F.count(F.lit(1)).cast("double") if value_col is None
         else F.sum(F.col(value_col).cast("double")))
    series = _bucketed_series(df, ts_col, bucket, {"__v": v})
    shifted = (series.select(
        F.col("__v").alias("__l"),
        F.explode(F.array(*[F.lit(int(k)) for k in lags])).alias("lag"),
        F.col("__b"))
        .select("lag", "__l",
                F.timestamp_micros(F.unix_micros(F.col("__b"))
                                   + F.col("lag").cast("long")
                                   * F.lit(width).cast("long"))
                .alias("__tb")))
    pairs = series.join(shifted, series["__b"] == shifted["__tb"])
    got = (pairs.groupBy("lag")
           .agg(F.round(F.corr("__v", "__l"), 4).alias("autocorr"),
                F.count(F.lit(1)).cast("long").alias("n_pairs")))
    # a lag longer than the grid has zero join rows but must still emit
    # its (lag, null, 0) row — right-join onto the literal lag list
    lag_dim = (df.sparkSession.range(1)
               .select(F.explode(F.array(*[F.lit(int(k)) for k in lags]))
                       .alias("lag")))
    return (lag_dim.join(F.broadcast(got), "lag", "left")
            .select("lag", "autocorr",
                    F.coalesce("n_pairs", F.lit(0)).cast("long")
                    .alias("n_pairs")))


def cusum_changepoint(df: DataFrame, ts_col: str = "ts",
                      bucket: str = "hour",
                      value_col: str | None = None) -> DataFrame:
    """CUSUM level-shift screen over the time-bucketed series: one row
    (changepoint_ts, max_abs_cusum, mean_before, mean_after, n_buckets).
    The bucket where |running Σ(v − mean)| peaks is the classic
    changepoint estimate; a large peak relative to the series scale means
    the level shifted there (pipeline regressions, source outages).

    Same scale contract as :func:`autocorrelation` via
    :func:`_bucketed_series`: the ZERO-FILLED bounded time grid — a full
    outage is a run of 0-count buckets the running sum actually sees,
    not a hole in the series.  Ties on |CUSUM| break on the earlier
    bucket, so the answer is deterministic.

    Every running statistic derives from ONE prefix sum of __v, computed
    segmented (:func:`_segmented_prefix_sum`) — the bucket index is
    in-row arithmetic on the regular grid, so no single-partition
    WindowExec exists in the plan:
        cusum   = prefix_v − idx·mean
        mean_before = prefix_v / idx
        mean_after  = (total − prefix_v) / (n − idx)

    For the count series (``value_col=None``) everything is kept in EXACT
    integer arithmetic: ``n·cusum_i = n·prefix_i − idx·total`` is a long,
    so (a) the argmax ordering is an integer comparison — immune to the
    prefix-sum association order differing between engines — and (b) the
    three rounded outputs are exact integer rationals over denominators
    n/idx/(n−idx), never a ``round(<double>, 4)`` near a tie (the t17
    class; see functions/exact.py).  Magnitudes: n·prefix ≤ n_buckets ×
    total_events ≈ 1e5·1e12 at 100 TB — inside int64.
    """
    from dataqtor_spark.functions.exact import round_ratio

    width = _BUCKET_US[bucket]
    v = (F.count(F.lit(1)).cast("double") if value_col is None
         else F.sum(F.col(value_col).cast("double")))
    series = _bucketed_series(df, ts_col, bucket, {"__v": v})
    mean_row = series.agg(F.avg("__v").alias("__m"),
                          F.sum("__v").alias("__tot"),
                          F.count(F.lit(1)).alias("__n"),
                          F.min("__b").alias("__lo"))
    # dense regular grid: the 1-based row index is pure arithmetic
    idx = ((F.unix_micros(F.col("__b")) - F.unix_micros(F.col("__lo")))
           / F.lit(width) + 1).cast("long")
    indexed = (series.crossJoin(F.broadcast(mean_row))
               .withColumn("__idx", idx))
    if value_col is None:
        # counts: exact round-trip double→long (integers < 2^53)
        indexed = indexed.withColumn("__vi", F.col("__v").cast("long"))
        scored = _segmented_prefix_sum(indexed, "__idx", "__vi", "__pre")
        n, i = F.col("__n"), F.col("__idx")
        pre, tot = F.col("__pre"), F.col("__tot").cast("long")
        num = n * pre - i * tot  # n·cusum_i, exact long
        ma = F.when(i < n, round_ratio(tot - pre, n - i, 4))
        return (scored
                .orderBy(F.abs(num).desc(), F.col("__b").asc())
                .limit(1)
                .select(F.col("__b").alias("changepoint_ts"),
                        round_ratio(F.abs(num), n, 4)
                        .alias("max_abs_cusum"),
                        round_ratio(pre, i, 4).alias("mean_before"),
                        F.coalesce(ma, F.lit(0.0)).alias("mean_after"),
                        n.cast("long").alias("n_buckets")))
    scored = _segmented_prefix_sum(indexed, "__idx", "__v", "__pre")
    cusum = F.col("__pre") - F.col("__idx") * F.col("__m")
    ma = F.when(F.col("__idx") < F.col("__n"),
                (F.col("__tot") - F.col("__pre"))
                / (F.col("__n") - F.col("__idx")))
    return (scored
            .orderBy(F.abs(cusum).desc(), F.col("__b").asc())
            .limit(1)
            .select(F.col("__b").alias("changepoint_ts"),
                    F.round(F.abs(cusum), 4).alias("max_abs_cusum"),
                    F.round(F.col("__pre") / F.col("__idx"), 4)
                    .alias("mean_before"),
                    F.round(F.coalesce(ma, F.lit(0.0)), 4)
                    .alias("mean_after"),
                    F.col("__n").cast("long").alias("n_buckets")))


def _segmented_prefix_sum(df: DataFrame, idx_col: str, val_col: str,
                          out_col: str,
                          segment_rows: int = 4096) -> DataFrame:
    """Two-level cumulative sum over a dense 1-based integer index,
    WITHOUT a global single-partition window:

    1. rows hash into ``segment_rows``-sized segments by index; the
       within-segment running sum is a PARTITIONED window (parallel);
    2. per-segment totals (≤ n/segment_rows rows — a minute-grain decade
       is ~1.3k segments) get their carry-in via an exclusive running
       sum over the totals table itself — an unpartitioned window, but
       over the tiny per-segment frame, O(S log S) instead of the O(S²)
       triangular self-join it replaces (S ~ 1e5 segments at a
       100 TB-scale series would have expanded 1e10 joined rows);
    3. prefix = carry-in + within-segment running sum.

    Exactly the textbook scan decomposition; the only full-data exchange
    is the hash partition on segment id.
    """
    from pyspark.sql import Window

    seg = df.withColumn("__seg",
                        F.floor((F.col(idx_col) - 1) / segment_rows))
    w_in = (Window.partitionBy("__seg").orderBy(idx_col)
            .rowsBetween(Window.unboundedPreceding, 0))
    within = seg.withColumn("__within", F.sum(val_col).over(w_in))
    totals = seg.groupBy("__seg").agg(F.sum(val_col).alias("__t"))
    w_tot = (Window.orderBy("__seg")
             .rowsBetween(Window.unboundedPreceding, -1))
    carry = totals.select(
        "__seg",
        F.coalesce(F.sum("__t").over(w_tot), F.lit(0.0)).alias("__carry"))
    return (within.join(F.broadcast(carry), "__seg")
            .withColumn(out_col, F.col("__carry") + F.col("__within"))
            .drop("__seg", "__within", "__carry"))


def cross_correlation(df: DataFrame, type_col: str, type_a: str,
                      type_b: str, ts_col: str = "ts",
                      lags: tuple[int, ...] = (-2, -1, 0, 1, 2),
                      bucket: str = "hour") -> DataFrame:
    """Lead/lag screen between two event streams: (lag, xcorr, n_pairs)
    where xcorr at lag k correlates series A at time t with series B at
    t+k buckets (positive k: A leads B).  The "do errors follow deploys,
    and by how much?" profile.

    Scale contract as :func:`autocorrelation`: ONE conditional-aggregate
    groupBy builds both series in one scan, zero-filled over the dense
    time grid (a silent hour is a 0-rate point for both streams), then
    every lead/lag is an equi-join of stream A with a timestamp-shifted
    copy of stream B (all lags carried by one explode through one
    partition-parallel join) — no single-partition ordering window.
    """
    width = _BUCKET_US[bucket]
    t = F.col(type_col)
    series = _bucketed_series(
        df.filter(t.isin(type_a, type_b)), ts_col, bucket,
        {"__a": F.sum((t == type_a).cast("double")),
         "__b2": F.sum((t == type_b).cast("double"))})
    # xcorr at lag k pairs A_t with B_{t+k}: shift B's copy back by k
    # buckets so it lands on A's timestamp
    shifted = (series.select(
        F.col("__b2").alias("__l"),
        F.explode(F.array(*[F.lit(int(k)) for k in lags])).alias("lag"),
        F.col("__b"))
        .select("lag", "__l",
                F.timestamp_micros(F.unix_micros(F.col("__b"))
                                   - F.col("lag").cast("long")
                                   * F.lit(width).cast("long"))
                .alias("__tb")))
    pairs = series.join(shifted, series["__b"] == shifted["__tb"])
    got = (pairs.groupBy("lag")
           .agg(F.round(F.corr("__a", "__l"), 4).alias("xcorr"),
                F.count(F.lit(1)).cast("long").alias("n_pairs")))
    lag_dim = (df.sparkSession.range(1)
               .select(F.explode(F.array(*[F.lit(int(k)) for k in lags]))
                       .alias("lag")))
    return (lag_dim.join(F.broadcast(got), "lag", "left")
            .select("lag", "xcorr",
                    F.coalesce("n_pairs", F.lit(0)).cast("long")
                    .alias("n_pairs")))


def interarrival_stats(df: DataFrame, user_col: str = "user_id",
                       ts_col: str = "ts", type_col: str = "event_type",
                       tiebreak_col: str = "event_id") -> DataFrame:
    """Per-event-type inter-arrival statistics: for each event, the gap to
    the same user's previous event (any type); stats grouped by the
    arriving event's type — the "how bursty is each signal" profile.

    The lag window is ``user_id``-partitioned (parallel, no global sort);
    gaps are integer microseconds end-to-end — DECIMAL-accumulated mean
    and exact interpolated percentile — with one division to seconds at
    the very end, so results are bit-portable across engines.
    """
    from dataqtor_spark.functions.exact import round_ratio

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col),
                                             F.col(tiebreak_col))
    # cast("timestamp") accepts both TIMESTAMP and TIMESTAMP_NTZ inputs
    # (parquet naive timestamps read as NTZ); the session tz is UTC so the
    # cast is value-preserving and unix_micros stays exact.
    ts = F.col(ts_col).cast("timestamp")
    g = F.unix_micros(ts) - F.unix_micros(F.lag(ts).over(w))
    gaps = (df.select(F.col(type_col).alias("etype"), g.alias("__g"))
            .filter(F.col("__g").isNotNull()))
    n = F.count(F.lit(1))
    return gaps.groupBy("etype").agg(
        n.cast("long").alias("n_gaps"),
        round_ratio(F.sum(F.col("__g").cast("decimal(28,0)")),
                    n * 1000000, 4).alias("avg_gap_s"),
        F.round(F.expr("percentile(__g, 0.5)") / 1e6, 4).alias("p50_gap_s"),
        F.round(F.max("__g") / F.lit(1e6), 4).alias("max_gap_s"))


# ---------------------------------------------------------------------------
# PageRank over the event-transition graph (iterative algorithm family)
# ---------------------------------------------------------------------------

def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             weight: str | None = None, damping: float = 0.85,
             n_iter: int = 10) -> DataFrame:
    """Weighted PageRank with a fixed iteration count: ``(node, rank)``.

    The normalized transition matrix is built once (one groupBy) and
    persisted; each round is a broadcast join of the current rank vector
    (|nodes| rows) against the matrix plus a per-dst aggregate — the
    matrix itself never moves after the initial shuffle.  Per-round ranks
    are rounded to 12 dp so summation order (partitioning) can't leak
    into the result — the same determinism device as the portable
    k-means, which is what lets a SQL oracle replay the iterations
    exactly.  Dangling mass is NOT redistributed (documented variant;
    transition graphs from b03 have no dangling nodes).

    At scale: matrix rows = observed (src, dst) pairs (≤ k² for k
    distinct event types), rank vector = k rows — both tiny relative to
    the events table that produced them; with a billion-node graph you'd
    swap the broadcast for a shuffled join and parquet-spill rounds like
    ``dedup.connected_components``.
    """
    w_col = F.col(weight) if weight else F.lit(1.0)
    m = (edges.groupBy(src, dst).agg(F.sum(w_col).alias("__w")))
    tot = m.groupBy(src).agg(F.sum("__w").alias("__wout"))
    # localCheckpoint (eager), not persist: no action runs inside the loop,
    # so a cache would never fill — and without lineage truncation the
    # returned plan would embed the matrix-build subtree once per round
    mat = (m.join(tot, src)
           .select(F.col(src).alias("__src"), F.col(dst).alias("__dst"),
                   (F.col("__w") / F.col("__wout")).alias("__share"))
           .localCheckpoint())
    nodes = (mat.select(F.col("__src").alias("node"))
             .unionByName(mat.select(F.col("__dst").alias("node")))
             .distinct().localCheckpoint())
    n = nodes.count()
    base, link = (1.0 - damping) / n, damping
    rank = nodes.withColumn("r", F.round(F.lit(1.0 / n), 12))
    for _ in range(n_iter):
        contrib = (mat.join(F.broadcast(rank),
                            mat["__src"] == rank["node"])
                   .groupBy("__dst")
                   .agg(F.sum(F.col("__share") * F.col("r"))
                        .alias("__c")))
        rank = (nodes.join(contrib, nodes["node"] == contrib["__dst"],
                           "left")
                .select("node",
                        F.round(F.lit(base) + F.lit(link)
                                * F.coalesce(F.col("__c"), F.lit(0.0)),
                                12).alias("r")))
    return rank.select("node", F.round("r", 6).alias("rank"))


# ---------------------------------------------------------------------------
# market-basket co-occurrence and per-key time-series resample + ffill
# ---------------------------------------------------------------------------

def copurchase_pairs(df: DataFrame, basket_col: str, item_col: str,
                     top_k: int = 20,
                     basket_cap: int | str | None = "auto") -> DataFrame:
    """Top co-occurring item pairs across baskets (market-basket support
    counts): (item_a, item_b, n_baskets) with item_a < item_b.

    Same posting-list shape as the n-gram dedup joins: ONE shuffle groups
    items per basket, pairs expand in-row from the sorted distinct item
    array (no self-join — a self-join would exchange the full item×basket
    relation twice), and only (pair, 1) rows shuffle into the count.

    Per-basket blowup is |basket|²/2, so a pathological hot basket (one
    "order" with 10^5 items from an ingest bug or a shared cart id) is a
    stage-sinker at 100 TB exactly like an uncapped LSH bucket.
    ``basket_cap`` follows the one rule of the dedup posting lists
    (``dedup._cap_groups``): the default ``"auto"`` skips baskets wider
    than ``max(1024, isqrt(n_rows))`` once the input reaches the
    ``AUTO_GUARD_MIN_DOCS`` corpus threshold, resolved in-plan — a
    dropped hot basket is itself a data-quality finding, not signal; an
    int pins the bound; ``None`` opts out.
    """
    from dataqtor_spark.operators import dedup as DD

    src = (df.select(F.col(basket_col).alias("__b"),
                     F.col(item_col).alias("__i"))
           .filter(F.col("__i").isNotNull()))
    grouped = (src.groupBy("__b")
               .agg(F.sort_array(F.collect_set("__i")).alias("items"))
               .filter(F.size("items") > 1))
    # guard scale = the RAW input row count (nulls included): the
    # unfiltered unprojected count reads zero columns (parquet footer row
    # counts), where counting `src` would re-scan the item column just to
    # apply isNotNull; over-counting only ever RAISES the isqrt cap /
    # engages the guard earlier — both safe.
    grouped = DD._cap_groups(grouped, basket_cap, df, size_col="items")
    # dedup basket CONTENTS before the quadratic expansion: identical
    # item sets (single-item carts, the handful of common 2-3 item
    # combos) recur heavily in real basket data, and each distinct
    # content needs its |items|²/2 pairs expanded exactly once with a
    # multiplicity weight.  Worst case (all contents unique) this is one
    # extra shuffle of the already-grouped rows; at 100x replication the
    # expansion input shrinks 100x (SCALE_PROBE.md).
    contents = grouped.groupBy("items").agg(
        F.count(F.lit(1)).alias("__m"))
    pairs = contents.select(F.col("__m"), F.explode(F.expr(
                 "flatten(transform(items, (x, i) -> "
                 "transform(slice(items, i + 2, size(items)), "
                 "y -> struct(x as a, y as b))))")).alias("p"))
    return (pairs.groupBy(F.col("p.a").alias("item_a"),
                          F.col("p.b").alias("item_b"))
            .agg(F.sum("__m").cast("long").alias("n_baskets"))
            .orderBy(F.desc("n_baskets"), F.asc("item_a"), F.asc("item_b"))
            .limit(top_k))


def resample_ffill(df: DataFrame, key_col: str, ts_col: str, value_col: str,
                   tiebreak_col: str) -> DataFrame:
    """Daily resample with forward fill: one row per (key, day) over the
    data's full date span, carrying each key's last observed value into
    days with no events — the gap-free series every feature/training
    pipeline wants from an irregular event log.

    Three cheap stages: (1) last value per (key, day) via a per-key-day
    row_number (deterministic through the tiebreak); (2) the day grid =
    global [min,max] span crossed with the distinct keys — generated with
    ``sequence``/explode, never collected on the driver; (3) a per-key
    ordered window ``last(value, ignorenulls=True)`` fills forward.
    Parallelism = keys throughout; days-before-first-observation stay
    NULL (nothing to carry).
    """
    from pyspark.sql.window import Window

    day = F.to_date(F.col(ts_col))
    daily = (df.withColumn("day", day)
             .withColumn("__rn", F.row_number().over(
                 Window.partitionBy(key_col, "day")
                 .orderBy(F.col(ts_col).desc(), F.col(tiebreak_col).desc())))
             .filter(F.col("__rn") == 1)
             .select(key_col, "day", F.col(value_col).alias("__v")))
    span = df.agg(F.to_date(F.min(ts_col)).alias("d0"),
                  F.to_date(F.max(ts_col)).alias("d1"))
    grid = (df.select(key_col).distinct()
            .crossJoin(F.broadcast(span))
            .select(key_col, F.explode(F.sequence("d0", "d1")).alias("day")))
    w2 = (Window.partitionBy(key_col).orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0))
    return (grid.join(daily, [key_col, "day"], "left")
            .withColumn("value", F.last("__v", ignorenulls=True).over(w2))
            .select(key_col, "day", "value"))


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Global triangle count of an undirected graph given as an edge list
    (deduped, canonicalized a < b internally): the clustering/community
    signal of the co-occurrence graphs this engine builds (co-purchase,
    transition, near-dup).

    Standard two-join formulation on the ordered edge set: wedges
    (a<b<c from edges (a,b),(b,c)) ⋈ closing edge (a,c).  Ordering each
    edge by its smaller endpoint means every triangle is counted exactly
    once and the join fan-out is bounded by high-degree nodes' ordered
    degree — the same trick GraphX/Pregel implementations use.  Both
    joins shuffle only 2-column keys; no adjacency list materializes.
    """
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                      F.greatest(F.col(src), F.col(dst)).alias("b"))
         .filter(F.col("a") != F.col("b"))
         .distinct())
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    wedges = e1.join(e2, F.col("y") == F.col("y2")).select("x", "y", "z")
    e3 = e.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = wedges.join(e3, (F.col("x") == F.col("x3"))
                      & (F.col("z") == F.col("z3")))
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def rfm_segments(df: DataFrame, as_of, user_col: str = "user_id",
                 ts_col: str = "ts", value_col: str = "value",
                 event_filter=None, type_col: str = "event_type",
                 n_tiles: int = 5) -> DataFrame:
    """RFM segmentation: per user, recency (days since last event as of a
    FIXED reference time — reproducible runs), frequency (event count)
    and monetary (DECIMAL-exact value sum), each scored into ``n_tiles``
    quantile tiles (5 = best: most recent / most frequent / highest
    spend), plus the concatenated segment label.

    One per-user aggregate (the only full shuffle), then three NTILE
    passes over the users table — each a total order with the user id
    tiebreak, so tile membership is deterministic and engine-portable.
    NTILE is computed from a DISTRIBUTED global row number
    (``ordered.ordered_prefix`` range-partitioned scan +
    ``ordered.ntile_expr`` bucket arithmetic), not a single-partition
    window: a hundreds-of-millions-user table never funnels through one
    task.
    """
    from dataqtor_spark.operators.ordered import ntile_expr, ordered_prefix

    base = df if event_filter is None else df.filter(
        F.col(type_col) == event_filter)
    per_user = (base.groupBy(F.col(user_col).alias("user_id"))
                .agg(F.datediff(F.lit(as_of).cast("date"),
                                F.to_date(F.max(ts_col)))
                     .cast("int").alias("recency_days"),
                     F.count(F.lit(1)).cast("long").alias("frequency"),
                     F.sum(F.col(value_col).cast("decimal(18,2)"))
                     .alias("__m")))
    n_row = per_user.agg(F.count(F.lit(1)).alias("__n"))
    scored = per_user.crossJoin(F.broadcast(n_row))
    for rn_col, order in (
            ("__rn_r", [F.col("recency_days").desc(), F.col("user_id")]),
            ("__rn_f", [F.col("frequency").asc(), F.col("user_id")]),
            ("__rn_m", [F.col("__m").asc(), F.col("user_id")])):
        scored = ordered_prefix(scored, order, out_rn=rn_col)
    tile = lambda c: ntile_expr(F.col(c), F.col("__n"), n_tiles)  # noqa: E731
    return (scored
            .withColumn("r_score", tile("__rn_r"))
            .withColumn("f_score", tile("__rn_f"))
            .withColumn("m_score", tile("__rn_m"))
            .withColumn("monetary",
                        F.round(F.col("__m"), 2).cast("double"))
            .withColumn("segment", F.concat_ws("", "r_score", "f_score",
                                               "m_score"))
            .select("user_id", "recency_days", "frequency", "monetary",
                    "r_score", "f_score", "m_score", "segment"))


def pareto_concentration(df: DataFrame, key_col: str, revenue: "F.Column",
                         threshold: float = 0.8) -> DataFrame:
    """Pareto/ABC concentration: how many keys are needed to reach
    ``threshold`` of total revenue (the 80/20 diagnosis), plus the
    top-key share.

    A key is counted iff the cumulative share *before* it is still below
    the threshold — so the key whose cumulative share first crosses the
    line is included (a single key holding 85% reports 1, not 0).  One
    keyed aggregate (DECIMAL-exact); the cumulative sum in
    (revenue desc, key) total order comes from the DISTRIBUTED
    range-partitioned scan (``ordered.ordered_prefix``) and the
    exclusive form is the inclusive one minus the row — so the
    aggregated key table (hundreds of millions of keys at 100 TB) never
    funnels through a single-partition window; the scalar total is a
    broadcast 1-row aggregate.  Each share is one double division of
    two exact decimals, so the cut is engine-deterministic.
    """
    from dataqtor_spark.operators.ordered import ordered_prefix

    per_key = (df.groupBy(F.col(key_col).alias("k"))
               .agg(F.sum(revenue.cast("decimal(28,10)")).alias("rev")))
    tot_row = per_key.agg(F.sum("rev").alias("__tot"))
    cum = ordered_prefix(per_key.crossJoin(F.broadcast(tot_row)),
                         [F.col("rev").desc(), F.col("k")],
                         sums={"__cum": F.col("rev")})
    total = F.col("__tot").cast("double")
    scored = cum.select(
        "k", "rev",
        (F.col("__cum").cast("double") / total).alias("cum_share"),
        ((F.col("__cum") - F.col("rev")).cast("double") / total)
        .alias("prev_share"))
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when(F.col("prev_share") < threshold, 1).otherwise(0))
        .cast("long").alias("n_keys_to_threshold"),
        F.round(F.min("cum_share"), 6).alias("top_key_share"))


def association_rules(df: DataFrame, basket_col: str, item_col: str,
                      min_pair_support: int = 2,
                      top_k: int = 20) -> DataFrame:
    """Association rules from basket data: for each ordered item pair
    (a → b), support count, confidence = n(a,b)/n(a), and lift =
    confidence / P(b) — the step after co-occurrence counting that turns
    "bought together" into "predicts buying".

    Reuses the posting-list pair expansion (ONE shuffle groups items per
    basket, pairs expand in-row); per-item supports come from the same
    deduped (basket, item) relation, and the scalar basket count rides a
    broadcast.  Confidence and lift are ratios of exact integer counts,
    rounded via the exact-integer device (functions/exact.py) —
    ``round(<double ratio>, 6)`` flips at cross-engine ties.  Both rule
    directions
    are emitted; top-k by (lift desc, a, b) total order, or the full
    (support-cut) rules table with ``top_k=None`` for downstream
    consumers (the recommendation join in mb03).
    """
    items = (df.select(F.col(basket_col).alias("__b"),
                       F.col(item_col).alias("__i"))
             .filter(F.col("__i").isNotNull()).distinct())
    n_baskets = items.select("__b").distinct().count()
    supp = items.groupBy(F.col("__i").alias("item")).agg(
        F.count(F.lit(1)).alias("n_item"))
    pairs = (items.groupBy("__b")
             .agg(F.sort_array(F.collect_set("__i")).alias("its"))
             .filter(F.size("its") > 1)
             .select(F.explode(F.expr(
                 "flatten(transform(its, (x, i) -> "
                 "transform(slice(its, i + 2, size(its)), "
                 "y -> struct(x as a, y as b))))")).alias("p"))
             .groupBy(F.col("p.a"), F.col("p.b"))
             .agg(F.count(F.lit(1)).alias("n_ab"))
             .filter(F.col("n_ab") >= min_pair_support))
    both = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"), "n_ab"))
    sa = supp.select(F.col("item").alias("a"), F.col("n_item").alias("n_a"))
    sb = supp.select(F.col("item").alias("b"), F.col("n_item").alias("n_b"))
    from dataqtor_spark.functions.exact import round_ratio

    out = (both.join(F.broadcast(sa), "a").join(F.broadcast(sb), "b")
           .select("a", "b", F.col("n_ab").cast("long").alias("support"),
                   round_ratio(F.col("n_ab"), F.col("n_a"), 6)
                   .alias("confidence"),
                   # lift = (n_ab/n_a)/(n_b/N) = n_ab·N / (n_a·n_b)
                   # (products in DECIMAL — long·long overflows ANSI at scale)
                   round_ratio(F.col("n_ab").cast("decimal(38,0)")
                               * F.lit(n_baskets),
                               F.col("n_a").cast("decimal(38,0)")
                               * F.col("n_b"), 6)
                   .alias("lift")))
    if top_k is None:
        return out
    return out.orderBy(F.desc("lift"), F.asc("a"), F.asc("b")).limit(top_k)


def seasonal_decompose(df: DataFrame, ts_col: str = "ts",
                       bucket: str = "hour", period: int = 24,
                       trend_window: int = 24,
                       value_col: str | None = None) -> DataFrame:
    """Classic additive seasonal decomposition of a time-bucketed series:
    (bucket, v, trend, seasonal, remainder) with

      trend_t    = centered moving average over ``trend_window`` buckets,
      seasonal_p = mean of (v − trend) per phase p = bucket index mod
                   ``period`` (hour-of-day for hourly/period 24),
      remainder  = v − trend − seasonal.

    Scale contract (same as the other ts screens): the raw events
    collapse once through :func:`_bucketed_series` to the bounded
    zero-filled grid, and the centered MA is an EXPLODE + re-group —
    each grid row contributes its value to the ``trend_window`` slots
    whose average it belongs to, slots re-aggregate partition-parallel —
    so there is NO ordering window anywhere; edge buckets average over
    their in-grid neighbors only (partial frames, matching the SQL
    ``ROWS BETWEEN`` oracle).  The seasonal profile is a period-sized
    broadcast.  For the count series (``value_col=None``) every component
    is EXACT integer arithmetic end to end (functions/exact.py):
    trend6 = round6(Σ_window v / |window|) as a scaled long, seasonal6 =
    round6(Σ_phase (10⁶·v − trend6) / (10⁶·n_phase)), remainder =
    round4((10⁶·v − trend6 − seasonal6) / 10⁶) — ``round()`` never sees a
    double, so no cross-engine rounding tie exists anywhere in the chain
    (the t17 class).  The double path (explicit ``value_col``) keeps the
    decimal-accumulation recipe."""
    from dataqtor_spark.functions.exact import round_ratio, round_ratio_int

    width = _BUCKET_US[bucket]
    half = trend_window // 2
    v = (F.count(F.lit(1)).cast("double") if value_col is None
         else F.sum(F.col(value_col).cast("double")))
    series = _bucketed_series(df, ts_col, bucket, {"v": v})
    offsets = F.array(*[F.lit(j) for j in range(-half, trend_window - half)])
    contrib = (series
               .select(F.explode(offsets).alias("__j"), "__b", "v")
               .select(F.timestamp_micros(
                   F.unix_micros(F.col("__b"))
                   - F.col("__j").cast("long") * F.lit(width))
                   .alias("__b"), "v"))
    phase = F.pmod((F.unix_micros(F.col("__b")) / F.lit(width))
                   .cast("long"), F.lit(period)).alias("__p")
    if value_col is None:
        # integer path: counts are exact longs; trend as a 10⁶-scaled long
        trend = (contrib.groupBy("__b")
                 .agg(round_ratio_int(F.sum(F.col("v").cast("long")),
                                      F.count(F.lit(1)), 6).alias("__t6")))
        joined = (series.join(trend, "__b").withColumn("__p", phase)
                  .withColumn("__vi", F.col("v").cast("long")))
        # per-row residual numerator 10⁶·v − trend6, summed in DECIMAL
        # (10⁶·v alone can pass int64 at extreme scale)
        resid = (F.col("__vi").cast("decimal(38,0)") * 1000000
                 - F.col("__t6"))
        seasonal = (joined.groupBy("__p")
                    .agg(round_ratio_int(
                        F.sum(resid),
                        F.count(F.lit(1)).cast("decimal(38,0)") * 1000000,
                        6).alias("__s6")))
        rem_num = (F.col("__vi").cast("decimal(38,0)") * 1000000
                   - F.col("__t6") - F.col("__s6"))
        return (joined.join(F.broadcast(seasonal), "__p")
                .select(F.col("__b").alias("bucket"),
                        F.col("__vi").cast("double").alias("v"),
                        (F.col("__t6") / F.lit(1e6)).cast("double")
                        .alias("trend"),
                        (F.col("__s6") / F.lit(1e6)).cast("double")
                        .alias("seasonal"),
                        round_ratio(rem_num, F.lit(1000000), 4)
                        .alias("remainder")))
    trend = (contrib.groupBy("__b")
             .agg(F.round(F.avg("v"), 6).alias("trend")))
    # inner join drops the out-of-grid slots explode created beyond the
    # span; in-grid slots always survive (offset 0 contributes)
    joined = series.join(trend, "__b").withColumn("__p", phase)
    # Seasonal mean via exact DECIMAL accumulation, not avg of doubles:
    # the decimal SUM is order-independent, where a double avg's summation
    # order varies per run/partitioning and can flip a value sitting on
    # the final round()'s half boundary.
    dec = (F.col("v") - F.col("trend")).cast("decimal(28,6)")
    seasonal = (joined.groupBy("__p")
                .agg(F.round(F.sum(dec).cast("double")
                             / F.count(F.lit(1)), 6).alias("seasonal")))
    return (joined.join(F.broadcast(seasonal), "__p")
            .select(F.col("__b").alias("bucket"), "v", "trend", "seasonal",
                    F.round(F.col("v") - F.col("trend") - F.col("seasonal"),
                            4).alias("remainder")))
