"""Distributed total-order primitives: prefix sums and row numbers over an
ARBITRARY ordering without a single-partition window.

The missing piece behind rank-flavoured analytics (Pareto cumulative
shares, NTILE segmentation, rank correlations, ECDF statistics): Spark's
``Window.orderBy(...)`` with no partition funnels every row through ONE
task.  Harmless over a bounded grid, a stage-sinker over a
hundreds-of-millions-row aggregate or distinct-value table.  The classic
fix is a range-partitioned two-level scan:

1. ``repartitionByRange`` on the ordering (sampled bounds: partition i's
   rows all precede partition j's for i < j) — the one full exchange;
2. within-partition running sums / row_number via a window partitioned
   on ``spark_partition_id()`` — parallel across partitions;
3. per-partition totals (one tiny row per partition) get their carry-in
   via an exclusive running sum over the totals table itself — a
   single-partition window, but over exactly P rows (one per partition),
   so it is O(P log P) work on a bounded frame, not a data-sized funnel;
4. global value = carry + within.

Results depend only on the total order (callers must include a tiebreak
column so the order IS total), never on where the sampled range bounds
land, so outputs are deterministic and engine-portable.  The same
decomposition as :func:`behavior._segmented_prefix_sum`, generalized
from a dense integer index to any ordering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _spark_context_or_none(spark):
    """The driver-side SparkContext, or None on Spark Connect (where the
    session has no local JVM context — checkpoint/localCheckpoint still
    work, as server-executed commands, but ``sc``-level introspection
    like ``getCheckpointDir``/``defaultParallelism`` does not exist)."""
    try:
        return spark.sparkContext
    except Exception:
        return None


def _default_parallelism(spark) -> int:
    """``sc.defaultParallelism`` classically; on Connect, the session's
    shuffle-partition setting (the same knob the range exchange would
    use anyway)."""
    sc = _spark_context_or_none(spark)
    if sc is not None:
        return sc.defaultParallelism
    return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


def durable_barriers(spark) -> bool:
    """The one durability rule for lineage barriers: reliable iff the
    session has a checkpoint dir.  Setting one
    (``sc.setCheckpointDir(<fault-tolerant path>)``) is how a cluster
    opts into fault tolerance; without it, barriers are
    ``localCheckpoint``s (executor-local blocks: fastest, but an
    executor loss after lineage truncation kills the job).  Read at
    every call, never cached.  Always False on Spark Connect, which has
    no SparkContext to ask."""
    sc = _spark_context_or_none(spark)
    return sc is not None and sc.getCheckpointDir() is not None


def barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage: a reliable ``checkpoint`` when
    :func:`durable_barriers` holds, else a ``localCheckpoint``."""
    if durable_barriers(df.sparkSession):
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def ordered_prefix(df: DataFrame, order_by: list[Column],
                   sums: dict[str, Column] | None = None,
                   out_rn: str | None = None,
                   partitions: int | None = None) -> DataFrame:
    """Add inclusive running sums (one output column per ``sums`` entry)
    and/or a 1-based global row number, all in ``order_by`` total order,
    computed with NO data-sized single-partition stage.

    ``order_by`` entries may carry ``.desc()`` / ``.asc()``; include a
    unique tiebreak so the order is total (required for deterministic
    output).  Exclusive ("rows before") forms are the inclusive sum
    minus the row's own value — no second pass needed.

    The range-partitioned frame is pinned by a lazy :func:`barrier`:
    a reliable checkpoint when the session has a checkpoint dir, else
    ``localCheckpoint``.
    """
    sums = sums or {}
    n = partitions or _default_parallelism(df.sparkSession)
    # Checkpoint (lazy): the range exchange SAMPLES to pick bounds,
    # so re-evaluating it can assign different partition ids per subtree —
    # and this frame feeds two consumers (rows + per-partition totals)
    # whose __pid values must agree.  The checkpoint pins one
    # materialization both read; lineage truncation is the documented
    # trade (same device as the minhash pipeline's candidate sets).
    rp = barrier(df.repartitionByRange(n, *order_by)
                 .withColumn("__pid", F.spark_partition_id()), eager=False)
    w_in = Window.partitionBy("__pid").orderBy(*order_by)
    w_run = w_in.rowsBetween(Window.unboundedPreceding, 0)
    cols = list(df.columns)
    within = rp
    aggs = [F.count(F.lit(1)).alias("__t_cnt")]
    for i, (_name, expr) in enumerate(sums.items()):
        within = within.withColumn(f"__w{i}", F.sum(expr).over(w_run))
        aggs.append(F.sum(expr).alias(f"__t{i}"))
    if out_rn is not None:
        within = within.withColumn("__w_rn", F.row_number().over(w_in))
    totals = rp.groupBy("__pid").agg(*aggs)
    # Carry-in = exclusive prefix sum over the totals table.  This IS an
    # unpartitioned window, but over exactly one row per range partition
    # (P rows, P = defaultParallelism) — a bounded metadata-sized frame,
    # unlike the O(P²) triangular self-join it replaces, which at cluster
    # scale (P ~ 1e4-1e5) expanded to 1e8-1e10 joined rows for what is a
    # P-element scan.
    w_tot = (Window.orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    carry_cols = [F.col("__pid"),
                  F.coalesce(F.sum("__t_cnt").over(w_tot), F.lit(0))
                  .alias("__c_cnt")]
    for i in range(len(sums)):
        carry_cols.append(F.sum(f"__t{i}").over(w_tot).alias(f"__c{i}"))
    carry = totals.select(*carry_cols)
    out = within.join(F.broadcast(carry), "__pid")
    proj = [F.col(c) for c in cols]
    for i, name in enumerate(sums):
        # typed zero for the first partition's null carry: 0 * within
        proj.append((F.coalesce(F.col(f"__c{i}"),
                                F.lit(0) * F.col(f"__w{i}"))
                     + F.col(f"__w{i}")).alias(name))
    if out_rn is not None:
        proj.append((F.col("__c_cnt") + F.col("__w_rn")).cast("long")
                    .alias(out_rn))
    return out.select(*proj)


def ntile_expr(rn: Column, n_rows: Column, n: int) -> Column:
    """SQL-standard NTILE(n) from a 1-based global row number and the
    total row count — the first ``n_rows % n`` buckets get the extra
    row, exactly Spark's/DuckDB's semantics — so NTILE over any total
    order composes with :func:`ordered_prefix` instead of a
    single-partition window."""
    big = (n_rows % n).cast("long")                 # buckets of size bs+1
    bs = F.floor(n_rows / n).cast("long")
    cut = big * (bs + 1)                            # rows in the big buckets
    return (F.when(rn <= cut, F.floor((rn - 1) / (bs + 1)))
            .otherwise(big + F.floor((rn - cut - 1) / bs)) + 1).cast("int")


def ordered_running_max(df: DataFrame, order_by: list[Column],
                        expr: Column, out_col: str,
                        exclusive: bool = True,
                        partitions: int | None = None) -> DataFrame:
    """Global running MAX of ``expr`` in ``order_by`` total order with NO
    data-sized single-partition stage — the max sibling of
    :func:`ordered_prefix`, same two-level range-partitioned scan:
    within-partition running max (parallel), plus a carry-in that is the
    max over all PRECEDING partitions' totals (an exclusive window over
    the P-row totals table).  ``exclusive=True`` (the default) makes the
    output the max over rows STRICTLY BEFORE each row — the high-water
    mark a streaming watermark audit needs — NULL for the global first
    row(s); ``False`` includes the row itself.  ``order_by`` must be a
    total order (include a tiebreak).  Pinned exactly like
    :func:`ordered_prefix` (the range exchange samples its bounds, so the
    frame is pinned before its two consumers)."""
    n = partitions or _default_parallelism(df.sparkSession)
    rp = barrier(df.repartitionByRange(n, *order_by)
                 .withColumn("__pid", F.spark_partition_id()), eager=False)
    end = -1 if exclusive else 0
    w_in = (Window.partitionBy("__pid").orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, end))
    within = rp.withColumn("__wmax", F.max(expr).over(w_in))
    totals = rp.groupBy("__pid").agg(F.max(expr).alias("__tmax"))
    w_tot = (Window.orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    carry = totals.select(F.col("__pid"),
                          F.max("__tmax").over(w_tot).alias("__cmax"))
    out = within.join(F.broadcast(carry), "__pid")
    cols = [F.col(c) for c in df.columns]
    cols.append(F.greatest(F.coalesce(F.col("__wmax"), F.col("__cmax")),
                           F.coalesce(F.col("__cmax"), F.col("__wmax")))
                .alias(out_col))
    return out.select(*cols)
