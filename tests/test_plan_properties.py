"""Physical-plan regression tests: the scale-relevant plan shapes
ARCHITECTURE.md claims, asserted so refactors can't silently lose them."""

import contextlib
import io
import re

import pytest

from dataqtor_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = QUERIES[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _detail(plan, node):
    return len(re.findall(rf"^\(\d+\) {node}", plan, re.M))


def test_search_filters_pushed_to_scan(spark):
    plan = _plan(spark, "p03_typed_search_orders")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThanOrEqual(o_totalprice" in pushed
    assert "EqualTo(o_orderstatus,O)" in pushed
    # column pruning: the scan reads only the 4 referenced columns
    schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert schema.count(":") == 4, schema


def test_dim_join_broadcasts(spark):
    plan = _plan(spark, "j01_latlon_enrich")
    assert _detail(plan, "BroadcastHashJoin") >= 1
    assert _detail(plan, "SortMergeJoin") == 0


def test_topk_never_global_sorts(spark):
    plan = _plan(spark, "o01_sort_topk")
    assert _detail(plan, "TakeOrderedAndProject") == 1
    assert _detail(plan, "Sort") == 0  # no standalone global sort


def test_fused_profile_single_scan(spark):
    plan = _plan(spark, "a00_full_profile_lineitem")
    assert _detail(plan, "Scan parquet") == 1


def test_range_join_is_hash_join(spark):
    plan = _plan(spark, "j06_range_join_sessions")
    assert "NestedLoop" not in plan


def test_pivot_no_value_discovery_job(spark):
    # explicit pivot values → single aggregation, no extra distinct scan
    plan = _plan(spark, "a18_pivot_status_priority")
    assert _detail(plan, "Scan parquet") == 1


def test_h01_single_scan_partial_agg(spark):
    plan = _plan(spark, "h01_pricing_summary")
    assert _detail(plan, "Scan parquet") == 1
    assert "PushedFilters: [" in plan
    assert "LessThanOrEqual(l_shipdate" in plan
    assert _detail(plan, "HashAggregate") >= 2  # partial + final


def test_h03_topk_and_broadcast(spark):
    plan = _plan(spark, "h03_shipping_priority")
    assert _detail(plan, "TakeOrderedAndProject") >= 1
    assert _detail(plan, "BroadcastHashJoin") >= 1
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # dim filter pushed


def test_h05_dims_broadcast_filters_pushed(spark):
    plan = _plan(spark, "h05_local_supplier_volume")
    assert _detail(plan, "BroadcastHashJoin") >= 3
    assert "EqualTo(r_name,ASIA)" in plan
    assert _detail(plan, "CartesianProduct") == 0


def test_funnel_no_global_sort(spark):
    plan = _plan(spark, "b01_funnel_events")
    # stage joins are per-user aggregates; any Sort present belongs to a
    # SortMergeJoin (two sides each), never a row-data global sort
    assert _detail(plan, "Sort") <= _detail(plan, "SortMergeJoin") * 2


def test_transitions_window_is_user_partitioned(spark):
    plan = _plan(spark, "b03_event_transitions")
    assert _detail(plan, "Window") >= 1
    # the lead window must be partitioned (parallel), not a global orderBy
    assert re.search(r"partitionBy.*user_id|hashpartitioning\(user_id", plan)


def test_h04_semi_join_no_lineitem_output(spark):
    plan = _plan(spark, "h04_priority_check")
    assert "LeftSemi" in plan
    # quarter filter pushed to the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_h06_pure_scan_agg(spark):
    plan = _plan(spark, "h06_forecast_revenue")
    assert _detail(plan, "Scan parquet") == 1
    assert _detail(plan, "SortMergeJoin") == 0
    assert _detail(plan, "BroadcastHashJoin") == 0
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_quantity,24.0)" in pushed


def test_h10_topk_and_nation_broadcast(spark):
    plan = _plan(spark, "h10_returned_items")
    assert _detail(plan, "TakeOrderedAndProject") >= 1
    assert _detail(plan, "BroadcastHashJoin") >= 1
    assert "EqualTo(l_returnflag,R)" in plan


def test_h13_left_outer_preserves_zero_customers(spark):
    plan = _plan(spark, "h13_customer_distribution")
    assert "LeftOuter" in plan
    # the priority filter must not reach the customer side
    assert "IsNotNull(c_custkey)" not in plan


def test_h14_part_broadcast_pruned(spark):
    plan = _plan(spark, "h14_promo_revenue")
    assert _detail(plan, "BroadcastHashJoin") >= 1
    # part scan reads only the 2 projected columns
    for line in plan.splitlines():
        if "ReadSchema" in line and "p_partkey" in line:
            schema = line.split("ReadSchema: ", 1)[1]
            assert schema.count(":") == 2, schema


def test_h22_anti_join_and_scalar_broadcast(spark):
    plan = _plan(spark, "h22_dormant_customers")
    assert "LeftAnti" in plan
    assert _detail(plan, "CartesianProduct") == 0  # scalar is broadcast
    assert "GreaterThanOrEqual(o_orderdate" in plan  # recency pushed


def test_h07_single_fact_shuffle_all_dims_broadcast(spark):
    # Q7: nation/supplier/customer all broadcast; lineitem⋈orders is the
    # only shuffled join, so the plan carries at most 3 exchanges
    # (join + aggregate sides) and no SortMergeJoin
    plan = _plan(spark, "h07_volume_shipping")
    assert _detail(plan, "BroadcastHashJoin") >= 3
    assert _detail(plan, "SortMergeJoin") <= 1
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_h09_part_filter_prunes_fact_via_broadcast(spark):
    plan = _plan(spark, "h09_product_type_profit")
    assert _detail(plan, "BroadcastHashJoin") >= 3
    # the LIKE filter must reach the part scan, not evaluate post-join
    assert "StringContains(p_name,red)" in plan or "p_name" in \
        plan.split("PushedFilters: [", 1)[1]


def test_h17_threshold_join_broadcasts_aggregate(spark):
    plan = _plan(spark, "h17_small_quantity_revenue")
    assert _detail(plan, "BroadcastHashJoin") >= 2
    assert _detail(plan, "SortMergeJoin") == 0


def test_h21_no_pair_set_sort_merge(spark):
    # the count-collapse rewrite keeps the qualifying-order set broadcast;
    # no sort-merge join of the deduped pair sets
    plan = _plan(spark, "h21_waiting_suppliers")
    assert _detail(plan, "BroadcastHashJoin") >= 2
    assert _detail(plan, "SortMergeJoin") <= 1


def test_cube_expands_before_single_shuffle(spark):
    plan = _plan(spark, "cube01_returnflag_status")
    assert _detail(plan, "Expand") == 1
    assert _detail(plan, "Exchange") == 1


def test_bm25_tokenizes_once_and_releases_cache(spark):
    # the exploded token stream is persisted so the three consumers share
    # ONE tokenize pass, then released once the (tiny) top-k materializes

    def big_cached():
        return {r.id() for r in
                spark.sparkContext._jsc.sc().getRDDStorageInfo()
                if r.isCached() and r.memSize() > 1 << 20}

    # scope the invariant to THIS query: in the shared-session suite an
    # earlier test's still-referenced localCheckpoint (e.g. er03's pinned
    # candidate frame awaiting Python GC) may legitimately remain cached
    before = big_cached()
    df = QUERIES["t23_bm25_search"](spark, SF)
    assert len(df.take(5)) == 5  # already materialized via localCheckpoint
    # the only NEW cached RDD may be the 15-row checkpoint, never the
    # token explode (which would be corpus-sized)
    leaked = big_cached() - before
    assert not leaked, f"corpus-sized cache must be unpersisted: {leaked}"


# --- client-side budgets: py4j round trips and Spark jobs of a session ------

_CUSTOMER_SCHEMA = ("customer_id long, first_name string, last_name string, "
                    "email string, phone string, tcid string, city string, "
                    "birth_date date, balance double, age int")


def _customer_frame(spark):
    import datetime

    return spark.createDataFrame(
        [(1, "Ali", "Kaya", "ali@mail.com", "05551234567", "10000000146",
          "Ankara", datetime.date(1990, 1, 2), 10.5, 34),
         (2, None, "Ak", "bad@", "0555 123", None, "Istanbul", None, None, 71)],
        _CUSTOMER_SCHEMA)


def _bench_rules():
    from dataqtor_spark.operators import rules as R

    return [R.rule_email("email"), R.rule_phone_tr("phone"),
            R.rule_tcid("tcid"), R.rule_domain("city")]


def _jobs(sc, group, fn):
    """Spark job ids that ``fn`` launches, counted by job group."""
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.sc().clearJobGroup()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_rules_build_py4j_budget(spark, py4j_calls):
    from dataqtor_spark.operators import rules as R

    df = _customer_frame(spark)
    with py4j_calls() as calls:
        R.evaluate_rules(df, _bench_rules())
    assert len(calls) <= 300, len(calls)  # Column composition: ~7,000


def test_profile_build_py4j_budget(spark, py4j_calls):
    from dataqtor_spark.operators import profile as P

    df = _customer_frame(spark)
    assert len(df.columns) == 10
    with py4j_calls() as calls:
        P.profile_columns(df)
    assert len(calls) <= 500, len(calls)  # Column composition: ~6,700


def test_detect_snapshot_and_report_job_budget(spark):
    from dataqtor_spark.operators import rules as R
    from dataqtor_spark.workbench import Workbench

    sc = spark.sparkContext
    df = _customer_frame(spark)
    lazy = _jobs(sc, "budget-lazy-summary",
                 lambda: R.evaluate_rules(df, _bench_rules()).collect())
    wb = Workbench(df)
    detect = _jobs(sc, "budget-detect",
                   lambda: wb.detect(_bench_rules()).collect())
    assert 0 < len(detect) <= len(lazy), (detect, lazy)
    wb.detect(_bench_rules())
    assert _jobs(sc, "budget-report", lambda: wb.report().collect()) == []


def test_workbench_measures_each_data_version_once(spark):
    """On one data version a repeated profile, and a null_profile of
    profiled columns, run no job; detect measures on every call, and every
    repair and checkpoint starts a version that is measured again."""
    from pyspark.sql import functions as F

    from dataqtor_spark.session import ROW_ID
    from dataqtor_spark.workbench import Workbench

    sc = spark.sparkContext
    wb = Workbench(_customer_frame(spark).withColumn(ROW_ID, F.col("customer_id")))
    assert _jobs(sc, "wb-profile", lambda: wb.profile().collect())
    assert _jobs(sc, "wb-profile-again", lambda: wb.profile().collect()) == []
    assert _jobs(sc, "wb-null-profile", lambda: wb.null_profile().collect()) == []
    assert _jobs(sc, "wb-detect", lambda: wb.detect(_bench_rules()).collect())
    assert _jobs(sc, "wb-detect-again", lambda: wb.detect(_bench_rules()).collect())
    repairs = [lambda: wb.title_case("city"), lambda: wb.fill_nulls("tcid", "0"),
               lambda: wb.drop_rows([2]), lambda: wb.update_cell(1, "phone", "x"),
               lambda: wb.sort_rows(["age"]), lambda: wb.project(wb.df.columns),
               wb.checkpoint]
    for i, repair in enumerate(repairs):
        wb.profile()
        repair()
        assert _jobs(sc, f"wb-null-profile-{i}",
                     lambda: wb.null_profile().collect()), i


# --- job counts of the barrier paths (connected_components runs in the
# corpus_dedup benchmark; ordered_prefix backs with_row_id) ---------------


def test_connected_components_job_budget(spark, monkeypatch):
    """A small graph resolves on the driver.  In one partition that is 1
    job, which collects its pairs: the result is an Arrow local relation,
    so the caller's collect of it runs none.  In 8 partitions the size
    probe's incremental take scans 1 partition, then 4, then the last 3,
    so it is 3.  The
    5,000-node path, routed to the distributed loop, converges in 13
    rounds (two of them parquet barriers) at the job count measured
    before barriers moved to one durability rule."""
    from pyspark.sql import functions as F

    from dataqtor_spark.operators import dedup as D

    sc = spark.sparkContext
    small = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12),
         (20, 21)], "id_a long, id_b long")
    one = small.coalesce(1)
    eight = small.repartition(8).localCheckpoint()
    chain = spark.range(4999).select(F.col("id").alias("id_a"),
                                     (F.col("id") + 1).alias("id_b"))
    n_one = len(_jobs(sc, "budget-cc-small",
                      lambda: D.connected_components(one).collect()))
    assert n_one == 1, n_one
    n_eight = len(_jobs(sc, "budget-cc-small-8",
                        lambda: D.connected_components(eight).collect()))
    assert n_eight == 3, n_eight
    monkeypatch.setattr(D, "_CC_DRIVER_EDGES_MAX", 0)
    n_chain = len(_jobs(sc, "budget-cc-chain",
                        lambda: D.connected_components(chain).collect()))
    assert n_chain == 87, n_chain


def test_connected_components_reads_pairs_once_above_bound(spark,
                                                           monkeypatch):
    """Above the driver bound the caller's lazy pairs plan runs once: the
    size probe and the loop's edges read one cached projection.  A
    counting UDF in the pairs plan sees each pair once."""
    from pyspark.sql import functions as F

    from dataqtor_spark.operators import dedup as D

    sc = spark.sparkContext
    seen = sc.accumulator(0)

    def tick(x):
        seen.add(1)
        return x

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12),
             (20, 21)]
    pairs = (spark.createDataFrame(edges, "id_a long, id_b long")
             .repartition(4)
             .select(F.udf(tick, "long")("id_a").alias("id_a"), "id_b"))
    monkeypatch.setattr(D, "_CC_DRIVER_EDGES_MAX", 3)
    comp = dict(D.connected_components(pairs).collect())
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10,
                    20: 20, 21: 20}
    assert seen.value == len(edges), seen.value


_MH_DOCS = [(i, f"w{i % 7} w{i % 5} w{i % 3} the quick brown fox")
            for i in range(40)]


def test_minhash_pairs_job_budget(spark):
    """Below the driver bound ``minhash_dedup_pairs`` is 2 jobs: one
    fills the signature cache and counts it, one collects it as Arrow;
    the result is a local relation, so the caller's collect runs none.
    The collect does not grow with partitions: 4 and 8 partitions both
    read 2.  One partition reads 4 because ``parallelize`` puts a
    round-robin exchange under the signatures, and AQE runs its map
    stage and the cache stage as jobs of their own."""
    from dataqtor_spark.operators import dedup as D

    sc = spark.sparkContext
    docs = spark.createDataFrame(_MH_DOCS, "doc_id long, text string")
    counts = {}
    for n, df in ((4, docs.repartition(4).localCheckpoint()),
                  (8, docs.repartition(8).localCheckpoint()),
                  (1, docs.coalesce(1))):
        counts[n] = len(_jobs(sc, f"budget-minhash-{n}", lambda: D.minhash_dedup_pairs(
            df, "doc_id", "text", threshold=0.5).collect()))
    assert counts == {4: 2, 8: 2, 1: 4}, counts


@pytest.mark.parametrize("bound", [None, 3])
def test_minhash_pairs_reads_signatures_once(spark, monkeypatch, bound):
    """The signature plan runs once below the driver bound and above it
    (bound 3): the count, the collect and the distributed plan's banding,
    cap count and two probes all read one cached table.  A counting UDF
    under the signatures sees each doc once."""
    from pyspark.sql import functions as F

    from dataqtor_spark.operators import dedup as D

    sc = spark.sparkContext
    seen = sc.accumulator(0)

    def tick(x):
        seen.add(1)
        return x

    docs = (spark.createDataFrame(_MH_DOCS, "doc_id long, text string")
            .repartition(4)
            .select("doc_id", F.udf(tick, "string")("text").alias("text")))
    if bound is not None:
        monkeypatch.setattr(D, "_MH_DRIVER_DOCS_MAX", bound)
    pairs = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
    assert pairs.count() > 0
    assert seen.value == len(_MH_DOCS), seen.value


@pytest.mark.parametrize("id_type, edges_max, driven_want", [
    ("long", 10, [False]), ("double", None, [])])
def test_minhash_pairs_fall_back_to_the_plan(spark, monkeypatch, id_type,
                                             edges_max, driven_want):
    """Buckets that would expand more than ``_CC_DRIVER_EDGES_MAX`` pairs
    send the call to the distributed plan before any pair is built, and
    ids whose Arrow order may not be Spark's (double) never reach the
    driver path; either way the rows are the distributed plan's."""
    from dataqtor_spark.operators import dedup as D

    docs = (spark.createDataFrame(_MH_DOCS, "doc_id long, text string")
            .selectExpr(f"CAST(doc_id AS {id_type}) AS doc_id", "text"))
    driven = []
    real = D._driver_minhash_pairs

    def spy(*a, **k):
        out = real(*a, **k)
        driven.append(out is not None)
        return out

    monkeypatch.setattr(D, "_driver_minhash_pairs", spy)
    if edges_max is not None:
        monkeypatch.setattr(D, "_CC_DRIVER_EDGES_MAX", edges_max)
    got = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
    assert driven == driven_want
    monkeypatch.setattr(D, "_MH_DRIVER_DOCS_MAX", 0)
    want = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
    assert driven == driven_want
    assert len(want.collect()) > 10
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.schema == want.schema


def test_ordered_prefix_job_budget(spark):
    from pyspark.sql import functions as F

    from dataqtor_spark.operators.ordered import ordered_prefix

    df = spark.range(0, 500).select(
        F.col("id"), ((F.col("id") * 37) % 101).cast("double").alias("v"))
    jobs = _jobs(spark.sparkContext, "budget-ordered-prefix",
                 lambda: ordered_prefix(
                     df, [F.col("v"), F.col("id")], sums={"c": F.col("v")},
                     out_rn="rn", partitions=7).collect())
    assert len(jobs) == 7, jobs


# --- tokenize once: no tokenizer of an outer column inside a lambda body
# (Catalyst does not hoist common subexpressions out of lambda bodies, so
# a tokenizer captured by a per-shingle lambda runs once per shingle) ---

_TOKENIZERS = ("StringSplit", "Lower", "StringTrim")


def _json_trees(obj):
    """Every serialized tree in a plan's ``toJSON()``: a list of nodes in
    pre-order, each carrying its ``num-children``."""
    if isinstance(obj, list):
        if obj and all(isinstance(x, dict) and "num-children" in x
                       for x in obj):
            yield obj
        for x in obj:
            yield from _json_trees(x)
    elif isinstance(obj, dict):
        for v in obj.values():
            yield from _json_trees(v)


def _subtree(nodes, i):
    j, todo = i + 1, nodes[i]["num-children"]
    while todo:
        todo += nodes[j]["num-children"] - 1
        j += 1
    return nodes[i:j]


def _tokenizer_census(df):
    """(tokenizer nodes in the optimized plan, those inside a lambda body
    over an outer attribute rather than a lambda variable)."""
    import json

    plan = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    seen, captured = 0, []
    for nodes in _json_trees(plan):
        for i, n in enumerate(nodes):
            name = n["class"].rsplit(".", 1)[-1]
            if name in _TOKENIZERS or name.startswith("RegExp"):
                seen += 1
            if name != "LambdaFunction":
                continue
            body = _subtree(nodes, i)
            for k, m in enumerate(body):
                inner = m["class"].rsplit(".", 1)[-1]
                if ((inner in _TOKENIZERS or inner.startswith("RegExp"))
                        and any(x["class"].endswith(".AttributeReference")
                                for x in _subtree(body, k))):
                    captured.append(inner)
    return seen, captured


def test_word_shingles_consumers_tokenize_once(spark, monkeypatch):
    """The six ``word_shingles`` consumers tokenize each doc once: no
    split/lower/trim/regexp of a column sits inside a lambda body.
    Persist and checkpoint barriers are no-ops here, so every consumer's
    whole plan is visible."""
    from dataqtor_spark.operators import dedup as D
    from dataqtor_spark.operators import textstats as TX
    from dataqtor_spark.streaming import profiler as SP

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "The quick brown fox leaps"),
         (3, None), (4, "")], "doc_id long, text string")
    for name in ("persist", "cache", "localCheckpoint"):
        monkeypatch.setattr(type(docs), name, lambda self, *a, **k: self)
    bench = docs.filter("doc_id = 1")
    consumers = {
        "minhash_signatures":
            D.minhash_signatures(docs, "doc_id", "text"),
        "minhash_signatures_portable":
            D.minhash_signatures_portable(docs, "doc_id", "text"),
        "minhash_containment_pairs_portable":
            D.minhash_containment_pairs_portable(docs, "doc_id", "text"),
        "decontaminate": TX.decontaminate(docs, bench),
        "stream_decontaminate": SP.stream_decontaminate(docs, bench),
    }
    census = {name: _tokenizer_census(df) for name, df in consumers.items()}
    assert all(seen for seen, _ in census.values()), census
    assert {n: c for n, (_, c) in census.items() if c} == {}
