"""CI-style mirror of the grading driver's smoke check: ``entry(spark)``
must run end-to-end on sf0.001 and produce >0 rows with a stable schema,
and the registry surfaces must stay consistent (every oracle names a
registered query; the driver-graded prefix is well-formed)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_entry_runs_and_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    # stable schema across invocations (the driver re-runs entry)
    assert e.entry(spark).schema == df.schema


def test_registry_surfaces_consistent(spark):
    import __spark_entry__ as e
    from dataqtor_spark.queries import GRADED_PREFIX

    qs, oracles = e.queries(), e.oracle_sql()
    assert len(qs) >= 281
    missing = [n for n in oracles if n not in qs]
    assert not missing, f"oracles for unregistered queries: {missing}"
    # the driver grades the first 50: exactly GRADED_PREFIX (a short, long
    # or duplicated list, or a later rebind, breaks the equality), and they
    # must all be hash-checkable
    first50 = list(qs)[:50]
    assert first50 == GRADED_PREFIX
    assert all(n in oracles for n in first50)


def test_bench_and_probe_lists_name_registered_queries():
    import bench
    from tools.scale_probe_100x import AT_REST as PROBE_AT_REST
    from tools.scale_probe_100x import QUERY_NAMES

    import __spark_entry__ as e

    qs = e.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, f"bench.HEADLINE names unknown queries: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert bench.AT_REST <= set(bench.HEADLINE)
    missing = [n for n in QUERY_NAMES if n not in qs]
    assert not missing, f"probe list names unknown queries: {missing}"
    assert PROBE_AT_REST <= set(QUERY_NAMES)
