"""``session.local_frame`` against the retired ``createDataFrame(rows,
schema)`` form: the same schema (nullability included) and the same rows
over the type set of every driver-built relation in the engine, and no
Python worker in the lineage of what it builds."""

import time
from datetime import datetime, timedelta, timezone
from decimal import Decimal

import pytest
from pyspark.sql.types import (ArrayType, BooleanType, DecimalType,
                               DoubleType, IntegerType, LongType, StringType,
                               StructField, StructType, TimestampType)

from dataqtor_spark.session import local_frame

_SCHEMA = StructType([
    StructField("i", IntegerType(), False),
    StructField("b", LongType()),
    StructField("d", DoubleType()),
    StructField("m", DecimalType(18, 2)),
    StructField("f", BooleanType(), False),
    StructField("s", StringType()),
    StructField("ad", ArrayType(DoubleType())),
    StructField("al", ArrayType(LongType(), False)),
    StructField("aad", ArrayType(ArrayType(DoubleType()))),
])

_ROWS = [
    (1, 2 ** 40, 1.5, Decimal("12.34"), True, "İstanbul Iğdır Şişli çöğü",
     [1.0, None, -0.0], [1, 2 ** 35], [[1.0], [], [2.0, None]]),
    (-2 ** 31, -1, float("inf"), Decimal("-9999999999999999.99"), False, "",
     [], [], []),
    (0, None, None, None, True, None, None, None, None),
]


_TS_SCHEMA = StructType([
    StructField("t", TimestampType()),
    StructField("at", ArrayType(TimestampType())),
])

_TS_ROWS = [
    (datetime(2024, 3, 31, 1, 30, 0, 250), [datetime(1999, 12, 31, 23, 59)]),
    (datetime(2024, 1, 1, 12, tzinfo=timezone(timedelta(hours=-7))),
     [None, datetime(2024, 1, 1, 12, tzinfo=timezone.utc)]),
    (None, None),
]


@pytest.fixture
def local_zone(monkeypatch):
    """A Python process zone other than UTC (the Spark session's), so a
    naive datetime read in the wrong zone shows as a shifted value."""
    monkeypatch.setenv("TZ", "Asia/Kolkata")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("schema, rows", [
    (_SCHEMA, _ROWS),
    (_SCHEMA, []),
    ("cid int, dim int, val double", [(0, 0, 0.25), (0, 1, None), (3, 2, -1.0)]),
    ("n_child_distinct long, n_missing long, contained boolean", [(4, 0, True)]),
    ("merge_round int, sym_a string, sym_b string, merged string, n long",
     [(0, "ı", "ş", "ış", 7)]),
    ("poly_id int, xs array<double>, ys array<double>",
     [(1, [0.0, 40.0, 10.0], [0.0, 10.0, 40.0])]),
    ("epoch long", []),
    (_TS_SCHEMA, _TS_ROWS),
])
def test_local_frame_matches_retired_form(spark, local_zone, schema, rows):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert not _python_rdd(got)
    assert _python_rdd(want)


def test_local_frame_takes_an_arrow_table(spark):
    """A ``pyarrow.Table`` is taken column by column in field order: its
    names and Arrow types give way to the schema's."""
    import pyarrow as pa

    schema = "id string, n long, x double"
    rows = [("İstanbul", 1, 0.5), ("ığdır", None, None)]
    table = pa.table({"a": pa.array(["İstanbul", "ığdır"], pa.large_string()),
                      "b": pa.array([1, None], pa.int32()),
                      "c": [0.5, None]})
    got = local_frame(spark, table, schema)
    want = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert not _python_rdd(got)


def test_driver_built_results_have_no_python_worker(spark):
    from pyspark.sql import functions as F

    from dataqtor_spark.operators import dedup as D
    from dataqtor_spark.operators import selection as SEL

    pairs = spark.range(12).select(F.col("id").alias("id_a"),
                                   (F.col("id") % 4).alias("id_b"))
    comp = D.connected_components(pairs)
    assert dict(comp.collect()) == {i: i % 4 for i in range(12)}
    assert not _python_rdd(comp)
    docs = spark.createDataFrame([(1, "a b c d"), (2, "a b c d")],
                                 "doc_id long, text string")
    near = D.minhash_dedup_pairs(docs, "doc_id", "text")
    assert near.collect() == [(1, 2, 1.0)]
    assert not _python_rdd(near)
    points = spark.range(6).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"))
    chosen = SEL.kcenter_select(points, k=3)
    assert [r["rank"] for r in chosen.collect()] == [0, 1, 2]
    assert not _python_rdd(chosen)
