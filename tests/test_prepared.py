"""``functions/prepared.py``: the Column-tree memo lives as long as the
active SparkContext."""

from __future__ import annotations

from pyspark import SparkContext

from flink_cdc_log_connectors_spark.functions import prepared as prep


class _Context:
    """Stand-in SparkContext on the real py4j gateway."""

    def __init__(self, gateway):
        self._gateway = gateway


def test_memo_is_rebuilt_for_a_new_context(spark, monkeypatch):
    gateway = spark.sparkContext._gateway
    first, second = _Context(gateway), _Context(gateway)
    builds = []

    def build():
        builds.append(SparkContext._active_spark_context)
        return object()

    key = ("test_prepared_memo",)
    monkeypatch.setattr(SparkContext, "_active_spark_context", first)
    a = prep.prepared(key, build)
    assert prep.prepared(key, build) is a
    monkeypatch.setattr(SparkContext, "_active_spark_context", second)
    b = prep.prepared(key, build)
    assert prep.prepared(key, build) is b
    assert b is not a
    assert builds == [first, second]
    # the dead context's memo is released, not kept beside the live one
    assert prep._MEMO[0] is second
