"""The one timed pass (``observe.timed_pass``) every harness uses."""

from __future__ import annotations

from pyspark.sql import functions as F

from datums_warehouse_spark import observe


def test_timed_pass_runs_every_row_after_releasing_caches(spark, monkeypatch):
    """A Python-UDF column runs once per row on every timed pass, where
    ``.count()`` prunes it and runs it zero times; the dedup index is
    released before each clock starts, and the clock covers the query's
    construction."""
    calls = spark.sparkContext.accumulator(0)

    def tick(x):
        calls.add(1)
        return x

    tick_udf = F.udf(tick, "long")
    events: list[str] = []

    def query(spark_, sf_dir):
        events.append("build")
        return spark_.range(5).select(tick_udf("id").alias("v"))

    query(spark, "").count()
    assert calls.value == 0  # pruned: the column is never computed
    events.clear()

    monkeypatch.setattr(observe, "release_caches", lambda: events.append("release"))
    clock = observe.perf_counter

    def ticking_clock():
        events.append("clock")
        return clock()

    monkeypatch.setattr(observe, "perf_counter", ticking_clock)
    for n_passes in (1, 2):
        assert observe.timed_pass(spark, query, "") >= 0
        assert calls.value == 5 * n_passes
    assert events == ["release", "clock", "build", "clock"] * 2
