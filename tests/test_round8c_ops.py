"""Physical-layout and algebraic contracts for the late-round-8 additions
that the oracle hash can't see: x11's dwell-time tiling, s16's interval
algebra, s17's on-disk partition layout and per-write overwrite mode, d9's Arrow plan + pushdown, l39's
band accounting, and l40's side discipline."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from datums_warehouse_spark import all_queries
from datums_warehouse_spark.llm import dedup
from datums_warehouse_spark.operators import timeseries
from datums_warehouse_spark.sources import sinks
from datums_warehouse_spark.sources.tables import events_us, scratch_path
from datums_warehouse_spark.testing.compare import compare_frames


class TestTwap:
    def test_dwell_bounded_by_series_span(self, spark, sf_dir):
        """Dwell intervals never overlap: each bucket's total dwell is at
        most one hour, and each series' total dwell is at most (last
        bucket end − first print) — with strict equality impossible to
        assert because an hour with no prints leaves a deliberate hole
        (the last print of a bucket is carried only to ITS bucket end,
        never across empty hours). A double-count breaks both bounds."""
        out = timeseries.x11_twap(spark, sf_dir)
        per_bucket_bad = out.filter(
            F.col("dwell_us") > timeseries.HOUR_US
        ).count()
        assert per_bucket_bad == 0
        got = {
            r["series"]: (r["dwell"], r["last_end"])
            for r in out.groupBy("series")
            .agg(
                F.sum("dwell_us").alias("dwell"),
                (F.max(F.unix_micros("bucket")) + timeseries.HOUR_US).alias(
                    "last_end"
                ),
            )
            .collect()
        }
        firsts = {
            r["series"]: r["t0"]
            for r in events_us(spark, sf_dir)
            .groupBy(F.col("event_type").alias("series"))
            .agg(F.min(F.unix_micros("ts")).alias("t0"))
            .collect()
        }
        for series, (dwell, last_end) in got.items():
            assert 0 < dwell <= last_end - firsts[series], series

    def test_weights_are_positive(self, spark, sf_dir):
        bad = (
            timeseries.x11_twap(spark, sf_dir)
            .filter((F.col("dwell_us") <= 0) | F.col("twap").isNull())
            .count()
        )
        assert bad == 0


class TestScd2:
    def test_interval_algebra(self, spark, sf_dir):
        rows = sinks.s16_scd2_history(spark, sf_dir).collect()
        by_key: dict[int, list] = {}
        for r in rows:
            by_key.setdefault(r["o_custkey"], []).append(r)
        assert by_key
        for key, vs in by_key.items():
            vs.sort(key=lambda r: r["version"])
            # versions contiguous from 1; exactly one open (current) row
            assert [r["version"] for r in vs] == list(range(1, len(vs) + 1)), key
            assert sum(r["is_current"] for r in vs) == 1 and vs[-1]["is_current"]
            for a, b in zip(vs, vs[1:]):
                # intervals chain: each version closes where the next opens
                assert a["valid_to"] == b["valid_from"], key
                # change-point compression: no no-op versions
                assert a["priority"] != b["priority"], key


class TestDynamicOverwrite:
    def test_partition_layout_and_restatement(self, spark, sf_dir):
        out = sinks.s17_dynamic_overwrite(spark, sf_dir)
        rows = {r["day"]: (r["n"], r["total_value"]) for r in out.collect()}
        src = events_us(spark, sf_dir).select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "value"
        )
        base = {
            r["day"]: (r["n"], r["tv"])
            for r in src.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
            .collect()
        }
        d0 = min(base)
        # restated day: same row count, doubled total; every other day intact
        assert rows[d0][0] == base[d0][0]
        assert abs(rows[d0][1] - 2 * base[d0][1]) < 1e-6 * abs(base[d0][1])
        for day in base:
            if day != d0:
                assert rows[day][0] == base[day][0], day
        # on-disk: one hive directory per day survived the dynamic overwrite
        root = scratch_path("s17_dynamic_overwrite", sf_dir)
        days = {d for d in os.listdir(root) if d.startswith("day=")}
        assert days == {f"day={d}" for d in base}

    def test_leaves_the_session_conf_alone(self, spark, sf_dir, duck, monkeypatch):
        """The restatement asks for dynamic partition overwrite on its own
        write, not by toggling the shared session value (which races with
        other writers on the session): with ``spark.conf.set`` raising, s17
        still matches its oracle."""

        def refuse(*_a, **_k):
            raise AssertionError("s17 must not set session conf")

        monkeypatch.setattr(spark.conf, "set", refuse)
        out = sinks.s17_dynamic_overwrite(spark, sf_dir)
        monkeypatch.undo()

        oracle = duck.execute(all_queries()["s17_dynamic_overwrite"].oracle).fetchdf()
        res = compare_frames("s17_dynamic_overwrite", out.toPandas(), oracle)
        assert res, res.detail


class TestIterPandasUdf:
    def test_plan_is_arrow_with_pushdown(self, spark, sf_dir):
        from datums_warehouse_spark.functions.udf_surface import (
            d9_iter_pandas_udf,
        )
        from datums_warehouse_spark.testing.plans import formatted_plan

        plan = formatted_plan(d9_iter_pandas_udf(spark, sf_dir))
        assert "ArrowEvalPython" in plan
        # the quantity predicate must reach the scan, not hide in Python
        assert "GreaterThanOrEqual(l_quantity" in plan


class TestPerplexityBuckets:
    def test_band_accounting(self, spark, sf_dir):
        from datums_warehouse_spark.llm.text import l39_perplexity_buckets

        rows = l39_perplexity_buckets(spark, sf_dir).collect()
        by_lang: dict[str, float] = {}
        for r in rows:
            assert r["bucket"] in {"head", "middle", "tail"}
            by_lang[r["lang"]] = by_lang.get(r["lang"], 0.0) + r["share"]
        assert by_lang
        for lang, total in by_lang.items():
            assert abs(total - 1.0) < 1e-9, lang


class TestIncrementalDedup:
    def test_side_discipline(self, spark, sf_dir):
        """Every emitted pair must cross the wall: doc_new from the new
        batch (doc_id % 3 == 0), dup_of from the standing index — an
        intra-batch or intra-index pair means the probe degenerated back
        into a self-join."""
        rows = dedup.l40_incremental_dedup(spark, sf_dir).collect()
        for r in rows:
            assert r["doc_new"] % 3 == 0, r
            assert r["dup_of"] % 3 != 0, r
            assert r["jaccard"] >= dedup.JACCARD_THRESHOLD, r
