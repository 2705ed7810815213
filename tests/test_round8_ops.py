"""Physical-layout and algebraic contracts for the late-round-8 additions
that the oracle hash can't see: s15's on-disk schema drift, d8's cogroup
plan shape and one-sided-key semantics, and l37's estimator invariants."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datums_warehouse_spark.functions import udf_surface
from datums_warehouse_spark.llm import dedup
from datums_warehouse_spark.sources import sinks
from datums_warehouse_spark.sources.tables import load, scratch_path


class TestSchemaEvolution:
    def test_on_disk_drift_is_real(self, spark, sf_dir):
        """v1 files must genuinely LACK event_type and v2 files carry it —
        otherwise the query grades a plain read, not a schema merge."""
        sinks.s15_schema_evolution(spark, sf_dir).collect()
        root = scratch_path("s15_schema_evolution", sf_dir)
        for version, has_col in (("v1", False), ("v2", True)):
            parts = [
                os.path.join(root, version, f)
                for f in os.listdir(os.path.join(root, version))
                if f.endswith(".parquet") and f.startswith("part-")
            ]
            assert parts, f"{version} wrote no parquet parts"
            for p in parts:
                names = pq.read_schema(p).names
                assert ("event_type" in names) == has_col, (version, p, names)

    def test_null_group_is_the_legacy_batch(self, spark, sf_dir):
        out = {
            r["event_type"]: r["n"]
            for r in sinks.s15_schema_evolution(spark, sf_dir).collect()
        }
        n_even = (
            load(spark, sf_dir, "events")
            .filter(F.col("event_id") % 2 == 0)
            .count()
        )
        assert out.get(None) == n_even


class TestCogroupPandas:
    def test_plan_is_cogrouped_pandas(self, spark, sf_dir):
        from datums_warehouse_spark.testing.plans import formatted_plan

        plan = formatted_plan(udf_surface.d8_cogroup_pandas(spark, sf_dir))
        assert "FlatMapCoGroupsInPandas" in plan

    def test_one_sided_keys_fire(self, spark, sf_dir):
        """Months present on only ONE side must still appear (the other
        frame arrives empty), with zero counts for the absent side — the
        semantics an inner join can't give. In the fixture the domains are
        fully disjoint (2024 events vs 1992-2001 orders), so every key
        exercises the empty-frame path."""
        from datums_warehouse_spark.sources.tables import events_us

        rows = {
            r["month"]: r
            for r in udf_surface.d8_cogroup_pandas(spark, sf_dir).collect()
        }
        ev_months = {
            r[0]
            for r in events_us(spark, sf_dir)
            .select(F.date_trunc("month", "ts"))
            .distinct()
            .collect()
        }
        od_months = {
            r[0]
            for r in load(spark, sf_dir, "orders")
            .select(F.date_trunc("month", "o_orderdate"))
            .distinct()
            .collect()
        }
        assert set(rows) == ev_months | od_months
        only_orders = od_months - ev_months
        only_events = ev_months - od_months
        assert only_orders and only_events, "fixture should have one-sided keys"
        for k in only_orders:
            assert rows[k]["n_events"] == 0 and rows[k]["n_orders"] > 0
        for k in only_events:
            assert rows[k]["n_orders"] == 0 and rows[k]["n_events"] > 0


class TestMinhashCalibration:
    def test_estimator_invariants(self, spark, sf_dir):
        rows = dedup.l37_minhash_calibration(spark, sf_dir).collect()
        assert rows, "LSH candidates exist in the fixture corpus"
        for r in rows:
            assert 0 <= r["matches"] <= dedup.N_HASHES
            assert r["est_jaccard"] == r["matches"] / dedup.N_HASHES
            assert r["n_pairs"] > 0
            assert 0.0 <= r["min_jaccard"] <= r["avg_jaccard"] <= r["max_jaccard"] <= 1.0
