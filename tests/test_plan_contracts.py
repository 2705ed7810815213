"""Physical-plan contracts — the scale properties the 100 TB design relies on.

The oracle gate proves results are right; these tests prove the PLANS are
right: filters reach the parquet scan, projections prune the read schema,
dimension joins broadcast, aggregations combine map-side, top-k never does
a global sort, and bucketed tables join without a shuffle. A regression in
any of these keeps results correct while silently destroying scale-out
behavior — exactly the class of bug a correctness gate can't see.

Plans are inspected pre-execution (AQE may re-optimize at runtime, but
only starting FROM this plan).
"""

from __future__ import annotations

import pytest

from datums_warehouse_spark import all_queries
from datums_warehouse_spark.testing.plans import formatted_plan

QUERIES = all_queries()


def plan_of(name: str, spark, sf_dir: str) -> str:
    return formatted_plan(QUERIES[name].fn(spark, sf_dir))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """Comparison predicates must land in the parquet scan's PushedFilters
    (row-group stats pruning at scale), not evaluate post-scan only."""
    plan = plan_of("p2_filter_comparison", spark, sf_dir)
    assert "PushedFilters:" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("LessThan" in l or "GreaterThan" in l or "IsNotNull" in l for l in pushed), pushed


def test_column_pruning_in_read_schema(spark, sf_dir):
    """Candles touch (ts, series, value) — the scan must not read the
    events table's other columns (ReadSchema is the column-pruning
    witness; events also carries event_id, user_id, props)."""
    plan = plan_of("a8_candles_1h", spark, sf_dir)
    schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schemas, plan
    assert all(
        "user_id" not in l and "props" not in l and "event_id" not in l for l in schemas
    ), schemas


def test_dim_joins_broadcast(spark, sf_dir):
    """The star join must broadcast its dimension sides — no shuffle of the
    fact table against region/nation."""
    plan = plan_of("j3_star_join", spark, sf_dir)
    assert plan.count("BroadcastExchange") >= 2
    assert "BroadcastHashJoin" in plan


def test_aggregation_is_two_phase(spark, sf_dir):
    """The candle aggregation must partial-aggregate map-side (partial_*
    functions before the Exchange) — at scale this is the difference
    between shuffling rows and shuffling groups."""
    plan = plan_of("a8_candles_1h", spark, sf_dir)
    assert "partial_min_by" in plan and "partial_sum" in plan
    # exactly one shuffle: the final aggregate's
    assert plan.count("hashpartitioning(") == 1, plan


def test_topk_plans_take_ordered(spark, sf_dir):
    """orderBy + limit must plan TakeOrderedAndProject (per-partition heap
    + merge), never a global sort."""
    plan = plan_of("o4_topk", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "w7_topk_per_group", "l3_cosine_topk", "l3_ivf_ann", "l3_sq_ann",
        "l3_matryoshka_ann", "l42_srp_ann", "l51_pq_ann", "l4_knn_within_label",
    ],
)
def test_topk_per_group_uses_window_group_limit(name, spark, sf_dir):
    """rank-then-filter must push the k-limit into the window operator
    (WindowGroupLimit, Spark 3.5+) instead of ranking every row — for the
    ANN family's shared top-k tail as for w7."""
    plan = plan_of(name, spark, sf_dir)
    assert "WindowGroupLimit" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Tables bucketed on the join key must join with zero Exchange below
    the join — the pay-once layout for repeated fact⋈fact joins."""
    from datums_warehouse_spark.sources.sinks import s2_bucketed_join

    plan = formatted_plan(s2_bucketed_join(spark, sf_dir))
    if "Bucketed: true" not in plan:
        pytest.skip("catalog unavailable — query fell back to plain scans")
    # the only shuffle allowed is the final aggregation's
    assert plan.count("hashpartitioning(") <= 1, plan


def test_incremental_read_prunes_partitions(spark, sf_dir):
    """The merge query's anti/semi joins must broadcast the touched-key
    set, never shuffle the stored side."""
    plan = plan_of("s6_merge_upsert", spark, sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan and "LeftAnti" in plan


def test_sq_ann_broadcasts_queries_not_corpus(spark, sf_dir):
    """Brute-force ANN must broadcast the small query set over the corpus
    scan — the corpus side must not move."""
    plan = plan_of("l3_sq_ann", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_zorder_pages_bound_both_dimensions(spark, monkeypatch):
    """Z-ordered pages must be selective on BOTH dims: a ts-sorted layout
    gives every page the full user span, so predicates on user prune
    nothing; the Morton layout must contract the median span of each
    dimension well below its global range (measured at 256-row pages on
    sf0.01 for enough pages to see the curve)."""
    import statistics

    import datums_warehouse_spark.operators.sort_set as SS

    monkeypatch.setattr(SS, "ZPAGE", 256)
    rows = SS.o6_zorder_layout(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) >= 30
    gx = max(r.x_max for r in rows) - min(r.x_min for r in rows)
    gy = max(r.y_max for r in rows) - min(r.y_min for r in rows)
    med_x = statistics.median(r.x_max - r.x_min for r in rows)
    med_y = statistics.median(r.y_max - r.y_min for r in rows)
    assert med_x <= 0.3 * gx, (med_x, gx)
    assert med_y <= 0.7 * gy, (med_y, gy)


@pytest.mark.parametrize("name", ["l16_sequence_packing", "o6_zorder_layout"])
def test_global_cumsums_have_no_single_partition_funnel(spark, sf_dir, name):
    """The two r06 'weak' rows used an unpartitioned window (whole input
    through one task). The sharded formulation must show a partitioned
    Window (__shard) and NO SinglePartition exchange anywhere — the 1-row
    bounds and num_shards-row offsets legs ride broadcast exchanges."""
    plan = plan_of(name, spark, sf_dir)
    assert "Exchange SinglePartition" not in plan, plan
    assert "__shard" in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan


def test_tfidf_broadcasts_df_and_n(spark, sf_dir):
    """TF-IDF's document-frequency table and corpus-count legs must attach
    broadcast-side (BroadcastHashJoin + broadcast cross join for the 1-row
    N) — the per-(doc,term) fact side must not shuffle twice."""
    plan = plan_of("l6_tfidf", spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row N cross join


def test_minhash_lsh_never_all_pairs(spark, sf_dir):
    """LSH candidate generation must be an equi-join on (band, bucket) —
    a cartesian/broadcast-nested-loop pair enumeration is the O(n²) shape
    the banding exists to avoid."""
    plan = plan_of("l2_minhash_lsh_pairs", spark, sf_dir)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_ann_candidates_equi_join(spark, sf_dir):
    """IVF ANN must probe candidates through an equi-join on the cell id,
    never a full cross of queries × corpus."""
    plan = plan_of("l3_ivf_ann", spark, sf_dir)
    assert "CartesianProduct" not in plan, plan


def test_asof_join_is_single_shuffle_window(spark, sf_dir):
    """The as-of join's union-tag formulation must cost one keyed shuffle
    on the join key (plus the two side-reduction aggregates sharing that
    partitioning) — no range-explosion join, no global sort."""
    plan = plan_of("j9_asof_join", spark, sf_dir)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    # every exchange hashes on user_id — one logical co-location, reused
    ex = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert ex and all("user_id" in l for l in ex), ex


def test_q6_scan_aggregate_has_no_shuffle(spark, sf_dir):
    """comp13 (TPC-H Q6) must be a pure scan-aggregate: all three range
    predicates pushed to the parquet reader, zero keyed shuffles (the only
    exchange is the final single-partition reduce)."""
    plan = plan_of("comp13_forecast_revenue", spark, sf_dir)
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "GreaterThanOrEqual(l_shipdate" in pushed, pushed
    assert "LessThan(l_quantity" in pushed, pushed
    assert plan.count("hashpartitioning(") == 0, plan


def test_q8_dims_broadcast_single_shuffle(spark, sf_dir):
    """comp15 (TPC-H Q8): an 8-table join whose only keyed shuffle is the
    final per-year aggregate — part/supplier/orders/customer/nation/region
    all attach broadcast-side at this scale, and the selective p_type and
    o_orderdate filters reach their scans."""
    plan = plan_of("comp15_national_market_share", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert plan.count("hashpartitioning(") == 1, plan
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "EqualTo(p_type,STANDARD)" in pushed, pushed


def test_q21_single_lineitem_scan(spark, sf_dir):
    """comp18 (TPC-H Q21): the window formulation must read lineitem ONCE —
    the EXISTS/NOT-EXISTS self-join formulation would scan it twice — and
    keep to ≤2 keyed shuffles (the order window + the final group-by)."""
    plan = plan_of("comp18_waiting_suppliers", spark, sf_dir)
    scans = [l for l in plan.splitlines() if "lineitem.parquet" in l]
    assert len(scans) == 1, scans
    assert plan.count("hashpartitioning(") <= 2, plan
