"""Round-12 OPTIMIZATION regression locks.

Each test pins one measured optimization so a refactor can't silently
undo it: the scale-gated scan spread, the j3 join orientation (fact table
must never be the broadcast side), comp19's semi-join prefilter, l50's
hashes-only dedup decision, and the label-propagation loop's conf
hygiene. Output-equivalence is separately guaranteed by the oracle gate;
here we pin the PLAN SHAPES the optimizations bought.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from datums_warehouse_spark import all_queries
from datums_warehouse_spark.sources.tables import load, spread
from datums_warehouse_spark.testing.plans import formatted_plan


def test_spread_is_a_noop_on_well_split_input(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    wide = docs.repartition(spark.sparkContext.defaultParallelism)
    assert spread(wide, "doc_id") is wide  # gate: already >= cores splits


def test_spread_widens_a_starved_scan(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = spread(docs, "doc_id")
    assert (
        out.rdd.getNumPartitions() == 2 * spark.sparkContext.defaultParallelism
    )
    assert "RepartitionByExpression" in out._jdf.queryExecution().logical().toString()


def test_spread_runs_no_job(spark, sf_dir):
    jobs = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
    spread(load(spark, sf_dir, "documents"), "doc_id")
    assert spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs() == jobs


def test_j3_never_broadcasts_the_fact_table(spark, sf_dir):
    """The r12 reorder exists because Catalyst broadcast the LINEITEM scan
    when the dim chain was spelled first (plans/r12/j3_star_join_before.txt
    op 22). Lock: no BroadcastExchange subtree may contain the lineitem
    scan."""
    plan = formatted_plan(all_queries()["j3_star_join"].fn(spark, sf_dir))
    # In the tree rendering a broadcast subtree is indented under its
    # BroadcastExchange line, so walk each lineitem scan's ancestor chain
    # (strictly-decreasing indents above it) and assert none is a
    # BroadcastExchange.
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    li_scan_ids = {
        m.group(1)
        for m in re.finditer(r"\((\d+)\) Scan parquet", plan)
        if "lineitem.parquet" in plan.split(f"({m.group(1)}) Scan parquet")[1][:400]
    }
    assert li_scan_ids, "lineitem scan not found in j3 plan"
    for line in lines:
        for sid in li_scan_ids:
            if f"Scan parquet  ({sid})" in line:
                indent = len(line) - len(line.lstrip(" :+-"))
                # ancestors = lines above with smaller indent; none may be
                # a BroadcastExchange (that would mean li is build-side)
                idx = lines.index(line)
                for prev in reversed(lines[:idx]):
                    pin = len(prev) - len(prev.lstrip(" :+-"))
                    if pin < indent:
                        assert "BroadcastExchange" not in prev, prev
                        indent = pin


def test_comp19_prefilters_the_fact_side(spark, sf_dir):
    plan = formatted_plan(
        all_queries()["comp19_min_cost_supplier"].fn(spark, sf_dir)
    )
    assert plan.count("LeftSemi") >= 2  # part + supplier key prefilters


def test_l50_decides_with_hashes_not_text(spark, sf_dir):
    """The reassembly must not shuffle line text: no collect_list of the
    line strings (only the removed line ordinals), and the corpus-count
    exchange carries the hash column only."""
    plan = formatted_plan(all_queries()["l50_c4_line_dedup"].fn(spark, sf_dir))
    # the only collect_list aggregates INT line ordinals, never strings
    for m in re.finditer(r"collect_list\(([^)]*)\)", plan):
        assert "line_no" in m.group(1)
    # no Exchange block may carry a string 'line' attribute (text column)
    for block in plan.split("\n\n"):
        if block.startswith("(") and ") Exchange" in block.splitlines()[0]:
            assert not re.search(r"\bline#\d+[,\]]", block), block


def test_label_propagation_restores_session_confs(spark, sf_dir):
    from datums_warehouse_spark.llm.dedup import min_label_propagation

    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    before_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (10, 11), (11, 10)], "u long, v long"
    ).localCheckpoint(eager=True)
    labels = {
        r["u"]: r["label"] for r in min_label_propagation(spark, edges).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts
    assert spark.conf.get("spark.sql.adaptive.enabled") == before_aqe


def test_l6_df_leg_reuses_the_tf_aggregate(spark, sf_dir):
    """df must derive from tf (count over the (doc, word) aggregate), not
    re-explode the token stream with its own countDistinct plan: exactly
    two token-stream Generates may appear (tf leg + AQE-reusable copy),
    and no 'count(distinct' over doc_id."""
    plan = formatted_plan(all_queries()["l6_tfidf"].fn(spark, sf_dir))
    assert "count(distinct" not in plan.lower()
    # ADVICE r12: the docstring's second promise was unimplemented — a
    # refactor re-exploding the token stream without countDistinct would
    # have passed. Pin it: tf leg + its AQE-reusable copy, nothing more
    # (each operator appears twice in a formatted plan: tree + details).
    import re

    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) <= 2
