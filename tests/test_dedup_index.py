"""The dedup index (llm/dedup.py ``_DedupIndex``): the MinHash/LSH chain
is derived once per (session, sf_dir) and every consumer reads its stages.

Whether a stage ran is read from Spark's SQL status store, not from the
pre-execution plan: a cached stage still shows its whole subtree in every
consumer's plan, but only the execution that builds it reports rows for
that subtree's operators."""

from __future__ import annotations

import re

import pytest

from datums_warehouse_spark import all_queries
from datums_warehouse_spark.functions.hashing import MINHASH_P
from datums_warehouse_spark.llm import dedup as DD


def _seq(spark, scala_seq) -> list:
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def _last_execution(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    n = int(store.executionsCount())
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def _is_shingle_or_minhash(name: str, desc: str) -> bool:
    return (name == "Generate" and "md5" in desc) or (
        name == "HashAggregate" and f"% {MINHASH_P})" in desc
    )


def _built_since(spark, mark: int) -> list[str]:
    """Shingle Generates and minhash aggregates that produced rows in SQL
    executions newer than ``mark``."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = int(store.executionsCount())
    executions = store.executionsList(0, n)
    ran = []
    for i in range(executions.size()):
        eid = executions.apply(i).executionId()
        if eid <= mark:
            continue
        values = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            store.executionMetrics(eid)
        )
        for node in _seq(spark, store.planGraph(eid).allNodes()):
            if not _is_shingle_or_minhash(node.name(), node.desc()):
                continue
            for metric in _seq(spark, node.metrics()):
                if metric.name() == "number of output rows":
                    rows = values.get(metric.accumulatorId())
                    if rows and int(rows.replace(",", "")) > 0:
                        ran.append(f"execution {eid}: {node.desc()[:80]}")
    return ran


def _run(spark, sf_dir: str, name: str):
    all_queries()[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def _walk(spark, root):
    """Every node of an executed plan, entering adaptive plans, query
    stages, reused exchanges and cached relations; each cached relation is
    entered once. Yields (node, id of the cached relation it sits in)."""
    seen: set[int] = set()
    stack = [(root, None)]
    while stack:
        node, rel = stack.pop()
        yield node, rel
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            assert "isFinalPlan=true" in node.simpleString(1), "plan not executed"
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif cls == "ReusedExchangeExec":
            kids = [node.child()]
        elif cls == "InMemoryTableScanExec":
            rel_id = spark._jvm.System.identityHashCode(node.relation().cacheBuilder())
            if rel_id in seen:
                continue
            seen.add(rel_id)
            stack.append((node.relation().cachedPlan(), rel_id))
            continue
        else:
            kids = _seq(spark, node.children())
        stack.extend((k, rel) for k in kids)


@pytest.fixture
def fresh_index():
    DD.release_caches()
    yield
    DD.release_caches()


def test_one_minhash_aggregate_feeds_bands_and_sizes(spark, sf_dir, fresh_index):
    """In the final adaptive plan of l2_minhash_lsh_pairs, ONE aggregate
    over the shingle scan computes the minhashes and the shingle counts,
    and both the LSH bands and the Jaccard sizes read it. Uncached, column
    pruning split that aggregate into a minhash pass and a count pass."""
    df = all_queries()["l2_minhash_lsh_pairs"].fn(spark, sf_dir)
    df.collect()
    nodes = list(_walk(spark, df._jdf.queryExecution().executedPlan()))

    per_doc = [
        (node, rel)
        for node, rel in nodes
        if node.getClass().getSimpleName() == "HashAggregateExec"
        and re.match(r"HashAggregate\(keys=\[doc_id#\d+L?\], ", node.simpleString(1000))
        and "partial_" not in node.simpleString(1000)
    ]
    assert len(per_doc) == 1, [n.simpleString(200) for n, _ in per_doc]
    agg, sig_rel = per_doc[0]
    assert f"% {MINHASH_P})" in agg.simpleString(1000)
    out = {a.name() for a in _seq(spark, agg.output())}
    assert {f"mh{i}" for i in range(DD.N_HASHES)} | {"n"} <= out

    # every read of the signature relation: the bands read mh*, sizes read n
    reads = [
        {a.name() for a in _seq(spark, node.output())}
        for node, _ in nodes
        if node.getClass().getSimpleName() == "InMemoryTableScanExec"
        and spark._jvm.System.identityHashCode(node.relation().cacheBuilder()) == sig_rel
    ]
    assert any("mh0" in cols and "n" not in cols for cols in reads), reads
    assert any("n" in cols and "mh0" not in cols for cols in reads), reads


def test_pair_consumers_reuse_the_built_index(spark, sf_dir, fresh_index):
    """Once l2_minhash_lsh_pairs has run, l26, l2_dedup_clusters and l29
    compose from the index: none of them runs the shingle projection or
    the minhash aggregate again."""
    mark = _last_execution(spark)
    _run(spark, sf_dir, "l2_minhash_lsh_pairs")
    assert _built_since(spark, mark), "probe saw no build at all"
    mark = _last_execution(spark)
    for name in ("l26_cross_split_leakage", "l2_dedup_clusters", "l29_dedup_materialize"):
        _run(spark, sf_dir, name)
    assert _built_since(spark, mark) == []


def test_release_empties_the_cache_and_the_next_query_rebuilds(spark, sf_dir, fresh_index):
    _run(spark, sf_dir, "l2_minhash_lsh_pairs")
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert not cache.isEmpty()
    DD.release_caches()
    assert cache.isEmpty()
    mark = _last_execution(spark)
    _run(spark, sf_dir, "l2_minhash_lsh_pairs")
    assert _built_since(spark, mark)


def test_l29_on_a_fresh_index_matches_l29_after_clusters(spark, sf_dir, fresh_index):
    l29 = all_queries()["l29_dedup_materialize"].fn
    first = sorted(l29(spark, sf_dir).collect())
    DD.release_caches()
    all_queries()["l2_dedup_clusters"].fn(spark, sf_dir).collect()
    assert sorted(l29(spark, sf_dir).collect()) == first


def test_index_follows_the_files_it_was_asked_for(spark, sf_dir, fresh_index):
    """A query for other files replaces the live index instead of serving
    the previous files' stages."""
    index = DD.dedup_index(spark, sf_dir)
    assert DD.dedup_index(spark, sf_dir) is index
    other = DD.dedup_index(spark, sf_dir + "/")
    assert other is not index
    assert DD.dedup_index(spark, sf_dir) is not index
