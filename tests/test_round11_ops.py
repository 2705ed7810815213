"""Round-11 operator tests.

1. SQL5 DAG closure: the per-level DISTINCT is load-bearing — every node
   enters the closure exactly ONCE even though every key ≥ 64 has two
   parents and the A∘A / B∘A edge paths converge on the same grandparent.
   Checked three ways: node totals equal the table size, per-depth counts
   equal the base-8 digit-count population (a pure-arithmetic reference,
   independent of both engines), and converging nodes exist at every
   depth ≥ 2 (the diamonds are real, not vacuously deduped).
2. L48, the SemDeDup pair kernel with every cell salt-split
   (``hot_threshold=0``): the block partitioning is semantics-free — its
   output must equal l41's one-block-per-cell output BIT-FOR-BIT (same
   pair set, same raw cosines), and must be invariant to the split factor
   and the stripe chunk (a tiny split_target forces many cross-block
   rectangles, the code path a balanced corpus would underexercise).
3. The explicit-width kernel exchange (the AQE byte-coalescing fix) must
   appear in the plans of every routing of the pair kernel and of l47 —
   the regression that serialized a CPU-dense stage into two tasks stays
   fixed.
"""

from __future__ import annotations

import numpy as np
import pytest

from datums_warehouse_spark import all_queries


@pytest.fixture(scope="module")
def qs():
    return all_queries()


# --- sql5 ------------------------------------------------------------------


def _digit_count_population(n_keys: int) -> dict[int, int]:
    """Expected nodes per depth for keys 0..n_keys-1: depth = base-8 digit
    count − 1 (keys 0..7 are the depth-0 anchors)."""
    out: dict[int, int] = {}
    lo, depth = 0, 0
    while lo < n_keys:
        hi = 8 ** (depth + 1) if depth > 0 else 8
        out[depth] = min(hi, n_keys) - lo
        lo, depth = hi, depth + 1
    return out


@pytest.mark.parametrize(
    "sf,n_keys", [("/root/testdata/sf0.001", 200), ("/root/testdata/sf0.01", 2000)]
)
def test_sql5_each_node_visited_exactly_once(spark, qs, sf, n_keys):
    """The DISTINCT collapses converging paths: per-depth node counts equal
    the pure-arithmetic digit-count population — NOT the path count, which
    would be ~2^depth per node — and the closure total is the table size."""
    pdf = qs["sql5_dag_closure"].fn(spark, sf).toPandas()
    got = pdf.groupby("depth")["n_nodes"].sum().to_dict()
    assert got == _digit_count_population(n_keys)
    assert int(pdf["n_nodes"].sum()) == n_keys


def test_sql5_diamonds_are_real(spark, qs, sf_dir):
    """Every key ≥ 64 has two DISTINCT parents unless its last two base-8
    digits coincide — so converging nodes must exist at every depth ≥ 2,
    and their per-depth count equals the arithmetic expectation (7/8 of
    the depth's population)."""
    n_keys = 200  # sf0.001 part table
    pdf = qs["sql5_dag_closure"].fn(spark, sf_dir).toPandas()
    per_depth = pdf.groupby("depth")[["n_nodes", "n_converging"]].sum()
    for depth, row in per_depth.iterrows():
        if depth < 2:
            assert row["n_converging"] == 0  # keys < 64 have ≤ 1 parent
        else:
            expect = sum(
                1
                for k in range(8**depth, min(8 ** (depth + 1), n_keys))
                if (k // 8) % 8 != k % 8  # rules A and B give distinct parents
            )
            assert row["n_converging"] == expect > 0


def test_sql5_depth_grows_with_data(spark, qs):
    small = qs["sql5_dag_closure"].fn(spark, "/root/testdata/sf0.001").toPandas()
    big = qs["sql5_dag_closure"].fn(spark, "/root/testdata/sf0.01").toPandas()
    assert small["depth"].max() == 2
    assert big["depth"].max() == 3


# --- l48 ---------------------------------------------------------------------


def _sorted_pairs(pdf):
    cols = ["cid", "vec_a", "vec_b", "cosine"]
    return pdf[cols].sort_values(cols, ignore_index=True)


def test_l48_equals_l41_bit_for_bit(spark, qs, sf_dir):
    """Block partitioning must not change semantics: same pair set, same
    cosines to the last bit (the cumsum left-fold is commutative in the
    elementwise product, so rectangle orientation cannot matter)."""
    a = _sorted_pairs(qs["l41_semdedup_pairs"].fn(spark, sf_dir).toPandas())
    b = _sorted_pairs(qs["l48_semdedup_salted"].fn(spark, sf_dir).toPandas())
    assert a.equals(b)


def test_l48_split_factor_invariance(spark, qs, sf_dir, monkeypatch):
    """A split_target of 8 forces S-block splits and many cross-block
    rectangles on every cell; the output must still equal the one-block
    kernel's exactly — every unordered pair lands in exactly one block
    task regardless of S. A 3-row SEMDEDUP_PAIR_CHUNK runs the cross
    rectangles in many stripes, which must not change a bit either."""
    import datums_warehouse_spark.llm.similarity as S
    from datums_warehouse_spark.llm.similarity import (
        _semdedup_cells,
        _semdedup_pairs,
    )
    from pyspark.sql import functions as F

    cells = _semdedup_cells(spark, sf_dir)
    base = (
        _semdedup_pairs(cells)
        .select("cid", "vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine"))
        .toPandas()
    )
    default = S.SEMDEDUP_PAIR_CHUNK
    for target, chunk in ((8, default), (64, default), (8, 3)):
        monkeypatch.setattr(S, "SEMDEDUP_PAIR_CHUNK", chunk)
        salted = (
            _semdedup_pairs(
                _semdedup_cells(spark, sf_dir), hot_threshold=0, split_target=target
            )
            .select("cid", "vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine"))
            .toPandas()
        )
        assert _sorted_pairs(salted).equals(_sorted_pairs(base)), (target, chunk)


def test_l48_exercises_cross_blocks_at_graded_size(spark, sf_dir):
    """The graded configuration must actually split: at SALT_TARGET = 64
    the ~60-vector sf0.001 cells stay single-block, but sf0.01's ~250-
    vector cells produce S ≥ 2 — assert the exploded stream carries
    genuine cross groups (lo < hi) at sf0.01 so the driver's grading
    covers the rectangle kernel, not just the diagonal."""
    from datums_warehouse_spark.llm.similarity import (
        SEMDEDUP_SALT_TARGET,
        _semdedup_cells,
    )
    from pyspark.sql import functions as F, Window

    cells = _semdedup_cells(spark, "/root/testdata/sf0.01")
    w = Window.partitionBy("cid")
    n_blocks = (
        cells.withColumn("n_cell", F.count(F.lit(1)).over(w))
        .select(
            F.ceil(F.col("n_cell") / F.lit(SEMDEDUP_SALT_TARGET)).alias("s")
        )
        .agg(F.max("s").alias("mx"))
        .collect()[0]["mx"]
    )
    assert n_blocks >= 2


# --- l49 ---------------------------------------------------------------------


def test_l49_equals_l41_bit_for_bit(spark, qs, sf_dir):
    """The vectorized E-step must reproduce the interpreted fold exactly:
    np.cumsum is the same left fold as aggregate(zip_with(...)), d2 keeps
    the (vv − 2ab) + cc expression order, and argmin over the
    cid-ascending seed axis is the fold's strict-< lowest-cid tie-break —
    so the downstream pair set and cosines are identical to the last
    bit."""
    a = _sorted_pairs(qs["l41_semdedup_pairs"].fn(spark, sf_dir).toPandas())
    b = _sorted_pairs(qs["l49_semdedup_fast_estep"].fn(spark, sf_dir).toPandas())
    assert a.equals(b)


def test_l49_cell_assignment_matches_fold(spark, sf_dir):
    """Stronger than the pair-level check: the full (vec_id, cid, norm)
    assignment frame from the numpy E-step equals the JVM fold's. Since
    round 12 the kernel is the family default (``_semdedup_cells`` runs
    it), so the fold side here calls ``_assign_to_seeds`` DIRECTLY —
    this test is what keeps the retired fold a meaningful cross-engine
    reference path rather than dead code."""
    from datums_warehouse_spark.llm.similarity import (
        _assign_to_seeds,
        _assign_to_seeds_fast,
        _semdedup_seeds,
    )
    from datums_warehouse_spark.sources.tables import load

    cols = ["vec_id", "cid", "norm"]
    emb = load(spark, sf_dir, "embeddings")
    fold = (
        _assign_to_seeds(emb, _semdedup_seeds(emb))
        .select(*cols)
        .toPandas()
        .sort_values("vec_id", ignore_index=True)
    )
    fast = (
        _assign_to_seeds_fast(emb, _semdedup_seeds(emb))
        .select(*cols)
        .toPandas()
        .sort_values("vec_id", ignore_index=True)
    )
    assert fold.equals(fast)


# --- kernel exchange width ---------------------------------------------------


@pytest.mark.parametrize(
    "name",
    ["l41_semdedup_pairs", "l47_incremental_semdedup", "l48_semdedup_salted"],
)
def test_kernel_stages_pin_their_exchange_width(spark, qs, sf_dir, name):
    """The pair kernels are CPU-dense but byte-light; AQE's byte-based
    partition coalescing serialized them into two tasks on the hot-cell
    layout (round 11, measured 13.9 s → 2.7 s with the fix). The fix is a
    REPARTITION_BY_NUM exchange, which AQE never coalesces — pin that the
    plan still carries it."""
    from datums_warehouse_spark.testing.plans import formatted_plan

    plan = formatted_plan(qs[name].fn(spark, sf_dir))
    assert "REPARTITION_BY_NUM" in plan, name


@pytest.mark.parametrize(
    "name,exchanges",
    [
        ("l41_semdedup_pairs", 2),
        ("l41_semdedup_materialize", 6),
        ("l48_semdedup_salted", 4),
        ("l52_semdedup_adaptive", 4),
    ],
)
def test_one_block_routing_builds_no_window(spark, qs, sf_dir, name, exchanges):
    """No routing sorts a cell through a window. With no hot threshold
    (l41) the pair kernel groups by cid alone, with no extra shuffle; with
    one (l48, l52) the cell sizes come from a partial-aggregated
    ``groupBy("cid").count()`` broadcast back on cid, so a hot cell is
    counted across tasks. Pins the sf0.01 plan's shuffle-Exchange
    mentions (node tree plus node details, broadcasts excluded) at their
    measured values."""
    import os
    import re

    from datums_warehouse_spark.testing.plans import formatted_plan

    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    plan = formatted_plan(qs[name].fn(spark, sf001))
    assert "Window" not in plan, plan
    assert len(re.findall(r"(?<!Broadcast)Exchange", plan)) == exchanges, plan
