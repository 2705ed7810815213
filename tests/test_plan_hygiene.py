"""Global plan-hygiene gate over EVERY registered query.

test_plan_contracts.py pins named queries' plans in detail; this suite
sweeps the whole registry for the three silent scale-killers:

- a CartesianProduct node (O(n²) pair enumeration an equi-join should
  have expressed);
- row-at-a-time Python UDF execution (BatchEvalPython) outside the
  deliberate D-surface — everything else must stay JVM-side or use
  Arrow-batched pandas execution;
- pandas-batch nodes (Arrow transfer) outside the sanctioned escape
  hatches — built-ins first, Python only where semantics genuinely
  require it.

Plans are built once per query at sf0.001 (structure, not data, is under
test; queries whose construction executes work are exercised elsewhere).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

from datums_warehouse_spark import all_queries
from datums_warehouse_spark.registry import eager_names, plan_safe_eager_names
from datums_warehouse_spark.testing.plans import formatted_plan

# Construction executes work (sinks write, streams run, iterative loop) —
# covered by the oracle/parity suites instead. The plan_safe eager
# sub-class (SemDeDup's bounded 1-row seed collect) stays IN this sweep:
# those plans are bench-headline evidence and construction is harmless.
CONSTRUCTION_RUNS = eager_names() - plan_safe_eager_names()

# The deliberate row-at-a-time UDF surface (SURVEY.md §2.12) — the point of
# these queries IS the slow path, demonstrated and graded as such.
ROW_UDF_ALLOWED = {"d1_scalar_udf", "d4_python_udtf", "d5_sql_registration",
                   "d10_udtf_table_arg"}

# Arrow-batched Python: the sanctioned escape hatches where built-ins
# genuinely can't express the semantics (recursive EMA state, grouped
# model-apply, binary feature extraction) + the D-surface demos.
PANDAS_ALLOWED = {
    "d2_pandas_udf",
    "d2_pandas_udaf",
    "d3_grouped_apply",
    "d6_arrow_udf",            # Arrow-path scalar UDF (useArrow=True)
    "d7_map_in_arrow",         # raw RecordBatch mapInArrow demo
    "d8_cogroup_pandas",       # cogrouped-map applyInPandas demo
    "d9_iter_pandas_udf",      # iterator pandas UDF (per-worker init) demo
    "x6_ema",                  # recursive filter: y[i] = f(y[i-1])
    "x3b_interpolate_scaled",  # chunked applyInPandas interpolation
    "l9_multimodal_features",  # mapInPandas binary feature extraction
    # SemDeDup's within-cell pairwise cosine: dense linear algebra as one
    # vectorized numpy pair kernel (_semdedup_pairs, the brief's sanctioned
    # pattern for similarity) — the interpreted per-pair SQL fold was
    # allocation-bound and super-linear at the 32× stress scale; cumsum
    # keeps the exact left-fold sum order so the SQL oracle still
    # hash-matches.
    "l41_semdedup_pairs",        # one block per cell
    "l41_semdedup_materialize",  # one block per cell, then the drop rule
    "l47_incremental_semdedup",  # the same pair loop, new × index per cell
    "l48_semdedup_salted",       # every cell salt-split (hot_threshold=0)
    "l49_semdedup_fast_estep",   # l41's plan, kept as the E-step's key
    "l52_semdedup_adaptive",     # per-cell routing (SEMDEDUP_ADAPTIVE_HOT)
}

PANDAS_NODES = (
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "AggregateInPandas",
    "MapInArrow",
)


@pytest.fixture(scope="module")
def plans(spark, sf_dir) -> dict[str, str]:
    return {
        name: formatted_plan(q.fn(spark, sf_dir))
        for name, q in all_queries().items()
        if name not in CONSTRUCTION_RUNS
    }


def test_no_cartesian_products(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not offenders, offenders


def test_row_udfs_only_in_d_surface(plans):
    offenders = [
        n for n, p in plans.items() if "BatchEvalPython" in p and n not in ROW_UDF_ALLOWED
    ]
    assert not offenders, offenders


def test_pandas_nodes_only_where_sanctioned(plans):
    offenders = [
        n
        for n, p in plans.items()
        if any(m in p for m in PANDAS_NODES) and n not in PANDAS_ALLOWED
    ]
    assert not offenders, offenders


def test_global_sorts_only_in_sort_family(plans):
    """Range-partitioned exchanges (global sorts) belong to the O-family
    queries whose semantics ARE a total order; anywhere else a window or
    top-k shape was available."""
    allowed = {"o1_global_sort", "o2_multikey_sort", "o3_limit_offset",
               "x8_m4_downsample"}
    offenders = [
        n for n, p in plans.items() if "Exchange rangepartitioning" in p and n not in allowed
    ]
    assert not offenders, offenders


REPO = Path(__file__).resolve().parents[1]
HARNESSES = [REPO / "bench.py", *sorted((REPO / "scripts").glob("*.py"))]
PACKAGE = REPO / "datums_warehouse_spark"


def _function_source(src: str, name: str) -> str:
    return next(
        ast.get_source_segment(src, node)
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.FunctionDef) and node.name == name
    )


def _matches(label: str, src: str, pattern: str) -> list[str]:
    return [
        f"{label}:{src[: m.start()].count(chr(10)) + 1} {m.group(0)}"
        for m in re.finditer(pattern, src)
    ]


def _package_matches(pattern: str, home: str, helper: str) -> list[str]:
    """Matches of ``pattern`` in the package's code, outside the function
    ``helper`` of the module ``home``."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel, src = path.relative_to(PACKAGE).as_posix(), path.read_text()
        if rel == home and f"def {helper}(" in src:
            body = _function_source(src, helper)
            src = src.replace(body, "\n" * body.count("\n"))
        offenders += _matches(rel, src, pattern)
    return offenders


def test_one_scratch_space():
    """Every file the package writes for itself (writer queries, the
    stream landing zone and checkpoints, the DuckDB spill) lives under
    ``tables.scratch_path``'s root, which is private to the process and
    removed at exit. No other code names a temp directory."""
    offenders = _package_matches(
        r"tempfile|gettempdir|mkdtemp|[\"']/tmp", "sources/tables.py", "scratch_path"
    )
    assert not offenders, offenders


def test_one_stream_drain():
    """Every genuine stream runs to the end of its input through
    ``batch_equiv._drain``, the one ``availableNow`` trigger."""
    offenders = _package_matches(
        r"availableNow\s*=\s*True", "streaming/batch_equiv.py", "_drain"
    )
    assert not offenders, offenders


def test_only_observe_times_queries():
    """bench.py and scripts/*.py time no query themselves: every query
    timing goes through ``observe.timed_pass``, which releases the dedup
    index before its clock starts and runs the query to its last row
    (``.count()`` would time a pruned plan). The scan is textual, so code
    a harness runs in a child process (corescale's ``_CHILD``) is covered
    too. bench's machine calibration ``_calib`` is the one clock a
    harness reads, and it counts no query result."""
    offenders = []
    for path in HARNESSES:
        src = path.read_text()
        if path.name == "bench.py":
            calib_src = _function_source(src, "_calib")
            assert ".count()" not in calib_src, calib_src
            src = src.replace(calib_src, "\n" * calib_src.count("\n"))
        offenders += _matches(path.name, src, r"perf_counter|release_caches")
    assert not offenders, offenders


def test_one_candle():
    """The six OHLCV aggregates are written once, in ``candles.candles``,
    and their DuckDB twin once, in ``candles.candles_oracle``: every candle
    in the package (A8, T1, X1, s6, s8, T9 and the Warehouse facade)
    passes its bucket to those two."""
    for pattern in (r'min_by\("value", "ts"\)', r"arg_min\(value, ts\) AS open"):
        hits = [
            hit
            for path in sorted(PACKAGE.rglob("*.py"))
            for hit in _matches(
                path.relative_to(PACKAGE).as_posix(), path.read_text(), pattern
            )
        ]
        assert len(hits) == 1 and hits[0].startswith("operators/candles.py:"), hits
