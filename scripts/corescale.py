"""Core-count scaling curve: the same headline plans on local[2/8/32].

STRESS.md shows how the plans behave as DATA grows on fixed cores; this
harness shows the other axis — fixed data (sf0.1), growing cores — i.e.
whether the plans actually parallelize or are serialized behind a
single-task stage (the local-mode proxy for "would 1000 executors help?").
Each core count runs in a FRESH subprocess (Spark master is fixed at
session start) with shuffle partitions = cores, one warm pass then the
min of 3 timed passes (``observe.timed_pass``: each query to its last
row), writing CORESCALE.md.

Measured on the 8x-replicated stress warehouse (4.8M lineitem, 800k
events, 40k documents), NOT raw sf0.1: at sf0.1 every headline query
finishes in fractions of a second, so per-stage scheduling overhead
swamps the curve and the result reads as "cores don't help" — an
artifact of the data size, not the plans (measured: 6.2s -> 6.8s flat
across 2->32 cores at sf0.1). The 8x layout gives each stage enough
work for the parallelism to be observable. Builds the layout if the
stress harness hasn't already.

    python scripts/corescale.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = (2, 8, 32)
MULT = 8  # stress-layout multiplier to measure on

# A parallelism-sensitive slice of the bench headline: scan-agg, shuffle
# joins, windows, sessionization, the LSH pair pipeline, text aggregation,
# and the positional-gram passage detector (the two heaviest L rows).
# r09 (VERDICT r08 task 6) adds the three steepest round-8 stress rows so
# the parallelism claim covers the iterative plan (l2_dedup_clusters:
# pointer-jumping label propagation), the index-probe dedup
# (l40_incremental_dedup), and the write path (s17_dynamic_overwrite).
QUERIES = [
    "a1_pricing_summary",
    "a8_candles_1h",
    "j2_shuffle_fact_join",
    "j3_star_join",
    "t3_session_window",
    "l2_minhash_lsh_pairs",
    "l6_tfidf",
    "l33_dup_passages",
    "l2_dedup_clusters",
    "l40_incremental_dedup",
    "s17_dynamic_overwrite",
    # round-9 session 2: the quadratic within-cell pair fold now rides an
    # explicit cid repartition — core scaling IS the claim being fixed
    "l41_semdedup_pairs",
    # round-9 session 3: the inverted-index novelty profile (hash-keyed
    # gram exchange — the l21/l33 shape family's newest member)
    "l45_ngram_novelty",
    # round-10: the incremental SemDeDup loop — the K ∝ N parallelism
    # claim for the applyInPandas kernel family, measured on the
    # incremental (new-vs-index) variant as well as l41's self-dedup
    "l47_incremental_semdedup",
    # round-11: the salt-split kernel — parallelism is its entire reason
    # to exist, so its core curve belongs here (on the BALANCED 8× layout
    # it should track l41 + the split overhead; the hot-cell win lives in
    # STRESS.md's dedicated section)
    "l48_semdedup_salted",
    # round-12: the adaptive per-cell routed kernel (production default
    # shape — its curve should sit between l41's and l48's on the
    # balanced layout) and the C4 line dedup (hash-agg + join-back —
    # the l33 shape family's newest member)
    "l52_semdedup_adaptive",
    "l50_c4_line_dedup",
]

_CHILD = r"""
import json, sys
sys.path.insert(0, {root!r})
from datums_warehouse_spark import all_queries
from datums_warehouse_spark.observe import timed_pass
from datums_warehouse_spark.session import get_spark

# the master comes from SPARK_GRAFT_CPUS in this child's environment; the
# fresh JVM is what makes that (and the same heap at every core count)
# take effect
spark = get_spark("corescale-{cores}")
spark.conf.set("spark.sql.shuffle.partitions", "{cores}")
qs = all_queries()
out = {{}}
for name in {queries!r}:
    fn = qs[name].fn
    timed_pass(spark, fn, {sf_dir!r})  # warm: JIT, footers, plan compilation
    ts = [timed_pass(spark, fn, {sf_dir!r}) for _ in range(3)]
    # min-of-passes, not median (round 12): this sandbox's contention is
    # one-sided — a pass is either clean or stalled (the r11 idle re-runs
    # measured 6.5x per-query swings on UNCHANGED code, and two back-to-
    # back r12 corescale runs disagreed 4x in BOTH directions on the
    # Arrow-kernel family) — so min is the defensible plan-cost estimate,
    # the same doctrine bench.py's value_min anchors adopted. The spread
    # (max/min of the passes) is reported alongside so a contaminated
    # leg is visible instead of silently averaged in.
    out[name] = {{
        "min": round(min(ts), 3),
        "spread": round(max(ts) / min(ts), 2) if min(ts) else 0.0,
    }}
print("CORESCALE_JSON:" + json.dumps(out))
"""


def ensure_layout() -> str:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import stress

    marker = os.path.join(stress.layout_dir(MULT), "_built")
    if os.path.exists(marker):
        return os.path.dirname(marker)
    from datums_warehouse_spark.session import get_spark

    return stress.build_scaled(get_spark("corescale-build"), MULT)


def run_at(cores: int, sf_dir: str) -> dict[str, float]:
    code = _CHILD.format(root=ROOT, cores=cores, queries=QUERIES, sf_dir=sf_dir)
    env = {**os.environ, "SPARK_GRAFT_CPUS": str(cores)}
    env.pop("SPARK_GRAFT_MASTER", None)  # would override the core count
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=1800, env=env,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("CORESCALE_JSON:"):
            return json.loads(line[len("CORESCALE_JSON:"):])
    raise RuntimeError(
        f"corescale child (local[{cores}]) produced no result:\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    sf_dir = ensure_layout()
    results = {}
    for c in CORES:
        print(f"local[{c}]...", flush=True)
        results[c] = run_at(c, sf_dir)
        print(
            f"  total {sum(v['min'] for v in results[c].values()):.2f}s",
            flush=True,
        )

    base = CORES[0]
    lines = [
        "# CORESCALE — same plans, growing cores (8× sf0.1 stress layout, fresh local[N] sessions)",
        "",
        "STRESS.md varies data on fixed cores; this varies cores on fixed "
        "data (the 8× stress warehouse: 4.8M lineitem, 800k events, 40k "
        "documents) — the local-mode proxy for cluster parallelism. "
        "Shuffle partitions = cores in every run; each core count is a "
        "fresh subprocess JVM; MIN-of-3 after a warm pass (the bench "
        "value_min doctrine: this sandbox's contention is one-sided — the "
        "r11 idle re-runs measured 6.5× per-query swings on unchanged "
        "code — so the min is the plan's cost and the spread column is "
        "the measurement's quality: spread = max/min of the three passes; "
        "a spread ≫ 1 means that leg was contended and its min is an "
        "upper bound too). Speedup = "
        f"local[{base}] time / local[N] time; a plan serialized behind a "
        "single-task stage would stay flat at 1.0. Sub-second queries "
        "remain partly scheduling-bound even at 8× — the heavy rows "
        "(LSH pairs, passage detection) carry the signal.",
        "",
        "| query | " + " | ".join(f"local[{c}] s" for c in CORES)
        + " | " + " | ".join(f"×{c}" for c in CORES[1:])
        + " | max spread |",
        "|" + " --- |" * (1 + len(CORES) + len(CORES) - 1 + 1),
    ]
    for name in QUERIES:
        cells = [name] + [f"{results[c][name]['min']:.2f}" for c in CORES]
        for c in CORES[1:]:
            t = results[c][name]["min"]
            cells.append(
                f"{results[base][name]['min'] / t:.1f}" if t else "∞"
            )
        cells.append(
            f"{max(results[c][name]['spread'] for c in CORES):.1f}"
        )
        lines.append("| " + " | ".join(cells) + " |")
    totals = {c: sum(v["min"] for v in results[c].values()) for c in CORES}
    cells = ["**total**"] + [f"{totals[c]:.2f}" for c in CORES] + [
        f"{totals[base] / totals[c]:.1f}" for c in CORES[1:]
    ] + ["—"]
    lines.append("| " + " | ".join(cells) + " |")
    lines += [
        "",
        "s17_dynamic_overwrite is the write path (an eager double write of "
        "the events table): its wall-clock is dominated by parquet "
        "encode+fsync on one local disk, which more cores cannot multiply — "
        "the flat curve is the storage bound, not a serialized plan stage "
        "(the same plan's shuffle/scan legs parallelize, and on a cluster "
        "the write fans out across executors' disks).",
    ]
    with open(os.path.join(ROOT, "CORESCALE.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(json.dumps({"cores": list(CORES), "totals": totals}))


if __name__ == "__main__":
    main()
