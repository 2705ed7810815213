"""Dump physical plans for the headline queries.

Evidence artifact for plan-quality review: pushed filters, pruned schemas,
join strategies, exchange counts. Regenerate PLANS.md after changing any
operator:

    python scripts/dump_plans.py

Or write one ``.explain('formatted')`` file per query, ``DIR/<name>_<TAG>.txt``,
for a before/after comparison (default names: the bench HEADLINE set):

    python scripts/dump_plans.py --out plans/mine --tag before [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE
from datums_warehouse_spark import all_queries
from datums_warehouse_spark.session import get_spark
from datums_warehouse_spark.testing.plans import formatted_plan

EXTRA = [
    "p2_filter_comparison",
    "s2_bucketed_join",
    "x3b_interpolate_scaled",
    "w7_topk_per_group",
    "l2_ngram_jaccard_pairs",
    "l2_ppjoin_pairs",
    "l3_ivf_ann",
    "l3_sq_ann",
    "s6_merge_upsert",
    "o6_zorder_layout",
    "x7_rolling_corr",
    "x8_m4_downsample",
    "x9_rolling_zscore",
    "comp13_forecast_revenue",
    "comp15_national_market_share",
    "comp18_waiting_suppliers",
    # round 7: de-weaked sharded cumsum (partitioned Window, no
    # SinglePartition exchange), single-shuffle comp22, Lloyd loop
    "l16_sequence_packing",
    "comp22_excess_quantity_suppliers",
    "l24_kmeans_lloyd",
    # round 11: the recursive-CTE pair (UnionLoop plans — tree walk and
    # per-level-DISTINCT DAG closure) and the salt-split kernel (the
    # REPARTITION_BY_NUM exchange the AQE-coalescing fix pins)
    "sql4_transitive_closure",
    "sql5_dag_closure",
    "l48_semdedup_salted",
    "l49_semdedup_fast_estep",
    # round 12: C4 line dedup (hash-keyed count + array reassembly), the
    # PQ-ADC ANN (broadcast codebooks, no cross join), and the adaptive
    # per-cell routed kernel (same pinned exchange as l48)
    "l50_c4_line_dedup",
    "l51_pq_ann",
    "l52_semdedup_adaptive",
]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", help="write <name>_<tag>.txt files here, not PLANS.md")
    ap.add_argument("--tag", help="file-name suffix, e.g. before/after")
    ap.add_argument("names", nargs="*", help="queries to dump (needs --out)")
    args = ap.parse_args(argv)
    if (args.out is None) != (args.tag is None) or (args.names and not args.out):
        ap.error("--out and --tag go together, and names need them")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump-plans")
    qs = all_queries()
    if args.out is not None:
        os.makedirs(args.out, exist_ok=True)
        for name in args.names or HEADLINE:
            if name not in qs:
                print(f"skip {name}: not registered")
                continue
            plan = formatted_plan(qs[name].fn(spark, sf_dir))
            path = os.path.join(args.out, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
        return

    out = [
        "# PLANS — physical plans of headline queries",
        "",
        f"Generated by `python scripts/dump_plans.py` at `{sf_dir}` "
        "(AQE on; plans shown pre-execution, AQE re-optimizes at runtime).",
        "",
    ]
    # dict.fromkeys dedupes while keeping order — round-12 keys sit in
    # both the bench HEADLINE and EXTRA, and each plan should print once
    for name in dict.fromkeys([*HEADLINE, *EXTRA]):
        if name not in qs:
            continue
        plan = formatted_plan(qs[name].fn(spark, sf_dir))
        out += [f"## {name}", "", "```", plan.strip(), "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} lines)")


if __name__ == "__main__":
    main()
