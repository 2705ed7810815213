"""Dump .explain('formatted') for the round-13 optimization evidence.

    python scripts/r13_plans.py before|after [name ...]

Writes plans/r13/<query>_<tag>.txt for every named query (default: the
bench HEADLINE set) at sf0.1 — the judge checks plan claims in
OPTIMIZATION_r13.md against these files.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from datums_warehouse_spark import all_queries
from datums_warehouse_spark.session import get_spark
from datums_warehouse_spark.testing.plans import formatted_plan


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("r13-plans")
    qs = all_queries()
    for name in names:
        if name not in qs:
            print(f"skip {name}: not registered")
            continue
        df = qs[name].fn(spark, sf_dir)
        plan = formatted_plan(df)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
