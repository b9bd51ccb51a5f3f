"""Generate per-query physical-plan budgets for the registry sweep.

Builds every ``__spark_entry__.queries()`` plan at sf0.001 with the
pytest session settings (cores=8, shuffle_partitions=8) and records the
plan-shape metrics the sweep test (tests/test_plan_audit_registry.py)
re-asserts each run:

- ``exchanges``  — total Exchange nodes (shuffle budget),
- ``single``     — Exchange SinglePartition nodes (the single-task
                   sort/window smell; non-zero only where a
                   dimension-sized frame legitimately collapses),
- ``bnlj``       — BroadcastNestedLoopJoin nodes (legit only for
                   one-row-literal cross joins, e.g. ungrouped pad),
- ``cartesian``  — CartesianProduct nodes (never legitimate).

Run after adding/changing a query:
    python tools/gen_plan_budgets.py            # all queries
    python tools/gen_plan_budgets.py q1,q2      # refresh a subset
"""

from __future__ import annotations

import json
import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("PLAN_AUDIT_SF_DIR", "/root/testdata/sf0.001")
OUT = os.path.join(os.path.dirname(__file__), "..", "tests",
                   "plan_budgets.json")


def plan_metrics(df) -> dict:
    s = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": len(re.findall(r"\bExchange ", s)),
        "single": len(re.findall(r"\bExchange SinglePartition", s)),
        "bnlj": s.count("BroadcastNestedLoopJoin"),
        "cartesian": s.count("CartesianProduct"),
    }


def main(only: list[str] | None = None) -> int:
    import __spark_entry__ as E
    from hipipe_spark.operators.core import release_cached
    from hipipe_spark.session import get_spark

    spark = get_spark(app_name="plan_budget_gen", cores=8,
                      shuffle_partitions=8)
    budgets: dict[str, dict] = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            budgets = json.load(f)
    failed = []
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        try:
            # cold-state measurement: a cache left by ANOTHER query
            # would be substituted into this plan (InMemoryRelation)
            # and hide its exchanges — budgets must be order-independent
            spark.catalog.clearCache()
            df = fn(spark, SF_DIR)
            budgets[name] = plan_metrics(df)
            release_cached(df)
            print(f"{name:24s} {budgets[name]}")
        except Exception:
            failed.append(name)
            print(f"FAILED {name}\n{traceback.format_exc(limit=3)}")
    budgets = {k: budgets[k] for k in sorted(budgets)}
    with open(OUT, "w") as f:
        json.dump(budgets, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"\nwrote {len(budgets)} budgets to {OUT}; {len(failed)} failed")
    if failed:
        print("failed:", ",".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    only = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    sys.exit(main(only))
