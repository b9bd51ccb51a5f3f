"""Registry-wide physical-plan audit.

Every ``__spark_entry__.queries()`` entry is built at sf0.001 and its
executed-plan shape asserted against the recorded budget
(``tests/plan_budgets.json``, regenerated with
``python tools/gen_plan_budgets.py``):

- ``cartesian`` must be 0 — a CartesianProduct is never legitimate;
- ``bnlj`` may not exceed the recorded count — BroadcastNestedLoopJoin
  is legitimate ONLY for one-row / dimension-sized broadcast cross
  joins (pad's ungrouped path, scalar-cap frames, grid tables), every
  recorded occurrence individually reviewed;
- ``single`` (Exchange SinglePartition) may not exceed the recorded
  count — single-task sorts/windows are allowed only on frames already
  reduced to dimension size (bucket/segment/rank tables), per the
  documented single-scan rule;
- ``exchanges`` (total shuffles) may not exceed the recorded budget —
  a regression that adds a shuffle to any query fails loudly.

Adding a query without regenerating the budget file fails the
membership check, so budgets stay exhaustive by construction.
"""

import json
import os
import re

import pytest

SF_DIR = os.environ.get("PLAN_AUDIT_SF_DIR", "/root/testdata/sf0.001")

with open(os.path.join(os.path.dirname(__file__), "plan_budgets.json")) as f:
    BUDGETS = json.load(f)


def _query_names():
    import __spark_entry__ as E
    return sorted(E.queries().keys())


def _metrics(df) -> dict:
    s = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": len(re.findall(r"\bExchange ", s)),
        "single": len(re.findall(r"\bExchange SinglePartition", s)),
        "bnlj": s.count("BroadcastNestedLoopJoin"),
        "cartesian": s.count("CartesianProduct"),
    }


def test_budget_file_is_exhaustive():
    missing = [n for n in _query_names() if n not in BUDGETS]
    assert not missing, (
        f"queries without a plan budget (run tools/gen_plan_budgets.py): "
        f"{missing}")


@pytest.mark.parametrize("name", _query_names())
def test_plan_within_budget(name, spark):
    import __spark_entry__ as E
    from hipipe_spark.operators.core import release_cached

    assert name in BUDGETS, "run tools/gen_plan_budgets.py"
    budget = BUDGETS[name]
    # cold-state measurement: caches left by other queries/tests would
    # be substituted into this plan (InMemoryRelation) and change its
    # exchange count — budgets are recorded cold, compare cold
    spark.catalog.clearCache()
    df = E.queries()[name](spark, SF_DIR)
    try:
        m = _metrics(df)
    finally:
        release_cached(df)
    assert m["cartesian"] == 0, f"CartesianProduct in {name}: {m}"
    for k in ("exchanges", "single", "bnlj"):
        assert m[k] <= budget[k], (
            f"{name}: {k}={m[k]} exceeds budget {budget[k]} "
            f"(full: {m} vs {budget}) — if intentional, regenerate "
            f"budgets and justify in the commit")
