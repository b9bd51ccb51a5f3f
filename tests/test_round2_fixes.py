"""Scale and robustness regressions.

- Pad with no group_by must not plan a single-partition Exchange
  (global max via agg + broadcast crossJoin, not Window over lit(1)).
- build_index_mapper must produce dense value-ordered indices with NO
  global one-task sort, identically at different parallelism.
- ANN query-side collection: explicit bound + empty-input early return.
- connected_components warns when label propagation doesn't converge.
"""

import warnings

import pytest
from pyspark.sql import functions as F

from hipipe_spark.operators.core import Pad, create
from hipipe_spark.operators.groups import build_index_mapper


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pad_ungrouped_no_single_partition_exchange(spark):
    df = create(
        spark,
        [(0, [1, 2]), (1, [3, 4, 5]), (2, []), (3, [6, 7])],
        schema="id int, seq array<int>",
    )
    out = Pad("seq", value=-1)(df)
    # same semantics as before (pad to global max 3)...
    rows = out.orderBy("id").collect()
    assert [r.seq for r in rows] == [
        [1, 2, -1], [3, 4, 5], [-1, -1, -1], [6, 7, -1]]
    assert [r.seq_mask for r in rows] == [
        [True, True, False], [True, True, True],
        [False, False, False], [True, True, False]]
    # ...but the data side of the plan must not funnel through one task.
    # The broadcast of the 1-row max IS allowed to be SinglePartition;
    # what must be gone is the Window/Sort over a lit(1) partition key.
    plan = _plan(out)
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pad_grouped_unchanged(spark):
    df = create(
        spark,
        [("g1", [1]), ("g1", [1, 2, 3]), ("g2", [9])],
        schema="g string, seq array<int>",
    )
    rows = Pad("seq", value=0, group_by="g")(df).orderBy("g", F.size("seq")).collect()
    assert [r.seq for r in rows] == [[1, 0, 0], [1, 2, 3], [9]]


@pytest.mark.parametrize("n_partitions", [1, 3, 8])
def test_index_mapper_two_phase_dense_and_ordered(spark, n_partitions):
    vals = [f"v{i:03d}" for i in range(97)]
    df = spark.createDataFrame([(v,) for v in vals * 3], "value string")
    m = build_index_mapper(df, "value", n_partitions=n_partitions)
    rows = m.orderBy("index").collect()
    # dense 0..n-1, assigned in value order, invariant to parallelism
    assert [r["index"] for r in rows] == list(range(len(vals)))
    assert [r.value for r in rows] == sorted(vals)


def test_index_mapper_no_global_sort(spark):
    df = spark.createDataFrame([(f"x{i}",) for i in range(50)], "value string")
    plan = _plan(build_index_mapper(df, "value", n_partitions=4))
    assert "SinglePartition" not in plan, plan


def test_ann_query_bound_guard(spark):
    from hipipe_spark.operators import similarity

    em = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>")
    old = similarity.MAX_QUERY_ROWS
    similarity.MAX_QUERY_ROWS = 3
    try:
        with pytest.raises(ValueError, match="MAX_QUERY_ROWS"):
            similarity.brute_force_topk(em, em, k=2, impl="numpy")
    finally:
        similarity.MAX_QUERY_ROWS = old


def test_ann_empty_queries_early_return(spark):
    from hipipe_spark.operators.similarity import (
        brute_force_topk, ivf_topk, lsh_topk)

    em = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>")
    empty_q = em.filter(F.col("vec_id") < 0)
    for out in (ivf_topk(em, empty_q, k=2, n_cells=2, n_probe=2),
                brute_force_topk(em, empty_q, k=2, impl="numpy")):
        assert out.count() == 0
        assert set(out.columns) == {"query_id", "neighbor_id", "cosine", "rank"}
    empty_corpus = em.filter(F.col("vec_id") < 0)
    assert lsh_topk(empty_corpus, em, k=2).count() == 0
    assert ivf_topk(empty_corpus, em, k=2, n_cells=2).count() == 0


def test_connected_components_warns_on_nonconvergence(spark):
    from hipipe_spark.operators.dedup import connected_components

    # a chain 0-1-2-...-9 has diameter 9; max_iter=2 cannot converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(10)], "id long")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(pairs, nodes, max_iter=2)
        assert any("did not converge" in str(x.message) for x in w)
