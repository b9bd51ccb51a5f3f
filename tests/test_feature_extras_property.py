"""Property tests for the feature-engineering extras: random shapes
probe invariants the fixtures don't (weight normalization, hash-vector
conservation, PSI symmetry)."""

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(w=st.lists(st.floats(0.1, 10.0), min_size=2, max_size=4),
       seed=st.integers(0, 100))
def test_group_split_is_partition(spark, w, seed):
    """Any weight vector: every group gets exactly one split and every
    named split is drawn from the declared set."""
    from pyspark.sql import functions as F

    from hipipe_spark.operators.sampling import group_split

    names = [f"s{i}" for i in range(len(w))]
    df = spark.range(200).withColumnRenamed("id", "g")
    out = group_split(df, "g", splits=list(zip(names, w)), seed=seed)
    got = out.groupBy("g").agg(F.countDistinct("split").alias("n"),
                               F.first("split").alias("s")).collect()
    assert all(r["n"] == 1 for r in got)
    assert {r["s"] for r in got} <= set(names)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(st.text(alphabet="ab c.d ", max_size=30),
                      min_size=1, max_size=8),
       dim=st.sampled_from([4, 16]))
def test_hash_vector_conserves_token_count(spark, texts, dim):
    """Sum of the hashed count vector == number of tokens, always."""
    from pyspark.sql import functions as F

    from hipipe_spark.functions.text import hashed_count_vector, tokens

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id int, text string")
    out = df.select(
        F.size(tokens(F.lower(F.col("text")))).alias("n"),
        F.aggregate(hashed_count_vector(F.col("text"), dim=dim),
                    F.lit(0), lambda a, x: a + x).alias("s")).collect()
    assert all(r["n"] == r["s"] for r in out)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(xs=st.lists(st.floats(0.0, 100.0), min_size=2, max_size=40),
       split=st.integers(0, 5))
def test_psi_symmetric_under_swap(spark, xs, split):
    """PSI(a, b) == PSI(b, a) — the (p-q)ln(p/q) form is symmetric."""
    from hipipe_spark.operators.drift import psi

    a = spark.createDataFrame([(float(v),) for v in xs[: max(1, split)]],
                              "x double")
    b = spark.createDataFrame([(float(v),) for v in xs[max(1, split):]] or
                              [(50.0,)], "x double")
    p_ab = psi(a, b, "x", 0, 100, 5)
    p_ba = psi(b, a, "x", 0, 100, 5)
    assert np.isclose(p_ab, p_ba, rtol=1e-12)
    assert p_ab >= -1e-15  # PSI is non-negative
