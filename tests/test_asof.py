"""As-of join: all three strategies vs pandas merge_asof, all option
combinations, skewed keys, empty right side."""

import datetime as dt

import pandas as pd
import pytest

from hipipe_spark.operators.asof import asof_join

STRATEGIES = ["union", "broadcast", "bucketed"]


def _mk(spark, transcripts, profiles):
    left = transcripts.select("conv_id", "turn_idx", "ts")
    right = profiles
    lpdf, rpdf = left.toPandas(), right.toPandas()
    return left, right, lpdf, rpdf


def _oracle(lpdf, rpdf, direction="backward", exact=True, tol=None):
    l = lpdf.sort_values("ts", kind="mergesort")
    r = rpdf.sort_values("ts", kind="mergesort")
    return pd.merge_asof(
        l, r, on="ts", by="conv_id", direction=direction,
        allow_exact_matches=exact,
        tolerance=pd.Timedelta(seconds=tol) if tol else None,
    )


def _compare(out, oracle, cols=("model", "temperature")):
    a = out.toPandas().sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)
    b = oracle.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)
    assert len(a) == len(b)
    for c in cols:
        av = a[c].fillna("<N>").tolist() if a[c].dtype == object else a[c].fillna(-9e9).tolist()
        bv = b[c].fillna("<N>").tolist() if b[c].dtype == object else b[c].fillna(-9e9).tolist()
        assert av == bv, c


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_backward_exact(spark, transcripts, profiles, strategy):
    left, right, lpdf, rpdf = _mk(spark, transcripts, profiles)
    out = asof_join(left, right, strategy=strategy)
    _compare(out, _oracle(lpdf, rpdf))


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_backward_strict(spark, transcripts, profiles, strategy):
    left, right, lpdf, rpdf = _mk(spark, transcripts, profiles)
    out = asof_join(left, right, strategy=strategy, allow_exact_matches=False)
    _compare(out, _oracle(lpdf, rpdf, exact=False))


@pytest.mark.parametrize("strategy", ["union", "broadcast"])
def test_forward(spark, transcripts, profiles, strategy):
    left, right, lpdf, rpdf = _mk(spark, transcripts, profiles)
    out = asof_join(left, right, strategy=strategy, direction="forward")
    _compare(out, _oracle(lpdf, rpdf, direction="forward"))


def test_bucketed_narrow_buckets_hot_key(spark, transcripts, profiles):
    """Bucketed strategy with deliberately narrow buckets (so carry-in
    stitching is exercised heavily) must equal the union strategy."""
    left = transcripts.select("conv_id", "turn_idx", "ts")
    a = asof_join(left, profiles, strategy="union").toPandas()
    b = asof_join(left, profiles, strategy="bucketed",
                  bucket_width_sec=120).toPandas()
    key = ["conv_id", "ts", "turn_idx"]
    a = a.sort_values(key, kind="mergesort").reset_index(drop=True)
    b = b.sort_values(key, kind="mergesort").reset_index(drop=True)
    assert a["model"].fillna("<N>").tolist() == b["model"].fillna("<N>").tolist()
    assert a["temperature"].fillna(-1).tolist() == b["temperature"].fillna(-1).tolist()


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_tolerance(spark, transcripts, profiles, strategy):
    left, right, lpdf, rpdf = _mk(spark, transcripts, profiles)
    out = asof_join(left, right, strategy=strategy, tolerance_sec=900)
    _compare(out, _oracle(lpdf, rpdf, tol=900))


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_empty_right(spark, transcripts, profiles, strategy):
    left = transcripts.select("conv_id", "turn_idx", "ts")
    right = profiles.filter("1=0")
    out = asof_join(left, right, strategy=strategy)
    pdf = out.toPandas()
    assert len(pdf) == left.count()
    assert pdf["model"].isna().all()


def test_no_right_rows_for_some_keys(spark):
    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("a", base), ("b", base)], "conv_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("a", base - dt.timedelta(60), 1.0)], "conv_id string, ts timestamp, v double"
    )
    for s in STRATEGIES:
        rows = {r.conv_id: r.v for r in asof_join(left, right, strategy=s).collect()}
        assert rows == {"a": 1.0, "b": None}


@pytest.mark.parametrize("strategy", ["union", "broadcast"])
@pytest.mark.parametrize("exact", [True, False])
def test_nearest(spark, transcripts, profiles, strategy, exact):
    left, right, lpdf, rpdf = _mk(spark, transcripts, profiles)
    out = asof_join(left, right, strategy=strategy, direction="nearest",
                    allow_exact_matches=exact)
    _compare(out, _oracle(lpdf, rpdf, direction="nearest", exact=exact))


@pytest.mark.parametrize("strategy", ["union", "broadcast"])
def test_nearest_tolerance(spark, transcripts, profiles, strategy):
    left, right, lpdf, rpdf = _mk(spark, transcripts, profiles)
    out = asof_join(left, right, strategy=strategy, direction="nearest",
                    tolerance_sec=600)
    _compare(out, _oracle(lpdf, rpdf, direction="nearest", tol=600))


@pytest.mark.parametrize("strategy", ["union", "broadcast"])
def test_multi_table_asof(spark, transcripts, profiles, strategy):
    """Feature-store read path: two feature tables merged point-in-time
    in one call == two independent pandas merge_asofs."""
    from hipipe_spark.operators.asof import asof_join_multi

    left, right, lpdf, rpdf = _mk(spark, transcripts, profiles)
    ra = right.select("conv_id", "ts", "model")
    rb = right.select("conv_id", "ts", "temperature")
    out = asof_join_multi(left, {"_m": ra, "_t": rb}, strategy=strategy)

    oa = _oracle(lpdf, rpdf[["conv_id", "ts", "model"]])
    ob = _oracle(lpdf, rpdf[["conv_id", "ts", "temperature"]])
    merged = oa.merge(
        ob[["conv_id", "turn_idx", "ts", "temperature"]],
        on=["conv_id", "turn_idx", "ts"], validate="1:1")
    _compare(out.withColumnsRenamed({"model_m": "model",
                                     "temperature_t": "temperature"}),
             merged)
