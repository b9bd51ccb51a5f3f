"""Property-based as-of join test (hypothesis): random keyed, possibly
tied, unsorted timestamp sets on both sides — the union and broadcast
strategies must match ``pd.merge_asof`` for every direction, bucketed
for backward (its only direction). Complements the fixture matrix in
test_asof.py the way the reference pins semantics with golden tests
(/root/reference/test/core/stream/example.cpp:25-67); random inputs
explore tie/boundary cases fixtures miss."""

import datetime as dt

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hipipe_spark.operators.asof import asof_join

EPOCH = dt.datetime(2025, 1, 1)


def _frames(spark, lspec, rspec):
    lpdf = pd.DataFrame({
        "conv_id": [c for c, _ in lspec],
        "ts": [EPOCH + dt.timedelta(seconds=s) for _, s in lspec],
    })
    lpdf["turn_idx"] = range(len(lpdf))
    rpdf = pd.DataFrame({
        "conv_id": [c for c, _, _ in rspec],
        "ts": [EPOCH + dt.timedelta(seconds=s) for _, s, _ in rspec],
        "value": [v for _, _, v in rspec],
    })
    left = spark.createDataFrame(lpdf, schema="conv_id string, ts timestamp, turn_idx long")
    right = spark.createDataFrame(rpdf, schema="conv_id string, ts timestamp, value double")
    return left, right, lpdf, rpdf


row_l = st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 50))
row_r = st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 50),
                  st.floats(-5, 5, allow_nan=False))


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(lspec=st.lists(row_l, min_size=1, max_size=12),
       rspec=st.lists(row_r, min_size=1, max_size=12),
       direction=st.sampled_from(["backward", "forward", "nearest"]),
       exact=st.booleans())
def test_union_matches_merge_asof(spark, lspec, rspec, direction, exact):
    # dedupe right rows at identical (conv_id, ts): merge_asof picks the
    # last such row, our window does too, but keep the property crisp
    seen = {}
    for c, s, v in rspec:
        seen[(c, s)] = (c, s, v)
    rspec = sorted(seen.values())
    left, right, lpdf, rpdf = _frames(spark, lspec, rspec)
    exp = pd.merge_asof(
        lpdf.sort_values("ts", kind="mergesort"),
        rpdf.sort_values("ts", kind="mergesort"),
        on="ts", by="conv_id", direction=direction, allow_exact_matches=exact)
    b = exp.sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)
    strategies = ["union", "broadcast"] + (["bucketed"] if direction == "backward" else [])
    for strategy in strategies:
        # 10 s buckets split the 0-50 s span, so bucketed carries across
        out = asof_join(left, right, strategy=strategy, direction=direction,
                        allow_exact_matches=exact, bucket_width_sec=10).toPandas()
        a = out.sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)
        assert len(a) == len(b), strategy
        assert a["value"].fillna(-9e9).tolist() == b["value"].fillna(-9e9).tolist(), strategy
