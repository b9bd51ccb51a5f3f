"""Pipeline stages: window-stage fusion equals stage-by-stage
application; Ewma / Calendar composition, one-exchange plan, leakage
safety (past-only), value replicas."""

import numpy as np
import pandas as pd

from hipipe_spark.operators.temporal import (
    Backfill, Calendar, Ewma, LagLead, RollingAgg, Sessionize, TimeSincePrev,
)
from hipipe_spark.plans.pipeline import FnStage, Pipeline

import pyspark.sql.functions as F


def _exchanges(df):
    s = df._jdf.queryExecution().executedPlan().toString()
    import re
    return len(re.findall(r"\bExchange ", s))


def test_composed_pipeline_adds_no_exchange(spark, transcripts):
    base = Pipeline([
        Sessionize(gap="30 minutes"),
        TimeSincePrev(),
        LagLead("turn_idx", lags=[1]),
        RollingAgg({"mean_len_10": (F.avg, F.length("text"))},
                   lookback=10),
    ])
    full = base | Ewma("turn_idx", alpha=0.5, window=4) | Calendar()
    n_base = _exchanges(base(transcripts))
    out = full(transcripts)
    # Ewma shares the pipeline's (conv_id, ts, turn_idx) window and
    # Calendar is row-local: together they add ZERO exchanges
    assert _exchanges(out) == n_base
    cols = set(out.columns)
    assert "turn_idx_ewma" in cols
    assert {"hour_sin", "dow_cos", "is_weekend"} <= cols


def _column_sums(df):
    return df.select(*[F.sum(F.xxhash64(c).cast("decimal(20,0)")).alias(c)
                       for c in df.columns]).first()


def test_fused_pipeline_equals_unfused(transcripts):
    """Pipeline fuses window stages; each stage applied on its own must
    give the same columns, in the same order, with the same values.
    Covered: a row-local stage between window stages, stages over
    another spec, a stage reading an earlier stage's output, and a
    stage replacing an input column."""
    stages = [
        Sessionize(gap="10 minutes"),
        TimeSincePrev(),
        LagLead("session_id", lags=[1]),
        FnStage(lambda d: d.withColumn("len2", F.length("text") * 2)),
        LagLead(["role", "len2"], lags=[1, 2], leads=[1]),
        RollingAgg({"len2_sum_3": (F.sum, F.col("len2")),
                    "len2_max": (F.max, "len2")}, lookback=3),
        LagLead("turn_idx", key=["conv_id", "role"]),
        TimeSincePrev(out="secs_in_role", key=["conv_id", "role"]),
        Backfill("tool", sentinel="", lookback=5),
        LagLead("session_seq", lags=[1]),
        Backfill("tool", sentinel="", suffix=""),
        RollingAgg({"n_prev": (F.count, F.lit(1))}, lookback=None),
    ]
    fused = Pipeline(stages)(transcripts)
    unfused = transcripts
    for stage in stages:
        unfused = stage(unfused)
    assert fused.columns == unfused.columns
    assert _column_sums(fused) == _column_sums(unfused)


def test_ewma_stage_past_only(spark):
    # mutate a FUTURE row; earlier ewma values must not move
    pdf = pd.DataFrame({
        "conv_id": ["c"] * 6,
        "turn_idx": range(6),
        "ts": pd.date_range("2024-01-01", periods=6, freq="1min"),
        "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
    })
    base = Ewma("v", window=3)(spark.createDataFrame(pdf)) \
        .orderBy("turn_idx").toPandas()
    pdf2 = pdf.copy()
    pdf2.loc[5, "v"] = 1000.0
    mut = Ewma("v", window=3)(spark.createDataFrame(pdf2)) \
        .orderBy("turn_idx").toPandas()
    assert np.allclose(base["v_ewma"][:5], mut["v_ewma"][:5])
    assert mut["v_ewma"].iloc[5] != base["v_ewma"].iloc[5]


def test_ewma_stage_matches_manual(spark):
    pdf = pd.DataFrame({
        "conv_id": ["c"] * 4,
        "turn_idx": range(4),
        "ts": pd.date_range("2024-01-01", periods=4, freq="1min"),
        "v": [8.0, 4.0, 2.0, 1.0],
    })
    out = Ewma("v", alpha=0.5, window=8)(spark.createDataFrame(pdf)) \
        .orderBy("turn_idx").toPandas()
    # t=3: (1 + .5*2 + .25*4 + .125*8)/(1+.5+.25+.125) = 4/1.875
    assert abs(out["v_ewma"].iloc[3] - 4.0 / 1.875) < 1e-6
    assert out["v_ewma"].iloc[0] == 8.0
