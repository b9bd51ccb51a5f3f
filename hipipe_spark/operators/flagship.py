"""The flagship feature pipeline (north rule end-to-end slice).

For every conversation turn: session id (30-min gap), seconds since the
previous turn, previous role, previous text length stats, rolling
assistant-turn count over the last 10 turns, backfilled last tool, and
the as-of-joined conversation profile (model/temperature at turn time).
Zero temporal leakage: every feature reads only rows with
(ts, turn_idx) ≤ current (leads are labels, suffixed ``_label``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hipipe_spark.operators.asof import asof_join
from hipipe_spark.operators.temporal import (
    Backfill, FrameSpec, LagLead, RollingAgg, Sessionize, TimeSincePrev,
)
from hipipe_spark.plans.pipeline import Pipeline


def feature_pipeline(gap: str = "30 minutes") -> Pipeline:
    return Pipeline([
        Sessionize(gap=gap),
        TimeSincePrev(),
        LagLead("role", lags=[1, 2]),
        LagLead("text_len", lags=[1]),
        RollingAgg(
            {
                "assistant_turns_10": (
                    F.sum,
                    F.when(F.col("role") == "assistant", 1).otherwise(0),
                ),
                "mean_text_len_10": (F.avg, F.col("text_len")),
            },
            lookback=10,
        ),
        Backfill("tool", sentinel="", lookback=None),
    ])


def featurize(turns: DataFrame, profiles: DataFrame | None = None,
              gap: str = "30 minutes", asof_strategy: str = "auto") -> DataFrame:
    """Run the flagship pipeline; optionally as-of join profiles.

    ``asof_strategy="auto"`` broadcasts the packed profile side when
    Catalyst's plan estimate of it is small (one struct-array per
    conversation) so the wide feature output is never re-shuffled — the
    whole pipeline then needs exactly ONE exchange of the fact table.
    Large or unknown-size profile sides take the union+window strategy
    (second shuffle, but no size limit). The gate reads the estimate
    and runs no job."""
    df = feature_pipeline(gap)(
        turns.withColumn("text_len", F.length("text").cast("int")))
    if profiles is not None:
        df = asof_join(df, profiles, on="ts", by="conv_id",
                       strategy=asof_strategy, suffix="_asof")
    return df
