"""Temporal operators vs the single-node pandas oracle (reference_impl),
including the hot-conversation skew fixture and stable tie ordering."""

import pytest

from hipipe_spark import reference_impl as ri
from hipipe_spark.operators.flagship import featurize
from hipipe_spark.operators.temporal import (
    FrameSpec, LeakageError, Sessionize,
)


FEATURE_COLS = [
    "session_seq", "session_id", "secs_since_prev", "role_lag_1",
    "role_lag_2", "text_len_lag_1", "assistant_turns_10",
    "mean_text_len_10", "tool_filled",
]


def test_flagship_matches_oracle(transcripts, transcripts_pdf, profiles, profiles_pdf):
    spark_out = featurize(transcripts, profiles).toPandas()
    oracle = ri.featurize(transcripts_pdf, profiles_pdf)
    cols = FEATURE_COLS + ["model_asof", "temperature_asof"]
    assert ri.allclose_frames(spark_out, oracle, cols)


def test_text_byte_equality(transcripts, transcripts_pdf):
    """Per-turn text byte-equal under stable (conv_id, ts, turn_idx)
    ordering (BASELINE.json input_hint invariant). The datagen embeds
    quotes/newlines/unicode/tabs in text to make this non-trivial."""
    out = featurize(transcripts).toPandas()
    a = out.sort_values(ri.ORDER, kind="mergesort")["text"].tolist()
    b = transcripts_pdf.sort_values(ri.ORDER, kind="mergesort")["text"].tolist()
    assert a == b
    joined = "\n".join(a)
    assert '"' in joined and "\n" in joined  # fixture really is adversarial


def test_parallelism_invariance(transcripts, profiles):
    """Same job at different partitioning → byte-identical features
    (the cluster-size-invariance the north rule demands; cross-JVM
    local[1] vs local[nproc] evidence is perfbench/run.py's traced
    flagship.scaling_eff_1to4)."""
    a = featurize(transcripts.repartition(2), profiles).toPandas()
    b = featurize(transcripts.repartition(31), profiles).toPandas()
    cols = FEATURE_COLS + ["temperature_asof"]
    assert ri.allclose_frames(a, b, cols + ["text"])


def test_sessionize_gap_semantics(spark):
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, base),
        ("c1", 1, base + dt.timedelta(seconds=10)),
        ("c1", 2, base + dt.timedelta(seconds=10 + 1801)),  # > 30min gap
        ("c1", 3, base + dt.timedelta(seconds=10 + 1801 + 1800)),  # == gap, same
        ("c2", 0, base),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    out = Sessionize(gap="30 minutes")(df).orderBy("conv_id", "turn_idx").collect()
    assert [r.session_seq for r in out] == [0, 0, 1, 1, 0]
    assert out[2].session_id == "c1#1"


def test_hot_conversation_skew(transcripts, transcripts_pdf):
    """The skew fixture: hot conversations (~12× turns) must produce
    identical features — correctness under skew before any perf work
    (SURVEY.md §7.3)."""
    hot_ids = (
        transcripts_pdf.groupby("conv_id").size().sort_values().tail(3).index.tolist()
    )
    spark_out = featurize(transcripts).toPandas()
    oracle = ri.featurize(transcripts_pdf)
    a = spark_out[spark_out.conv_id.isin(hot_ids)]
    b = oracle[oracle.conv_id.isin(hot_ids)]
    assert len(a) > 100
    assert ri.allclose_frames(a, b, FEATURE_COLS)


def test_bucketed_rolling_equals_plain(spark, transcripts):
    from pyspark.sql import functions as F
    from hipipe_spark.operators.temporal import BucketedRollingAgg, RollingAgg

    aggs = {
        "a10": (F.sum, F.when(F.col("role") == "assistant", 1).otherwise(0)),
        "m10": (F.avg, F.length("text")),
    }
    plain = RollingAgg(dict(aggs), lookback=10)(transcripts).toPandas()
    # bucket_size 16 << hot conversation length -> many stitched buckets
    bucketed = BucketedRollingAgg(dict(aggs), lookback=10, bucket_size=16)(
        transcripts
    ).toPandas()
    assert ri.allclose_frames(plain, bucketed, ["a10", "m10"])
    # include_current variant
    p2 = RollingAgg(dict(aggs), lookback=10, include_current=True)(transcripts).toPandas()
    b2 = BucketedRollingAgg(dict(aggs), lookback=10, bucket_size=16,
                            include_current=True)(transcripts).toPandas()
    assert ri.allclose_frames(p2, b2, ["a10", "m10"])


def test_framespec_rejects_future():
    with pytest.raises(LeakageError):
        FrameSpec(start=-5, end=2)
    # labels may opt in explicitly
    FrameSpec(start=-5, end=2, allow_future=True)
    # strictly-past default ends at -1
    assert FrameSpec(lookback=10).end == -1
    assert FrameSpec(lookback=10, include_current=True).end == 0
