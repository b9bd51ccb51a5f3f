"""Physical-plan shape of the flagship, read from the final AQE plan
after an action: the fused window pipeline costs one sort and two
Window execs, and the default as-of adds no exchange of the fact
side."""

import pytest
from pyspark.sql import functions as F

from hipipe_spark.operators.flagship import feature_pipeline, featurize


def _final_nodes(df):
    """Nodes of ``df``'s final physical plan; run an action first."""
    todo, out = [df._jdf.queryExecution().executedPlan()], []
    while todo:
        node = todo.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            todo.append(node.finalPhysicalPlan())
            continue
        if node.nodeName().endswith("QueryStage"):
            todo.append(node.plan())
            continue
        out.append(node)
        ch = node.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return out


def _count(df, kind):
    return sum(n.nodeName() == kind for n in _final_nodes(df))


def _exchanged_rows(df):
    """Rows written by each shuffle exchange of ``df``'s final plan."""
    return [int(n.metrics().get("shuffleRecordsWritten").get().value())
            for n in _final_nodes(df) if n.nodeName() == "Exchange"]


@pytest.fixture()
def scanned(spark, transcripts, profiles, tmp_path):
    """Turns and profiles as plain parquet scans: no generator windows
    under them should the session cache have been cleared."""
    for name, df in (("turns", transcripts), ("profiles", profiles)):
        df.write.parquet(str(tmp_path / name))
    return (spark.read.parquet(str(tmp_path / "turns")),
            spark.read.parquet(str(tmp_path / "profiles")))


def _checksum(df):
    h = F.xxhash64(*df.columns).cast("decimal(20,0)")
    return df.select(F.count(F.lit(1)), F.sum(h)).first()


def test_pipeline_two_windows(scanned):
    turns, _ = scanned
    out = feature_pipeline()(
        turns.withColumn("text_len", F.length("text").cast("int")))
    out.collect()
    assert _count(out, "Window") == 2
    assert _count(out, "Sort") == 1


def test_featurize_exchanges_fact_side_once(scanned):
    turns, profiles = scanned
    out = featurize(turns, profiles)
    out.collect()
    assert _count(out, "Window") == 2
    assert sum(r >= turns.count() for r in _exchanged_rows(out)) == 1
    assert _checksum(out) == _checksum(
        featurize(turns, profiles, asof_strategy="union"))


def _window_functions(df):
    """``name(input, ...)`` text of every window function computed by
    a Window exec of ``df``'s final plan (spec stripped); run an action
    first."""
    out = []
    for node in _final_nodes(df):
        if node.nodeName() == "Window":
            we = node.windowExpression()
            out += [we.apply(i).toString().split(" windowspecdefinition")[0]
                    for i in range(we.size())]
    return out


def test_each_window_function_once(scanned):
    """Catalyst keeps every copy of a repeated window function, so each
    operator computes it once into a temporary: one sorted frame per
    quantile column (shared by fused stages on the same frame), one
    lag per column and offset."""
    import re
    from collections import Counter

    from hipipe_spark.operators.temporal import (
        DecayAgg, RollingQuantile, ewma_bounded, rolling_quantile)
    from hipipe_spark.plans.pipeline import Pipeline

    turns, _ = scanned
    turns = turns.withColumn("text_len", F.length("text").cast("int"))

    def funcs(df):
        df.collect()
        return Counter(re.sub(r"#\d+", "", f) for f in _window_functions(df))

    fused = Pipeline([RollingQuantile(["text_len", "turn_idx"], q=0.5),
                      RollingQuantile(["text_len", "turn_idx"], q=0.9)])
    assert funcs(fused(turns)) == {"collect_list(text_len, 0, 0)": 1,
                                   "collect_list(turn_idx, 0, 0)": 1}
    rq = funcs(rolling_quantile(turns, "text_len", n=5))
    assert [f.split("(")[0] for f in rq.elements()] == ["collect_list"]
    ewma = funcs(ewma_bounded(turns, "conv_id", ["turn_idx"], "text_len",
                              window=8))
    assert len(ewma) == 7 and set(ewma.values()) == {1}, ewma
    for mode in ("time", "rows"):
        got = funcs(DecayAgg(["text_len", "turn_idx"], lookback=4,
                             mode=mode).apply(turns))
        assert got == {f"lag({c}, -{j}, null)": 1
                       for c in ("ts", "text_len", "turn_idx")
                       for j in range(1, 5)}, got


def _window_calls(df):
    """Every window function of ``df``'s final plan with its spec,
    expression ids stripped; runs an action first."""
    import re
    from collections import Counter

    df.collect()
    out = []
    for node in _final_nodes(df):
        if node.nodeName() == "Window":
            we = node.windowExpression()
            out += [re.sub(r"#\d+", "", we.apply(i).child().toString())
                    for i in range(we.size())]
    return Counter(out)


def test_topic_segments_lags_the_token_set_once(scanned):
    from hipipe_spark.operators.transcripts import topic_segments

    turns, _ = scanned
    calls = _window_calls(topic_segments(turns))
    lags = [f for f in calls.elements() if f.startswith("lag(__ts_set")]
    assert len(lags) == 1, calls


def test_ad_table_window_sums_once(spark):
    """The totals and cumulative counts are one window function each,
    however often the statistic reads them."""
    from hipipe_spark.operators.drift import ad_table

    a = spark.createDataFrame([(float(i % 7),) for i in range(40)], "x double")
    b = spark.createDataFrame([(float(i % 5),) for i in range(30)], "x double")
    calls = _window_calls(ad_table(a, b, "x"))
    assert set(calls.values()) == {1} and len(calls) == 5, calls


def test_cmh_window_sums_once(spark):
    from hipipe_spark.operators.stats import cmh_test

    cells = spark.createDataFrame(
        [(f"s{i % 3}", i % 2 == 0, i % 5 < 2) for i in range(60)],
        "s string, e boolean, o boolean")
    calls = _window_calls(cmh_test(cells, "s", "e", "o"))
    assert set(calls.values()) == {1} and len(calls) == 5, calls
