"""Partitioning diagnostics: measure key skew BEFORE it melts a join.

Every skew mitigation in this engine (salted_join, BucketedRollingAgg,
the as-of bucketed strategy, minhash bucket_cap) needs the same input:
WHICH keys are hot and HOW hot. These two operators produce that
report as queryable DataFrames — run them on a sample or the full
corpus, then pick salt counts / bucket widths from the numbers instead
of folklore.

- :func:`hot_keys` — the top-N heaviest keys with row counts, share of
  the corpus, and cumulative share (the "one conversation holds half
  the rows" detector).
- :func:`group_size_stats` — one row of distribution stats over group
  sizes (count/mean/percentiles/max + the max/mean skew factor).

Both are one hash aggregation over the keys; the stats tail runs on
the group-sized frame (dimension-sized, constant cost at corpus
scale). Percentiles are exact within Spark's percentile() aggregate
over the per-key counts — at extreme key cardinality swap in
percentile_approx via ``approx=True``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, key_cols: str | list[str],
             top_n: int = 20) -> DataFrame:
    """Top-``top_n`` keys by row count: (*key_cols, n_rows, share,
    cum_share, rank), heaviest first — ties broken on the key columns
    for determinism."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    wall = Window.partitionBy()
    order = [F.col("n_rows").desc()] + [F.col(k).asc() for k in keys]
    wrank = Window.partitionBy().orderBy(*order)
    # total via window-sum on the per-key frame: no second corpus scan
    return (
        counts
        .withColumn("share", F.round(F.col("n_rows")
                                     / F.sum("n_rows").over(wall), 6))
        .withColumn("rank", F.row_number().over(wrank))
        .withColumn("cum_share", F.round(
            F.sum("share").over(wrank.rowsBetween(
                Window.unboundedPreceding, Window.currentRow)), 6))
        .filter(F.col("rank") <= top_n)
    )


def group_size_stats(df: DataFrame, key_cols: str | list[str],
                     approx: bool = False) -> DataFrame:
    """One row: n_keys, n_rows, mean/p50/p90/p99/max group size, and
    ``skew_factor`` = max/mean (1.0 = perfectly uniform; the salt
    count a skewed join needs is roughly this number)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    pct = (lambda q: F.percentile_approx("n", q)) if approx else (
        lambda q: F.percentile("n", q))
    mean = F.sum("n") / F.count(F.lit(1))
    return counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.round(mean, 6).alias("mean_size"),
        pct(0.5).cast("double").alias("p50_size"),
        pct(0.9).cast("double").alias("p90_size"),
        pct(0.99).cast("double").alias("p99_size"),
        F.max("n").cast("bigint").alias("max_size"),
        F.round(F.max("n") / mean, 6).alias("skew_factor"),
    )


def freshness_report(left: DataFrame, right: DataFrame, on: str = "ts",
                     by: str = "conv_id", strategy: str = "union",
                     exact: bool = False,
                     ps: tuple[float, ...] = (0.5, 0.9, 0.99)) -> DataFrame:
    """Feature-freshness audit of a point-in-time enrichment: as-of
    join ``left`` to ``right`` and report, in ONE row, the match rate
    and the staleness distribution (left ts − matched right ts,
    seconds; percentiles over matched rows only). The feature-store
    health check: a p99 staleness of hours where the SLA says minutes,
    or a match rate quietly dropping, is how stale-feature bugs
    actually surface — long before any model metric moves.

    Plan: the right side's own timestamp rides through the as-of join
    as a value column (works with every strategy — union / broadcast /
    bucketed — no join-internals access needed), then one
    aggregate to a single row. ``exact=False`` uses the mergeable
    percentile_approx sketch (the 100-TB path); ``exact=True`` is for
    oracle/test settings."""
    from hipipe_spark.operators.asof import asof_join
    from hipipe_spark.operators.temporal import ts_seconds

    r = right.select(by, on).withColumn("__rts", F.col(on))
    j = asof_join(left.select(by, on), r, on=on, by=by, strategy=strategy,
                  value_cols=["__rts"])
    stale = ts_seconds(F.col(on)) - ts_seconds(F.col("__rts"))
    s = j.select(F.col("__rts").isNotNull().cast("int").alias("m"),
                 stale.alias("st"))
    if exact:
        q = F.percentile(F.col("st"), F.array(*[F.lit(p) for p in ps]))
    else:
        q = F.percentile_approx(F.col("st"), list(ps), 10000)
    aggs = [F.count(F.lit(1)).alias("n_left"),
            F.sum("m").cast("long").alias("n_matched"),
            F.round(F.sum("m") / F.count(F.lit(1)), 6).alias("match_rate"),
            F.round(F.avg("st"), 6).alias("mean_staleness"),
            F.round(F.max("st"), 6).alias("max_staleness"),
            q.alias("__q")]
    out = s.agg(*aggs)
    pcols = [F.round(F.col("__q")[i], 6).alias(
        f"p{int(round(p * 100))}_staleness") for i, p in enumerate(ps)]
    return out.select("n_left", "n_matched", "match_rate",
                      "mean_staleness", *pcols, "max_staleness")
