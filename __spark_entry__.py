"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship feature pipeline on sf0.001 transcripts.
queries()       — every registered query, ``DRIVER_WINDOW`` first.
oracle_sql()    — the DuckDB oracle of every query that has one.

The queries and their oracles are declared in ``driver_queries/`` (one
``@query(oracle=...)`` function each); see that package's docstring
for how to add one and the rules an oracle must follow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from driver_queries import ORACLES, QUERIES, Query
from driver_queries.testdata import asof_sides, read_transcripts
from hipipe_spark.operators.flagship import featurize

# The driver records correctness rows for the first 50 queries only, so
# this tuple decides which queries it value-checks. Change it only to
# rotate the window.
DRIVER_WINDOW = (
    "embedding_pool", "hash_features", "onehot_encode", "bigram_pmi", "cuped",
    "feature_hash", "compress_pinned", "embedding_ivf_full", "hits", "logrank",
    "link_features", "kcore", "leakage_audit", "feature_corr", "impute",
    "walk_forward", "distinctive_terms", "future_label", "role_streak",
    "funnel", "winnow_dedup", "t_closeness", "random_projection", "hbos",
    "modularity", "conv_winnow", "readability", "ad_test", "anova", "levene",
    "jarque_bera", "kruskal_wallis", "cmh", "tost", "ols2", "durbin_watson",
    "calendar", "ewma", "influence", "runs", "grubbs", "icc", "cronbach",
    "partial_corr", "overdispersion", "pacf", "event_runs",
    "unigram_roundtrip", "hurst", "theil_u",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full feature pipeline incl. as-of profile join, sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    t = read_transcripts(spark, sf_dir)
    _, right = asof_sides(spark, sf_dir)
    prof = right.select(
        F.concat(F.lit("conv_"), F.lpad(F.col("user_id").cast("string"), 8, "0")).alias("conv_id"),
        "ts", F.col("val").alias("temperature"),
    )
    return featurize(t, profiles=prof)


def queries() -> dict[str, Query]:
    """Every registered query: ``DRIVER_WINDOW`` first, then the rest in
    registry order."""
    return {**{name: QUERIES[name] for name in DRIVER_WINDOW}, **QUERIES}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
