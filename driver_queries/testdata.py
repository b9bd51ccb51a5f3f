"""Testdata scans shared by the query families, the DuckDB twins of the
derived views they read, and the SQL builders more than one family uses."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hipipe_spark.datagen import transcripts_from_events
from hipipe_spark.functions.hashing import det_hash_i64_sql


# DuckDB view of the transcripts derived from `events` — must mirror
# hipipe_spark.datagen.transcripts_from_events exactly.
TRANSCRIPTS_SQL = f"""
  SELECT 'conv_' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         (CASE ({det_hash_i64_sql('event_id', 7)}) % 4
            WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
            WHEN 2 THEN 'system' ELSE 'tool' END) AS role,
         COALESCE(props, '') AS text,
         COALESCE(event_type, '') AS tool,
         ts
  FROM events
"""


# left/right split of events for as-of joins: odd event_ids are the
# probe side, even event_ids carry the value to merge point-in-time.
def asof_sides(spark: SparkSession, sf_dir: str):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_id") % 2 == 0).select(
        "user_id", "ts", F.round("value", 4).alias("val")
    )
    return left, right


def read_embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings scan spread to core count (single-row-group testdata
    file → one split; the per-batch BLAS matmuls would run serial)."""
    from hipipe_spark.operators.core import ensure_parallelism
    return ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def read_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan spread to core count: the small testdata file
    arrives as ONE split, which would serialize the expression-heavy
    text pipelines (tokenize/score/shingle) onto a single task."""
    from hipipe_spark.operators.core import ensure_parallelism
    return ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))


def read_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transcripts_from_events(spark, sf_dir)


def det_tokens_sql(text_expr: str) -> str:
    """DuckDB twin of hipipe_spark.functions.text.tokens(lower(col))."""
    return (f"CASE WHEN trim({text_expr}) = '' THEN CAST([] AS VARCHAR[]) "
            f"ELSE string_split_regex(trim(lower({text_expr})), '\\s+') END")


# NB: DuckDB's list_resize miscopies non-trivial default values when
# used inside a lambda — pad via list_concat + a generated fill list
def fill_list_sql(n_expr: str, v_expr: str) -> str:
    return (f"list_transform(range(0, greatest(CAST({n_expr} AS BIGINT), 0)), "
            f"_f -> {v_expr})")
