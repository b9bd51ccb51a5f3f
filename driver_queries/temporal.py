"""Conversation-timeline queries: sessions, lags, rolling windows, decay,
transcript shaping and the flagship (operators/temporal.py,
transcripts.py, flagship.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from driver_queries import query
from driver_queries.testdata import (
    TRANSCRIPTS_SQL, asof_sides, det_tokens_sql, read_docs, read_transcripts,
)
from hipipe_spark.operators.flagship import featurize
from hipipe_spark.operators.temporal import (
    Backfill, CumulativeDistinct, DecayAgg, LagLead, PriorSessionStats,
    RollingAgg, RollingQuantile, Sessionize, TimeSincePrev, time_grid_resample,
    transition_matrix, ts_seconds,
)


GAP_SEC = 1800
# DuckDB twin of Sessionize's session_seq over a CTE that carries the
# previous turn's ts as prev_ts: a new session starts at the first turn
# and after every gap longer than GAP_SEC.
_SESSION_SEQ = f"""CAST(sum(CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > {GAP_SEC}
                  THEN 1 ELSE 0 END)
              OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                    ROWS UNBOUNDED PRECEDING) - 1 AS INTEGER)"""


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      g AS (SELECT conv_id, turn_idx, ts,
                   lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
            FROM t)
      SELECT conv_id, turn_idx, ts,
             {_SESSION_SEQ} AS session_seq,
             conv_id || '#' ||
             CAST({_SESSION_SEQ} AS VARCHAR) AS session_id
      FROM g
    """)
def q_sessionize(spark, sf_dir):
    t = read_transcripts(spark, sf_dir)
    out = Sessionize(gap="30 minutes")(t)
    return out.select("conv_id", "turn_idx", "ts", "session_seq", "session_id")


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL})
      SELECT conv_id, turn_idx,
             round(epoch(ts) - epoch(lag(ts) OVER w), 6) AS secs_since_prev,
             lag(role) OVER w AS role_lag_1,
             lead(role) OVER w AS role_lead_1
      FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
    """)
def q_lag_lead(spark, sf_dir):
    t = read_transcripts(spark, sf_dir)
    out = LagLead("role", lags=[1], leads=[1])(TimeSincePrev()(t))
    return out.select(
        "conv_id", "turn_idx", "secs_since_prev",
        "role_lag_1", F.col("role_lead_1_label").alias("role_lead_1"),
    )


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL})
      SELECT conv_id, turn_idx,
             last_value(CASE WHEN tool <> '' THEN tool END IGNORE NULLS)
               OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                     ROWS UNBOUNDED PRECEDING) AS tool_filled
      FROM t
    """)
def q_backfill(spark, sf_dir):
    t = read_transcripts(spark, sf_dir)
    out = Backfill("tool", sentinel="", lookback=None)(t)
    return out.select("conv_id", "turn_idx", "tool_filled")


_ROLLING_ORACLE = f"""
      WITH t AS ({TRANSCRIPTS_SQL})
      SELECT conv_id, turn_idx,
             CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
               OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS BIGINT) AS assistant_turns_10,
             round(avg(length(text))
               OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING), 4) AS mean_text_len_10
      FROM t
    """


@query(oracle=_ROLLING_ORACLE)
def q_rolling(spark, sf_dir):
    t = read_transcripts(spark, sf_dir).withColumn("text_len", F.length("text").cast("int"))
    out = RollingAgg(
        {
            "assistant_turns_10": (F.sum, F.when(F.col("role") == "assistant", 1).otherwise(0)),
            "mean_text_len_10": (F.avg, F.col("text_len")),
        },
        lookback=10,
    )(t)
    return out.select(
        "conv_id", "turn_idx", "assistant_turns_10",
        F.round("mean_text_len_10", 4).alias("mean_text_len_10"),
    )


@query(oracle=_ROLLING_ORACLE)
def q_rolling_bucketed(spark, sf_dir):
    from hipipe_spark.operators.temporal import BucketedRollingAgg
    t = read_transcripts(spark, sf_dir).withColumn("text_len", F.length("text").cast("int"))
    out = BucketedRollingAgg(
        {
            "assistant_turns_10": (F.sum, F.when(F.col("role") == "assistant", 1).otherwise(0)),
            "mean_text_len_10": (F.avg, F.col("text_len")),
        },
        lookback=10, bucket_size=64,
    )(t)
    return out.select(
        "conv_id", "turn_idx", "assistant_turns_10",
        F.round("mean_text_len_10", 4).alias("mean_text_len_10"),
    )


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      g AS (SELECT conv_id, turn_idx, ts,
                   lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
            FROM t),
      s AS (SELECT conv_id, ts,
                   {_SESSION_SEQ} AS session_seq
            FROM g)
      SELECT conv_id, session_seq, count(*) AS n_turns,
             round(max(epoch(ts)) - min(epoch(ts)), 6) AS span_sec
      FROM s GROUP BY conv_id, session_seq
    """)
def q_session_agg(spark, sf_dir):
    t = Sessionize(gap="30 minutes")(read_transcripts(spark, sf_dir))
    return (
        t.groupBy("conv_id", "session_seq")
        .agg(
            F.count("*").alias("n_turns"),
            F.round(
                F.max(ts_seconds(F.col("ts"))) - F.min(ts_seconds(F.col("ts"))), 6
            ).alias("span_sec"),
        )
    )


def _decay_features_oracle() -> str:
    # decay: identical left-associated sums (j=1..8) — same evaluation
    # order as DecayAgg's explicit fold, so values match to libm ulp
    _wterms = " + ".join(
        f"COALESCE(exp(-(epoch(ts) - epoch(lag(ts, {j}) OVER w)) / 600.0), 0)"
        for j in range(1, 9))
    _sterms = " + ".join(
        f"COALESCE(exp(-(epoch(ts) - epoch(lag(ts, {j}) OVER w)) / 600.0)"
        f" * CAST(lag(length(text), {j}) OVER w AS DOUBLE), 0)"
        for j in range(1, 9))
    return f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      s AS (SELECT conv_id, turn_idx,
                   {_wterms} AS wsum,
                   {_sterms} AS dsum
            FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx))
      SELECT conv_id, turn_idx,
             round(wsum, 4) AS decay_wsum,
             round(dsum, 4) AS decay_sum,
             round(CASE WHEN wsum > 0 THEN dsum / wsum END, 4) AS decay_mean
      FROM s
    """


@query(oracle=_decay_features_oracle())
def q_decay_features(spark, sf_dir):
    """Recency-weighted (EWMA-style) activity features: exp(-dt/tau)
    weighted sum/mean of the previous 8 turns' text lengths. The
    bounded-lag formulation keeps every exponent in [-(max gap)/tau, 0]
    at any timestamp span (the exp(t/tau) prefix-sum trick overflows
    past ~709*tau); the oracle writes the identical left-associated
    sum so values agree bit-for-bit up to libm exp."""
    t = read_transcripts(spark, sf_dir).withColumn(
        "text_len", F.length("text").cast("int"))
    out = DecayAgg("text_len", lookback=8, tau="10 minutes")(t)
    return out.select(
        "conv_id", "turn_idx",
        F.round("decay_wsum", 4).alias("decay_wsum"),
        F.round("text_len_decay_sum", 4).alias("decay_sum"),
        F.round("text_len_decay_mean", 4).alias("decay_mean"),
    )


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      v AS (SELECT conv_id, turn_idx, ts,
                   CASE WHEN tool <> '' THEN tool END AS tool_v FROM t),
      f AS (SELECT conv_id, turn_idx, ts,
                   CASE WHEN tool_v IS NOT NULL AND row_number() OVER
                        (PARTITION BY conv_id, tool_v ORDER BY ts, turn_idx) = 1
                   THEN 1 ELSE 0 END AS flag FROM v)
      SELECT conv_id, turn_idx,
             CAST(COALESCE(sum(flag) OVER
               (PARTITION BY conv_id ORDER BY ts, turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS INTEGER) AS tools_sofar
      FROM f
    """)
def q_cum_distinct(spark, sf_dir):
    """Distinct tools seen strictly before each turn — the running
    set-cardinality feature, computed state-free via first-occurrence
    flags + running sum (no per-row collect_set)."""
    t = read_transcripts(spark, sf_dir).withColumn(
        "tool_v", F.when(F.col("tool") != "", F.col("tool")))
    out = CumulativeDistinct("tool_v")(t)
    return out.select(
        "conv_id", "turn_idx",
        F.col("tool_v_distinct_sofar").alias("tools_sofar"))


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      l AS (SELECT conv_id, turn_idx,
                   list(length(text)) OVER
                     (PARTITION BY conv_id ORDER BY ts, turn_idx
                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS vals
            FROM t)
      SELECT conv_id, turn_idx,
             CASE WHEN len(vals) > 0
                  THEN CAST(list_sort(vals)[CAST(ceil(0.5 * len(vals)) AS INTEGER)]
                            AS INTEGER)
             END AS med_len_7
      FROM l
    """)
def q_rolling_median_past(spark, sf_dir):
    """Exact nearest-rank median of the previous 7 turns' text lengths
    (integer-exact: no float rounding in the oracle compare). Distinct
    from q_rolling_quantile (temporal.rolling_quantile, interpolated,
    current-row-inclusive): this is the strictly-past leakage-safe
    RollingQuantile STAGE."""
    t = read_transcripts(spark, sf_dir).withColumn(
        "text_len", F.length("text").cast("int"))
    out = RollingQuantile("text_len", q=0.5, lookback=7)(t)
    return out.select(
        "conv_id", "turn_idx", F.col("text_len_q50").alias("med_len_7"))


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL})
      SELECT conv_id, turn_idx,
             last_value(CASE WHEN tool <> '' THEN tool END IGNORE NULLS)
               OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                     ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS tool_filled
      FROM t
    """)
def q_backfill_bounded(spark, sf_dir):
    t = read_transcripts(spark, sf_dir)
    out = Backfill("tool", sentinel="", lookback=5, include_current=True)(t)
    return out.select("conv_id", "turn_idx", "tool_filled")


@query(oracle="""
      SELECT event_id, user_id,
             count(*) OVER w AS n_10min,
             round(sum(value) OVER w, 4) AS sum_10min
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
                   RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
    """)
def q_rolling_range(spark, sf_dir):
    # time-based range frame: events per user in the trailing 10 minutes
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_seconds(F.col("ts")))
        .rangeBetween(-600, 0)
    )
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_10min"),
        F.round(F.sum("value").over(w), 4).alias("sum_10min"),
    )


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      b AS (SELECT conv_id, turn_idx, ts, role, tool,
                   length(text) AS text_len,
                   lag(ts) OVER w AS prev_ts,
                   lag(role, 1) OVER w AS role_lag_1,
                   CAST(lag(length(text), 1) OVER w AS INTEGER) AS text_len_lag_1,
                   CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                     OVER (w ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS BIGINT) AS assistant_turns_10,
                   round(avg(length(text))
                     OVER (w ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING), 4) AS mean_text_len_10,
                   last_value(CASE WHEN tool <> '' THEN tool END IGNORE NULLS)
                     OVER (w ROWS UNBOUNDED PRECEDING) AS tool_filled
            FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx))
      SELECT conv_id, turn_idx, ts,
             {_SESSION_SEQ} AS session_seq,
             round(epoch(ts) - epoch(prev_ts), 6) AS secs_since_prev,
             role_lag_1, text_len_lag_1, assistant_turns_10,
             mean_text_len_10, tool_filled
      FROM b
    """)
def q_flagship(spark, sf_dir):
    t = read_transcripts(spark, sf_dir)
    out = featurize(t, profiles=None)
    return out.select(
        "conv_id", "turn_idx", "ts", "session_seq", "secs_since_prev",
        "role_lag_1", "text_len_lag_1", "assistant_turns_10",
        F.round("mean_text_len_10", 4).alias("mean_text_len_10"), "tool_filled",
    )


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      b AS (SELECT conv_id, turn_idx, ts, role, tool,
                   lag(ts) OVER w AS prev_ts,
                   lag(role, 1) OVER w AS role_lag_1,
                   CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                     OVER (w ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS BIGINT) AS assistant_turns_10,
                   round(avg(length(text))
                     OVER (w ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING), 4) AS mean_text_len_10,
                   last_value(CASE WHEN tool <> '' THEN tool END IGNORE NULLS)
                     OVER (w ROWS UNBOUNDED PRECEDING) AS tool_filled
            FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)),
      feat AS (
        SELECT conv_id, turn_idx, ts,
               {_SESSION_SEQ} AS session_seq,
               round(epoch(ts) - epoch(prev_ts), 6) AS secs_since_prev,
               role_lag_1, assistant_turns_10, mean_text_len_10, tool_filled
        FROM b),
      p AS (SELECT 'conv_' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
                   ts, round(value, 4) AS temperature
            FROM events WHERE event_id % 2 = 0)
      SELECT f.conv_id, f.turn_idx, f.ts, f.session_seq, f.secs_since_prev,
             f.role_lag_1, f.assistant_turns_10, f.mean_text_len_10,
             f.tool_filled, p.temperature AS temp_asof
      FROM feat f ASOF LEFT JOIN p
        ON f.conv_id = p.conv_id AND f.ts >= p.ts
    """)
def q_flagship_profiles(spark, sf_dir):
    """Flagship WITH the as-of profile enrichment — the entry() shape,
    under the full driver oracle: seven leakage-free windows plus a
    point-in-time profile join (DuckDB ASOF JOIN on the oracle side).
    Pinned to strategy="union", the 10^12-row architecture."""
    t = read_transcripts(spark, sf_dir)
    _, right = asof_sides(spark, sf_dir)
    prof = right.select(
        F.concat(F.lit("conv_"),
                 F.lpad(F.col("user_id").cast("string"), 8, "0")).alias("conv_id"),
        "ts", F.col("val").alias("temperature"),
    )
    out = featurize(t, profiles=prof, asof_strategy="union")
    return out.select(
        "conv_id", "turn_idx", "ts", "session_seq", "secs_since_prev",
        "role_lag_1", "assistant_turns_10",
        F.round("mean_text_len_10", 4).alias("mean_text_len_10"),
        "tool_filled", F.col("temperature_asof").alias("temp_asof"),
    )


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      g AS (SELECT conv_id, turn_idx, ts,
                   CAST(length(text) AS INTEGER) AS text_len,
                   lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_ts
            FROM t),
      s AS (SELECT conv_id, turn_idx, ts, text_len,
                   {_SESSION_SEQ} AS session_seq
            FROM g)
      SELECT conv_id, turn_idx,
             CASE WHEN session_seq > 0
                  THEN CAST(count(*) OVER w AS INTEGER) END AS prev_session_n_turns,
             CASE WHEN session_seq > 0
                  THEN round(avg(CAST(text_len AS DOUBLE)) OVER w, 6)
             END AS prev_session_mean_text_len,
             CASE WHEN session_seq > 0
                  THEN round(epoch(ts) - epoch(max(ts) OVER w), 6)
             END AS secs_since_prev_session_end
      FROM s
      WINDOW w AS (PARTITION BY conv_id ORDER BY session_seq
                   RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING)
    """)
def q_prior_session(spark, sf_dir):
    """Previous-session features (length, mean text_len, seconds since
    it ended) via the RANGE [-1,-1] window over session_seq — zero
    shuffle beyond sessionize (temporal.py PriorSessionStats)."""
    t = read_transcripts(spark, sf_dir).withColumn(
        "text_len", F.length("text").cast("int"))
    out = PriorSessionStats(value_cols="text_len")(
        Sessionize(gap="30 minutes")(t))
    return out.select(
        "conv_id", "turn_idx", "prev_session_n_turns",
        F.round("prev_session_mean_text_len", 6).alias("prev_session_mean_text_len"),
        "secs_since_prev_session_end")


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      p AS (SELECT lag(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
                     AS from_role,
                   role AS to_role
            FROM t),
      c AS (SELECT from_role, to_role, CAST(count(*) AS BIGINT) AS n
            FROM p WHERE from_role IS NOT NULL GROUP BY from_role, to_role)
      SELECT from_role, to_role, n,
             round(n / sum(n) OVER (PARTITION BY from_role), 6) AS p
      FROM c
    """)
def q_transitions(spark, sf_dir):
    """Corpus role-transition Markov matrix (temporal.py
    transition_matrix): one conv-window pass + tiny (from,to) agg."""
    t = read_transcripts(spark, sf_dir)
    return transition_matrix(t, col="role")


@query(oracle="""
      WITH e AS (SELECT user_id, ts, round(value, 4) AS val FROM events),
      s AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM e GROUP BY user_id),
      g AS (SELECT user_id,
                   unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS ts
            FROM s)
      SELECT g.user_id, g.ts, e.val
      FROM g ASOF LEFT JOIN e ON g.user_id = e.user_id AND g.ts >= e.ts
    """)
def q_time_grid(spark, sf_dir):
    """Regular 6-hour grid per user carrying the as-of event value
    (temporal.py time_grid_resample) — oracled by DuckDB
    generate_series + ASOF join."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", F.round("value", 4).alias("val"))
    return time_grid_resample(ev, step="6 hours", cols=["val"],
                              key="user_id", ts_col="ts")


@query(oracle=rf"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      r AS (SELECT conv_id, turn_idx,
              CAST(CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+'))
                   END AS INT) AS turn_tokens
            FROM t),
      s AS (SELECT conv_id, turn_idx, turn_tokens,
              CAST(SUM(turn_tokens) OVER
                (PARTITION BY conv_id ORDER BY turn_idx DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS suffix_tokens
            FROM r)
      SELECT conv_id, turn_idx, turn_tokens, suffix_tokens
      FROM s WHERE suffix_tokens <= 40
    """)
def q_token_truncate(spark, sf_dir):
    """Token-budget suffix truncation (transcripts.py
    truncate_token_budget): keep the longest recent-turns suffix whose
    whitespace-token total fits the budget — the actual SFT context
    constraint. One window exchange; reverse running sum in one sort."""
    from hipipe_spark.operators.transcripts import truncate_token_budget
    t = read_transcripts(spark, sf_dir)
    return truncate_token_budget(t, budget=40).select(
        "conv_id", "turn_idx", "turn_tokens", "suffix_tokens")


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      r AS (SELECT conv_id,
             CAST(COUNT(*) AS INT) AS n_turns,
             string_agg(role || ': ' || text, chr(10)
                        ORDER BY turn_idx, role, text) AS rendered,
             CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                  AS INT) AS assistant_turns,
             CASE WHEN SUM(length(text)) > 0 THEN
               round(CAST(SUM(CASE WHEN role = 'assistant'
                                   THEN length(text) ELSE 0 END)
                          AS DOUBLE) / SUM(length(text)), 6)
             ELSE 0.0 END AS assistant_char_frac
            FROM t GROUP BY conv_id),
      f AS (SELECT * FROM r
            WHERE n_turns >= 2 AND assistant_turns >= 1),
      d AS (SELECT *, row_number() OVER
              (PARTITION BY md5(rendered) ORDER BY conv_id) AS rn
            FROM f)
      SELECT conv_id, n_turns, rendered, assistant_turns,
             assistant_char_frac
      FROM d WHERE rn = 1
    """)
def q_sft_pipeline(spark, sf_dir):
    """Transcript-side training-set composite (transcripts.py
    build_sft_examples): render -> min-turns + has-assistant filters ->
    exact-dedup of the rendered text, one lazy plan with two exchanges
    (conv-key agg + fingerprint window)."""
    from hipipe_spark.operators.transcripts import build_sft_examples
    t = read_transcripts(spark, sf_dir)
    return build_sft_examples(t, min_turns=2, require_assistant=True)


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL})
      SELECT conv_id,
             CAST(COUNT(*) AS INT) AS n_turns,
             string_agg(role || ': ' || text, chr(10)
                        ORDER BY turn_idx, role, text) AS rendered,
             CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                  AS INT) AS assistant_turns,
             CASE WHEN SUM(length(text)) > 0 THEN
               round(CAST(SUM(CASE WHEN role = 'assistant'
                                   THEN length(text) ELSE 0 END)
                          AS DOUBLE) / SUM(length(text)), 6)
             ELSE 0.0 END AS assistant_char_frac
      FROM t GROUP BY conv_id
    """)
def q_render_convs(spark, sf_dir):
    """Conversation → SFT training example (transcripts.py
    render_conversations): one row per conversation with the
    role-templated rendered text plus assistant turn/char share (the
    assistant-only-loss signal stats). One map-side-combinable
    collect + per-group array sort."""
    from hipipe_spark.operators.transcripts import render_conversations
    t = read_transcripts(spark, sf_dir)
    return render_conversations(t, template="plain")


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      r AS (SELECT conv_id, turn_idx, role,
                   row_number() OVER
                     (PARTITION BY conv_id ORDER BY turn_idx)
                     AS kept_rank,
                   COUNT(*) OVER (PARTITION BY conv_id) AS conv_turns
            FROM t)
      SELECT conv_id, turn_idx, role,
             CAST(kept_rank AS INT) AS kept_rank,
             CAST(conv_turns AS INT) AS conv_turns
      FROM r WHERE kept_rank <= 1 OR kept_rank > conv_turns - 3
    """)
def q_truncate_convs(spark, sf_dir):
    """Head+tail context truncation (transcripts.py truncate_context):
    keep the first 1 + last 3 turns per conversation (system prompt +
    recent exchange), drop the middle; short conversations pass
    through whole. One exchange shared by the ordered row_number and
    the group count."""
    from hipipe_spark.operators.transcripts import truncate_context
    t = read_transcripts(spark, sf_dir)
    out = truncate_context(t, head=1, tail=3)
    return out.select("conv_id", "turn_idx", "role",
                      "kept_rank", "conv_turns")


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL})
      SELECT conv_id, turn_idx,
             round(quantile_cont(CAST(length(text) AS DOUBLE), 0.5)
                     OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
               AS roll_q
      FROM t
    """)
def q_rolling_quantile(spark, sf_dir):
    """Exact rolling median (temporal.py rolling_quantile): text length
    over the last 5 turns per conversation — sorted collect_list ROWS
    frame + percentile_cont interpolation, O(n log n) per row at
    constant n, one conversation exchange."""
    from hipipe_spark.operators.temporal import rolling_quantile
    t = read_transcripts(spark, sf_dir)
    out = rolling_quantile(t, F.length("text"), q=0.5, n=5, round_to=6)
    return out.select("conv_id", "turn_idx", "roll_q")


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      g AS (SELECT conv_id, turn_idx,
                   epoch(ts) - lag(epoch(ts)) OVER
                     (PARTITION BY conv_id ORDER BY ts, turn_idx)
                     AS gap
            FROM t),
      p AS (SELECT conv_id, gap,
                   lag(gap) OVER
                     (PARTITION BY conv_id ORDER BY turn_idx) AS gl
            FROM g)
      SELECT conv_id,
             CAST(sum(CASE WHEN gap IS NOT NULL AND gl IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
             round(corr(gap, gl), 6) AS autocorr
      FROM p GROUP BY conv_id
    """)
def q_gap_autocorr(spark, sf_dir):
    """Lag-1 autocorrelation of inter-turn gaps per conversation
    (features.py lag_autocorr): the rhythm detector — machine-paced
    retry loops autocorrelate, human turns don't. One conversation
    window (gap + lag) + one co-moment hash aggregate; NaN (zero
    variance) normalized to null so the oracle's NULL matches."""
    from hipipe_spark.operators.features import lag_autocorr
    from hipipe_spark.operators.temporal import ts_seconds
    t = read_transcripts(spark, sf_dir)
    es = ts_seconds(F.col("ts"))
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    t = t.withColumn("gap", es - F.lag(es).over(w))
    out = lag_autocorr(t, "gap", lag=1)
    return out.select(
        "conv_id", "n_pairs",
        F.when(~F.isnan(F.coalesce(F.col("autocorr"), F.lit(0.0))),
               F.col("autocorr")).alias("autocorr"))


@query(oracle=rf"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      r AS (SELECT conv_id, turn_idx,
              CAST(length(text) AS DOUBLE) AS score,
              CAST(CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+'))
                   END AS INT) AS turn_tokens
            FROM t),
      s AS (SELECT conv_id, turn_idx, turn_tokens,
              CAST(SUM(turn_tokens) OVER
                (PARTITION BY conv_id
                 ORDER BY score DESC, turn_idx DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS sel_tokens
            FROM r)
      SELECT conv_id, turn_idx, turn_tokens, sel_tokens,
             CAST(CASE WHEN sel_tokens <= 40 THEN 1 ELSE 0 END
                  AS INTEGER) AS kept
      FROM s
    """)
def q_relevance_context(spark, sf_dir):
    """Relevance-ranked context selection (transcripts.py
    relevance_context): greedy by score (token count here) under a
    40-token budget, ties to the later turn — the RAG sibling of the
    recency suffix truncator; one window sort per conversation."""
    from hipipe_spark.operators.transcripts import relevance_context
    t = read_transcripts(spark, sf_dir).withColumn(
        "score", F.length("text").cast("double"))
    out = relevance_context(t, "score", budget=40)
    return out.select("conv_id", "turn_idx", "turn_tokens",
                      "sel_tokens", "kept")


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      f AS (SELECT conv_id, turn_idx, ts, role,
              CASE WHEN ts < lag(ts) OVER w THEN 1 ELSE 0 END AS inv,
              CASE WHEN CAST(turn_idx AS BIGINT)
                        - lag(CAST(turn_idx AS BIGINT)) OVER w > 1
                   THEN 1 ELSE 0 END AS gap,
              CASE WHEN role = lag(role) OVER w THEN 1 ELSE 0 END
                AS rep
            FROM t
            WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)),
      a AS (SELECT conv_id,
              CAST(count(*) AS BIGINT) AS n_turns,
              CAST(count(*) - count(DISTINCT turn_idx) AS BIGINT)
                AS n_dup_idx,
              CAST(sum(inv) AS BIGINT) AS n_ts_inversions,
              CAST(sum(gap) AS BIGINT) AS n_idx_gaps,
              CAST(sum(rep) AS BIGINT) AS n_role_repeats,
              CAST(min(turn_idx) AS BIGINT) AS first_idx
            FROM f GROUP BY conv_id)
      SELECT *,
             CAST(CASE WHEN n_dup_idx = 0 AND n_ts_inversions = 0
                        AND n_idx_gaps = 0 AND first_idx = 0
                  THEN 1 ELSE 0 END AS INTEGER) AS is_clean
      FROM a
    """)
def q_transcript_integrity(spark, sf_dir):
    """Per-conversation ordering audit (transcripts.py
    transcript_integrity): duplicate/gapped turn indexes, timestamp
    inversions, role repeats, first-index check — the gate for the
    engine's stable-turn-ordering invariant. One conversation window +
    one hash aggregate."""
    from hipipe_spark.operators.transcripts import transcript_integrity
    t = read_transcripts(spark, sf_dir)
    return transcript_integrity(t)


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      s AS (SELECT conv_id, turn_idx,
              CAST(count(*) OVER w AS DOUBLE) AS m,
              sum(CAST(turn_idx AS DOUBLE)) OVER w AS sx,
              sum(CAST(length(text) AS DOUBLE)) OVER w AS sy,
              sum(CAST(turn_idx AS DOUBLE) * turn_idx) OVER w AS sxx,
              sum(CAST(turn_idx AS DOUBLE) * length(text)) OVER w AS sxy
            FROM t
            WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx
                         ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
      SELECT conv_id, turn_idx,
             CASE WHEN m >= 2 AND (m * sxx - sx * sx) <> 0
                  THEN round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6)
             END AS roll_slope
      FROM s
    """)
def q_trend_slope(spark, sf_dir):
    """Trailing-window OLS trend (temporal.py rolling_slope): the
    least-squares slope of reply length vs turn_idx over the last 8
    turns of each conversation — 'is this conversation ramping up?'
    as one number per turn. Five window sums in one frame, one
    exchange+sort; integer x keeps the closed form bit-stable."""
    from hipipe_spark.operators.temporal import rolling_slope
    t = read_transcripts(spark, sf_dir).withColumn(
        "text_len", F.length("text").cast("double"))
    out = rolling_slope(t, "text_len", n=8, x="turn_idx", round_to=6)
    return out.select("conv_id", "turn_idx", "roll_slope")


@query(oracle="""
      WITH dedup AS (
        SELECT user_id, ts, event_id, event_type FROM (
          SELECT user_id, ts, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id, ts
                                    ORDER BY event_id DESC) AS rk
          FROM events) WHERE rk = 1),
      chg AS (
        SELECT user_id, ts, event_id, event_type,
               (lag(ts) OVER w IS NULL
                OR NOT (event_type IS NOT DISTINCT FROM
                        lag(event_type) OVER w)) AS keep
        FROM dedup
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      ret AS (SELECT * FROM chg WHERE keep)
      SELECT user_id, event_type,
             epoch(ts) AS valid_from,
             epoch(lead(ts) OVER w2) AS valid_to,
             lead(ts) OVER w2 IS NULL AS is_current,
             CAST(row_number() OVER w2 AS INTEGER) AS version
      FROM ret
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """)
def q_scd2(spark, sf_dir):
    """SCD2 validity intervals (scd.py scd2) from the events stream:
    per-user event_type change tracking with no-op collapse and
    event_id tiebreak — the write-side twin of the as-of profile read
    path. One exchange on user_id."""
    from hipipe_spark.operators.scd import scd2
    from hipipe_spark.operators.temporal import ts_seconds
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = scd2(ev, "user_id", "ts", ["event_type"], tiebreak="event_id")
    # epoch-second doubles: a NULLABLE timestamp column trips pandas'
    # ns-vs-us unit comparison in the driver gate (NaT + mixed units)
    return out.select("user_id", "event_type",
                      ts_seconds(F.col("valid_from")).alias("valid_from"),
                      ts_seconds(F.col("valid_to")).alias("valid_to"),
                      "is_current", "version")


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      tok AS (
        SELECT conv_id, turn_idx, ts,
               list_distinct({det_tokens_sql('text')}) AS s
        FROM t),
      lagd AS (
        SELECT conv_id, turn_idx, ts, s,
               lag(s) OVER (PARTITION BY conv_id
                            ORDER BY ts, turn_idx) AS prev_s
        FROM tok),
      jac AS (
        SELECT conv_id, turn_idx, ts,
               CASE WHEN prev_s IS NULL THEN NULL
                    WHEN len(list_distinct(list_concat(s, prev_s))) > 0
                    THEN round(CAST(len(list_intersect(s, prev_s)) AS DOUBLE)
                         / len(list_distinct(list_concat(s, prev_s))), 6)
                    ELSE 0.0 END AS prev_jaccard
        FROM lagd),
      seg AS (
        SELECT conv_id, turn_idx, prev_jaccard,
               CAST(sum(CASE WHEN prev_jaccard IS NULL
                             OR prev_jaccard < 0.2 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                          ROWS UNBOUNDED PRECEDING) - 1 AS INTEGER)
                 AS segment_seq
        FROM jac)
      SELECT conv_id, turn_idx, prev_jaccard, segment_seq,
             conv_id || '#' || CAST(segment_seq AS VARCHAR) AS segment_id
      FROM seg
    """)
def q_topic_segments(spark, sf_dir):
    """Content-based conversation segmentation (transcripts.py
    topic_segments): new segment when consecutive-turn token Jaccard
    drops below 0.2 — sessionize-on-content; one conversation window
    shared by the lag and the running segment sum."""
    from hipipe_spark.operators.transcripts import topic_segments
    t = read_transcripts(spark, sf_dir)
    out = topic_segments(t, threshold=0.2)
    return out.select("conv_id", "turn_idx", "prev_jaccard",
                      "segment_seq", "segment_id")


_SEASONAL_ORACLE = """
  WITH hrs AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT)
                        AS hour,
                      count(*) AS cnt
               FROM events GROUP BY 1),
  w AS (SELECT hour, CAST(cnt AS DOUBLE) AS v,
               sum(CAST(cnt AS DOUBLE)) OVER win AS s_full,
               first_value(CAST(cnt AS DOUBLE)) OVER win AS lo,
               last_value(CAST(cnt AS DOUBLE)) OVER win AS hi,
               count(*) OVER win AS cwin
        FROM hrs
        WINDOW win AS (ORDER BY hour
                       ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
  b AS (SELECT hour, v,
               CASE WHEN cwin = 25
                    THEN (s_full - 0.5 * lo - 0.5 * hi) / 24.0
               END AS trend,
               hour % 24 AS phase
        FROM w),
  ph AS (SELECT phase, avg(v - trend) AS phm FROM b GROUP BY 1),
  ctr AS (SELECT avg(phm) AS cc FROM ph),
  se AS (SELECT phase, phm - cc AS seasonal FROM ph, ctr)
  SELECT b.hour, round(v, 6) AS cnt, round(trend, 6) AS trend,
         round(seasonal, 6) AS seasonal,
         round(v - trend - seasonal, 6) AS resid
  FROM b JOIN se USING (phase)
"""


@query(oracle=_SEASONAL_ORACLE)
def q_seasonal(spark, sf_dir):
    """Classical additive decomposition of the hourly event-count
    series, period 24 (temporal.py seasonal_decompose): 2×24
    half-weighted centered MA trend, phase-mean seasonal centered to
    zero, residual. The series is the AGGREGATE of the raw log
    (dimension-sized), so the one unpartitioned sort is over ~720
    rows regardless of corpus size."""
    from hipipe_spark.operators.temporal import seasonal_decompose
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    hours = (e.groupBy(
        F.floor(F.col("ts").cast("timestamp").cast("double") / 3600)
         .cast("bigint").alias("hour"))
        .agg(F.count("*").alias("cnt")))
    return seasonal_decompose(hours, "hour", "cnt", period=24)


@query(oracle="""
      WITH hrs AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT)
                            AS hour,
                          count(*) AS cnt
                   FROM events GROUP BY 1),
      nn AS (SELECT count(*) AS n FROM hrs),
      ix AS (SELECT hour, CAST(cnt AS DOUBLE) AS v,
                    row_number() OVER (ORDER BY hour) AS i
             FROM hrs),
      pts AS (SELECT hour, v, i,
                     CASE WHEN i = 1 THEN 0
                          WHEN i = n THEN 47
                          ELSE 1 + CAST(floor((i - 2) * 46 / (n - 2))
                                        AS INT)
                     END AS b
              FROM ix, nn),
      means AS (SELECT b, avg(CAST(hour AS DOUBLE)) AS mt,
                       avg(v) AS mv
                FROM pts GROUP BY b),
      cand AS (SELECT p.*, pm.mt AS pt, pm.mv AS pv,
                      nm.mt AS nt, nm.mv AS nv
               FROM pts p LEFT JOIN means pm ON pm.b = p.b - 1
                          LEFT JOIN means nm ON nm.b = p.b + 1),
      sc AS (SELECT *, round(
                 CASE WHEN pt IS NULL OR nt IS NULL THEN 0.0
                      ELSE abs((pt - nt) * (v - pv)
                               - (pt - CAST(hour AS DOUBLE))
                                 * (nv - pv))
                 END, 6) AS s
             FROM cand),
      pick AS (SELECT *, row_number() OVER (PARTITION BY b
                                            ORDER BY s DESC, hour)
                           AS rk
               FROM sc)
      SELECT hour, round(v, 6) AS cnt, CAST(b AS INT) AS bucket
      FROM pick WHERE rk = 1
    """)
def q_lttb(spark, sf_dir):
    """LTTB downsampling (temporal.py lttb_downsample, fixed-anchor
    parallel variant) of the hourly event-count series to 48 points:
    every bucket's triangle-area argmax is independent (anchors =
    neighbor-bucket means), so the classic sequential chain becomes
    one mean aggregate + one per-bucket window — the shape that
    survives a 10⁹-point series."""
    from hipipe_spark.operators.temporal import lttb_downsample
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    hours = (e.groupBy(
        F.floor(F.col("ts").cast("timestamp").cast("double") / 3600)
         .cast("bigint").alias("hour"))
        .agg(F.count("*").alias("cnt")))
    return lttb_downsample(hours, "hour", "cnt", n_out=48)


@query(oracle="""
      WITH hrs AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT)
                            AS hour,
                          count(*) AS cnt
                   FROM events GROUP BY 1),
      l AS (SELECT hour, CAST(cnt AS DOUBLE) AS v,
                   lag(CAST(cnt AS DOUBLE), 1)
                     OVER (ORDER BY hour) AS f1,
                   lag(CAST(cnt AS DOUBLE), 24)
                     OVER (ORDER BY hour) AS fs
            FROM hrs),
      b AS (SELECT * FROM l
            WHERE fs IS NOT NULL AND f1 IS NOT NULL),
      a AS (SELECT count(*) AS n,
                   sum(abs(v - f1)) AS ae1,
                   sum((v - f1) * (v - f1)) AS se1,
                   sum(CASE WHEN abs(v) + abs(f1) > 0
                            THEN 2.0 * abs(v - f1)
                                 / (abs(v) + abs(f1))
                            ELSE 0.0 END) AS sm1,
                   sum(abs(v - fs)) AS ae2,
                   sum((v - fs) * (v - fs)) AS se2,
                   sum(CASE WHEN abs(v) + abs(fs) > 0
                            THEN 2.0 * abs(v - fs)
                                 / (abs(v) + abs(fs))
                            ELSE 0.0 END) AS sm2
            FROM b)
      SELECT 'naive' AS method, CAST(n AS BIGINT) AS n,
             round(ae1 / n, 6) AS mae, round(sqrt(se1 / n), 6) AS rmse,
             round(sm1 / n, 6) AS smape,
             round((ae1 / n) / (ae1 / n), 6) AS mase
      FROM a
      UNION ALL
      SELECT 'seasonal_naive', CAST(n AS BIGINT),
             round(ae2 / n, 6), round(sqrt(se2 / n), 6),
             round(sm2 / n, 6), round((ae2 / n) / (ae1 / n), 6)
      FROM a
    """)
def q_forecast_eval(spark, sf_dir):
    """Naive vs seasonal-naive forecast backtest on the hourly count
    series (temporal.py forecast_eval): MAE/RMSE/sMAPE/MASE on the
    common support — the baseline floor any forecaster must beat;
    MASE(naive) ≡ 1 is the built-in self-check."""
    from hipipe_spark.operators.temporal import forecast_eval
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    hours = (e.groupBy(
        F.floor(F.col("ts").cast("timestamp").cast("double") / 3600)
         .cast("bigint").alias("hour"))
        .agg(F.count("*").alias("cnt")))
    return forecast_eval(hours, "hour", "cnt", season=24)


def _acf_oracle() -> str:
    _K = 12
    _lags = ", ".join(f"lag(d, {k}) OVER win AS l{k}"
                      for k in range(1, _K + 1))
    _nums = ", ".join(f"sum(d * l{k}) AS num{k}"
                      for k in range(1, _K + 1))
    _lag_arr = "[" + ", ".join(str(k) for k in range(1, _K + 1)) + "]"
    _r_arr = "[" + ", ".join(f"round(num{k} / den, 6)"
                             for k in range(1, _K + 1)) + "]"
    return f"""
      WITH hrs AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT)
                            AS hour,
                          CAST(count(*) AS DOUBLE) AS cnt
                   FROM events GROUP BY 1),
      mu AS (SELECT round(avg(cnt), 6) AS mu FROM hrs),
      b AS (SELECT hour, cnt - mu AS d FROM hrs, mu),
      l AS (SELECT d, {_lags}
            FROM b WINDOW win AS (ORDER BY hour)),
      a AS (SELECT count(*) AS n, sum(d * d) AS den, {_nums} FROM l),
      per AS (SELECT CAST(n AS DOUBLE) AS n,
                     UNNEST({_lag_arr}) AS lag,
                     UNNEST({_r_arr}) AS r
              FROM a),
      q AS (SELECT CAST(lag AS INT) AS lag, r,
                   round(n * (n + 2)
                         * sum(r * r / (n - lag)) OVER (ORDER BY lag),
                         6) AS q_stat
            FROM per),
      zt AS (SELECT lag, r, q_stat,
                    (pow(q_stat / CAST(lag AS DOUBLE),
                         {1.0 / 3.0!r})
                     - (1.0 - 2.0 / (9.0 * CAST(lag AS DOUBLE))))
                    / sqrt(2.0 / (9.0 * CAST(lag AS DOUBLE))) AS z
             FROM q)
      SELECT lag, r, q_stat,
             round(1.0 / (1.0 + exp(0.07056 * z * z * z
                                    + 1.5976 * z)), 6) AS p_value
      FROM zt
    """


@query(oracle=_acf_oracle())
def q_acf(spark, sf_dir):
    """ACF + cumulative Ljung–Box over the hourly event-count series
    (temporal.py acf_ljung_box, lags 1..12): the is-it-white-noise
    diagnostic behind every forecaster; all lag columns share ONE
    sort window, Q from rounded-handoff r_k, Wilson–Hilferty χ²
    tail via the Bowling Φ — identical expression in the oracle."""
    from hipipe_spark.operators.temporal import acf_ljung_box
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    hours = (e.groupBy(
        F.floor(F.col("ts").cast("timestamp").cast("double") / 3600)
         .cast("bigint").alias("hour"))
        .agg(F.count("*").cast("double").alias("cnt")))
    return acf_ljung_box(hours, "hour", "cnt", max_lag=12)


@query(oracle=f"""
      WITH dec AS ({_SEASONAL_ORACLE}),
      base AS (SELECT * FROM dec WHERE resid IS NOT NULL),
      med AS (SELECT round(quantile_cont(resid, 0.5), 6) AS med
              FROM base),
      mad AS (SELECT round(quantile_cont(abs(resid - med), 0.5), 6)
                       AS mad,
                     any_value(med) AS med2
              FROM base, med)
      SELECT hour, cnt, resid,
             abs(resid - med2) > 3.5 * 1.4826 * mad AS anomaly
      FROM base, mad
      ORDER BY hour
    """)
def q_seasonal_anom(spark, sf_dir):
    """Seasonal-hybrid anomaly flags on the hourly series (temporal.py
    seasonal_anomalies): decompose away trend + daily cycle, then
    flag residuals beyond 3.5 robust sigmas (median/MAD, rounded
    handoff) — a level shift or the cycle itself can never
    masquerade as an anomaly."""
    from hipipe_spark.operators.temporal import seasonal_anomalies
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    hours = (e.groupBy(
        F.floor(F.col("ts").cast("timestamp").cast("double") / 3600)
         .cast("bigint").alias("hour"))
        .agg(F.count("*").alias("cnt")))
    return seasonal_anomalies(hours, "hour", "cnt", period=24, k=3.5)


@query(oracle="""
      WITH g AS (SELECT user_id AS k,
                        row_number() OVER win AS rn,
                        lag(event_type, 2) OVER win AS t1,
                        lag(event_type, 1) OVER win AS t2,
                        event_type AS t3
                 FROM events
                 WINDOW win AS (PARTITION BY user_id
                                ORDER BY ts, event_id)),
      a AS (SELECT t1, t2, t3, count(*) AS occurrences,
                   count(DISTINCT k) AS support
            FROM g WHERE rn >= 3 GROUP BY 1, 2, 3
            HAVING count(DISTINCT k) >= 2)
      SELECT t1, t2, t3, CAST(occurrences AS BIGINT) AS occurrences,
             CAST(support AS BIGINT) AS support
      FROM a
      ORDER BY support DESC, occurrences DESC, t1, t2, t3 LIMIT 25
    """)
def q_seq_patterns(spark, sf_dir):
    """Frequent event-type trigrams per user journey (temporal.py
    seq_patterns): contiguous length-3 patterns with distinct-user
    support — the n-gram tier of sequence mining at a lag-window
    price (two lags share one sort)."""
    from hipipe_spark.operators.temporal import seq_patterns
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return seq_patterns(e, "user_id", "event_type",
                        ["ts", "event_id"], n=3, min_support=2,
                        top_k=25)


def _ccf_oracle() -> str:
    _ccf_ks = list(range(-6, 7))
    _shifts = ", ".join(
        (f"lag(db, {k}) OVER win AS s{i}" if k >= 0
         else f"lead(db, {-k}) OVER win AS s{i}")
        for i, k in enumerate(_ccf_ks))
    _csums = ", ".join(f"sum(da * s{i}) AS c{i}, count(da * s{i}) AS n{i}"
                       for i in range(len(_ccf_ks)))
    _sel = " UNION ALL ".join(
        f"SELECT {k} AS lag, CAST(n{i} AS BIGINT) AS n_pairs, "
        f"round(c{i} / sqrt(va * vb), 6) AS r FROM agg"
        for i, k in enumerate(_ccf_ks))
    return f"""
      WITH h AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT)
                          AS hour,
                        sum(CASE WHEN event_type = 'purchase'
                                 THEN CAST(value AS DOUBLE)
                                 ELSE 0.0 END) AS a,
                        sum(CASE WHEN event_type = 'view'
                                 THEN 1 ELSE 0 END) AS b
                 FROM events GROUP BY 1),
      mu AS (SELECT round(avg(a), 6) AS ma,
                    round(avg(CAST(b AS DOUBLE)), 6) AS mb
             FROM h),
      base AS (SELECT hour, a - ma AS da,
                      CAST(b AS DOUBLE) - mb AS db
               FROM h, mu),
      sh AS (SELECT da, db, {_shifts}
             FROM base WINDOW win AS (ORDER BY hour)),
      agg AS (SELECT sum(da * da) AS va, sum(db * db) AS vb,
                     {_csums}
              FROM sh)
      {_sel}
    """


@query(oracle=_ccf_oracle())
def q_ccf(spark, sf_dir):
    """Cross-correlation (temporal.py ccf, lags −6..6) between hourly
    purchase value and hourly view count — the lead–lag discovery
    tool; all 13 shift columns share ONE sort, correlations fold in
    one aggregate, means rounded-handoff."""
    from hipipe_spark.operators.temporal import ccf
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    hours = (e.groupBy(
        F.floor(F.col("ts").cast("timestamp").cast("double") / 3600)
         .cast("bigint").alias("hour"))
        .agg(F.sum(F.when(F.col("event_type") == "purchase",
                          F.col("value")).otherwise(0.0)).alias("a"),
             F.sum(F.when(F.col("event_type") == "view", 1)
                   .otherwise(0)).alias("b")))
    return ccf(hours, "hour", "a", "b", max_lag=6)


@query(oracle=f"""
      WITH tf AS (SELECT term, count(*) AS n
                  FROM (SELECT unnest({det_tokens_sql('text')})
                          AS term
                        FROM documents)
                  GROUP BY 1),
      c AS (SELECT CAST(row_number() OVER (ORDER BY n DESC, term)
                        AS DOUBLE) AS k,
                   sum(n) OVER (ORDER BY n DESC, term
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / CAST(sum(n) OVER () AS DOUBLE) AS cov
            FROM tf),
      cur AS (SELECT k, cov FROM c WHERE k <= 2000),
      rng AS (SELECT round(min(k), 6) AS x0, round(max(k), 6) AS x1,
                     round(min(cov), 6) AS y0, round(max(cov), 6) AS y1
              FROM cur),
      st AS (SELECT k AS x, cov AS y,
                    round((cov - y0) / (y1 - y0)
                          - (k - x0) / (x1 - x0), 6) AS score
             FROM cur, rng WHERE x1 > x0 AND y1 > y0)
      SELECT x, y, score FROM st ORDER BY score DESC, x ASC LIMIT 1
    """)
def q_knee(spark, sf_dir):
    """Kneedle knee detection (temporal.py knee_point) on the
    vocabulary-coverage curve: cumulative share of token mass covered
    by the top-k terms vs k — the operating point where growing the
    vocab stops paying. One argmax window on the curve frame."""
    from hipipe_spark.operators.temporal import knee_point
    d = read_docs(spark, sf_dir)
    from hipipe_spark.functions.text import tokens as _tok
    tf = (d.select(F.explode(_tok(F.lower(F.col("text"))))
                   .alias("term"))
          .groupBy("term").agg(F.count("*").alias("n")))
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    curve = (tf.select(
        F.row_number().over(w).cast("double").alias("k"),
        (F.sum("n").over(wc) / F.sum("n").over(wall)).alias("cov"))
        .where(F.col("k") <= 2000))
    return knee_point(curve, "k", "cov")


@query(oracle="""
      WITH e AS (SELECT user_id, event_id, ts,
                        CAST(value AS DOUBLE) AS v FROM events),
      l AS (SELECT user_id, event_id, v,
                   lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
                   lag(v, 3) OVER w AS l3, lag(v, 4) OVER w AS l4,
                   lag(v, 5) OVER w AS l5, lag(v, 6) OVER w AS l6,
                   lag(v, 7) OVER w AS l7
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, event_id,
             round((v
                    + CASE WHEN l1 IS NOT NULL THEN l1*0.5 ELSE 0.0 END
                    + CASE WHEN l2 IS NOT NULL THEN l2*0.25 ELSE 0.0 END
                    + CASE WHEN l3 IS NOT NULL THEN l3*0.125 ELSE 0.0 END
                    + CASE WHEN l4 IS NOT NULL THEN l4*0.0625 ELSE 0.0 END
                    + CASE WHEN l5 IS NOT NULL THEN l5*0.03125 ELSE 0.0 END
                    + CASE WHEN l6 IS NOT NULL THEN l6*0.015625 ELSE 0.0 END
                    + CASE WHEN l7 IS NOT NULL THEN l7*0.0078125 ELSE 0.0 END)
                   /
                   (1.0
                    + CASE WHEN l1 IS NOT NULL THEN 0.5 ELSE 0.0 END
                    + CASE WHEN l2 IS NOT NULL THEN 0.25 ELSE 0.0 END
                    + CASE WHEN l3 IS NOT NULL THEN 0.125 ELSE 0.0 END
                    + CASE WHEN l4 IS NOT NULL THEN 0.0625 ELSE 0.0 END
                    + CASE WHEN l5 IS NOT NULL THEN 0.03125 ELSE 0.0 END
                    + CASE WHEN l6 IS NOT NULL THEN 0.015625 ELSE 0.0 END
                    + CASE WHEN l7 IS NOT NULL THEN 0.0078125 ELSE 0.0 END),
                   6) AS ewma,
             CAST(1 + (l1 IS NOT NULL)::INT + (l2 IS NOT NULL)::INT
                  + (l3 IS NOT NULL)::INT + (l4 IS NOT NULL)::INT
                  + (l5 IS NOT NULL)::INT + (l6 IS NOT NULL)::INT
                  + (l7 IS NOT NULL)::INT AS INT) AS ewma_n
      FROM l
    """)
def q_ewma(spark, sf_dir):
    """Bounded-window EWMA per user (temporal.ewma_bounded):
    last-8-lags exponential smoothing as a fixed fan of lag
    expressions over one key window — the scale-safe, SQL-exact
    alternative to the sequential recursive form; alpha=0.5 keeps
    every weight an exact binary fraction."""
    from hipipe_spark.operators.temporal import ewma_bounded
    e = spark.read.parquet(f"{sf_dir}/events.parquet") \
             .select("user_id", "event_id", "ts", "value")
    out = ewma_bounded(e, "user_id", ["ts", "event_id"], "value")
    return out.select("user_id", "event_id", "ewma", "ewma_n")


@query(oracle="""
      WITH hrs AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT)
                            AS hour,
                          CAST(count(*) AS DOUBLE) AS cnt
                   FROM events GROUP BY 1),
      mu AS (SELECT round(avg(cnt), 6) AS mu FROM hrs),
      b AS (SELECT hour, cnt - mu AS d FROM hrs, mu),
      l AS (SELECT d, lag(d, 1) OVER win AS l1, lag(d, 2) OVER win AS l2, lag(d, 3) OVER win AS l3, lag(d, 4) OVER win AS l4, lag(d, 5) OVER win AS l5, lag(d, 6) OVER win AS l6
            FROM b WINDOW win AS (ORDER BY hour)),
      a AS (SELECT sum(d * d) AS den, sum(d * l1) AS num1, sum(d * l2) AS num2, sum(d * l3) AS num3, sum(d * l4) AS num4, sum(d * l5) AS num5, sum(d * l6) AS num6 FROM l),
      base AS (SELECT round(num1 / den, 6) AS r1, round(num2 / den, 6) AS r2, round(num3 / den, 6) AS r3, round(num4 / den, 6) AS r4, round(num5 / den, 6) AS r5, round(num6 / den, 6) AS r6 FROM a),
      s1 AS (SELECT *, round(r1, 9) AS phi_1_1 FROM base),
      s2 AS (SELECT *, round(CASE WHEN (1.0 - phi_1_1*r1) <> 0 THEN (r2 - phi_1_1*r1) / (1.0 - phi_1_1*r1) END, 9) AS phi_2_2 FROM s1),
      s2b AS (SELECT *, round(phi_1_1 - phi_2_2*phi_1_1, 9) AS phi_2_1 FROM s2),
      s3 AS (SELECT *, round(CASE WHEN (1.0 - phi_2_1*r1 - phi_2_2*r2) <> 0 THEN (r3 - phi_2_1*r2 - phi_2_2*r1) / (1.0 - phi_2_1*r1 - phi_2_2*r2) END, 9) AS phi_3_3 FROM s2b),
      s3b AS (SELECT *, round(phi_2_1 - phi_3_3*phi_2_2, 9) AS phi_3_1, round(phi_2_2 - phi_3_3*phi_2_1, 9) AS phi_3_2 FROM s3),
      s4 AS (SELECT *, round(CASE WHEN (1.0 - phi_3_1*r1 - phi_3_2*r2 - phi_3_3*r3) <> 0 THEN (r4 - phi_3_1*r3 - phi_3_2*r2 - phi_3_3*r1) / (1.0 - phi_3_1*r1 - phi_3_2*r2 - phi_3_3*r3) END, 9) AS phi_4_4 FROM s3b),
      s4b AS (SELECT *, round(phi_3_1 - phi_4_4*phi_3_3, 9) AS phi_4_1, round(phi_3_2 - phi_4_4*phi_3_2, 9) AS phi_4_2, round(phi_3_3 - phi_4_4*phi_3_1, 9) AS phi_4_3 FROM s4),
      s5 AS (SELECT *, round(CASE WHEN (1.0 - phi_4_1*r1 - phi_4_2*r2 - phi_4_3*r3 - phi_4_4*r4) <> 0 THEN (r5 - phi_4_1*r4 - phi_4_2*r3 - phi_4_3*r2 - phi_4_4*r1) / (1.0 - phi_4_1*r1 - phi_4_2*r2 - phi_4_3*r3 - phi_4_4*r4) END, 9) AS phi_5_5 FROM s4b),
      s5b AS (SELECT *, round(phi_4_1 - phi_5_5*phi_4_4, 9) AS phi_5_1, round(phi_4_2 - phi_5_5*phi_4_3, 9) AS phi_5_2, round(phi_4_3 - phi_5_5*phi_4_2, 9) AS phi_5_3, round(phi_4_4 - phi_5_5*phi_4_1, 9) AS phi_5_4 FROM s5),
      s6 AS (SELECT *, round(CASE WHEN (1.0 - phi_5_1*r1 - phi_5_2*r2 - phi_5_3*r3 - phi_5_4*r4 - phi_5_5*r5) <> 0 THEN (r6 - phi_5_1*r5 - phi_5_2*r4 - phi_5_3*r3 - phi_5_4*r2 - phi_5_5*r1) / (1.0 - phi_5_1*r1 - phi_5_2*r2 - phi_5_3*r3 - phi_5_4*r4 - phi_5_5*r5) END, 9) AS phi_6_6 FROM s5b)
      SELECT CAST(1 AS INT) AS lag, r1 AS r, round(phi_1_1, 6) AS pacf FROM s6
      UNION ALL SELECT CAST(2 AS INT) AS lag, r2 AS r, round(phi_2_2, 6) AS pacf FROM s6
      UNION ALL SELECT CAST(3 AS INT) AS lag, r3 AS r, round(phi_3_3, 6) AS pacf FROM s6
      UNION ALL SELECT CAST(4 AS INT) AS lag, r4 AS r, round(phi_4_4, 6) AS pacf FROM s6
      UNION ALL SELECT CAST(5 AS INT) AS lag, r5 AS r, round(phi_5_5, 6) AS pacf FROM s6
      UNION ALL SELECT CAST(6 AS INT) AS lag, r6 AS r, round(phi_6_6, 6) AS pacf FROM s6
    """)
def q_pacf(spark, sf_dir):
    """Partial autocorrelation to lag 6 over the hourly event-count
    series (temporal.pacf_table): Durbin-Levinson unrolled on the
    one-row rounded-ACF frame, every phi a 9-dp rounded handoff so
    the oracle replays the identical recursion bit-for-bit."""
    from hipipe_spark.operators.temporal import pacf_table
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    hours = (e.groupBy(
        F.floor(F.col("ts").cast("timestamp").cast("double") / 3600)
         .cast("bigint").alias("hour"))
        .agg(F.count("*").cast("double").alias("cnt")))
    return pacf_table(hours, "hour", "cnt", max_lag=6)


@query(oracle="""
      WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
      f AS (SELECT user_id, event_type,
                   CASE WHEN lag(event_type) OVER w IS NULL
                        OR lag(event_type) OVER w <> event_type
                   THEN 1 ELSE 0 END AS nw,
                   ts, event_id
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      rid AS (SELECT user_id, event_type,
                     sum(nw) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS rid
              FROM f),
      runs AS (SELECT user_id, rid, event_type,
                      CAST(count(*) AS BIGINT) AS len
               FROM rid GROUP BY user_id, rid, event_type),
      mx AS (SELECT *, max(len) OVER (PARTITION BY user_id) AS m
             FROM runs)
      SELECT user_id,
             CAST(sum(len) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_runs,
             max(len) AS max_run,
             min(CASE WHEN len = m THEN event_type END) AS top_cat,
             CAST(sum(CASE WHEN len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_loops,
             round(CAST(sum(CASE WHEN len >= 3 THEN len ELSE 0 END)
                        AS DOUBLE) / sum(len), 6) AS loop_frac
      FROM mx GROUP BY user_id
    """)
def q_event_runs(spark, sf_dir):
    """Run-length mining per user over the event-type sequence
    (temporal.event_runs): retry-loop detection — longest identical
    run, deterministic top category, share of rows inside runs of
    three or more."""
    from hipipe_spark.operators.temporal import event_runs
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_runs(e, "user_id", ["ts", "event_id"], "event_type")


@query(oracle="""
      WITH base AS (
        SELECT user_id, CAST(value AS DOUBLE) AS x,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
      rs8 AS (
        SELECT user_id, round(avg(r/s), 9) AS rs,
               CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(8 AS INT) AS m
        FROM (
          SELECT user_id, bid,
                 count(*) AS cnt,
                 max(cum) - min(cum) AS r,
                 stddev_pop(x) AS s
          FROM (
            SELECT user_id, bid, x,
                   sum(x - bm) OVER (PARTITION BY user_id, bid
                                     ORDER BY rn
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
            FROM (
              SELECT user_id, x, rn,
                     CAST(floor((rn - 1) / 8) AS BIGINT) AS bid,
                     avg(x) OVER (PARTITION BY user_id,
                                  CAST(floor((rn - 1) / 8) AS BIGINT))
                       AS bm
              FROM base))
          GROUP BY user_id, bid)
        WHERE cnt = 8 AND s > 0
        GROUP BY user_id),
      rs16 AS (
        SELECT user_id, round(avg(r/s), 9) AS rs,
               CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(16 AS INT) AS m
        FROM (
          SELECT user_id, bid,
                 count(*) AS cnt,
                 max(cum) - min(cum) AS r,
                 stddev_pop(x) AS s
          FROM (
            SELECT user_id, bid, x,
                   sum(x - bm) OVER (PARTITION BY user_id, bid
                                     ORDER BY rn
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
            FROM (
              SELECT user_id, x, rn,
                     CAST(floor((rn - 1) / 16) AS BIGINT) AS bid,
                     avg(x) OVER (PARTITION BY user_id,
                                  CAST(floor((rn - 1) / 16) AS BIGINT))
                       AS bm
              FROM base))
          GROUP BY user_id, bid)
        WHERE cnt = 16 AND s > 0
        GROUP BY user_id),
      rs32 AS (
        SELECT user_id, round(avg(r/s), 9) AS rs,
               CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(32 AS INT) AS m
        FROM (
          SELECT user_id, bid,
                 count(*) AS cnt,
                 max(cum) - min(cum) AS r,
                 stddev_pop(x) AS s
          FROM (
            SELECT user_id, bid, x,
                   sum(x - bm) OVER (PARTITION BY user_id, bid
                                     ORDER BY rn
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
            FROM (
              SELECT user_id, x, rn,
                     CAST(floor((rn - 1) / 32) AS BIGINT) AS bid,
                     avg(x) OVER (PARTITION BY user_id,
                                  CAST(floor((rn - 1) / 32) AS BIGINT))
                       AS bm
              FROM base))
          GROUP BY user_id, bid)
        WHERE cnt = 32 AND s > 0
        GROUP BY user_id),
      curve AS (SELECT * FROM rs8
      UNION ALL SELECT * FROM rs16
      UNION ALL SELECT * FROM rs32),
      pts AS (SELECT user_id, m, rs, n_blocks,
                     log2(CAST(m AS DOUBLE)) AS lx, log2(rs) AS ly
              FROM curve WHERE rs > 0),
      fit AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS k,
                     sum(lx) AS sx, sum(ly) AS sy,
                     sum(lx*lx) AS sxx, sum(lx*ly) AS sxy,
                     sum(ly*ly) AS syy
              FROM pts GROUP BY user_id),
      f2 AS (SELECT user_id, k,
                    sxx - sx*sx/k AS vxx, sxy - sx*sy/k AS vxy,
                    syy - sy*sy/k AS vyy
             FROM fit)
      SELECT user_id, 'fit' AS kind, CAST(NULL AS INT) AS m,
             CAST(NULL AS DOUBLE) AS rs, CAST(NULL AS BIGINT) AS n_blocks,
             round(CASE WHEN k >= 2 AND vxx > 0 THEN vxy/vxx END, 6)
               AS h,
             round(CASE WHEN k >= 2 AND vxx > 0 AND vyy > 0
                   THEN vxy*vxy/(vxx*vyy) END, 6) AS r2
      FROM f2
      UNION ALL
      SELECT user_id, 'block' AS kind, m, round(rs, 6) AS rs, n_blocks,
             CAST(NULL AS DOUBLE) AS h, CAST(NULL AS DOUBLE) AS r2
      FROM pts
    """)
def q_hurst(spark, sf_dir):
    """Hurst exponent by rescaled-range analysis per user
    (temporal.hurst_rs, block sizes 8/16/32): long-memory summary of
    the event-value stream — one row_number exchange, per-size
    (key, block) windows on a narrow projection, closed-form log-log
    OLS on the per-key R/S curve; long format carries both the fit
    (h, r2) and the diagnostic curve rows."""
    from hipipe_spark.operators.temporal import hurst_rs
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return hurst_rs(e, "user_id", ["ts", "event_id"], "value",
                    block_sizes=(8, 16, 32))
