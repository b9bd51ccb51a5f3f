"""Hypothesis tests, regression and diagnostics (operators/stats.py,
regression.py, diagnostics.py, bootstrap.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from driver_queries import query
from driver_queries.testdata import (
    TRANSCRIPTS_SQL, asof_sides, read_docs, read_transcripts,
)
from hipipe_spark.operators.bootstrap import bootstrap_mean_ci_oracle_sql


@query(oracle="""
      WITH l AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_id % 2 = 1),
      r AS (SELECT user_id, ts FROM events WHERE event_id % 2 = 0),
      j AS (SELECT l.ts AS lts, r.ts AS rts
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts),
      s AS (SELECT CASE WHEN rts IS NOT NULL THEN 1 ELSE 0 END AS m,
                   epoch(lts) - epoch(rts) AS st
            FROM j)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_left,
             CAST(SUM(m) AS BIGINT) AS n_matched,
             round(CAST(SUM(m) AS DOUBLE) / COUNT(*), 6) AS match_rate,
             round(AVG(st), 6) AS mean_staleness,
             round(quantile_cont(st, 0.5), 6) AS p50_staleness,
             round(quantile_cont(st, 0.9), 6) AS p90_staleness,
             round(quantile_cont(st, 0.99), 6) AS p99_staleness,
             round(MAX(st), 6) AS max_staleness
      FROM s
    """)
def q_freshness(spark, sf_dir):
    """Feature-freshness audit (diagnostics.py freshness_report): match
    rate + staleness percentiles of the standard events as-of
    enrichment, one output row. Exact percentiles for the oracle;
    percentile_approx is the 100-TB path."""
    from hipipe_spark.operators.diagnostics import freshness_report
    left, right = asof_sides(spark, sf_dir)
    return freshness_report(left, right, on="ts", by="user_id",
                            strategy="union", exact=True)


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      c AS (SELECT conv_id, COUNT(*) AS n_rows FROM t GROUP BY conv_id),
      s AS (SELECT conv_id, CAST(n_rows AS BIGINT) AS n_rows,
                   round(CAST(n_rows AS DOUBLE)
                         / SUM(n_rows) OVER (), 6) AS share,
                   CAST(row_number() OVER
                     (ORDER BY n_rows DESC, conv_id) AS INT) AS rank
            FROM c)
      SELECT conv_id, n_rows, share, rank,
             round(SUM(share) OVER
               (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW), 6) AS cum_share
      FROM s WHERE rank <= 10
    """)
def q_hot_keys(spark, sf_dir):
    """Skew diagnostics (diagnostics.py hot_keys): the 10 heaviest
    conversations with corpus share + cumulative share — the report
    that tells you WHICH keys need salting before a join melts. One
    hash agg; ranking on the key-sized frame."""
    from hipipe_spark.operators.diagnostics import hot_keys
    return hot_keys(read_transcripts(spark, sf_dir), "conv_id", top_n=10)


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      c AS (SELECT conv_id, COUNT(*) AS n FROM t GROUP BY conv_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             round(CAST(SUM(n) AS DOUBLE) / COUNT(*), 6) AS mean_size,
             CAST(quantile_cont(n, 0.5) AS DOUBLE) AS p50_size,
             CAST(quantile_cont(n, 0.9) AS DOUBLE) AS p90_size,
             CAST(quantile_cont(n, 0.99) AS DOUBLE) AS p99_size,
             CAST(MAX(n) AS BIGINT) AS max_size,
             round(MAX(n) / (CAST(SUM(n) AS DOUBLE) / COUNT(*)), 6)
               AS skew_factor
      FROM c
    """)
def q_group_stats(spark, sf_dir):
    """Group-size distribution (diagnostics.py group_size_stats): one
    row of exact percentiles + max/mean skew factor over conversation
    sizes — the number a salted join's salt count comes from."""
    from hipipe_spark.operators.diagnostics import group_size_stats
    return group_size_stats(read_transcripts(spark, sf_dir), "conv_id")


@query(oracle=bootstrap_mean_ci_oracle_sql(
    value_expr="l_quantity",
    key_expr="l_orderkey * 10 + l_linenumber",
    table_sql=("SELECT l_orderkey, l_linenumber, l_returnflag, "
               "l_quantity FROM lineitem"),
    group="l_returnflag", n_reps=50, seed=7))
def q_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap CI for the mean (bootstrap.py
    bootstrap_mean_ci): 50 key-derived Poisson(1) replicate weights
    per row, 100 map-side-combinable aggregate columns, ONE pass — no
    row explosion. Integer l_quantity keeps every replicate sum
    exactly representable, so the CI is bit-identical to the DuckDB
    oracle at any accumulation order."""
    from hipipe_spark.operators.bootstrap import bootstrap_mean_ci
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        "l_returnflag", "l_quantity")
    return bootstrap_mean_ci(li, "l_quantity", "rid",
                             group="l_returnflag", n_reps=50, seed=7)


@query(oracle="""
      WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v,
                        CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm
                 FROM events),
      agg AS (SELECT event_type,
                     sum(CASE WHEN arm='a' THEN 1 ELSE 0 END) AS n_a,
                     sum(CASE WHEN arm='a' THEN v ELSE 0.0 END) AS s_a,
                     sum(CASE WHEN arm='a' THEN v*v ELSE 0.0 END) AS q_a,
                     sum(CASE WHEN arm='b' THEN 1 ELSE 0 END) AS n_b,
                     sum(CASE WHEN arm='b' THEN v ELSE 0.0 END) AS s_b,
                     sum(CASE WHEN arm='b' THEN v*v ELSE 0.0 END) AS q_b
              FROM e GROUP BY event_type),
      st AS (SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
                    CAST(n_b AS BIGINT) AS n_b,
                    s_a/n_a AS m_a, s_b/n_b AS m_b,
                    (q_a - s_a*s_a/n_a)/(n_a-1)/n_a AS sa,
                    (q_b - s_b*s_b/n_b)/(n_b-1)/n_b AS sb
             FROM agg),
      tt AS (SELECT event_type, n_a, n_b,
                    round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
                    CASE WHEN n_a>=2 AND n_b>=2 AND sa+sb>0
                         THEN (m_a-m_b)/sqrt(sa+sb) END AS t_raw,
                    CASE WHEN n_a>=2 AND n_b>=2 AND sa+sb>0
                         THEN round((sa+sb)*(sa+sb)
                              / (sa*sa/(n_a-1) + sb*sb/(n_b-1)), 2)
                    END AS dof
             FROM st),
      tp AS (SELECT event_type, n_a, n_b, mean_a, mean_b,
                    round(t_raw, 6) AS t_stat, dof,
                    round(2.0 / (1.0 + exp(0.07056*pow(abs(t_raw), 3)
                                           + 1.5976*abs(t_raw))), 6)
                      AS p_value
             FROM tt),
      fam AS (SELECT *, count(*) OVER () AS m,
                     row_number() OVER (ORDER BY p_value ASC, event_type)
                       AS rk
              FROM tp WHERE p_value IS NOT NULL),
      bh AS (SELECT *, round(least(
                      min(p_value * m / rk) OVER (
                        ORDER BY p_value ASC, event_type
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
                      1.0), 6) AS q_value
             FROM fam)
      SELECT event_type, n_a, n_b, mean_a, mean_b, t_stat, dof, p_value,
             q_value, q_value <= 0.2 AS reject FROM bh
      UNION ALL
      SELECT event_type, n_a, n_b, mean_a, mean_b, t_stat, dof, p_value,
             CAST(NULL AS DOUBLE), FALSE FROM tp WHERE p_value IS NULL
    """)
def q_ab_tests(spark, sf_dir):
    """Per-segment Welch t-test + Benjamini-Hochberg FDR chained
    (stats.py welch_ttest → bh_fdr): events value, arms = user_id
    parity, one family of 5 hypotheses (event_type segments). ONE
    map-side-combinable aggregate for all sufficient statistics, then
    dimension-sized window arithmetic; q is computed from the ROUNDED
    p both here and in the oracle, so the hash compare is exact."""
    from hipipe_spark.operators.stats import bh_fdr, welch_ttest
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value",
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("arm"))
    t = welch_ttest(e, "event_type", "value", "arm", "a", "b")
    return bh_fdr(t, "p_value", tiebreak=["event_type"], alpha=0.2)


@query(oracle="""
      WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v,
                        CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm
                 FROM events),
      vc AS (SELECT event_type, v, CAST(count(*) AS DOUBLE) AS t,
                    CAST(sum(CASE WHEN arm='a' THEN 1 ELSE 0 END) AS DOUBLE)
                      AS ta
             FROM e GROUP BY event_type, v),
      rk AS (SELECT *, sum(t) OVER (PARTITION BY event_type ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - t + (t+1)/2 AS r
             FROM vc),
      ag AS (SELECT event_type, sum(ta) AS na, sum(t - ta) AS nb,
                    sum(ta * r) AS ra, sum(t*t*t - t) AS tie
             FROM rk GROUP BY event_type),
      z AS (SELECT event_type, na, nb, ra - na*(na+1)/2 AS u,
                   CASE WHEN na>=1 AND nb>=1
                         AND na*nb/12*((na+nb+1)
                             - tie/((na+nb)*(na+nb-1))) > 0
                        THEN (ra - na*(na+1)/2 - na*nb/2)
                             / sqrt(na*nb/12*((na+nb+1)
                                    - tie/((na+nb)*(na+nb-1))))
                   END AS z_raw
            FROM ag)
      SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             round(u, 1) AS u_a, round(z_raw, 6) AS z_stat,
             round(2.0 / (1.0 + exp(0.07056*pow(abs(z_raw), 3)
                                    + 1.5976*abs(z_raw))), 6) AS p_value
      FROM z
    """)
def q_mann_whitney(spark, sf_dir):
    """Tie-corrected Mann-Whitney U per segment (stats.py
    mann_whitney): rank sums from the (segment, value)-aggregated
    table — cumulative-count windows over the value-dimension frame,
    never a raw-row rank — with the Bowling normal-CDF approximation
    mirrored exactly in the oracle."""
    from hipipe_spark.operators.stats import mann_whitney
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value",
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("arm"))
    return mann_whitney(e, "event_type", "value", "arm", "a", "b")


@query(oracle="""
      WITH life AS (SELECT user_id,
                      CAST(floor((epoch(max(ts)) - epoch(min(ts))) / 3600)
                           AS BIGINT) AS dur_h,
                      max(CASE WHEN user_id % 4 <> 0 THEN 1 ELSE 0 END) AS ev
                    FROM events GROUP BY user_id),
      agg AS (SELECT dur_h,
                     CAST(sum(ev) AS BIGINT) AS n_event,
                     CAST(sum(1 - ev) AS BIGINT) AS n_censored
              FROM life GROUP BY dur_h),
      st AS (SELECT *, sum(n_event + n_censored) OVER () AS total,
                    sum(n_event + n_censored) OVER (ORDER BY dur_h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS thru
             FROM agg),
      km AS (SELECT dur_h, n_event, n_censored,
                    CAST(total - thru + n_event + n_censored AS BIGINT)
                      AS n_risk,
                    max(CASE WHEN 1.0 - CAST(n_event AS DOUBLE)
                              / (total - thru + n_event + n_censored) <= 0
                             THEN 1 ELSE 0 END) OVER (ORDER BY dur_h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS dead,
                    sum(CASE WHEN 1.0 - CAST(n_event AS DOUBLE)
                              / (total - thru + n_event + n_censored) > 0
                             THEN ln(1.0 - CAST(n_event AS DOUBLE)
                                  / (total - thru + n_event + n_censored))
                             ELSE 0.0 END) OVER (ORDER BY dur_h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS logs
             FROM st)
      SELECT dur_h, n_risk, n_event, n_censored,
             round(CASE WHEN dead = 1 THEN 0.0 ELSE exp(logs) END, 6)
               AS survival
      FROM km
    """)
def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival over user lifetimes (stats.py
    kaplan_meier): per-user duration = hours between first and last
    event (one aggregate from raw rows), deterministic 25% censoring
    (user_id % 4), then the product-limit curve via exp(Σ ln) with an
    explicit zero-step flag — windows run on the duration-dimension
    frame only."""
    from hipipe_spark.operators.stats import kaplan_meier
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    sec = F.col("ts").cast("timestamp").cast("double")
    life = e.groupBy("user_id").agg(
        F.floor((F.max(sec) - F.min(sec)) / 3600)
         .cast("bigint").alias("dur_h"),
        F.max(F.when(F.col("user_id") % 4 != 0, 1).otherwise(0))
         .cast("int").alias("ev"))
    return kaplan_meier(life, "dur_h", "ev")


@query(oracle="""
      WITH li AS (SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS y,
                         CAST(l_quantity AS DOUBLE) AS x
                  FROM lineitem),
      g AS (SELECT round((sum(x*y) - sum(x)*sum(y)/count(*))
                         / (sum(x*x) - sum(x)*sum(x)/count(*)), 4) AS theta,
                   round(sum(x)/count(*), 4) AS xbar
            FROM li),
      adj AS (SELECT l_returnflag, theta, y,
                     y - theta*(x - xbar) AS ya
              FROM li, g),
      o AS (SELECT l_returnflag, theta, CAST(count(*) AS BIGINT) AS n,
                   round(avg(y), 6) AS mean_raw,
                   round(avg(ya), 6) AS mean_cuped,
                   (sum(y*y) - sum(y)*sum(y)/count(*))/(count(*)-1) AS vr,
                   (sum(ya*ya) - sum(ya)*sum(ya)/count(*))/(count(*)-1) AS va
            FROM adj GROUP BY 1, 2)
      SELECT l_returnflag, n, mean_raw, mean_cuped, theta,
             round(vr, 2) AS var_raw, round(va, 2) AS var_cuped,
             round(100*(1 - va/vr), 2) + 0.0 AS var_reduction_pct
      FROM o
    """)
def q_cuped(spark, sf_dir):
    """CUPED variance reduction (stats.py cuped): adjust
    l_extendedprice by the l_quantity covariate, report per-
    l_returnflag adjusted means and variance reduction. θ and x̄ are
    rounded BEFORE the adjustment so both engines use identical
    constants — the rounded-handoff pattern that makes a two-stage
    float pipeline hash-comparable."""
    from hipipe_spark.operators.stats import cuped
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("y"),
        F.col("l_quantity").cast("double").alias("x"))
    return cuped(li, "l_returnflag", "y", "x")


@query(oracle="""
      WITH s AS (SELECT event_id, user_id, value,
                        sum(CAST(value AS DOUBLE) - 60.0) OVER (
                          PARTITION BY user_id ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS S
                 FROM events),
      c AS (SELECT event_id, user_id, value,
                   S - least(0.0, min(S) OVER (
                     PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                     AS cs
            FROM s)
      SELECT event_id, user_id, value, round(cs, 6) AS cusum,
             round(cs, 6) > 300.0 AS changed
      FROM c
    """)
def q_cusum(spark, sf_dir):
    """Per-user one-sided CUSUM change flags (stats.py cusum_flags):
    the recursive max(0, s+x−k) in closed form S − min(0, running
    min S) — two cumulative windows sharing one sort, no recursion,
    no Python. k=60 (above the ~50 global mean), h=300: flags
    sustained high-value runs (554 rows / 58 users at sf0.01)."""
    from hipipe_spark.operators.stats import cusum_flags
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "value")
    return cusum_flags(e, "user_id", "event_id", "value", k=60.0, h=300.0)


@query(oracle="""
      WITH t AS (SELECT doc_id, substr(text, 1, 30) AS s FROM documents)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(levenshtein(a.s, b.s) AS INT) AS dist
      FROM t a JOIN t b ON a.doc_id < b.doc_id
      WHERE abs(length(a.s) - length(b.s)) <= 8
        AND levenshtein(a.s, b.s) <= 8
    """)
def q_edit_pairs(spark, sf_dir):
    """Exact Levenshtein near-dup pairs (stats.py
    edit_distance_pairs) on 30-char document prefixes, max_dist=8:
    length-band blocking (explode to ≤ 2+2d/band buckets, equi-join,
    |Δlen| guard) + Spark's threshold-pruned JVM levenshtein verify.
    The oracle is the O(n²) cross join — affordable at 500 docs,
    which is exactly why the blocked plan exists for the 100-TB
    path."""
    from hipipe_spark.operators.stats import edit_distance_pairs
    d = read_docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 30).alias("prefix"))
    return edit_distance_pairs(d, "doc_id", "prefix", max_dist=8)


@query(oracle="""
      WITH e AS (SELECT event_id, event_type AS g,
                        CAST(floor(value) AS DOUBLE) AS x,
                        epoch(ts) AS y
                 FROM events),
      p AS (SELECT a.g,
                   sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
                            THEN 1 ELSE 0 END) AS nc,
                   sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
                            THEN 1 ELSE 0 END) AS nd,
                   sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS n1,
                   sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS n2,
                   count(*) AS n0
            FROM e a JOIN e b ON a.g = b.g AND a.event_id < b.event_id
            GROUP BY a.g),
      nn AS (SELECT g, count(*) AS n FROM e GROUP BY g)
      SELECT nn.g AS event_type, CAST(nn.n AS BIGINT) AS n,
             CAST(nc AS BIGINT) AS nc, CAST(nd AS BIGINT) AS nd,
             CASE WHEN (n0 - n1) > 0 AND (n0 - n2) > 0
                  THEN round((nc - nd)
                       / sqrt(CAST(n0 - n1 AS DOUBLE)
                              * CAST(n0 - n2 AS DOUBLE)), 6)
             END AS tau_b
      FROM nn LEFT JOIN p ON p.g = nn.g
    """)
def q_kendall(spark, sf_dir):
    """Kendall tau-b per event_type between floor(value) (forced
    ties) and event time (stats.py kendall_tau): Knight's O(n log n)
    merge-sort inversion count inside one applyInPandas per group;
    the oracle is the O(n²) pair enumeration — 2k-row groups keep it
    affordable there, which is exactly the path that does NOT scale
    and why the log-linear UDF exists."""
    from hipipe_spark.operators.stats import kendall_tau
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.floor("value").cast("double").alias("xv"),
        F.col("ts").cast("timestamp").cast("double").alias("yv"))
    return kendall_tau(e, "event_type", "xv", "yv")


def _hourly_by_type(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (e.groupBy(
        "event_type",
        F.floor(F.col("ts").cast("timestamp").cast("double") / 3600)
         .cast("bigint").alias("hour"))
        .agg(F.count("*").alias("cnt")))


@query(oracle="""
      WITH s AS (SELECT event_type AS g,
                        CAST(floor(epoch(ts) / 3600) AS BIGINT) AS t,
                        count(*) AS c
                 FROM events GROUP BY 1, 2),
      e AS (SELECT g, CAST(t AS DOUBLE) AS t, CAST(c AS DOUBLE) AS v
            FROM s),
      sl AS (SELECT a.g, (b.v - a.v) / (b.t - a.t) AS sp
             FROM e a JOIN e b ON a.g = b.g AND a.t < b.t),
      m AS (SELECT g, round(quantile_cont(sp, 0.5), 6) AS slope
            FROM sl GROUP BY g),
      ic AS (SELECT e.g, m.slope,
                    round(quantile_cont(v - m.slope * t, 0.5), 6)
                      AS intercept
             FROM e JOIN m ON m.g = e.g
             GROUP BY e.g, m.slope),
      nn AS (SELECT g, count(*) AS n FROM e GROUP BY g)
      SELECT nn.g AS event_type, CAST(nn.n AS BIGINT) AS n,
             slope, intercept
      FROM nn LEFT JOIN ic ON ic.g = nn.g
    """)
def q_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend per event_type over the hourly count
    series (stats.py theil_sen): median of pairwise slopes (29%
    breakdown point vs OLS's 0), intercept from the rounded-slope
    handoff. The O(n²) pair join runs on the SERIES — the
    dimension-sized aggregate — never the raw log."""
    from hipipe_spark.operators.stats import theil_sen
    return theil_sen(_hourly_by_type(spark, sf_dir),
                     "event_type", "hour", "cnt")


@query(oracle="""
      WITH e AS (SELECT event_type AS seg, CAST(value AS DOUBLE) AS v,
                        CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END
                          AS t,
                        CASE WHEN ts >= TIMESTAMP '2024-01-16'
                             THEN 1 ELSE 0 END AS p
                 FROM events),
      a AS (SELECT seg,
              sum(CASE WHEN t=1 AND p=0 THEN 1 ELSE 0 END) AS n1,
              sum(CASE WHEN t=1 AND p=0 THEN v ELSE 0.0 END) AS s1,
              sum(CASE WHEN t=1 AND p=0 THEN v*v ELSE 0.0 END) AS q1,
              sum(CASE WHEN t=1 AND p=1 THEN 1 ELSE 0 END) AS n2,
              sum(CASE WHEN t=1 AND p=1 THEN v ELSE 0.0 END) AS s2,
              sum(CASE WHEN t=1 AND p=1 THEN v*v ELSE 0.0 END) AS q2,
              sum(CASE WHEN t=0 AND p=0 THEN 1 ELSE 0 END) AS n3,
              sum(CASE WHEN t=0 AND p=0 THEN v ELSE 0.0 END) AS s3,
              sum(CASE WHEN t=0 AND p=0 THEN v*v ELSE 0.0 END) AS q3,
              sum(CASE WHEN t=0 AND p=1 THEN 1 ELSE 0 END) AS n4,
              sum(CASE WHEN t=0 AND p=1 THEN v ELSE 0.0 END) AS s4,
              sum(CASE WHEN t=0 AND p=1 THEN v*v ELSE 0.0 END) AS q4
            FROM e GROUP BY seg),
      b AS (SELECT seg, n1, n2, n3, n4,
                   s1/n1 AS m1, s2/n2 AS m2, s3/n3 AS m3, s4/n4 AS m4,
                   ((0.0 + (q1 - s1*s1/n1)/(n1-1)/n1)
                        + (q2 - s2*s2/n2)/(n2-1)/n2)
                        + (q3 - s3*s3/n3)/(n3-1)/n3
                        + (q4 - s4*s4/n4)/(n4-1)/n4 AS var,
                   (s2/n2 - s1/n1) - (s4/n4 - s3/n3) AS did,
                   n1 >= 2 AND n2 >= 2 AND n3 >= 2 AND n4 >= 2 AS okn
            FROM a),
      c AS (SELECT *, okn AND var > 0 AS ok,
                   did / sqrt(var) AS z
            FROM b)
      SELECT seg AS event_type,
             CAST(n1 + n2 + n3 + n4 AS BIGINT) AS n,
             round(m1, 6) AS mean_t_pre, round(m2, 6) AS mean_t_post,
             round(m3, 6) AS mean_c_pre, round(m4, 6) AS mean_c_post,
             round(did, 6) AS did,
             round(CASE WHEN ok THEN sqrt(var) END, 6) AS se,
             round(CASE WHEN ok THEN z END, 6) AS z_stat,
             round(CASE WHEN ok THEN
               2.0 / (1.0 + exp(0.07056*pow(abs(z), 3)
                                + 1.5976*abs(z))) END, 6) AS p_value
      FROM c
    """)
def q_did(spark, sf_dir):
    """Difference-in-differences per event_type (stats.py
    diff_in_diff): treat = even user_id, post = second half of the
    month, outcome = value. Four cell means + DiD effect + Welch-
    composed SE + Bowling p from ONE conditional-sum aggregate."""
    from hipipe_spark.operators.stats import diff_in_diff
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value",
        (F.col("user_id") % 2 == 0).alias("treat"),
        (F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))
        .alias("post"))
    return diff_in_diff(e, "event_type", "treat", "post", "value")


@query(oracle="""
      WITH e AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
                 FROM events),
      r AS (SELECT g, v,
                   row_number() OVER (PARTITION BY g ORDER BY v) AS i
            FROM e),
      a AS (SELECT g, count(*) AS n, sum(v) AS tot, sum(i * v) AS iw
            FROM r GROUP BY g)
      SELECT g AS event_type, CAST(n AS BIGINT) AS n,
             round(tot, 4) AS total,
             CASE WHEN tot > 0
                  THEN round(2.0 * iw / (CAST(n AS DOUBLE) * tot)
                             - (CAST(n AS DOUBLE) + 1)
                               / CAST(n AS DOUBLE), 6)
             END AS gini
      FROM a
    """)
def q_gini(spark, sf_dir):
    """Gini concentration of event value per event_type (stats.py
    gini_coefficient): the rank identity 2Σi·x/(nΣx) − (n+1)/n, tie-
    order invariant — the skew diagnostic that sizes salting factors
    before a 100-TB shuffle is committed."""
    from hipipe_spark.operators.stats import gini_coefficient
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return gini_coefficient(e, "event_type", "value")


@query(oracle=f"""
      WITH a AS (SELECT event_type, count(*) AS n,
                        sum(CAST(value AS DOUBLE)) AS s,
                        sum(CAST(value AS DOUBLE)
                            * CAST(value AS DOUBLE)) AS q
                 FROM events GROUP BY 1),
      b AS (SELECT event_type, n, s / CAST(n AS DOUBLE) AS mean,
                   CASE WHEN n >= 2
                        THEN sqrt((q - s * s / CAST(n AS DOUBLE))
                                  / (CAST(n AS DOUBLE) - 1)) END AS sd
            FROM a),
      c AS (SELECT *, CASE WHEN n >= 2
                           THEN {(1.959964 + 0.841621)!r} * sd
                                * sqrt(4.0 / CAST(n AS DOUBLE)) END
                        AS mde
            FROM b)
      SELECT event_type, CAST(n AS BIGINT) AS n,
             round(mean, 6) AS mean, round(sd, 6) AS sd,
             round(mde, 6) AS mde_abs,
             round(CASE WHEN n >= 2 AND mean <> 0
                        THEN mde / mean END, 6) AS mde_rel
      FROM c
    """)
def q_mde(spark, sf_dir):
    """Per-segment minimum detectable effect at current sample size
    (stats.py mde_report): (z_{α/2}+z_β)·σ·√(4/n) from ONE
    sufficient-statistics aggregate — the pre-experiment sizing
    answer the welch/mann-whitney family needs."""
    from hipipe_spark.operators.stats import mde_report
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return mde_report(e, "event_type", "value")


@query(oracle="""
      WITH g AS (SELECT user_id,
                        epoch(ts) - lag(epoch(ts)) OVER (
                          PARTITION BY user_id ORDER BY ts, event_id)
                          AS gap
                 FROM events),
      a AS (SELECT user_id, count(*) AS n, sum(gap) AS s,
                   sum(gap * gap) AS q
            FROM g WHERE gap IS NOT NULL GROUP BY 1),
      b AS (SELECT user_id, n, s / CAST(n AS DOUBLE) AS mu,
                   CASE WHEN n >= 2
                        THEN sqrt((q - s * s / CAST(n AS DOUBLE))
                                  / (CAST(n AS DOUBLE) - 1)) END AS sd
            FROM a)
      SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
             round(mu, 6) AS mean_gap,
             round(CASE WHEN n >= 2 AND mu > 0 THEN sd / mu END, 6)
               AS cv,
             round(CASE WHEN n >= 2 AND mu > 0
                        THEN (sd - mu) / (sd + mu) END, 6) AS b
      FROM b
    """)
def q_burstiness(spark, sf_dir):
    """Per-user burstiness B = (σ−μ)/(σ+μ) of inter-event gaps
    (stats.py burstiness, Goh–Barabási): −1 periodic, 0 Poisson, →1
    bursty — plus CV; one shared lag sort + one aggregate."""
    from hipipe_spark.operators.stats import burstiness
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return burstiness(e, "user_id", "ts", "event_id")


@query(oracle="""
      WITH life AS (SELECT user_id,
                      CAST(floor((epoch(max(ts)) - epoch(min(ts)))
                                 / 3600) AS BIGINT) AS dur_h,
                      max(CASE WHEN user_id % 4 <> 0 THEN 1 ELSE 0 END)
                        AS ev
                    FROM events GROUP BY user_id),
      agg AS (SELECT dur_h, sum(ev) AS n_event,
                     sum(1 - ev) AS n_censored
              FROM life GROUP BY dur_h),
      st AS (SELECT *, sum(n_event + n_censored) OVER () AS total,
                    sum(n_event + n_censored) OVER (ORDER BY dur_h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS thru
             FROM agg),
      rk AS (SELECT dur_h, n_event, n_censored,
                    total - thru + n_event + n_censored AS n_risk
             FROM st),
      hz AS (SELECT *, sum(CAST(n_event AS DOUBLE)
                           / CAST(n_risk AS DOUBLE)) OVER (
                         ORDER BY dur_h
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS haz
             FROM rk)
      SELECT dur_h, CAST(n_risk AS BIGINT) AS n_risk,
             CAST(n_event AS BIGINT) AS n_event,
             CAST(n_censored AS BIGINT) AS n_censored,
             round(haz, 6) AS cum_hazard,
             round(exp(-haz), 6) AS surv_breslow
      FROM hz
    """)
def q_nelson_aalen(spark, sf_dir):
    """Nelson–Aalen cumulative hazard over the same censored user
    lifetimes as kaplan_meier (stats.py nelson_aalen): H(t) = Σ d/n
    on the duration-dimension grid; exp(−H) rides along as the
    Breslow survival cross-check against the KM curve."""
    from hipipe_spark.operators.stats import nelson_aalen
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    sec = F.col("ts").cast("timestamp").cast("double")
    life = e.groupBy("user_id").agg(
        F.floor((F.max(sec) - F.min(sec)) / 3600)
         .cast("bigint").alias("dur_h"),
        F.max(F.when(F.col("user_id") % 4 != 0, 1).otherwise(0))
         .cast("int").alias("ev"))
    return nelson_aalen(life, "dur_h", "ev")


def _sprt_oracle() -> str:
    _sc = 1_000_000
    _i1 = round(math.log(0.5 / 0.3) * _sc)
    _i0 = round(math.log(0.5 / 0.7) * _sc)
    _upt = round(math.log(0.95 / 0.05) * _sc)
    _dnt = round(math.log(0.05 / 0.95) * _sc)
    _big = 2 ** 62
    return f"""
      WITH b AS (SELECT user_id,
                        row_number() OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id)
                          AS step,
                        sum(CASE WHEN CAST(value AS DOUBLE) > 60
                                 THEN {_i1} ELSE {_i0} END)
                          OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS llr
                 FROM events),
      a AS (SELECT user_id, count(*) AS n,
                   min(CASE WHEN llr >= {_upt} THEN step END) AS u,
                   min(CASE WHEN llr <= {_dnt} THEN step END) AS dd,
                   max_by(llr, step) AS fin
            FROM b GROUP BY 1),
      s AS (SELECT *, least(coalesce(u, {_big}),
                            coalesce(dd, {_big})) AS stp
            FROM a)
      SELECT user_id, CAST(n AS BIGINT) AS n,
             CAST(CASE WHEN stp < {_big} THEN stp END AS BIGINT)
               AS stop_step,
             CASE WHEN stp = {_big} THEN 'continue'
                  WHEN coalesce(u, {_big}) <= stp THEN 'accept_h1'
                  ELSE 'accept_h0' END AS decision,
             round(fin / {float(_sc)!r}, 6) AS llr_final
      FROM s
    """


@query(oracle=_sprt_oracle())
def q_sprt(spark, sf_dir):
    """Wald SPRT per user on the high-value indicator (stats.py
    sprt_bernoulli, H0 p=0.3 vs H1 p=0.5, α=β=0.05): INTEGER-exact
    micro-LLR accumulation — a float running sum's engine-specific
    addition order could flip a threshold crossing; BIGINTs cannot.
    The sequential test that halves sample size vs fixed-n."""
    from hipipe_spark.operators.stats import sprt_bernoulli
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id",
        (F.col("value") > 60).cast("int").alias("hi"))
    return sprt_bernoulli(e, "user_id", ["ts", "event_id"], "hi",
                          p0=0.3, p1=0.5)


@query(oracle="""
      WITH e AS (SELECT event_type,
                        CASE WHEN CAST(value AS DOUBLE) > 60
                             THEN 1.0 ELSE 0.0 END AS x,
                        CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END
                          AS arm
                 FROM events),
      a AS (SELECT event_type,
                   sum(CASE WHEN arm='a' THEN 1 ELSE 0 END) AS n_a,
                   sum(CASE WHEN arm='a' THEN x ELSE 0.0 END) AS s_a,
                   sum(CASE WHEN arm='b' THEN 1 ELSE 0 END) AS n_b,
                   sum(CASE WHEN arm='b' THEN x ELSE 0.0 END) AS s_b
            FROM e GROUP BY 1),
      b AS (SELECT event_type, n_a, n_b,
                   s_a / CAST(n_a AS DOUBLE) AS pa,
                   s_b / CAST(n_b AS DOUBLE) AS pb,
                   (s_a + s_b) / (CAST(n_a AS DOUBLE)
                                  + CAST(n_b AS DOUBLE)) AS pool
            FROM a),
      c AS (SELECT *, pool * (1.0 - pool)
                      * (1.0 / CAST(n_a AS DOUBLE)
                         + 1.0 / CAST(n_b AS DOUBLE)) AS v
            FROM b),
      zt AS (SELECT *, CASE WHEN n_a >= 1 AND n_b >= 1 AND v > 0
                            THEN (pa - pb) / sqrt(v) END AS z
             FROM c)
      SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
             CAST(n_b AS BIGINT) AS n_b,
             round(pa, 6) AS rate_a, round(pb, 6) AS rate_b,
             round(pa - pb, 6) AS diff,
             round(z, 6) AS z_stat,
             round(2.0 / (1.0 + exp(0.07056 * abs(z) * abs(z) * abs(z)
                                    + 1.5976 * abs(z))), 6) AS p_value
      FROM zt
    """)
def q_prop_ztest(spark, sf_dir):
    """Two-sample pooled proportion z-test per event_type (stats.py
    prop_ztest): conversion-rate inference for the high-value flag
    between user-parity arms — the binary-metric twin of ab_tests,
    ONE conditional-sum aggregate."""
    from hipipe_spark.operators.stats import prop_ztest
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        (F.col("value") > 60).cast("int").alias("hi"),
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b")
         .alias("arm"))
    return prop_ztest(e, "event_type", "hi", "arm", "a", "b")


@query(oracle="""
      WITH e AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
                 FROM events),
      b AS (SELECT g, v,
                   row_number() OVER (PARTITION BY g ORDER BY v) AS i,
                   sum(v) OVER (PARTITION BY g ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum,
                   count(*) OVER (PARTITION BY g) AS n,
                   sum(v) OVER (PARTITION BY g) AS tot
            FROM e),
      k AS (SELECT *, greatest(1, CAST(floor(n / 50) AS INT)) AS step
            FROM b)
      SELECT g AS event_type,
             round(CAST(i AS DOUBLE) / n, 6) AS pop_share,
             round(cum / tot, 6) AS mass_share
      FROM k
      WHERE (i % step = 0 OR i = n) AND tot > 0
    """)
def q_lorenz(spark, sf_dir):
    """Lorenz concentration curve of event value per event_type
    (stats.py lorenz_curve, ≤50 points/group): the picture the gini
    number summarizes; tie-invariant cumulative shares, deterministic
    rank decimation — dimension-sized output whatever the input."""
    from hipipe_spark.operators.stats import lorenz_curve
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return lorenz_curve(e, "event_type", "value", max_points=50)


@query(oracle="""
      WITH s AS (SELECT event_type,
                        CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                        CAST(COUNT(*) AS DOUBLE) AS x
                 FROM events GROUP BY event_type,
                                      CAST(CAST(ts AS DATE) AS VARCHAR)),
      w AS (SELECT event_type, day, x,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                AS i,
              SUM(x) OVER (PARTITION BY event_type ORDER BY day
                           ROWS UNBOUNDED PRECEDING) AS s,
              SUM(x*x) OVER (PARTITION BY event_type ORDER BY day
                             ROWS UNBOUNDED PRECEDING) AS s2,
              COUNT(*) OVER (PARTITION BY event_type) AS n,
              SUM(x) OVER (PARTITION BY event_type) AS st,
              SUM(x*x) OVER (PARTITION BY event_type) AS s2t
            FROM s),
      c AS (SELECT *,
              (s2 - s*s/CAST(i AS DOUBLE))
              + ((s2t - s2) - (st - s)*(st - s)
                 / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE))) AS sse
            FROM w WHERE i >= 3 AND i <= n - 3),
      b AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                        ORDER BY sse ASC, i ASC) AS r FROM c)
      SELECT event_type, CAST(n AS BIGINT) AS n,
             CAST(i AS BIGINT) AS cp_idx, day AS cp_order,
             round(s2t - st*st/CAST(n AS DOUBLE), 6) AS sse_total,
             round(sse, 6) AS sse_split,
             round(s2t - st*st/CAST(n AS DOUBLE) - sse, 6) AS gain
      FROM b WHERE r = 1
      UNION ALL
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(NULL AS BIGINT) AS cp_idx, CAST(NULL AS VARCHAR) AS cp_order,
             CAST(NULL AS DOUBLE) AS sse_total,
             CAST(NULL AS DOUBLE) AS sse_split,
             CAST(NULL AS DOUBLE) AS gain
      FROM s GROUP BY event_type HAVING COUNT(*) < 6
    """)
def q_changepoint(spark, sf_dir):
    """Single best L2 change point per event_type over the daily
    event-count series (stats.py changepoint_l2, min_seg=3): prefix-
    sum SSE decomposition, one ordered window + one argmin window —
    no candidate cross join. Integer-valued series make the running
    sums exact in doubles, so the argmin is engine-exact."""
    from hipipe_spark.operators.stats import changepoint_l2
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = (e.groupBy("event_type",
                   F.to_date("ts").cast("string").alias("day"))
         .agg(F.count(F.lit(1)).cast("double").alias("x")))
    return changepoint_l2(s, "event_type", "day", "x", min_seg=3)


@query(oracle="""
      WITH g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(CASE WHEN event_type = 'error'
                                      THEN 1 ELSE 0 END) AS BIGINT) AS k
                 FROM events GROUP BY user_id),
      r AS (SELECT *, CAST(k AS DOUBLE) / n AS rate FROM g),
      p AS (SELECT *,
              round(AVG(CASE WHEN n >= 5 THEN rate END) OVER (), 9) AS m,
              round(VAR_SAMP(CASE WHEN n >= 5 THEN rate END) OVER (), 9)
                AS v
            FROM r),
      q AS (SELECT *, round(greatest(m * (1 - m) / v - 1, 0), 9) AS kp
            FROM p)
      SELECT user_id, n, k, round(rate, 6) AS rate, m AS prior_m,
             CASE WHEN v IS NOT NULL AND v > 0 THEN kp END AS prior_k,
             round(CASE WHEN v IS NOT NULL AND v > 0
                        THEN (k + m * kp) / (n + kp)
                        ELSE rate END, 6) AS shrunk
      FROM q
    """)
def q_eb_shrinkage(spark, sf_dir):
    """Empirical-Bayes beta-binomial shrinkage of per-user error
    rates (stats.py eb_shrinkage): method-of-moments beta prior over
    the observed rate distribution, per-group shrinkage toward the
    prior mean — the 1/1=100% leaderboard-noise fix. One fact-table
    groupBy + dimension-frame moments (rounded handoffs)."""
    from hipipe_spark.operators.stats import eb_shrinkage
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return eb_shrinkage(e, "user_id",
                        (F.col("event_type") == "error"), min_n=5)


@query(oracle="""
      WITH life AS (
        SELECT user_id,
               CAST(floor((epoch(MAX(ts)) - epoch(MIN(ts))) / 3600)
                    AS BIGINT) AS dur_h,
               MAX(CASE WHEN user_id % 4 != 0 THEN 1 ELSE 0 END) AS ev,
               CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS is_a
        FROM events GROUP BY user_id),
      per_t AS (
        SELECT dur_h, CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(SUM(is_a) AS BIGINT) AS n_a,
               CAST(SUM(ev) AS BIGINT) AS d_all,
               CAST(SUM(ev * is_a) AS BIGINT) AS d_a
        FROM life GROUP BY dur_h),
      cum AS (
        SELECT *,
               SUM(n_all) OVER (ORDER BY dur_h DESC
                 ROWS UNBOUNDED PRECEDING) AS r_all,
               SUM(n_a) OVER (ORDER BY dur_h DESC
                 ROWS UNBOUNDED PRECEDING) AS r_a
        FROM per_t),
      terms AS (
        SELECT *,
               CAST(r_a AS DOUBLE) / r_all AS frac,
               CASE WHEN d_all > 0
                    THEN d_all * (CAST(r_a AS DOUBLE) / r_all)
                    ELSE 0.0 END AS e_term,
               CASE WHEN d_all > 0 AND r_all > 1
                    THEN d_all * (CAST(r_a AS DOUBLE) / r_all)
                         * (1.0 - (CAST(r_a AS DOUBLE) / r_all))
                         * (r_all - d_all) / (r_all - 1)
                    ELSE 0.0 END AS v_term
        FROM cum),
      tot AS (
        SELECT CAST(SUM(n_a) AS BIGINT) AS n_a,
               CAST(SUM(n_all - n_a) AS BIGINT) AS n_b,
               CAST(SUM(d_all) AS BIGINT) AS n_events,
               CAST(SUM(d_a) AS BIGINT) AS observed_a,
               round(SUM(e_term), 9) AS expected_a,
               round(SUM(v_term), 9) AS var_a
        FROM terms),
      zt AS (
        SELECT *,
               CASE WHEN var_a > 0
                    THEN (observed_a - expected_a) / sqrt(var_a)
                    END AS z
        FROM tot)
      SELECT n_a, n_b, n_events, observed_a,
             round(expected_a, 6) AS expected_a,
             round(var_a, 6) AS var_a,
             round(z, 6) AS z,
             round(2.0 / (1.0 + exp(0.07056 * abs(z) * abs(z) * abs(z)
                                    + 1.5976 * abs(z))), 6) AS p_value
      FROM zt
    """)
def q_logrank(spark, sf_dir):
    """Two-group log-rank test (stats.py logrank_test) over the same
    user-lifetime frame as q_kaplan_meier, arms split by user parity:
    one duration-grid aggregate, one descending risk-set window on the
    duration-dimension frame, one final row; E and V are 9-dp rounded
    handoffs so the Mantel-Cox z is engine-exact."""
    from hipipe_spark.operators.stats import logrank_test
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    sec = F.col("ts").cast("timestamp").cast("double")
    life = e.groupBy("user_id").agg(
        F.floor((F.max(sec) - F.min(sec)) / 3600)
         .cast("bigint").alias("dur_h"),
        F.max(F.when(F.col("user_id") % 4 != 0, 1).otherwise(0))
         .cast("int").alias("ev"))
    return logrank_test(life, "dur_h", "ev",
                        (F.col("user_id") % 2 == 0).cast("int"))


@query(oracle="""
      WITH e AS (SELECT event_type, CAST(user_id % 4 AS INT) AS bucket,
                        CAST(value AS DOUBLE) AS v FROM events),
      gm AS (SELECT event_type, round(avg(v), 6) AS gmu
             FROM e GROUP BY event_type),
      c AS (SELECT e.event_type, bucket, v - gmu AS d
            FROM e JOIN gm USING (event_type)),
      g AS (SELECT event_type, bucket, CAST(count(*) AS DOUBLE) AS ng,
                   sum(d) AS sg, sum(d*d) AS qg
            FROM c GROUP BY event_type, bucket),
      a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k,
                   sum(ng) AS n, sum(sg) AS s,
                   sum(sg*sg/ng) AS sb_raw,
                   sum(qg - sg*sg/ng) AS ssw
            FROM g GROUP BY event_type),
      f AS (SELECT event_type, k, n,
                   sb_raw - s*s/n AS ssb, ssw,
                   CASE WHEN n - k > 0 THEN ssw / (n - k) END AS msw
            FROM a)
      SELECT event_type, k, CAST(n AS BIGINT) AS n,
             round(ssb, 6) AS ss_between,
             round(ssw, 6) AS ss_within,
             round(CASE WHEN k > 1 AND n - k > 0 AND ssw > 0
                   THEN (ssb / (k - 1)) / msw END, 6) AS f_stat,
             round(CASE WHEN ssb + ssw > 0 THEN ssb / (ssb + ssw) END, 6)
               AS eta2,
             round(CASE WHEN ssb + ssw > 0 AND n - k > 0
                   THEN (ssb - (k - 1) * msw) / (ssb + ssw + msw) END, 6)
               AS omega2
      FROM f
    """)
def q_anova(spark, sf_dir):
    """One-way ANOVA per segment (stats.anova_oneway): does the event
    value differ across user-id buckets within each event_type? Grand
    means are rounded and broadcast back to center the metric before
    the power sums (deviation-scale terms keep the 6-dp oracle
    rounding safe); one group-key aggregate + segment reduce."""
    from hipipe_spark.operators.stats import anova_oneway
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value",
        (F.col("user_id") % 4).cast("int").alias("bucket"))
    return anova_oneway(e, "event_type", "bucket", "value")


@query(oracle="""
      WITH e AS (SELECT event_type, CAST(user_id % 4 AS INT) AS bucket,
                        CAST(value AS DOUBLE) AS v FROM events),
      med AS (SELECT event_type, bucket,
                     round(quantile_cont(v, 0.5), 6) AS m
              FROM e GROUP BY event_type, bucket),
      z AS (SELECT e.event_type, e.bucket, abs(v - m) AS zv
            FROM e JOIN med USING (event_type, bucket)),
      gm AS (SELECT event_type, round(avg(zv), 6) AS gmu
             FROM z GROUP BY event_type),
      c AS (SELECT z.event_type, bucket, zv - gmu AS d
            FROM z JOIN gm USING (event_type)),
      g AS (SELECT event_type, bucket, CAST(count(*) AS DOUBLE) AS ng,
                   sum(d) AS sg, sum(d*d) AS qg
            FROM c GROUP BY event_type, bucket),
      a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k,
                   sum(ng) AS n, sum(sg) AS s,
                   sum(sg*sg/ng) AS sb_raw,
                   sum(qg - sg*sg/ng) AS ssw
            FROM g GROUP BY event_type),
      f AS (SELECT event_type, k, n,
                   sb_raw - s*s/n AS ssb, ssw,
                   CASE WHEN n - k > 0 THEN ssw / (n - k) END AS msw
            FROM a)
      SELECT event_type, k, CAST(n AS BIGINT) AS n,
             round(CASE WHEN k > 1 AND n - k > 0 AND ssw > 0
                   THEN (ssb / (k - 1)) / msw END, 6) AS w_stat,
             round(ssb, 6) AS ss_between,
             round(ssw, 6) AS ss_within
      FROM f
    """)
def q_levene(spark, sf_dir):
    """Brown-Forsythe homogeneity-of-variance test (stats.levene_bf):
    ANOVA on |x - group median| with exact interpolated medians
    rounded before reuse; two fact scans, zero raw-row shuffles."""
    from hipipe_spark.operators.stats import levene_bf
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value",
        (F.col("user_id") % 4).cast("int").alias("bucket"))
    return levene_bf(e, "event_type", "bucket", "value")


@query(oracle="""
      WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events),
      mu AS (SELECT event_type, round(avg(v), 6) AS m
             FROM e GROUP BY event_type),
      c AS (SELECT e.event_type, v - m AS d, m
            FROM e JOIN mu USING (event_type)),
      a AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
                   min(m) AS mean,
                   sum(d*d) AS c2, sum(d*d*d) AS c3,
                   sum(d*d*d*d) AS c4
            FROM c GROUP BY event_type),
      s AS (SELECT event_type, n, mean,
                   c2/n AS m2, c3/n AS m3, c4/n AS m4
            FROM a),
      t AS (SELECT event_type, n, mean,
                   CASE WHEN n >= 4 AND m2 > 0
                        THEN m3 / pow(m2, 1.5) END AS skew,
                   CASE WHEN n >= 4 AND m2 > 0
                        THEN m4 / (m2*m2) - 3.0 END AS exk
            FROM s)
      SELECT event_type, CAST(n AS BIGINT) AS n,
             round(mean, 6) AS mean,
             round(skew, 6) AS skew,
             round(exk, 6) AS ex_kurt,
             round(n / 6.0 * (skew*skew + exk*exk/4.0), 6) AS jb
      FROM t
    """)
def q_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality screen per event_type (stats.jarque_bera):
    central power sums over rounded-mean-centered values — the
    centering is what keeps fourth-moment arithmetic 6-dp stable."""
    from hipipe_spark.operators.stats import jarque_bera
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return jarque_bera(e, "event_type", "value")


@query(oracle="""
      WITH e AS (SELECT CAST(user_id % 3 AS INT) AS cohort, event_type,
                        CAST(value AS DOUBLE) AS v FROM events),
      gv AS (SELECT cohort, event_type, v, CAST(count(*) AS DOUBLE) AS c
             FROM e GROUP BY cohort, event_type, v),
      vt AS (SELECT cohort, v, sum(c) AS t FROM gv GROUP BY cohort, v),
      vr AS (SELECT cohort, v, t,
                    sum(t) OVER (PARTITION BY cohort ORDER BY v
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) - t + (t + 1)/2 AS r
             FROM vt),
      pg AS (SELECT g.cohort, g.event_type, sum(g.c) AS ng,
                    sum(g.c * vr.r) AS rg
             FROM gv g JOIN vr ON g.cohort = vr.cohort AND g.v = vr.v
             GROUP BY g.cohort, g.event_type),
      tie AS (SELECT cohort, sum(t*t*t - t) AS tie FROM vt
              GROUP BY cohort),
      ag AS (SELECT cohort, CAST(count(*) AS BIGINT) AS k,
                    sum(ng) AS n, sum(rg*rg/ng) AS r2
             FROM pg GROUP BY cohort),
      j AS (SELECT ag.cohort, k, n, r2, tie.tie
            FROM ag JOIN tie ON ag.cohort = tie.cohort),
      h0 AS (SELECT cohort, k, n,
                    CASE WHEN k > 1 AND n > k
                         THEN 12.0/(n*(n+1))*r2 - 3.0*(n+1) END AS h,
                    1.0 - tie/(n*n*n - n) AS corr
             FROM j),
      h1 AS (SELECT cohort, k, n, h,
                    CASE WHEN corr > 0 THEN h / corr END AS h_tied
             FROM h0),
      z AS (SELECT cohort, k, n, h, h_tied,
                   CASE WHEN h_tied >= 0 THEN
                     (pow(h_tied / (k - 1.0), 1.0/3.0)
                      - (1.0 - 2.0/(9.0*(k - 1.0))))
                     / sqrt(2.0/(9.0*(k - 1.0))) END AS zwh
            FROM h1)
      SELECT cohort, k, CAST(n AS BIGINT) AS n,
             round(h, 6) AS h_stat,
             round(h_tied, 6) AS h_tied,
             round(CASE WHEN zwh IS NOT NULL THEN
                   1.0 / (1.0 + exp(0.07056*zwh*zwh*zwh + 1.5976*zwh))
                   END, 6) AS p_value
      FROM z
    """)
def q_kruskal_wallis(spark, sf_dir):
    """Tie-corrected Kruskal-Wallis H across event types per user
    cohort (stats.kruskal_wallis): midranks on the value-aggregated
    dimension frame exactly like mann_whitney, chi-square tail via the
    Wilson-Hilferty transform mirrored in the oracle."""
    from hipipe_spark.operators.stats import kruskal_wallis
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        (F.col("user_id") % 3).cast("int").alias("cohort"),
        "event_type", "value")
    return kruskal_wallis(e, "cohort", "event_type", "value")


@query(oracle="""
      WITH cell AS (SELECT o_orderpriority,
          CAST(sum(CASE WHEN o_custkey % 2 = 0 AND o_totalprice > 150000.0
                        THEN 1 ELSE 0 END) AS DOUBLE) AS a,
          CAST(sum(CASE WHEN o_custkey % 2 = 0 AND NOT o_totalprice > 150000.0
                        THEN 1 ELSE 0 END) AS DOUBLE) AS b,
          CAST(sum(CASE WHEN o_custkey % 2 <> 0 AND o_totalprice > 150000.0
                        THEN 1 ELSE 0 END) AS DOUBLE) AS c,
          CAST(sum(CASE WHEN o_custkey % 2 <> 0 AND NOT o_totalprice > 150000.0
                        THEN 1 ELSE 0 END) AS DOUBLE) AS d
          FROM orders GROUP BY o_orderpriority),
      per AS (SELECT o_orderpriority,
                     CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
                     CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
                     round(CASE WHEN a+b+c+d > 0
                           THEN (a+b)*(a+c)/(a+b+c+d) ELSE 0.0 END, 9) AS ea,
                     round(CASE WHEN a+b+c+d > 1
                           THEN (a+b)*(c+d)*(a+c)*(b+d)
                                / ((a+b+c+d)*(a+b+c+d)*(a+b+c+d-1))
                           ELSE 0.0 END, 9) AS va,
                     round(CASE WHEN a+b+c+d > 0
                           THEN a*d/(a+b+c+d) ELSE 0.0 END, 9) AS no,
                     round(CASE WHEN a+b+c+d > 0
                           THEN b*c/(a+b+c+d) ELSE 0.0 END, 9) AS do_
              FROM cell),
      tot AS (SELECT o_orderpriority, a, b, c, d,
                     sum(CAST(a AS DOUBLE)) OVER () AS sa,
                     sum(ea) OVER () AS sea, sum(va) OVER () AS sva,
                     sum(no) OVER () AS sno, sum(do_) OVER () AS sdo
              FROM per)
      SELECT o_orderpriority, a, b, c, d,
             round(CASE WHEN sva > 0
                   THEN pow(sa - sea, 2.0) / sva END, 6) AS cmh_chi2,
             round(CASE WHEN sdo > 0 THEN sno / sdo END, 6) AS or_mh
      FROM tot
    """)
def q_cmh(spark, sf_dir):
    """Cochran-Mantel-Haenszel stratified 2x2 (stats.cmh_test): does
    customer parity predict high-value orders pooled over priority
    strata? One conditional-sum aggregate to the stratum cell table;
    pooled OR + chi2 repeated per row (ad_table's contract)."""
    from hipipe_spark.operators.stats import cmh_test
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return cmh_test(o, "o_orderpriority",
                    F.col("o_custkey") % 2 == 0,
                    F.col("o_totalprice") > 150000.0)


@query(oracle="""
      WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v,
                        CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm
                 FROM events),
      agg AS (SELECT event_type,
                     CAST(sum(CASE WHEN arm='a' THEN 1 ELSE 0 END)
                          AS DOUBLE) AS na,
                     sum(CASE WHEN arm='a' THEN v ELSE 0.0 END) AS sa,
                     sum(CASE WHEN arm='a' THEN v*v ELSE 0.0 END) AS qa,
                     CAST(sum(CASE WHEN arm='b' THEN 1 ELSE 0 END)
                          AS DOUBLE) AS nb,
                     sum(CASE WHEN arm='b' THEN v ELSE 0.0 END) AS sb,
                     sum(CASE WHEN arm='b' THEN v*v ELSE 0.0 END) AS qb
              FROM e GROUP BY event_type),
      st AS (SELECT event_type, na, nb,
                    sa/na - sb/nb AS diff,
                    CASE WHEN na >= 2 AND nb >= 2 THEN
                      sqrt(((qa - sa*sa/na)/(na-1))/na
                           + ((qb - sb*sb/nb)/(nb-1))/nb) END AS se
             FROM agg),
      z AS (SELECT event_type, na, nb, diff, se,
                   CASE WHEN se > 0 THEN (diff + 2.0) / se END AS zl,
                   CASE WHEN se > 0 THEN (diff - 2.0) / se END AS zu
            FROM st),
      p AS (SELECT event_type, na, nb, diff, se, zl, zu,
                   1.0 - 1.0/(1.0 + exp(-(0.07056*zl*zl*zl + 1.5976*zl)))
                     AS pl,
                   1.0/(1.0 + exp(-(0.07056*zu*zu*zu + 1.5976*zu))) AS pu
            FROM z)
      SELECT event_type,
             CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             round(diff, 6) AS diff, round(se, 6) AS se,
             round(zl, 6) AS z_lower, round(zu, 6) AS z_upper,
             round(greatest(pl, pu), 6) AS p_tost,
             CASE WHEN zl IS NOT NULL AND zu IS NOT NULL
                  THEN zl >= 1.6448536269514722
                       AND zu <= -1.6448536269514722 END AS equivalent
      FROM p
    """)
def q_tost(spark, sf_dir):
    """TOST equivalence test per event_type (stats.tost_equiv): the
    inverse Welch question - is the parity-arm difference provably
    within +/-2.0? Same one-aggregate plan as welch_ttest."""
    from hipipe_spark.operators.stats import tost_equiv
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value",
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("arm"))
    return tost_equiv(e, "event_type", "value", "arm", "a", "b", 2.0)


@query(oracle="""
      WITH li AS (SELECT l_returnflag AS g,
                         CAST(l_extendedprice AS DOUBLE) AS y,
                         CAST(l_quantity AS DOUBLE) AS x1,
                         CAST(l_discount AS DOUBLE) AS x2
                  FROM lineitem),
      mu AS (SELECT g, round(avg(y), 6) AS my, round(avg(x1), 6) AS m1,
                    round(avg(x2), 6) AS m2
             FROM li GROUP BY g),
      c AS (SELECT li.g, y - my AS dy, x1 - m1 AS d1, x2 - m2 AS d2,
                   my, m1, m2
            FROM li JOIN mu ON li.g = mu.g),
      a AS (SELECT g, CAST(count(*) AS DOUBLE) AS n,
                   min(my) AS my, min(m1) AS m1, min(m2) AS m2,
                   sum(d1) AS u1, sum(d2) AS u2, sum(dy) AS uy,
                   sum(d1*d1) AS p11, sum(d2*d2) AS p22,
                   sum(d1*d2) AS p12,
                   sum(d1*dy) AS p1y, sum(d2*dy) AS p2y,
                   sum(dy*dy) AS pyy
            FROM c GROUP BY g),
      s AS (SELECT g, n, my, m1, m2, u1, u2, uy,
                   p11 - u1*u1/n AS s11, p22 - u2*u2/n AS s22,
                   p12 - u1*u2/n AS s12,
                   p1y - u1*uy/n AS s1y, p2y - u2*uy/n AS s2y,
                   pyy - uy*uy/n AS syy
            FROM a),
      k AS (SELECT *, s11*s22 - s12*s12 AS det,
                   n >= 4 AND s11*s22 - s12*s12 > 0 AS ok
            FROM s),
      b AS (SELECT *,
                   round(CASE WHEN ok THEN (s22*s1y - s12*s2y)/det END, 7)
                     AS b1,
                   round(CASE WHEN ok THEN (s11*s2y - s12*s1y)/det END, 7)
                     AS b2
            FROM k),
      e AS (SELECT *, syy - b1*s1y - b2*s2y AS sse,
                   CASE WHEN ok THEN (syy - b1*s1y - b2*s2y)/(n - 3) END
                     AS sig2
            FROM b),
      f AS (SELECT *,
                   CASE WHEN ok THEN my - b1*m1 - b2*m2
                        + (uy - b1*u1 - b2*u2)/n END AS b0,
                   CASE WHEN ok THEN sqrt(sig2*s22/det) END AS se1,
                   CASE WHEN ok THEN sqrt(sig2*s11/det) END AS se2
            FROM e)
      SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
             round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
             round(se1, 6) AS se1, round(se2, 6) AS se2,
             round(CASE WHEN se1 > 0 THEN b1/se1 END, 6) AS t1,
             round(CASE WHEN se2 > 0 THEN b2/se2 END, 6) AS t2,
             round(CASE WHEN ok AND syy > 0 THEN 1.0 - sse/syy END, 6)
               AS r2,
             round(CASE WHEN ok AND syy > 0
                   THEN 1.0 - (sse/syy)*(n-1)/(n-3) END, 6) AS adj_r2
      FROM f
    """)
def q_ols2(spark, sf_dir):
    """Closed-form two-predictor OLS per return flag
    (regression.ols2): extendedprice on quantity + discount — the
    2x2 normal-equation inverse written out over ONE aggregate of
    rounded-mean-centered moments; slopes rounded at 7 dp before the
    SSE handoff so both engines share the residual arithmetic."""
    from hipipe_spark.operators.regression import ols2
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return ols2(li, "l_returnflag", "l_extendedprice",
                "l_quantity", "l_discount")


@query(oracle="""
      WITH e AS (SELECT user_id, ts, event_id,
                        CAST(value AS DOUBLE) AS v FROM events),
      mu AS (SELECT user_id, round(avg(v), 6) AS m
             FROM e GROUP BY user_id),
      c AS (SELECT e.user_id, ts, event_id, v - m AS d
            FROM e JOIN mu ON e.user_id = mu.user_id),
      l AS (SELECT user_id, d,
                   lag(d) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS p
            FROM c),
      a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                   sum(d*d) AS ss,
                   sum(CASE WHEN p IS NOT NULL
                       THEN (d - p)*(d - p) ELSE 0.0 END) AS sd
            FROM l GROUP BY user_id),
      w AS (SELECT user_id, n,
                   CASE WHEN n >= 8 AND ss > 0 THEN sd/ss END AS dw
            FROM a)
      SELECT user_id, n, round(dw, 6) AS dw,
             round(CASE WHEN dw IS NOT NULL THEN 1.0 - dw/2.0 END, 6)
               AS rho1
      FROM w
    """)
def q_durbin_watson(spark, sf_dir):
    """Per-user Durbin-Watson serial-correlation audit
    (regression.durbin_watson) over the event-value stream in
    (ts, event_id) order: one broadcast mean join, one key-window
    lag, one aggregate."""
    from hipipe_spark.operators.regression import durbin_watson
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return durbin_watson(e, "user_id", ["ts", "event_id"], "value")


@query(oracle="""
      WITH e AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS y,
                        CAST(hour(ts) AS DOUBLE) AS x1,
                        CAST(dayofweek(ts) AS DOUBLE) AS x2
                 FROM events),
      mu AS (SELECT g, round(avg(y), 6) AS my, round(avg(x1), 6) AS m1,
                    round(avg(x2), 6) AS m2
             FROM e GROUP BY g),
      c AS (SELECT e.g, y - my AS dy, x1 - m1 AS d1, x2 - m2 AS d2
            FROM e JOIN mu ON e.g = mu.g),
      a AS (SELECT g, CAST(count(*) AS DOUBLE) AS n,
                   sum(d1) AS u1, sum(d2) AS u2, sum(dy) AS uy,
                   sum(d1*d1) AS p11, sum(d2*d2) AS p22,
                   sum(d1*d2) AS p12,
                   sum(d1*dy) AS p1y, sum(d2*dy) AS p2y,
                   sum(dy*dy) AS pyy
            FROM c GROUP BY g),
      s AS (SELECT g, n, u1, u2, uy,
                   p11 - u1*u1/n AS s11, p22 - u2*u2/n AS s22,
                   p12 - u1*u2/n AS s12,
                   p1y - u1*uy/n AS s1y, p2y - u2*uy/n AS s2y,
                   pyy - uy*uy/n AS syy
            FROM a),
      k AS (SELECT *, s11*s22 - s12*s12 AS det FROM s
            WHERE n >= 5 AND s11*s22 - s12*s12 > 0),
      b AS (SELECT *, round((s22*s1y - s12*s2y)/det, 7) AS b1,
                   round((s11*s2y - s12*s1y)/det, 7) AS b2
            FROM k),
      fit AS (SELECT g, n AS fn, b1, b2,
                     uy/n AS cy0, u1/n AS c10, u2/n AS c20,
                     round(s11, 6) AS fs11, round(s22, 6) AS fs22,
                     round(s12, 6) AS fs12, round(det, 6) AS fdet,
                     round((syy - b1*s1y - b2*s2y)/(n - 3), 9) AS sig2
              FROM b),
      rows_ AS (SELECT c.g,
                       dy - cy0 - b1*(d1 - c10) - b2*(d2 - c20) AS e,
                       1.0/fn + (fs22*(d1-c10)*(d1-c10)
                                 - 2.0*fs12*(d1-c10)*(d2-c20)
                                 + fs11*(d2-c20)*(d2-c20))/fdet AS h,
                       sig2
                FROM c JOIN fit ON c.g = fit.g),
      scored AS (SELECT g, round(e, 6) AS resid, round(h, 6) AS leverage,
                        round(e*e*h/(3.0*sig2*(1.0-h)*(1.0-h)), 9)
                          AS cooks9
                 FROM rows_),
      rk AS (SELECT *, row_number() OVER (
                 PARTITION BY g ORDER BY cooks9 DESC, resid DESC) AS rn
             FROM scored)
      SELECT g AS event_type, CAST(rn AS INT) AS rn, resid, leverage,
             round(cooks9, 6) AS cooks_d
      FROM rk WHERE rn <= 5
    """)
def q_influence(spark, sf_dir):
    """Cook's-distance influence top-5 per event_type
    (regression.ols2_influence): leverage and residual from the SAME
    closed-form centered moments as the ols2 fit, broadcast back to
    the rows; only the per-group top-k ranking shuffles raw rows."""
    from hipipe_spark.operators.regression import ols2_influence
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.col("value").alias("y"),
        F.hour("ts").cast("double").alias("x1"),
        (F.dayofweek("ts") - 1).cast("double").alias("x2"))
    return ols2_influence(e, "event_type", "y", "x1", "x2", top_k=5)


@query(oracle="""
      WITH e AS (SELECT user_id, ts, event_id,
                        CAST(value AS DOUBLE) AS v FROM events),
      med AS (SELECT user_id, round(quantile_cont(v, 0.5), 6) AS m
              FROM e GROUP BY user_id),
      d AS (SELECT e.user_id, ts, event_id, v > m AS up
            FROM e JOIN med ON e.user_id = med.user_id
            WHERE v <> m),
      l AS (SELECT user_id, up,
                   lag(up) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS pu
            FROM d),
      a AS (SELECT user_id,
                   CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS DOUBLE)
                     AS n1,
                   CAST(sum(CASE WHEN up THEN 0 ELSE 1 END) AS DOUBLE)
                     AS n2,
                   CAST(sum(CASE WHEN pu IS NULL OR pu <> up
                            THEN 1 ELSE 0 END) AS BIGINT) AS runs
            FROM l GROUP BY user_id),
      z AS (SELECT user_id, n1, n2, runs,
                   CASE WHEN n1 + n2 >= 10 AND n1 > 0 AND n2 > 0
                        AND 2.0*n1*n2*(2.0*n1*n2 - n1 - n2)
                            / ((n1+n2)*(n1+n2)*(n1+n2-1.0)) > 0
                   THEN (runs - (2.0*n1*n2/(n1+n2) + 1.0))
                        / sqrt(2.0*n1*n2*(2.0*n1*n2 - n1 - n2)
                               / ((n1+n2)*(n1+n2)*(n1+n2-1.0))) END AS z
            FROM a)
      SELECT user_id, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             runs, round(z, 6) AS z,
             round(2.0/(1.0 + exp(0.07056*pow(abs(z), 3)
                                  + 1.5976*abs(z))), 6) AS p_value
      FROM z
    """)
def q_runs(spark, sf_dir):
    """Wald-Wolfowitz runs test per user (stats.runs_test): sign
    persistence of the median-split value sequence — the
    counterpart of durbin_watson's magnitude correlation."""
    from hipipe_spark.operators.stats import runs_test
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return runs_test(e, "user_id", ["ts", "event_id"], "value")


@query(oracle="""
      WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v
                 FROM events),
      mu AS (SELECT event_type, round(avg(v), 6) AS m
             FROM e GROUP BY event_type),
      c AS (SELECT e.event_type, v - m AS d, m
            FROM e JOIN mu USING (event_type)),
      a AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
                   min(m) AS mean, sum(d) AS u, sum(d*d) AS q,
                   max(d) AS dmax, min(d) AS dmin
            FROM c GROUP BY event_type),
      s AS (SELECT event_type, n, mean, u/n AS ctr,
                   CASE WHEN n >= 3 AND (q - u*u/n)/(n-1) > 0
                        THEN sqrt((q - u*u/n)/(n-1)) END AS sd,
                   dmax, dmin
            FROM a)
      SELECT event_type, CAST(n AS BIGINT) AS n,
             round(mean, 6) AS mean, round(sd, 6) AS sd,
             round(greatest(dmax - ctr, ctr - dmin) / sd, 6) AS g_stat
      FROM s
    """)
def q_grubbs(spark, sf_dir):
    """Grubbs single-outlier statistic per event_type
    (stats.grubbs_stat): max |x - mean| / sd folded into the one
    centered aggregate — max deviation recovered exactly from
    max(d)/min(d) and the residual center."""
    from hipipe_spark.operators.stats import grubbs_stat
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return grubbs_stat(e, "event_type", "value")


@query(oracle="""
      WITH e AS (SELECT event_type, user_id,
                        CAST(value AS DOUBLE) AS v FROM events),
      gm AS (SELECT event_type, round(avg(v), 6) AS gmu
             FROM e GROUP BY event_type),
      c AS (SELECT e.event_type, user_id, v - gmu AS d
            FROM e JOIN gm USING (event_type)),
      g AS (SELECT event_type, user_id, CAST(count(*) AS DOUBLE) AS ng,
                   sum(d) AS sg, sum(d*d) AS qg
            FROM c GROUP BY event_type, user_id),
      a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k,
                   sum(ng) AS n, sum(ng*ng) AS n2, sum(sg) AS s,
                   sum(sg*sg/ng) AS sb_raw,
                   sum(qg - sg*sg/ng) AS ssw
            FROM g GROUP BY event_type),
      m AS (SELECT event_type, k, n,
                   CASE WHEN k > 1 AND n - k > 0
                        THEN (sb_raw - s*s/n)/(k - 1) END AS msb,
                   CASE WHEN k > 1 AND n - k > 0
                        THEN ssw/(n - k) END AS msw,
                   CASE WHEN k > 1
                        THEN (n - n2/n)/(k - 1) END AS n0
            FROM a)
      SELECT event_type, k, CAST(n AS BIGINT) AS n,
             round(n0, 6) AS n0, round(msb, 6) AS msb,
             round(msw, 6) AS msw,
             round(CASE WHEN msb IS NOT NULL AND msw IS NOT NULL
                        AND msb + (n0 - 1.0)*msw > 0
                   THEN (msb - msw)/(msb + (n0 - 1.0)*msw) END, 6)
               AS icc1
      FROM m
    """)
def q_icc(spark, sf_dir):
    """One-way random-effects ICC(1) per event_type across users
    (stats.icc_oneway): the between-user share of value variance,
    with the unbalanced-design n0 correction."""
    from hipipe_spark.operators.stats import icc_oneway
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return icc_oneway(e, "event_type", "user_id", "value")


@query(oracle="""
      WITH grid AS (SELECT event_type, user_id,
                           CAST(count(*) AS DOUBLE) AS c
                    FROM events GROUP BY event_type, user_id),
      mu AS (SELECT event_type, round(avg(c), 6) AS m
             FROM grid GROUP BY event_type),
      d AS (SELECT grid.event_type, c - m AS d, m
            FROM grid JOIN mu USING (event_type)),
      a AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
                   min(m) AS m0, sum(d) AS u, sum(d*d) AS q
            FROM d GROUP BY event_type),
      s AS (SELECT event_type, n, m0 + u/n AS mean,
                   (q - u*u/n)/(n - 1) AS var
            FROM a),
      t AS (SELECT event_type, n, mean, var,
                   CASE WHEN n >= 2 AND mean > 0
                        THEN var/mean END AS disp,
                   CASE WHEN n >= 2 AND mean > 0
                        THEN (n - 1)*var/mean END AS dstat
            FROM s),
      z AS (SELECT *, CASE WHEN dstat >= 0 THEN
                   (pow(dstat/(n - 1.0), 1.0/3.0)
                    - (1.0 - 2.0/(9.0*(n - 1.0))))
                   / sqrt(2.0/(9.0*(n - 1.0))) END AS zz
            FROM t)
      SELECT event_type, CAST(n AS BIGINT) AS n_entities,
             round(mean, 6) AS mean, round(var, 6) AS var,
             round(disp, 6) AS dispersion,
             round(zz, 6) AS z,
             round(CASE WHEN zz IS NOT NULL THEN
                   1.0/(1.0 + exp(0.07056*zz*zz*zz + 1.5976*zz)) END, 6)
               AS p_value,
             round(CASE WHEN n >= 2 AND mean > 0 AND var > mean
                   THEN mean*mean/(var - mean) END, 6) AS nb_r,
             round(CASE WHEN n >= 2 AND mean > 0 AND var > mean
                   THEN mean/var END, 6) AS nb_p
      FROM z
    """)
def q_overdispersion(spark, sf_dir):
    """Poisson overdispersion gate per event_type over per-user
    counts (stats.overdispersion): index-of-dispersion chi-square
    via Wilson-Hilferty plus the negative-binomial moment fit for
    groups that fail it."""
    from hipipe_spark.operators.stats import overdispersion
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return overdispersion(e, "event_type", "user_id")
