"""Model evaluation, rater agreement, drift and analytics
(operators/evaluation.py, drift.py, analytics.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from driver_queries import query
from driver_queries.testdata import (
    TRANSCRIPTS_SQL, read_docs, read_transcripts,
)
from hipipe_spark.functions.hashing import det_hash01, det_hash01_sql
from hipipe_spark.operators.evaluation import bradley_terry_oracle_sql


@query(oracle="""
      WITH t AS (
        SELECT CAST(least(7, greatest(0,
                 CAST(floor(CAST(length(text) AS DOUBLE) / 250.0) AS BIGINT)))
               AS INTEGER) AS bucket,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS is_a,
               CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS is_b
        FROM documents),
      c AS (SELECT bucket, CAST(sum(is_a) AS BIGINT) AS n_a,
                   CAST(sum(is_b) AS BIGINT) AS n_b
            FROM t GROUP BY bucket),
      b AS (SELECT CAST(range AS INTEGER) AS bucket FROM range(8)),
      f AS (SELECT b.bucket, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
            FROM b LEFT JOIN c USING (bucket)),
      tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM f),
      p AS (SELECT bucket, n_a, n_b,
                   (n_a + 0.5) / (ta + 0.5 * 8) AS p_a,
                   (n_b + 0.5) / (tb + 0.5 * 8) AS p_b
            FROM f, tot)
      SELECT bucket, n_a, n_b,
             round((p_a - p_b) * ln(p_a / p_b), 6) AS psi_term,
             round(sum((p_a - p_b) * ln(p_a / p_b)) OVER (), 6) AS psi
      FROM p
    """)
def q_psi_drift(spark, sf_dir):
    """Population Stability Index between two corpus slices (even vs
    odd doc_id) over text length, 8 uniform buckets on [0, 2000):
    per-bucket counts + smoothed PSI terms + repeated total. The
    monitoring primitive every recurring 100-TB ingest runs first."""
    from hipipe_spark.operators.drift import psi_table
    d = read_docs(spark, sf_dir).withColumn("text_len", F.length("text"))
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    out = psi_table(a, b, "text_len", lo=0.0, hi=2000.0, n_buckets=8)
    return out.select(
        "bucket", "n_a", "n_b",
        F.round("psi_term", 6).alias("psi_term"),
        F.round("psi", 6).alias("psi"),
    )


@query(oracle="""
      WITH t AS (
        SELECT CAST(length(text) AS DOUBLE) AS value,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS is_a,
               CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS is_b
        FROM documents),
      c AS (SELECT value, CAST(sum(is_a) AS BIGINT) AS n_a,
                   CAST(sum(is_b) AS BIGINT) AS n_b
            FROM t GROUP BY value),
      tot AS (SELECT CAST(sum(n_a) AS DOUBLE) AS ta,
                     CAST(sum(n_b) AS DOUBLE) AS tb FROM c),
      g AS (SELECT value, n_a, n_b,
                   abs(CAST(sum(n_a) OVER w AS DOUBLE) / ta
                       - CAST(sum(n_b) OVER w AS DOUBLE) / tb) AS dd
            FROM c, tot
            WINDOW w AS (ORDER BY value
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT value, n_a, n_b, round(dd, 6) AS d,
             round(max(dd) OVER (), 6) AS ks
      FROM g
    """)
def q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov drift between the same slices as
    psi_drift (even vs odd doc_id, text length): per-value eCDF gaps +
    repeated max. Exact over the discrete length domain; the cumulative
    window runs on the post-aggregation dimension-sized table only."""
    from hipipe_spark.operators.drift import ks_table
    d = read_docs(spark, sf_dir).withColumn("text_len", F.length("text"))
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    out = ks_table(a, b, "text_len")
    return out.select(
        "value", "n_a", "n_b",
        F.round("d", 6).alias("d"), F.round("ks", 6).alias("ks"))


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      o AS (SELECT role AS a, length(text) % 3 AS b,
                   CAST(count(*) AS BIGINT) AS n
            FROM t GROUP BY 1, 2),
      rm AS (SELECT a, CAST(sum(n) AS BIGINT) AS n_row FROM o GROUP BY a),
      cm AS (SELECT b, CAST(sum(n) AS BIGINT) AS n_col FROM o GROUP BY b),
      gl AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot,
                    count(DISTINCT a) AS card_a,
                    count(DISTINCT b) AS card_b FROM o),
      cells AS (SELECT rm.a, cm.b, COALESCE(o.n, 0) AS n,
                       rm.n_row, cm.n_col
                FROM rm CROSS JOIN cm
                LEFT JOIN o ON o.a = rm.a AND o.b = cm.b),
      e AS (SELECT a, b, n,
                   CAST(n_row * n_col AS DOUBLE) / n_tot AS e,
                   power(n - CAST(n_row * n_col AS DOUBLE) / n_tot, 2)
                     / (CAST(n_row * n_col AS DOUBLE) / n_tot) AS term,
                   n_tot, least(card_a, card_b) - 1 AS dof
            FROM cells, gl)
      SELECT a, b, n, round(e, 4) AS e, round(term, 6) AS chi2_term,
             round(sum(term) OVER (), 4) AS chi2,
             round(CASE WHEN dof > 0 THEN
                     sqrt(sum(term) OVER () / (n_tot * dof)) END, 6)
               AS cramers_v
      FROM e
    """)
def q_cramers_v(spark, sf_dir):
    """Chi-squared / Cramér's V association between role and a derived
    length class over the transcript table — the categorical-redundancy
    probe. Full R×C grid (zero cells carry chi² mass), margins and
    totals broadcast from the dimension-sized contingency table."""
    from hipipe_spark.operators.drift import cramers_v_table
    t = read_transcripts(spark, sf_dir).withColumn(
        "len_bin", (F.length("text") % 3).cast("long"))
    out = cramers_v_table(t, "role", "len_bin")
    return out.select(
        "a", "b", "n",
        F.round("e", 4).alias("e"),
        F.round("chi2_term", 6).alias("chi2_term"),
        F.round("chi2", 4).alias("chi2"),
        F.round("cramers_v", 6).alias("cramers_v"))


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      o AS (SELECT role AS a, length(text) % 3 AS b,
                   CAST(count(*) AS BIGINT) AS n
            FROM t GROUP BY 1, 2),
      rm AS (SELECT a, CAST(sum(n) AS BIGINT) AS n_row FROM o GROUP BY a),
      cm AS (SELECT b, CAST(sum(n) AS BIGINT) AS n_col FROM o GROUP BY b),
      ha AS (SELECT sum(-(n_row / tot) * ln(n_row / tot)) AS h_a
             FROM (SELECT n_row,
                          CAST(sum(n_row) OVER () AS DOUBLE) AS tot FROM rm)),
      hb AS (SELECT sum(-(n_col / tot) * ln(n_col / tot)) AS h_b
             FROM (SELECT n_col,
                          CAST(sum(n_col) OVER () AS DOUBLE) AS tot FROM cm)),
      m AS (SELECT o.a, o.b, o.n, rm.n_row, cm.n_col,
                   CAST(sum(o.n) OVER () AS DOUBLE) AS n_tot
            FROM o JOIN rm USING (a) JOIN cm USING (b)),
      f AS (SELECT a, b, n,
                   (n / n_tot)
                     * ln(CAST(n AS DOUBLE) * n_tot / (n_row * n_col))
                     AS mi_term
            FROM m)
      SELECT a, b, n, round(mi_term, 6) AS mi_term,
             round(sum(mi_term) OVER (), 6) AS mi,
             round(h_a, 6) AS h_a, round(h_b, 6) AS h_b,
             round(CASE WHEN h_a * h_b > 0 THEN
                     sum(mi_term) OVER () / sqrt(h_a * h_b) END, 6) AS nmi
      FROM f, ha, hb
    """)
def q_mutual_info(spark, sf_dir):
    """Mutual information / NMI between role and a derived length
    class — "how much does one categorical reveal about the other",
    the feature-selection sibling of cramers_v. Same single-exchange
    contingency plan; marginal entropies broadcast back."""
    from hipipe_spark.operators.drift import mutual_info_table
    t = read_transcripts(spark, sf_dir).withColumn(
        "len_bin", (F.length("text") % 3).cast("long"))
    out = mutual_info_table(t, "role", "len_bin")
    return out.select(
        "a", "b", "n",
        F.round("mi_term", 6).alias("mi_term"),
        F.round("mi", 6).alias("mi"),
        F.round("h_a", 6).alias("h_a"),
        F.round("h_b", 6).alias("h_b"),
        F.round("nmi", 6).alias("nmi"))


@query(oracle="""
      WITH a AS (SELECT CAST(value AS DOUBLE) AS value FROM events
                 WHERE event_type = 'view'),
      b AS (SELECT CAST(value AS DOUBLE) AS value FROM events
            WHERE event_type = 'purchase'),
      tagged AS (SELECT value, 1 AS is_a, 0 AS is_b FROM a
                 UNION ALL SELECT value, 0, 1 FROM b),
      counts AS (SELECT value, CAST(sum(is_a) AS BIGINT) AS n_a,
                        CAST(sum(is_b) AS BIGINT) AS n_b
                 FROM tagged GROUP BY value),
      tot AS (SELECT CAST(sum(n_a) AS DOUBLE) AS na,
                     CAST(sum(n_b) AS DOUBLE) AS nb FROM counts),
      cum AS (SELECT value, n_a, n_b,
                     sum(n_a + n_b) OVER w AS h,
                     sum(n_a) OVER w AS ma
              FROM counts
              WINDOW w AS (ORDER BY value
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)),
      con AS (SELECT value, n_a, n_b,
                round(CASE WHEN h < na + nb THEN
                  (n_a + n_b) * pow((na + nb) * ma - na * h, 2.0)
                    * (1.0 / na + 1.0 / nb)
                    / (h * (na + nb - h)) / (na + nb)
                ELSE 0.0 END, 9) AS contrib
              FROM cum, tot)
      SELECT value, n_a, n_b, round(contrib, 6) AS contrib,
             round(sum(contrib) OVER (), 6) AS a2
      FROM con
    """)
def q_ad_test(spark, sf_dir):
    """Two-sample Anderson-Darling (drift.ad_table) between view and
    purchase value distributions — the tail-weighted sibling of ks/
    wasserstein in the drift family; same one-exchange plan, windows
    on the dimension-sized merged support."""
    from hipipe_spark.operators.drift import ad_table
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = e.where("event_type = 'view'").select("value")
    b = e.where("event_type = 'purchase'").select("value")
    return ad_table(a, b, "value")


@query(oracle="""
      WITH e AS (SELECT user_id AS k, epoch(ts) AS ets, event_type AS et
                 FROM events),
      s1 AS (SELECT k, min(ets) AS t, min(ets) AS t0
             FROM e WHERE et = 'view' GROUP BY k),
      s2 AS (SELECT e.k, s1.t0, min(e.ets) AS t
             FROM e JOIN s1 ON e.k = s1.k AND e.ets >= s1.t
             WHERE e.et = 'click' GROUP BY e.k, s1.t0
             HAVING min(e.ets) - s1.t0 <= 604800.0),
      s3 AS (SELECT e.k, s2.t0, min(e.ets) AS t
             FROM e JOIN s2 ON e.k = s2.k AND e.ets >= s2.t
             WHERE e.et = 'purchase' GROUP BY e.k, s2.t0
             HAVING min(e.ets) - s2.t0 <= 604800.0),
      u AS (SELECT 1 AS step, 'view' AS name,
                   CAST(count(*) AS BIGINT) AS n_users FROM s1
            UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
            UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3)
      SELECT step, name, n_users,
             CASE WHEN max(CASE WHEN step = 1 THEN n_users END) OVER () > 0
                  THEN round(CAST(n_users AS DOUBLE)
                             / max(CASE WHEN step = 1 THEN n_users END)
                               OVER (), 6)
             END AS conv_rate
      FROM u
    """)
def q_funnel(spark, sf_dir):
    """Ordered funnel (analytics.py funnel): view → click → purchase
    within 7 days of the first view, greedy-earliest completion times
    via chained filtered min-aggregates — one lazy plan, per-step user
    counts + conversion rate."""
    from hipipe_spark.operators.analytics import funnel
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel(ev, ["view", "click", "purchase"], within_s=604800.0)


@query(oracle="""
      WITH a AS (SELECT DISTINCT user_id AS k,
                        CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS p
                 FROM events),
      f AS (SELECT k, min(p) AS cohort FROM a GROUP BY k),
      j AS (SELECT a.k, f.cohort, a.p - f.cohort AS age
            FROM a JOIN f USING (k)),
      c AS (SELECT cohort, age, CAST(count(DISTINCT k) AS BIGINT)
                     AS n_active
            FROM j GROUP BY cohort, age),
      sz AS (SELECT cohort, n_active AS csize FROM c WHERE age = 0)
      SELECT c.cohort, c.age, c.n_active,
             round(CAST(c.n_active AS DOUBLE) / sz.csize, 6) AS retention
      FROM c JOIN sz USING (cohort)
    """)
def q_cohort_retention(spark, sf_dir):
    """Cohort-retention triangle (analytics.py cohort_retention):
    1-day epoch periods, per (cohort, age) distinct active users and
    retention vs the cohort's age-0 size. Entity-keyed aggregates
    only; the triangle itself is dimension-sized."""
    from hipipe_spark.operators.analytics import cohort_retention
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cohort_retention(ev, period_s=86400.0)


@query(oracle="""
      WITH e AS (SELECT user_id AS k, epoch(ts) AS es FROM events),
      x AS (SELECT k, unnest(range(
                CAST(floor((es - 259200.0) / 86400.0) + 1 AS BIGINT),
                CAST(floor(es / 86400.0) AS BIGINT) + 1)) AS w
            FROM e),
      u AS (SELECT DISTINCT k, w FROM x)
      SELECT round(w * 86400.0, 6) AS window_start_s,
             round(w * 86400.0 + 259200.0, 6) AS window_end_s,
             CAST(count(*) AS BIGINT) AS n_active
      FROM u GROUP BY w
    """)
def q_sliding_distinct(spark, sf_dir):
    """Rolling active-entity counts (analytics.py sliding_distinct):
    distinct users per 3-day window sliding daily — exact mode (each
    event explodes into its 3 containing windows, one distinct +
    count); approximate=True swaps in per-bucket HLL sketches unioned
    per window (no row fan-out), the 100-TB path, pytest-anchored
    against exact."""
    from hipipe_spark.operators.analytics import sliding_distinct
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sliding_distinct(ev, window_s=3 * 86400.0, slide_s=86400.0)


@query(oracle="""
      WITH s AS (
        SELECT CAST(n_chars AS DOUBLE) AS sc,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS pos,
               CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS DOUBLE) AS neg
        FROM documents GROUP BY n_chars),
      c AS (
        SELECT pos, neg,
               COALESCE(sum(neg) OVER (ORDER BY sc
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS neg_below
        FROM s),
      a AS (
        SELECT CAST(sum(pos) + sum(neg) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS npos,
               CAST(sum(neg) AS BIGINT) AS nneg,
               sum(pos * (neg_below + neg / 2)) AS u
        FROM c)
      SELECT n, npos, nneg,
             CASE WHEN npos * nneg > 0
                  THEN round(u / (npos * nneg), 6) END AS auc,
             CASE WHEN npos * nneg > 0
                  THEN round(2 * u / (npos * nneg) - 1, 6) END AS gini
      FROM a
    """)
def q_auc_score(spark, sf_dir):
    """Exact tie-corrected ROC-AUC + Gini (evaluation.py auc_roc) of
    the n_chars score against the is-English label. Never sorts the
    corpus: per-DISTINCT-score aggregation, one window over the score
    table, one final fold. Oracle = the same Mann-Whitney cumulative
    formula in SQL windows."""
    from hipipe_spark.operators.evaluation import auc_roc
    d = read_docs(spark, sf_dir).select(
        F.col("n_chars").cast("double").alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"))
    return auc_roc(d, "score", "y")


@query(oracle="""
      WITH r AS (
        SELECT CASE WHEN n_chars < 200 THEN 'short'
                    WHEN n_chars < 350 THEN 'medium'
                    ELSE 'long' END AS a,
               CASE WHEN length(text) < 250 THEN 'short'
                    WHEN length(text) < 400 THEN 'medium'
                    ELSE 'long' END AS b
        FROM documents),
      cells AS (SELECT a, b, count(*) AS c FROM r GROUP BY a, b),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
                       AS agree
              FROM cells),
      ma AS (SELECT a AS k, sum(c) AS ca FROM cells GROUP BY a),
      mb AS (SELECT b AS k, sum(c) AS cb FROM cells GROUP BY b),
      pe AS (SELECT sum(CAST(ca AS DOUBLE) * cb) AS pe_num
             FROM ma JOIN mb USING (k))
      SELECT n,
             round(agree / n, 6) AS po,
             round(COALESCE(pe_num, 0) / (CAST(n AS DOUBLE) * n), 6) AS pe,
             CASE WHEN COALESCE(pe_num, 0) / (CAST(n AS DOUBLE) * n) < 1.0
                  THEN round((agree / n
                              - COALESCE(pe_num, 0) / (CAST(n AS DOUBLE) * n))
                             / (1.0 - COALESCE(pe_num, 0)
                                      / (CAST(n AS DOUBLE) * n)), 6)
             END AS kappa
      FROM tot, pe
    """)
def q_kappa(spark, sf_dir):
    """Cohen's kappa (evaluation.py cohens_kappa) between two
    deterministic labeling heuristics (length buckets at different
    thresholds) — the agreement-beyond-chance gate every multi-rater
    labeling job runs before trusting its labels. Two hash
    aggregations + broadcast marginal fold, no window."""
    from hipipe_spark.operators.evaluation import cohens_kappa
    d = read_docs(spark, sf_dir).select(
        F.when(F.col("n_chars") < 200, "short")
         .when(F.col("n_chars") < 350, "medium")
         .otherwise("long").alias("rater_a"),
        F.when(F.length("text") < 250, "short")
         .when(F.length("text") < 400, "medium")
         .otherwise("long").alias("rater_b"))
    return cohens_kappa(d, "rater_a", "rater_b")


@query(oracle="""
      WITH c AS (SELECT doc_id % 50 AS prompt_id, doc_id AS cid,
                        CAST(n_chars AS DOUBLE) AS sc
                 FROM documents),
      r AS (SELECT prompt_id, cid, sc,
              row_number() OVER (PARTITION BY prompt_id
                                 ORDER BY sc DESC, cid ASC) AS rb,
              row_number() OVER (PARTITION BY prompt_id
                                 ORDER BY sc ASC, cid DESC) AS rw,
              count(*) OVER (PARTITION BY prompt_id) AS gn
            FROM c)
      SELECT a.prompt_id, CAST(a.rb AS INTEGER) AS pair_rank,
             a.cid AS chosen_id, b.cid AS rejected_id,
             round(a.sc, 6) AS chosen_score,
             round(b.sc, 6) AS rejected_score,
             round(a.sc - b.sc, 6) AS margin
      FROM r a JOIN r b ON a.prompt_id = b.prompt_id AND b.rw = a.rb
      WHERE a.rb <= 2 AND b.rw <= 2 AND 2 * a.rb <= a.gn
        AND a.cid <> b.cid AND a.sc - b.sc >= 0
    """)
def q_pref_pairs(spark, sf_dir):
    """RLHF preference-pair construction (evaluation.py
    preference_pairs): per prompt group (doc_id % 50), pair the i-th
    best with the i-th worst candidate by score (i <= 2), skipping
    middle-crossing and sub-margin pairs. One window sort per group +
    a never-fanning equi-join on (group, pair_rank); output bounded
    at per_group rows/group no matter how hot the prompt."""
    from hipipe_spark.operators.evaluation import preference_pairs
    d = read_docs(spark, sf_dir).select(
        (F.col("doc_id") % 50).alias("prompt_id"),
        F.col("doc_id"),
        F.col("n_chars").cast("double").alias("score"))
    return preference_pairs(d, "prompt_id", "doc_id", "score",
                            per_group=2)


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      gi AS (SELECT DISTINCT conv_id AS g, tool AS i FROM t
             WHERE tool IS NOT NULL AND tool <> ''),
      marg AS (SELECT i, count(*) AS n FROM gi GROUP BY i),
      tot AS (SELECT CAST(count(DISTINCT g) AS DOUBLE) AS n_total FROM gi),
      pairs AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_ab
                FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
                GROUP BY a.i, b.i)
      SELECT item_a, item_b,
             CAST(ma.n AS BIGINT) AS n_a,
             CAST(mb.n AS BIGINT) AS n_b,
             CAST(n_ab AS BIGINT) AS n_ab,
             round(n_ab / n_total, 6) AS support,
             round(CAST(n_ab AS DOUBLE) / ma.n, 6) AS conf_a_b,
             round(CAST(n_ab AS DOUBLE) / mb.n, 6) AS conf_b_a,
             round(n_ab * n_total / (CAST(ma.n AS DOUBLE) * mb.n), 6) AS lift
      FROM pairs
      JOIN marg ma ON ma.i = item_a
      JOIN marg mb ON mb.i = item_b, tot
    """)
def q_tool_cooccur(spark, sf_dir):
    """Tool co-occurrence association stats (analytics.py
    cooccurrence): support / directional confidence / lift for every
    unordered tool pair sharing a conversation. DISTINCT (conv, tool)
    prepass bounds the self-join by the per-conv tool vocabulary;
    marginals broadcast."""
    from hipipe_spark.operators.analytics import cooccurrence
    t = read_transcripts(spark, sf_dir)
    return cooccurrence(t, group="conv_id", item="tool")


@query(oracle="""
      WITH t AS (
        SELECT CAST(least(7, greatest(0,
                 CAST(floor(CAST(length(text) AS DOUBLE) / 250.0) AS BIGINT)))
               AS INTEGER) AS bucket,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS is_a,
               CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS is_b
        FROM documents),
      c AS (SELECT bucket, CAST(sum(is_a) AS BIGINT) AS n_a,
                   CAST(sum(is_b) AS BIGINT) AS n_b
            FROM t GROUP BY bucket),
      b AS (SELECT CAST(range AS INTEGER) AS bucket FROM range(8)),
      f AS (SELECT b.bucket, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
            FROM b LEFT JOIN c USING (bucket)),
      tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM f),
      p AS (SELECT bucket, n_a, n_b,
                   (n_a + 0.5) / (ta + 0.5 * 8) AS p_a,
                   (n_b + 0.5) / (tb + 0.5 * 8) AS p_b
            FROM f, tot),
      j AS (SELECT bucket, n_a, n_b,
                   (p_a * ln(p_a / ((p_a + p_b) / 2))
                    + p_b * ln(p_b / ((p_a + p_b) / 2))) / 2 AS jterm
            FROM p)
      SELECT bucket, n_a, n_b, round(jterm, 6) AS jsd_term,
             round(sum(jterm) OVER (), 6) AS jsd
      FROM j
    """)
def q_jsd_drift(spark, sf_dir):
    """Jensen-Shannon divergence between even/odd doc_id slices over
    text length (drift.py jsd_table) — PSI's symmetric, ln2-bounded
    cousin; same one-exchange bucket-count plan."""
    from hipipe_spark.operators.drift import jsd_table
    d = read_docs(spark, sf_dir).withColumn("text_len", F.length("text"))
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    out = jsd_table(a, b, "text_len", lo=0.0, hi=2000.0, n_buckets=8)
    return out.select(
        "bucket", "n_a", "n_b",
        F.round("jsd_term", 6).alias("jsd_term"),
        F.round("jsd", 6).alias("jsd"))


@query(oracle="""
      WITH c AS (
        SELECT l_suppkey % 20 AS grp,
               l_orderkey * 10 + l_linenumber AS cid,
               l_extendedprice AS score,
               CASE WHEN l_quantity >= 48 THEN 2
                    WHEN l_quantity >= 45 THEN 1 ELSE 0 END AS rel
        FROM lineitem),
      r AS (
        SELECT grp, CAST(rel AS DOUBLE) AS rel,
               row_number() OVER (PARTITION BY grp
                                  ORDER BY score DESC, cid ASC) AS sys_rank,
               row_number() OVER (PARTITION BY grp
                                  ORDER BY rel DESC, cid ASC) AS ideal_rank,
               pow(2.0, rel) - 1 AS gain
        FROM c),
      a AS (
        SELECT grp,
               sum(CASE WHEN sys_rank <= 10
                        THEN gain / log2(sys_rank + 1) ELSE 0 END) AS dcg,
               sum(CASE WHEN ideal_rank <= 10
                        THEN gain / log2(ideal_rank + 1) ELSE 0 END) AS idcg,
               min(CASE WHEN rel > 0 THEN sys_rank END) AS first_rel,
               sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_rel,
               sum(CASE WHEN sys_rank <= 10 AND rel > 0
                        THEN 1 ELSE 0 END) AS n_rel_k
        FROM r GROUP BY grp)
      SELECT grp AS "group",
             round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0 END, 6)
               AS ndcg_at_10,
             round(CASE WHEN first_rel IS NOT NULL
                   THEN 1.0 / first_rel ELSE 0 END, 6) AS mrr,
             round(n_rel_k / 10.0, 6) AS precision_at_10,
             round(CASE WHEN n_rel > 0
                   THEN n_rel_k / CAST(n_rel AS DOUBLE) ELSE 0 END, 6)
               AS recall_at_10
      FROM a
    """)
def q_ranking_metrics(spark, sf_dir):
    """Per-query nDCG@10 / MRR / precision / recall (evaluation.py
    ranking_metrics): synthetic queries = l_suppkey%20, score =
    extendedprice, graded rel from quantity. One group exchange + two
    in-partition window sorts."""
    from hipipe_spark.operators.evaluation import ranking_metrics
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        (F.col("l_suppkey") % 20).alias("q"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("cid"),
        F.col("l_extendedprice").alias("score"),
        F.when(F.col("l_quantity") >= 48, 2)
         .when(F.col("l_quantity") >= 45, 1).otherwise(0).alias("rel"))
    return ranking_metrics(li, "q", "score", "rel", "cid", k=10)


@query(oracle="""
      WITH base AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
        FROM events
        WHERE event_type IN ('view', 'click', 'signup', 'purchase')),
      tagged AS (
        SELECT *, sum(is_conv) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                  + (1 - is_conv) AS conv_id
        FROM base),
      nc AS (
        SELECT *, max(CASE WHEN is_conv = 1 THEN conv_id ELSE 0 END)
                    OVER (PARTITION BY user_id) AS n_convs
        FROM tagged),
      touches AS (
        SELECT * FROM nc WHERE is_conv = 0 AND conv_id <= n_convs),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY user_id, conv_id
                                     ORDER BY ts, event_id) AS rk,
                  count(*) OVER (PARTITION BY user_id, conv_id) AS n
        FROM touches)
      SELECT event_type AS channel, count(*) AS n_touches,
             round(sum(CASE WHEN n = 1 THEN 1.0
                            WHEN n = 2 THEN 0.5
                            WHEN rk = 1 THEN 0.4
                            WHEN rk = n THEN 0.4
                            ELSE 0.2 / (n - 2) END), 6) AS credit
      FROM ranked GROUP BY event_type
    """)
def q_attribution(spark, sf_dir):
    """Position-based (40/20/40) multi-touch attribution over the
    events stream (analytics.py attribution): touches view/click/
    signup credit the next purchase; windows never overlap, so hot
    users cost O(events), not O(events^2)."""
    from hipipe_spark.operators.analytics import attribution
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return attribution(ev, ["view", "click", "signup"], "purchase",
                       model="position")


@query(oracle=f"""
      WITH src AS (
        SELECT {det_hash01_sql('event_id', 9)} AS p,
               CAST(user_id % 2 AS DOUBLE) AS y
        FROM events),
      agg AS (
        SELECT CAST(least(9, CAST(floor(p * 10) AS BIGINT)) AS INTEGER) AS bin,
               count(*) AS n, avg(p) AS avg_prob, avg(y) AS frac_pos,
               sum((p - y) * (p - y)) AS sq_sum
        FROM src GROUP BY 1),
      grid AS (SELECT CAST(range AS INTEGER) AS bin FROM range(10)),
      full_t AS (
        SELECT grid.bin, COALESCE(n, 0) AS n, avg_prob, frac_pos,
               COALESCE(sq_sum, 0.0) AS sq_sum
        FROM grid LEFT JOIN agg ON agg.bin = grid.bin)
      SELECT bin, CAST(n AS BIGINT) AS n,
             round(avg_prob, 6) AS avg_prob,
             round(frac_pos, 6) AS frac_pos,
             round(sum(CASE WHEN n > 0
                       THEN abs(avg_prob - frac_pos) * n
                       ELSE 0.0 END) OVER ()
                   / sum(n) OVER (), 6) AS ece,
             round(sum(sq_sum) OVER () / sum(n) OVER (), 6) AS brier
      FROM full_t
    """)
def q_calibration(spark, sf_dir):
    """Reliability table + ECE + Brier (evaluation.py
    calibration_report) over a det-hash-derived probability and a
    parity label: one map-combined aggregate to 10 bins, scalars via
    window sums over the tiny table."""
    from hipipe_spark.functions.hashing import det_hash01
    from hipipe_spark.operators.evaluation import calibration_report
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        det_hash01(F.col("event_id"), 9).alias("p"),
        (F.col("user_id") % 2).alias("y"))
    return calibration_report(ev, "p", "y", n_bins=10)


@query(oracle=bradley_terry_oracle_sql(
    """SELECT 'm' || CAST(doc_id % 7 AS VARCHAR) AS i,
              'm' || CAST((doc_id * 3 + 1) % 7 AS VARCHAR) AS j
       FROM documents
       WHERE doc_id % 7 <> (doc_id * 3 + 1) % 7""",
    n_iter=12, round_to=6))
def q_bt_ratings(spark, sf_dir):
    """Bradley-Terry arena leaderboard (evaluation.py bradley_terry):
    7 synthetic 'models' (doc_id % 7 beats (3*doc_id+1) % 7 — a
    deterministic comparison per document row, self-matches dropped),
    12 MM rounds. The comparison log collapses in one shuffle to the
    item²-bounded pair aggregate; the MM iteration is driver-side
    numpy on that dimension-sized state."""
    from hipipe_spark.operators.evaluation import bradley_terry
    d = read_docs(spark, sf_dir).select(
        F.concat(F.lit("m"), (F.col("doc_id") % 7).cast("string"))
         .alias("winner"),
        F.concat(F.lit("m"),
                 ((F.col("doc_id") * 3 + 1) % 7).cast("string"))
         .alias("loser"))
    return bradley_terry(d.filter(F.col("winner") != F.col("loser")),
                         n_iter=12, round_to=6)


@query(oracle="""
      WITH cells AS (
        SELECT doc_id % 200 AS i,
               'c' || CAST(length(text) % 4 AS VARCHAR) AS r,
               CAST(count(*) AS DOUBLE) AS c
        FROM documents GROUP BY 1, 2),
      per_item AS (
        SELECT i, sum(c) AS ni, sum(c * c) AS si
        FROM cells GROUP BY i HAVING sum(c) >= 2),
      pbar AS (
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(ni) AS BIGINT) AS n_ratings,
               avg((si - ni) / (ni * (ni - 1))) AS pb
        FROM per_item),
      marg AS (
        SELECT r, sum(c.c) AS cj
        FROM cells c JOIN per_item p ON p.i = c.i GROUP BY r),
      pe AS (SELECT sum(cj * cj) AS pen FROM marg)
      SELECT n_items, n_ratings, round(pb, 6) AS p_bar,
             round(COALESCE(pen / (n_ratings * 1.0 * n_ratings), 0), 6)
               AS p_e,
             CASE WHEN COALESCE(pen / (n_ratings * 1.0 * n_ratings), 0) < 1
                  THEN round((pb - pen / (n_ratings * 1.0 * n_ratings))
                             / (1 - pen / (n_ratings * 1.0 * n_ratings)), 6)
             END AS kappa
      FROM pbar, pe
    """)
def q_fleiss(spark, sf_dir):
    """Fleiss' kappa multi-rater agreement (evaluation.py
    fleiss_kappa): 200 synthetic items (doc_id % 200), each document
    row one rating ('c' || length(text) % 4). One shuffle to the
    (item, category) cell table; everything after is cell-sized."""
    from hipipe_spark.operators.evaluation import fleiss_kappa
    d = read_docs(spark, sf_dir).select(
        (F.col("doc_id") % 200).alias("item"),
        F.concat(F.lit("c"), (F.length("text") % 4).cast("string"))
         .alias("rating"))
    return fleiss_kappa(d, "item", "rating")


@query(oracle="""
      WITH cells AS (
        SELECT doc_id % 200 AS i,
               'c' || CAST(length(text) % 4 AS VARCHAR) AS r,
               CAST(count(*) AS DOUBLE) AS c
        FROM documents GROUP BY 1, 2),
      per_item AS (
        SELECT i, sum(c) AS ni FROM cells GROUP BY i
        HAVING sum(c) >= 2),
      paired AS (
        SELECT cells.i, cells.r, cells.c, per_item.ni
        FROM cells JOIN per_item ON per_item.i = cells.i),
      do_tab AS (
        SELECT CAST(count(DISTINCT i) AS BIGINT) AS n_items,
               sum(c * (ni - c) / (ni - 1)) AS do_num
        FROM paired),
      marg AS (SELECT r, sum(c) AS nc FROM paired GROUP BY r),
      n_tab AS (SELECT CAST(sum(nc) AS BIGINT) AS n_ratings,
                       sum(nc * nc) AS sq
                FROM marg)
      SELECT n_items, n_ratings,
             round(do_num / n_ratings, 6) AS d_o,
             round((n_ratings * 1.0 * n_ratings - sq)
                   / (n_ratings * 1.0 * (n_ratings - 1)), 6) AS d_e,
             CASE WHEN (n_ratings * 1.0 * n_ratings - sq) > 0
                  THEN round(1.0 - (do_num / n_ratings)
                             / ((n_ratings * 1.0 * n_ratings - sq)
                                / (n_ratings * 1.0 * (n_ratings - 1))), 6)
             END AS alpha
      FROM do_tab, n_tab
    """)
def q_kripp(spark, sf_dir):
    """Krippendorff's alpha (evaluation.py krippendorff_alpha) over
    the same synthetic rating log as `fleiss` — the missing-data-
    robust agreement twin. One shuffle to cells, cell-sized folds."""
    from hipipe_spark.operators.evaluation import krippendorff_alpha
    d = read_docs(spark, sf_dir).select(
        (F.col("doc_id") % 200).alias("item"),
        F.concat(F.lit("c"), (F.length("text") % 4).cast("string"))
         .alias("rating"))
    return krippendorff_alpha(d, "item", "rating")


@query(oracle="""
      WITH src AS (SELECT (o_orderkey * 2654435761) % 1000000 AS pr,
                          (o_orderkey * 7919) % 1000 AS u
                   FROM orders),
      b AS (SELECT least(19, CAST(floor(pr / 1000000.0 * 20) AS INT)) AS bin,
                   pr / 1000000.0 AS p,
                   CASE WHEN u < 200 + CAST(floor(pr / 2000.0) AS BIGINT)
                        THEN 1.0 ELSE 0.0 END AS y
            FROM src),
      g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                   avg(p) AS avg_prob, sum(y) AS sy
            FROM b GROUP BY bin),
      r AS (SELECT i.bin AS i, j.bin AS j,
                   (SELECT sum(sy) / sum(n) FROM g k
                    WHERE k.bin BETWEEN i.bin AND j.bin) AS a
            FROM g i JOIN g j ON i.bin <= j.bin),
      mins AS (SELECT gb.bin, r.i, min(r.a) AS m
               FROM g gb JOIN r ON r.i <= gb.bin AND r.j >= gb.bin
               GROUP BY gb.bin, r.i),
      cal AS (SELECT bin, max(m) AS calibrated FROM mins GROUP BY bin)
      SELECT g.bin, g.n, round(g.avg_prob, 6) AS avg_prob,
             round(g.sy / g.n, 6) AS frac_pos,
             round(cal.calibrated, 6) AS calibrated
      FROM g JOIN cal USING (bin)
    """)
def q_isotonic(spark, sf_dir):
    """Isotonic (PAV) calibration (evaluation.py isotonic_calibrate):
    deterministic pseudo-probabilities and correlated labels from
    integer arithmetic on o_orderkey; one aggregate to 20 bins, PAV
    driver-side with integer-exact pooling. Oracle = the minimax
    max-min range-average characterization of PAV, expressible in SQL
    because the bin table is tiny."""
    from hipipe_spark.operators.evaluation import isotonic_calibrate
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        ((F.col("o_orderkey") * 2654435761) % 1000000).alias("pr"),
        ((F.col("o_orderkey") * 7919) % 1000).alias("u"))
    scored = o.select(
        (F.col("pr") / 1000000.0).alias("prob"),
        (F.col("u") < 200 + F.floor(F.col("pr") / 2000))
        .cast("double").alias("label"))
    return isotonic_calibrate(scored, "prob", "label", n_bins=20)


_CLF_CELLS = f"""
  f AS (SELECT event_type AS label,
               CASE WHEN ({det_hash01_sql('event_id', 11)}) < 0.3
                    THEN 'view' ELSE event_type END AS pred
        FROM events),
  cells AS (SELECT label AS lab, pred AS prd, count(*) AS n
            FROM f GROUP BY 1, 2),
  classes AS (SELECT DISTINCT lab AS cls FROM cells
              UNION SELECT DISTINCT prd FROM cells),
  bl AS (SELECT lab AS cls,
                sum(CASE WHEN lab = prd THEN n ELSE 0 END) AS tp_l,
                sum(n) AS support
         FROM cells GROUP BY 1),
  bp AS (SELECT prd AS cls,
                sum(CASE WHEN lab = prd THEN n ELSE 0 END) AS tp_p,
                sum(n) AS n_pred
         FROM cells GROUP BY 1),
  j AS (SELECT c.cls, coalesce(tp_l, 0) AS tp,
               coalesce(n_pred, 0) AS n_pred,
               coalesce(support, 0) AS support
        FROM classes c LEFT JOIN bl ON bl.cls = c.cls
                       LEFT JOIN bp ON bp.cls = c.cls)"""


def _clf_frame(spark, sf_dir):
    """Deterministic multiclass prediction table: label = event_type,
    pred corrupted to 'view' on a 30% det-hash coin."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    u = det_hash01(F.col("event_id"), seed=11)
    return e.select(
        F.col("event_type").alias("label"),
        F.when(u < 0.3, F.lit("view")).otherwise(F.col("event_type"))
         .alias("pred"))


@query(oracle=f"""
      WITH {_CLF_CELLS}
      SELECT cls AS class, CAST(tp AS BIGINT) AS tp,
             CAST(n_pred - tp AS BIGINT) AS fp,
             CAST(support - tp AS BIGINT) AS fn,
             CAST(support AS BIGINT) AS support,
             CASE WHEN n_pred > 0
                  THEN round(CAST(tp AS DOUBLE) / n_pred, 6)
             END AS "precision",
             CASE WHEN support > 0
                  THEN round(CAST(tp AS DOUBLE) / support, 6)
             END AS recall,
             CASE WHEN n_pred > 0 AND support > 0
                  THEN round(2.0 * tp / (n_pred + support), 6)
             END AS f1
      FROM j
    """)
def q_class_report(spark, sf_dir):
    """Per-class precision/recall/F1 from ONE confusion-cell
    aggregate (evaluation.py classification_report) — class²-sized
    state, sklearn null conventions for undefined ratios."""
    from hipipe_spark.operators.evaluation import classification_report
    return classification_report(_clf_frame(spark, sf_dir),
                                 "label", "pred")


@query(oracle=f"""
      WITH {_CLF_CELLS},
      per AS (SELECT support, tp, n_pred,
                     CASE WHEN n_pred > 0 AND support > 0
                          THEN round(2.0 * tp / (n_pred + support), 6)
                          ELSE 0.0 END AS f1z
              FROM j),
      ag AS (SELECT CAST(sum(support) AS DOUBLE) AS s,
                    CAST(sum(tp) AS DOUBLE) AS c,
                    avg(f1z) AS macro_raw,
                    sum(f1z * support) / CAST(sum(support) AS DOUBLE)
                      AS weighted_raw,
                    CAST(sum(n_pred * support) AS DOUBLE) AS sum_pt,
                    CAST(sum(n_pred * n_pred) AS DOUBLE) AS sum_p2,
                    CAST(sum(support * support) AS DOUBLE) AS sum_t2
             FROM per)
      SELECT CAST(s AS BIGINT) AS n,
             round(c / s, 6) AS accuracy,
             round(macro_raw, 6) AS macro_f1,
             round(weighted_raw, 6) AS weighted_f1,
             CASE WHEN (s * s - sum_p2) * (s * s - sum_t2) > 0
                  THEN round((c * s - sum_pt)
                       / sqrt((s * s - sum_p2) * (s * s - sum_t2)), 6)
             END AS mcc
      FROM ag
    """)
def q_clf_summary(spark, sf_dir):
    """Accuracy, macro/weighted F1 and the Gorodkin multiclass MCC
    (evaluation.py classifier_summary) folded from the same
    confusion cells as class_report."""
    from hipipe_spark.operators.evaluation import classifier_summary
    return classifier_summary(_clf_frame(spark, sf_dir),
                              "label", "pred")


@query(oracle="""
      WITH per AS (SELECT user_id, max(epoch(ts)) AS last,
                          count(*) AS frequency,
                          round(sum(CAST(value AS DOUBLE)), 4)
                            AS monetary
                   FROM events GROUP BY 1),
      an AS (SELECT max(last) AS now FROM per),
      p2 AS (SELECT *, round(now - last, 6) AS recency_s
             FROM per, an),
      t AS (SELECT *,
                   ntile(5) OVER (ORDER BY recency_s ASC, user_id)
                     AS r,
                   ntile(5) OVER (ORDER BY frequency DESC, user_id)
                     AS f,
                   ntile(5) OVER (ORDER BY monetary DESC, user_id)
                     AS m
            FROM p2)
      SELECT user_id, recency_s,
             CAST(frequency AS BIGINT) AS frequency, monetary,
             CAST(r AS INT) AS r, CAST(f AS INT) AS f,
             CAST(m AS INT) AS m,
             CAST(r AS VARCHAR) || CAST(f AS VARCHAR)
               || CAST(m AS VARCHAR) AS rfm
      FROM t
    """)
def q_rfm(spark, sf_dir):
    """RFM segmentation per user (analytics.py rfm_segments): one
    raw-data aggregate, three ntile windows on the USER-dimension
    frame; recency anchored to corpus max(ts) (no extra scan); ties
    ntile-broken by key so the driver hash is stable."""
    from hipipe_spark.operators.analytics import rfm_segments
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rfm_segments(e, "user_id", "ts", "value", n_tiles=5)


@query(oracle="""
      WITH big AS (SELECT user_id AS k,
                          lag(event_type) OVER (
                            PARTITION BY user_id
                            ORDER BY ts, event_id) AS a,
                          event_type AS b
                   FROM events),
      cells AS (SELECT a, b, count(*) AS n FROM big
                WHERE a IS NOT NULL GROUP BY 1, 2),
      rt AS (SELECT n, CAST(n AS DOUBLE)
                       / CAST(sum(n) OVER (PARTITION BY a) AS DOUBLE)
                         AS p
             FROM cells),
      hr AS (SELECT sum(n) AS nt2, sum(n * -log2(p)) AS hr_num
             FROM rt),
      na AS (SELECT a, sum(n) AS na FROM cells GROUP BY a),
      nt AS (SELECT sum(n) AS nt FROM cells),
      mg AS (SELECT sum(na * -log2(CAST(na AS DOUBLE)
                                   / CAST(nt AS DOUBLE))) AS hm_num,
                    any_value(nt) AS nt3
             FROM na, nt)
      SELECT CAST(nt2 AS BIGINT) AS n_transitions,
             round(hm_num / nt3, 6) AS h_marginal,
             round(hr_num / nt2, 6) AS h_rate,
             round(CASE WHEN hm_num / nt3 > 0
                        THEN 1.0 - (hr_num / nt2) / (hm_num / nt3)
                   END, 6) AS predictability
      FROM hr, mg
    """)
def q_entropy_rate(spark, sf_dir):
    """First-order Markov entropy rate of the event-type process
    (analytics.py entropy_rate): conditional bits/next-event vs the
    marginal — the predictability gap a sequence model can exploit;
    two state²-dimension aggregates off one bigram lag window."""
    from hipipe_spark.operators.analytics import entropy_rate
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return entropy_rate(e, "user_id", "event_type", ["ts", "event_id"])


@query(oracle="""
      WITH t AS (SELECT CAST(value AS DOUBLE) AS value,
                        1 AS ia, 0 AS ib
                 FROM events WHERE event_type = 'view'
                 UNION ALL
                 SELECT CAST(value AS DOUBLE), 0, 1
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT value, sum(ia) AS n_a, sum(ib) AS n_b
            FROM t GROUP BY 1),
      s AS (SELECT *,
                   sum(n_a) OVER (ORDER BY value
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / CAST(sum(n_a) OVER () AS DOUBLE) AS cdf_a,
                   sum(n_b) OVER (ORDER BY value
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / CAST(sum(n_b) OVER () AS DOUBLE) AS cdf_b,
                   lead(value) OVER (ORDER BY value) - value AS gap
            FROM c)
      SELECT CAST(sum(n_a) AS BIGINT) AS n_a,
             CAST(sum(n_b) AS BIGINT) AS n_b,
             CAST(count(*) AS BIGINT) AS n_support,
             round(sum(abs(cdf_a - cdf_b) * gap), 6) AS w1
      FROM s
    """)
def q_wasserstein(spark, sf_dir):
    """Exact 1-Wasserstein distance between view and purchase value
    distributions (drift.py wasserstein_table): the drift metric
    with UNITS — Σ|F_a−F_b|·Δv on the merged support, one exchange
    on the value key, windows on the dimension-sized support table.
    Completes the drift family (PSI, KS, JSD, Cramér's V, MI)."""
    from hipipe_spark.operators.drift import wasserstein_table
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = e.where("event_type = 'view'").select("value")
    b = e.where("event_type = 'purchase'").select("value")
    return wasserstein_table(a, b, "value")


@query(oracle="""
      WITH e AS (SELECT event_type AS a,
                        CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END
                          AS b
                 FROM events),
      cells AS (SELECT a, b, count(*) AS n FROM e GROUP BY 1, 2),
      ma AS (SELECT a, sum(n) AS na FROM cells GROUP BY 1),
      mb AS (SELECT b, sum(n) AS nb FROM cells GROUP BY 1),
      tt AS (SELECT sum(n) AS nt, count(DISTINCT a) AS ka,
                    count(DISTINCT b) AS kb
             FROM cells),
      grid AS (SELECT ma.a, mb.b, na, nb,
                      coalesce(cells.n, 0) AS n, nt, ka, kb
               FROM ma CROSS JOIN mb CROSS JOIN tt
               LEFT JOIN cells ON cells.a = ma.a AND cells.b = mb.b),
      t2 AS (SELECT sum((n - na * nb / CAST(nt AS DOUBLE))
                        * (n - na * nb / CAST(nt AS DOUBLE))
                        / (na * nb / CAST(nt AS DOUBLE))) AS chi2,
                    any_value(nt) AS nt, any_value(ka) AS ka,
                    any_value(kb) AS kb
             FROM t2src),
      zt AS (SELECT nt, chi2, (ka - 1) * (kb - 1) AS dof,
                    (pow(chi2 / CAST((ka - 1) * (kb - 1) AS DOUBLE),
                         0.3333333333333333)
                     - (1.0 - 2.0 / (9.0 * CAST((ka - 1) * (kb - 1)
                                                AS DOUBLE))))
                    / sqrt(2.0 / (9.0 * CAST((ka - 1) * (kb - 1)
                                             AS DOUBLE))) AS z
             FROM t2)
      SELECT CAST(nt AS BIGINT) AS n, round(chi2, 6) AS chi2,
             CAST(dof AS BIGINT) AS dof,
             round(CASE WHEN dof >= 1
                        THEN 1.0 / (1.0 + exp(0.07056 * z * z * z
                                              + 1.5976 * z)) END, 6)
               AS p_value
      FROM zt
    """.replace("t2src", "grid"))
def q_chi2(spark, sf_dir):
    """Pearson χ² independence test between event_type and user
    parity (drift.py chi2_test): contingency cells + full category
    cross (zero cells contribute expected mass), Wilson–Hilferty p —
    the inferential companion to cramers_v."""
    from hipipe_spark.operators.drift import chi2_test
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        (F.col("user_id") % 2 == 0).cast("int").alias("parity"))
    return chi2_test(e, "event_type", "parity")


def _conformal_oracle() -> str:
    _ch7 = det_hash01_sql('event_id', 7)
    return f"""
      WITH b AS (SELECT event_type, CAST(value AS DOUBLE) AS y,
                   CASE WHEN {_ch7} < 0.5 THEN 'train'
                        WHEN {_ch7} < 0.75 THEN 'cal'
                        ELSE 'test' END AS split
                 FROM events),
      f AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_train,
                   round(AVG(y), 6) AS yhat
            FROM b WHERE split = 'train' GROUP BY event_type),
      c AS (SELECT b.event_type, round(abs(b.y - f.yhat), 9) AS r
            FROM b JOIN f USING (event_type) WHERE split = 'cal'),
      cr AS (SELECT event_type, r,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY r ASC) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS ncal
             FROM c),
      q AS (SELECT event_type, r AS q_conf FROM cr
            WHERE rn = CAST(ceil((ncal + 1) * 0.9) AS BIGINT)),
      na AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cal
             FROM c GROUP BY event_type),
      t AS (SELECT b.event_type, b.y, f.yhat
            FROM b JOIN f USING (event_type) WHERE split = 'test'),
      cov AS (SELECT t.event_type, CAST(COUNT(*) AS BIGINT) AS n_test,
                round(AVG(CASE WHEN q.q_conf IS NOT NULL THEN
                  CASE WHEN round(abs(t.y - t.yhat), 9) <= q.q_conf
                       THEN 1.0 ELSE 0.0 END END), 6) AS coverage
              FROM t LEFT JOIN q ON t.event_type = q.event_type
              GROUP BY t.event_type)
      SELECT f.event_type, f.n_train,
             COALESCE(na.n_cal, 0) AS n_cal,
             COALESCE(cov.n_test, 0) AS n_test,
             f.yhat, q.q_conf, cov.coverage
      FROM f LEFT JOIN na USING (event_type)
             LEFT JOIN q ON f.event_type = q.event_type
             LEFT JOIN cov ON f.event_type = cov.event_type
    """


@query(oracle=_conformal_oracle())
def q_conformal(spark, sf_dir):
    """Mondrian split-conformal intervals per event_type over event
    values (evaluation.py conformal_intervals, alpha=0.1, seed=7):
    deterministic hash split, per-group mean predictor, finite-sample
    ⌈(n+1)(1−α)⌉ calibration quantile via rank selection, realized
    test coverage. The rank-selected q is a data value, so residual
    ties cannot make the result engine-dependent."""
    from hipipe_spark.operators.evaluation import conformal_intervals
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return conformal_intervals(e, "event_type", "value", "event_id",
                               alpha=0.1, seed=7)


@query(oracle="""
      WITH grid AS (SELECT user_id AS s, event_type AS i,
                           sum(CAST(value AS DOUBLE)) AS score
                    FROM events GROUP BY user_id, event_type),
      kk AS (SELECT count(DISTINCT i) AS k FROM grid),
      cnt AS (SELECT s, count(*) AS c FROM grid GROUP BY s),
      comp AS (SELECT s FROM cnt, kk WHERE c = k),
      g2 AS (SELECT grid.s, grid.i, grid.score
             FROM grid JOIN comp ON grid.s = comp.s),
      imu AS (SELECT i, round(avg(score), 6) AS im FROM g2 GROUP BY i),
      ic AS (SELECT g2.i, score - im AS d
             FROM g2 JOIN imu ON g2.i = imu.i),
      ia AS (SELECT i, CAST(count(*) AS DOUBLE) AS ni,
                    sum(d) AS u, sum(d*d) AS q
             FROM ic GROUP BY i),
      siv AS (SELECT sum((q - u*u/ni)/(ni - 1)) AS sum_item_var
              FROM ia),
      tot AS (SELECT s, sum(score) AS tot FROM g2 GROUP BY s),
      tmu AS (SELECT round(avg(tot), 6) AS tm FROM tot),
      tc AS (SELECT tot - tm AS d FROM tot, tmu),
      tv AS (SELECT CAST(count(*) AS DOUBLE) AS ns, sum(d) AS u,
                    sum(d*d) AS q
             FROM tc),
      fin AS (SELECT kk.k, tv.ns, siv.sum_item_var,
                     (tv.q - tv.u*tv.u/tv.ns)/(tv.ns - 1) AS tvv
              FROM kk, tv, siv)
      SELECT CAST(k AS BIGINT) AS k, CAST(ns AS BIGINT) AS n_subjects,
             round(sum_item_var, 6) AS sum_item_var,
             round(tvv, 6) AS total_var,
             round(CASE WHEN k > 1 AND ns > 1 AND tvv > 0
                   THEN k/(k - 1.0)*(1.0 - sum_item_var/tvv) END, 6)
               AS alpha
      FROM fin
    """)
def q_cronbach(spark, sf_dir):
    """Cronbach's alpha over the user x event_type score grid
    (evaluation.cronbach_alpha): internal consistency of per-type
    value totals as five 'items' rating each user; complete
    subjects only."""
    from hipipe_spark.operators.evaluation import cronbach_alpha
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cronbach_alpha(e, "user_id", "event_type", "value")


@query(oracle="""
      WITH e AS (SELECT event_type AS x,
                        CAST(user_id % 10 AS INT) AS y FROM events),
      cells AS (SELECT x, y, CAST(count(*) AS DOUBLE) AS c
                FROM e GROUP BY x, y),
      n AS (SELECT sum(c) AS n FROM cells),
      hx AS (SELECT ln(min(n.n)) - sum(cx * ln(cx)) / min(n.n) AS h_x
             FROM (SELECT x, sum(c) AS cx FROM cells GROUP BY x), n),
      hy AS (SELECT ln(min(n.n)) - sum(cy * ln(cy)) / min(n.n) AS h_y
             FROM (SELECT y, sum(c) AS cy FROM cells GROUP BY y), n),
      hxy AS (SELECT min(n.n) AS nn,
                     ln(min(n.n)) - sum(c * ln(c)) / min(n.n) AS h_xy
              FROM cells, n)
      SELECT CAST(nn AS BIGINT) AS n,
             round(h_x, 6) AS h_x, round(h_y, 6) AS h_y,
             round(h_x + h_y - h_xy, 6) AS mi,
             round(CASE WHEN h_y > 0
                   THEN (h_x + h_y - h_xy) / h_y END, 6)
               AS u_y_given_x,
             round(CASE WHEN h_x > 0
                   THEN (h_x + h_y - h_xy) / h_x END, 6)
               AS u_x_given_y
      FROM hxy, hx, hy
    """)
def q_theil_u(spark, sf_dir):
    """Theil's uncertainty coefficient both ways between event_type
    and user cohort (drift.theil_u): the asymmetric does-X-predict-Y
    companion of cramers_v/mutual_info, from the same one-aggregate
    contingency cell table."""
    from hipipe_spark.operators.drift import theil_u
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", (F.col("user_id") % 10).cast("int").alias("cohort"))
    return theil_u(e, "event_type", "cohort")


@query(oracle="""
      WITH e AS (SELECT event_type,
                        CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END
                          AS arm
                 FROM events),
      a AS (SELECT event_type,
                   CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END)
                        AS DOUBLE) AS o0,
                   CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END)
                        AS DOUBLE) AS o1
            FROM e GROUP BY event_type),
      c AS (SELECT event_type, o0 + o1 AS n,
                   (o0 - (o0 + o1) * 0.5) * (o0 - (o0 + o1) * 0.5)
                     / ((o0 + o1) * 0.5)
                   + (o1 - (o0 + o1) * 0.5) * (o1 - (o0 + o1) * 0.5)
                     / ((o0 + o1) * 0.5) AS chi2
            FROM a),
      z AS (SELECT event_type, n, chi2,
                   CASE WHEN n > 0 THEN
                     (pow(chi2 / 1.0, 1.0/3.0) - (1.0 - 2.0/9.0))
                     / sqrt(2.0/9.0) END AS zz
            FROM c)
      SELECT event_type, CAST(n AS BIGINT) AS n,
             round(chi2, 6) AS chi2, CAST(1 AS INT) AS dof,
             round(CASE WHEN zz IS NOT NULL THEN
                   1.0/(1.0 + exp(0.07056*zz*zz*zz + 1.5976*zz)) END, 6)
               AS p_value,
             CASE WHEN zz IS NOT NULL THEN
               1.0/(1.0 + exp(0.07056*zz*zz*zz + 1.5976*zz)) < 0.001
             END AS srm
      FROM z
    """)
def q_srm(spark, sf_dir):
    """Sample-ratio-mismatch gate per event_type (drift.srm_check):
    parity-arm counts against the intended 50/50 split, Pearson
    chi-square with Wilson-Hilferty tail, alpha=0.001 alarm."""
    from hipipe_spark.operators.drift import srm_check
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("arm"))
    return srm_check(e, "event_type", "arm", {"a": 0.5, "b": 0.5})
