"""Feature encoders, feature statistics, group splits and sampling
(operators/features.py, encoders.py, groups.py, sampling.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from driver_queries import query
from driver_queries.testdata import (
    TRANSCRIPTS_SQL, read_docs, read_transcripts,
)
from hipipe_spark.functions.hashing import (
    det_hash01_sql, det_hash_i64_sql, det_hash_str_i64_sql,
)
from hipipe_spark.functions.text import token_count
from hipipe_spark.operators.features import categorical_entropy, make_labels
from hipipe_spark.operators.groups import (
    build_index_mapper, encode, fixed_groups, generate_groups,
)


@query(oracle="""
      WITH m AS (
        SELECT o_orderpriority,
               row_number() OVER (ORDER BY o_orderpriority) - 1 AS prio_idx
        FROM (SELECT DISTINCT o_orderpriority FROM orders)
      )
      SELECT o.o_orderkey, m.prio_idx
      FROM orders o JOIN m USING (o_orderpriority)
    """)
def q_index_mapper(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    mapper = build_index_mapper(o, "o_orderpriority")
    return encode(o, "o_orderpriority", mapper).select(
        "o_orderkey", F.col("o_orderpriority_idx").alias("prio_idx")
    )


@query(oracle=f"""
      WITH n AS (SELECT count(*) AS c FROM orders),
      r AS (SELECT o_orderkey,
                   row_number() OVER (ORDER BY {det_hash_i64_sql('o_orderkey', 3)}, o_orderkey) AS rn
            FROM orders)
      SELECT CAST(CASE WHEN rn <= floor(c * 0.2) THEN 0
                  WHEN rn <= 2 * floor(c * 0.2) THEN 1
                  ELSE 2 END AS INTEGER) AS "group",
             count(*) AS n
      FROM r, n GROUP BY 1
    """)
def q_generate_groups(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = generate_groups(o, "o_orderkey", [2, 2, 6], seed=3)
    return out.groupBy("group").agg(F.count("*").alias("n"))


def _generate_groups_multi_oracle() -> str:
    # n-clusterings split: initial full-ratio split (seed 3), volatile
    # rows (init < 2) re-ranked per clustering with derived seeds —
    # exact replica of generate_groups_multi's arithmetic
    _mseeds = [3 + 7919 * (i + 1) for i in range(3)]
    _ranks = "\n".join(
        f""", r{i} AS (SELECT o_orderkey,
               row_number() OVER (ORDER BY {det_hash_i64_sql('o_orderkey', s)},
                                  o_orderkey) AS rn
           FROM vol)"""
        for i, s in enumerate(_mseeds))
    _gcols = ",\n".join(
        f"""CAST(CASE WHEN r{i}.rn IS NULL THEN i.g
                  WHEN r{i}.rn <= CAST(floor(v * 1.0 / 2) AS BIGINT) THEN 0
                  ELSE 1 END AS INTEGER) AS group_{i}"""
        for i in range(3))
    _joins = "\n".join(
        f"LEFT JOIN r{i} ON i.o_orderkey = r{i}.o_orderkey" for i in range(3))
    return f"""
      WITH n AS (SELECT count(*) AS c FROM orders),
      r AS (SELECT o_orderkey,
                   row_number() OVER (ORDER BY {det_hash_i64_sql('o_orderkey', 3)},
                                      o_orderkey) AS rn
            FROM orders),
      init AS (SELECT o_orderkey,
                      CASE WHEN rn <= CAST(floor(c * 1.0 / 4) AS BIGINT) THEN 0
                           WHEN rn <= 2 * CAST(floor(c * 1.0 / 4) AS BIGINT) THEN 1
                           ELSE 2 END AS g
               FROM r, n),
      vol AS (SELECT o_orderkey FROM init WHERE g < 2),
      vn AS (SELECT count(*) AS v FROM vol)
      {_ranks}
      SELECT i.o_orderkey, {_gcols}
      FROM init i {_joins}, vn
    """


@query(oracle=_generate_groups_multi_oracle())
def q_generate_groups_multi(spark, sf_dir):
    """n-clusterings split (reference groups.hpp:111-140): volatile
    [1,1] + fixed [2] over 3 clusterings; the fixed group (label 2) is
    identical in every clustering, volatile rows re-split per clustering
    with exact counts. Per-row labels fully reproduced by the DuckDB
    oracle (LCG rank thresholds)."""
    from hipipe_spark.operators.groups import generate_groups_multi
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = generate_groups_multi(o, "o_orderkey", n=3,
                                volatile_ratio=[1, 1], fixed_ratio=[2], seed=3)
    return out.select("o_orderkey", "group_0", "group_1", "group_2")


@query(oracle=f"""
      SELECT CAST(({det_hash_i64_sql('o_orderkey', 3)}) % 5 AS INTEGER) AS "group",
             count(*) AS n
      FROM orders GROUP BY 1
    """)
def q_fixed_groups(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = fixed_groups(o, "o_orderkey", 5, seed=3)
    return out.groupBy("group").agg(F.count("*").alias("n"))


@query(oracle=rf"""
      WITH d AS (
        SELECT doc_id,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+'))
                    END AS BIGINT) AS n_tok
        FROM documents),
      o AS (SELECT doc_id, n_tok,
                   CAST({det_hash_i64_sql('doc_id', 3)} AS BIGINT) * 2147483648
                     + ((doc_id % 2147483648 + 2147483648) % 2147483648)
                     AS ord
            FROM d),
      c AS (SELECT doc_id, n_tok,
                   CAST(sum(n_tok) OVER (ORDER BY ord
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS tok_cum
            FROM o)
      SELECT doc_id, n_tok, tok_cum FROM c WHERE tok_cum <= 15000
    """)
def q_token_budget(spark, sf_dir):
    """Token-budget subsampling: a seeded hash permutation of doc_id +
    the two-phase range-partitioned prefix sum keep the prefix of
    documents totalling ≤ 15k tokens (~55% of the sf0.01 corpus — the prefix genuinely truncates) — the "N billion tokens of web"
    knob stated by every corpus-mixing spec. Deterministic at any
    parallelism (pytest pins 1/5/32 partitions)."""
    from hipipe_spark.operators.sampling import sample_to_token_budget
    d = read_docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tok"))
    out = sample_to_token_budget(d, "doc_id", "n_tok",
                                 budget=15000, seed=3)
    return out.select("doc_id", F.col("n_tok").cast("long").alias("n_tok"),
                      "tok_cum")


@query(oracle=f"""
      WITH n AS (SELECT lang, count(*) AS nd FROM documents GROUP BY lang),
      z AS (SELECT sum(pow(CAST(nd AS DOUBLE), 0.5)) AS z FROM n),
      r AS (SELECT lang,
                   least(1.0, pow(CAST(nd AS DOUBLE), 0.5) / z * 250.0
                              / CAST(nd AS DOUBLE)) AS rate
            FROM n, z)
      SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
      WHERE {det_hash01_sql('d.doc_id', 3)} < rate
    """)
def q_temperature_mixture(spark, sf_dir):
    """Temperature-based domain rebalancing (XLM-R/mT5 recipe) over the
    skewed `lang` column: q_d ∝ n_d^0.5, realized as deterministic
    per-row Bernoulli keeps with in-plan statistics."""
    from hipipe_spark.operators.sampling import temperature_mixture
    d = read_docs(spark, sf_dir).select("doc_id", "lang")
    return temperature_mixture(d, "lang", "doc_id", alpha=0.5,
                               target_rows=250, seed=3)


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL})
      SELECT conv_id, turn_idx,
             round((COALESCE(sum(CAST(length(text) AS DOUBLE)) OVER w, 0)
                    + 10.0 * 25.0)
                   / (CAST(COALESCE(count(*) OVER w, 0) AS DOUBLE) + 10.0),
                   4) AS role_te
      FROM t WINDOW w AS (PARTITION BY conv_id, role ORDER BY ts, turn_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    """)
def q_target_encode_ordered(spark, sf_dir):
    """Ordered (strictly-past, conversation-local) smoothed target
    encoding of role against text length — zero target leakage: each
    row's encoding uses only labels the model would have seen.
    Distinct from q_target_encode (out-of-fold corpus TE)."""
    from hipipe_spark.operators.encoders import TargetEncode
    t = read_transcripts(spark, sf_dir).withColumn(
        "text_len", F.length("text").cast("int"))
    out = TargetEncode("role", "text_len", prior=25.0, prior_weight=10.0)(t)
    return out.select(
        "conv_id", "turn_idx", F.round("role_te", 4).alias("role_te"))


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      s AS (SELECT conv_id, turn_idx,
                   CAST(length(text) AS DOUBLE) AS x,
                   CAST({det_hash_str_i64_sql('conv_id', 5)} AS DOUBLE) / 2147483648.0 AS u
            FROM t),
      st AS (SELECT avg(x) AS m, stddev_samp(x) AS sd FROM s WHERE u < 0.9)
      SELECT conv_id, turn_idx,
             round(CASE WHEN sd > 0 THEN (x - m) / sd END, 4) AS text_len_z
      FROM s, st
    """)
def q_standardize(spark, sf_dir):
    """Fit/apply z-score discipline: moments fitted on the hash-split
    train conversations ONLY, broadcast-applied to every row — eval
    data never shapes the scaling."""
    from hipipe_spark.operators.encoders import (
        apply_standardizer, fit_standardizer)
    from hipipe_spark.operators.sampling import group_split
    t = group_split(
        read_transcripts(spark, sf_dir).withColumn(
            "text_len", F.length("text").cast("int")),
        "conv_id", seed=5)
    stats = fit_standardizer(t.filter(F.col("split") == "train"), ["text_len"])
    out = apply_standardizer(t, stats, ["text_len"])
    return out.select(
        "conv_id", "turn_idx", F.round("text_len_z", 4).alias("text_len_z"))


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      s AS (SELECT conv_id, turn_idx,
                   CAST(length(text) AS DOUBLE) AS x FROM t),
      st AS (SELECT quantile_cont(x, [0.25, 0.5, 0.75]) AS bs FROM s)
      SELECT conv_id, turn_idx,
             CAST(len(list_filter(st.bs, b -> b <= x)) AS BIGINT)
               AS text_len_bin
      FROM s, st
    """)
def q_quantile_bin(spark, sf_dir):
    """Fit/apply quantile binning: 4-bucket cut points fitted once
    (exact percentile_cont interpolation so the DuckDB quantile_cont
    oracle is bit-stable; ``exact=False`` percentile_approx is the
    100-TB path), broadcast-applied as a scan-local array expression —
    the fact side never shuffles."""
    from hipipe_spark.operators.encoders import apply_buckets, fit_buckets
    t = read_transcripts(spark, sf_dir).withColumn(
        "text_len", F.length("text").cast("int"))
    bounds = fit_buckets(t, ["text_len"], n_buckets=4, exact=True)
    out = apply_buckets(t, bounds, ["text_len"])
    return out.select(
        "conv_id", "turn_idx",
        F.col("text_len_bin").cast("long").alias("text_len_bin"))


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      s AS (SELECT conv_id, turn_idx,
                   CAST(length(text) AS DOUBLE) AS x FROM t),
      st AS (SELECT quantile_cont(x, 0.5) AS med,
                    quantile_cont(x, 0.75) - quantile_cont(x, 0.25) AS iqr
             FROM s)
      SELECT conv_id, turn_idx,
             round(CASE WHEN iqr > 0 THEN (x - med) / iqr END, 6)
               AS text_len_r
      FROM s, st
    """)
def q_robust_scale(spark, sf_dir):
    """Median/IQR scaling fitted once (exact interpolated percentiles
    for the oracle; the approx sketch is the 100-TB path) and
    broadcast-applied — outlier-resistant where a single giant document
    would wreck a mean/std fit. The fact side never shuffles."""
    from hipipe_spark.operators.encoders import (
        apply_robust_scaler, fit_robust_scaler)
    t = read_transcripts(spark, sf_dir).withColumn(
        "text_len", F.length("text").cast("int"))
    stats = fit_robust_scaler(t, ["text_len"], exact=True)
    out = apply_robust_scaler(t, stats, ["text_len"])
    return out.select(
        "conv_id", "turn_idx", F.round("text_len_r", 6).alias("text_len_r"))


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      s AS (SELECT conv_id, turn_idx,
                   CAST(length(text) AS DOUBLE) AS x FROM t),
      st AS (SELECT quantile_cont(x, 0.05) AS lo,
                    quantile_cont(x, 0.95) AS hi FROM s)
      SELECT conv_id, turn_idx,
             round(least(greatest(x, lo), hi), 6) AS text_len_clip
      FROM s, st
    """)
def q_winsorize(spark, sf_dir):
    """Winsorization: clamp text length into its fitted [p05, p95]
    quantile band (exact interpolation for the oracle; approx sketch at
    100 TB) — the tail-taming step before mean/std fits. Broadcast
    bounds, scan-local clamp, nulls preserved."""
    from hipipe_spark.operators.encoders import apply_clip, fit_clip
    t = read_transcripts(spark, sf_dir).withColumn(
        "text_len", F.length("text").cast("int"))
    stats = fit_clip(t, ["text_len"], lo_p=0.05, hi_p=0.95, exact=True)
    out = apply_clip(t, stats, ["text_len"])
    return out.select(
        "conv_id", "turn_idx",
        F.round("text_len_clip", 6).alias("text_len_clip"))


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      s AS (SELECT role, conv_id,
                   CASE WHEN CAST({det_hash_str_i64_sql('conv_id', 5)} AS DOUBLE)
                             / 2147483648.0 < 0.9 THEN 'train'
                        WHEN CAST({det_hash_str_i64_sql('conv_id', 5)} AS DOUBLE)
                             / 2147483648.0 < 0.9500000000000001 THEN 'val'
                        ELSE 'test' END AS split
            FROM t)
      SELECT split, role, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
      FROM s GROUP BY split, role
    """)
def q_conv_split(spark, sf_dir):
    """Leakage-safe train/val/test assignment by conversation hash —
    no conv straddles splits, assignment frozen under corpus growth.
    Output: per (split, role) row and distinct-conversation counts."""
    from hipipe_spark.operators.sampling import group_split
    t = read_transcripts(spark, sf_dir)
    s = group_split(t, "conv_id", seed=5)
    return (s.groupBy("split", "role")
             .agg(F.count("*").alias("n_rows"),
                  F.countDistinct("conv_id").alias("n_convs")))


@query(oracle="""
      WITH src AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS DOUBLE) AS f1,
               CAST(l_extendedprice AS DOUBLE) AS f2,
               CAST(l_discount AS DOUBLE) AS f3
        FROM lineitem),
      mm AS (SELECT min(f1) mn1, max(f1) mx1, min(f2) mn2, max(f2) mx2,
                    min(f3) mn3, max(f3) mx3 FROM src),
      b AS (SELECT l_orderkey, l_linenumber,
              least(11, greatest(0, CAST(floor((f1 - mn1) / ((mx1 - mn1) / 12)) AS INT))) AS b1,
              least(11, greatest(0, CAST(floor((f2 - mn2) / ((mx2 - mn2) / 12)) AS INT))) AS b2,
              least(11, greatest(0, CAST(floor((f3 - mn3) / ((mx3 - mn3) / 12)) AS INT))) AS b3
            FROM src, mm),
      h1 AS (SELECT b1, count(*) AS n FROM b GROUP BY 1),
      h2 AS (SELECT b2, count(*) AS n FROM b GROUP BY 1),
      h3 AS (SELECT b3, count(*) AS n FROM b GROUP BY 1),
      p1 AS (SELECT b1, ln((SELECT max(n) FROM h1)) - ln(n) AS lp FROM h1),
      p2 AS (SELECT b2, ln((SELECT max(n) FROM h2)) - ln(n) AS lp FROM h2),
      p3 AS (SELECT b3, ln((SELECT max(n) FROM h3)) - ln(n) AS lp FROM h3)
      SELECT b.l_orderkey, b.l_linenumber,
             round(0.0 + p1.lp + p2.lp + p3.lp, 6) AS hbos
      FROM b JOIN p1 USING (b1) JOIN p2 USING (b2) JOIN p3 USING (b3)
    """)
def q_hbos(spark, sf_dir):
    """Histogram-based outlier score (features.hbos_fit/hbos_scores)
    over three lineitem measures: two fit aggregates (min/max +
    conditional bin counts, both one-row collects), then a pure-JVM
    literal-histogram scoring scan. Oracle recomputes the identical
    equal-width histograms in CTEs — same IEEE double arithmetic."""
    from hipipe_spark.operators.features import hbos_scores
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount")
    out = hbos_scores(li, ["l_quantity", "l_extendedprice", "l_discount"],
                      n_bins=12)
    return out.select("l_orderkey", "l_linenumber", "hbos")


@query(oracle=f"""
      SELECT o_orderkey, o_orderstatus FROM (
        SELECT o_orderkey, o_orderstatus,
               row_number() OVER (PARTITION BY o_orderstatus
                 ORDER BY {det_hash_i64_sql('o_orderkey', 11)}, o_orderkey) AS rk
        FROM orders) WHERE rk <= 50
    """)
def q_stratified_sample(spark, sf_dir):
    """Exact-count stratified sample: 50 orders per o_orderstatus chosen
    by deterministic hash rank — strata sample in parallel, one shuffle
    on the stratum key; every kept row reproduced by the oracle."""
    from hipipe_spark.operators.sampling import stratified_sample
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = stratified_sample(o, "o_orderstatus", "o_orderkey",
                            n_per_stratum=50, seed=11)
    return out.select("o_orderkey", "o_orderstatus")


@query(oracle=f"""
      SELECT doc_id, 0 AS source FROM documents
      WHERE doc_id % 2 = 0 AND {det_hash01_sql('doc_id', 11)} < 0.5
      UNION ALL
      SELECT doc_id, 1 AS source FROM documents
      WHERE doc_id % 2 = 1 AND {det_hash01_sql('doc_id', 12)} < 0.2
    """)
def q_mixture_sample(spark, sf_dir):
    """Weighted corpus mixture: two document sources independently
    Bernoulli-downsampled (0.5 / 0.2) by key-derived hash and unioned —
    shuffle-free, filters pushed to each scan, bit-reproducible."""
    from hipipe_spark.operators.sampling import weighted_mixture
    # plain read: sampling is a cheap filter — no need for the
    # expression-parallelism spread, keep the plan exchange-free
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    out = weighted_mixture([(a, 0.5), (b, 0.2)], key="doc_id", seed=11)
    return out.select("doc_id", "source")


@query(oracle=f"""
      SELECT event_id, user_id FROM events
      WHERE {det_hash01_sql('user_id', 4)} < 0.25
    """)
def q_bernoulli_sample(spark, sf_dir):
    """Key-level Bernoulli sample (all rows of a kept key survive —
    conversation-level sampling semantics): zero shuffle."""
    from hipipe_spark.operators.sampling import bernoulli_sample
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = bernoulli_sample(ev, "user_id", 0.25, seed=4)
    return out.select("event_id", "user_id")


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      c AS (SELECT conv_id, role, COUNT(*) AS c
            FROM t GROUP BY conv_id, role)
      SELECT conv_id,
             CAST(SUM(c) AS BIGINT) AS role_n,
             CAST(COUNT(*) AS INT) AS role_n_cats,
             round(ln(CAST(SUM(c) AS DOUBLE))
                   - SUM(c * ln(CAST(c AS DOUBLE))) / SUM(c), 6)
               AS role_entropy,
             CASE WHEN COUNT(*) > 1 THEN
               round((ln(CAST(SUM(c) AS DOUBLE))
                      - SUM(c * ln(CAST(c AS DOUBLE))) / SUM(c))
                     / ln(CAST(COUNT(*) AS DOUBLE)), 6)
             ELSE 0.0 END AS role_norm_entropy
      FROM c GROUP BY conv_id
    """)
def q_event_entropy(spark, sf_dir):
    """Per-conversation Shannon entropy of the role mix
    (features.py categorical_entropy) — a distribution feature a
    transcript curriculum filters on; two map-side-combinable aggs."""
    t = read_transcripts(spark, sf_dir)
    return categorical_entropy(t, key="conv_id", cat="role",
                               out_prefix="role")


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL})
      SELECT conv_id, turn_idx,
             round(epoch(lead(ts) OVER w) - epoch(ts), 6)
               AS label_next_gap,
             (lead(ts) OVER w) IS NULL AS label_is_last,
             ((lead(ts) OVER w) IS NULL
              OR epoch(lead(ts) OVER w) - epoch(ts) > 1800.0)
               AS label_session_end
      FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
    """)
def q_labels_next(spark, sf_dir):
    """Supervised-target generation (features.py make_labels):
    next-turn gap / end-of-session flags that DELIBERATELY read the
    future row — kept disjoint from featurize() output by the leakage
    suite. Oracle = LEAD window."""
    t = read_transcripts(spark, sf_dir)
    out = make_labels(t, key="conv_id", ts_col="ts",
                      order_cols=("turn_idx",), gap=1800.0)
    return out.select("conv_id", "turn_idx", "label_next_gap",
                      "label_is_last", "label_session_end")


@query(oracle="""
      WITH fit AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
      tot AS (SELECT COUNT(*) AS n FROM fit WHERE lang IS NOT NULL),
      f AS (SELECT lang, COUNT(*) AS cnt FROM fit
            WHERE lang IS NOT NULL GROUP BY lang),
      v AS (SELECT lang FROM fit WHERE lang IS NOT NULL
            GROUP BY lang HAVING COUNT(*) >= 50)
      SELECT d.doc_id, d.lang,
             round(COALESCE(CAST(f.cnt AS DOUBLE), 0.0) / tot.n, 6)
               AS lang_freq,
             CASE WHEN v.lang IS NOT NULL THEN d.lang
                  ELSE '__other__' END AS lang_c
      FROM documents d
      LEFT JOIN f USING (lang)
      LEFT JOIN v USING (lang)
      CROSS JOIN tot
    """)
def q_freq_encode(spark, sf_dir):
    """Categorical encoders (encoders.py fit_frequency_encoder /
    apply_frequency_encoder / collapse_rare): frequency-encode and
    rare-collapse the documents ``lang`` column with the vocabulary
    FITTED on the even-doc_id half only — the train/eval discipline the
    encoders exist for. Unseen/below-threshold categories encode 0.0 /
    ``__other__``."""
    from hipipe_spark.operators.encoders import (
        apply_frequency_encoder, collapse_rare, fit_frequency_encoder)
    docs = read_docs(spark, sf_dir)
    fit = docs.filter(F.col("doc_id") % 2 == 0)
    freqs = fit_frequency_encoder(fit, "lang")
    out = apply_frequency_encoder(docs, freqs, "lang")
    out = collapse_rare(out, "lang", min_count=50, fit_df=fit)
    return out.select(
        "doc_id", "lang",
        F.round("lang_freq", 6).alias("lang_freq"),
        "lang_c")


@query(oracle="""
      WITH fit AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
      f AS (SELECT lang, COUNT(*) AS cnt FROM fit
            WHERE lang IS NOT NULL GROUP BY lang HAVING COUNT(*) >= 50),
      v AS (SELECT lang,
                   CAST(row_number() OVER (ORDER BY cnt DESC, lang) - 1
                        AS INTEGER) AS pos
            FROM f),
      n AS (SELECT COUNT(*) AS dim FROM v)
      SELECT d.doc_id, d.lang,
             CAST(COALESCE(v.pos, -1) AS INTEGER) AS lang_idx,
             to_json(list_transform(range(0, n.dim),
               i -> CASE WHEN i = v.pos THEN 1 ELSE 0 END)) AS lang_vec
      FROM documents d LEFT JOIN v USING (lang) CROSS JOIN n
    """)
def q_onehot_encode(spark, sf_dir):
    """Fitted one-hot (encoders.py fit_onehot / apply_onehot): vocab
    positions by (count DESC, value ASC) from the even-doc_id fit half,
    broadcast-applied to all docs as sparse index + dense indicator
    vector. Unseen/rare/null -> -1 / all-zeros."""
    from hipipe_spark.operators.encoders import apply_onehot, fit_onehot
    docs = read_docs(spark, sf_dir)
    fit = docs.filter(F.col("doc_id") % 2 == 0)
    vocab = fit_onehot(fit, "lang", min_count=50)
    # to_json: raw array output columns break the driver canonicalizer
    # (functions/rounding.py); integer JSON renders identically.
    return apply_onehot(docs, vocab, "lang", dense=True).select(
        "doc_id", "lang", "lang_idx",
        F.to_json("lang_vec").alias("lang_vec"))


@query(oracle="""
      WITH s AS (SELECT CAST(length(text) AS DOUBLE) AS x,
                        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                 FROM documents),
      st AS (SELECT quantile_cont(x,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
             FROM s),
      b AS (SELECT CAST(len(list_filter(st.bs, e -> e <= x)) AS INTEGER)
              AS bin, y FROM s, st),
      p AS (SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos
            FROM b GROUP BY bin),
      tot AS (SELECT CAST(SUM(n_pos) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                AS ov FROM p)
      SELECT bin, n, n_pos,
             round(CAST(n_pos AS DOUBLE) / n, 6) AS rate,
             CASE WHEN ov > 0
                  THEN round((CAST(n_pos AS DOUBLE) / n) / ov, 6)
             END AS lift,
             CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
             round(CAST(SUM(n_pos) OVER w AS DOUBLE)
                   / CAST(SUM(n) OVER w AS DOUBLE), 6) AS cum_rate,
             CASE WHEN ov > 0
                  THEN round((CAST(SUM(n_pos) OVER w AS DOUBLE)
                              / CAST(SUM(n) OVER w AS DOUBLE)) / ov, 6)
             END AS cum_lift
      FROM p, tot
      WINDOW w AS (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
      ORDER BY bin DESC
    """)
def q_lift_report(spark, sf_dir):
    """Decile/lift table (features.py lift_table): document length as
    the score vs is-English as the label, 10 quantile bins, per-bin +
    top-down cumulative rates and lifts. Exact percentile edges here
    for the bit-stable oracle; percentile_approx is the 100-TB fit
    path."""
    from hipipe_spark.operators.features import lift_table
    t = read_docs(spark, sf_dir).select(
        F.length("text").cast("double").alias("text_len"),
        (F.col("lang") == "en").cast("int").alias("y"))
    return lift_table(t, "text_len", "y", n_bins=10, exact=True)


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      g AS (SELECT conv_id, epoch(ts) AS es,
                   epoch(ts) - lag(epoch(ts)) OVER
                     (PARTITION BY conv_id ORDER BY ts, turn_idx) AS gap
            FROM t)
      SELECT conv_id,
             CAST(COUNT(*) AS INTEGER) AS n_turns,
             round(MAX(es) - MIN(es), 6) AS duration_s,
             round(AVG(gap), 6) AS mean_gap,
             round(stddev_samp(gap), 6) AS std_gap,
             round(MAX(gap), 6) AS max_gap,
             CASE WHEN (AVG(gap) + stddev_samp(gap)) > 0
                  THEN round((stddev_samp(gap) - AVG(gap))
                             / (stddev_samp(gap) + AVG(gap)), 6)
             END AS burstiness
      FROM g GROUP BY conv_id
    """)
def q_conv_tempo(spark, sf_dir):
    """Per-conversation pacing features (features.py conv_tempo):
    turn count, span, inter-turn gap stats and burstiness. One
    conversation-bounded window sort + one map-side-combinable agg."""
    from hipipe_spark.operators.features import conv_tempo
    return conv_tempo(read_transcripts(spark, sf_dir))


_WOE_CTES = """
  fit AS (SELECT *, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents WHERE doc_id % 3 > 0),
  c AS (SELECT source, COUNT(*) AS n, SUM(y) AS pos
        FROM fit WHERE source IS NOT NULL GROUP BY source),
  t AS (SELECT CAST(SUM(pos) AS DOUBLE) AS pt,
               CAST(SUM(n - pos) AS DOUBLE) AS nt FROM c),
  w AS (SELECT source,
               CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
               (pos + 0.5) / (pt + 1.0) AS pp,
               (n - pos + 0.5) / (nt + 1.0) AS pn
        FROM c, t)
"""


@query(oracle=f"""
      WITH {_WOE_CTES}
      SELECT source, n AS source__n, pos AS source__pos,
             round(ln(pp / pn), 6) AS source__woe,
             round((pp - pn) * ln(pp / pn), 6) AS source__iv
      FROM w
    """)
def q_woe_iv(spark, sf_dir):
    """Weight-of-evidence fit table (encoders.py fit_woe): per-source
    class counts, smoothed WoE against the is-English label, and each
    category's information-value contribution. One agg + window totals
    on the dimension-sized category frame."""
    from hipipe_spark.operators.encoders import fit_woe
    # fit on doc_id % 3 > 0: the 2/3 "train" half. (% 2 would alias the
    # synthetic source column, which cycles with doc_id, to evens only.)
    fit = read_docs(spark, sf_dir).filter(F.col("doc_id") % 3 > 0).withColumn(
        "y", (F.col("lang") == "en").cast("int"))
    return fit_woe(fit, "source", "y")


@query(oracle=f"""
      WITH {_WOE_CTES}
      SELECT d.doc_id, d.source,
             COALESCE(round(ln(w.pp / w.pn), 6), 0.0) AS source_woe
      FROM documents d LEFT JOIN w USING (source)
    """)
def q_woe_encode(spark, sf_dir):
    """WoE apply (encoders.py apply_woe): broadcast the fitted
    per-source WoE onto every document; unseen/null encode 0.0 (the
    log-odds neutral point). The encoded frame never shuffles."""
    from hipipe_spark.operators.encoders import apply_woe, fit_woe
    docs = read_docs(spark, sf_dir)
    fit = docs.filter(F.col("doc_id") % 3 > 0).withColumn(
        "y", (F.col("lang") == "en").cast("int"))
    woe = fit_woe(fit, "source", "y")
    return apply_woe(docs, woe, "source").select(
        "doc_id", "source", "source_woe")


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      s AS (SELECT conv_id,
                   CASE WHEN epoch(ts) <
                          epoch(TIMESTAMP '2024-01-20 00:00:00') - 86400.0
                        THEN 'train'
                        WHEN epoch(ts) >=
                          epoch(TIMESTAMP '2024-01-20 00:00:00')
                        THEN 'test'
                        ELSE 'purged' END AS split
            FROM t)
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs
      FROM s GROUP BY split
    """)
def q_time_split(spark, sf_dir):
    """Purged temporal split audit (sampling.py time_split): train
    strictly before cutoff-embargo, test at/after cutoff, the 1-day
    boundary band purged — rows a lookback feature could leak across.
    Scan-local labeling; this query audits the volumes per split."""
    from hipipe_spark.operators.sampling import time_split
    t = read_transcripts(spark, sf_dir)
    s = time_split(t, "2024-01-20 00:00:00", embargo_s=86400.0)
    return (s.groupBy("split")
             .agg(F.count(F.lit(1)).alias("n_rows"),
                  F.countDistinct("conv_id").alias("n_convs")))


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      g AS (SELECT conv_id, turn_idx,
                   CAST(length(text) AS DOUBLE) AS text_len,
                   AVG(CAST(length(text) AS DOUBLE))
                     OVER (PARTITION BY conv_id) AS m,
                   stddev_samp(CAST(length(text) AS DOUBLE))
                     OVER (PARTITION BY conv_id) AS sd
            FROM t)
      SELECT conv_id, turn_idx, text_len,
             CASE WHEN sd > 0 THEN round((text_len - m) / sd, 6)
                  ELSE 0.0 END AS text_len_z
      FROM g
    """)
def q_group_znorm(spark, sf_dir):
    """Within-group z-normalization (encoders.py group_znorm): each
    turn's text length scaled by ITS conversation's mean/stddev — the
    leakage-safe local normalization (moments never cross groups, so
    train/test splits can't leak). One conversation-bounded unbounded
    window; degenerate groups emit 0.0."""
    from hipipe_spark.operators.encoders import group_znorm
    t = read_transcripts(spark, sf_dir).withColumn(
        "text_len", F.length("text").cast("double"))
    return group_znorm(t, "text_len", by="conv_id").select(
        "conv_id", "turn_idx", "text_len", "text_len_z")


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      c AS (SELECT conv_id, turn_idx, role, ts,
                   substr(text, 1, 64) AS tx
            FROM t),
      p AS (SELECT conv_id, turn_idx, tx,
                   lag(tx) OVER (PARTITION BY conv_id
                                 ORDER BY ts, turn_idx) AS pv,
                   lag(tx) OVER (PARTITION BY conv_id, role
                                 ORDER BY ts, turn_idx) AS pvr
            FROM c)
      SELECT conv_id, turn_idx,
             CAST(levenshtein(tx, pv) AS INTEGER) AS lev_prev,
             round(1.0 - levenshtein(tx, pv)
                   / greatest(length(tx), length(pv), 1), 6) AS sim_prev,
             CAST(levenshtein(tx, pvr) AS INTEGER) AS lev_prev_role,
             round(1.0 - levenshtein(tx, pvr)
                   / greatest(length(tx), length(pvr), 1), 6)
               AS sim_prev_role
      FROM p
    """)
def q_turn_similarity(spark, sf_dir):
    """Consecutive-turn edit-distance features (features.py
    turn_similarity): Levenshtein + normalized similarity vs the
    previous turn and the previous SAME-ROLE turn — the assistant-loop
    / tool-echo detector. Texts capped at 64 chars before the O(len²)
    distance; both windows conversation-bounded."""
    from hipipe_spark.operators.features import turn_similarity
    t = read_transcripts(spark, sf_dir)
    return turn_similarity(t, cap=64).select(
        "conv_id", "turn_idx", "lev_prev", "sim_prev",
        "lev_prev_role", "sim_prev_role")


@query(oracle="""
      WITH f AS (SELECT CAST(length(text) AS DOUBLE) AS a,
                        CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                             AS DOUBLE) AS b,
                        CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                             AS DOUBLE) AS c
                 FROM documents)
      SELECT 'len_chars' AS col_a, 'n_upper' AS col_b,
             CAST(count(*) AS BIGINT) AS n_pairs,
             round(corr(a, b), 6) AS corr FROM f
      UNION ALL
      SELECT 'len_chars', 'n_digits', CAST(count(*) AS BIGINT),
             round(corr(a, c), 6) FROM f
      UNION ALL
      SELECT 'n_upper', 'n_digits', CAST(count(*) AS BIGINT),
             round(corr(b, c), 6) FROM f
    """)
def q_feature_corr(spark, sf_dir):
    """Pairwise Pearson feature correlation (features.py feature_corr):
    all d·(d−1)/2 F.corr aggregates in ONE map-side-combinable scan,
    melted to one row per pair on the single-row aggregate — the
    pre-training feature-QA pass that finds near-duplicate columns."""
    from hipipe_spark.operators.features import feature_corr
    d = read_docs(spark, sf_dir).select(
        F.length("text").cast("double").alias("len_chars"),
        F.length(F.regexp_replace("text", "[^A-Z]", ""))
         .cast("double").alias("n_upper"),
        F.length(F.regexp_replace("text", "[^0-9]", ""))
         .cast("double").alias("n_digits"))
    return feature_corr(d, ["len_chars", "n_upper", "n_digits"])


@query(oracle="""
      WITH d AS (SELECT doc_id,
                        CASE WHEN doc_id % 7 <> 0
                             THEN CAST(n_chars AS DOUBLE) END AS x
                 FROM documents),
      f AS (SELECT quantile_cont(x, 0.5) AS fill
            FROM d WHERE doc_id % 3 > 0)
      SELECT doc_id, x,
             CASE WHEN x IS NULL THEN 1 ELSE 0 END AS x__was_null,
             round(COALESCE(x, fill), 6) AS x_f
      FROM d, f
    """)
def q_impute(spark, sf_dir):
    """Missing-value imputation (encoders.py fit_impute/apply_impute):
    median fill FITTED on the doc_id%3>0 train split, broadcast-applied
    with a missingness indicator. Exact percentile for the oracle;
    percentile_approx is the 100-TB fit path."""
    from hipipe_spark.operators.encoders import apply_impute, fit_impute
    d = read_docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 != 0,
               F.col("n_chars").cast("double")).alias("x"))
    fit = d.filter(F.col("doc_id") % 3 > 0)
    fills = fit_impute(fit, ["x"], strategy="median", exact=True)
    return apply_impute(d, fills, ["x"]).select(
        "doc_id", "x", "x__was_null", F.round("x_f", 6).alias("x_f"))


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      span AS (SELECT CAST(floor(min(epoch(ts))) AS BIGINT) AS t0,
                      CAST(ceil(max(epoch(ts))) AS BIGINT) AS t1 FROM t),
      d AS (SELECT epoch(ts) AS es FROM t),
      c AS (SELECT CASE WHEN t1 > t0
                        THEN least(4, ((CAST(floor(es) AS BIGINT) - t0 + 1) * 5
                                       - 1) // (t1 - t0))
                        ELSE 0 END AS s,
                   es FROM d, span),
      e AS (SELECT s,
                   CASE WHEN es >= CAST(t0 + (s + 1) * (t1 - t0) // 5 AS DOUBLE)
                                   - 86400.0
                        THEN 1 ELSE 0 END AS emb
            FROM c, span),
      h AS (SELECT s, emb, count(*) AS n FROM e GROUP BY s, emb),
      folds AS (SELECT CAST(range AS INTEGER) AS fold FROM range(1, 5)),
      agg AS (SELECT fold,
                     CAST(sum(CASE WHEN s < fold - 1
                                     OR (s = fold - 1 AND emb = 0)
                                   THEN n ELSE 0 END) AS BIGINT) AS n_train,
                     CAST(sum(CASE WHEN s = fold - 1 AND emb = 1
                                   THEN n ELSE 0 END) AS BIGINT) AS n_purged,
                     CAST(sum(CASE WHEN s = fold THEN n ELSE 0 END)
                          AS BIGINT) AS n_test
              FROM folds CROSS JOIN h GROUP BY fold)
      SELECT fold,
             CAST(t0 + fold * (t1 - t0) // 5 AS DOUBLE) - 86400.0 AS train_end_s,
             CAST(t0 + fold * (t1 - t0) // 5 AS DOUBLE) AS test_start_s,
             CAST(t0 + (fold + 1) * (t1 - t0) // 5 AS DOUBLE) AS test_end_s,
             n_train, n_purged, n_test
      FROM agg CROSS JOIN span
    """)
def q_walk_forward(spark, sf_dir):
    """Walk-forward CV audit (sampling.py walk_forward_splits): 4
    expanding-window folds over the transcript time span with a 1-day
    embargo — per-fold train/purged/test volumes plus boundary epochs.
    Two corpus scans (span + slice histogram); fold math runs on the
    10-row histogram."""
    from hipipe_spark.operators.sampling import walk_forward_splits
    t = read_transcripts(spark, sf_dir)
    return walk_forward_splits(t, n_folds=4, embargo_s=86400.0)


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      g AS (SELECT conv_id, turn_idx, epoch(ts) AS es,
                   CAST(length(text) AS DOUBLE) AS v
            FROM t),
      w AS (SELECT conv_id, turn_idx,
                   (count(*) OVER wh - count(*) OVER w0) AS fc,
                   (COALESCE(sum(v) OVER wh, 0)
                    - COALESCE(sum(v) OVER w0, 0)) AS fs
            FROM g
            WINDOW wh AS (PARTITION BY conv_id ORDER BY es
                          RANGE BETWEEN CURRENT ROW AND 600 FOLLOWING),
                   w0 AS (PARTITION BY conv_id ORDER BY es
                          RANGE BETWEEN CURRENT ROW AND CURRENT ROW))
      SELECT conv_id, turn_idx,
             CAST(fc AS BIGINT) AS label_future_count,
             CASE WHEN fc > 0 THEN round(fs, 6) ELSE 0.0 END
               AS label_future_sum
      FROM w
    """)
def q_future_label(spark, sf_dir):
    """Horizon labels (features.py future_window_label): count and
    text-length sum of STRICTLY-later same-conversation turns within
    10 minutes — range-frame [0,h] minus the [0,0] tie group, one
    shared conversation window, no self-join."""
    from hipipe_spark.operators.features import future_window_label
    t = read_transcripts(spark, sf_dir).withColumn(
        "text_len", F.length("text").cast("double"))
    out = future_window_label(t, horizon_s=600.0, value="text_len")
    return out.select("conv_id", "turn_idx",
                      "label_future_count", "label_future_sum")


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      m AS (SELECT conv_id, turn_idx, role, ts,
                   row_number() OVER
                     (PARTITION BY conv_id ORDER BY ts, turn_idx)
                 - row_number() OVER
                     (PARTITION BY conv_id, role ORDER BY ts, turn_idx)
                   AS mk
            FROM t),
      s AS (SELECT conv_id, turn_idx, role, ts,
                   CAST(row_number() OVER
                     (PARTITION BY conv_id, role, mk
                      ORDER BY ts, turn_idx) AS INTEGER) AS role_streak
            FROM m)
      SELECT conv_id, turn_idx, role, role_streak,
             CAST(sum(CASE WHEN role_streak = 1 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                        ROWS UNBOUNDED PRECEDING) - 1 AS INTEGER)
               AS role_island
      FROM s
    """)
def q_role_streak(spark, sf_dir):
    """Run-length features (features.py role_streak): consecutive
    same-role streak position + 0-based island index per conversation
    — the gaps-and-islands double-row_number identity, three windows
    sharing one conversation exchange."""
    from hipipe_spark.operators.features import role_streak
    t = read_transcripts(spark, sf_dir)
    return role_streak(t).select(
        "conv_id", "turn_idx", "role", "role_streak", "role_island")


@query(oracle=f"""
      WITH b AS (SELECT doc_id, source,
                        CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END
                             AS DOUBLE) AS y,
                        CAST(({det_hash_i64_sql('doc_id', 3)}) % 4
                             AS INTEGER) AS fold
                 FROM documents),
      cell AS (SELECT source, fold, sum(y) AS s,
                      CAST(count(y) AS BIGINT) AS n
               FROM b GROUP BY source, fold),
      cw AS (SELECT *, sum(s) OVER (PARTITION BY source) AS cs,
                    sum(n) OVER (PARTITION BY source) AS cn
             FROM cell),
      ft AS (SELECT fold, sum(s) AS fs, sum(n) AS fn
             FROM cell GROUP BY fold),
      tot AS (SELECT sum(s) AS ts_, sum(n) AS tn FROM cell),
      enc AS (SELECT cw.source, cw.fold,
                     round((cw.cs - cw.s
                            + 20.0 * ((tot.ts_ - ft.fs)
                                      / (tot.tn - ft.fn)))
                           / (cw.cn - cw.n + 20.0), 6) AS te
              FROM cw JOIN ft USING (fold) CROSS JOIN tot)
      SELECT b.doc_id, b.source, b.fold AS source__fold,
             enc.te AS source__te
      FROM b LEFT JOIN enc
        ON b.source IS NOT DISTINCT FROM enc.source
       AND b.fold = enc.fold
    """)
def q_target_encode(spark, sf_dir):
    """Out-of-fold target encoding (encoders.py target_encode_oof):
    source -> P(lang='en') with leave-one-fold-out statistics — 4
    det-hash folds keyed on doc_id, smoothing m=20 toward the
    fold-excluded prior. A row's own label never reaches its own
    feature; one corpus hash agg, all OOF math on the (category x
    fold) cell frame."""
    from hipipe_spark.operators.encoders import target_encode_oof
    d = read_docs(spark, sf_dir).select(
        "doc_id", "source",
        (F.col("lang") == "en").cast("int").alias("y"))
    out = target_encode_oof(d, "source", "y", key="doc_id",
                            n_folds=4, smoothing=20.0, seed=3,
                            round_to=6)
    return out.select("doc_id", "source", "source__fold", "source__te")


def _feature_hash_oracle() -> str:
    _fh = {}
    for name, val in [
        ("lang", "COALESCE(CAST(lang AS VARCHAR), '<NULL>')"),
        ("source", "COALESCE(CAST(source AS VARCHAR), '<NULL>')"),
        ("langxsource", "COALESCE(CAST(lang AS VARCHAR), '<NULL>') || chr(31)"
                        " || COALESCE(CAST(source AS VARCHAR), '<NULL>')"),
    ]:
        _fh[name] = det_hash_str_i64_sql(f"'{name}=' || ({val})", 7)
    return f"""
      WITH h AS (SELECT doc_id,
                        CAST(({_fh['lang']}) AS BIGINT) AS h1,
                        CAST(({_fh['source']}) AS BIGINT) AS h2,
                        CAST(({_fh['langxsource']}) AS BIGINT) AS h3
                 FROM documents),
      e AS (SELECT doc_id,
                   [struct_pack(b := CAST(h1 % 64 AS INTEGER),
                                s := 1.0 - 2.0 * CAST((h1 // 64) % 2
                                                      AS DOUBLE)),
                    struct_pack(b := CAST(h2 % 64 AS INTEGER),
                                s := 1.0 - 2.0 * CAST((h2 // 64) % 2
                                                      AS DOUBLE)),
                    struct_pack(b := CAST(h3 % 64 AS INTEGER),
                                s := 1.0 - 2.0 * CAST((h3 // 64) % 2
                                                      AS DOUBLE))] AS es
            FROM h),
      i AS (SELECT doc_id, es,
                   list_sort(list_distinct(
                     list_transform(es, x -> x.b))) AS fh_idx
            FROM e)
      SELECT doc_id, to_json(fh_idx) AS fh_idx,
             to_json(list_transform(fh_idx,
               bb -> CAST(list_sum(list_transform(es,
                 x -> CASE WHEN x.b = bb THEN x.s ELSE 0.0 END))
                 AS BIGINT))) AS fh_val
      FROM i
    """


@query(oracle=_feature_hash_oracle())
def q_feature_hash(spark, sf_dir):
    """Hashing-trick encoder (encoders.py hash_features): lang, source
    and the lang x source cross into a 64-bucket signed sparse vector
    — det-hash buckets/signs, bit-reproducible by the oracle; pure
    narrow map, no fit pass, no vocab."""
    from hipipe_spark.operators.encoders import hash_features
    d = read_docs(spark, sf_dir)
    # to_json: raw array output columns break the driver canonicalizer
    # (functions/rounding.py). fh_val is integral by construction (sums
    # of +-1.0 signs) -> BIGINT elements render identically in both
    # engines' JSON where raw doubles would not.
    return hash_features(
        d, ["lang", "source", ("lang", "source")],
        n_buckets=64, seed=7).select(
        "doc_id", F.to_json("fh_idx").alias("fh_idx"),
        F.to_json(F.transform("fh_val", lambda x: x.cast("bigint")))
        .alias("fh_val"))


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL}),
      c AS (SELECT conv_id, tool, CAST(count(*) AS BIGINT) AS cc
            FROM t GROUP BY conv_id, tool),
      ent AS (SELECT conv_id,
                     CAST(sum(cc) AS BIGINT) AS tool_n,
                     CAST(count(*) AS INTEGER) AS tool_n_cats,
                     round(ln(sum(cc)) - sum(cc * ln(cc)) / sum(cc), 6)
                       AS tool_entropy,
                     CASE WHEN count(*) > 1
                          THEN round((ln(sum(cc))
                                      - sum(cc * ln(cc)) / sum(cc))
                                     / ln(CAST(count(*) AS DOUBLE)), 6)
                          ELSE 0.0 END AS tool_norm_entropy
              FROM c GROUP BY conv_id),
      top AS (SELECT conv_id, tool AS top_tool FROM
                (SELECT conv_id, tool, row_number() OVER
                   (PARTITION BY conv_id ORDER BY cc DESC, tool) AS rn
                 FROM c) WHERE rn = 1)
      SELECT ent.conv_id, tool_n, tool_n_cats, tool_entropy,
             tool_norm_entropy, top_tool
      FROM ent JOIN top USING (conv_id)
    """)
def q_tool_profile(spark, sf_dir):
    """Per-conversation tool-usage profile: turn count, distinct
    tools, Shannon entropy of the tool mix (features.py
    categorical_entropy — two hash aggs, no window over the corpus),
    plus the dominant tool (count desc, name asc). The
    conversation-level fingerprint an agent-behavior dashboard reads."""
    from hipipe_spark.operators.features import categorical_entropy
    t = read_transcripts(spark, sf_dir)
    ent = categorical_entropy(t, "conv_id", "tool", out_prefix="tool")
    counts = t.groupBy("conv_id", "tool").agg(
        F.count(F.lit(1)).alias("__c"))
    w = Window.partitionBy("conv_id").orderBy(
        F.col("__c").desc(), F.col("tool"))
    top = (counts.withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") == 1)
           .select("conv_id", F.col("tool").alias("top_tool")))
    return ent.join(top, "conv_id").select(
        "conv_id", "tool_n", "tool_n_cats", "tool_entropy",
        "tool_norm_entropy", "top_tool")


@query(oracle=f"""
      SELECT event_id, event_type, user_id FROM (
        SELECT event_id, event_type, user_id,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY {det_hash_i64_sql('event_id', 5)}, event_id) AS rk
        FROM events) WHERE rk <= 20
    """)
def q_sample_per_key(spark, sf_dir):
    """Deterministic per-group fixed-size sample (sampling.py
    sample_per_key): 20 events per event_type ranked by key-derived
    hash — rerun/cluster-size/input-order stable, unlike a streaming
    reservoir."""
    from hipipe_spark.operators.sampling import sample_per_key
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sample_per_key(ev, "event_type", "event_id", 20, seed=5)
    return out.select("event_id", "event_type", "user_id")


def _spearman_oracle() -> str:
    _sp_rank = ("rank() OVER (ORDER BY {c}) "
                "+ (count(*) OVER (PARTITION BY {c}) - 1) / 2.0")
    _sp_pairs = [("qty", "price"), ("qty", "disc"), ("price", "disc")]
    return """
    WITH b AS (
      SELECT CAST(l_quantity AS DOUBLE) AS qty,
             CAST(l_extendedprice AS DOUBLE) AS price,
             CAST(l_discount AS DOUBLE) AS disc
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL),
    r AS (SELECT """ + ", ".join(
      _sp_rank.format(c=c) + f" AS r_{c}"
      for c in ("qty", "price", "disc")) + """ FROM b)
    """ + " UNION ALL ".join(f"""
    SELECT '{a}' AS col_a, '{b}' AS col_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(r_{a}, r_{b}), 6) AS rho FROM r"""
                             for a, b in _sp_pairs)


@query(oracle=_spearman_oracle())
def q_spearman(spark, sf_dir):
    """Pairwise Spearman rank correlation (features.py spearman_corr)
    over lineitem qty/price/discount — per column the two-phase
    range-partitioned average rank (no single-task sort) + one
    value-join; all three pairs fold in feature_corr's single
    map-side-combinable scan."""
    from hipipe_spark.operators.features import spearman_corr
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_quantity").cast("double").alias("qty"),
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_discount").cast("double").alias("disc"))
    return spearman_corr(li, ["qty", "price", "disc"])


@query(oracle="""
      WITH b AS (SELECT l_orderkey, l_linenumber, l_returnflag,
                        CAST(l_extendedprice AS DOUBLE) AS v
                 FROM lineitem),
      med AS (SELECT l_returnflag, quantile_cont(v, 0.5) AS med
              FROM b GROUP BY l_returnflag),
      mad AS (SELECT b.l_returnflag, quantile_cont(abs(v - med), 0.5) AS mad
              FROM b JOIN med USING (l_returnflag) GROUP BY b.l_returnflag),
      z AS (SELECT l_orderkey, l_linenumber, b.l_returnflag,
                   v AS l_extendedprice,
                   round(CASE WHEN mad > 0
                              THEN 0.6745 * (v - med) / mad END, 6) AS rz
            FROM b JOIN med USING (l_returnflag)
                   JOIN mad USING (l_returnflag))
      SELECT *, COALESCE(abs(rz) > 3.5, FALSE) AS is_outlier FROM z
    """)
def q_mad_outliers(spark, sf_dir):
    """Per-group robust outlier flags (features.py mad_outliers):
    modified z-score vs the l_returnflag group median/MAD, exact
    percentiles for the oracle; the row side never shuffles — two
    group-dimension stat joins broadcast by AQE."""
    from hipipe_spark.operators.features import mad_outliers
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"))
    return mad_outliers(li, "l_returnflag", "l_extendedprice",
                        exact=True)


@query(oracle="""
      WITH cap AS (SELECT LEAST(1500, MIN(cnt)) AS cap
                   FROM (SELECT count(*) AS cnt FROM events
                         GROUP BY event_type)),
      capped AS (SELECT event_id, event_type,
                        CAST(value AS DOUBLE) AS value
                 FROM (SELECT event_id, event_type, value,
                              row_number() OVER (
                                PARTITION BY event_type
                                ORDER BY event_id) AS rn
                       FROM events)
                 WHERE rn <= (SELECT cap FROM cap)),
      r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                         ORDER BY value, event_id)
                        AS rk
            FROM capped),
      ref AS (SELECT rk, avg(value) AS refv FROM r GROUP BY rk)
      SELECT event_id, event_type, round(value, 6) AS value,
             round(refv, 6) AS qn_value
      FROM r JOIN ref USING (rk)
    """)
def q_qnorm(spark, sf_dir):
    """Quantile normalization across event_type groups (encoders.py
    quantile_normalize): every group forced onto the averaged order-
    statistic reference — the batch-effect correction that makes
    per-source score distributions comparable before mixing. Input
    capped to exactly least(1500, smallest group) rows per type (the
    classical equal-size contract, SF-adaptive so the query is valid at
    any scale factor), event_id as the deterministic tiebreak. The cap
    rides a broadcast one-row frame — no driver round trip."""
    from hipipe_spark.operators.encoders import quantile_normalize
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    cap = (e.groupBy("event_type").count()
           .agg(F.least(F.lit(1500), F.min("count")).alias("__cap")))
    w = Window.partitionBy("event_type").orderBy("event_id")
    capped = (e.select("event_id", "event_type", "value")
              .withColumn("__rn", F.row_number().over(w))
              .crossJoin(F.broadcast(cap))
              .where(F.col("__rn") <= F.col("__cap"))
              .drop("__rn", "__cap"))
    out = quantile_normalize(capped, "event_type", "value", "event_id")
    return out.select("event_id", "event_type",
                      F.round(F.col("value"), 6).alias("value"),
                      "qn_value").orderBy("event_id")


@query(oracle="""
      WITH e AS (SELECT event_id,
                        CAST(hour(ts) AS DOUBLE) AS h,
                        CAST(dayofweek(ts) AS DOUBLE) AS dw,
                        CAST(month(ts) - 1 AS DOUBLE) AS mo,
                        CAST(hour(ts)*60 + minute(ts) AS DOUBLE) AS md
                 FROM events)
      SELECT event_id,
             round(sin(h/24.0*2.0*pi()), 6) + 0.0 AS hour_sin,
             round(cos(h/24.0*2.0*pi()), 6) + 0.0 AS hour_cos,
             round(sin(dw/7.0*2.0*pi()), 6) + 0.0 AS dow_sin,
             round(cos(dw/7.0*2.0*pi()), 6) + 0.0 AS dow_cos,
             round(sin(mo/12.0*2.0*pi()), 6) + 0.0 AS month_sin,
             round(cos(mo/12.0*2.0*pi()), 6) + 0.0 AS month_cos,
             round(sin(md/1440.0*2.0*pi()), 6) + 0.0 AS mod_sin,
             round(cos(md/1440.0*2.0*pi()), 6) + 0.0 AS mod_cos,
             dw = 0.0 OR dw = 6.0 AS is_weekend
      FROM e
    """)
def q_calendar(spark, sf_dir):
    """Cyclical calendar encodings (features.calendar_features):
    hour/dow/month/minute-of-day sin-cos pairs + weekend flag as pure
    JVM expressions — no shuffle, no UDF; the oracle recomputes the
    same unit-circle arithmetic with pi()."""
    from hipipe_spark.operators.features import calendar_features
    e = spark.read.parquet(f"{sf_dir}/events.parquet") \
             .select("event_id", "ts")
    return calendar_features(e, "ts").drop("ts")


@query(oracle="""
      WITH li AS (SELECT l_returnflag AS g,
                         CAST(l_quantity AS DOUBLE) AS x,
                         CAST(l_extendedprice AS DOUBLE)
                           * (1.0 - CAST(l_discount AS DOUBLE)) AS y,
                         CAST(l_discount AS DOUBLE) AS z
                  FROM lineitem),
      mu AS (SELECT g, round(avg(x), 6) AS mx, round(avg(y), 6) AS my,
                    round(avg(z), 6) AS mz
             FROM li GROUP BY g),
      c AS (SELECT li.g, x - mx AS dx, y - my AS dy, z - mz AS dz
            FROM li JOIN mu ON li.g = mu.g),
      a AS (SELECT g, CAST(count(*) AS DOUBLE) AS n,
                   sum(dx) AS ux, sum(dy) AS uy, sum(dz) AS uz,
                   sum(dx*dx) AS pxx, sum(dy*dy) AS pyy,
                   sum(dz*dz) AS pzz,
                   sum(dx*dy) AS pxy, sum(dx*dz) AS pxz,
                   sum(dy*dz) AS pyz
            FROM c GROUP BY g),
      s AS (SELECT g, n,
                   pxx - ux*ux/n AS sxx, pyy - uy*uy/n AS syy,
                   pzz - uz*uz/n AS szz,
                   pxy - ux*uy/n AS sxy, pxz - ux*uz/n AS sxz,
                   pyz - uy*uz/n AS syz
            FROM a),
      r AS (SELECT g, n,
                   round(CASE WHEN n >= 3 AND sxx > 0 AND syy > 0
                         AND szz > 0 THEN sxy/sqrt(sxx*syy) END, 9)
                     AS rxy,
                   round(CASE WHEN n >= 3 AND sxx > 0 AND syy > 0
                         AND szz > 0 THEN sxz/sqrt(sxx*szz) END, 9)
                     AS rxz,
                   round(CASE WHEN n >= 3 AND sxx > 0 AND syy > 0
                         AND szz > 0 THEN syz/sqrt(syy*szz) END, 9)
                     AS ryz
            FROM s)
      SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
             round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
             round(ryz, 6) AS r_yz,
             round(CASE WHEN (1.0 - rxz*rxz)*(1.0 - ryz*ryz) > 0
                   THEN (rxy - rxz*ryz)
                        / sqrt((1.0 - rxz*rxz)*(1.0 - ryz*ryz)) END, 6)
               AS r_xy_z
      FROM r
    """)
def q_partial_corr(spark, sf_dir):
    """First-order partial correlation per return flag
    (features.partial_corr): quantity vs revenue CONTROLLING for
    discount — the confounder screen feature_corr cannot answer;
    one centered aggregate of six pairwise moments."""
    from hipipe_spark.operators.features import partial_corr
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag",
        F.col("l_quantity").alias("x"),
        (F.col("l_extendedprice") * (1.0 - F.col("l_discount")))
         .alias("y"),
        F.col("l_discount").alias("z"))
    return partial_corr(li, "l_returnflag", "x", "y", "z")
