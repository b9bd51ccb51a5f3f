"""Core operators, relational primitives, validation, JSON / CSV sources
and layout (operators/core.py, validate.py, layout.py, sources/,
functions/)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from driver_queries import query
from driver_queries.testdata import (
    TRANSCRIPTS_SQL, det_tokens_sql, fill_list_sql, read_docs, read_embs,
    read_transcripts,
)
from hipipe_spark.functions.casts import string_to_bool
from hipipe_spark.functions.hashing import (
    det_hash01, det_hash01_sql, det_hash_str_i64_sql,
)
from hipipe_spark.functions.text import tokens
from hipipe_spark.operators.core import Filter, Pad, Transform
from hipipe_spark.operators.layout import zorder_oracle_sql
from hipipe_spark.operators.validate import BENFORD_P
from hipipe_spark.sources.multimodal import extract_features, gen_fake_media


@query(oracle="""
      SELECT l_orderkey, l_linenumber, l_quantity, l_discount
      FROM lineitem WHERE l_quantity > 30 AND l_discount < 0.05
    """)
def q_filter_dim1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = Filter(["l_quantity", "l_discount"],
                 lambda q, d: (q > 30) & (d < 0.05))(li)
    return out.select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@query(oracle="""
      SELECT vec_id,
             CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos
      FROM embeddings
    """)
def q_filter_dim2(spark, sf_dir):
    em = read_embs(spark, sf_dir)
    out = Filter("embedding", lambda x: x > 0, dim=2)(em)
    return out.select("vec_id", F.size("embedding").alias("n_pos"))


@query(oracle="""
      SELECT l_orderkey, l_linenumber,
             CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
             CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(18,2))) *
                  (1 + CAST(l_tax AS DECIMAL(18,2))), 4) AS DOUBLE) AS charged
      FROM lineitem
    """)
def q_transform_map(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # decimal math: inputs have ≤2 decimals; decimal arithmetic is exact
    # in both engines, so results are bit-identical (doubles are not).
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    out = Transform(
        ["l_extendedprice", "l_discount", "l_tax"],
        ["revenue", "charged"],
        lambda p, d, t: (
            (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))).cast("decimal(18,4)").cast("double"),
            F.round(dec("l_extendedprice") * (1 - dec("l_discount")) * (1 + dec("l_tax")), 4).cast("double"),
        ),
    )(li)
    return out.select("l_orderkey", "l_linenumber", "revenue", "charged")


@query(oracle="""
      SELECT vec_id,
             round(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> x * x)), 6) AS sq_norm
      FROM embeddings
    """)
def q_transform_dim2(spark, sf_dir):
    em = read_embs(spark, sf_dir)
    em = em.withColumn("embedding", F.col("embedding").cast("array<double>"))
    out = Transform("embedding", "embedding", lambda x: x * x, dim=2)(em)
    return out.select(
        "vec_id",
        F.round(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x), 6).alias("sq_norm"),
    )


@query(oracle=r"""
      SELECT doc_id,
             array_to_string(
               flatten(list_transform(string_split_regex(text, '\. '),
                       s -> list_transform(string_split(s, ' '),
                            w -> upper(w)))), ' ') AS upper_text
      FROM documents
    """)
def q_transform_dim3(spark, sf_dir):
    """dim-3 transform: sentences -> words (array<array<string>>),
    upper-case each word 2 levels deep, re-flatten for comparison."""
    d = read_docs(spark, sf_dir)
    d = d.withColumn(
        "sent_words",
        F.transform(F.split(F.col("text"), r"\. "),
                    lambda s: F.split(s, " ")))
    out = Transform("sent_words", "sent_words",
                    lambda w: F.upper(w), dim=3)(d)
    return out.select(
        "doc_id",
        F.array_join(F.flatten("sent_words"), " ").alias("upper_text"),
    )


@query(oracle="""
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'F' THEN upper(reverse(o_orderpriority))
                  ELSE o_orderpriority END AS prio_u
      FROM orders
    """)
def q_transform_cond(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o = o.withColumn("prio_u", F.col("o_orderpriority"))
    out = Transform(
        "o_orderpriority", "prio_u", lambda p: F.upper(F.reverse(p)),
        cond=(F.col("o_orderstatus") == "F"),
    )(o)
    return out.select("o_orderkey", "prio_u")


@query(oracle=f"""
      SELECT o_orderkey,
             CASE WHEN {det_hash01_sql('o_orderkey', 11)} < 0.3
                  THEN lower(o_orderstatus) ELSE o_orderstatus END AS status2
      FROM orders
    """)
def q_transform_prob(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o = o.withColumn("status2", F.col("o_orderstatus"))
    out = Transform(
        "o_orderstatus", "status2", lambda s: F.lower(s),
        prob=0.3, key="o_orderkey", seed=11,
    )(o)
    return out.select("o_orderkey", "status2")


@query(oracle=f"""
      SELECT o_orderkey, round({det_hash01_sql('o_orderkey', 5)}, 9) AS u
      FROM orders
    """)
def q_random_fill(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.select(
        "o_orderkey",
        F.round(det_hash01(F.col("o_orderkey"), 5), 9).alias("u"),
    )


@query(oracle="""
      SELECT CASE WHEN lower(l_returnflag) IN ('true','1','y','yes','on') THEN 'true'
                  WHEN lower(l_returnflag) IN ('false','0','n','no','off') THEN 'false'
                  ELSE 'unparsed' END AS flag,
             count(*) AS n
      FROM lineitem GROUP BY 1
    """)
def q_string_to_bool(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    parsed = string_to_bool(F.lower(F.col("l_returnflag")))
    return (
        li.select(
            F.coalesce(parsed.cast("string"), F.lit("unparsed")).alias("flag")
        )
        .groupBy("flag").agg(F.count("*").alias("n"))
    )


@query(oracle="""
      SELECT doc_id,
             CAST(length(base64(CAST(text AS BLOB))) AS INTEGER) AS b64_len,
             substring(base64(CAST(text AS BLOB)), 1, 16) AS b64_prefix
      FROM documents
    """)
def q_base64(spark, sf_dir):
    d = read_docs(spark, sf_dir)
    # Spark's base64 is MIME-chunked (76-char lines); strip the newlines
    # to get canonical RFC 4648 output comparable with DuckDB's.
    enc = F.regexp_replace(F.base64(F.col("text").cast("binary")), "[\r\n]", "")
    return d.select(
        "doc_id",
        F.length(enc).cast("int").alias("b64_len"),
        F.substring(enc, 1, 16).alias("b64_prefix"),
    )


@query(oracle=r"""
      WITH d AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
        FROM documents),
      m AS (SELECT max(n_tok) AS mx FROM d)
      SELECT doc_id, CAST(mx AS INTEGER) AS padded_len,
             CAST(n_tok AS INTEGER) AS n_real
      FROM d, m
    """)
def q_pad_mask(spark, sf_dir):
    d = read_docs(spark, sf_dir)
    d = d.withColumn("toks", tokens(F.col("text")))
    out = Pad("toks", value="<pad>")(d)
    return out.select(
        "doc_id",
        F.size("toks").alias("padded_len"),
        F.size(F.filter("toks_mask", lambda m: m)).alias("n_real"),
    )


@query(oracle=f"""
      WITH d AS (SELECT doc_id, {det_tokens_sql('text')} AS toks
                 FROM documents WHERE doc_id % 10 = 0),
      c AS (SELECT doc_id,
                   list_transform(range(0, CAST(ceil(len(toks) / 7.0) AS INT)),
                                  i -> toks[i*7+1 : i*7+7]) AS chunks
            FROM d),
      mx AS (SELECT max(len(chunks)) AS l1,
                    max(coalesce(list_max(list_transform(chunks, s -> len(s))), 0)) AS l2
             FROM c)
      SELECT doc_id,
             CAST(to_json(list_transform(
               list_concat(chunks, {fill_list_sql('l1 - len(chunks)', 'CAST([] AS VARCHAR[])')}),
               s -> list_concat(s, {fill_list_sql('l2 - len(s)', "'<pad>'")}))) AS VARCHAR) AS chunks,
             CAST(to_json(list_transform(
               list_concat(list_transform(chunks, s -> {fill_list_sql('len(s)', 'true')}),
                           {fill_list_sql('l1 - len(chunks)', 'CAST([] AS BOOLEAN[])')}),
               m -> list_concat(m, {fill_list_sql('l2 - len(m)', 'false')}))) AS VARCHAR) AS chunks_mask
      FROM c, mx
    """)
def q_pad_mask2(spark, sf_dir):
    """Multi-dim pad+mask (reference pad.hpp:30-44 mask-dimensionality
    dispatch + ndim_pad, ndim.hpp:310-328): a ragged 2-deep nested array
    (token chunks of 7 via reshaped_view, ndim.hpp:525-545) padded on
    BOTH dims to the per-dimension global max, with a 2-level leaf mask.
    Global maxes via agg + broadcast crossJoin — no single-task window."""
    from hipipe_spark.functions.ndim import reshaped_view
    d = read_docs(spark, sf_dir).filter(
        F.col("doc_id") % 10 == 0)
    d = d.select(
        "doc_id",
        reshaped_view(tokens(F.lower(F.col("text"))), 7).alias("chunks"))
    out = Pad("chunks", value="<pad>", depth=2)(d)
    # JSON-serialize the nested arrays: value-hash comparators need not
    # support 2-deep arrays, and both engines emit identical compact JSON
    return out.select(
        "doc_id",
        F.to_json(F.col("chunks")).alias("chunks"),
        F.to_json(F.col("chunks_mask")).alias("chunks_mask"))


@query(oracle="""
      SELECT l_orderkey, o_orderdate, o_orderpriority,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10
    """)
def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape: dim filter -> broadcast join -> fact join ->
    grouped revenue -> global top-10. Customer dim broadcasts; the only
    fact shuffle is the final group/top-k."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < "1995-03-15")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > "1995-03-15")
    dec = lambda col: F.col(col).cast("decimal(18,2)")  # noqa: E731
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
         .join(F.broadcast(c), o.o_custkey == c.c_custkey))
    return (j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))
                 .cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
            .limit(10))


@query(oracle="""
      SELECT o_orderkey, o_orderstatus,
             CAST(rank() OVER w AS INTEGER) AS rnk,
             CAST(dense_rank() OVER w AS INTEGER) AS drnk,
             round(percent_rank() OVER w, 6) AS prnk,
             round(cume_dist() OVER w, 6) AS cd,
             CAST(ntile(4) OVER w AS INTEGER) AS quartile
      FROM orders WHERE o_orderkey <= 2000
      WINDOW w AS (PARTITION BY o_orderstatus
                   ORDER BY o_totalprice, o_orderkey)
    """)
def q_rank_stats(spark, sf_dir):
    """Ranking-window completeness: rank / dense_rank / percent_rank /
    cume_dist / ntile in one window pass (single shuffle on the
    partition key)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderkey") <= 2000)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey", "o_orderstatus",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(oracle="""
      SELECT l_orderkey, l_linenumber, metric, round(CAST(val AS DOUBLE), 4) AS value
      FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
        FROM lineitem WHERE l_orderkey <= 100
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        FROM lineitem WHERE l_orderkey <= 100
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem WHERE l_orderkey <= 100)
    """)
def q_melt(spark, sf_dir):
    """Wide->long unpivot (the pandas/tidy 'melt'): per-lineitem metric
    rows. Narrow map-side op — no shuffle at any scale."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .filter(F.col("l_orderkey") <= 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric", "value",
    ).withColumn("value", F.round(F.col("value").cast("double"), 4))


@query(oracle="""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """)
def q_cube_counts(spark, sf_dir):
    """CUBE aggregation over orders: all 4 grouping combinations in one
    pass (partial aggregation map-side, one shuffle)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total")))


@query(oracle="""
      SELECT user_id, event_type, event_id, round(value, 4) AS value
      FROM (SELECT user_id, event_type, event_id, value,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1
    """)
def q_latest_per_key(spark, sf_dir):
    """Keep-latest dedup: newest event per (user_id, event_type) —
    the 'latest crawl snapshot per URL' pattern. Single shuffle on the
    dedup key; at scale this is the canonical row_number()=1 idiom."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type", "event_id",
                    F.round("value", 4).alias("value")))


# media_features is generated data -> rows-only check.
@query(oracle=None)
def q_media_features(spark, sf_dir):
    media = gen_fake_media(spark, n=128)
    return extract_features(media)


@query(oracle="""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
             count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
    """)
def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))
             .cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


@query(oracle="""
      SELECT n_name, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    """)
def q_join_agg(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    # dims broadcast; fact side shuffles once for the agg
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("double").alias("total"),
        )
    )


@query(oracle="""
      SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk
      FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rk
            FROM orders)
      WHERE rk <= 3
    """)
def q_topk_per_group(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )


@query(oracle="""
      SELECT l_returnflag,
             CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
             CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled
      FROM lineitem GROUP BY l_returnflag
    """)
def q_pivot_status(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
        .select(
            "l_returnflag",
            F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
            F.coalesce(F.col("F"), F.lit(0)).alias("n_filled"),
        )
    )


@query(oracle="""
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS n_parts,
             count(DISTINCT l_suppkey) AS n_supps
      FROM lineitem GROUP BY l_returnflag
    """)
def q_distinct_count(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@query(oracle="""
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
      FROM lineitem GROUP BY l_returnflag
    """)
def q_percentiles(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", 0.9), 4).alias("p90"),
    )


@query(oracle="""
      SELECT COALESCE(l_returnflag, '<ALL>') AS rf,
             COALESCE(l_linestatus, '<ALL>') AS ls,
             count(*) AS n
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """)
def q_rollup_counts(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<ALL>")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("<ALL>")).alias("ls"),
            "n",
        )
    )


@query(oracle="""
      SELECT o_orderkey,
             CASE WHEN EXISTS (SELECT 1 FROM lineitem
                               WHERE l_orderkey = o_orderkey AND l_quantity > 45)
                  THEN 'has_big_line' ELSE 'no_big_line' END AS tag
      FROM orders
    """)
def q_semi_anti(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = li.filter(F.col("l_quantity") > 45).select("l_orderkey")
    semi = o.join(big, o.o_orderkey == big.l_orderkey, "left_semi").select(
        "o_orderkey", F.lit("has_big_line").alias("tag"))
    anti = o.join(big, o.o_orderkey == big.l_orderkey, "left_anti").select(
        "o_orderkey", F.lit("no_big_line").alias("tag"))
    return semi.unionByName(anti)


@query(oracle="""
      WITH ordering AS (SELECT DISTINCT o_custkey AS k FROM orders),
           known AS (SELECT DISTINCT c_custkey AS k FROM customer)
      SELECT k, 'never_ordered' AS tag FROM known
      WHERE k NOT IN (SELECT k FROM ordering)
      UNION ALL
      SELECT k, 'ordered' AS tag FROM known
      WHERE k IN (SELECT k FROM ordering)
    """)
def q_set_ops(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    ordering = o.select(F.col("o_custkey").alias("k")).distinct()
    known = c.select(F.col("c_custkey").alias("k")).distinct()
    never_ordered = known.exceptAll(ordering).select("k", F.lit("never_ordered").alias("tag"))
    both = known.intersect(ordering).select("k", F.lit("ordered").alias("tag"))
    return never_ordered.unionByName(both)


# approx_stats: sketch values have no SQL twin, but the plan
# emits deterministic accuracy gates next to the exact distinct
# count, all three oracle-checkable.
@query(oracle="""
      SELECT l_returnflag,
             CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
             TRUE AS parts_ok, TRUE AS p50_ok
      FROM lineitem GROUP BY l_returnflag
    """)
def q_approx_stats(spark, sf_dir):
    """Approximate sketches, oracle-gated: the sketch
    values themselves have no SQL twin by construction, so the plan
    computes the exact statistics ALONGSIDE the sketches and emits
    deterministic accuracy booleans — ``parts_ok`` (HLL distinct within
    3x its 5% rsd of the exact count) and ``p50_ok`` (percentile_approx
    at accuracy=1000 lands between the exact 0.49/0.51 quantiles, the
    sketch's published rank guarantee). Both sketches are hash-based and
    deterministic for fixed data, so the booleans are stable; the oracle
    recomputes the exact distinct count and asserts the gates hold."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_p50"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.expr("percentile(l_extendedprice, 0.49)").alias("p49"),
        F.expr("percentile(l_extendedprice, 0.51)").alias("p51"),
    )
    return agg.select(
        "l_returnflag", "exact_parts",
        (F.abs(F.col("approx_parts") - F.col("exact_parts"))
         / F.col("exact_parts") < 0.15).alias("parts_ok"),
        ((F.col("approx_p50") >= F.col("p49"))
         & (F.col("approx_p50") <= F.col("p51"))).alias("p50_ok"))


# fake-media arithmetic replica (sources/multimodal.py gen_fake_media
# + extract_features): content = 32-byte sha256 digest repeated
# (1 + i%7) times then truncated to 32 + i%97 bytes; thumbs clamp to
# (32, 32); frames only for videos. crc32 has no DuckDB builtin and
# stays in the rows-only media_features twin.
@query(oracle="""
      SELECT i AS media_id,
             CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS kind,
             CAST(least(32 * (1 + i % 7), 32 + i % 97) AS INTEGER) AS n_bytes,
             CAST(least(64 + i % 512, 32) AS INTEGER) AS thumb_w,
             CAST(least(64 + (i * 3) % 512, 32) AS INTEGER) AS thumb_h,
             CAST(CASE WHEN i % 3 = 2 THEN (1000 + i % 60000) // 5000
                       ELSE 0 END AS INTEGER) AS n_frames
      FROM range(0, 128) t(i)
    """)
def q_media_meta(spark, sf_dir):
    """Oracle-able slice of the multimodal extractor:
    the fake decoder is deterministic arithmetic over (id, seed) —
    content length, thumbnail clamps, and frame counts are reproduced
    exactly in DuckDB SQL. Only the crc32 checksum (no DuckDB builtin)
    stays in the rows-only ``media_features`` twin."""
    media = gen_fake_media(spark, n=128)
    return extract_features(media).select(
        "media_id", "kind", "n_bytes", "thumb_w", "thumb_h", "n_frames")


# real-codec arithmetic replica (sources/multimodal.py gen_real_media
# + decode_features): every PNG/WAV generation parameter is pure
# arithmetic in the id, so the oracle recomputes what a CORRECT
# decode must recover — pixel mean over (i*7+3j)%256, WAV RMS over
# (i*31+17t)%2048-1024, floor duration, aspect-preserving thumbs.
@query(oracle="""
      WITH img AS (
        SELECT i, 8 + i % 13 AS w, 8 + (3*i) % 11 AS h,
               CASE WHEN i % 2 = 0 THEN 1 ELSE 3 END AS ch
        FROM range(0, 128) t(i) WHERE i % 3 = 0),
      imean AS (
        SELECT img.i, w, h, ch,
               round(AVG(CAST((img.i*7 + 3*j.j) % 256 AS DOUBLE)), 4) AS mean_val,
               CAST(GREATEST(1, FLOOR(w * LEAST(8.0/w, 8.0/h, 1.0))) AS INTEGER) AS tw,
               CAST(GREATEST(1, FLOOR(h * LEAST(8.0/w, 8.0/h, 1.0))) AS INTEGER) AS th
        FROM img CROSS JOIN range(0, 1100) j(j)
        WHERE j.j < w*h*ch
        GROUP BY img.i, w, h, ch),
      aud AS (SELECT i, 200 + (i*13) % 57 AS ns
              FROM range(0, 128) t(i) WHERE i % 3 = 1),
      arms AS (
        SELECT aud.i, ns,
               round(sqrt(AVG(CAST(((aud.i*31 + 17*t.t) % 2048 - 1024) AS DOUBLE) ** 2)), 4) AS rms
        FROM aud CROSS JOIN range(0, 257) t(t) WHERE t.t < ns
        GROUP BY aud.i, ns),
      vid AS (SELECT i, 6 + i % 7 AS w, 6 + (2*i) % 5 AS h,
                     2 + i % 4 AS nf
              FROM range(0, 128) t(i) WHERE i % 3 = 2),
      vmean AS (
        SELECT vid.i, w, h, nf,
               round(AVG(CAST((vid.i*7 + 11*f.f + 3*j.j) % 256 AS DOUBLE)), 4) AS mean_val,
               CAST(GREATEST(1, FLOOR(w * LEAST(8.0/w, 8.0/h, 1.0))) AS INTEGER) AS tw,
               CAST(GREATEST(1, FLOOR(h * LEAST(8.0/w, 8.0/h, 1.0))) AS INTEGER) AS th
        FROM vid CROSS JOIN range(0, 6) f(f) CROSS JOIN range(0, 160) j(j)
        WHERE f.f < nf AND f.f % 2 = 0 AND j.j < w*h
        GROUP BY vid.i, w, h, nf)
      SELECT i AS media_id, 'image' AS kind,
             CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
             CAST(ch AS INTEGER) AS channels,
             CAST(NULL AS INTEGER) AS sample_rate,
             CAST(NULL AS INTEGER) AS duration_ms,
             CAST(NULL AS INTEGER) AS n_frames,
             mean_val, tw AS thumb_w, th AS thumb_h
      FROM imean
      UNION ALL
      SELECT i, 'audio', NULL, NULL, 1, 8000,
             CAST((1000*ns)//8000 AS INTEGER), NULL, rms, NULL, NULL
      FROM arms
      UNION ALL
      SELECT i, 'video', CAST(w AS INTEGER), CAST(h AS INTEGER), 1, NULL,
             CAST(nf * 100 AS INTEGER), CAST(nf AS INTEGER),
             mean_val, tw, th
      FROM vmean
    """)
def q_media_decode(spark, sf_dir):
    """REAL stdlib media decode: gen_real_media emits
    actual PNG (all five filter types), PCM-16 WAV, and APNG video
    bytes whose generation parameters are pure arithmetic in the id;
    decode_features (sources/multimodal.py) recovers width/height/
    channels/mean from the PNG pipeline (zlib inflate + filter
    reconstruction), rate/duration/RMS from the WAV pipeline, and
    frame count/duration/sampled-frame mean from the APNG pipeline.
    The oracle recomputes what a correct decode MUST recover — a
    value-check of the codecs themselves."""
    from hipipe_spark.sources.multimodal import decode_features, gen_real_media

    out = decode_features(gen_real_media(spark, n=128))
    return out.select(
        "media_id", "kind", "width", "height", "channels", "sample_rate",
        "duration_ms", "n_frames", F.round("mean_val", 4).alias("mean_val"),
        "thumb_w", "thumb_h")


# csv round-trip: the oracle recomputes the pre-roundtrip rows; the
# Spark side must recover them bit-for-bit through write_csv ->
# read_csv -> typed (DuckDB standard strings keep backslash literal;
# chr(10) is the embedded newline).
@query(oracle=r"""
      SELECT o_orderkey AS okey, round(o_totalprice, 4) AS total,
             ' pad,' || o_orderstatus || ',x"y\z' || chr(10) || 'end'
               || CAST(o_orderkey % 7 AS VARCHAR) AS tricky
      FROM orders WHERE o_orderkey % 100 = 0
    """)
def q_csv_roundtrip(spark, sf_dir):
    """CSV dialect round-trip driver row: derive a
    deliberately hostile string column from orders (leading space,
    embedded separator, quote, escape char, AND newline), write it with
    the reference-dialect writer (sources/csv.py write_csv, quoting per
    csv.cpp:200-229), read it back with the state-machine reader, and
    cast with typed(). The oracle recomputes the source rows directly —
    equality proves the writer/reader pair is lossless on every quoting
    path, not just the pytest fixtures."""
    import os
    import tempfile

    from hipipe_spark.sources.csv import read_csv, typed, write_csv

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderkey") % 100 == 0)
    tricky = F.concat(
        F.lit(" pad,"), F.col("o_orderstatus"), F.lit(',x"y\\z\nend'),
        (F.col("o_orderkey") % 7).cast("string"))
    src = o.select(
        F.col("o_orderkey").alias("okey"),
        F.round("o_totalprice", 4).alias("total"),
        tricky.alias("tricky"))
    path = os.path.join(tempfile.gettempdir(),
                        f"hipipe_csv_roundtrip_{os.getpid()}")
    write_csv(src, path)
    back = read_csv(spark, path)
    return typed(back, {"okey": "long", "total": "double",
                        "tricky": "string"})


@query(oracle="""
      WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN NOT (n_chars > 0) THEN 1 ELSE 0 END)
             AS BIGINT) AS f0,
        CAST(sum(CASE WHEN NOT (length(text) = n_chars) THEN 1 ELSE 0 END)
             AS BIGINT) AS f1,
        CAST(sum(CASE WHEN NOT (lang IS NOT NULL) THEN 1 ELSE 0 END)
             AS BIGINT) AS f2,
        CAST(sum(CASE WHEN NOT (length(text) >= 10) THEN 1 ELSE 0 END)
             AS BIGINT) AS f3
        FROM documents)
      SELECT 1 AS rule_no, 'n_chars_positive' AS rule, n AS n_rows,
             f0 AS n_fail, round(CAST(f0 AS DOUBLE) / n, 6) AS fail_rate
        FROM a
      UNION ALL SELECT 2, 'len_matches_n_chars', n, f1,
             round(CAST(f1 AS DOUBLE) / n, 6) FROM a
      UNION ALL SELECT 3, 'lang_present', n, f2,
             round(CAST(f2 AS DOUBLE) / n, 6) FROM a
      UNION ALL SELECT 4, 'text_min_len', n, f3,
             round(CAST(f3 AS DOUBLE) / n, 6) FROM a
    """)
def q_expectations(spark, sf_dir):
    """Declarative data-quality gate (validate.py check_rules): four
    named boolean expectations over documents folded into ONE aggregate
    scan (conditional counts, map-side combined), melted to a per-rule
    (n_rows, n_fail, fail_rate) report."""
    from hipipe_spark.operators.validate import check_rules
    d = read_docs(spark, sf_dir)
    return check_rules(d, [
        ("n_chars_positive", F.col("n_chars") > 0),
        ("len_matches_n_chars", F.length("text") == F.col("n_chars")),
        ("lang_present", F.col("lang").isNotNull()),
        ("text_min_len", F.length("text") >= 10),
    ])


@query(oracle="""
      WITH k AS (SELECT DISTINCT c_custkey AS pk FROM customer
                 WHERE c_custkey % 3 <> 0),
      j AS (SELECT o.o_custkey AS ck, k.pk
            FROM orders o LEFT JOIN k ON o.o_custkey = k.pk),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN ck IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null_key,
                   CAST(sum(CASE WHEN ck IS NOT NULL AND pk IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan
            FROM j)
      SELECT n_rows, n_null_key, n_orphan,
             round(CAST(n_orphan AS DOUBLE) / n_rows, 6) AS orphan_rate,
             round(CAST(n_rows - n_orphan - n_null_key AS DOUBLE)
                   / n_rows, 6) AS match_rate
      FROM a
    """)
def q_fk_audit(spark, sf_dir):
    """Referential-integrity audit (validate.py fk_audit): orders ->
    customer with a third of the parent keys withheld, so the orphan
    path is actually exercised. One parent distinct + one left join +
    one aggregate; the fact side never shuffles when the key side
    broadcasts."""
    from hipipe_spark.operators.validate import fk_audit
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .filter(F.col("c_custkey") % 3 != 0))
    return fk_audit(orders, cust, "o_custkey", "c_custkey")


@query(oracle="""
      WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS null0,
        CAST(count(DISTINCT lang) AS BIGINT) AS nd0,
        CAST(min(lang) AS VARCHAR) AS min0,
        CAST(max(lang) AS VARCHAR) AS max0,
        avg(TRY_CAST(lang AS DOUBLE)) AS mean0,
        CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS null1,
        CAST(count(DISTINCT source) AS BIGINT) AS nd1,
        CAST(min(source) AS VARCHAR) AS min1,
        CAST(max(source) AS VARCHAR) AS max1,
        avg(TRY_CAST(source AS DOUBLE)) AS mean1,
        CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS null2,
        CAST(count(DISTINCT n_chars) AS BIGINT) AS nd2,
        CAST(min(n_chars) AS VARCHAR) AS min2,
        CAST(max(n_chars) AS VARCHAR) AS max2,
        avg(CAST(n_chars AS DOUBLE)) AS mean2
        FROM documents)
      SELECT 'lang' AS "column", n AS n_rows, null0 AS n_null,
             round(CAST(null0 AS DOUBLE) / n, 6) AS null_rate,
             nd0 AS n_distinct, min0 AS min_s, max0 AS max_s,
             round(mean0, 6) AS mean FROM a
      UNION ALL SELECT 'source', n, null1,
             round(CAST(null1 AS DOUBLE) / n, 6), nd1, min1, max1,
             round(mean1, 6) FROM a
      UNION ALL SELECT 'n_chars', n, null2,
             round(CAST(null2 AS DOUBLE) / n, 6), nd2, min2, max2,
             round(mean2, 6) FROM a
    """)
def q_column_profile(spark, sf_dir):
    """Single-pass column profiler (validate.py profile_columns): null
    rate / exact distinct / min / max / mean for three document columns
    in one aggregate scan (exact distinct for the oracle;
    approximate=True is the 100-TB HLL path)."""
    from hipipe_spark.operators.validate import profile_columns
    return profile_columns(read_docs(spark, sf_dir),
                           ["lang", "source", "n_chars"])


# incremental refresh's oracle IS the full recompute: the driver
# thereby verifies carry-forward + delta-slice union ≡ recompute.
@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL})
      SELECT conv_id,
             CAST(count(*) AS BIGINT) AS n_turns,
             CAST(sum(length(text)) AS BIGINT) AS chars,
             CAST(min(turn_idx) AS BIGINT) AS first_idx
      FROM t GROUP BY conv_id
    """)
def q_incremental_refresh(spark, sf_dir):
    """Snapshot-incremental feature refresh (checkpoint.py
    incremental_refresh): base snapshot computed on ~3/4 of the
    conversations, then a delta refresh for the held-out quarter —
    the ORACLE IS THE FULL RECOMPUTE, so the driver verifies the
    carry-forward + recompute union is exactly equivalent to
    recomputing everything. Writes snapshots to a temp dir (the local
    stand-in for Iceberg snapshots, checkpoint.py:8-14)."""
    import tempfile

    from hipipe_spark.checkpoint import SnapshotStore, incremental_refresh

    store = SnapshotStore(tempfile.mkdtemp(prefix="hipipe_incr_"))
    t = read_transcripts(spark, sf_dir)

    def compute(df):
        return df.groupBy("conv_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_turns"),
            F.sum(F.length("text")).cast("bigint").alias("chars"),
            F.min("turn_idx").cast("bigint").alias("first_idx"))

    delta_convs = (t.select("conv_id").distinct()
                   .filter(F.crc32(F.col("conv_id")) % 4 == 0))
    old = t.join(delta_convs, "conv_id", "left_anti")
    incremental_refresh(spark, store, "feats", old, compute)
    _, got = incremental_refresh(spark, store, "feats", t, compute,
                                 delta_keys=delta_convs)
    return got


@query(oracle=zorder_oracle_sql(
    "SELECT * FROM orders", ["o_custkey", "o_totalprice"],
    bits=16, extra_cols="o_orderkey"))
def q_zorder(spark, sf_dir):
    """Morton/z-order locality key (layout.py zorder_key, minmax mode):
    16-bit-per-dim interleave of (o_custkey, o_totalprice). The
    write-side layout for multi-column file skipping at 100 TB — one
    2-double agg job for bounds, then pure JVM bit arithmetic."""
    from hipipe_spark.operators.layout import zorder_key
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (zorder_key(orders, ["o_custkey", "o_totalprice"], bits=16)
            .select("o_orderkey", "z"))


@query(oracle="""
      WITH src AS (
        SELECT event_type, user_id,
               CAST(floor(value / 25) AS INTEGER) AS val_band
        FROM events),
      g AS (
        SELECT event_type, user_id,
               CAST(count(*) AS BIGINT) AS class_size,
               CAST(count(DISTINCT val_band) AS BIGINT)
                 AS distinct_sensitive
        FROM src GROUP BY 1, 2)
      SELECT event_type, user_id, class_size, distinct_sensitive,
             CASE WHEN class_size < 10 AND distinct_sensitive < 2 THEN 'k+l'
                  WHEN class_size < 10 THEN 'k'
                  WHEN distinct_sensitive < 2 THEN 'l' END AS violation
      FROM g WHERE class_size < 10 OR distinct_sensitive < 2
    """)
def q_k_anonymity(spark, sf_dir):
    """Privacy-release audit (validate.py k_anonymity): k-anonymity +
    l-diversity violations over (event_type, user_id) classes with
    the event value band as the sensitive attribute; one hash
    aggregate, only the failing tail survives.

    Users scale with the SF, so per-user classes keep one size
    distribution at every SF and ``k=10`` flags about 14% of them at
    both sf0.01 and sf0.1. A fixed ``user_id % 50`` bucketing with an
    absolute ``k`` flags none once the rows grow tenfold."""
    from hipipe_spark.operators.validate import k_anonymity
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "user_id",
        F.floor(F.col("value") / 25).cast("int").alias("val_band"))
    return k_anonymity(ev, ["event_type", "user_id"], k=10,
                       sensitive_col="val_band")


@query(oracle="""
      WITH src AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band
        FROM customer),
      cv AS (
        SELECT c_nationkey, c_mktsegment, bal_band,
               CAST(count(*) AS BIGINT) AS n
        FROM src GROUP BY 1, 2, 3),
      gdist AS (
        SELECT bal_band,
               sum(n) / (SELECT CAST(sum(n) AS DOUBLE) FROM cv) AS p_g
        FROM cv GROUP BY 1),
      cs AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(sum(n) AS BIGINT) AS class_size
        FROM cv GROUP BY 1, 2),
      agg AS (
        SELECT cv.c_nationkey, cv.c_mktsegment,
               max(cs.class_size) AS class_size,
               CAST(count(*) AS BIGINT) AS distinct_sensitive,
               sum(cv.n * ln(cv.n)) AS nlnn,
               sum(abs(cv.n / CAST(cs.class_size AS DOUBLE) - g.p_g))
                 AS absdiff,
               sum(g.p_g) AS pg
        FROM cv
        JOIN cs ON cs.c_nationkey = cv.c_nationkey
               AND cs.c_mktsegment = cv.c_mktsegment
        JOIN gdist g ON g.bal_band IS NOT DISTINCT FROM cv.bal_band
        GROUP BY 1, 2)
      SELECT c_nationkey, c_mktsegment, class_size, distinct_sensitive,
             round(ln(class_size) - nlnn / class_size, 6) AS entropy,
             round(0.5 * (absdiff + (1.0 - pg)), 6) AS tvd,
             CASE WHEN distinct_sensitive < 3
                    AND round(0.5 * (absdiff + (1.0 - pg)), 6) > 0.25
                  THEN 'l+t'
                  WHEN distinct_sensitive < 3 THEN 'l'
                  WHEN round(0.5 * (absdiff + (1.0 - pg)), 6) > 0.25
                  THEN 't' END AS violation
      FROM agg
    """)
def q_t_closeness(spark, sf_dir):
    """Entropy l-diversity + t-closeness audit (validate.t_closeness)
    over (c_nationkey, c_mktsegment) classes with the account-balance
    band as the sensitive attribute. violations_only=False so the
    driver row pins entropy/tvd for EVERY class, not just the failing
    tail."""
    from hipipe_spark.operators.validate import t_closeness
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"))
    return t_closeness(cust, ["c_nationkey", "c_mktsegment"],
                       "bal_band", l=3, t=0.25, violations_only=False)


@query(oracle="""
      SELECT event_id,
             CAST(json_extract(props, '$.k') AS INTEGER) AS k
      FROM events
    """)
def q_json_features(spark, sf_dir):
    """Typed JSON field extraction (functions/json.py json_features):
    ONE from_json parse per row (get_json_object would re-parse per
    field), scan-local, PERMISSIVE nulls on malformed payloads."""
    from hipipe_spark.functions.json import json_features
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = json_features(ev, "props", {"k": "int"})
    return out.select("event_id", "k")


@query(oracle="""
      WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM events),
      k AS (SELECT unnest(json_keys(props)) AS key FROM events
            WHERE json_valid(props))
      SELECT key, CAST(count(*) AS BIGINT) AS n_docs,
             round(count(*) / (SELECT total FROM n), 6) AS doc_share
      FROM k GROUP BY key
    """)
def q_json_profile(spark, sf_dir):
    """JSON payload schema discovery (functions/json.py
    json_key_profile): per top-level key, document count + share —
    one explode + one key aggregate + one count job."""
    from hipipe_spark.functions.json import json_key_profile
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return json_key_profile(ev, "props")


@query(oracle="""
      WITH old_t AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0),
      new_t AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 1
                    THEN floor(o_totalprice * 110 + 0.5) / 100
                    ELSE o_totalprice END AS o_totalprice
        FROM orders),
      j AS (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               o.o_totalprice AS o_totalprice_old,
               n.o_totalprice AS o_totalprice_new,
               CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                    WHEN n.o_orderkey IS NULL THEN 'deleted'
                    WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                      THEN 'unchanged'
                    ELSE 'changed' END AS change
        FROM old_t o FULL OUTER JOIN new_t n ON o.o_orderkey = n.o_orderkey)
      SELECT * FROM j WHERE change <> 'unchanged'
    """)
def q_table_diff(spark, sf_dir):
    """Snapshot change data feed (validate.py table_diff): orders
    'yesterday' (o_orderkey%3!=0, price as-was) vs 'today' (all rows,
    10% of keys repriced) — inserted/deleted/changed per key, null-safe
    compare, unchanged bulk filtered before output. One key shuffle
    per side. The +10% reprice rounds through integer cents,
    floor(price * 110 + 0.5) / 100, on both engines: round(x * 1.1, 2)
    rounds exact halves differently in Spark (HALF_UP on the decimal)
    and DuckDB."""
    from hipipe_spark.operators.validate import table_diff
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    old = (orders.filter(F.col("o_orderkey") % 3 != 0)
           .select("o_orderkey", "o_totalprice"))
    new = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 1,
               F.floor(F.col("o_totalprice") * 110 + 0.5) / 100)
         .otherwise(F.col("o_totalprice")).alias("o_totalprice"))
    return table_diff(old, new, ["o_orderkey"])


@query(oracle=f"""
      WITH g AS (SELECT event_type, count(*) AS true_cnt
                 FROM events GROUP BY 1),
      h AS (SELECT event_type, true_cnt,
                   (CAST({det_hash_str_i64_sql('event_type', 42)}
                         AS DOUBLE) + 0.5) / 2147483648.0 AS u
            FROM g),
      nz AS (SELECT event_type, true_cnt,
                    round(-2.0 * sign(u - 0.5)
                          * ln(greatest(1.0 - 2.0 * abs(u - 0.5),
                                        1e-12)), 4) AS noise
             FROM h)
      SELECT event_type, CAST(true_cnt AS BIGINT) AS true_cnt, noise,
             round(greatest(true_cnt + noise, 0.0), 4) AS dp_cnt
      FROM nz
    """)
def q_dp_counts(spark, sf_dir):
    """ε-DP noisy histogram with deterministic inverse-CDF Laplace
    noise keyed on the cell (validate.py dp_counts, ε=0.5, seed=42):
    the release itself — not a tolerance band around it — is
    reproduced bit-for-bit by the DuckDB oracle via the det-hash
    family."""
    from hipipe_spark.operators.validate import dp_counts
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return dp_counts(e, ["event_type"], epsilon=0.5, seed=42)


def _benford_oracle() -> str:
    _bexp = ("CASE digit " + " ".join(
        f"WHEN {dd} THEN {pp!r}" for dd, pp in BENFORD_P.items())
        + " END")
    return f"""
      WITH li AS (SELECT l_returnflag AS g,
                         abs(CAST(l_extendedprice AS DOUBLE)) AS v
                  FROM lineitem),
      o AS (SELECT g,
                   CAST(substring(CAST(CAST(floor(v) AS BIGINT)
                                       AS VARCHAR), 1, 1) AS INT)
                     AS digit,
                   count(*) AS n_obs
            FROM li WHERE v >= 1 GROUP BY 1, 2),
      gs AS (SELECT DISTINCT g FROM o),
      ds AS (SELECT UNNEST([1,2,3,4,5,6,7,8,9]) AS digit),
      f AS (SELECT gs.g, ds.digit, coalesce(n_obs, 0) AS n_obs
            FROM gs CROSS JOIN ds
            LEFT JOIN o ON o.g = gs.g AND o.digit = ds.digit),
      s AS (SELECT g, digit, n_obs,
                   CAST(n_obs AS DOUBLE)
                     / sum(n_obs) OVER (PARTITION BY g) AS share,
                   {_bexp} AS expv
            FROM f)
      SELECT g AS l_returnflag, digit,
             CAST(n_obs AS BIGINT) AS n_obs,
             round(share, 6) AS share,
             round(expv, 6) AS expected,
             round(abs(share - expv), 6) AS deviation,
             round(avg(abs(share - expv)) OVER (PARTITION BY g), 6)
               AS mad
      FROM s
    """


@query(oracle=_benford_oracle())
def q_benford(spark, sf_dir):
    """Benford first-digit audit of l_extendedprice per l_returnflag
    (validate.py benford): digit from the integer-part STRING (float
    log10 at power-of-ten boundaries is engine-dependent — substring
    of a cast integer is exact in both), all 9 digits materialized,
    Nigrini MAD conformity per group."""
    from hipipe_spark.operators.validate import benford
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return benford(li, "l_returnflag", "l_extendedprice")
