"""Graph algorithms and sketches (operators/graph.py, sketches.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from driver_queries import query
from driver_queries.testdata import det_tokens_sql, read_docs
from hipipe_spark.functions.hashing import (
    det_hash_i64_sql, det_hash_mix_i64_sql,
)
from hipipe_spark.operators.graph import (
    hits_oracle_sql, k_core_oracle_sql, label_propagation_oracle_sql,
    pagerank_oracle_sql,
)


@query(oracle="""
      WITH pr AS (SELECT DISTINCT l_partkey AS l, l_orderkey AS r
                  FROM lineitem),
      keep AS (SELECT r FROM pr GROUP BY r HAVING count(*) <= 8),
      pin AS (SELECT pr.l, pr.r FROM pr JOIN keep USING (r)),
      ew AS (SELECT a.l AS src, b.l AS dst, count(*) AS weight
             FROM pin a JOIN pin b ON a.r = b.r AND a.l < b.l
             GROUP BY 1, 2),
      e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM ew WHERE weight >= 2 AND src <> dst),
      m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM e),
      asg AS (SELECT p_partkey AS node, p_brand AS c FROM part),
      deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
                (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
              GROUP BY 1),
      intra AS (SELECT ca.c, CAST(count(*) AS BIGINT) AS internal_edges
                FROM e
                JOIN asg ca ON ca.node = e.a
                JOIN asg cb ON cb.node = e.b
                WHERE ca.c = cb.c GROUP BY 1),
      comm AS (SELECT asg.c, CAST(count(*) AS BIGINT) AS n_nodes,
                      CAST(coalesce(sum(deg.deg), 0) AS BIGINT)
                        AS degree_sum
               FROM asg LEFT JOIN deg ON deg.node = asg.node
               GROUP BY 1)
      SELECT comm.c AS community, comm.n_nodes,
             CAST(coalesce(intra.internal_edges, 0) AS BIGINT)
               AS internal_edges,
             comm.degree_sum,
             round(coalesce(intra.internal_edges, 0) / (SELECT m FROM m)
                   - pow(comm.degree_sum / (2.0 * (SELECT m FROM m)), 2.0),
                   6) AS q_contrib
      FROM comm LEFT JOIN intra ON intra.c = comm.c
    """)
def q_modularity(spark, sf_dir):
    """Newman modularity (graph.modularity) of the brand
    partition over the co-purchase projection: does p_brand explain
    the co-purchase structure? Per-community contributions; the
    graph's Q = sum(q_contrib)."""
    from hipipe_spark.operators.graph import bipartite_project, modularity
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = bipartite_project(li, "l_partkey", "l_orderkey",
                              min_weight=2, max_right_degree=8)
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("node"),
        F.col("p_brand").alias("community"))
    return modularity(edges, part)


@query(oracle=pagerank_oracle_sql(
    """SELECT prev AS src, event_type AS dst, 1.0 AS w FROM (
         SELECT event_type,
                lag(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev
         FROM events) WHERE prev IS NOT NULL""",
    damping=0.85, n_iter=10, round_to=6) + " ORDER BY node")
def q_pagerank(spark, sf_dir):
    """Damped PageRank (graph.py pagerank) over the user-journey
    transition graph: edges = consecutive event_type pairs per user in
    (ts, event_id) order. 10 iterations, each two node-sized shuffles
    (the edge list is normalized + persisted once); lineage cut per
    iteration via localCheckpoint. Oracle: the iteration unrolled into
    chained DuckDB CTEs (graph.py pagerank_oracle_sql)."""
    from pyspark.sql import Window
    from hipipe_spark.operators.graph import pagerank
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (ev.select("user_id", "ts", "event_id", "event_type",
                       F.lag("event_type").over(w).alias("prev"))
               .filter(F.col("prev").isNotNull())
               .select(F.col("prev").alias("src"),
                       F.col("event_type").alias("dst")))
    return pagerank(edges, n_iter=10, round_to=6).orderBy("node")


@query(oracle=label_propagation_oracle_sql(
    """SELECT prev AS src, event_type AS dst FROM (
         SELECT event_type,
                lag(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev
         FROM events) WHERE prev IS NOT NULL""",
    [("view", "content"), ("error", "bad")], n_iter=3))
def q_label_prop(spark, sf_dir):
    """Semi-supervised label propagation (graph.py label_propagation):
    two seed labels spread 3 majority-vote rounds through the
    user-journey transition graph; seeds clamped, ties to smallest
    label. Two node-sized shuffles per round."""
    from pyspark.sql import Window
    from hipipe_spark.operators.graph import label_propagation
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (ev.select("user_id", "ts", "event_id", "event_type",
                       F.lag("event_type").over(w).alias("prev"))
               .filter(F.col("prev").isNotNull())
               .select(F.col("prev").alias("src"),
                       F.col("event_type").alias("dst")))
    seeds = spark.createDataFrame(
        [("view", "content"), ("error", "bad")], "node string, label string")
    return label_propagation(edges, seeds, n_iter=3)


@query(oracle=f"""
      WITH hh AS (SELECT l_returnflag AS g,
                         CAST({det_hash_i64_sql('l_orderkey', 7)} AS DOUBLE)
                           / 2147483648.0 AS h01
                  FROM lineitem),
      kept AS (SELECT DISTINCT g, h01 FROM hh WHERE h01 <= 0.05),
      rk AS (SELECT g, h01,
                    row_number() OVER (PARTITION BY g ORDER BY h01) AS rk
             FROM kept),
      agg AS (SELECT g, count(*) AS n_kept,
                     max(CASE WHEN rk = 64 THEN h01 END) AS h_k
              FROM rk WHERE rk <= 64 GROUP BY g),
      ex AS (SELECT l_returnflag AS g,
                    count(DISTINCT l_orderkey) AS ed
             FROM lineitem GROUP BY 1)
      SELECT ex.g AS l_returnflag,
             CASE WHEN h_k IS NOT NULL THEN round(63 / h_k, 2)
                  ELSE round(coalesce(n_kept, 0) / 0.05, 2) END
               AS kmv_estimate,
             CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
             h_k IS NOT NULL AS saturated,
             CAST(ed AS BIGINT) AS exact_distinct
      FROM ex LEFT JOIN agg ON ex.g = agg.g
    """)
def q_kmv_distinct(spark, sf_dir):
    """Threshold-KMV distinct-count sketch (sketches.py kmv_distinct):
    distinct l_orderkey per l_returnflag with k=64, tau=0.05 — the
    hash prefilter is a scan-pushed literal predicate, so at 100 TB
    only ~5% of distinct hashes ever shuffle. The det-hash family
    makes the sketch itself (not a tolerance band) DuckDB-checkable."""
    from hipipe_spark.operators.sketches import kmv_distinct
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return kmv_distinct(li, "l_returnflag", "l_orderkey", k=64, tau=0.05)


@query(oracle=f"""
      WITH ds AS (SELECT UNNEST([0, 1, 2, 3]) AS d),
      sk AS (SELECT d, ({det_hash_i64_sql('user_id + 100 + d', 0)}) % 32
                      AS bucket,
                    count(*) AS cnt
             FROM events, ds GROUP BY 1, 2),
      top AS (SELECT CAST(user_id AS BIGINT) AS item,
                     count(*) AS true_cnt
              FROM events GROUP BY 1
              ORDER BY true_cnt DESC, item ASC LIMIT 10),
      probe AS (SELECT item, true_cnt, d,
                       ({det_hash_i64_sql('item + 100 + d', 0)}) % 32
                         AS bucket
                FROM top, ds),
      est AS (SELECT item, true_cnt, min(cnt) AS cms_estimate
              FROM probe JOIN sk USING (d, bucket) GROUP BY 1, 2)
      SELECT item, CAST(true_cnt AS BIGINT) AS true_cnt,
             CAST(cms_estimate AS BIGINT) AS cms_estimate,
             CAST(cms_estimate - true_cnt AS BIGINT) AS overestimate
      FROM est
    """)
def q_cms_heavy(spark, sf_dir):
    """Count-Min heavy hitters (sketches.py cms_heavy_hitters): 4×32
    sketch over events.user_id (150 users in 32 buckets — collisions
    by construction, so the overestimate column is exercised), probed
    for the exact top-10. The sketch build is ONE map-side-combinable
    aggregate producing 128 rows regardless of input size."""
    from hipipe_spark.operators.sketches import cms_heavy_hitters
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cms_heavy_hitters(e, "user_id", top_n=10, depth=4, width=32)


@query(oracle=f"""
      WITH hs AS (SELECT UNNEST([0, 1, 2]) AS i),
      dim AS (SELECT DISTINCT c_custkey AS k FROM customer
              WHERE c_acctbal > 5000),
      bits AS (SELECT DISTINCT
                 ({det_hash_i64_sql('dim.k + 200 + i', 0)}) % 4096 AS bit
               FROM dim, hs),
      fk AS (SELECT DISTINCT o_custkey AS k FROM orders),
      ps AS (SELECT DISTINCT k,
                    ({det_hash_i64_sql('fk.k + 200 + i', 0)}) % 4096 AS bit
             FROM fk, hs),
      need AS (SELECT k, count(*) AS n_pos FROM ps GROUP BY 1),
      hits AS (SELECT p.k FROM ps p JOIN bits USING (bit)
               JOIN need n ON n.k = p.k
               GROUP BY p.k, n.n_pos HAVING count(*) = n.n_pos),
      cand AS (SELECT h.k,
                      CASE WHEN d2.k IS NOT NULL THEN 1 ELSE 0 END
                        AS is_true
               FROM hits h LEFT JOIN dim d2 ON d2.k = h.k),
      nk AS (SELECT count(*) AS n_fact_keys FROM fk)
      SELECT CAST(n_fact_keys AS BIGINT) AS n_fact_keys,
             CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(sum(is_true) AS BIGINT) AS n_true,
             CAST(count(*) - sum(is_true) AS BIGINT) AS n_false_positive,
             round((count(*) - sum(is_true))
                   / CAST(n_fact_keys AS DOUBLE), 6) AS fp_rate
      FROM cand, nk GROUP BY n_fact_keys
    """)
def q_bloom_semi(spark, sf_dir):
    """Bloom-prefilter semi-join audit (sketches.py bloom_prefilter):
    orders.o_custkey probed against a 4096-bit / 3-hash filter built
    from high-balance customers. Zero false negatives by construction
    (n_true == the exact semi-join count — pytest-pinned); the report
    quantifies the false-positive rate the prefilter would admit
    before the exact verify join at scale."""
    from hipipe_spark.operators.sketches import bloom_prefilter
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = (spark.read.parquet(f"{sf_dir}/customer.parquet")
         .where("c_acctbal > 5000"))
    return bloom_prefilter(o, "o_custkey", c, "c_custkey",
                           m=4096, n_hashes=3)


@query(oracle="""
      WITH e0 AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
                  FROM lineitem a JOIN lineitem b
                    ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey),
      deg AS (SELECT node, count(*) AS deg
              FROM (SELECT a AS node FROM e0
                    UNION ALL SELECT b FROM e0)
              GROUP BY 1),
      base AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                      CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
                      CAST(sum(deg * (deg - 1) / 2) AS BIGINT)
                        AS n_wedges
               FROM deg),
      tri AS (SELECT count(*) AS n_triangles
              FROM e0 e1 JOIN e0 e2 ON e1.b = e2.a
                         JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b)
      SELECT n_nodes, n_edges, n_wedges,
             CAST(n_triangles AS BIGINT) AS n_triangles,
             CASE WHEN n_wedges > 0
                  THEN round(3.0 * n_triangles / n_wedges, 6)
             END AS global_cc
      FROM base, tri
    """)
def q_triangles(spark, sf_dir):
    """Triangle census + global clustering coefficient (graph.py
    triangle_stats) over the part co-purchase graph (parts sharing an
    order). Compact-forward orientation a<b<c: each triangle
    enumerated exactly once via two equi-joins on node ids — the
    standard distributed triangle plan, AQE-skew-splittable."""
    from hipipe_spark.operators.graph import triangle_stats
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .select(F.col("a.l_partkey").alias("src"),
                     F.col("b.l_partkey").alias("dst")))
    return triangle_stats(pairs)


@query(oracle="""
      WITH li AS (SELECT l_returnflag AS g,
                         CAST(l_extendedprice AS DOUBLE) AS v
                  FROM lineitem),
      rng AS (SELECT g, round(min(v), 6) AS lo, round(max(v), 6) AS hi,
                     count(*) AS n,
                     quantile_cont(v, 0.25) AS ex0,
                     quantile_cont(v, 0.50) AS ex1,
                     quantile_cont(v, 0.75) AS ex2,
                     quantile_cont(v, 0.90) AS ex3
              FROM li GROUP BY g),
      b AS (SELECT li.g, lo, hi, n,
                   CASE WHEN hi > lo
                        THEN least(63, greatest(0,
                             CAST(floor((v - lo) / (hi - lo) * 64)
                                  AS INT)))
                        ELSE 0 END AS bin
            FROM li JOIN rng ON rng.g = li.g),
      bins AS (SELECT g, lo, hi, n, bin, count(*) AS cnt
               FROM b GROUP BY 1, 2, 3, 4, 5),
      cum AS (SELECT *, sum(cnt) OVER (PARTITION BY g ORDER BY bin)
                        AS cum
              FROM bins),
      qs AS (SELECT UNNEST([0.25, 0.50, 0.75, 0.90]) AS q,
                    UNNEST([0, 1, 2, 3]) AS qi),
      hit AS (SELECT c.*, q, qi,
                     row_number() OVER (PARTITION BY c.g, q
                                        ORDER BY bin) AS rk
              FROM cum c, qs
              WHERE cum >= q * n),
      fin AS (SELECT h.g, q, qi,
                     h.lo + (bin + (q * h.n - (cum - cnt)) / cnt)
                        * ((h.hi - h.lo) / 64.0) AS est,
                     CASE qi WHEN 0 THEN ex0 WHEN 1 THEN ex1
                             WHEN 2 THEN ex2 ELSE ex3 END AS exact
              FROM hit h JOIN rng r2 ON r2.g = h.g
              WHERE rk = 1)
      SELECT g AS l_returnflag, q, round(est, 4) AS est,
             round(exact, 4) AS exact,
             round(abs(est - exact), 4) AS err
      FROM fin
    """)
def q_histq(spark, sf_dir):
    """Mergeable histogram quantile sketch (sketches.py
    hist_quantiles): 64 fixed bins of l_extendedprice per
    l_returnflag, estimates vs the exact interpolated percentile.
    The sketch state is 64 counters per group — mergeable by summing,
    served in O(bins); the rounded-handoff (lo, hi) makes bin
    assignment bit-identical in the oracle."""
    from hipipe_spark.operators.sketches import hist_quantiles
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return hist_quantiles(li, "l_returnflag", "l_extendedprice",
                          n_bins=64, qs=(0.25, 0.5, 0.75, 0.9))


@query(oracle=f"""
      WITH ha AS (SELECT DISTINCT h01, 1 AS in_a
                  FROM (SELECT CAST({det_hash_i64_sql('o_custkey', 7)}
                               AS DOUBLE) / 2147483648.0 AS h01
                        FROM orders)
                  WHERE h01 <= 0.2),
      hb AS (SELECT DISTINCT h01, 1 AS in_b
             FROM (SELECT CAST({det_hash_i64_sql('c_custkey', 7)}
                          AS DOUBLE) / 2147483648.0 AS h01
                   FROM customer WHERE c_acctbal > 2500)
             WHERE h01 <= 0.2),
      u AS (SELECT coalesce(ha.h01, hb.h01) AS h01,
                   coalesce(in_a, 0) AS in_a,
                   coalesce(in_b, 0) AS in_b
            FROM ha FULL JOIN hb ON ha.h01 = hb.h01),
      tk AS (SELECT *, row_number() OVER (ORDER BY h01) AS rk FROM u),
      ag AS (SELECT count(*) AS k_used,
                    max(CASE WHEN rk = 128 THEN h01 END) AS h_k,
                    sum(in_a * in_b) AS nboth
             FROM tk WHERE rk <= 128),
      ex AS (SELECT count(*) AS exact_inter
             FROM (SELECT DISTINCT o_custkey FROM orders) a
             JOIN (SELECT DISTINCT c_custkey FROM customer
                   WHERE c_acctbal > 2500) b
               ON a.o_custkey = b.c_custkey)
      SELECT CAST(k_used AS BIGINT) AS k_used,
             CASE WHEN h_k IS NOT NULL THEN round(127 / h_k, 2)
                  ELSE round(k_used / 0.2, 2) END AS union_est,
             round(nboth / CAST(k_used AS DOUBLE), 6) AS jaccard_est,
             round(round(nboth / CAST(k_used AS DOUBLE), 6)
                   * (CASE WHEN h_k IS NOT NULL
                           THEN round(127 / h_k, 2)
                           ELSE round(k_used / 0.2, 2) END), 2)
               AS inter_est,
             CAST(exact_inter AS BIGINT) AS exact_inter
      FROM ag, ex
    """)
def q_kmv_join(spark, sf_dir):
    """Sketch-based join-cardinality estimation (sketches.py
    kmv_join_estimate): distinct-key overlap of orders.o_custkey vs
    high-balance customers WITHOUT running the join — KMV set algebra
    (union (k−1)/h_k, Jaccard from shared k-minima, intersection =
    J×union), the planner-side estimate that decides broadcast vs
    shuffle at 100 TB. Exact overlap rides along as the error
    column."""
    from hipipe_spark.operators.sketches import kmv_join_estimate
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = (spark.read.parquet(f"{sf_dir}/customer.parquet")
         .where("c_acctbal > 2500"))
    return kmv_join_estimate(o, "o_custkey", c, "c_custkey",
                             k=128, tau=0.2)


def _hll_oracle() -> str:
    _hll_bits = 21                      # 31-bit hash, p = 10
    _hll_rank = ("CASE " + " ".join(
        f"WHEN w >= {1 << (_hll_bits - r)} THEN {r}"
        for r in range(1, _hll_bits + 1)) + f" ELSE {_hll_bits + 1} END")
    _hll_am2 = 0.7213 / (1.0 + 1.079 / 1024) * 1024 * 1024
    return f"""
      WITH h AS (SELECT l_returnflag AS g,
                        {det_hash_mix_i64_sql('l_orderkey', 13)} AS h
                 FROM lineitem),
      base AS (SELECT g, h % 1024 AS b,
                      CAST(floor(h / 1024) AS BIGINT) AS w
               FROM h),
      r AS (SELECT g, b, {_hll_rank} AS rk FROM base),
      regs AS (SELECT g, b, max(rk) AS mr FROM r GROUP BY 1, 2),
      agg AS (SELECT g, sum(pow(2.0, -mr)) AS s, count(*) AS v
              FROM regs GROUP BY g),
      ex AS (SELECT l_returnflag AS g,
                    count(DISTINCT l_orderkey) AS ed
             FROM lineitem GROUP BY 1)
      SELECT ex.g AS l_returnflag,
             round(CASE WHEN ({_hll_am2!r} / (s + (1024 - v))
                             <= 2560.0)
                         AND (1024 - v) > 0
                        THEN 1024.0 * ln(1024.0 / (1024 - v))
                        ELSE {_hll_am2!r} / (s + (1024 - v)) END, 2)
               AS hll_estimate,
             CAST(1024 AS BIGINT) AS n_registers,
             CAST(ed AS BIGINT) AS exact_distinct
      FROM ex LEFT JOIN agg ON agg.g = ex.g
    """


@query(oracle=_hll_oracle())
def q_hll(spark, sf_dir):
    """HyperLogLog distinct count (sketches.py hll_distinct, p=10 →
    1024 registers ≈ 1 KB per group at ANY input size): distinct
    l_orderkey per l_returnflag, same probe as kmv_distinct so the
    two sketches' error profiles are directly comparable. Registers
    come from an integer CASE rank ladder (no float log2), so both
    engines compute identical registers and the oracle checks the
    SKETCH, not a tolerance."""
    from hipipe_spark.operators.sketches import hll_distinct
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return hll_distinct(li, "l_returnflag", "l_orderkey", p=10)


def _textrank_oracle() -> str:
    _tr_edges = f"""
      SELECT src, dst, 1.0 AS w FROM (
        WITH tok AS (SELECT doc_id AS id, {det_tokens_sql('text')}
                       AS toks
                     FROM documents),
        p AS (SELECT id, unnest(toks) AS w,
                     unnest(range(1, len(toks) + 1)) AS pos
              FROM tok),
        pr AS (SELECT a.w AS src, b.w AS dst
               FROM p a JOIN p b
                 ON a.id = b.id AND b.pos > a.pos
                AND b.pos <= a.pos + 2)
        SELECT src, dst FROM pr
        UNION ALL SELECT dst AS src, src AS dst FROM pr)"""
    return ("SELECT * FROM ("
    + pagerank_oracle_sql(_tr_edges, damping=0.85,
                          n_iter=6, round_to=6)
    + ") ORDER BY rank DESC, node LIMIT 20")


@query(oracle=_textrank_oracle())
def q_textrank(spark, sf_dir):
    """TextRank corpus keywords (graph.py textrank_keywords):
    PageRank over the word co-occurrence graph (window 2, both
    directions, weights = corpus counts). The iteration state is
    VOCABULARY-sized regardless of corpus size; the co-occurrence
    self-join fans out ≤ window per token — linear, never quadratic.
    Oracle: the same edges fed to the unrolled-CTE PageRank replica."""
    from hipipe_spark.operators.graph import textrank_keywords
    return textrank_keywords(read_docs(spark, sf_dir), "doc_id", "text",
                             window=2, n_iter=6, top_k=20)


@query(oracle="""
      WITH e0 AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
                  FROM lineitem a JOIN lineitem b
                    ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey),
      deg AS (SELECT node, count(*) AS deg
              FROM (SELECT a AS node FROM e0
                    UNION ALL SELECT b FROM e0)
              GROUP BY 1),
      tri AS (SELECT node, count(*) AS triangles
              FROM (SELECT UNNEST([e1.a, e1.b, e2.b]) AS node
                    FROM e0 e1 JOIN e0 e2 ON e1.b = e2.a
                               JOIN e0 e3 ON e3.a = e1.a
                                         AND e3.b = e2.b)
              GROUP BY 1)
      SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
             CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
             CASE WHEN d.deg >= 2
                  THEN round(2.0 * coalesce(t.triangles, 0)
                             / (d.deg * (d.deg - 1)), 6)
             END AS local_cc
      FROM deg d LEFT JOIN tri t ON t.node = d.node
      ORDER BY triangles DESC, d.node ASC LIMIT 20
    """)
def q_node_cc(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficient
    (graph.py node_clustering) over the part co-purchase graph: same
    a<b<c enumeration as `triangles`, each triangle credits its three
    corners via one explode — top-20 most triangle-dense parts."""
    from hipipe_spark.operators.graph import node_clustering
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .select(F.col("a.l_partkey").alias("src"),
                     F.col("b.l_partkey").alias("dst")))
    return node_clustering(pairs, top_k=20)


@query(oracle="""
      WITH pr AS (SELECT DISTINCT l_partkey AS l, l_orderkey AS r
                  FROM lineitem),
      keep AS (SELECT r FROM pr GROUP BY r HAVING count(*) <= 8),
      pin AS (SELECT pr.l, pr.r FROM pr JOIN keep USING (r)),
      e AS (SELECT a.l AS src, b.l AS dst, count(*) AS weight
            FROM pin a JOIN pin b ON a.r = b.r AND a.l < b.l
            GROUP BY 1, 2)
      SELECT src, dst, CAST(weight AS BIGINT) AS weight
      FROM e WHERE weight >= 2
    """)
def q_copurchase(spark, sf_dir):
    """Weighted left-projection of the bipartite (part, order)
    relation (graph.py bipartite_project): part pairs sharing ≥ 2
    orders, hub orders (> 8 parts) dropped BEFORE the self-join —
    the quadratic-in-hub-degree guard that keeps a 100-TB projection
    linear-ish."""
    from hipipe_spark.operators.graph import bipartite_project
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (bipartite_project(li, "l_partkey", "l_orderkey",
                              min_weight=2, max_right_degree=8)
            .orderBy("src", "dst"))


_PART_PAIRS_SQL = """SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
               FROM lineitem a JOIN lineitem b
                 ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey"""


def _part_pairs(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_partkey") < F.col("b.l_partkey")))
            .select(F.col("a.l_partkey").alias("src"),
                    F.col("b.l_partkey").alias("dst")))


@query(oracle=f"""
      WITH e0 AS ({_PART_PAIRS_SQL}),
      deg AS (SELECT node, count(*) AS deg
              FROM (SELECT a AS node FROM e0
                    UNION ALL SELECT b FROM e0)
              GROUP BY 1),
      agg AS (SELECT count(*) AS n_nodes,
                     sum(CASE WHEN deg >= 2 THEN 1 ELSE 0 END)
                       AS n_tail,
                     avg(deg) AS mean_deg,
                     max(deg) AS max_deg,
                     sum(CASE WHEN deg >= 2
                              THEN ln(deg / 1.5) END) AS lsum
              FROM deg)
      SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
             CAST(n_tail AS BIGINT) AS n_tail,
             round(mean_deg, 6) AS mean_deg,
             CAST(max_deg AS DOUBLE) AS max_deg,
             round(CASE WHEN n_tail > 0 AND lsum > 0
                        THEN 1.0 + n_tail / lsum END, 6) AS alpha
      FROM agg
    """)
def q_powerlaw(spark, sf_dir):
    """Clauset–Shalizi–Newman power-law exponent MLE of the
    co-purchase degree distribution (graph.py degree_powerlaw):
    α = 1 + n/Σln(k/(k_min−½)) over the tail — the skew number that
    sizes salting factors before a shuffle is committed."""
    from hipipe_spark.operators.graph import degree_powerlaw
    return degree_powerlaw(_part_pairs(spark, sf_dir), k_min=2)


@query(oracle=f"""
      WITH e0 AS ({_PART_PAIRS_SQL}),
      deg AS (SELECT node, count(*) AS deg
              FROM (SELECT a AS node FROM e0
                    UNION ALL SELECT b FROM e0)
              GROUP BY 1),
      bo AS (SELECT CAST(da.deg AS DOUBLE) AS dx,
                    CAST(db.deg AS DOUBLE) AS dy
             FROM e0 JOIN deg da ON da.node = e0.a
                     JOIN deg db ON db.node = e0.b),
      sym AS (SELECT dx, dy FROM bo
              UNION ALL SELECT dy AS dx, dx AS dy FROM bo),
      a AS (SELECT count(*) AS m, sum(dx) AS sx, sum(dy) AS sy,
                   sum(dx * dy) AS sxy, sum(dx * dx) AS sxx,
                   sum(dy * dy) AS syy
            FROM sym)
      SELECT CAST(m / 2 AS BIGINT) AS n_edges,
             round(CASE WHEN (sxx - sx * sx / CAST(m AS DOUBLE)) > 0
                         AND (syy - sy * sy / CAST(m AS DOUBLE)) > 0
                        THEN (sxy - sx * sy / CAST(m AS DOUBLE))
                             / sqrt((sxx - sx * sx
                                     / CAST(m AS DOUBLE))
                                    * (syy - sy * sy
                                       / CAST(m AS DOUBLE)))
                   END, 6) AS r
      FROM a
    """)
def q_assortativity(spark, sf_dir):
    """Newman degree assortativity of the co-purchase graph (graph.py
    assortativity): Pearson r of endpoint degrees over symmetrized
    edges — positive means hubs link hubs (salt the hubs), negative
    means hubs link leaves (broadcast the leaf side)."""
    from hipipe_spark.operators.graph import assortativity
    return assortativity(_part_pairs(spark, sf_dir))


@query(oracle=hits_oracle_sql(
    """SELECT prev AS src, event_type AS dst FROM (
         SELECT event_type,
                lag(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev
         FROM events) WHERE prev IS NOT NULL""",
    n_iter=8, round_to=6) + " ORDER BY node")
def q_hits(spark, sf_dir):
    """HITS hubs/authorities (graph.py hits) over the same user-journey
    transition graph as q_pagerank: auth separates funnel-sink states
    from the router states hub surfaces. 8 iterations, two node-keyed
    join+agg passes each, L2 norms as 12-dp rounded handoffs so the
    unrolled DuckDB oracle (graph.py hits_oracle_sql) is engine-exact."""
    from pyspark.sql import Window
    from hipipe_spark.operators.graph import hits
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (ev.select("event_type",
                       F.lag("event_type").over(w).alias("prev"))
               .filter(F.col("prev").isNotNull())
               .select(F.col("prev").alias("src"),
                       F.col("event_type").alias("dst")))
    return hits(edges, n_iter=8, round_to=6).orderBy("node")


@query(oracle="""
      WITH e0 AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
                  FROM lineitem a JOIN lineitem b
                    ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
                  WHERE a.l_partkey % 5 = 0 AND b.l_partkey % 5 = 0),
      deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
              FROM (SELECT a AS node FROM e0
                    UNION ALL SELECT b FROM e0)
              GROUP BY 1),
      keep AS (SELECT node AS w FROM deg WHERE deg <= 30),
      adj AS (SELECT x.w, x.n FROM (
                SELECT a AS w, b AS n FROM e0
                UNION ALL SELECT b AS w, a AS n FROM e0) x
              JOIN keep USING (w)),
      wed AS (SELECT l.n AS na, r.n AS nb, d.deg AS wdeg
              FROM adj l JOIN adj r ON l.w = r.w AND l.n < r.n
              JOIN deg d ON d.node = l.w),
      p AS (SELECT na AS node_a, nb AS node_b,
                   CAST(COUNT(*) AS BIGINT) AS common,
                   SUM(CASE WHEN wdeg > 1 THEN 1.0 / ln(wdeg)
                            ELSE 0.0 END) AS aa,
                   SUM(1.0 / wdeg) AS ra
            FROM wed GROUP BY na, nb
            HAVING COUNT(*) >= 2),
      pne AS (SELECT p.* FROM p
              LEFT JOIN e0 ON e0.a = p.node_a AND e0.b = p.node_b
              WHERE e0.a IS NULL)
      SELECT node_a, node_b, common,
             round(aa, 6) AS adamic_adar,
             round(ra, 6) AS resource_alloc,
             round(CAST(common AS DOUBLE)
                   / (da.deg + db.deg - common), 6) AS jaccard
      FROM pne
      JOIN deg da ON da.node = pne.node_a
      JOIN deg db ON db.node = pne.node_b
    """)
def q_link_features(spark, sf_dir):
    """Link-prediction feature block (graph.py link_features) over the
    part co-purchase graph: common neighbors, Adamic-Adar, resource
    allocation, neighbor Jaccard for non-adjacent pairs sharing >= 2
    neighbors. Wedge equi-join through the shared neighbor (never
    all-pairs), hub neighbors capped at degree 20 before the join —
    the bipartite_project guard."""
    from hipipe_spark.operators.graph import link_features
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select("l_orderkey", "l_partkey")
          # every-5th-part subgraph: the full co-purchase graph is
          # near-complete (avg degree ~90 at sf0.01) and link
          # prediction is vacuous on a clique; the subsample leaves a
          # sparse graph where the hub cap actually prunes (27k -> 21k
          # pairs at sf0.01)
          .filter(F.col("l_partkey") % 5 == 0))
    a, b = li.alias("a"), li.alias("b")
    pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .select(F.col("a.l_partkey").alias("src"),
                     F.col("b.l_partkey").alias("dst")))
    return link_features(pairs, max_degree=30, min_common=2)


@query(oracle=k_core_oracle_sql(
    """SELECT a.l_partkey AS src, b.l_partkey AS dst
       FROM lineitem a JOIN lineitem b
         ON a.l_orderkey = b.l_orderkey
        AND a.l_partkey < b.l_partkey
       WHERE a.l_partkey % 5 = 0 AND b.l_partkey % 5 = 0""",
    k=14, n_rounds=12))
def q_kcore(spark, sf_dir):
    """k-core peel (graph.py k_core, k=14, 12 rounds) over the sparse
    co-purchase subgraph of q_link_features: iterative shell removal
    until fixpoint — the converged flag is part of the output (and of
    the oracle compare), so a truncated peel would fail loudly rather
    than pass silently. Oracle unrolls the peel into chained
    MATERIALIZED CTEs (monotone, so extra oracle rounds are no-ops)."""
    from hipipe_spark.operators.graph import k_core
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select("l_orderkey", "l_partkey")
          .filter(F.col("l_partkey") % 5 == 0))
    a, b = li.alias("a"), li.alias("b")
    pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .select(F.col("a.l_partkey").alias("src"),
                     F.col("b.l_partkey").alias("dst")))
    return k_core(pairs, k=14, n_rounds=12)
