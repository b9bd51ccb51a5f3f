"""Embedding top-k, ANN indexes, projections and n-dim array functions
(operators/similarity.py, decomposition.py, functions/ndim.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from driver_queries import query
from driver_queries.testdata import (
    det_tokens_sql, fill_list_sql, read_docs, read_embs,
)
from hipipe_spark.functions.text import tokens
from hipipe_spark.operators.decomposition import (
    apply_pca, covariance_matrix, fit_pca, random_projection_oracle_sql,
)
from hipipe_spark.operators.similarity import (
    brute_force_topk, ivf_topk, lsh_topk,
)


@query(oracle=f"""
      WITH d AS (SELECT doc_id, {det_tokens_sql('text')} AS toks
                 FROM documents WHERE doc_id % 10 = 0),
      c AS (SELECT doc_id,
                   list_transform(range(0, CAST(ceil(len(toks) / 7.0) AS INT)),
                                  i -> toks[i*7+1 : i*7+7]) AS chunks
            FROM d)
      SELECT doc_id,
             CAST(len(chunks) AS INTEGER) AS n_chunks,
             CAST(to_json(list_transform(chunks, s -> CAST(len(s) AS INTEGER)))
                  AS VARCHAR) AS chunk_lens,
             CAST(to_json([CAST(len(chunks) AS BIGINT),
                           CAST(coalesce(len(chunks[1]), 0) AS BIGINT)])
                  AS VARCHAR) AS shp,
             CAST(len(flatten(chunks)) AS INTEGER) AS n_flat,
             CAST(to_json(list_transform(chunks,
                    (s, i) -> list_transform(s, _x -> CAST(i - 1 AS BIGINT))))
                  AS VARCHAR) AS gf1,
             CAST(to_json(list_transform(chunks,
                    (s, i) -> list_transform(s,
                      (_x, j) -> CAST(coalesce(list_sum(
                                   list_transform(chunks[1:i-1], q -> len(q))), 0)
                                 + j - 1 AS BIGINT))))
                  AS VARCHAR) AS gf2,
             CAST(to_json(list_slice(
                    list_concat(flatten(chunks), {fill_list_sql('5', "'<pad>'")}),
                    1, 5)) AS VARCHAR) AS rz1,
             CAST(to_json(list_transform(range(0, 3),
                    i -> list_slice(
                      list_concat(coalesce(chunks[i + 1], CAST([] AS VARCHAR[])),
                                  {fill_list_sql('2', "'<pad>'")}),
                      1, 2))) AS VARCHAR) AS rz2
      FROM c
    """)
def q_ndim_ops(spark, sf_dir):
    """ndim utility sweep over a ragged nested array (reference
    ndim.hpp:192-209 ndim_size, :263-288 ndim_resize, :388-407 shape,
    :451-471 flat_view, :586-646 generate/gendims): per-dimension
    sizes, 1-D and 2-D resize (pad/truncate to target sizes),
    first-element shape, recursive flatten, and the depth-first counter
    fill at gendims 1 and 2 — all JSON-serialized for engine-neutral
    hashing."""
    from hipipe_spark.functions.ndim import (
        flat_view, gen_fill, ndim_resize, ndim_resize2, ndim_size,
        reshaped_view, shape)
    d = read_docs(spark, sf_dir).filter(
        F.col("doc_id") % 10 == 0)
    c = d.select(
        "doc_id",
        reshaped_view(tokens(F.lower(F.col("text"))), 7).alias("chunks"))
    return c.select(
        "doc_id",
        ndim_size(F.col("chunks"), 1).alias("n_chunks"),
        F.to_json(ndim_size(F.col("chunks"), 2)).alias("chunk_lens"),
        F.to_json(shape(F.col("chunks"), 2)).alias("shp"),
        F.size(flat_view(F.col("chunks"), 2)).alias("n_flat"),
        F.to_json(gen_fill(F.col("chunks"), 1, ndims=2)).alias("gf1"),
        F.to_json(gen_fill(F.col("chunks"), 2, ndims=2)).alias("gf2"),
        F.to_json(ndim_resize(flat_view(F.col("chunks"), 2), 5, "<pad>")
                  ).alias("rz1"),
        F.to_json(ndim_resize2(
            F.col("chunks"), 3,
            F.array(F.lit(2), F.lit(2), F.lit(2)), "<pad>")).alias("rz2"),
    )


@query(oracle="""
      WITH e AS (SELECT vec_id % 50 AS g, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      x AS (SELECT g, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
      m AS (SELECT g, pos, avg(x) AS m, count(*) AS n FROM x GROUP BY g, pos)
      SELECT CAST(g AS BIGINT) AS g,
             to_json(list(CAST(round(m * 1000000.0, 0) AS BIGINT)
                          ORDER BY pos)) AS pooled,
             CAST(max(n) AS BIGINT) AS n_vecs
      FROM m GROUP BY g
    """)
def q_embedding_pool(spark, sf_dir):
    """Element-wise mean pooling of turn embeddings into group vectors
    via posexplode + per-dimension aggregate — no per-group array
    state, no single-task stage at any group size."""
    from hipipe_spark.operators.similarity import mean_pool
    em = read_embs(spark, sf_dir).withColumn(
        "g", F.pmod(F.col("vec_id"), F.lit(50)))
    out = mean_pool(em, "g")
    # json_units: the driver's value-hash canonicalizer refuses raw
    # array columns, and float JSON rendering diverges across engines
    # -> integer micro-unit JSON (functions/rounding.py).
    from hipipe_spark.functions.rounding import json_units
    return out.select(
        "g",
        json_units("pooled", 6).alias("pooled"),
        "n_vecs")


@query(oracle="""
      WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      s AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS sc FROM c),
      cq AS (SELECT vec_id,
                    list_transform(v, x -> CAST(least(127, greatest(-127,
                      CAST(round(x * (127.0 / sc)) AS INTEGER))) AS BIGINT)) AS q
             FROM c, s),
      qq AS (SELECT vec_id, q FROM cq WHERE vec_id < 5),
      scored AS (
        SELECT qq.vec_id AS query_id, cq.vec_id AS neighbor_id,
               CAST(list_dot_product(qq.q, cq.q) AS BIGINT) AS dot_q
        FROM cq, qq WHERE cq.vec_id <> qq.vec_id)
      SELECT query_id, neighbor_id, dot_q, CAST(rank AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER
              (PARTITION BY query_id ORDER BY dot_q DESC, neighbor_id) AS rank
            FROM scored)
      WHERE rank <= 5
    """)
def q_embedding_topk_int8(spark, sf_dir):
    """int8-quantized top-k: both sides on the corpus max-|x| grid,
    ranked by the exact INTEGER dot product of the codes — every value
    in the result is an integer, so the oracle compare is bit-exact
    with no float rounding. The 4x-less-bytes scale path for ANN."""
    from hipipe_spark.operators.similarity import quantized_topk
    em = read_embs(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 5)
    return quantized_topk(em, q, k=5).select(
        "query_id", "neighbor_id", "dot_q", "rank")


@query(oracle=random_projection_oracle_sql(
    table="embeddings", id_cols=["vec_id", "label"],
    vec_expr="embedding", dims=64, k=8, seed=0, round_to=6))
def q_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss sign projection 64->8 dims
    (decomposition.random_projection): data-INDEPENDENT compression —
    no fit pass; one narrow JVM fold per row. Signs are the det
    avalanche-mix family, so the oracle bakes identical literals."""
    from hipipe_spark.operators.decomposition import random_projection
    em = read_embs(spark, sf_dir)
    return random_projection(em.select("vec_id", "label", "embedding"),
                             "embedding", dims=64, k=8, seed=0,
                             round_to=6).drop("embedding")


# Every embedding (c) and the five query vectors vec_id < 5 (q), as
# DOUBLE[]; _COSINE is their cosine, 0.0 when either norm is zero.
_EMB_QUERIES = """c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id, v FROM c WHERE vec_id < 5)"""
_COSINE = """CASE WHEN list_sum(list_transform(q.v, x -> x * x)) > 0
                     AND list_sum(list_transform(c.v, x -> x * x)) > 0
               THEN list_dot_product(q.v, c.v) /
                    (sqrt(list_sum(list_transform(q.v, x -> x * x))) *
                     sqrt(list_sum(list_transform(c.v, x -> x * x))))
               ELSE 0.0 END"""


_EMBEDDING_TOPK_ORACLE = f"""
      WITH {_EMB_QUERIES},
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_COSINE} AS cos_raw
        FROM c, q WHERE c.vec_id <> q.vec_id)
      SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
             CAST(rank AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER
              (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored)
      WHERE rank <= 5
    """


@query(oracle=_EMBEDDING_TOPK_ORACLE)
def q_embedding_topk(spark, sf_dir):
    em = read_embs(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 5)
    out = brute_force_topk(em, q, k=5)
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")


@query(oracle=f"""
      WITH {_EMB_QUERIES},
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.v, c.v) AS s_raw
        FROM c, q WHERE c.vec_id <> q.vec_id)
      SELECT query_id, neighbor_id, round(s_raw, 6) AS score,
             CAST(rank AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER
              (PARTITION BY query_id ORDER BY s_raw DESC, neighbor_id) AS rank
            FROM scored)
      WHERE rank <= 5
    """)
def q_embedding_topk_dot(spark, sf_dir):
    """Inner-product top-k (the pre-normalized-embeddings metric)."""
    em = read_embs(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 5)
    out = brute_force_topk(em, q, k=5, metric="dot")
    return out.select("query_id", "neighbor_id",
                      F.round("score", 6).alias("score"), "rank")


@query(oracle=f"""
      WITH {_EMB_QUERIES},
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               sqrt(list_sum(list_transform(range(1, len(q.v) + 1),
                    i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i])))) AS s_raw
        FROM c, q WHERE c.vec_id <> q.vec_id)
      SELECT query_id, neighbor_id, round(s_raw, 6) AS score,
             CAST(rank AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER
              (PARTITION BY query_id ORDER BY s_raw ASC, neighbor_id) AS rank
            FROM scored)
      WHERE rank <= 5
    """)
def q_embedding_topk_l2(spark, sf_dir):
    """Euclidean top-k (nearest first — ascending rank order)."""
    em = read_embs(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 5)
    out = brute_force_topk(em, q, k=5, metric="l2")
    return out.select("query_id", "neighbor_id",
                      F.round("score", 6).alias("score"), "rank")


@query(oracle=_EMBEDDING_TOPK_ORACLE)
def q_embedding_topk_numpy(spark, sf_dir):
    em = read_embs(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 5)
    out = brute_force_topk(em, q, k=5, impl="numpy")
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")


@query(oracle=_EMBEDDING_TOPK_ORACLE)
def q_embedding_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH top-k with probe_all=True: probing every bucket is
    provably the brute-force result (each corpus row lives in exactly
    one bucket), so the exact top-k oracle applies — pins the LSH
    sketch/bucket/probe/re-rank machinery in the driver gate, in the
    style of embedding_ivf_full. The approximate multi-probe path
    (probe_radius=1) is recall-tested in pytest."""
    em = read_embs(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 5)
    return lsh_topk(em, q, k=5, probe_all=True).select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")


# embedding_ivf_topk: approximate (n_probe < n_cells) -> rows-only;
# exactness at n_probe == n_cells is pinned by test_similarity_ivf.
@query(oracle=None)
def q_embedding_ivf_topk(spark, sf_dir):
    em = read_embs(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 5)
    out = ivf_topk(em, q, k=5, n_cells=16, n_probe=4)
    return out.select("query_id", "neighbor_id", "rank")


@query(oracle=_EMBEDDING_TOPK_ORACLE)
def q_embedding_ivf_full(spark, sf_dir):
    """IVF with n_probe == n_cells probes every cell — exactly the
    brute-force result, so the full DuckDB top-k oracle applies; pins
    the IVF index/search machinery (train, assignment, probe, re-rank)
    inside the driver gate, not just pytest."""
    em = read_embs(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 5)
    out = ivf_topk(em, q, k=5, n_cells=16, n_probe=16)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


@query(oracle=f"""
      WITH {_EMB_QUERIES},
      ex_scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_COSINE} AS cos_raw
        FROM c, q WHERE c.vec_id <> q.vec_id),
      ex AS (SELECT query_id, neighbor_id
             FROM (SELECT *, row_number() OVER
                     (PARTITION BY query_id
                      ORDER BY cos_raw DESC, neighbor_id) AS rank
                   FROM ex_scored)
             WHERE rank <= 5),
      s AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS sc FROM c),
      cq AS (SELECT vec_id,
                    list_transform(v, x -> CAST(least(127, greatest(-127,
                      CAST(round(x * (127.0 / sc)) AS INTEGER))) AS BIGINT)) AS q
             FROM c, s),
      qq AS (SELECT vec_id, q FROM cq WHERE vec_id < 5),
      ap_scored AS (
        SELECT qq.vec_id AS query_id, cq.vec_id AS neighbor_id,
               CAST(list_dot_product(qq.q, cq.q) AS BIGINT) AS dot_q
        FROM cq, qq WHERE cq.vec_id <> qq.vec_id),
      ap AS (SELECT query_id, neighbor_id
             FROM (SELECT *, row_number() OVER
                     (PARTITION BY query_id
                      ORDER BY dot_q DESC, neighbor_id) AS rank
                   FROM ap_scored)
             WHERE rank <= 5),
      base AS (SELECT query_id, COUNT(*) AS n_exact FROM ex GROUP BY query_id),
      h AS (SELECT ex.query_id, COUNT(*) AS n_hit
            FROM ex JOIN ap USING (query_id, neighbor_id)
            GROUP BY ex.query_id)
      SELECT b.query_id,
             CAST(n_exact AS INT) AS n_exact,
             CAST(COALESCE(n_hit, 0) AS INT) AS n_hit,
             round(CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_exact, 6) AS recall
      FROM base b LEFT JOIN h USING (query_id)
    """)
def q_ann_recall(spark, sf_dir):
    """ANN evaluation harness (similarity.py recall_at_k): per-query
    recall@5 of the int8-quantized top-k against the exact cosine
    top-k — the trust-but-verify number computed on top-k RESULTS
    (|Q|·k rows), never the corpus. Missing queries score 0, not
    NULL."""
    from hipipe_spark.operators.similarity import (
        quantized_topk, recall_at_k)
    em = read_embs(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(em, q, k=5)
    approx = quantized_topk(em, q, k=5)
    return recall_at_k(approx, exact, k=5)


@query(oracle=f"""
      WITH c AS (SELECT vec_id, label,
                        CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id, label, v FROM c WHERE vec_id < 5),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_COSINE} AS cos_raw
        FROM c, q
        WHERE c.vec_id <> q.vec_id
          AND c.label IS DISTINCT FROM q.label)
      SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
             CAST(rank AS INTEGER) AS rank
      FROM (SELECT *, row_number() OVER
              (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id)
              AS rank
            FROM scored WHERE cos_raw >= 0.1)
      WHERE rank <= 5
    """)
def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (similarity.py hard_negative_mine): per
    anchor vector, the 5 most cosine-similar corpus vectors with a
    DIFFERENT label, restricted to the semi-hard band cosine >= 0.1 —
    the contrastive-training negative sampler. Broadcast query side,
    label + band predicates inside the scan, one final top-k window."""
    from hipipe_spark.operators.similarity import hard_negative_mine
    em = read_embs(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 5)
    out = hard_negative_mine(em, q, k=5, min_sim=0.1)
    return out.select("query_id", "neighbor_id",
                      F.round("cosine", 6).alias("cosine"), "rank")


@query(oracle="""
      WITH idx AS (SELECT i.range AS i, j.range AS j
                   FROM range(8) AS i, range(8) AS j
                   WHERE j.range >= i.range),
      e AS (SELECT embedding FROM embeddings)
      SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
             round((SUM(CAST(embedding[i+1] AS DOUBLE)
                        * CAST(embedding[j+1] AS DOUBLE))
                    - SUM(CAST(embedding[i+1] AS DOUBLE))
                      * SUM(CAST(embedding[j+1] AS DOUBLE)) / COUNT(*))
                   / (COUNT(*) - 1), 6) AS cov
      FROM e CROSS JOIN idx GROUP BY i, j
    """)
def q_embedding_cov(spark, sf_dir):
    """Exact sample covariance of the first 8 embedding coordinates
    (decomposition.py covariance_matrix) — the SQL-expressible anchor
    for fit_pca's moment pass (the eigh step itself is pytest-pinned
    against numpy)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return covariance_matrix(e, "embedding", dims=8)


@query(oracle=None)
def q_embedding_pca(spark, sf_dir):
    """Distributed PCA fit (one moment pass) + JVM-side projection onto
    the top-4 components (decomposition.py). eigh is not SQL-expressible
    — rows-only driver check (disclosed); exactness vs numpy PCA is
    pytest-pinned (allclose) and the covariance input is fully oracled
    by embedding_cov."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = fit_pca(e, "embedding", k=4)
    return apply_pca(e, "embedding", model, round_to=4).select(
        "vec_id", "pc0", "pc1", "pc2", "pc3")


def _pq_adc_topk_oracle() -> str:
    # PQ-ADC oracle: regenerate the formula codebooks inline and mirror
    # every left-fold (t-ascending dist/LUT sums, s-ascending dot/xsq)
    # so each double matches the Spark expression bit-for-bit.
    _pq_m, _pq_k, _pq_ds = 4, 16, 16
    def _pq_c(s, j, t):
        return (31 * j + 17 * t + 13 * s) % 23 - 11
    def _fold(terms):
        return (f"list_reduce(list_prepend(0.0, {terms}), "
                f"(a, b) -> a + b)")
    _dist, _lut, _sqlit = [], [], []
    for s in range(_pq_m):
        t_dist = (f"list_transform(range(0, {_pq_ds}), t -> "
                  f"(cv[{s * _pq_ds} + t + 1] - CAST((31*j + 17*t "
                  f"+ {13 * s}) % 23 - 11 AS DOUBLE)) "
                  f"* (cv[{s * _pq_ds} + t + 1] - CAST((31*j + 17*t "
                  f"+ {13 * s}) % 23 - 11 AS DOUBLE)))")
        _dist.append(f"list_transform(range(0, {_pq_k}), "
                     f"j -> {_fold(t_dist)})")
        t_lut = (f"list_transform(range(0, {_pq_ds}), t -> "
                 f"qv[{s * _pq_ds} + t + 1] * CAST((31*j + 17*t "
                 f"+ {13 * s}) % 23 - 11 AS DOUBLE))")
        _lut.append(f"list_transform(range(0, {_pq_k}), "
                    f"j -> {_fold(t_lut)})")
        _sqlit.append("[" + ", ".join(
            f"{float(sum(_pq_c(s, j, t) ** 2 for t in range(_pq_ds)))}"
            for j in range(_pq_k)) + "]")
    _codes = ", ".join(
        f"CAST(list_position(d{s}, list_min(d{s})) - 1 AS INTEGER)"
        for s in range(_pq_m))
    _xsq = " + ".join(f"({_sqlit[s]})[codes[{s + 1}] + 1]"
                      for s in range(_pq_m))
    _qn = _fold("list_transform(range(0, 64), i -> qv[i+1] * qv[i+1])")
    _dot = _fold(f"list_transform(range(0, {_pq_m}), "
                 f"s -> list_extract(list_extract(lut, s + 1), "
                 f"list_extract(codes, s + 1) + 1))")
    return f"""
      WITH c0 AS (SELECT vec_id AS neighbor_id,
                         CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings),
      cd AS (SELECT neighbor_id,
                    {', '.join(f'{_dist[s]} AS d{s}'
                               for s in range(_pq_m))}
             FROM c0),
      enc AS (SELECT neighbor_id, [{_codes}] AS codes FROM cd),
      enc2 AS (SELECT neighbor_id, codes, {_xsq} AS xsq FROM enc),
      q0 AS (SELECT vec_id AS query_id,
                    CAST(embedding AS DOUBLE[]) AS qv
             FROM embeddings WHERE vec_id < 5),
      ql AS (SELECT query_id,
                    [{', '.join(_lut)}] AS lut,
                    sqrt({_qn}) AS qnorm
             FROM q0),
      sc AS (SELECT ql.query_id, enc2.neighbor_id,
                    CASE WHEN enc2.xsq > 0 AND ql.qnorm > 0
                         THEN ({_dot}) / (ql.qnorm * sqrt(enc2.xsq))
                         ELSE 0.0 END AS score
             FROM enc2 CROSS JOIN ql
             WHERE enc2.neighbor_id <> ql.query_id),
      r AS (SELECT query_id, neighbor_id, score,
                   CAST(row_number() OVER
                     (PARTITION BY query_id
                      ORDER BY score DESC, neighbor_id) AS INTEGER)
                     AS rank
            FROM sc)
      SELECT query_id, neighbor_id, round(score, 6) AS score, rank
      FROM r WHERE rank <= 5
    """


@query(oracle=_pq_adc_topk_oracle())
def q_pq_adc_topk(spark, sf_dir):
    """Product-quantization ADC top-k (similarity.py pq_topk,
    impl='jvm'): 64-dim embeddings compressed to 4 sub-codes (16
    codes/subspace) against formula codebooks — encode (per-subspace
    argmin) and query LUTs as pure unrolled JVM expressions, scoring
    = 4 array lookups per pair instead of 64 multiplies. Every double
    is bit-reproducible by the oracle (same left-fold order); trained
    codebooks (pq_train: sampled k-means++ + distributed Lloyd) are
    the production path, pytest-anchored."""
    from hipipe_spark.operators.similarity import (
        pq_formula_codebooks, pq_topk)
    em = read_embs(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 5)
    books = pq_formula_codebooks(m=4, n_codes=16, dsub=16)
    out = pq_topk(em, q, k=5, m=4, codebooks=books, impl="jvm")
    return out.select("query_id", "neighbor_id",
                      F.round("score", 6).alias("score"), "rank")
