"""Text functions, corpus pipelines, tokenizers, packing and retrieval
scoring (functions/text.py, operators/corpus.py, packing.py, bpe.py,
unigram.py, selection.py, mlp.py, ordering.py, retrieval.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from driver_queries import query
from driver_queries.testdata import (
    TRANSCRIPTS_SQL, det_tokens_sql, read_docs, read_transcripts,
)
from hipipe_spark.functions.hashing import (
    det_hash01_sql, det_hash_i64_sql, det_hash_str_i64_sql,
)
from hipipe_spark.functions.text import (
    fingerprint, punct_ratio, token_count, tokens,
)
from hipipe_spark.operators.bpe import bpe_merge_table
from hipipe_spark.operators.mlp import mlp_oracle_expr
from hipipe_spark.operators.packing import chunk_overlap
from hipipe_spark.operators.selection import dsir_weights_oracle_sql


@query(oracle=r"""
      SELECT doc_id,
             CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
             CAST(len(list_filter(
               string_split_regex(trim(regexp_replace(
                 text, '([^\p{L}\p{N}\s])', ' \1 ', 'g')), '\s+'),
               x -> x <> '')) AS INTEGER) AS n_bpe,
             CAST(length(text) AS INTEGER) AS n_chars_calc,
             round(CASE WHEN length(text) > 0 THEN
               CAST(length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS DOUBLE)
                 / length(text) ELSE 0.0 END, 6) AS punct_ratio
      FROM documents
    """)
def q_token_stats(spark, sf_dir):
    from hipipe_spark.functions.text import bpe_ish_token_count
    d = read_docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe"),
        F.length("text").cast("int").alias("n_chars_calc"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
    )


@query(oracle=f"""
      SELECT doc_id,
             md5(text) AS fp_exact,
             md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(lower(text)), '\\s+'))), ' ')) AS fp_bag,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform({det_tokens_sql('text')},
                      t -> {det_hash_str_i64_sql('t')})),
                    (acc, h) -> (acc * 131 + h) % 2147483648)
                  AS BIGINT) AS fp_roll
      FROM documents
    """)
def q_fingerprint(spark, sf_dir):
    from hipipe_spark.functions.text import rolling_fingerprint
    d = read_docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp_exact"),
        fingerprint(F.col("text")).alias("fp_bag"),
        rolling_fingerprint(F.col("text")).alias("fp_roll"),
    )


@query(oracle=rf"""
      WITH base AS (
        SELECT doc_id,
               {det_tokens_sql('text')} AS lt,
               list_filter(string_split(text, chr(10)),
                           l -> trim(l) <> '') AS lines
        FROM documents),
      g AS (
        SELECT doc_id, lines,
               CASE WHEN len(lt) >= 2 THEN
                 list_transform(range(1, len(lt)),
                                i -> array_to_string(lt[i:i+1], ' '))
               ELSE CAST([] AS VARCHAR[]) END AS g2,
               CASE WHEN len(lt) >= 3 THEN
                 list_transform(range(1, len(lt) - 1),
                                i -> array_to_string(lt[i:i+2], ' '))
               ELSE CAST([] AS VARCHAR[]) END AS g3
        FROM base)
      SELECT doc_id,
             round(CASE WHEN len(g2) > 0 THEN
               1.0 - len(list_distinct(g2)) / len(g2)
               ELSE 0.0 END, 6) AS dup_2gram_frac,
             round(CASE WHEN len(g3) > 0 THEN
               1.0 - len(list_distinct(g3)) / len(g3)
               ELSE 0.0 END, 6) AS dup_3gram_frac,
             round(CASE WHEN len(g2) > 0 THEN
               list_max(list_transform(list_distinct(g2),
                 gg -> len(list_filter(g2, x -> x = gg)))) / len(g2)
               ELSE 0.0 END, 6) AS top_2gram_frac,
             round(CASE WHEN len(lines) > 0 THEN
               1.0 - len(list_distinct(lines)) / len(lines)
               ELSE 0.0 END, 6) AS dup_line_frac,
             round(CASE WHEN COALESCE(list_aggregate(
                 list_transform(lines, l -> length(l)), 'sum'), 0) > 0
               THEN COALESCE(list_aggregate(list_transform(
                      list_filter(lines, l ->
                        len(list_filter(lines, x -> x = l)) > 1),
                      l -> length(l)), 'sum'), 0)
                    / list_aggregate(
                        list_transform(lines, l -> length(l)), 'sum')
               ELSE 0.0 END, 6) AS dup_line_char_frac
      FROM g
    """)
def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals (dup lines / dup n-grams /
    top-n-gram coverage) — one shared lowered tokenization, all pure
    array expressions, zero shuffles."""
    from hipipe_spark.functions.text import (
        dup_line_char_frac, dup_line_frac, dup_ngram_frac, top_ngram_frac,
    )
    d = read_docs(spark, sf_dir)
    ltoks = tokens(F.lower(F.col("text")))
    return d.select(
        "doc_id",
        F.round(dup_ngram_frac(F.col("text"), 2, toks=ltoks), 6)
         .alias("dup_2gram_frac"),
        F.round(dup_ngram_frac(F.col("text"), 3, toks=ltoks), 6)
         .alias("dup_3gram_frac"),
        F.round(top_ngram_frac(F.col("text"), 2, toks=ltoks), 6)
         .alias("top_2gram_frac"),
        F.round(dup_line_frac(F.col("text")), 6).alias("dup_line_frac"),
        F.round(dup_line_char_frac(F.col("text")), 6)
         .alias("dup_line_char_frac"),
    )


_SEQ_LEN = 512  # training sequence length for the packing queries


@query(oracle=r"""
      WITH t AS (
        SELECT doc_id,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+'))
                    END AS INTEGER) AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS tok_offset
        FROM t)
      SELECT doc_id, n_tok, tok_offset,
             CAST(tok_offset // 512 AS BIGINT) AS chunk_first,
             CAST((tok_offset + GREATEST(n_tok, 1) - 1) // 512
                  AS BIGINT) AS chunk_last,
             CAST((tok_offset + GREATEST(n_tok, 1) - 1) // 512
                  - tok_offset // 512 + 1 AS INTEGER) AS n_chunks
      FROM c
    """)
def q_pack_chunks(spark, sf_dir):
    """Concat-and-chunk sequence packing: every document's global token
    offset + the training-chunk span it lands in. Distributed
    exclusive cumsum (two-phase range-partitioned, no global window)."""
    from hipipe_spark.operators.packing import pack_chunks
    d = read_docs(spark, sf_dir).withColumn(
        "n_tok", token_count(F.col("text")))
    return pack_chunks(d, "doc_id", "n_tok", seq_len=_SEQ_LEN).select(
        "doc_id", "n_tok", "tok_offset", "chunk_first", "chunk_last",
        "n_chunks")


@query(oracle=r"""
      WITH t AS (
        SELECT doc_id,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+'))
                    END AS INTEGER) AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS tok_offset
        FROM t)
      SELECT CAST(tok_offset // 512 AS BIGINT) AS chunk_id,
             CAST(count(*) AS BIGINT) AS docs_started,
             CAST(SUM(LEAST(512 - tok_offset % 512,
                            CAST(n_tok AS BIGINT)))
                  AS BIGINT) AS tokens_in_chunk
      FROM c GROUP BY 1
    """)
def q_pack_stats(spark, sf_dir):
    """Per-chunk packing stats over the q_pack_chunks layout: documents
    started and tokens contributed before the chunk boundary."""
    from hipipe_spark.operators.packing import pack_chunks, pack_stats
    d = read_docs(spark, sf_dir).withColumn(
        "n_tok", token_count(F.col("text")))
    packed = pack_chunks(d, "doc_id", "n_tok", seq_len=_SEQ_LEN)
    return pack_stats(packed, "n_tok", _SEQ_LEN)


@query(oracle=r"""
      SELECT doc_id,
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g')
               AS scrubbed,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               AS INTEGER) AS n_email,
             CAST(len(regexp_extract_all(text,
               '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))
               AS INTEGER) AS n_ipv4
      FROM documents
    """)
def q_pii_scrub(spark, sf_dir):
    """PII scrub stage: email/IPv4 placeholder redaction + per-kind
    match counts. RE2-compatible patterns, so the DuckDB oracle runs
    the byte-identical regex. One narrow JVM pass, zero shuffles."""
    from hipipe_spark.functions.pii import pii_counts, scrub_pii
    d = read_docs(spark, sf_dir)
    counts = pii_counts(F.col("text"), ("email", "ipv4"))
    return d.select(
        "doc_id",
        scrub_pii(F.col("text"), ("email", "ipv4")).alias("scrubbed"),
        counts["email"].cast("int").alias("n_email"),
        counts["ipv4"].cast("int").alias("n_ipv4"),
    )


@query(oracle=r"""
      WITH l AS (
        SELECT doc_id, text,
               list_filter(string_split(text, chr(10)),
                           x -> trim(x) <> '') AS lines
        FROM documents)
      SELECT doc_id,
             round(CASE WHEN len(lines) > 0 THEN
               len(list_filter(lines,
                   x -> regexp_matches(trim(x), '[.!?"]$')))
               / len(lines) ELSE 0.0 END, 6) AS terminal_line_frac,
             round(CASE WHEN len(lines) > 0 THEN
               list_aggregate(list_transform(lines,
                   x -> len(string_split_regex(trim(x), '\s+'))),
                 'sum') / len(lines)
               ELSE 0.0 END, 6) AS mean_words_per_line,
             contains(text, '{') AS has_brace,
             contains(lower(text), 'lorem ipsum') AS has_lorem,
             contains(lower(text), 'javascript') AS has_javascript
      FROM l
    """)
def q_c4_quality(spark, sf_dir):
    """C4 cleaning-rule signals (terminal-punctuation line fraction,
    mean words per line, brace / lorem-ipsum / javascript flags) — all
    array/substring expressions, zero shuffles."""
    from hipipe_spark.functions.text import (
        c4_flags, mean_words_per_line, terminal_line_frac,
    )
    d = read_docs(spark, sf_dir)
    flags = c4_flags(F.col("text"))
    return d.select(
        "doc_id",
        F.round(terminal_line_frac(F.col("text")), 6)
         .alias("terminal_line_frac"),
        F.round(mean_words_per_line(F.col("text")), 6)
         .alias("mean_words_per_line"),
        flags["has_brace"].alias("has_brace"),
        flags["has_lorem"].alias("has_lorem"),
        flags["has_javascript"].alias("has_javascript"),
    )


@query(oracle=r"""
      SELECT word, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split_regex(trim(lower(text)),
                                             '\s+')) AS word
            FROM documents WHERE trim(text) <> '')
      GROUP BY word ORDER BY n DESC, word LIMIT 100
    """)
def q_vocab_topk(spark, sf_dir):
    """Corpus-level vocabulary: top-100 tokens by frequency with a
    deterministic (count desc, token asc) tiebreak. Explode + partially
    aggregated count — ONE shuffle on the token key, then a
    TakeOrdered; the vocabulary-building plan that holds at 100 TB."""
    d = read_docs(spark, sf_dir)
    return (d.select(F.explode(tokens(F.lower(F.col("text")))).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("word"))
            .limit(100))


@query(oracle=rf"""
      WITH base AS (
        SELECT doc_id, text,
               {det_tokens_sql('text')} AS lt,
               list_filter(string_split(text, chr(10)),
                           l -> trim(l) <> '') AS lines
        FROM documents WHERE doc_id % 25 <> 0),
      sig AS (
        SELECT doc_id, text, lt, CAST(len(lt) AS INTEGER) AS n_tok,
               CASE WHEN len(lt) >= 2 THEN
                 list_transform(range(1, len(lt)),
                                i -> array_to_string(lt[i:i+1], ' '))
               ELSE CAST([] AS VARCHAR[]) END AS g2,
               CASE WHEN len(lines) > 0 THEN
                 len(list_filter(lines,
                     x -> regexp_matches(trim(x), '[.!?"]$')))
                 / len(lines) ELSE 0.0 END AS term_frac
        FROM base),
      kept AS (
        SELECT doc_id, text, lt, n_tok FROM sig
        WHERE n_tok >= 10
          AND (CASE WHEN len(g2) > 0 THEN
                 1.0 - len(list_distinct(g2)) / len(g2)
               ELSE 0.0 END) <= 0.3
          AND term_frac >= 0.0),
      dedup AS (
        SELECT doc_id, lt, n_tok FROM kept
        QUALIFY row_number() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) = 1),
      tg AS (
        SELECT doc_id,
               CASE WHEN len(lt) >= 3 THEN
                 list_transform(range(1, len(lt) - 1),
                                i -> array_to_string(lt[i:i+2], ' '))
               ELSE CAST([] AS VARCHAR[]) END AS gr
        FROM dedup),
      base0 AS (
        SELECT doc_id,
               {det_tokens_sql('text')} AS lt
        FROM documents WHERE doc_id % 25 = 0),
      eg AS (
        SELECT doc_id,
               CASE WHEN len(lt) >= 3 THEN
                 list_transform(range(1, len(lt) - 1),
                                i -> array_to_string(lt[i:i+2], ' '))
               ELSE CAST([] AS VARCHAR[]) END AS gr
        FROM base0),
      contam AS (
        SELECT DISTINCT train_id FROM (
          SELECT t.train_id, e.test_id
          FROM (SELECT doc_id AS train_id,
                       unnest(list_distinct(gr)) AS gram FROM tg) t
          JOIN (SELECT doc_id AS test_id,
                       unnest(list_distinct(gr)) AS gram FROM eg) e
          USING (gram)
          GROUP BY 1, 2 HAVING count(*) >= 2)),
      clean AS (
        SELECT doc_id, n_tok FROM dedup
        WHERE doc_id NOT IN (SELECT train_id FROM contam)),
      c AS (
        SELECT doc_id, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS tok_offset
        FROM clean)
      SELECT doc_id, n_tok, tok_offset,
             CAST(tok_offset // 512 AS BIGINT) AS chunk_first,
             CAST((tok_offset + GREATEST(n_tok, 1) - 1) // 512
                  AS BIGINT) AS chunk_last,
             CAST((tok_offset + GREATEST(n_tok, 1) - 1) // 512
                  - tok_offset // 512 + 1 AS INTEGER) AS n_chunks
      FROM c
    """)
def q_training_pipeline(spark, sf_dir):
    """The full corpus build as ONE plan: quality+repetition filter →
    exact dedup → benchmark decontamination (eval = doc_id % 25 == 0)
    → concat-and-chunk packing. Shuffle budget: fingerprint shuffle +
    broadcast anti-join + range shuffle; the filter rides the scan."""
    from hipipe_spark.operators.corpus import CorpusFilter, build_training_set
    d = read_docs(spark, sf_dir)
    train = d.filter(F.col("doc_id") % 25 != 0)
    ev = d.filter(F.col("doc_id") % 25 == 0)
    out = build_training_set(
        train, ev, flt=CorpusFilter(min_tokens=10, max_dup_2gram=0.3),
        contam_n=3, contam_min_hits=2, seq_len=_SEQ_LEN)
    return out.select("doc_id", "n_tok", "tok_offset", "chunk_first",
                      "chunk_last", "n_chunks")


_BM25_TERMS = ["join", "dup", "vector"]  # common/rare/common in testdata


@query(oracle=rf"""
      WITH base AS (
        SELECT doc_id,
               {det_tokens_sql('text')} AS lt
        FROM documents),
      tf AS (
        SELECT doc_id,
               CAST(len(lt) AS DOUBLE) AS dl,
               CAST(len(list_filter(lt, x -> x = 'join'))
                    AS DOUBLE) AS tf0,
               CAST(len(list_filter(lt, x -> x = 'dup'))
                    AS DOUBLE) AS tf1,
               CAST(len(list_filter(lt, x -> x = 'vector'))
                    AS DOUBLE) AS tf2
        FROM base),
      st AS (
        SELECT count(*) AS n, avg(dl) AS avgdl,
               sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
               sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
               sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        FROM tf)
      SELECT doc_id,
             round(
               0.0
               + ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0
                 * (1.2 + 1.0)
                 / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
               + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1
                 * (1.2 + 1.0)
                 / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
               + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2
                 * (1.2 + 1.0)
                 / (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)),
             6) AS bm25
      FROM tf, st
      WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
    """)
def q_bm25(spark, sf_dir):
    """BM25 scoring of the corpus against a fixed query-term set —
    lexical sibling of the embedding top-k family. One dimension-sized
    stats aggregate (N, avgdl, df_t), then a single narrow scoring
    pass; nothing shuffles. Arithmetic written to be IEEE-identical in
    DuckDB (same literal folding, same operation order)."""
    from hipipe_spark.operators.retrieval import bm25_scores
    d = read_docs(spark, sf_dir)
    out = bm25_scores(d, _BM25_TERMS, "doc_id", "text", k1=1.2, b=0.75)
    return out.select("doc_id", F.round("score", 6).alias("bm25"))


@query(oracle=rf"""
      WITH base AS (
        SELECT doc_id,
               {det_tokens_sql('text')} AS lt
        FROM documents),
      tf AS (
        SELECT doc_id,
               CAST(len(list_filter(lt, x -> x = 'join')) AS DOUBLE) AS tf0,
               CAST(len(list_filter(lt, x -> x = 'dup')) AS DOUBLE) AS tf1,
               CAST(len(list_filter(lt, x -> x = 'vector')) AS DOUBLE) AS tf2
        FROM base),
      st AS (
        SELECT count(*) AS n,
               sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
               sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
               sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        FROM tf)
      SELECT doc_id,
             round(0.0
                   + tf0 * (ln((n + 1.0) / (df0 + 1.0)) + 1.0)
                   + tf1 * (ln((n + 1.0) / (df1 + 1.0)) + 1.0)
                   + tf2 * (ln((n + 1.0) / (df2 + 1.0)) + 1.0),
                   6) AS tfidf
      FROM tf, st
      WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
    """)
def q_tfidf(spark, sf_dir):
    """Raw-tf/ln-idf variant of q_bm25 — same single-scan stats-fold
    shape, linear in tf (no saturation)."""
    from hipipe_spark.operators.retrieval import tfidf_scores
    d = read_docs(spark, sf_dir)
    out = tfidf_scores(d, _BM25_TERMS, "doc_id", "text")
    return out.select("doc_id", F.round("score", 6).alias("tfidf"))


@query(oracle=f"""
      SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY {det_hash_i64_sql('doc_id', 7)}, doc_id) - 1
               AS BIGINT) AS shuffle_rank
      FROM documents
    """)
def q_det_shuffle(spark, sf_dir):
    """Deterministic global corpus shuffle: every doc's rank in the
    seeded hash permutation, assigned by the two-phase range recipe (no
    single-task sort) and bit-stable at any parallelism."""
    from hipipe_spark.operators.ordering import deterministic_shuffle
    d = read_docs(spark, sf_dir).select("doc_id")
    return deterministic_shuffle(d, "doc_id", seed=7)


@query(oracle=f"""
      WITH t AS (SELECT {det_tokens_sql('text')} AS toks FROM documents),
      t2 AS (SELECT toks FROM t WHERE len(toks) >= 1),
      uc AS (SELECT tok, count(*) AS n_tok
             FROM (SELECT unnest(toks) AS tok FROM t2) GROUP BY tok),
      pairs AS (SELECT unnest(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])) AS bg
                FROM t2 WHERE len(toks) >= 2),
      bc AS (SELECT split_part(bg, ' ', 1) AS tok_a,
                    split_part(bg, ' ', 2) AS tok_b,
                    count(*) AS n_ab
             FROM pairs GROUP BY 1, 2),
      tot AS (SELECT (SELECT CAST(sum(n_tok) AS DOUBLE) FROM uc) AS tu,
                     (SELECT CAST(count(*) AS DOUBLE) FROM pairs) AS tb)
      SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab,
             round(ln((CAST(n_ab AS DOUBLE) / tb)
                      / ((CAST(a.n_tok AS DOUBLE) / tu)
                         * (CAST(b.n_tok AS DOUBLE) / tu))), 5) + 0.0 AS pmi
      FROM bc JOIN uc a ON bc.tok_a = a.tok
              JOIN uc b ON bc.tok_b = b.tok
              CROSS JOIN tot
      WHERE n_ab >= 5
    """)
def q_bigram_pmi(spark, sf_dir):
    """Collocation mining: PMI of adjacent token pairs with count >= 5
    (the surviving set is integer-determined — no float-boundary
    top-k), one shared tokenization + keyed counts + two equi-joins."""
    from hipipe_spark.operators.retrieval import bigram_pmi
    d = read_docs(spark, sf_dir)
    out = bigram_pmi(d, min_count=5)
    # round_norm: PMI of an exactly-independent pair rounds to zero
    # from below in DuckDB (-0.0) but +0.0 in Spark (r4 driver red on
    # exactly one such cell) — functions/rounding.py.
    from hipipe_spark.functions.rounding import round_norm
    return out.select("tok_a", "tok_b", "n_ab",
                      round_norm("pmi", 5).alias("pmi"))


@query(oracle=f"""
      WITH d AS (SELECT doc_id, {det_tokens_sql('text')} AS toks
                 FROM documents WHERE doc_id % 10 = 0),
      b AS (SELECT doc_id,
                   list_transform(toks,
                     t -> CAST(({det_hash_str_i64_sql('t', 0)}) % 16 AS INTEGER)) AS bk
            FROM d)
      SELECT doc_id,
             to_json(list_transform(range(0, 16),
               bb -> CAST(len(list_filter(bk, x -> x = bb)) AS INTEGER)))
               AS fv
      FROM b
    """)
def q_hash_features(spark, sf_dir):
    """Feature-hashing-trick count vectors (dim=16): scan-local, zero
    shuffle, integer-exact via the det-hash family (subset of docs —
    the per-token string hash is O(len) on the DuckDB side)."""
    from hipipe_spark.functions.text import hashed_count_vector
    d = read_docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    # to_json: raw array output columns break the driver canonicalizer
    # (functions/rounding.py); integer JSON renders identically.
    return d.select(
        "doc_id",
        F.to_json(hashed_count_vector(F.col("text"), dim=16)).alias("fv"))


@query(oracle=f"""
      WITH d AS (SELECT doc_id AS id, {det_tokens_sql('text')} AS toks
                 FROM documents),
      tok AS (SELECT id, unnest(toks) AS tok FROM d),
      c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
      st AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
                    CAST(count(*) AS DOUBLE) AS vocab FROM c),
      lp AS (SELECT tok, ln((cnt + 0.5) / (total + 0.5 * vocab)) AS lnp
             FROM c, st),
      agg AS (SELECT t.id, CAST(count(*) AS BIGINT) AS n_tokens,
                     sum(l.lnp) / count(*) AS logprob
              FROM tok t JOIN lp l USING (tok) GROUP BY t.id)
      SELECT d.id, COALESCE(agg.n_tokens, 0) AS n_tokens,
             round(agg.logprob, 5) AS logprob
      FROM d LEFT JOIN agg USING (id)
    """)
def q_unigram_logprob(spark, sf_dir):
    """Mean unigram log-probability of each doc under the corpus's own
    token distribution (Laplace-smoothed) — the in-container stand-in
    for CCNet's KenLM perplexity quality filter."""
    from hipipe_spark.operators.retrieval import unigram_logprob
    d = read_docs(spark, sf_dir)
    out = unigram_logprob(d, "doc_id", "text", alpha=0.5)
    return out.select("id", "n_tokens",
                      F.round("logprob", 5).alias("logprob"))


@query(oracle=r"""
      WITH src AS (
        SELECT doc_id,
          CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
               ELSE len(string_split_regex(trim(text), '\s+'))
               END AS DOUBLE) AS w,
          CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS DOUBLE) AS s,
          CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS DOUBLE) AS yraw,
          CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
               AS DOUBLE) AS c
        FROM documents WHERE doc_id % 4 = 0),
      n AS (SELECT doc_id, w, s, greatest(w, yraw) AS y, c FROM src)
      SELECT doc_id,
        CASE WHEN w > 0 THEN
          round(206.835 - 1.015 * (w / s) - 84.6 * (y / w), 4)
        END AS fre,
        CASE WHEN w > 0 THEN
          round(0.39 * (w / s) + 11.8 * (y / w) - 15.59, 4)
        END AS fkgl,
        CASE WHEN w > 0 THEN
          round(4.71 * (c / w) + 0.5 * (w / s) - 21.43, 4)
        END AS ari
      FROM n
    """)
def q_readability(spark, sf_dir):
    """Flesch Reading Ease / Flesch-Kincaid grade / ARI
    (functions/text.readability): three shared JVM regex counts, all
    indices one narrow projection — the classic quality-filter axes
    next to quality_score."""
    from hipipe_spark.functions.text import readability
    d = read_docs(spark, sf_dir).filter(F.col("doc_id") % 4 == 0)
    cols = readability(F.col("text"))
    return d.select("doc_id",
                    *[c.alias(n) for n, c in cols.items()])


@query(oracle=r"""
      WITH t AS (
        SELECT doc_id, text,
          CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\s+') END AS toks,
          CASE WHEN trim(lower(text)) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\s+') END AS ltoks
        FROM documents
      ), m AS (
        SELECT doc_id, text,
          len(toks) AS n,
          CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) / length(text) ELSE 0.0 END AS punct,
          CASE WHEN len(ltoks) > 0 THEN len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is','in','that','it','a','an','as','at','by','for','on','with'], x))) / len(ltoks) ELSE 0.0 END AS stopr,
          CASE WHEN len(toks) > 0 THEN list_sum(list_transform(toks, x -> length(x))) / len(toks) ELSE 0.0 END AS mwl,
          len(list_filter(ltoks, x -> list_contains(['der','die','und','das','ist','nicht','ein','mit'], x))) AS s_de,
          len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is','in','that','it'], x))) AS s_en,
          len(list_filter(ltoks, x -> list_contains(['el','la','de','que','y','los','una','por'], x))) AS s_es,
          len(list_filter(ltoks, x -> list_contains(['le','la','les','des','est','une','dans','que'], x))) AS s_fr
        FROM t
      ), scored AS (
        SELECT doc_id,
          CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
               WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
               WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
               WHEN s_fr > 0 THEN 'fr'
               ELSE 'und' END AS lang_pred,
          round((least(n / 20.0, 1.0)
               + greatest(0.0, 1.0 - punct * 4.0)
               + least(stopr * 4.0, 1.0)
               + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.0 END)) / 4.0, 4) AS quality,
          CAST(n AS INTEGER) AS n_tokens,
          md5(text) AS fp
        FROM m
      )
      SELECT doc_id, lang_pred, quality, n_tokens, fp
      FROM (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM scored WHERE quality >= 0.5)
      WHERE rn = 1
    """)
def q_corpus_pipeline(spark, sf_dir):
    """End-to-end training-corpus pipeline over `documents`: language-ID
    + quality score -> quality gate -> exact-dedup (keep lowest doc_id
    per md5 fingerprint) -> token stats. One narrow scan + one
    fingerprint-partitioned window; fully oracle-checked."""
    from hipipe_spark.functions.text import (
        exact_fingerprint, lang_id, quality_score, token_count, tokens,
    )
    d = read_docs(spark, sf_dir)
    # tokenize ONCE and share (a separate non-cheap projection that
    # CollapseProject keeps, so the split runs once per row instead of
    # once per feature — HOF lambdas get no subexpression elimination)
    t = d.withColumn("__toks", tokens(F.lower(F.col("text"))))
    tk = F.col("__toks")
    scored = t.select(
        "doc_id",
        lang_id(F.col("text"), tk).alias("lang_pred"),
        F.round(quality_score(F.col("text"), tk), 4).alias("quality"),
        token_count(F.col("text"), tk).alias("n_tokens"),
        exact_fingerprint(F.col("text")).alias("fp"),
    )
    good = scored.filter(F.col("quality") >= 0.5)
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (good.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn"))


@query(oracle=rf"""
      WITH t AS (
        SELECT doc_id, text,
          CASE WHEN trim(text) = '' THEN []
               ELSE string_split_regex(trim(text), '\s+') END AS toks,
          CASE WHEN trim(lower(text)) = '' THEN []
               ELSE string_split_regex(trim(lower(text)), '\s+') END AS ltoks
        FROM documents),
      m AS (
        SELECT doc_id,
          CAST(len(toks) AS DOUBLE) AS f_ntok,
          CASE WHEN length(text) > 0
               THEN length(regexp_replace(text, '[\p{{L}}\p{{N}}\s]', '', 'g')) / length(text)
               ELSE 0.0 END AS f_punct,
          CASE WHEN len(ltoks) > 0
               THEN len(list_filter(ltoks, x -> list_contains(
                    ['the','and','of','to','is','in','that','it',
                     'a','an','as','at','by','for','on','with'], x))) / len(ltoks)
               ELSE 0.0 END AS f_stop,
          CASE WHEN len(toks) > 0
               THEN list_sum(list_transform(toks, x -> length(x))) / len(toks)
               ELSE 0.0 END AS f_mwl
        FROM t)
      SELECT doc_id, round({mlp_oracle_expr()}, 6) AS mlp_score FROM m
    """)
def q_quality_mlp(spark, sf_dir):
    """REAL model inference through InferenceStage: the
    vendored deterministic numpy MLP (operators/mlp.py) scores every
    document — JVM feature extraction, broadcast weights, per-worker
    loader, Arrow batch forward pass. Dyadic weights + ReLU + pinned
    accumulation order make the score bit-identical to the SQL oracle
    with the weights folded in as literals (the bm25 pattern)."""
    from hipipe_spark.operators.mlp import score_quality_mlp
    d = read_docs(spark, sf_dir).select("doc_id", "text")
    return score_quality_mlp(d).select(
        "doc_id", F.round("mlp_score", 6).alias("mlp_score"))


@query(oracle=r"""
      WITH t AS (
        SELECT doc_id, text,
          CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\s+') END AS toks,
          CASE WHEN trim(lower(text)) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\s+') END AS ltoks
        FROM documents
      ), m AS (
        SELECT doc_id,
          len(toks) AS n,
          CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) / length(text) ELSE 0.0 END AS punct,
          CASE WHEN len(ltoks) > 0 THEN len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is','in','that','it','a','an','as','at','by','for','on','with'], x))) / len(ltoks) ELSE 0.0 END AS stopr,
          CASE WHEN len(toks) > 0 THEN list_sum(list_transform(toks, x -> length(x))) / len(toks) ELSE 0.0 END AS mwl,
          len(list_filter(ltoks, x -> list_contains(['der','die','und','das','ist','nicht','ein','mit'], x))) AS s_de,
          len(list_filter(ltoks, x -> list_contains(['the','and','of','to','is','in','that','it'], x))) AS s_en,
          len(list_filter(ltoks, x -> list_contains(['el','la','de','que','y','los','una','por'], x))) AS s_es,
          len(list_filter(ltoks, x -> list_contains(['le','la','les','des','est','une','dans','que'], x))) AS s_fr
        FROM t
      )
      SELECT doc_id,
        CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
             WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
             WHEN s_fr > 0 THEN 'fr'
             ELSE 'und' END AS lang_pred,
        round((least(n / 20.0, 1.0)
             + greatest(0.0, 1.0 - punct * 4.0)
             + least(stopr * 4.0, 1.0)
             + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.0 END)) / 4.0, 4) AS quality
      FROM m
    """)
def q_quality_lang(spark, sf_dir):
    from hipipe_spark.functions.text import lang_id, quality_score, tokens
    d = read_docs(spark, sf_dir)
    t = d.withColumn("__toks", tokens(F.lower(F.col("text"))))
    return t.select(
        "doc_id",
        lang_id(F.col("text"), F.col("__toks")).alias("lang_pred"),
        F.round(quality_score(F.col("text"), F.col("__toks")), 4).alias("quality"),
    )


@query(oracle=None)
def q_bpe_merges(spark, sf_dir):
    """First 8 BPE merges learned distributed over documents.text
    (bpe.py). Iterative driver-loop algorithm — no single SQL oracle
    exists (rows-only driver check, disclosed); exactness is pinned to
    the pure-Python reference in tests/test_bpe.py."""
    return bpe_merge_table(read_docs(spark, sf_dir), text_col="text", k=8)


@query(oracle=rf"""
      WITH d AS (SELECT doc_id,
             {det_tokens_sql('text')} AS toks
           FROM documents),
      s AS (SELECT doc_id, toks, len(toks) AS n
            FROM d WHERE len(toks) > 0),
      c AS (SELECT doc_id, toks, n,
             UNNEST(range(0, CAST(ceil(greatest(0, n - 50) / 30.0)
                                  AS BIGINT) + 1)) AS ci
            FROM s)
      SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
             CAST(ci * 30 AS INT) AS chunk_start,
             CAST(least(50, n - ci * 30) AS INT) AS chunk_len,
             array_to_string(
               toks[CAST(ci * 30 + 1 AS BIGINT)
                    : CAST(least(ci * 30 + 50, n) AS BIGINT)], ' ')
               AS chunk_text
      FROM c
    """)
def q_chunk_overlap(spark, sf_dir):
    """Sliding-window chunking of long documents (packing.py
    chunk_overlap): window 50 tokens, stride 30 (20-token overlap);
    stops at the first chunk reaching the document end. Pure per-row
    explode arithmetic — no shuffle."""
    d = read_docs(spark, sf_dir)
    toks = d.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))
    out = chunk_overlap(toks, "toks", window=50, stride=30,
                        id_cols=("doc_id",), out_col="chunk")
    return out.select(
        "doc_id", "chunk_idx", "chunk_start", "chunk_len",
        F.concat_ws(" ", F.col("chunk")).alias("chunk_text"))


@query(oracle=f"""
      WITH d AS (SELECT doc_id AS id, {det_tokens_sql('text')} AS toks
                 FROM documents),
      ev AS (SELECT id,
                    unnest(list_prepend(chr(2), toks)) AS ctx,
                    unnest(list_append(toks, chr(3))) AS nxt
             FROM d),
      big AS (SELECT ctx, nxt, COUNT(*) AS cb FROM ev GROUP BY ctx, nxt),
      cx AS (SELECT ctx, CAST(SUM(cb) AS DOUBLE) AS cc FROM big GROUP BY ctx),
      v AS (SELECT CAST(COUNT(DISTINCT nxt) AS DOUBLE) AS vv FROM ev),
      sc AS (SELECT e.id,
                    ln((COALESCE(b.cb, 0) + 0.5)
                       / (COALESCE(c.cc, 0) + 0.5 * v.vv)) AS lnp
             FROM ev e
             LEFT JOIN big b ON e.ctx = b.ctx AND e.nxt = b.nxt
             LEFT JOIN cx c ON e.ctx = c.ctx
             CROSS JOIN v)
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_events,
             round(AVG(lnp), 5) AS logprob,
             round(exp(-AVG(lnp)), 4) AS ppl
      FROM sc GROUP BY id
    """)
def q_bigram_ppl(spark, sf_dir):
    """Bigram-LM self-perplexity (retrieval.py bigram_perplexity):
    add-k bigram model fitted on the corpus itself, each doc scored by
    mean transition log-prob over BOS..EOS — the sequence-aware step up
    from the unigram KenLM stand-in. Counts ≪ corpus; two equi-joins."""
    from hipipe_spark.operators.retrieval import bigram_perplexity
    out = bigram_perplexity(read_docs(spark, sf_dir), k=0.5)
    return out.select("id", "n_events",
                      F.round("logprob", 5).alias("logprob"),
                      F.round("ppl", 4).alias("ppl"))


@query(oracle=r"""
      WITH a AS (
        SELECT source, lang, COUNT(*) AS n_docs,
               SUM(length(text)) AS n_chars,
               SUM(CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+'))
                   END) AS n_tokens,
               round(AVG(length(text)), 6) AS mean_chars
        FROM documents GROUP BY source, lang)
      SELECT source, lang,
             CAST(n_docs AS BIGINT) AS n_docs,
             CAST(n_chars AS BIGINT) AS n_chars,
             CAST(n_tokens AS BIGINT) AS n_tokens,
             mean_chars,
             round(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), 6)
               AS doc_share,
             round(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6)
               AS token_share
      FROM a
    """)
def q_source_report(spark, sf_dir):
    """Corpus-composition governance table (corpus.py source_report):
    per source×lang doc/char/token counts + corpus shares. One
    map-side-combinable agg; the share divisions run on the group-sized
    frame (dimension-sized, constant cost at any corpus size)."""
    from hipipe_spark.operators.corpus import source_report
    return source_report(read_docs(spark, sf_dir))


@query(oracle="""
      SELECT doc_id, source, n_chars
      FROM (SELECT doc_id, source, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id)
                     AS rk
            FROM documents)
      WHERE rk <= 30
    """)
def q_source_cap(spark, sf_dir):
    """Dominance capping (corpus.py cap_per_group): keep the 30
    longest docs per source (C4-style per-domain cap), ties -> min
    doc_id; one window exchange on the source key."""
    from hipipe_spark.operators.corpus import cap_per_group
    d = read_docs(spark, sf_dir)
    return cap_per_group(d, "source", cap=30, order_by="n_chars")\
        .select("doc_id", "source", "n_chars")


@query(oracle=f"""
      WITH d AS (SELECT doc_id AS id, {det_tokens_sql('text')} AS toks
                 FROM documents),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM d),
      p AS (SELECT id, unnest(toks) AS term FROM d),
      tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf
             FROM p GROUP BY id, term),
      dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY term HAVING count(*) >= 2),
      s AS (SELECT tf.id, tf.term, tf.tf, dfr.df,
                   round(tf.tf * (ln((nd + 1.0) / (dfr.df + 1.0)) + 1.0), 6)
                     AS score
            FROM tf JOIN dfr USING (term) CROSS JOIN nn),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY id ORDER BY score DESC, term ASC) AS rk
            FROM s)
      SELECT id, term, tf, df, score, CAST(rk AS INTEGER) AS "rank"
      FROM r WHERE rk <= 3
    """)
def q_distinctive_terms(spark, sf_dir):
    """Per-document keyword extraction (retrieval.py
    distinctive_terms): top-3 TF-IDF terms per doc over the real
    inverted index (explode → tf → df → join → per-doc top-k window);
    min_df=2 prunes hapax terms before the join."""
    from hipipe_spark.operators.retrieval import distinctive_terms
    return distinctive_terms(read_docs(spark, sf_dir), top_k=3, min_df=2)


@query(oracle=f"""
      WITH t AS ({TRANSCRIPTS_SQL})
      SELECT conv_id, turn_idx,
             CAST(CASE WHEN trim(text) LIKE '%?' THEN 1 ELSE 0 END
                  AS INTEGER) AS is_question,
             CAST(CASE WHEN position('```' IN text) > 0 THEN 1 ELSE 0
                  END AS INTEGER) AS has_code,
             CAST(CASE WHEN position('http://' IN text) > 0
                         OR position('https://' IN text) > 0
                  THEN 1 ELSE 0 END AS INTEGER) AS has_url,
             CAST(len(string_split(text, chr(10))) AS INTEGER)
               AS n_lines,
             CAST(CASE WHEN trim(text) LIKE '%.'
                         OR trim(text) LIKE '%!'
                         OR trim(text) LIKE '%?'
                  THEN 1 ELSE 0 END AS INTEGER) AS ends_clean
      FROM t
    """)
def q_turn_flags(spark, sf_dir):
    """Dialogue-act/structure flags per turn (text.py dialogue_flags):
    question / code-fence / URL / line-count / clean-ending signals as
    pure contains/suffix JVM expressions — zero shuffle, pushed onto
    the scan."""
    from hipipe_spark.functions.text import dialogue_flags
    t = read_transcripts(spark, sf_dir)
    flags = dialogue_flags(F.col("text"))
    return t.select("conv_id", "turn_idx",
                    *[c.alias(n) for n, c in flags.items()])


@query(oracle=f"""
      WITH d AS (SELECT doc_id AS id, {det_tokens_sql('text')} AS toks
                 FROM documents),
      pp AS (SELECT id,
                    list_concat(list_concat([chr(2), chr(2)], toks),
                                [chr(3)]) AS p
             FROM d),
      ev AS (SELECT id,
                    unnest(p[1:len(p) - 2]) AS u,
                    unnest(p[2:len(p) - 1]) AS v,
                    unnest(p[3:len(p)]) AS w
             FROM pp),
      tri AS (SELECT u, v, w, count(*) AS c3 FROM ev GROUP BY u, v, w),
      ctx3 AS (SELECT u, v, CAST(sum(c3) AS DOUBLE) AS cc3
               FROM tri GROUP BY u, v),
      bi AS (SELECT v, w, CAST(sum(c3) AS BIGINT) AS c2
             FROM tri GROUP BY v, w),
      ctx1 AS (SELECT v, CAST(sum(c2) AS DOUBLE) AS cc1
               FROM bi GROUP BY v),
      uni AS (SELECT w, CAST(sum(c2) AS BIGINT) AS cu FROM bi GROUP BY w),
      nv AS (SELECT CAST(sum(cu) AS DOUBLE) AS nn,
                    CAST(count(*) AS DOUBLE) AS vv
             FROM uni),
      sc AS (SELECT e.id,
               ln(CASE WHEN COALESCE(t.c3, 0) > 0 THEN t.c3 / x3.cc3
                       WHEN COALESCE(b.c2, 0) > 0
                         THEN 0.4 * b.c2 / x1.cc1
                       ELSE 0.4 * 0.4 * (COALESCE(un.cu, 0) + 0.5)
                            / (nv.nn + 0.5 * nv.vv) END) AS lns
             FROM ev e
             LEFT JOIN tri t USING (u, v, w)
             LEFT JOIN ctx3 x3 USING (u, v)
             LEFT JOIN bi b USING (v, w)
             LEFT JOIN ctx1 x1 USING (v)
             LEFT JOIN uni un USING (w)
             CROSS JOIN nv)
      SELECT id, CAST(count(*) AS BIGINT) AS n_events,
             round(avg(lns), 5) AS sb_logscore,
             round(exp(-avg(lns)), 4) AS sb_ppl
      FROM sc GROUP BY id
    """)
def q_sb_ppl(spark, sf_dir):
    """Trigram Stupid Backoff self-scoring (retrieval.py
    stupid_backoff_logprob — Brants et al. 2007): counts-only web-scale
    LM; every count table cascades from ONE trigram aggregate, scoring
    is five equi-joins vs Heaps'-sized tables. The quality-filter rung
    above bigram_ppl."""
    from hipipe_spark.operators.retrieval import stupid_backoff_logprob
    out = stupid_backoff_logprob(read_docs(spark, sf_dir))
    return out.select(
        "id", "n_events",
        F.round("sb_logscore", 5).alias("sb_logscore"),
        F.round("sb_ppl", 4).alias("sb_ppl"))


@query(oracle=f"""
      WITH m AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
      base AS (SELECT CAST(least(9, floor((doc_id - m.lo) * 10.0
                                          / (m.hi - m.lo + 1))) AS INT) AS bin,
                      {det_tokens_sql('text')} AS toks
               FROM documents, m),
      per_bin AS (SELECT bin, count(*) AS n_docs,
                         sum(len(toks)) AS n_toks
                  FROM base GROUP BY bin),
      fb AS (SELECT token, min(bin) AS fbin
             FROM (SELECT bin, unnest(toks) AS token FROM base)
             GROUP BY token),
      nn AS (SELECT fbin, count(*) AS n_new FROM fb GROUP BY fbin),
      grid AS (SELECT CAST(range AS INT) AS bin FROM range(10))
      SELECT grid.bin,
             CAST(sum(COALESCE(n_docs, 0)) OVER (ORDER BY grid.bin)
                  AS BIGINT) AS docs_cum,
             CAST(sum(COALESCE(n_toks, 0)) OVER (ORDER BY grid.bin)
                  AS BIGINT) AS tokens_cum,
             CAST(sum(COALESCE(n_new, 0)) OVER (ORDER BY grid.bin)
                  AS BIGINT) AS vocab_cum,
             round(CASE WHEN sum(COALESCE(n_toks, 0)) OVER (ORDER BY grid.bin) > 0
                   THEN sum(COALESCE(n_new, 0)) OVER (ORDER BY grid.bin)
                        / CAST(sum(COALESCE(n_toks, 0)) OVER (ORDER BY grid.bin)
                               AS DOUBLE) END, 6) AS ttr
      FROM grid
      LEFT JOIN per_bin ON per_bin.bin = grid.bin
      LEFT JOIN nn ON nn.fbin = grid.bin
    """)
def q_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth curve (corpus.py vocab_growth):
    cumulative docs / tokens / distinct vocabulary / type-token ratio
    at 10 arrival-order checkpoints. One explode->groupBy(token)
    shuffle (min first-occurrence bin per token); everything after the
    two aggregates is 10-row dimension arithmetic."""
    from hipipe_spark.operators.corpus import vocab_growth
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_growth(docs, n_checkpoints=10)


@query(oracle=dsir_weights_oracle_sql(n_buckets=1024))
def q_dsir(spark, sf_dir):
    """DSIR importance log-weights (selection.py dsir_weights — Xie et
    al. 2023): hashed unigram+bigram multinomials, target = doc_id%7
    slice vs the full raw pool, det hash family so DuckDB replicates
    every bucket id. Both fitted distributions are broadcast
    n_buckets-row tables; scoring is one doc-key aggregate."""
    from hipipe_spark.operators.selection import dsir_weights
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    return dsir_weights(docs, target, n_buckets=1024,
                        hash_family="det")


def _dsir_select_oracle() -> str:
    _g = (f"-ln(-ln(greatest({det_hash01_sql('doc_id', 3)}, 1e-12)))")
    return f"""
      WITH w AS ({dsir_weights_oracle_sql(n_buckets=1024)})
      SELECT doc_id, n_features, dsir_logweight,
             round(dsir_logweight / 1.0 + {_g}, 6) AS gumbel_score
      FROM w
      ORDER BY gumbel_score DESC, doc_id ASC
      LIMIT 50
    """


@query(oracle=_dsir_select_oracle())
def q_dsir_select(spark, sf_dir):
    """Deterministic Gumbel top-k resampling over DSIR log-weights
    (selection.py gumbel_topk): key-derived Gumbel noise, global top-k
    via TakeOrderedAndProject — the selection step that turns weights
    into a training subset."""
    from hipipe_spark.operators.selection import dsir_weights, gumbel_topk
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    w = dsir_weights(docs, target, n_buckets=1024, hash_family="det")
    return gumbel_topk(w, "dsir_logweight", 50, seed=3)


@query(oracle="""
      WITH d AS (SELECT doc_id % 25 AS q, doc_id, n_chars AS len_key,
                        (doc_id * 37) % 1000 AS hash_key
                 FROM documents),
      ra AS (SELECT q, doc_id,
                    row_number() OVER (PARTITION BY q
                      ORDER BY len_key DESC, doc_id) AS rank
             FROM d),
      rb AS (SELECT q, doc_id,
                    row_number() OVER (PARTITION BY q
                      ORDER BY hash_key ASC, doc_id) AS rank
             FROM d),
      runs AS (SELECT * FROM ra WHERE rank <= 10
               UNION ALL SELECT * FROM rb WHERE rank <= 10),
      s AS (SELECT q AS query_id, doc_id,
                   sum(1.0 / (60 + rank)) AS sc,
                   CAST(count(*) AS BIGINT) AS n_sources
            FROM runs GROUP BY q, doc_id)
      SELECT query_id, doc_id, round(sc, 6) AS rrf_score, n_sources,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY sc DESC, doc_id ASC) AS INTEGER) AS fused_rank
      FROM s
    """)
def q_rrf(spark, sf_dir):
    """Reciprocal Rank Fusion (retrieval.py rrf_fuse): two synthetic
    per-query runs over documents (25 query groups; run A = length
    ranking, run B = a derived-hash ranking), top-10 each, fused with
    k=60. One (query, doc) shuffle + one query-partitioned window."""
    from hipipe_spark.operators.retrieval import rrf_fuse
    d = read_docs(spark, sf_dir).select(
        (F.col("doc_id") % 25).alias("q"), "doc_id",
        F.col("n_chars").alias("len_key"),
        ((F.col("doc_id") * 37) % 1000).alias("hash_key"))
    wa = Window.partitionBy("q").orderBy(F.col("len_key").desc(), "doc_id")
    wb = Window.partitionBy("q").orderBy(F.col("hash_key").asc(), "doc_id")
    run_a = (d.withColumn("rank", F.row_number().over(wa))
             .filter(F.col("rank") <= 10).select("q", "doc_id", "rank"))
    run_b = (d.withColumn("rank", F.row_number().over(wb))
             .filter(F.col("rank") <= 10).select("q", "doc_id", "rank"))
    return rrf_fuse(run_a.unionAll(run_b), k=60,
                    query="q", doc="doc_id", rank="rank")


@query(oracle=f"""
      WITH ta AS (SELECT unnest({det_tokens_sql('text')}) AS term,
                         1 AS ia, 0 AS ib
                  FROM documents WHERE doc_id % 2 = 0
                  UNION ALL
                  SELECT unnest({det_tokens_sql('text')}), 0, 1
                  FROM documents WHERE doc_id % 2 = 1),
      c AS (SELECT term, sum(ia) AS ya, sum(ib) AS yb
            FROM ta GROUP BY 1),
      s AS (SELECT *, sum(ya) OVER () AS na, sum(yb) OVER () AS nb
            FROM c),
      f AS (SELECT *, 100.0 * (ya + yb) / (na + nb) AS aw
            FROM s WHERE ya + yb >= 10),
      sc AS (SELECT term, CAST(ya AS BIGINT) AS y_a,
                    CAST(yb AS BIGINT) AS y_b,
                    round((ln((ya + aw) / (na + 100.0 - ya - aw))
                           - ln((yb + aw) / (nb + 100.0 - yb - aw)))
                          / sqrt(1.0 / (ya + aw) + 1.0 / (yb + aw)),
                          6) AS z
             FROM f),
      ra AS (SELECT *, row_number() OVER (ORDER BY z DESC, term) AS r
             FROM sc),
      rb AS (SELECT *, row_number() OVER (ORDER BY z ASC, term) AS r
             FROM sc)
      SELECT term, y_a, y_b, z, 'a' AS side FROM ra WHERE r <= 30
      UNION ALL
      SELECT term, y_a, y_b, z, 'b' FROM rb WHERE r <= 30
    """)
def q_log_odds(spark, sf_dir):
    """Monroe et al. "Fightin' Words" log-odds with informative
    Dirichlet prior (retrieval.py log_odds_terms): which terms
    distinguish even-id documents from odd-id ones — the principled
    distinctive-vocabulary statistic (the pooled prior shrinks rare
    terms raw log-odds overweights)."""
    from hipipe_spark.operators.retrieval import log_odds_terms
    d = read_docs(spark, sf_dir)
    a = d.where(F.col("doc_id") % 2 == 0)
    b = d.where(F.col("doc_id") % 2 == 1)
    return log_odds_terms(a, b, "text", alpha0=100.0,
                          min_count=10, top_k=30)


@query(oracle=f"""
      WITH d AS (SELECT doc_id AS id, {det_tokens_sql('text')} AS toks
                 FROM documents),
      ev AS (SELECT id,
                    unnest(list_prepend(chr(2), toks)) AS ctx,
                    unnest(list_append(toks, chr(3))) AS nxt
             FROM d),
      big AS (SELECT ctx, nxt, COUNT(*) AS cb FROM ev GROUP BY ctx, nxt),
      cx AS (SELECT ctx, CAST(SUM(cb) AS DOUBLE) AS cc,
                    CAST(COUNT(*) AS DOUBLE) AS n1c
             FROM big GROUP BY ctx),
      co AS (SELECT nxt, CAST(COUNT(*) AS DOUBLE) AS n1l
             FROM big GROUP BY nxt),
      bt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS bb FROM big),
      sc AS (SELECT e.id,
                    ln((greatest(CAST(b.cb AS DOUBLE) - 0.75, 0.0)
                        + 0.75 * c.n1c * (o.n1l / bt.bb)) / c.cc) AS lnp
             FROM ev e
             JOIN big b ON e.ctx = b.ctx AND e.nxt = b.nxt
             JOIN cx c ON e.ctx = c.ctx
             JOIN co o ON e.nxt = o.nxt
             CROSS JOIN bt)
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_events,
             round(AVG(lnp), 5) AS logprob,
             round(exp(-AVG(lnp)), 4) AS ppl
      FROM sc GROUP BY id
    """)
def q_kn_ppl(spark, sf_dir):
    """Interpolated Kneser-Ney bigram self-perplexity (retrieval.py
    kneser_ney_perplexity, d=0.75): the KenLM smoothing — discounted
    bigram MLE interpolated with the continuation probability
    (distinct-context counts), one persisted count table, three
    equi-joins. Oracle replicates the count tables and the identical
    IEEE probability expression in DuckDB CTEs."""
    from hipipe_spark.operators.retrieval import kneser_ney_perplexity
    d = read_docs(spark, sf_dir)
    out = kneser_ney_perplexity(d, "doc_id", "text", discount=0.75)
    return out.select("id", "n_events",
                      F.round("logprob", 5).alias("logprob"),
                      F.round("ppl", 4).alias("ppl"))


@query(oracle=None)
def q_compress_ratio(spark, sf_dir):
    """zlib compression-ratio quality signal (functions/text.py
    compression_ratio): DEFLATE is not SQL-expressible, so this is a
    rows-only driver row (disclosed) — values are pytest-pinned
    against direct zlib.compress in tests/test_round4_ops.py. The
    UDF is Arrow-vectorized (one Python call per batch), scan-local,
    shuffle-free."""
    from hipipe_spark.functions.text import compression_ratio
    d = read_docs(spark, sf_dir)
    return d.select("doc_id",
                    F.round(compression_ratio(F.col("text")), 6)
                     .alias("compress_ratio"))


# (doc_id, n_raw, n_comp) of every 20th of the first 500 documents at
# sf0.01, then at sf0.1: UTF-8 byte length and zlib.compress(level 6)
# byte length, pinned so oracle_sql() reads no data. The oracle keys
# each row on (doc_id, n_raw), which tells the two SFs apart. Recompute
# with [(i, len(b), len(zlib.compress(b, 6))) for i, b in rows] over
# `SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0 AND doc_id
# < 500`, texts UTF-8 encoded.
_COMPRESS_PINNED = (
    (0, 157, 99), (20, 394, 179), (40, 421, 186), (60, 493, 213),
    (80, 172, 109), (100, 461, 208), (120, 211, 122), (140, 157, 105),
    (160, 246, 129), (180, 185, 118), (200, 303, 151), (220, 553, 230),
    (240, 380, 183), (260, 134, 90), (280, 470, 215), (300, 216, 123),
    (320, 405, 188), (340, 247, 136), (360, 443, 195), (380, 443, 198),
    (400, 134, 96), (420, 461, 197), (440, 243, 134), (460, 261, 146),
    (480, 359, 164),
    (0, 292, 149), (20, 372, 176), (40, 491, 212), (60, 153, 97),
    (80, 309, 159), (100, 262, 136), (120, 423, 196), (140, 268, 146),
    (160, 342, 170), (180, 75, 66), (200, 129, 92), (220, 410, 185),
    (240, 501, 214), (260, 464, 200), (280, 380, 177), (300, 93, 67),
    (320, 505, 218), (340, 509, 224), (360, 277, 147), (380, 104, 80),
    (400, 486, 208), (420, 350, 167), (440, 179, 114), (460, 505, 212),
    (480, 154, 102),
)


def _compress_pinned_oracle() -> str:
    # DEFLATE pinned-literal oracle: zlib.compress(level 6) byte
    # counts of the pinned documents, recorded once as literals
    # (_COMPRESS_PINNED) — verifies the Arrow pandas_udf plumbing
    # end-to-end with integer byte counts. Same pattern as
    # quality_mlp's weights-as-literals and media_decode's replica.
    # Joining on (doc_id, byte length) picks the rows pinned for the
    # SF being checked; a text that changed fails on row count (new
    # length) or on n_comp.
    _cp_vals = ", ".join(f"({i}, {r}, {c})" for i, r, c in _COMPRESS_PINNED)
    return f"""
      SELECT CAST(p.doc_id AS BIGINT) AS doc_id,
             CAST(p.n_raw AS INTEGER) AS n_raw,
             CAST(p.n_comp AS BIGINT) AS n_comp
      FROM (VALUES {_cp_vals}) AS p(doc_id, n_raw, n_comp)
      JOIN documents d ON d.doc_id = p.doc_id AND strlen(d.text) = p.n_raw
    """


@query(oracle=_compress_pinned_oracle())
def q_compress_pinned(spark, sf_dir):
    """VALUE-checked driver row for the DEFLATE path: zlib-compressed
    byte length of the pinned documents (``_COMPRESS_PINNED``) through
    the real Arrow-batched pandas_udf, compared against pinned
    ``zlib.compress`` literals in the oracle (the media_decode
    weights-as-literals pattern). Integer byte counts, so the
    cross-engine compare is bit-exact with zero float discipline; the
    full-corpus float-ratio query (q_compress_ratio) stays rows-only.
    The filter is the pinned doc_id list, so the row count is the same
    at every SF; values are pinned for sf0.01 and sf0.1."""
    from hipipe_spark.functions.text import compressed_size
    d = read_docs(spark, sf_dir).filter(
        F.col("doc_id").isin(sorted({i for i, _, _ in _COMPRESS_PINNED})))
    return d.select("doc_id",
                    F.octet_length("text").alias("n_raw"),
                    compressed_size(F.col("text")).alias("n_comp"))


@query(oracle=r"""
      SELECT doc_id,
             CAST(length(regexp_replace(lower(coalesce(text, '')),
                                        '\s+', '', 'g')) AS INT)
               AS n_chars_in,
             CAST(length(regexp_replace(lower(coalesce(text, '')),
                                        '\s+', '', 'g')) AS INT)
               AS n_piece_chars,
             TRUE AS lossless
      FROM documents
    """)
def q_unigram_roundtrip(spark, sf_dir):
    """Unigram-LM tokenizer round-trip gate (unigram.unigram_train /
    unigram_segment): train on a bounded hash-sample (two cluster
    jobs at any vocab size — the bpe_merge_table sample_cap policy),
    Viterbi-segment every document with an Arrow-batched pandas_udf,
    and emit the LOSSLESSNESS invariant the oracle can recompute
    from raw text alone: concatenated piece characters must equal
    the whitespace-stripped lowercased text, doc by doc. The
    segmentation itself (an iterative EM artifact) is pytest-pinned;
    this driver row value-checks that no character is ever dropped
    or duplicated by the DP."""
    from hipipe_spark.operators.unigram import (
        unigram_segment, unigram_train,
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = unigram_train(docs.where("doc_id % 7 = 0"), "text",
                          vocab_size=150, sample_cap=3000,
                          max_piece_len=5, n_em=2)
    seg = unigram_segment(docs, vocab, "text", out="pieces",
                          max_piece_len=5)
    stripped = F.length(F.regexp_replace(
        F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", ""))
    piece_chars = F.aggregate(
        F.col("pieces"), F.lit(0),
        lambda acc, x: acc + F.length(x))
    return seg.select(
        "doc_id",
        stripped.cast("int").alias("n_chars_in"),
        piece_chars.cast("int").alias("n_piece_chars"),
        (piece_chars == stripped).alias("lossless"))


@query(oracle="""
      WITH w AS (SELECT unnest(string_split_regex(trim(lower(text)),
                                                  '\\s+')) AS w
                 FROM documents WHERE trim(text) <> ''),
      wc AS (SELECT w, count(*) AS c FROM w WHERE w <> '' GROUP BY w),
      a AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tokens,
                   CAST(count(*) AS DOUBLE) AS n_types,
                   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                        AS DOUBLE) AS f1,
                   CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                        AS DOUBLE) AS f2
            FROM wc)
      SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(n_types AS BIGINT) AS n_types,
             CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
             round(CASE WHEN f2 > 0 THEN n_types + f1*f1/(2.0*f2)
                   ELSE n_types + f1*(f1 - 1.0)/(2.0*(f2 + 1.0)) END, 6)
               AS chao1,
             round(CASE WHEN n_tokens > 0 THEN f1/n_tokens END, 6)
               AS gt_unseen,
             round(1.0 - CASE WHEN n_tokens > 0
                         THEN f1/n_tokens END, 6) AS coverage
      FROM a
    """)
def q_vocab_richness(spark, sf_dir):
    """Chao1 + Good-Turing vocabulary projection over documents
    (retrieval.vocab_richness): frequency-of-frequencies reduce on
    the vocab table - the asymptote bound and unseen-mass price next
    to Heaps-law vocab_growth."""
    from hipipe_spark.operators.retrieval import vocab_richness
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_richness(docs, "text")
