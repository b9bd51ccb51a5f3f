"""Exact and near-duplicate detection, substring dedup, contamination and
record linkage (operators/dedup.py, spans.py, contamination.py,
linkage.py, boilerplate.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from driver_queries import query
from driver_queries.testdata import (
    TRANSCRIPTS_SQL, det_tokens_sql, read_docs, read_embs, read_transcripts,
)
from hipipe_spark.functions.text import tokens
from hipipe_spark.operators.dedup import (
    embedding_near_pairs, exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs,
    simhash_near_pairs,
)
from hipipe_spark.operators.spans import substring_dedup_oracle_sql


@query(oracle="""
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    """)
def q_exact_dedup(spark, sf_dir):
    d = read_docs(spark, sf_dir)
    return exact_dedup(d, "text", "doc_id").select("doc_id")


@query(oracle=rf"""
      WITH base AS (
        SELECT doc_id,
               {det_tokens_sql('text')} AS lt
        FROM documents),
      g AS (
        SELECT doc_id,
               CASE WHEN len(lt) >= 3 THEN
                 list_transform(range(1, len(lt) - 1),
                                i -> array_to_string(lt[i:i+2], ' '))
               ELSE CAST([] AS VARCHAR[]) END AS gr
        FROM base),
      tr AS (SELECT doc_id AS train_id,
                    unnest(list_distinct(gr)) AS gram
             FROM g WHERE doc_id % 25 <> 0),
      te AS (SELECT doc_id AS test_id,
                    unnest(list_distinct(gr)) AS gram
             FROM g WHERE doc_id % 25 = 0)
      SELECT train_id, test_id,
             CAST(count(*) AS INTEGER) AS n_shared_grams
      FROM tr JOIN te USING (gram)
      GROUP BY 1, 2 HAVING count(*) >= 2
    """)
def q_contamination(spark, sf_dir):
    """Benchmark decontamination check: distinct word-3-gram overlap
    between the train split (doc_id % 25 != 0) and the eval split
    (doc_id % 25 == 0); pairs sharing >= 2 grams. Eval side broadcast —
    the train corpus is never shuffled on raw text."""
    from hipipe_spark.operators.contamination import contamination_pairs
    d = read_docs(spark, sf_dir)
    train = d.filter(F.col("doc_id") % 25 != 0)
    test = d.filter(F.col("doc_id") % 25 == 0)
    return contamination_pairs(train, test, "doc_id", "text",
                               n=3, min_hits=2)


@query(oracle=f"""
      WITH tok AS (SELECT doc_id, {det_tokens_sql('text')} AS lt
                   FROM documents),
      c AS (SELECT doc_id,
                   list_transform(range(0, CAST(ceil(len(lt) / 2.0) AS INT)),
                                  i -> array_to_string(lt[i*2+1 : i*2+2], ' '))
                     AS lines
            FROM tok),
      ex AS (SELECT DISTINCT doc_id, unnest(lines) AS line FROM c),
      f AS (SELECT line FROM ex GROUP BY line HAVING count(*) >= 25),
      fl AS (SELECT coalesce(list(line), CAST([] AS VARCHAR[])) AS freq
             FROM f)
      SELECT doc_id,
             coalesce(array_to_string(list_filter(lines,
                               x -> NOT list_contains(freq, x)), chr(10)), '')
               AS clean_text,
             CAST(len(lines) AS INTEGER) AS n_lines,
             CAST(len(lines) - len(list_filter(lines,
                               x -> NOT list_contains(freq, x))) AS INTEGER)
               AS n_removed
      FROM c, fl
    """)
def q_boilerplate_lines(spark, sf_dir):
    """CCNet/RefinedWeb line-level boilerplate removal: lines occurring
    in ≥25 distinct docs are stripped, survivors rejoined in order.
    Testdata text is single-line, so 2-token pseudo-lines (the pad_mask2
    chunk idiom) stand in for real lines on BOTH engines."""
    from hipipe_spark.functions.ndim import reshaped_view
    from hipipe_spark.operators.boilerplate import remove_frequent_lines
    d = read_docs(spark, sf_dir).select(
        "doc_id",
        F.transform(reshaped_view(tokens(F.lower(F.col("text"))), 2),
                    lambda s: F.array_join(s, " ")).alias("lines"))
    out = remove_frequent_lines(d, min_docs=25)
    return out.select(
        "doc_id",
        F.array_join("clean_lines", "\n").alias("clean_text"),
        "n_lines", "n_removed")


# Distinct lower-cased word tokens g (toks) and their count sz (sizes)
# per non-blank document of every 20th doc_id; _SHARED_TOKENS counts
# the tokens each doc pair has in common (inter).
_TOKEN_SETS = r"""d AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
      toks AS (
        SELECT doc_id,
               unnest(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS g
        FROM d WHERE trim(text) <> ''),
      sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id)"""
_SHARED_TOKENS = """shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM toks a JOIN toks b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2)"""


_NGRAM_JACCARD_ORACLE = rf"""
      WITH {_TOKEN_SETS},
      {_SHARED_TOKENS}
      SELECT id_a, id_b,
             round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
      FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
    """


@query(oracle=_NGRAM_JACCARD_ORACLE)
def q_ngram_jaccard(spark, sf_dir):
    d = read_docs(spark, sf_dir).filter(
        F.col("doc_id") % 20 == 0
    )
    return ngram_jaccard_pairs(d, "doc_id", "text", n=1, threshold=0.5)\
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(oracle=rf"""
      WITH RECURSIVE {_TOKEN_SETS},
      {_SHARED_TOKENS},
      pr AS (
        SELECT id_a, id_b FROM shared
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
      e AS (SELECT id_a AS a, id_b AS b FROM pr
            UNION SELECT id_b, id_a FROM pr),
      reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
      SELECT d.doc_id,
             least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component,
             d.doc_id = least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS keep
      FROM d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id
    """)
def q_dedup_clusters(spark, sf_dir):
    """Corpus near-dup removal end-to-end: n-gram Jaccard pairs ->
    connected components (distributed min-label propagation) -> keep
    canonical min-id doc per cluster."""
    from hipipe_spark.operators.dedup import dedup_clusters
    d = read_docs(spark, sf_dir).filter(
        F.col("doc_id") % 20 == 0)
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=1, threshold=0.5)
    return dedup_clusters(d, pairs, id_col="doc_id")


def _minhash_det_oracle(n_hashes: int = 32, bands: int = 16,
                        threshold: float = 0.5) -> str:
    """DuckDB replica of q_minhash_lsh (hash_family="det"): exact-dup
    prepass (star edges), word-1-gram shingles, LCG minhash signatures,
    band slices as bucket keys, candidate equi-join, exact set-Jaccard
    verify. Every hash value is bit-identical to the Spark side
    (functions/hashing.py det family)."""
    from hipipe_spark.functions.hashing import (
        det_hash_i64_sql, det_hash_str_i64_sql)
    rpb = n_hashes // bands
    base = det_hash_str_i64_sql("s", 0)
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> {det_hash_i64_sql('h', i)}))"
        for i in range(n_hashes))
    banded = " UNION ALL ".join(
        f"SELECT id, {b} AS band, sig[{b * rpb + 1}:{(b + 1) * rpb}] AS bh FROM sig"
        for b in range(bands))
    return f"""
      WITH d AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 20 = 0),
      rep AS (SELECT id, text, min(id) OVER (PARTITION BY md5(text)) AS rep FROM d),
      star AS (SELECT rep AS id_a, id AS id_b, 1.0 AS jaccard FROM rep WHERE id <> rep),
      sh AS (SELECT id, list_distinct({det_tokens_sql('text')}) AS sh
             FROM rep WHERE id = rep),
      hs AS (SELECT id, sh, list_transform(sh, s -> {base}) AS hs FROM sh),
      sig AS (SELECT id, [{sig_items}] AS sig FROM hs),
      banded AS ({banded}),
      cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
               FROM banded a JOIN banded b
                 ON a.band = b.band AND a.bh = b.bh AND a.id < b.id),
      verified AS (
        SELECT c.id_a, c.id_b,
               CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) > 0
                    THEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(sa.sh, sb.sh)))
                    ELSE 0.0 END AS jaccard
        FROM cand c JOIN hs sa ON sa.id = c.id_a JOIN hs sb ON sb.id = c.id_b)
      SELECT id_a, id_b, round(jaccard, 6) AS jaccard
      FROM verified WHERE jaccard >= {threshold}
      UNION ALL
      SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM star
    """


@query(oracle=_minhash_det_oracle())
def q_minhash_lsh(spark, sf_dir):
    """Full MinHash+LSH pipeline with hash_family="det": the signature
    hashes are the LCG/polynomial family a DuckDB oracle reproduces
    bit-for-bit, so shingle→minhash→band→bucket-join→verify is checked
    end-to-end by the driver, exact-dup prepass included (star edges,
    jaccard 1.0)."""
    d = read_docs(spark, sf_dir).filter(
        F.col("doc_id") % 20 == 0
    )
    return minhash_lsh_pairs(
        d, "doc_id", "text", shingle="word", shingle_k=1,
        n_hashes=32, bands=16, jaccard_threshold=0.5, hash_family="det",
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _simhash_det_oracle(bits: int = 60, n_blocks: int = 4,
                        max_hamming: int = 8) -> str:
    """DuckDB replica of q_simhash (hash_family="det", 60-bit): per-token
    LCG bit streams, sign-of-sum bit assembly, 4×15-bit pigeonhole
    candidate rule (shares ≥1 block), hamming verify via bit_count(xor),
    exact-dup prepass star edges."""
    from hipipe_spark.functions.hashing import (
        det_hash_i64_sql, det_hash_str_i64_sql)
    from hipipe_spark.operators.dedup import SIMHASH_DET_SEED
    blk_w = bits // n_blocks
    mask = (1 << blk_w) - 1
    base = det_hash_str_i64_sql("t", 0)
    terms = " + ".join(
        f"(CASE WHEN COALESCE(list_sum(list_transform(hs, h -> "
        f"CASE WHEN (({det_hash_i64_sql('h', SIMHASH_DET_SEED + i)}) >> 15) & 1 = 1 "
        f"THEN 1 ELSE -1 END)), 0) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits))
    blocks_eq = " OR ".join(
        f"(((a.simhash >> {b * blk_w}) & {mask}) = "
        f"((b.simhash >> {b * blk_w}) & {mask}))"
        for b in range(n_blocks))
    return f"""
      WITH d AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 20 = 0),
      rep AS (SELECT id, text, min(id) OVER (PARTITION BY md5(text)) AS rep FROM d),
      star AS (SELECT rep AS id_a, id AS id_b, 0 AS hamming FROM rep WHERE id <> rep),
      tok AS (SELECT id, {det_tokens_sql('text')} AS toks FROM rep WHERE id = rep),
      hs AS (SELECT id, list_transform(toks, t -> {base}) AS hs FROM tok),
      sim AS (SELECT id, CAST({terms} AS BIGINT) AS simhash FROM hs),
      p AS (SELECT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM sim a JOIN sim b ON a.id < b.id AND ({blocks_eq}))
      SELECT id_a, id_b, hamming FROM p WHERE hamming <= {max_hamming}
      UNION ALL
      SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming FROM star
    """


@query(oracle=_simhash_det_oracle())
def q_simhash(spark, sf_dir):
    """SimHash near-pairs with hash_family="det" (60-bit hash, 4×15-bit
    pigeonhole blocks) — every bit stream reproducible in DuckDB, so the
    whole tokenize→simhash→block-join→hamming-verify path is oracled."""
    d = read_docs(spark, sf_dir).filter(
        F.col("doc_id") % 20 == 0
    )
    out = simhash_near_pairs(d, "doc_id", "text", max_hamming=8,
                             bits=60, n_blocks=4, hash_family="det")
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _winnow_pairs_oracle_sql(src_sql: str, k: int, w: int,
                             cap: int, threshold: float,
                             max_df: int | None = None) -> str:
    """DuckDB replay of winnow_fingerprints + winnow_pairs
    (operators/dedup.py): the exact MOSS selection — poly-31 k-gram
    fold over codepoints, LCG double-round mix, rightmost-tie window
    min via the (h*256 + 255-pos) int64 packing — then the
    fingerprint equi-join scored by overlap coefficient.
    ``src_sql`` must yield columns (wid, wtext)."""
    from hipipe_spark.functions.hashing import _A, _C, _M
    hub = (f"hubs AS (SELECT fp FROM fp GROUP BY fp "
           f"HAVING count(*) > {int(max_df)}),\n"
           "      kept AS (SELECT f.wid, f.fp FROM fp f\n"
           "               LEFT JOIN hubs h ON f.fp = h.fp "
           "WHERE h.fp IS NULL),"
           ) if max_df is not None else \
          "kept AS (SELECT wid, fp FROM fp),"
    return f"""
      WITH d AS (SELECT wid,
                        substring(lower(coalesce(wtext, '')), 1, {cap}) AS t
                 FROM ({src_sql})),
      nn AS (SELECT wid, t, length(t) - {k} + 1 AS n
             FROM d WHERE length(t) - {k} + 1 >= {w}),
      b AS (SELECT wid, n,
        list_transform(range(1, n + 1), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(i, i + {k}),
                           j -> CAST(ascii(substring(t, j, 1)) AS BIGINT))),
            (acc, x) -> (acc * 31 + x) % {_M})) AS hs
        FROM nn),
      m AS (SELECT wid, n,
        list_transform(hs,
          x -> ((x * {_A} + {_C}) % {_M} * {_A} + {_C}) % {_M}) AS mh
        FROM b),
      e AS (SELECT wid, n,
        list_transform(range(1, n + 1),
                       i -> mh[i] * 256 + (255 - i)) AS encs FROM m),
      mi AS (SELECT wid,
        list_distinct(list_transform(
          list_transform(range({w}, n + 1),
                         p -> list_min(encs[p - {w} + 1 : p])),
          v -> v // 256)) AS fps
        FROM e),
      fp AS (SELECT wid, unnest(fps) AS fp FROM mi),
      sizes AS (SELECT wid, count(*) AS n_fp FROM fp GROUP BY wid),
      {hub}
      shared AS (SELECT a.wid AS id_a, b2.wid AS id_b,
                        count(*) AS n_shared
                 FROM kept a JOIN kept b2 ON a.fp = b2.fp
                 WHERE a.wid < b2.wid GROUP BY 1, 2),
      j AS (SELECT id_a, id_b, n_shared,
                   sa.n_fp AS n_a, sb.n_fp AS n_b,
                   round(n_shared / least(sa.n_fp, sb.n_fp), 6) AS sim
            FROM shared
            JOIN sizes sa ON sa.wid = id_a
            JOIN sizes sb ON sb.wid = id_b)
      SELECT id_a, id_b, n_shared, n_a, n_b, sim
      FROM j WHERE sim >= {threshold}
    """


@query(oracle=_winnow_pairs_oracle_sql(
    src_sql=("WITH t AS (" + TRANSCRIPTS_SQL + ") "
             "SELECT conv_id AS wid, "
             "string_agg(role || ': ' || text, chr(10) "
             "ORDER BY turn_idx, role, text) AS wtext "
             "FROM t GROUP BY conv_id"),
    k=5, w=4, cap=240, max_df=100, threshold=0.1))
def q_conv_winnow(spark, sf_dir):
    """Conversation-level near-dup pairs: render transcripts to text
    (transcripts.render_conversations — oracle-pinned by
    render_convs), then the winnowing local-guarantee fingerprint
    tier over the rendered string. The transcript twin of
    winnow_dedup: shared dialogue spans >= w+k-1 chars can never be
    missed.

    The templated transcripts share few distinct fingerprints (363
    over 1500 conversations at sf0.1), so an absolute ``max_df``
    prunes more of them as the corpus grows. ``max_df=100`` with
    ``threshold=0.1`` keeps pairs at sf0.01 (5215) and at sf0.1 (70);
    ``max_df=60`` with ``threshold=0.2`` leaves none at sf0.1, where
    the best overlap is then 0.128."""
    from hipipe_spark.operators.dedup import (
        winnow_fingerprints, winnow_pairs,
    )
    from hipipe_spark.operators.transcripts import render_conversations
    t = read_transcripts(spark, sf_dir)
    r = render_conversations(t, template="plain").select(
        "conv_id", "rendered")
    fps = winnow_fingerprints(r, "conv_id", "rendered", k=5, w=4,
                              max_len=240)
    return winnow_pairs(fps, "conv_id", threshold=0.1, max_df=100)


# winnow: DuckDB replays the exact fingerprint selection
# (poly-31 k-gram fold -> LCG double-round mix -> rightmost-tie
# window min via the (h*256 + 255-pos) packing) then the pair join.
@query(oracle=_winnow_pairs_oracle_sql(
    src_sql=("SELECT doc_id AS wid, text AS wtext FROM documents "
             "WHERE doc_id % 5 = 0"),
    k=5, w=4, cap=240, max_df=50, threshold=0.25))
def q_winnow_dedup(spark, sf_dir):
    """Winnowing (MOSS) fingerprint near-dup pairs — the LOCAL-guarantee
    tier of the dedup family: any shared substring of length >= w+k-1
    yields a shared fingerprint. Every hash is the det LCG family, so
    the full fingerprint→pair pipeline is bit-reproducible in DuckDB."""
    from hipipe_spark.operators.dedup import winnow_fingerprints, winnow_pairs
    d = read_docs(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    fps = winnow_fingerprints(d, "doc_id", "text", k=5, w=4, max_len=240)
    return winnow_pairs(fps, "doc_id", threshold=0.25, max_df=50)


@query(oracle="""
      WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CASE WHEN list_sum(list_transform(a.v, x -> x * x)) > 0
                     AND list_sum(list_transform(b.v, x -> x * x)) > 0
               THEN list_dot_product(a.v, b.v) /
                    (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
                     sqrt(list_sum(list_transform(b.v, x -> x * x))))
               ELSE 0.0 END AS cos_raw
        FROM c a JOIN c b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b, round(cos_raw, 6) AS cosine
      FROM scored WHERE cos_raw >= 0.3
    """)
def q_embedding_near_dup(spark, sf_dir):
    em = read_embs(spark, sf_dir)
    out = embedding_near_pairs(em, threshold=0.3, brute_force=True)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


@query(oracle=rf"""
      WITH {_TOKEN_SETS},
      hubs AS (SELECT g FROM toks GROUP BY g HAVING count(*) > 20),
      ct AS (SELECT doc_id, g FROM toks WHERE g NOT IN (SELECT g FROM hubs)),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM ct a JOIN ct b ON a.g = b.g AND a.doc_id < b.doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                FROM toks a JOIN toks b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT c.id_a, c.id_b,
             round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) AS jaccard
      FROM cand c
      JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= 0.5
    """)
def q_ngram_jaccard_capped(spark, sf_dir):
    """The hub-gram-guard configuration of ngram_jaccard: ``max_df``
    drops grams appearing in more than max_df docs from
    CANDIDATE GENERATION (a gram shared by f docs fans out O(f²) join
    rows — one stopword gram melts the inverted-index join at corpus
    scale); verification still uses the full gram sets, so reported
    jaccard values stay exact. The oracle mirrors the doc-frequency
    exclusion bit-for-bit. max_df=20 here drops the ~18 heaviest
    template grams (df 21-23 of 23 docs) from the inverted index while
    every true pair still shares a below-cap gram — identical output to
    the uncapped query, with the quadratic hub fan-out bounded."""
    d = read_docs(spark, sf_dir).filter(F.col("doc_id") % 20 == 0)
    return ngram_jaccard_pairs(d, "doc_id", "text", n=1, threshold=0.5,
                               max_df=20)\
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(oracle=rf"""
      WITH {_TOKEN_SETS},
      hubs AS (SELECT g FROM toks GROUP BY g HAVING count(*) > 20),
      ct AS (SELECT doc_id, g FROM toks WHERE g NOT IN (SELECT g FROM hubs)),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM ct a JOIN ct b ON a.g = b.g AND a.doc_id < b.doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                FROM toks a JOIN toks b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT c.id_a, c.id_b,
             round(CAST(i.inter AS DOUBLE) / sa.sz, 6) AS c_a_in_b,
             round(CAST(i.inter AS DOUBLE) / sb.sz, 6) AS c_b_in_a
      FROM cand c
      JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE CAST(i.inter AS DOUBLE) / sa.sz >= 0.6
         OR CAST(i.inter AS DOUBLE) / sb.sz >= 0.6
    """)
def q_ngram_containment(spark, sf_dir):
    """Asymmetric n-gram containment |A∩B|/|A| — the quote/snippet
    detector: a short doc pasted into a long one has tiny jaccard but
    containment ≈ 1. Same inverted-index candidate generation and
    max_df hub guard as the jaccard family; full-set verify keeps the
    reported values exact."""
    from hipipe_spark.operators.dedup import ngram_containment_pairs
    d = read_docs(spark, sf_dir).filter(F.col("doc_id") % 20 == 0)
    return ngram_containment_pairs(d, "doc_id", "text", n=1,
                                   threshold=0.6, max_df=20)\
        .select("id_a", "id_b",
                F.round("c_a_in_b", 6).alias("c_a_in_b"),
                F.round("c_b_in_a", 6).alias("c_b_in_a"))


@query(oracle=rf"""
      WITH RECURSIVE {_TOKEN_SETS},
      {_SHARED_TOKENS},
      pr AS (
        SELECT id_a, id_b FROM shared
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
      e AS (SELECT id_a AS a, id_b AS b FROM pr
            UNION SELECT id_b, id_a FROM pr),
      reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
      comp AS (
        SELECT d.doc_id,
               least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component
        FROM d LEFT JOIN reach r ON r.a = d.doc_id
        GROUP BY d.doc_id)
      SELECT c.doc_id, c.component,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY length(d2.text) DESC, c.doc_id)
               = 1 AS keep
      FROM comp c JOIN d d2 ON d2.doc_id = c.doc_id
    """)
def q_dedup_keep_best(spark, sf_dir):
    """Near-dup removal keeping the BEST cluster member instead of the
    min id (dedup.py dedup_clusters keep_by): canonical = longest text
    (ties → min id) — the production knob (keep the highest-quality
    copy). Same clustering as dedup_clusters + one component-keyed
    window."""
    from hipipe_spark.operators.dedup import dedup_clusters
    d = read_docs(spark, sf_dir).filter(F.col("doc_id") % 20 == 0)\
        .withColumn("qlen", F.length("text"))
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=1, threshold=0.5)
    return dedup_clusters(d, pairs, id_col="doc_id", keep_by="qlen")


@query(oracle=_NGRAM_JACCARD_ORACLE)
def q_ngram_jaccard_prefix(spark, sf_dir):
    """PREFIX-FILTERED exact Jaccard join (dedup.py
    ngram_jaccard_prefix_pairs): the inverted index holds only each
    doc's rarest ``|x| − ⌈t·|x|⌉ + 1`` grams (global order = ascending
    doc frequency), plus a size-ratio length filter — complete by the
    prefix-filtering principle, so the output is IDENTICAL to
    ngram_jaccard while hub grams never reach the candidate join.
    Oracle = the same plain inverted-index SQL, proving equivalence."""
    from hipipe_spark.operators.dedup import ngram_jaccard_prefix_pairs
    d = read_docs(spark, sf_dir).filter(F.col("doc_id") % 20 == 0)
    return ngram_jaccard_prefix_pairs(d, "doc_id", "text", n=1,
                                      threshold=0.5)\
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(oracle=f"""
      WITH aug AS (
        SELECT substr(ft, 1, 1) || substr(ft, 3) AS text
        FROM (SELECT list_filter({det_tokens_sql('text')},
                                 t -> length(t) >= 5)[1] AS ft
              FROM documents WHERE doc_id % 7 = 0)
        WHERE ft IS NOT NULL),
      corpus AS (SELECT text FROM documents
                 UNION ALL SELECT text FROM aug),
      wds AS (SELECT unnest({det_tokens_sql('text')}) AS w
              FROM corpus),
      v AS (SELECT w, count(*) AS n FROM wds
            WHERE length(w) >= 4 GROUP BY w),
      k AS (SELECT w, n,
                   unnest(list_distinct(list_concat([w],
                     list_transform(range(1, length(w) + 1),
                       i -> substr(w, 1, i - 1) || substr(w, i + 1)))))
                     AS kk
            FROM v),
      cand AS (SELECT DISTINCT a.w AS word_a, b.w AS word_b,
                      a.n AS n_a, b.n AS n_b
               FROM k a JOIN k b ON a.kk = b.kk AND a.w < b.w)
      SELECT word_a, word_b,
             CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             CAST(levenshtein(word_a, word_b) AS INTEGER) AS dist,
             round(CAST(greatest(n_a, n_b) AS DOUBLE) / least(n_a, n_b), 6)
               AS freq_ratio
      FROM cand WHERE levenshtein(word_a, word_b) <= 1
    """)
def q_typo_pairs(spark, sf_dir):
    """SymSpell/FastSS fuzzy vocabulary matching (dedup.py
    fuzzy_token_pairs): every distinct token pair within Levenshtein
    distance 1, found via the deletion-neighborhood complete candidate
    generator — O(word_len) keys per VOCAB entry (never per corpus
    row), equi-join on shared variants, Levenshtein verify on
    candidates only. freq_ratio separates typo→correction pairs from
    inflection pairs. The synthetic vocabulary has no distance-1
    pairs, so every 7th doc contributes a deterministic typo (its
    first ≥5-char token with the 2nd character deleted) — the oracle
    must recover exactly those pairs."""
    from hipipe_spark.functions.text import tokens
    from hipipe_spark.operators.dedup import fuzzy_token_pairs
    d = read_docs(spark, sf_dir)
    toks = F.filter(tokens(F.lower(F.col("text"))),
                    lambda t: F.length(t) >= 5)
    first = F.get(toks, 0)
    typo = F.concat(first.substr(F.lit(1), F.lit(1)),
                    first.substr(F.lit(3), F.length(first)))
    aug = (d.filter(F.col("doc_id") % 7 == 0)
            .select(typo.alias("text"))
            .filter(F.col("text").isNotNull()))
    corpus = d.select("text").unionByName(aug)
    return fuzzy_token_pairs(corpus, min_len=4)


@query(oracle=substring_dedup_oracle_sql(window=8))
def q_substring_dedup(spark, sf_dir):
    """Distributed exact substring dedup (spans.py substring_dedup —
    Lee et al. 2022 semantics): every duplicated 8-token window, first
    occurrence canonical, overlaps merged per doc via gaps-and-islands.
    hash="exact" keys windows on the joined string so the DuckDB
    oracle replicates bit-for-bit (xxhash64 is the prod default)."""
    from hipipe_spark.operators.spans import substring_dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return substring_dedup(docs, window=8, hash="exact")


def _minhash_incremental_det_oracle(n_hashes: int = 32, bands: int = 16,
                                    threshold: float = 0.5) -> str:
    """DuckDB replica of q_minhash_incremental: corpus (doc_id%20==0)
    signatures vs delta (doc_id%20==10) with delta-only exact prepass;
    candidates = corpus x delta-rep band collisions + delta-rep
    self-collisions; exact set-Jaccard verify; star edges at 1.0."""
    from hipipe_spark.functions.hashing import (
        det_hash_i64_sql, det_hash_str_i64_sql)
    rpb = n_hashes // bands
    base = det_hash_str_i64_sql("s", 0)
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> {det_hash_i64_sql('h', i)}))"
        for i in range(n_hashes))

    def banded(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT id, {b} AS band, sig[{b * rpb + 1}:{(b + 1) * rpb}] AS bh"
            f" FROM {src}" for b in range(bands))

    return f"""
      WITH corp AS (SELECT doc_id AS id, text FROM documents
                    WHERE doc_id % 20 = 0),
      delt AS (SELECT doc_id AS id, text FROM documents
               WHERE doc_id % 20 = 10),
      drep AS (SELECT id, text,
                      min(id) OVER (PARTITION BY md5(text)) AS rep
               FROM delt),
      star AS (SELECT rep AS id_a, id AS id_b, 1.0 AS jaccard
               FROM drep WHERE id <> rep),
      csh AS (SELECT id, list_distinct({det_tokens_sql('text')}) AS sh
              FROM corp),
      dsh AS (SELECT id, list_distinct({det_tokens_sql('text')}) AS sh
              FROM drep WHERE id = rep),
      chs AS MATERIALIZED (
        SELECT id, sh, list_transform(sh, s -> {base}) AS hs FROM csh),
      dhs AS MATERIALIZED (
        SELECT id, sh, list_transform(sh, s -> {base}) AS hs FROM dsh),
      csig AS (SELECT id, [{sig_items}] AS sig FROM chs),
      dsig AS (SELECT id, [{sig_items}] AS sig FROM dhs),
      cband AS MATERIALIZED ({banded('csig')}),
      dband AS MATERIALIZED ({banded('dsig')}),
      cand AS (
        SELECT least(c.id, n.id) AS id_a, greatest(c.id, n.id) AS id_b
        FROM cband c JOIN dband n
          ON c.band = n.band AND c.bh = n.bh AND c.id <> n.id
        UNION
        SELECT a.id AS id_a, b.id AS id_b
        FROM dband a JOIN dband b
          ON a.band = b.band AND a.bh = b.bh AND a.id < b.id),
      shx AS (SELECT id, sh FROM chs UNION ALL SELECT id, sh FROM dhs),
      verified AS (
        SELECT c.id_a, c.id_b,
               CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) > 0
                    THEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(sa.sh, sb.sh)))
                    ELSE 0.0 END AS jaccard
        FROM cand c
        JOIN shx sa ON sa.id = c.id_a JOIN shx sb ON sb.id = c.id_b)
      SELECT id_a, id_b, round(jaccard, 6) AS jaccard
      FROM verified WHERE jaccard >= {threshold}
      UNION ALL
      SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM star
    """


@query(oracle=_minhash_incremental_det_oracle())
def q_minhash_incremental(spark, sf_dir):
    """Incremental MinHash near-dedup (dedup.py minhash_index +
    minhash_lsh_pairs_incremental): the delta (doc_id%20==10) dedups
    against the indexed corpus (doc_id%20==0) and within itself —
    corpus cost per delta is ONE scan (band keys are a narrow map over
    the stored signatures, the delta band table broadcasts). det hash
    family end-to-end for the DuckDB oracle."""
    from hipipe_spark.operators.dedup import (
        minhash_index, minhash_lsh_pairs_incremental)
    docs = read_docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 20 == 0)
    delta = docs.filter(F.col("doc_id") % 20 == 10)
    idx = minhash_index(corpus, shingle="word", shingle_k=1,
                        n_hashes=32, hash_family="det")
    out = minhash_lsh_pairs_incremental(
        idx, delta, shingle="word", shingle_k=1, n_hashes=32, bands=16,
        jaccard_threshold=0.5, hash_family="det")
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard"))


@query(oracle="""
      SELECT doc_id,
             CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
               AS cluster_size,
             round(1.0 / count(*) OVER (PARTITION BY md5(text)), 6)
               AS weight
      FROM documents
    """)
def q_dup_weights(spark, sf_dir):
    """Soft dedup via loss reweighting (dedup.py dup_weights): every
    doc keeps weight 1/cluster_size over the exact-duplicate graph —
    coverage preserved, duplication bias removed; connected components
    + one size aggregate + broadcast rejoin."""
    from hipipe_spark.operators.dedup import _exact_prepass, dup_weights
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _, star = _exact_prepass(docs, "doc_id", "text")
    return dup_weights(docs, star)


def _fs_link_oracle() -> str:
    _fsw = []
    for _m, _u in ((0.9, 0.2), (0.8, 0.18), (0.7, 0.1)):
        _fsw.append((round(math.log2(_m / _u), 6),
                     round(math.log2((1 - _m) / (1 - _u)), 6)))
    return f"""
      WITH p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                        a.c_mktsegment = b.c_mktsegment AS seg_agree,
                        abs(a.c_acctbal - b.c_acctbal) < 1000
                          AS bal_agree,
                        a.c_custkey % 10 = b.c_custkey % 10
                          AS key_agree
                 FROM customer a JOIN customer b
                   ON a.c_nationkey = b.c_nationkey
                  AND a.c_custkey < b.c_custkey),
      s AS (SELECT *, round(
              ((0.0 + CASE WHEN seg_agree THEN {_fsw[0][0]!r}
                           ELSE {_fsw[0][1]!r} END)
                    + CASE WHEN bal_agree THEN {_fsw[1][0]!r}
                           ELSE {_fsw[1][1]!r} END)
                    + CASE WHEN key_agree THEN {_fsw[2][0]!r}
                           ELSE {_fsw[2][1]!r} END, 4) AS weight
            FROM p)
      SELECT id_a, id_b, seg_agree, bal_agree, key_agree, weight,
             CASE WHEN weight >= 4.0 THEN 'link'
                  WHEN weight <= -2.0 THEN 'non_link'
                  ELSE 'possible' END AS decision
      FROM s
    """


@query(oracle=_fs_link_oracle())
def q_fs_link(spark, sf_dir):
    """Fellegi–Sunter record-linkage scoring (linkage.py
    fs_link_score) over customer pairs blocked by nation: three
    agreement fields (market segment, account-balance proximity,
    custkey residue) with fixed (m, u) parameters → log₂ likelihood-
    ratio weight → link / possible / non-link. Blocking bounds the
    pair fan-out exactly like the dedup LSH tiers."""
    from hipipe_spark.operators.linkage import fs_link_score
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    a, b = c.alias("a"), c.alias("b")
    pairs = (a.join(b, (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
                    & (F.col("a.c_custkey") < F.col("b.c_custkey")))
             .select(F.col("a.c_custkey").alias("id_a"),
                     F.col("b.c_custkey").alias("id_b"),
                     (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
                     .alias("seg_agree"),
                     (F.abs(F.col("a.c_acctbal") - F.col("b.c_acctbal"))
                      < 1000).alias("bal_agree"),
                     (F.col("a.c_custkey") % 10
                      == F.col("b.c_custkey") % 10).alias("key_agree")))
    return fs_link_score(pairs, ["seg_agree", "bal_agree", "key_agree"],
                         m=[0.9, 0.8, 0.7], u=[0.2, 0.18, 0.1],
                         upper=4.0, lower=-2.0)
