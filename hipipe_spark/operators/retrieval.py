"""Lexical retrieval scoring (TF-IDF / BM25) over a document corpus.

The sparse sibling of the embedding ANN family
(`operators/similarity.py`): score every document against a FIXED query
term set with BM25 (Robertson-Sparck Jones idf, Okapi tf saturation).
The scale shape is one narrow pass + one dimension-sized aggregate:

1. per-document term frequencies for the |Q| query terms — pure array
   expressions on one shared tokenization (no explode: |Q| is small,
   so ``size(filter(toks, = term))`` per term beats building an
   inverted index nobody else consumes);
2. corpus stats (N, avgdl, per-term document frequency) — ONE
   aggregate producing |Q| + 2 numbers, collected driver-side (the
   only collect, dimension-sized by construction) and folded back in
   as literals, so the scoring pass is a map over the scan with no
   join at all;
3. score = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)).

Both stages are single-scan; nothing shuffles. For ad-hoc many-query
workloads build a real inverted index instead (explode + groupBy — the
``vocab_topk`` plan); this operator is the fixed-query scorer a corpus
quality/contamination pipeline embeds.

Relation to the reference: hipipe has no retrieval operators; this is
part of the training-data extension surface (SURVEY.md §2.3). The
formula follows Robertson & Zaragoza 2009 (BM25 with the +1-smoothed
idf, as in Lucene), computable bit-identically in DuckDB for the
driver oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hipipe_spark.functions.text import tokens


def _term_freq(toks, term: str):
    """tf of one literal term: size(filter(toks, x -> x = term)).

    A dedicated factory, NOT an inline ``lambda x, t=t:`` — a
    default-arg capture gives the lambda arity 2 and PySpark's
    higher-order ``filter`` then binds the second parameter to the
    ELEMENT INDEX, silently comparing tokens against positions.
    """
    return F.size(F.filter(toks, lambda x: x == F.lit(term)))


def bm25_scores(docs: DataFrame, query_terms: list[str],
                id_col: str = "doc_id", text_col: str = "text",
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """(id, score) for every document with a positive BM25 score
    against ``query_terms`` (terms are matched lowercase-exact).

    Eagerly runs the one dimension-sized stats aggregate (N, avgdl,
    df_t — |Q|+2 numbers); the returned plan is then a single narrow
    map over the corpus scan.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = tokens(F.lower(F.col(text_col)))
    tf_cols = {t: _term_freq(toks, t) for t in query_terms}
    stats = docs.select(
        F.size(toks).alias("__dl"),
        *[(tf_cols[t] > 0).cast("int").alias(f"__has_{i}")
          for i, t in enumerate(query_terms)],
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("__dl").alias("avgdl"),
        *[F.sum(f"__has_{i}").alias(f"df_{i}")
          for i in range(len(query_terms))],
    ).first()
    n, avgdl = stats["n"], float(stats["avgdl"] or 0.0)
    if n == 0 or avgdl == 0.0:
        # empty corpus, or every document tokenizes to nothing: all tf
        # are 0, so no score can be positive (and dl/avgdl would be an
        # ANSI divide-by-zero)
        return docs.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)

    dl = F.size(toks).cast("double")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
    score = F.lit(0.0)
    for i, t in enumerate(query_terms):
        df_t = stats[f"df_{i}"] or 0
        idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
        tf = tf_cols[t].cast("double")
        score = score + F.lit(idf) * tf * F.lit(k1 + 1.0) / (tf + norm)
    return (docs.select(F.col(id_col), score.alias("score"))
            .filter(F.col("score") > 0))


def tfidf_scores(docs: DataFrame, query_terms: list[str],
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Plain TF-IDF variant (ln-idf, raw tf) — same single-scan shape
    as :func:`bm25_scores`."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = tokens(F.lower(F.col(text_col)))
    tf_cols = {t: _term_freq(toks, t) for t in query_terms}
    stats = docs.select(
        *[(tf_cols[t] > 0).cast("int").alias(f"__has_{i}")
          for i, t in enumerate(query_terms)],
    ).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"__has_{i}").alias(f"df_{i}")
          for i in range(len(query_terms))],
    ).first()
    n = stats["n"]
    score = F.lit(0.0)
    for i, t in enumerate(query_terms):
        df_t = stats[f"df_{i}"] or 0
        idf = math.log((n + 1.0) / (df_t + 1.0)) + 1.0
        score = score + tf_cols[t].cast("double") * F.lit(idf)
    return (docs.select(F.col(id_col), score.alias("score"))
            .filter(F.col("score") > 0))


def unigram_logprob(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", alpha: float = 0.5) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    token distribution — the in-container stand-in for the KenLM
    perplexity filter of CCNet-style pipelines (docs whose tokens are
    improbable under the corpus LM are boilerplate/noise candidates).

        p(t) = (count(t) + alpha) / (total_tokens + alpha * vocab)
        score(doc) = mean over doc tokens of ln p(t)

    Output: (id, n_tokens, logprob) with logprob null for empty docs.

    Scale shape: ONE tokenization, exploded once; token counts are a
    partial-aggregated groupBy on the token key; the count join back to
    the exploded tokens is a plain equi-join on the same key (AQE
    handles stopword skew; at web scale the count side is ≪ corpus and
    usually broadcastable after a min-count filter); final per-doc mean
    is one more keyed aggregate. Nothing single-task, no Python.
    """
    toks = (docs.select(F.col(id_col).alias("id"),
                        tokens(F.lower(F.col(text_col))).alias("toks"))
                .select("id", F.explode_outer("toks").alias("tok")))
    counts = (toks.filter(F.col("tok").isNotNull())
                  .groupBy("tok").agg(F.count("*").alias("cnt")))
    stats = counts.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("vocab")).collect()[0]
    total, vocab = int(stats["total"] or 0), int(stats["vocab"] or 0)
    denom = float(total) + float(alpha) * float(vocab)
    if denom <= 0:  # empty corpus: every doc is empty, logprob null
        return docs.select(F.col(id_col).alias("id"),
                           F.lit(0).alias("n_tokens"),
                           F.lit(None).cast("double").alias("logprob"))
    lnp = F.log((F.col("cnt").cast("double") + F.lit(float(alpha)))
                / F.lit(denom))
    scored = toks.join(counts.withColumn("lnp", lnp).drop("cnt"),
                       on="tok", how="left")
    return (scored.groupBy("id")
            .agg(F.count("tok").alias("n_tokens"),
                 F.when(F.count("tok") > 0,
                        F.sum("lnp") / F.count("tok")).alias("logprob")))


def bigram_pmi(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", min_count: int = 5) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs — the
    classic collocation/phrase-mining statistic (word2phrase, Mikolov
    et al. 2013): PMI(a,b) = ln( p(ab) / (p(a) p(b)) ) with corpus
    bigram/unigram MLE probabilities.

    Returns ALL bigrams with count >= min_count (a set determined
    purely by integer counts — no float-boundary top-k, so results are
    engine-exact) with columns (tok_a, tok_b, n_ab, pmi).

    Scale shape: one shared tokenization; bigram and unigram counts are
    partial-aggregated groupBys on their keys; two equi-joins attach
    unigram counts to the (already min_count-filtered, hence heavily
    pruned) bigram table — at web scale the frequent-bigram side is
    orders of magnitude smaller than the corpus, and the unigram join
    keys are exactly the frequent bigrams' members. No driver-side data
    beyond two scalar totals."""
    toks = (docs.select(tokens(F.lower(F.col(text_col))).alias("toks"))
                .filter(F.size("toks") >= 1))
    uni = (toks.select(F.explode("toks").alias("tok"))
               .groupBy("tok").agg(F.count("*").alias("n_tok")))
    pairs = toks.filter(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("tok_a"),
                    F.element_at(F.col("toks"), i + 1).alias("tok_b")),
            )).alias("bg")).select("bg.tok_a", "bg.tok_b")
    bi = (pairs.groupBy("tok_a", "tok_b").agg(F.count("*").alias("n_ab"))
               .filter(F.col("n_ab") >= int(min_count)))
    totals_u = uni.agg(F.sum("n_tok")).collect()[0][0] or 0
    totals_b = pairs.count()
    if totals_u == 0 or totals_b == 0:
        return bi.withColumn("pmi", F.lit(None).cast("double"))
    tu, tb = float(totals_u), float(totals_b)
    na = uni.select(F.col("tok").alias("tok_a"), F.col("n_tok").alias("n_a"))
    nb = uni.select(F.col("tok").alias("tok_b"), F.col("n_tok").alias("n_b"))
    joined = bi.join(na, "tok_a").join(nb, "tok_b")
    pmi = F.log(
        (F.col("n_ab").cast("double") / F.lit(tb))
        / ((F.col("n_a").cast("double") / F.lit(tu))
           * (F.col("n_b").cast("double") / F.lit(tu))))
    return joined.select("tok_a", "tok_b", "n_ab", pmi.alias("pmi"))


# Sentence-boundary sentinels for the n-gram LMs: control chars that
# whitespace tokenization can't produce from normal text (and that the
# DuckDB oracle reproduces as chr(2)/chr(3)).
BOS, EOS = "\x02", "\x03"
BIGRAM, TRIGRAM = ("ctx", "nxt"), ("u", "v", "w")


def _events(frame: DataFrame, text_col: str, names: tuple[str, ...],
            id_col: str | None = None) -> DataFrame:
    """One row per n-gram event of the chain ``BOS^(n-1) w_1 … w_m EOS``
    over the lowercased tokens, ``n = len(names)``: m+1 events, the
    columns ``names`` holding each event's n tokens, plus ``id`` when
    ``id_col`` is given. An empty text yields the single all-padding
    event; a NULL text keeps its row with null event columns
    (``explode_outer``), so it scores n_events 0 and null, never a
    spurious score."""
    order = len(names)
    t = tokens(F.lower(F.col(text_col)))
    p = F.concat(F.array(*[F.lit(BOS)] * (order - 1)), t, F.array(F.lit(EOS)))
    n = F.size(p) - (order - 1)
    zipped = F.arrays_zip(*[F.slice(p, i + 1, n).alias(c)
                            for i, c in enumerate(names)])
    ids = [F.col(id_col).alias("id")] if id_col is not None else []
    ev = frame.select(*ids, F.explode_outer(zipped).alias("e"))
    return ev.select(*(["id"] if ids else []),
                     *[F.col(f"e.{c}").alias(c) for c in names])


def _no_scores(docs: DataFrame, id_col: str, names: tuple[str, str]) -> DataFrame:
    """The result for an empty (or null-only) fit corpus: n_events 0
    and null scores for every document."""
    return docs.select(F.col(id_col).alias("id"),
                       F.lit(0).cast("long").alias("n_events"),
                       *[F.lit(None).cast("double").alias(c) for c in names])


def _mean_scores(scored: DataFrame, lnp: Column, count_col: str,
                 names: tuple[str, str], cached: DataFrame) -> DataFrame:
    """``(id, n_events, <mean ln score>, exp(-mean))`` per document:
    ``lnp`` averaged over the rows where ``count_col`` is non-null."""
    scored = scored.withColumn("__lnp", lnp)
    n_ev = F.count(count_col)
    mean = F.when(n_ev > 0, F.sum("__lnp") / n_ev)
    out = scored.groupBy("id").agg(n_ev.cast("long").alias("n_events"),
                                   mean.alias(names[0]),
                                   F.exp(-mean).alias(names[1]))
    from hipipe_spark.operators.core import register_cached
    return register_cached(out, cached)


def bigram_perplexity(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: float = 0.5,
                      fit_docs: DataFrame | None = None) -> DataFrame:
    """Per-document perplexity under an add-k-smoothed bigram LM — one
    step up from :func:`unigram_logprob` toward CCNet's KenLM quality
    filter: documents whose token SEQUENCES (not just token choices)
    are improbable under the corpus LM are boilerplate/spam/noise
    candidates, and unlike the unigram score this catches shuffled or
    keyword-stuffed text.

        P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + k) / (c(w_{i-1}) + k·V)

    over the event chain ``BOS w_1 … w_n EOS`` (n+1 events; an empty
    doc scores the single BOS→EOS event), with ``V`` = the fit
    corpus's observed outcome vocabulary (distinct next-tokens incl.
    EOS) and unseen contexts backing off to the uniform 1/V. The LM is
    fitted on ``fit_docs`` (default: ``docs`` itself — self-perplexity,
    the quality-filter setting; pass the train split for held-out
    scoring). Output: (id, n_events, logprob = mean ln P, ppl =
    exp(-logprob); null logprob/ppl only for null text).

    Scale shape: ONE tokenization per frame; bigram counts are a
    partial-aggregated groupBy on (ctx, nxt); context counts derive
    from the bigram table (no second corpus pass); scoring is two
    equi-joins of the event stream against the count tables — the same
    join-the-counts-back shape as :func:`unigram_logprob`, with AQE
    absorbing stopword-bigram skew. The single driver-side scalar is
    V. At web scale the count tables are ≪ corpus (they grow with
    vocabulary², capped hard by Heaps' law, not with corpus size)."""
    fit = fit_docs if fit_docs is not None else docs
    fit_ev = _events(fit, text_col, BIGRAM).filter(F.col("ctx").isNotNull())
    # persist the bigram table: it feeds the context-count derivation,
    # the V scalar, and the scoring join — unpersisted, each would
    # re-scan the fit corpus. Caller owns the release (register_cached
    # contract, as with the dedup pair generators).
    big = (fit_ev.groupBy("ctx", "nxt")
           .agg(F.count(F.lit(1)).alias("__cb")).persist())
    ctxc = big.groupBy("ctx").agg(F.sum("__cb").alias("__cc"))
    v = big.select("nxt").distinct().count()
    if v == 0:  # empty/null-only fit corpus: nothing to score against
        big.unpersist()
        return _no_scores(docs, id_col, ("logprob", "ppl"))
    kf = float(k)
    lnp = F.log((F.coalesce(F.col("__cb"), F.lit(0)).cast("double") + kf)
                / (F.coalesce(F.col("__cc"), F.lit(0)).cast("double")
                   + kf * float(v)))
    scored = (_events(docs, text_col, BIGRAM, id_col)
              .join(big, ["ctx", "nxt"], "left")
              .join(ctxc, ["ctx"], "left"))
    return _mean_scores(scored, lnp, "ctx", ("logprob", "ppl"), big)


def kneser_ney_perplexity(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", discount: float = 0.75,
                          fit_docs: DataFrame | None = None) -> DataFrame:
    """Per-document perplexity under an interpolated Kneser-Ney bigram
    LM — the smoothing KenLM actually ships (Heafield 2011), one step
    past :func:`bigram_perplexity`'s add-k: instead of flattening all
    unseen mass uniformly, KN backs off to the CONTINUATION probability
    (how many distinct contexts a word follows), which is what makes
    "san francisco"-style collocations score coherently. With a fixed
    discount ``d``::

        P(w|c) = max(cb(c,w) - d, 0)/cc(c)
                 + d * N1+(c,*)/cc(c) * N1+(*,w)/B

    where ``cb`` = bigram count, ``cc`` = context count, ``N1+(c,*)`` =
    distinct continuations of ``c``, ``N1+(*,w)`` = distinct contexts
    ``w`` follows, ``B`` = distinct bigram types, over the same
    ``BOS w_1 … w_n EOS`` event chain as :func:`bigram_perplexity`.
    Fitted on ``fit_docs`` (default: self — the quality-filter
    setting, where every scored event is in the fit tables so no
    zero-probability branch is reachable). Output
    ``(id, n_events, logprob, ppl)``.

    Scale shape: identical to :func:`bigram_perplexity` — one
    tokenization per frame, ONE persisted bigram count table from
    which the context counts, continuation counts, and the single
    driver scalar ``B`` all derive (no second corpus pass), then three
    equi-joins of the scored event stream against Heaps-bounded count
    tables."""
    fit = fit_docs if fit_docs is not None else docs
    fit_ev = _events(fit, text_col, BIGRAM).filter(F.col("ctx").isNotNull())
    big = (fit_ev.groupBy("ctx", "nxt")
           .agg(F.count(F.lit(1)).alias("__cb")).persist())
    # context table: total count AND distinct-continuation count, both
    # derived from the persisted bigram table in one pass
    ctxc = big.groupBy("ctx").agg(
        F.sum("__cb").alias("__cc"),
        F.count(F.lit(1)).alias("__n1p_ctx"))
    cont = big.groupBy("nxt").agg(F.count(F.lit(1)).alias("__n1p_left"))
    b_types = big.count()
    if b_types == 0:  # empty/null-only fit corpus
        big.unpersist()
        return _no_scores(docs, id_col, ("logprob", "ppl"))
    d = float(discount)
    p_cont = (F.coalesce(F.col("__n1p_left"), F.lit(0)).cast("double")
              / F.lit(float(b_types)))
    cc = F.coalesce(F.col("__cc"), F.lit(0)).cast("double")
    seen_ctx = (F.greatest(F.coalesce(F.col("__cb"), F.lit(0))
                           .cast("double") - d, F.lit(0.0))
                + d * F.col("__n1p_ctx").cast("double") * p_cont) / cc
    # unseen context (held-out scoring only): back off to continuation
    prob = F.when(F.col("__cc").isNotNull(), seen_ctx).otherwise(p_cont)
    scored = (_events(docs, text_col, BIGRAM, id_col)
              .join(big, ["ctx", "nxt"], "left")
              .join(ctxc, ["ctx"], "left")
              .join(cont, ["nxt"], "left"))
    return _mean_scores(scored, F.when(prob > 0, F.log(prob)), "ctx",
                        ("logprob", "ppl"), big)


def distinctive_terms(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", top_k: int = 3,
                      min_df: int = 1, max_df: int | None = None,
                      round_to: int = 6) -> DataFrame:
    """Per-document top-k DISTINCTIVE terms by TF-IDF — keyword
    extraction over the whole corpus (what is THIS conversation about,
    relative to everything else). For every document, the ``top_k``
    terms maximizing ``tf · (ln((N+1)/(df+1)) + 1)`` (the
    :func:`tfidf_scores` idf), ties broken by term ascending. Returns
    ``(id, term, tf, df, score, rank)``.

    Unlike the fixed-query scorers above, this ranks ALL terms, so it
    builds the real inverted index: one explode + groupBy(id, term)
    for tf, one groupBy(term) for df, one equi-join of the per-term df
    back onto the postings, one per-document top-k window. Every
    shuffle key is high-cardinality (term, id) — no single-task stage
    at any corpus size. ``min_df``/``max_df`` prune the df frame
    BEFORE the join (hub/stopword terms never re-enter the postings
    join — the same guard as ngram_jaccard's ``max_df``), and the
    window partitions by document, so skew is bounded by document
    length, not corpus size.
    """
    toks = tokens(F.lower(F.col(text_col)))
    postings = (docs.select(F.col(id_col).alias("id"),
                            F.explode(toks).alias("term"))
                .groupBy("id", "term")
                .agg(F.count(F.lit(1)).cast("bigint").alias("tf")))
    n_docs = docs.count()
    dfreq = postings.groupBy("term").agg(
        F.countDistinct("id").cast("bigint").alias("df"))
    dfreq = dfreq.filter(F.col("df") >= min_df)
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    scored = postings.join(dfreq, "term").withColumn(
        "score",
        F.round(
            F.col("tf").cast("double")
            * (F.log((F.lit(float(n_docs)) + 1.0)
                     / (F.col("df").cast("double") + 1.0)) + 1.0),
            round_to))
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select("id", "term", "tf", "df", "score", "rank"))


def stupid_backoff_logprob(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", alpha: float = 0.4,
                           k: float = 0.5,
                           fit_docs: DataFrame | None = None) -> DataFrame:
    """Per-document mean log-score under a TRIGRAM Stupid Backoff LM
    (Brants et al. 2007, "Large Language Models in Machine
    Translation") — the web-scale LM scoring scheme built for exactly
    this setting: no discounting to tune, counts-only, trivially
    distributed. One more quality-filter rung above
    :func:`bigram_perplexity`::

        S(w | u,v) = c(uvw) / c(uv·)            if c(uvw) > 0
                   = α · S(w | v)               otherwise
        S(w | v)   = c(vw) / c(v·)              if c(vw) > 0
                   = α · S(w)                   otherwise
        S(w)       = (c(w) + k) / (N + k·V)

    over the padded event chain ``BOS BOS w_1 … w_n EOS`` (n+1 events;
    an empty doc scores the single (BOS,BOS,EOS) event). The unigram
    base is add-k smoothed (the one deviation from the paper, which
    leaves OOV at score 0 = log -inf; a quality filter needs finite
    scores for unseen tokens). S is a score, not a normalized
    probability — so the output is ``sb_logscore`` (mean ln S) and
    ``sb_ppl = exp(-mean)``, a ranking signal, exactly how the paper
    uses it.

    Scale shape: ONE tokenization pass builds the trigram event table;
    EVERY count table cascades from the trigram aggregate (bigram =
    Σ_u trigram, contexts = row sums — no second corpus scan); scoring
    is five equi-joins of the event stream against Heaps'-law-sized
    count tables that AQE broadcasts at any realistic vocabulary. The
    only driver-side scalars are N and V. Fitted on ``fit_docs``
    (default: ``docs`` itself, the self-scoring quality-filter mode).
    """
    fit = fit_docs if fit_docs is not None else docs
    tri = (_events(fit, text_col, TRIGRAM)
           .filter(F.col("u").isNotNull())
           .groupBy("u", "v", "w").agg(F.count(F.lit(1)).alias("c3"))
           .persist())
    ctx3 = tri.groupBy("u", "v").agg(F.sum("c3").alias("cc3"))
    bi = tri.groupBy("v", "w").agg(F.sum("c3").alias("c2"))
    ctx1 = bi.groupBy("v").agg(F.sum("c2").alias("cc1"))
    uni = bi.groupBy("w").agg(F.sum("c2").alias("cu"))
    nv = uni.agg(F.sum("cu").alias("n"),
                 F.count(F.lit(1)).alias("v")).collect()
    n_total, v_total = (nv[0]["n"], nv[0]["v"]) if nv else (0, 0)
    if not n_total:  # empty fit corpus: nothing to score against
        tri.unpersist()
        return _no_scores(docs, id_col, ("sb_logscore", "sb_ppl"))
    af, kf = float(alpha), float(k)
    base = (F.coalesce(F.col("cu"), F.lit(0)).cast("double") + kf) \
        / (float(n_total) + kf * float(v_total))
    s = (F.when(F.coalesce(F.col("c3"), F.lit(0)) > 0,
                F.col("c3").cast("double") / F.col("cc3"))
          .when(F.coalesce(F.col("c2"), F.lit(0)) > 0,
                af * F.col("c2").cast("double") / F.col("cc1"))
          .otherwise(af * af * base))
    scored = (_events(docs, text_col, TRIGRAM, id_col)
              .join(tri, ["u", "v", "w"], "left")
              .join(ctx3, ["u", "v"], "left")
              .join(bi, ["v", "w"], "left")
              .join(ctx1, ["v"], "left")
              .join(uni, ["w"], "left"))
    # the log-score itself is the count column: a null-text row has a
    # null u and no score
    return _mean_scores(scored, F.when(F.col("u").isNotNull(), F.log(s)),
                        "__lnp", ("sb_logscore", "sb_ppl"), tri)


def rrf_fuse(runs: DataFrame, k: int = 60, query: str = "query_id",
             doc: str = "doc_id", rank: str = "rank",
             top_n: int | None = None, ndigits: int = 6) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher 2009): fuse
    per-source rankings — BM25, ANN, recency, whatever — without score
    normalization: ``score(q, d) = Σ_sources 1 / (k + rank_s(q, d))``.
    The standard hybrid-retrieval combiner (k=60 from the paper).

    Input: one row per (query, doc, source) with that source's 1-based
    ``rank``; sources need not rank the same docs. Output per (query,
    doc): ``rrf_score`` (rounded), ``n_sources``, and ``fused_rank``
    (1-based; ties broken by ``doc`` ascending, so the ordering is
    engine-stable).

    Plan: ONE shuffle on (query, doc) folds all sources
    (map-side-combinable sum), then one query-partitioned window for
    the fused rank — partitioned by query, never a global sort. Skew
    = a query with a huge candidate union; cap per-source lists
    upstream (they're top-N by construction) and the window state is
    bounded by Σ per-source N.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    scored = (runs.groupBy(F.col(query).alias("query_id"),
                           F.col(doc).alias("doc_id"))
              .agg(F.sum(1.0 / (F.lit(float(k)) + F.col(rank)))
                    .alias("__s"),
                   F.count(F.lit(1)).cast("bigint").alias("n_sources")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("__s").desc(), F.col("doc_id").asc())
    out = scored.withColumn("fused_rank", F.row_number().over(w))
    if top_n is not None:
        out = out.filter(F.col("fused_rank") <= top_n)
    return out.select("query_id", "doc_id",
                      F.round("__s", ndigits).alias("rrf_score"),
                      "n_sources", "fused_rank")


def log_odds_terms(df_a: DataFrame, df_b: DataFrame, text_col: str,
                   alpha0: float = 100.0, min_count: int = 10,
                   top_k: int = 30) -> DataFrame:
    """"Fightin' Words" (Monroe, Colaresi & Quinn 2008): per-term
    log-odds difference between two corpora with an informative
    Dirichlet prior — THE principled "what words distinguish corpus A
    from corpus B" statistic (raw log-odds overweights rare terms;
    the pooled prior shrinks them):

    ``δ_w = ln((y_aw+α_w)/(n_a+α₀−y_aw−α_w))
          − ln((y_bw+α_w)/(n_b+α₀−y_bw−α_w))``,
    ``z_w = δ_w / √(1/(y_aw+α_w) + 1/(y_bw+α_w))``,
    with ``α_w = α₀ · y_w / y_total`` from the POOLED counts.

    One union + one conditional-sum aggregate to the term-dimension
    frame; totals ride along as window sums (no second scan — the
    ks_table contract). Output: the ``top_k`` most A-distinctive and
    ``top_k`` most B-distinctive terms — ``term, y_a, y_b (bigints),
    z (double rounded 6), side ('a'|'b')``, z desc within side.
    """
    from hipipe_spark.functions.text import tokens as _tokens
    tagged = (df_a.select(F.explode(_tokens(F.lower(F.col(text_col))))
                          .alias("term"),
                          F.lit(1).alias("ia"), F.lit(0).alias("ib"))
              .unionByName(
                  df_b.select(F.explode(
                      _tokens(F.lower(F.col(text_col)))).alias("term"),
                      F.lit(0).alias("ia"), F.lit(1).alias("ib"))))
    counts = tagged.groupBy("term").agg(
        F.sum("ia").alias("ya"), F.sum("ib").alias("yb"))
    wall = Window.partitionBy()
    staged = (counts
              .withColumn("na", F.sum("ya").over(wall))
              .withColumn("nb", F.sum("yb").over(wall))
              .where(F.col("ya") + F.col("yb") >= min_count))
    yw = F.col("ya") + F.col("yb")
    aw = F.lit(float(alpha0)) * yw / (F.col("na") + F.col("nb"))
    da = F.log((F.col("ya") + aw)
               / (F.col("na") + F.lit(float(alpha0))
                  - F.col("ya") - aw))
    db = F.log((F.col("yb") + aw)
               / (F.col("nb") + F.lit(float(alpha0))
                  - F.col("yb") - aw))
    var = 1.0 / (F.col("ya") + aw) + 1.0 / (F.col("yb") + aw)
    scored = staged.select(
        "term", F.col("ya").cast("bigint").alias("y_a"),
        F.col("yb").cast("bigint").alias("y_b"),
        F.round((da - db) / F.sqrt(var), 6).alias("z"))
    wa = Window.orderBy(F.col("z").desc(), F.col("term"))
    wb = Window.orderBy(F.col("z").asc(), F.col("term"))
    top_a = (scored.withColumn("__r", F.row_number().over(wa))
             .where(F.col("__r") <= top_k).drop("__r")
             .withColumn("side", F.lit("a")))
    top_b = (scored.withColumn("__r", F.row_number().over(wb))
             .where(F.col("__r") <= top_k).drop("__r")
             .withColumn("side", F.lit("b")))
    return top_a.unionByName(top_b)


def vocab_richness(df: DataFrame, text_col: str = "text",
                   lowercase: bool = True,
                   ndigits: int = 6) -> DataFrame:
    """Vocabulary-richness projection from the frequency-of-
    frequencies spectrum — "how many word types does the full corpus
    have that this sample never saw?": ONE row with::

        n_tokens, n_types, f1, f2,
        chao1      = n_types + f1²/(2·f2)       (Chao 1984 lower bound;
                     the bias-corrected f1(f1−1)/(2(f2+1)) form when
                     f2 = 0)
        gt_unseen  = f1/n_tokens                (Good–Turing mass of
                     unseen types)
        coverage   = 1 − gt_unseen              (Good's sample coverage)

    the corpus-planning companion to Heaps-law ``vocab_growth``:
    Heaps extrapolates growth, Chao1 bounds the asymptote, Good–
    Turing prices the next token being novel.

    Plan: tokenize + word count (one corpus shuffle), then the
    frequency-of-frequencies reduce over the vocab-sized table —
    f1/f2 are two conditional sums, no second corpus pass.
    """
    from hipipe_spark.functions.text import tokens

    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    wc = (df.select(F.explode(tokens(txt)).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    agg = wc.agg(
        F.sum("c").cast("double").alias("n_tokens"),
        F.count(F.lit(1)).cast("double").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
         .cast("double").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
         .cast("double").alias("f2"))
    f1, f2 = F.col("f1"), F.col("f2")
    types = F.col("n_types")
    chao = F.when(f2 > 0, types + f1 * f1 / (2.0 * f2)) \
            .otherwise(types + f1 * (f1 - 1.0) / (2.0 * (f2 + 1.0)))
    gt = F.when(F.col("n_tokens") > 0, f1 / F.col("n_tokens"))
    return agg.select(
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        types.cast("bigint").alias("n_types"),
        f1.cast("bigint").alias("f1"),
        f2.cast("bigint").alias("f2"),
        F.round(chao, ndigits).alias("chao1"),
        F.round(gt, ndigits).alias("gt_unseen"),
        F.round(1.0 - gt, ndigits).alias("coverage"))
