"""SentencePiece-style unigram language-model tokenizer.

The second of the two standard subword tokenizers (Kudo 2018,
public), next to :mod:`~hipipe_spark.operators.bpe`: instead of
greedy pair merging, a VOCABULARY of candidate pieces with unigram
log-probabilities is trained by EM and each word is segmented into
its maximum-likelihood piece sequence by Viterbi.

Scale design — the ``bpe_merge_table(sample_cap=...)`` / ``pq_train``
bounded-training policy, applied again:

1. Training spends exactly TWO cluster jobs at any ``vocab_size``:
   the corpus-scale tokenize + ``groupBy(word)`` count shuffle, then
   ONE ``TakeOrdered`` collect of the ``sample_cap`` hash-smallest
   distinct words with their corpus-wide counts (deterministic at
   any parallelism). All EM iterations run driver-side over that
   bounded table — milliseconds per round — exactly how production
   tokenizer trainers operate (train on a bounded sample, apply
   everywhere).
2. Segmentation is distributed: the learned vocab broadcasts as a
   plain dict and an Arrow-batched ``pandas_udf`` runs Viterbi per
   text — vectorized batch transfer, no per-row Python round trips,
   no shuffle at all (the UDF is scan-local).

Determinism (the repo-wide contract): the word sample is hash-
ordered; EM is HARD (Viterbi) EM — documented simplification of
Kudo's forward–backward E-step — so expected counts are integer
piece counts and float summation order is fixed by the driver loop;
Viterbi ties break on (fewer pieces, lexicographically smaller
piece) so segmentations are byte-identical at any parallelism.

Like ``bpe_merges``, training is an iterative driver-loop algorithm
with no single-SQL equivalent: the driver gate records a rows-only
row (disclosed), and correctness is pytest-pinned against a pure-
Python replica plus analytic cases.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hipipe_spark.functions.text import tokens

VOCAB_SCHEMA = T.StructType([
    T.StructField("piece", T.StringType(), False),
    T.StructField("logprob", T.DoubleType(), False),
    T.StructField("is_char", T.BooleanType(), False),
])


def _viterbi(word: str, logp: dict[str, float],
             max_len: int) -> list[str]:
    """Max-likelihood segmentation of ``word`` under piece logprobs.

    DP over end positions; tie-break: fewer pieces, then the
    lexicographically smaller piece at the last split — total order,
    so the result is deterministic for any dict iteration order.
    Unknown single characters fall back to a large negative constant
    so every word remains segmentable.
    """
    n = len(word)
    # best[i] = (score, n_pieces, last_piece, prev_index)
    best: list[tuple] = [(-math.inf, 0, "", -1)] * (n + 1)
    best[0] = (0.0, 0, "", -1)
    for i in range(1, n + 1):
        cand = None
        for l in range(1, min(max_len, i) + 1):
            piece = word[i - l:i]
            lp = logp.get(piece)
            if lp is None:
                if l == 1:
                    lp = -100.0  # unk char floor
                else:
                    continue
            ps, pn, _, _ = best[i - l]
            if ps == -math.inf:
                continue
            key = (ps + lp, -(pn + 1), piece)
            # maximize score; then fewer pieces; then smaller piece
            # (note: smaller piece means key[2] smaller -> use min on
            # the third component, so compare explicitly)
            if cand is None:
                cand = (key[0], key[1], piece, i - l)
            else:
                if (key[0], key[1]) > (cand[0], cand[1]) or (
                        (key[0], key[1]) == (cand[0], cand[1])
                        and piece < cand[2]):
                    cand = (key[0], key[1], piece, i - l)
        if cand is not None:
            best[i] = (cand[0], -cand[1], cand[2], cand[3])
    if best[n][0] == -math.inf:
        return list(word)  # unsegmentable only if empty pieces; guard
    out: list[str] = []
    i = n
    while i > 0:
        _, _, piece, prev = best[i]
        out.append(piece)
        i = prev
    out.reverse()
    return out


def _train_unigram_local(words: dict[str, int], vocab_size: int,
                         max_piece_len: int, n_em: int,
                         prune_frac: float) -> list[tuple[str, float, bool]]:
    """Driver-side hard-EM unigram training over a bounded word-count
    table. Returns ``(piece, logprob, is_char)`` sorted by
    (-logprob, piece) — a total order, reproducible anywhere."""
    # seed candidates: all substrings up to max_piece_len, scored by
    # frequency x length (the standard seed heuristic); chars always in
    counts: dict[str, int] = {}
    chars: set[str] = set()
    for w, c in words.items():
        n = len(w)
        for i in range(n):
            chars.add(w[i])
            for l in range(1, min(max_piece_len, n - i) + 1):
                p = w[i:i + l]
                counts[p] = counts.get(p, 0) + c
    multi = [p for p in counts if len(p) > 1]
    # deterministic seed trim: top by (count*len, piece) to ~4x target
    seed_cap = max(vocab_size * 4, len(chars) + 8)
    multi.sort(key=lambda p: (-counts[p] * len(p), p))
    vocab = set(chars) | set(multi[:max(0, seed_cap - len(chars))])

    def m_step(seg_counts: dict[str, int]) -> dict[str, float]:
        total = sum(seg_counts.values())
        return {p: math.log(c / total)
                for p, c in seg_counts.items() if c > 0}

    # init: logprobs from raw substring counts restricted to vocab
    logp = m_step({p: counts.get(p, 1) for p in vocab})
    while True:
        for _ in range(n_em):
            seg_counts: dict[str, int] = {}
            for w, c in sorted(words.items()):
                for piece in _viterbi(w, logp, max_piece_len):
                    seg_counts[piece] = seg_counts.get(piece, 0) + c
            # keep unused chars alive with floor count so every word
            # stays segmentable after pruning
            for ch in chars:
                seg_counts.setdefault(ch, 1)
            logp = m_step(seg_counts)
        n_multi = sum(1 for p in logp if len(p) > 1)
        target_multi = max(0, vocab_size - len(chars))
        if n_multi <= target_multi:
            break
        # prune the lowest-probability multi-char pieces
        drop_n = max(1, min(n_multi - target_multi,
                            int(n_multi * prune_frac)))
        ranked = sorted((p for p in logp if len(p) > 1),
                        key=lambda p: (logp[p], p))
        for p in ranked[:drop_n]:
            del logp[p]
    return sorted(((p, round(lp, 9), len(p) == 1)
                   for p, lp in logp.items()),
                  key=lambda t: (-t[1], t[0]))


def unigram_train(df: DataFrame, text_col: str = "text",
                  vocab_size: int = 200, sample_cap: int = 100_000,
                  max_piece_len: int = 6, n_em: int = 3,
                  prune_frac: float = 0.25, lowercase: bool = True,
                  seed: int = 7) -> DataFrame:
    """Train a unigram-LM piece vocabulary on a bounded deterministic
    sample of the distinct-word count table (module docstring for the
    two-job scale contract). Returns ``(piece, logprob, is_char)``.
    """
    spark: SparkSession = df.sparkSession
    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    wc = (df.select(F.explode(tokens(txt)).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))
    rows = (wc.orderBy(F.xxhash64(F.col("w"), F.lit(seed)), F.col("w"))
              .limit(sample_cap).collect())
    words = {r["w"]: int(r["cnt"]) for r in rows}
    pieces = _train_unigram_local(words, vocab_size, max_piece_len,
                                  n_em, prune_frac)
    return spark.createDataFrame(pieces, VOCAB_SCHEMA)


def unigram_segment(df: DataFrame, vocab: DataFrame | dict,
                    text_col: str = "text", out: str = "uni_tokens",
                    lowercase: bool = True,
                    max_piece_len: int = 6) -> DataFrame:
    """Viterbi-segment each row's text under a trained vocab:
    ``out`` holds the concatenated per-word piece arrays (words split
    on whitespace exactly like :func:`...functions.text.tokens`).

    The vocab broadcasts as a plain dict inside an Arrow-batched
    ``pandas_udf`` — scan-local, shuffle-free; per-word results are
    memoized per batch (Zipf reuse makes the dict hit rate high).
    """
    if isinstance(vocab, DataFrame):
        vocab = {r["piece"]: float(r["logprob"])
                 for r in vocab.collect()}  # vocab-sized by contract
    logp = dict(vocab)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _seg(texts: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def seg_text(t):
            if t is None:
                return []
            if lowercase:
                t = t.lower()
            out_pieces: list[str] = []
            for w in t.split():
                got = memo.get(w)
                if got is None:
                    got = _viterbi(w, logp, max_piece_len)
                    memo[w] = got
                out_pieces.extend(got)
            return out_pieces

        return texts.map(seg_text)

    return df.withColumn(out, _seg(F.col(text_col)))
