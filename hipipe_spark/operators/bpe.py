"""Distributed byte-pair-encoding (BPE) tokenizer training.

The tokenizer-training step of a training-data pipeline, run where the
data lives instead of sampling to one machine. The classic algorithm
(Sennrich et al. 2016, public): start from words as character
sequences, repeatedly merge the most frequent adjacent symbol pair.

Scale design: ONE corpus-scale shuffle (tokenize + ``groupBy(word)``
count), then one collect of the distinct-word table — vocab-sized,
KBs to MBs, never the corpus. Counting pairs over (distinct word x
count) is exactly equivalent to counting over raw text, so all ``k``
merges train driver-side over that table with incremental pair-count
maintenance: two cluster jobs at any ``k``. ``sample_cap`` bounds the
collect for vocabularies too large for the driver. Applying the table
(:func:`bpe_segment`) is distributed: each merge is one ``F.aggregate``
left-fold over each word's symbol array (greedy left-to-right, the
standard BPE apply order) — JVM-side, no Python.

Determinism: ties on pair count break lexicographically (smallest
(a, b) by code point, the same order as UTF-8 bytes) — byte-identical
merge tables at any parallelism. Verified against the pure-Python
reference implementation (``hipipe_spark.reference_impl.bpe_reference``) in
``tests/test_bpe.py``; an iterative driver-loop algorithm, so the
driver gate records a rows-only row (no single SQL oracle exists —
disclosed, same class as ``embedding_ivf_topk``).

hipipe parity note: hipipe has no tokenizer training; this extends the
engine along the task spec's training-data axis (token counting /
text analysis over ``documents``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hipipe_spark.functions.text import tokens

MERGE_SCHEMA = T.StructType([
    T.StructField("rank", T.IntegerType(), False),
    T.StructField("a", T.StringType(), False),
    T.StructField("b", T.StringType(), False),
    T.StructField("n", T.LongType(), False),
])


def _chars(col: Column) -> Column:
    """Word → array of single-character symbols (split("") emits a
    trailing empty string under Java's limit=-1; drop empties)."""
    return F.filter(F.split(col, ""), lambda x: x != "")


def _merge_pair(syms: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) into "ab" — the
    standard BPE apply order ([l,l,l] + (l,l) → [ll, l]). Pure JVM
    left-fold; try_element_at keeps the empty-accumulator probe safe
    under ANSI mode."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.try_element_at(acc, F.lit(-1)) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_merge_table(
    df: DataFrame,
    text_col: str = "text",
    k: int = 10,
    lowercase: bool = True,
    min_count: int = 2,
    sample_cap: int | None = None,
    seed: int = 7,
) -> DataFrame:
    """Learn the first ``k`` BPE merges over ``df[text_col]`` and
    return the merge table (rank, a, b, n) — rank is 1-based merge
    order, n the pair's frequency at merge time. Stops early when no
    pair reaches ``min_count``.

    Two cluster jobs at any ``k``: the corpus-scale tokenize +
    ``groupBy(word)`` count, then one collect of the distinct-word
    table. The merges train driver-side over that table
    (:func:`_train_merges_local`).

    ``sample_cap=None`` (default) collects every distinct word, so the
    table is exact. An int keeps only the ``sample_cap`` words with the
    smallest ``xxhash64(word, seed)`` (one ``TakeOrdered`` collect,
    reproducible at any parallelism): merge ranks and counts then
    reflect that sample, and equal the exact table computed over the
    same words. ``sample_cap`` words x average length is the driver
    footprint — dimension-sized by contract, never a corpus collect.
    """
    spark: SparkSession = df.sparkSession
    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    wc = (
        df.select(F.explode(tokens(txt)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if sample_cap is not None:
        wc = (wc.orderBy(F.xxhash64(F.col("w"), F.lit(seed)), F.col("w"))
              .limit(sample_cap))
    words = {r["w"]: int(r["cnt"]) for r in wc.collect()}
    merges = _train_merges_local(words, k, min_count)
    return spark.createDataFrame(merges, MERGE_SCHEMA)


def _train_merges_local(
    words: dict[str, int], k: int, min_count: int = 2
) -> list[tuple[int, str, str, int]]:
    """Driver-side BPE merge training over a (word -> count) table with
    incremental pair-count maintenance (the subword-nmt approach,
    public): a lazy max-heap holds (-n, a, b) entries pushed on every
    count change; per merge only the words CONTAINING the merged pair
    are re-segmented, so total work is O(total symbol updates + heap
    traffic), not O(k x vocab) like the naive recount. Convention is
    byte-identical to ``bpe_reference``:
    overlapping adjacent pairs weighted by word count, ties broken by
    lexicographically smallest (a, b), greedy left-to-right merge."""
    import heapq
    from collections import Counter

    vocab: list[list[str]] = []
    cnts: list[int] = []
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for w, c in words.items():
        wi = len(vocab)
        syms = [ch for ch in w]
        vocab.append(syms)
        cnts.append(c)
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] = counts.get(p, 0) + c
            where.setdefault(p, set()).add(wi)
    heap = [(-n, a, b) for (a, b), n in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, k + 1):
        best = None
        while heap:
            negn, a, b = heapq.heappop(heap)
            if counts.get((a, b), 0) == -negn:
                best = (a, b, -negn)
                break
        if best is None or best[2] < min_count:
            break
        a, b, n = best
        merges.append((rank, a, b, n))
        new = a + b
        touched: set[tuple[str, str]] = set()
        for wi in sorted(where.get((a, b), ())):
            old = vocab[wi]
            out: list[str] = []
            for x in old:
                if out and out[-1] == a and x == b:
                    out[-1] = new
                else:
                    out.append(x)
            vocab[wi] = out
            c = cnts[wi]
            # net per-pair delta for this word (a pair can occur
            # several times in one word — apply the signed net once,
            # never decrement a key already deleted)
            old_pairs = Counter(zip(old, old[1:]))
            new_pairs = Counter(zip(out, out[1:]))
            for p in old_pairs.keys() | new_pairs.keys():
                d = new_pairs[p] - old_pairs[p]
                if d:
                    counts[p] = counts.get(p, 0) + d * c
                    touched.add(p)
                    if counts[p] <= 0:
                        del counts[p]
                        where.pop(p, None)
                        continue
                if new_pairs[p]:
                    where.setdefault(p, set()).add(wi)
                elif p in where:
                    where[p].discard(wi)
        for p in touched:
            if p in counts:
                heapq.heappush(heap, (-counts[p], p[0], p[1]))
    return merges


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str]] | DataFrame,
    text_col: str = "text",
    out: str = "bpe_tokens",
    lowercase: bool = True,
    max_merges: int = 64,
) -> DataFrame:
    """Apply a learned merge table to the corpus: ``out`` holds each
    row's text as an array of BPE symbols (words separated by the
    word-boundary marker ``"▁"`` prefix convention is NOT used — words
    are segmented independently and concatenated, the simplest public
    convention; token COUNT features are convention-free).

    Each merge is one narrow ``F.aggregate`` fold — k merges stack k
    expression layers with no shuffle between them; Spark falls back
    from codegen to interpreted evaluation if the tree grows past its
    limit, hence the ``max_merges`` guard (sub-word features rarely
    need more).
    """
    if isinstance(merges, DataFrame):
        rows = merges.orderBy("rank").collect()  # merge table: k rows
        merges = [(r["a"], r["b"]) for r in rows]
    if len(merges) > max_merges:
        raise ValueError(
            f"{len(merges)} merges would nest {len(merges)} fold "
            f"expressions (> max_merges={max_merges}); segment in "
            "stages or raise the guard explicitly"
        )
    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    word_syms = F.transform(tokens(txt), _chars)  # array<array<string>>

    def _fold(a: str, b: str):
        # closure factory, NOT a default-arg lambda: an extra bound
        # param would make F.transform pass the element INDEX into it
        return lambda s: _merge_pair(s, a, b)

    for a, b in merges:
        word_syms = F.transform(word_syms, _fold(a, b))
    return df.withColumn(out, F.flatten(word_syms))
