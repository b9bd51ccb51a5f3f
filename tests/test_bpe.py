"""Distributed BPE trainer vs the pure-Python reference convention."""

import pytest
from pyspark.sql import functions as F

from hipipe_spark.operators.bpe import bpe_merge_table, bpe_segment
from hipipe_spark.reference_impl import bpe_reference, bpe_segment_reference

CORPUS = [
    "low lower lowest low low",
    "new newer newest new",
    "wide wider widest wide wide wide",
    "low new wide lowly",
    "the lowest of the low",
]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)],
                                 "doc_id int, text string")


def test_merge_table_matches_reference(corpus_df):
    got = [(r["rank"], r["a"], r["b"], r["n"])
           for r in bpe_merge_table(corpus_df, k=8).orderBy("rank").collect()]
    want = bpe_reference(CORPUS, k=8)
    assert got == want
    assert len(got) == 8
    # rank-1 merge must be the globally most frequent pair
    assert got[0][3] == max(m[3] for m in got)


def test_merge_table_on_transcripts(transcripts, transcripts_pdf):
    got = [(r["rank"], r["a"], r["b"], r["n"])
           for r in bpe_merge_table(transcripts, text_col="text", k=6)
           .orderBy("rank").collect()]
    want = bpe_reference(list(transcripts_pdf["text"]), k=6)
    assert got == want


def test_merge_table_min_count_stops(corpus_df):
    # absurd threshold -> no merges
    out = bpe_merge_table(corpus_df, k=5, min_count=10**9)
    assert out.count() == 0


def test_overlapping_pair_convention(spark):
    # "aaa" counts (a,a) twice; greedy merge yields [aa, a]
    df = spark.createDataFrame([("aaa aaa",)], "text string")
    rows = bpe_merge_table(df, k=2, min_count=1).orderBy("rank").collect()
    assert (rows[0]["a"], rows[0]["b"], rows[0]["n"]) == ("a", "a", 4)
    seg = bpe_segment(df, [("a", "a")]).select("bpe_tokens").first()[0]
    assert seg == ["aa", "a", "aa", "a"]


def test_segment_matches_reference(corpus_df):
    merges_df = bpe_merge_table(corpus_df, k=8)
    merges = [(r["a"], r["b"]) for r in merges_df.orderBy("rank").collect()]
    got = {r["doc_id"]: r["bpe_tokens"]
           for r in bpe_segment(corpus_df, merges_df).collect()}
    for i, t in enumerate(CORPUS):
        assert got[i] == bpe_segment_reference(t, merges)


def test_segment_guard():
    import pandas as pd  # noqa: F401
    with pytest.raises(ValueError):
        bpe_segment(None, [("a", "b")] * 65)


def test_local_trainer_matches_reference():
    """_train_merges_local (incremental heap maintenance) is
    bit-identical to the O(k*vocab) recount reference on the same
    word-count table."""
    from collections import Counter

    from hipipe_spark.operators.bpe import _train_merges_local

    words = Counter()
    for t in CORPUS:
        for w in t.lower().split():
            words[w] += 1
    assert _train_merges_local(dict(words), k=8) == bpe_reference(CORPUS, k=8)


def test_sample_cap_above_vocab_matches_exact(corpus_df):
    """With sample_cap >= vocab size the sample IS the vocab, so the
    table is the exact one bit-for-bit."""
    got = [(r["rank"], r["a"], r["b"], r["n"])
           for r in bpe_merge_table(corpus_df, k=8, sample_cap=10**6)
           .orderBy("rank").collect()]
    assert got == bpe_reference(CORPUS, k=8)


def test_sample_cap_bounds_the_vocab(corpus_df):
    """A cap below the vocab size trains on that many distinct words:
    every merged pair occurs in the sample, and the run is reproducible."""
    def table(cap):
        return [tuple(r) for r in bpe_merge_table(
            corpus_df, k=4, min_count=1, sample_cap=cap)
            .orderBy("rank").collect()]
    got = table(3)
    assert got == table(3)
    assert len(got) == 4
    assert got != table(None)


def test_k1000_bounded_jobs(spark):
    """k=1000 merges do not cost O(k) Spark jobs: the exact trainer
    collects the distinct-word table once, then trains driver-side."""
    # deterministic synthetic vocab: 1500 distinct 12-char words over a
    # 4-letter alphabet (LCG, no RNG), enough pair mass for 1000 merges
    x, rows = 12345, []
    for i in range(1500):
        chs = []
        for _ in range(12):
            x = (x * 1103515245 + 12345) % (2**31)
            chs.append("abcd"[(x >> 16) % 4])
        rows.append(("".join(chs),))
    df = spark.createDataFrame(rows, "text string")

    sc = spark.sparkContext
    sc.setJobGroup("bpe_k1000_probe", "bounded-job assertion")
    try:
        out = bpe_merge_table(df, k=1000, min_count=1, sample_cap=None)
        n_merges = out.count()
        jobs = sc.statusTracker().getJobIdsForGroup("bpe_k1000_probe")
    finally:
        sc.setJobGroup("", "")
    assert n_merges == 1000
    # the word-table collect (AQE may split it into several jobs) + the
    # count() of the local merge table; NEVER O(k)
    assert 1 <= len(jobs) <= 6, jobs


def test_segment_token_count_feature(corpus_df):
    merges_df = bpe_merge_table(corpus_df, k=4)
    out = bpe_segment(corpus_df, merges_df).withColumn(
        "n_bpe", F.size("bpe_tokens"))
    pdf = out.select("doc_id", "n_bpe").toPandas()
    assert (pdf["n_bpe"] > 0).all()
