"""Incremental MinHash dedup (dedup.py minhash_index +
minhash_lsh_pairs_incremental)."""

from pyspark.sql import functions as F

from hipipe_spark.operators.core import release_cached
from hipipe_spark.operators.dedup import (
    minhash_index, minhash_lsh_pairs, minhash_lsh_pairs_incremental)


def _pairs(df):
    out = sorted((r["id_a"], r["id_b"], round(r["jaccard"], 6))
                 for r in df.collect())
    release_cached(df)
    return out


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(30):
        rows.append((i, base + f" corpus variation {i % 3}"))
    # near-dups of corpus doc 0 and an exact corpus duplicate
    rows.append((100, base + " corpus variation 0 extra"))
    rows.append((101, base + " corpus variation 0"))        # == doc 0 text
    rows.append((102, "completely different text about databases and spark"))
    rows.append((103, base + " corpus variation 1 extra"))
    rows.append((104, base + " corpus variation 0"))        # == 101 (delta dup)
    return spark.createDataFrame(rows, "doc_id long, text string")


KW = dict(shingle_k=3, n_hashes=16, bands=8, jaccard_threshold=0.5,
          shingle="word")


def test_incremental_matches_full_run_on_delta_pairs(spark):
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") < 100)
    delta = docs.filter(F.col("doc_id") >= 100)
    idx = minhash_index(corpus, shingle_k=3, n_hashes=16, shingle="word")
    inc = _pairs(minhash_lsh_pairs_incremental(
        idx, delta, exact_prepass=False, **KW))
    full = minhash_lsh_pairs(docs, exact_prepass=False, **KW)
    delta_ids = {100, 101, 102, 103, 104}
    full_delta = [p for p in _pairs(full)
                  if p[0] in delta_ids or p[1] in delta_ids]
    assert inc == full_delta
    assert len(inc) > 0
    # the exact corpus duplicate is found at jaccard 1.0
    assert (0, 101, 1.0) in inc or any(
        a == 0 and b == 101 for a, b, _ in inc)


def test_incremental_prepass_star_edges(spark):
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") < 100)
    delta = docs.filter(F.col("doc_id") >= 100)
    idx = minhash_index(corpus, shingle_k=3, n_hashes=16, shingle="word")
    inc = _pairs(minhash_lsh_pairs_incremental(idx, delta, **KW))
    # 104 collapsed into rep 101 -> star edge at jaccard 1.0
    assert (101, 104, 1.0) in inc
    # no duplicate (a, b) rows
    keys = [(a, b) for a, b, _ in inc]
    assert len(keys) == len(set(keys))


def test_incremental_empty_delta_and_disjoint(spark):
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") < 100)
    idx = minhash_index(corpus, shingle_k=3, n_hashes=16, shingle="word")
    empty = docs.filter(F.col("doc_id") < 0)
    out = minhash_lsh_pairs_incremental(idx, empty, **KW)
    assert out.count() == 0
    release_cached(out)
    # a delta sharing nothing with the corpus yields no corpus pairs
    alien = spark.createDataFrame(
        [(200, "zzz yyy xxx www vvv uuu")], "doc_id long, text string")
    out2 = _pairs(minhash_lsh_pairs_incremental(idx, alien, **KW))
    assert out2 == []


def test_incremental_against_empty_index_equals_batch(spark):
    """With nothing indexed every pair is within the delta, so the
    incremental run is the batch run: same pairs, same jaccard, same
    star edges, for both shingle kinds and hash families."""
    docs = _docs(spark)
    for kw in (KW, dict(shingle_k=4, n_hashes=16, bands=4,
                        jaccard_threshold=None, hash_family="det")):
        idx = minhash_index(docs.filter(F.col("doc_id") < 0),
                            shingle_k=kw["shingle_k"],
                            n_hashes=kw["n_hashes"],
                            shingle=kw.get("shingle", "char"),
                            hash_family=kw.get("hash_family", "xxhash64"))
        inc = _pairs(minhash_lsh_pairs_incremental(idx, docs, **kw))
        assert inc == _pairs(minhash_lsh_pairs(docs, **kw))
        assert (0, 104, 1.0) in inc  # 101 and 104 repeat doc 0
