"""Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003).

Pins the paper's LOCAL guarantee — any shared substring of length
>= w + k - 1 produces at least one shared fingerprint — plus the
selection rule details (rightmost tie-break via the (h, pos) packing),
the short-document dropout, and the pair-scoring math.
"""

import numpy as np
import pytest

from hipipe_spark.operators.dedup import winnow_fingerprints, winnow_pairs

K, W = 5, 4


def _fps(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnow_fingerprints(df, "doc_id", "text", k=K, w=W, **kw)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    return by_doc


def test_local_guarantee_shared_substring(spark):
    # docs share a substring of length exactly w + k - 1 = 8 embedded
    # in otherwise-disjoint text -> guaranteed >= 1 common fingerprint
    shared = "zqxjvwpy"
    assert len(shared) == W + K - 1
    rows = [
        (1, "aaaaaaaaaaaa" + shared + "bbbbbbbbbbbb"),
        (2, "cccccccccccc" + shared + "dddddddddddd"),
    ]
    fps = _fps(spark, rows)
    assert fps[1] & fps[2], "local guarantee violated"


def test_disjoint_texts_share_nothing(spark):
    rows = [(1, "abcdefghijklmnopqrstuvwxyz"),
            (2, "0123456789 0123456789 0123456789")]
    fps = _fps(spark, rows)
    assert not (fps[1] & fps[2])


def test_short_doc_drops_out(spark):
    # needs k + w - 1 = 8 chars for one complete window
    rows = [(1, "abcdefg"), (2, "abcdefgh")]
    fps = _fps(spark, rows)
    assert 1 not in fps
    assert len(fps[2]) == 1  # exactly one window -> one fingerprint


def test_case_and_cap_normalization(spark):
    rows = [(1, "The Quick Brown Fox"), (2, "the quick brown fox")]
    fps = _fps(spark, rows)
    assert fps[1] == fps[2]
    # max_len cap: identical prefixes, divergent tails beyond the cap
    rows = [(1, "x" * 10 + "same prefix body"),
            (2, "x" * 10 + "same prefix body")]
    a = _fps(spark, [(1, rows[0][1] + "TAIL-A")], max_len=26)
    b = _fps(spark, [(1, rows[1][1] + "TAIL-B")], max_len=26)
    assert a[1] == b[1]


def test_determinism(spark):
    rows = [(i, f"document number {i} with some repeated phrasing "
                f"common to every row")
            for i in range(20)]
    assert _fps(spark, rows) == _fps(spark, rows)


def test_max_len_guard():
    with pytest.raises(ValueError):
        winnow_fingerprints(None, max_len=256)


def _reference_fps(txt, k=K, w=W, cap=240):
    """Plain-python winnowing of one text, ascending — an independent
    recomputation of the selection scheme (no shared code path beyond
    the hash constants)."""
    from hipipe_spark.functions.hashing import _A, _C, _M
    t = ("" if txt is None else txt).lower()[:cap]
    n = len(t) - k + 1
    hs = []
    for i in range(n):
        acc = 0
        for ch in t[i:i + k]:
            acc = (acc * 31 + ord(ch)) % _M
        hs.append(((acc * _A + _C) % _M * _A + _C) % _M)
    enc = [h * 256 + (255 - (i + 1)) for i, h in enumerate(hs)]
    return sorted({min(enc[p:p + w]) // 256 for p in range(n - w + 1)})


def test_matches_numpy_reference(spark):
    rows = [(1, "the winnowing algorithm selects the minimum hash"),
            (2, "hash selection with rightmost tie break rules")]
    fps = _fps(spark, rows)
    for did, txt in rows:
        assert fps[did] == set(_reference_fps(txt))


def _fence_texts(k, w, cap):
    """~200 back-to-back docs that probe every document boundary of a
    flattened batch: nulls, empties, one char short of / exactly one
    window, beyond the cap, astral codepoints, case expansion under
    ``lower`` ('İ' lowers to two codepoints), identical neighbours."""
    base = ["", None, "a" * (k + w - 2), "b" * (k + w - 1),
            "Winnowing Selects Minima " * 20,
            "emoji 😀🎉 astral 𝔘𝔫𝔦 codepoints 😀🎉 again",
            "İSTANBUL İİİ DOTTED İ capital", "ΣΊΣΥΦΟΣ ẞtraße ﬁne",
            "identical neighbour text", "identical neighbour text"]
    rnd = np.random.default_rng(7)
    alphabet = list("abcdef İ😀Σ")
    out = []
    for _ in range(10):   # the edge cases back to back, then random docs
        out += base
        out += ["".join(rnd.choice(alphabet, int(rnd.integers(0, cap + 20))))
                for _ in range(10)]
    return out


@pytest.mark.parametrize("id_type", ["long", "string"])
@pytest.mark.parametrize("k,w,cap", [(5, 4, 240), (3, 2, 50), (1, 1, 255)])
def test_batch_boundaries_match_reference(spark, id_type, k, w, cap):
    texts = _fence_texts(k, w, cap)
    ids = list(range(len(texts))) if id_type == "long" else \
        [f"doc{i:03d}" for i in range(len(texts))]
    df = spark.createDataFrame(list(zip(ids, texts)),
                               f"doc_id {id_type}, text string").coalesce(1)
    out = winnow_fingerprints(df, "doc_id", "text", k=k, w=w, max_len=cap)
    assert out.dtypes == [("doc_id", "bigint" if id_type == "long"
                           else "string"), ("fp", "bigint")]
    want = [(d, fp) for d, t in zip(ids, texts)
            for fp in _reference_fps(t, k, w, cap)]
    # one partition: emitted in input row order, fps ascending per doc
    assert [(r["doc_id"], r["fp"]) for r in out.collect()] == want


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_all_short_partition_yields_empty_batch(spark, id_type):
    short = [None, "", "abc", "abcdefg"]   # all below k + w - 1 = 8
    ids = [1, 2, 3, 4] if id_type == "long" else ["a", "b", "c", "d"]
    df = spark.createDataFrame(list(zip(ids, short)),
                               f"doc_id {id_type}, text string").coalesce(1)
    out = winnow_fingerprints(df, "doc_id", "text", k=K, w=W)
    assert out.collect() == []
    # an all-short partition next to a productive one: the empty
    # batch must carry the declared schema through the same job
    mixed = spark.createDataFrame(
        spark.sparkContext.parallelize(
            list(zip(ids, short)) + [(ids[0], "long enough document")], 2),
        f"doc_id {id_type}, text string")
    rows = winnow_fingerprints(mixed, "doc_id", "text", k=K, w=W).collect()
    assert {r["doc_id"] for r in rows} == {ids[0]}
    assert sorted(r["fp"] for r in rows) == \
        _reference_fps("long enough document")


def test_pairs_scoring_and_hub_exclusion(spark):
    base = "shared sentence that is long enough to fingerprint well"
    rows = [(1, base + " tail one"), (2, base + " tail two"),
            (3, "completely different content goes here instead")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, "doc_id", "text", k=K, w=W)
    pairs = {(r["id_a"], r["id_b"]): r
             for r in winnow_pairs(fps, "doc_id", threshold=0.3).collect()}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r["sim"] == round(r["n_shared"] / min(r["n_a"], r["n_b"]), 6)
    assert r["sim"] >= 0.3
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # max_df=1 excludes every fingerprint appearing in 2+ docs -> no pairs
    assert winnow_pairs(fps, "doc_id", threshold=0.0, max_df=1).count() == 0


def test_string_ids(spark):
    # id column type is preserved (conv-style string ids)
    rows = [("conv_a", "the same shared sentence body here"),
            ("conv_b", "the same shared sentence body here")]
    df = spark.createDataFrame(rows, "cid string, text string")
    fps = winnow_fingerprints(df, "cid", "text", k=K, w=W)
    assert dict(fps.dtypes)["cid"] == "string"
    pairs = winnow_pairs(fps, "cid", threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"], r["sim"]) for r in pairs] == \
        [("conv_a", "conv_b", 1.0)]
