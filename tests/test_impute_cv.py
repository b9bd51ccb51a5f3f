"""fit/apply_impute, walk_forward_splits, distinctive_terms refs."""

import math

import numpy as np
from pyspark.sql import functions as F

from hipipe_spark.operators.encoders import apply_impute, fit_impute
from hipipe_spark.operators.retrieval import distinctive_terms
from hipipe_spark.operators.sampling import walk_forward_splits


def test_impute_median_matches_numpy(transcripts, transcripts_pdf):
    t = transcripts.withColumn(
        "x", F.when(F.col("turn_idx") % 5 != 0,
                    F.length("text").cast("double")))
    fit = t.filter(F.col("turn_idx") % 2 == 0)
    out = apply_impute(t, fit_impute(fit, ["x"], exact=True),
                       ["x"]).toPandas()
    pdf = transcripts_pdf.copy()
    pdf["x"] = np.where(pdf["turn_idx"] % 5 != 0,
                        pdf["text"].str.len().astype(float), np.nan)
    med = pdf.loc[pdf["turn_idx"] % 2 == 0, "x"].median()
    filled = pdf["x"].fillna(med)
    j = out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    p = pdf.sort_values(["conv_id", "turn_idx"])  # keep original index
    assert np.allclose(j["x_f"].to_numpy(), filled.loc[p.index].to_numpy())
    assert (j["x__was_null"].to_numpy()
            == p["x"].isna().astype(int).to_numpy()).all()


def test_impute_mean_and_all_null(spark):
    df = spark.createDataFrame(
        [(1.0, None), (3.0, None), (None, None)], "a double, b double")
    fills = fit_impute(df, ["a", "b"], strategy="mean")
    out = apply_impute(df, fills, ["a", "b"]).toPandas()
    assert np.allclose(sorted(out["a_f"]), [1.0, 2.0, 3.0])
    # all-null fit column: fill is null, column stays null, indicator set
    assert out["b_f"].isna().all()
    assert (out["b__was_null"] == 1).all()


def test_walk_forward_counts_match_python(transcripts, transcripts_pdf):
    out = walk_forward_splits(transcripts, n_folds=3,
                              embargo_s=600.0).toPandas()
    es = transcripts_pdf["ts"].astype("int64") / 1e9
    # whole-second boundaries b_0..b_4 over [floor(min), ceil(max)]
    t0, t1 = np.floor(es.min()), np.ceil(es.max())
    bounds = t0 + (np.arange(5) * (t1 - t0)) // 4
    s = np.searchsorted(bounds[1:4], es.to_numpy(), side="right")
    emb = es >= bounds[s + 1] - 600.0
    for _, r in out.iterrows():
        i = int(r["fold"])
        assert r["n_test"] == int((s == i).sum())
        assert r["n_purged"] == int(((s == i - 1) & emb).sum())
        assert r["n_train"] == int(
            ((s < i - 1) | ((s == i - 1) & ~emb)).sum())
        assert r["test_start_s"] == bounds[i]
        assert r["train_end_s"] == bounds[i] - 600.0
        assert r["test_end_s"] == bounds[i + 1]
    # every row is accounted for in each fold up to its test slice
    total = out.iloc[0][["n_train", "n_purged", "n_test"]].sum()
    assert total == int((s <= 1).sum())


def test_walk_forward_zero_embargo_no_purge(transcripts):
    out = walk_forward_splits(transcripts, n_folds=2,
                              embargo_s=0.0).toPandas()
    assert (out["n_purged"] == 0).all()
    assert (out["n_train"] > 0).all() and (out["n_test"] > 0).all()


def test_distinctive_terms_matches_python(spark):
    docs = [
        (1, "alpha alpha beta common common"),
        (2, "beta gamma common common"),
        (3, "gamma gamma delta common"),
        (4, "delta epsilon common common common"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = distinctive_terms(df, top_k=2, min_df=1).toPandas()
    n = 4
    toks = {i: t.split() for i, t in docs}
    dfreq: dict[str, int] = {}
    for ts in toks.values():
        for term in set(ts):
            dfreq[term] = dfreq.get(term, 0) + 1
    for i, ts in toks.items():
        scores = {}
        for term in set(ts):
            tf = ts.count(term)
            scores[term] = round(
                tf * (math.log((n + 1) / (dfreq[term] + 1)) + 1.0), 6)
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
        got = out[out["id"] == i].sort_values("rank")
        assert list(got["term"]) == [t for t, _ in top]
        assert np.allclose(got["score"], [sc for _, sc in top])


def test_distinctive_terms_df_pruning(spark):
    df = spark.createDataFrame(
        [(1, "rare shared"), (2, "shared shared")],
        "doc_id long, text string")
    out = distinctive_terms(df, top_k=5, min_df=2).toPandas()
    # min_df=2 drops the hapax term before the join
    assert set(out["term"]) == {"shared"}
