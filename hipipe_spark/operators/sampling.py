"""Deterministic sampling operators for training-data pipelines.

The reference's only sampling primitive is the random train/valid/test
split (``include/hipipe/core/groups.hpp:55-84``), driven by an
irreproducible thread-local mt19937 (``utility/random.hpp:21``). These
operators extend that idea to the corpus-construction toolkit a 100-TB
training pipeline needs — stratified sampling, Bernoulli sampling, and
weighted dataset mixtures — with the engine's key-derived determinism
(``functions/hashing.py``): every kept/dropped decision is a pure
function of (key, seed), identical at any parallelism and bit-for-bit
reproducible by a DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hipipe_spark.functions.hashing import (
    det_hash01, det_hash_i64, det_hash_str_i64,
)


def bernoulli_sample(df: DataFrame, key: str, fraction: float,
                     seed: int = 0) -> DataFrame:
    """Keep each row iff det_hash01(key, seed) < fraction. Approximate
    count, exact reproducibility, zero shuffle — the 100-TB default."""
    return df.filter(det_hash01(F.col(key), seed) < F.lit(float(fraction)))


def stratified_sample(df: DataFrame, strata: str | Sequence[str], key: str,
                      n_per_stratum: int, seed: int = 0) -> DataFrame:
    """EXACT n rows per stratum, chosen by deterministic hash order
    (rank within stratum by (det_hash(key), key)). One shuffle on the
    strata columns; strata sample in parallel. A monster stratum sorts
    in one window partition — for approximate-count sampling at that
    scale use :func:`bernoulli_sample` with fraction = n/|stratum|."""
    strata = [strata] if isinstance(strata, str) else list(strata)
    w = Window.partitionBy(*strata).orderBy(
        det_hash_i64(F.col(key), seed), F.col(key))
    return (df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n_per_stratum).drop("__rk"))


def temperature_mixture(df: DataFrame, domain_col: str, key: str,
                        alpha: float = 0.5, target_rows: int = 100_000,
                        seed: int = 0) -> DataFrame:
    """Temperature-based domain rebalancing (the multilingual-corpus
    recipe of XLM-R / mT5): domain d is sampled with probability
    q_d ∝ n_d^alpha, realized as a per-row Bernoulli keep with rate
    r_d = min(1, q_d · target_rows / n_d). ``alpha < 1`` flattens the
    domain distribution (upweights small domains, capped at keeping
    everything); ``alpha = 1`` is proportional (uniform rate).

    All statistics stay IN the plan: one groupBy(domain) count, one
    single-row normalizer aggregate broadcast back, one broadcast join
    of the per-domain rate onto the corpus — the corpus itself never
    shuffles, and the keep decision is the engine's deterministic
    (key, seed) hash, reproducible at any parallelism and by a DuckDB
    oracle running the identical arithmetic.
    """
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    norm = counts.agg(
        F.sum(F.pow(F.col("__n").cast("double"), F.lit(float(alpha))))
        .alias("__z"))
    rates = (counts.crossJoin(F.broadcast(norm))
             .select(domain_col,
                     F.least(
                         F.lit(1.0),
                         F.pow(F.col("__n").cast("double"),
                               F.lit(float(alpha)))
                         / F.col("__z")
                         * F.lit(float(target_rows))
                         / F.col("__n").cast("double"),
                     ).alias("__rate")))
    return (df.join(F.broadcast(rates), domain_col)
            .filter(det_hash01(F.col(key), seed) < F.col("__rate"))
            .drop("__rate"))


def weighted_mixture(sources: Sequence[tuple[DataFrame, float]], key: str,
                     seed: int = 0, tag_col: str | None = "source") -> DataFrame:
    """Weighted dataset mixture: source i is independently downsampled
    to fraction w_i (Bernoulli on det_hash01(key, seed+i)), then all
    sources union. The standard corpus-mixing recipe (e.g. upweighting
    curated data) as one deterministic, shuffle-free plan — each
    source's filter pushes down to its own scan; the union is a plan
    concatenation, not an exchange."""
    parts = []
    for i, (src, w) in enumerate(sources):
        part = src.filter(det_hash01(F.col(key), seed + i) < F.lit(float(w)))
        if tag_col:
            part = part.withColumn(tag_col, F.lit(i))
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def group_split(df: DataFrame, group_col: str,
                splits: Sequence[tuple[str, float]] = (
                    ("train", 0.9), ("val", 0.05), ("test", 0.05)),
                seed: int = 0, out_col: str = "split") -> DataFrame:
    """Leakage-safe train/val/test assignment: the split is a pure
    function of the GROUP key (e.g. conv_id), so every row of a
    conversation lands in the same split — no conversation ever
    straddles train and test (the group-level leakage every naive
    row-wise split commits).

    Reimagines the reference's random train/valid/test split
    (``include/hipipe/core/groups.hpp:55-84``, thread-local mt19937,
    irreproducible) as a deterministic scan-local expression: u =
    det_hash01(group, seed), then cumulative-threshold buckets over the
    normalized weights. Zero shuffle, zero join — the assignment
    evaluates inside the scan at any scale, and adding data never
    reassigns existing groups (hash stability), the property that keeps
    eval sets frozen across corpus refreshes."""
    from pyspark.sql.types import StringType

    names = [n for n, _ in splits]
    weights = [float(w) for _, w in splits]
    tot = sum(weights)
    if tot <= 0:
        raise ValueError("split weights must sum > 0")
    cum, acc = [], 0.0
    for w in weights[:-1]:
        acc += w / tot
        cum.append(acc)
    col = F.col(group_col)
    if isinstance(df.schema[group_col].dataType, StringType):
        u = det_hash_str_i64(col, seed) / F.lit(2147483648.0)
    else:
        u = det_hash01(col, seed)
    expr = F.lit(names[-1])
    for name, threshold in reversed(list(zip(names[:-1], cum))):
        expr = F.when(u < F.lit(threshold), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def sample_to_token_budget(df: DataFrame, key: str, tokens_col: str,
                           budget: int, seed: int = 0,
                           n_partitions: int | None = None) -> DataFrame:
    """Deterministic subsample hitting a TOKEN budget, not a row count:
    documents are ordered by a seeded hash permutation of ``key`` (an
    unbiased deterministic shuffle — the det_shuffle recipe) and the
    prefix whose running token total fits in ``budget`` is kept. The
    knob every corpus-mixing spec actually states ("200B tokens of
    web"), which row sampling can only approximate through a mean
    document length that drifts with every refresh.

    Adds ``tok_cum`` — the kept document's inclusive running token
    total (max kept value = realized budget). Keep decisions are a pure
    function of (key set, seed): stable under reordering, and at any
    parallelism.

    Plan: the two-phase range-partitioned prefix sum shared with
    :func:`hipipe_spark.operators.packing.pack_chunks` — one range
    shuffle + a driver-sized per-partition offset vector; no global
    single-task sort. ``key`` must be a unique integer id; the order
    column packs (hash(key), key) into 62 bits so hash collisions
    cannot make the order — and therefore the kept set — ambiguous.
    Cache lifetime: release via ``release_cached`` after materializing.
    """
    from hipipe_spark.functions.hashing import _M
    from hipipe_spark.operators.core import register_cached
    from hipipe_spark.operators.packing import _exclusive_cumsum

    ordc = (det_hash_i64(F.col(key), seed) * F.lit(int(_M))
            + F.pmod(F.col(key), F.lit(int(_M))))
    tmp = df.withColumn("__ord", ordc)
    cum = _exclusive_cumsum(tmp, "__ord", tokens_col, "__excl", n_partitions)
    out = (cum.withColumn(
        "tok_cum", F.col("__excl") + F.col(tokens_col).cast("long"))
        .filter(F.col("tok_cum") <= int(budget))
        .drop("__ord", "__excl"))
    return register_cached(out, *getattr(cum, "_hipipe_cached", ()))


def time_split(df: DataFrame, cutoff: str, embargo_s: float = 0.0,
               ts_col: str = "ts", out: str = "split") -> DataFrame:
    """Purged temporal train/test split: ``train`` strictly before
    ``cutoff - embargo_s``, ``test`` at/after ``cutoff``, and the
    boundary band labeled ``purged`` — rows a windowed/lagged feature
    computed on the train side could have read from the test side (or
    vice versa), so neither split may keep them. The embargo should be
    at least the longest feature lookback horizon; with
    ``embargo_s=0`` nothing is purged and this is a plain temporal
    split. Rows stay labeled rather than dropped so the purge volume
    is auditable (``groupBy(out).count()``).

    Scan-local expression on an untouched plan — the filter for either
    split pushes down to the source scan, and at 100 TB a
    ts-partitioned table turns it into partition pruning."""
    from hipipe_spark.operators.temporal import ts_seconds
    es = ts_seconds(F.col(ts_col))
    cut = ts_seconds(F.lit(cutoff).cast("timestamp"))
    return df.withColumn(
        out,
        F.when(es < cut - F.lit(float(embargo_s)), F.lit("train"))
        .when(es >= cut, F.lit("test"))
        .otherwise(F.lit("purged")))


def walk_forward_splits(df: DataFrame, n_folds: int = 3,
                        embargo_s: float = 0.0,
                        ts_col: str = "ts") -> DataFrame:
    """Walk-forward (expanding-window) time-series cross-validation
    audit: the whole-second span [t0, t1] = [floor(min ts), ceil(max
    ts)] is cut into ``n_folds + 1`` slices at the whole-second
    boundaries ``t0 + floor(i * (t1 - t0) / (n_folds + 1))``; fold
    ``i`` tests on slice ``i`` and trains on everything strictly
    before that slice's start minus ``embargo_s``
    (the purged band a lookback feature could leak across — the k-fold
    generalization of :func:`time_split`). Returns one row per fold:
    ``fold, train_end_s, test_start_s, test_end_s, n_train, n_purged,
    n_test`` — the volumes each CV iteration would see, so degenerate
    folds (empty train, all-purged) surface before any model runs.

    Plan shape: one min/max aggregate, then ONE pass classifying every
    row into its (slice, in-embargo-band) cell — a 2·(n_folds+1)-row
    histogram — and the per-fold sums run on that histogram crossed
    with the fold ids. The corpus is scanned twice total (span +
    histogram) and never shuffled on anything wider than the
    ``n_folds+1``-value slice key; fold count never multiplies the row
    stream.
    """
    from hipipe_spark.operators.temporal import ts_seconds
    es = ts_seconds(F.col(ts_col))
    k = n_folds + 1
    span = df.agg(F.floor(F.min(es)).alias("__t0"), F.ceil(F.max(es)).alias("__t1"))
    d = df.select(es.alias("__es")).crossJoin(F.broadcast(span))
    t0, span_s = F.col("__t0"), F.col("__t1") - F.col("__t0")

    def bound(i: Column) -> Column:
        # t0 + floor(i * span / k): the floor of a quotient of integers
        # below 2^53 / k is exact in double, so every engine lands on
        # the same whole second
        return t0 + F.floor(i * span_s / F.lit(float(k)))

    # slice = number of boundaries 1..n_folds at or before the row, in
    # whole seconds since t0: floor(es) >= bound(i) <=> i * span < (sec + 1) * k
    sec = F.floor(F.col("__es")) - t0
    s = F.when(span_s > 0, F.least(
        F.lit(n_folds),
        F.floor(((sec + 1) * k - 1) / span_s).cast("int"))).otherwise(F.lit(0))
    # within the embargo band just before the row's NEXT slice boundary
    emb = F.col("__es") >= bound(s + 1).cast("double") - F.lit(float(embargo_s))
    hist = (d.groupBy(s.alias("__slice"), emb.cast("int").alias("__emb"))
             .agg(F.count(F.lit(1)).alias("__n")))
    folds = (df.sparkSession.range(1, n_folds + 1)
             .select(F.col("id").cast("int").alias("fold")))
    sl, em, n = F.col("__slice"), F.col("__emb"), F.col("__n")
    fd = F.col("fold")
    out = (folds.crossJoin(hist).groupBy("fold").agg(
        F.sum(F.when((sl < fd - 1) | ((sl == fd - 1) & (em == 0)), n)
               .otherwise(0)).cast("bigint").alias("n_train"),
        F.sum(F.when((sl == fd - 1) & (em == 1), n)
               .otherwise(0)).cast("bigint").alias("n_purged"),
        F.sum(F.when(sl == fd, n).otherwise(0))
         .cast("bigint").alias("n_test")))
    bounds = (folds.crossJoin(F.broadcast(span)).select(
        "fold",
        (bound(fd).cast("double") - F.lit(float(embargo_s))).alias("train_end_s"),
        bound(fd).cast("double").alias("test_start_s"),
        bound(fd + 1).cast("double").alias("test_end_s")))
    return bounds.join(out, "fold").select(
        "fold", "train_end_s", "test_start_s", "test_end_s",
        "n_train", "n_purged", "n_test")


def sample_per_key(df: DataFrame, group: str | Sequence[str], key: str,
                   k: int, seed: int = 0) -> DataFrame:
    """Deterministic fixed-size sample per group — the distributed
    stand-in for a per-key reservoir: rank rows inside each group by
    the key-derived hash (functions/hashing.py) and keep the first
    ``k``. Every row's in/out decision is a pure function of (group,
    key, seed): stable across reruns, cluster sizes, AND input order —
    properties a true streaming reservoir (state + RNG) cannot give a
    batch engine. Groups smaller than k pass through whole.

    Plan: ONE exchange on the group key, one in-partition window sort,
    one filter. For monster groups the sort is the per-partition cost;
    pre-filtering with bernoulli_sample at ~(3k / E[group size]) cuts
    it when group sizes are known."""
    if k < 1:
        raise ValueError("k must be >= 1")
    groups = [group] if isinstance(group, str) else list(group)
    w = (Window.partitionBy(*groups)
         .orderBy(det_hash_i64(F.col(key), seed).asc(), F.col(key).asc()))
    return (df.withColumn("__rk", F.row_number().over(w))
              .filter(F.col("__rk") <= k).drop("__rk"))
