"""Fixed-size probabilistic sketches with deterministic hashing.

At 100 TB an exact ``groupBy(key).agg(countDistinct(...))`` or a full
frequency table is often the single most expensive shuffle in a
pipeline. The classical answer is a sketch: a fixed-size summary built
with ONE map-side-combinable pass whose size is independent of the
input — KMV/theta for distinct counts, Count-Min for frequencies,
Bloom filters for membership prefiltering. hipipe has no aggregation
layer at all (its users hand-roll counters inside ``for_each`` stages,
reference ``include/hipipe/core/stream/for_each.hpp:63``); this module
supplies the scale-native versions.

Everything here uses the :mod:`hipipe_spark.functions.hashing`
det-hash family, so each sketch is reproducible bit-for-bit by a
DuckDB oracle running the same arithmetic — the driver's hash-compare
gate verifies the SKETCH ITSELF, not just a tolerance around it.

Scale notes per operator:

- :func:`kmv_distinct` — threshold-KMV: rows are prefiltered map-side
  to ``hash01 <= tau`` (a scan-pushed literal predicate), so the
  shuffle moves only ~``tau``·|distinct| hash values instead of every
  distinct key. With ``tau = 4k / D_min`` (``D_min`` a lower bound on
  the distinct count) the k-th minimum survives with overwhelming
  probability; the estimator is the classical ``(k-1)/h_(k)``.
- :func:`cms_heavy_hitters` — the sketch build is one exploded
  ``groupBy(depth, bucket)`` whose result is exactly ``d×w`` rows no
  matter the input size; partial aggregation collapses each input
  partition to ≤ d·w counters before the shuffle.
- :func:`bloom_prefilter` — the filter is an ``m``-row bit table
  (broadcast-joined), never a per-row Python membership test; the
  candidate set it admits (true matches + bounded false positives) is
  then verified with an exact semi-join an order of magnitude smaller
  than the unfiltered one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hipipe_spark.functions.hashing import det_hash01, det_hash_i64


def kmv_distinct(df: DataFrame, group: str, key: str, k: int = 64,
                 tau: float = 0.05) -> DataFrame:
    """Per-``group`` distinct-count estimate of integer column ``key``
    via a threshold-KMV (k-minimum-values / bottom-k theta) sketch.

    Pipeline: ``hash01(key)`` → map-side filter ``<= tau`` (pushed to
    the scan; at 100 TB this is the step that removes ~``1-tau`` of
    the data before any shuffle) → distinct surviving hashes per group
    → the k smallest → estimate ``(k-1) / h_(k)``. Groups with fewer
    than ``k`` surviving hashes use the fixed-threshold theta estimator
    ``n_kept / tau`` (each distinct key survives with probability tau,
    so survivors/tau is unbiased — the same scaling
    :func:`kmv_join_estimate` applies) — flagged in ``saturated``
    (false = the threshold filter, not the k-th order statistic,
    bounded the sketch; the tau-scaled estimate is still valid).

    Output: ``group, kmv_estimate (double), n_kept (bigint),
    saturated (boolean)`` — plus ``exact_distinct`` for the error
    column, affordable at test scale (the oracle computes the same).
    """
    h = det_hash01(F.col(key).cast("long"), seed=7)
    kept = (df.select(F.col(group), h.alias("h01"))
              .where(F.col("h01") <= F.lit(float(tau)))
              .select(group, "h01").distinct())
    w = Window.partitionBy(group).orderBy(F.col("h01").asc())
    ranked = kept.withColumn("rk", F.row_number().over(w))
    agg = (ranked.where(F.col("rk") <= k)
           .groupBy(group)
           .agg(F.count("*").alias("n_kept"),
                F.max(F.when(F.col("rk") == k, F.col("h01")))
                 .alias("h_k")))
    exact = df.groupBy(group).agg(
        F.countDistinct(key).alias("exact_distinct"))
    # Unsaturated groups (< k survivors below tau) use the fixed-threshold
    # theta estimator n_kept / tau — the same scaling kmv_join_estimate
    # applies — instead of the raw survivor count, which would be a ~1/tau
    # underestimate of the true distinct count.
    est = F.when(
        F.col("h_k").isNotNull(),
        F.round((F.lit(k) - 1) / F.col("h_k"), 2)
    ).otherwise(F.round(
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("double")
        / F.lit(float(tau)), 2))
    # left join FROM exact: a group none of whose hashes survived tau
    # must still report (estimate = its 0 survivors, unsaturated)
    return (exact.join(agg, group, "left")
            .select(group,
                    est.alias("kmv_estimate"),
                    F.coalesce(F.col("n_kept"), F.lit(0))
                     .cast("bigint").alias("n_kept"),
                    F.col("h_k").isNotNull().alias("saturated"),
                    F.col("exact_distinct").cast("bigint")
                     .alias("exact_distinct"))
            .orderBy(group))


def cms_cells(item: Column, depth: int, width: int) -> Column:
    """The ``depth`` Count-Min counters a long-valued ``item`` hashes
    into, as an array of ``(d int, bucket int)`` structs: row ``d``
    uses det-hash seed ``100 + d``. The one bucketing shared by every
    sketch builder and point query, so sketches from any of them
    merge and probe consistently."""
    return F.array(*[
        F.struct(F.lit(d).alias("d"),
                 F.pmod(det_hash_i64(item, seed=100 + d),
                        F.lit(width)).cast("int").alias("bucket"))
        for d in range(depth)])


def cms_sketch(df: DataFrame, item: str, depth: int = 4,
               width: int = 256) -> DataFrame:
    """Build a Count-Min sketch of integer column ``item``: ``depth``
    independent det-hash rows × ``width`` buckets. ONE exploded
    map-side-combinable aggregate; the result is exactly ``depth ×
    width`` rows regardless of input size — the property that makes it
    shippable (broadcast, checkpoint, union-merge across days).

    Output: ``d (int), bucket (int), cnt (bigint)``. Sketches built
    from disjoint inputs merge by ``groupBy(d, bucket).sum(cnt)`` —
    the linearity that gives incremental / streaming refresh for free.
    """
    rows = cms_cells(F.col(item).cast("long"), depth, width)
    return (df.select(F.explode(rows).alias("r"))
            .groupBy(F.col("r.d").alias("d"),
                     F.col("r.bucket").alias("bucket"))
            .agg(F.count("*").alias("cnt")))


def cms_heavy_hitters(df: DataFrame, item: str, top_n: int = 20,
                      depth: int = 4, width: int = 256) -> DataFrame:
    """Count-Min frequency estimates for the ``top_n`` most frequent
    values of ``item``, with the true counts and the (always ≥ 0)
    collision overestimate alongside.

    The sketch is :func:`cms_sketch`; a candidate's estimate is the
    MIN over the ``depth`` counters it hashes into (the classic CMS
    point query, overestimate ≤ collisions in its emptiest row). The
    candidate list here is the exact top-``top_n`` — affordable at
    test scale and exactly what the oracle reproduces; at 100 TB the
    candidate stream would come from a cheap per-partition prepass
    while the d×w sketch stays the only global state.

    Output: ``item, true_cnt, cms_estimate, overestimate`` (bigints),
    ordered by true count descending then item.
    """
    sketch = cms_sketch(df, item, depth=depth, width=width)
    top = (df.groupBy(F.col(item).cast("long").alias("item"))
           .agg(F.count("*").alias("true_cnt"))
           .orderBy(F.col("true_cnt").desc(), F.col("item").asc())
           .limit(top_n))
    probes = top.select(
        "item", "true_cnt",
        F.explode(cms_cells(F.col("item"), depth, width)).alias("p")
    ).select("item", "true_cnt", F.col("p.d").alias("pd"),
             F.col("p.bucket").alias("pb"))
    joined = probes.join(F.broadcast(sketch),
                         (probes["pd"] == sketch["d"])
                         & (probes["pb"] == sketch["bucket"]))
    return (joined.groupBy("item", "true_cnt")
            .agg(F.min("cnt").alias("cms_estimate"))
            .select(F.col("item").cast("bigint"),
                    F.col("true_cnt").cast("bigint"),
                    F.col("cms_estimate").cast("bigint"),
                    (F.col("cms_estimate") - F.col("true_cnt"))
                    .cast("bigint").alias("overestimate"))
            .orderBy(F.col("true_cnt").desc(), F.col("item").asc()))


def bloom_prefilter(fact: DataFrame, fact_key: str, dim: DataFrame,
                    dim_key: str, m: int = 4096,
                    n_hashes: int = 3) -> DataFrame:
    """Bloom-filter semi-join audit: build an ``m``-bit filter over
    ``dim``'s keys with ``n_hashes`` det-hash functions, admit the
    ``fact`` rows whose every bit is set, then verify exactly.

    The 100-TB shape: the bit table is ≤ ``m`` rows (broadcast — no
    shuffle of the fact side beyond the final aggregate), the
    membership test is ``n_hashes`` array positions all present —
    computed as a broadcast join + count match, never a Python set.
    False positives are the rows the filter admits that the exact
    semi-join rejects; their rate is the sketch-quality metric.

    Output: one row — ``n_fact_keys, n_candidates, n_true,
    n_false_positive (bigints), fp_rate (double)`` where
    ``fp_rate = n_false_positive / n_fact_keys`` (all counts over
    DISTINCT fact keys — the unit a semi-join prefilter admits).
    """
    def positions(col):
        return [F.pmod(det_hash_i64(col.cast("long"), seed=200 + i),
                       F.lit(m)).cast("int")
                for i in range(n_hashes)]

    bits = (dim.select(F.explode(F.array(
                *positions(F.col(dim_key)))).alias("bit"))
            .distinct())
    # probe DISTINCT keys and DISTINCT (key, bit) pairs: duplicate fact
    # rows and two hash functions colliding onto one bit must not
    # inflate/deflate the all-bits-present count. n_pos and the hit
    # count fold in ONE aggregate off a LEFT broadcast join — two
    # separate aggregates joined back would sort-merge two
    # fact-key-sized frames (plan-audit-pinned).
    probe = (fact.select(F.col(fact_key).alias("fk")).distinct()
             .select("fk", F.explode(F.array_distinct(F.array(
                 *positions(F.col("fk"))))).alias("bit")))
    marked = probe.join(
        F.broadcast(bits.withColumn("__hit", F.lit(1))), "bit", "left")
    hits = (marked.groupBy("fk")
            .agg(F.count("*").alias("n_pos"),
                 F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                  .alias("nbits"))
            .where(F.col("nbits") == F.col("n_pos"))
            .select("fk"))
    truth = dim.select(F.col(dim_key).alias("fk")).distinct()
    cand = hits.join(F.broadcast(truth.withColumn("is_true", F.lit(1))),
                     "fk", "left")
    nkeys = fact.agg(F.countDistinct(fact_key).alias("n_fact_keys"))
    agg = cand.agg(
        F.count("*").alias("n_candidates"),
        F.sum(F.coalesce(F.col("is_true"), F.lit(0))).alias("n_true"))
    return agg.crossJoin(F.broadcast(nkeys)).select(
        F.col("n_fact_keys").cast("bigint"),
        F.col("n_candidates").cast("bigint"),
        F.col("n_true").cast("bigint"),
        (F.col("n_candidates") - F.col("n_true")).cast("bigint")
        .alias("n_false_positive"),
        F.round((F.col("n_candidates") - F.col("n_true"))
                / F.col("n_fact_keys").cast("double"), 6)
        .alias("fp_rate"))


def hist_quantiles(df: DataFrame, group: str, value: str,
                   n_bins: int = 128,
                   qs: tuple = (0.25, 0.5, 0.75, 0.9)) -> DataFrame:
    """Mergeable fixed-bin histogram quantile sketch: per group, ONE
    range pass (min/max/count — map-side combinable) and ONE bin-count
    aggregate whose state is exactly ``n_bins`` counters per group —
    the property that makes per-day sketches mergeable by summing and
    quantile serving O(bins). Estimates interpolate linearly inside
    the covering bin; error is bounded by the bin width.

    The (lo, hi) range is ROUNDED before binning (the rounded-handoff
    pattern) so bin assignment — and therefore the whole sketch — is
    bit-identical in the DuckDB oracle. ``exact`` (true interpolated
    percentile) rides along for the error column; at 100 TB you'd drop
    it — it costs the full sort the sketch exists to avoid.

    Output: ``group, q, est, exact, err`` (doubles rounded 4),
    ordered by group, q.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    g = F.col(group)
    v = F.col(value).cast("double")
    rng = df.groupBy(group).agg(
        F.round(F.min(v), 6).alias("lo"),
        F.round(F.max(v), 6).alias("hi"),
        F.count(v).alias("n"),
        *[F.percentile(v, float(q)).alias(f"__ex{i}")
          for i, q in enumerate(qs)])
    binned = (df.select(g, v.alias("__v"))
              .join(F.broadcast(rng), group)
              .select(group, "lo", "hi", "n",
                      F.when(F.col("hi") > F.col("lo"),
                             F.least(F.lit(n_bins - 1), F.greatest(
                                 F.lit(0),
                                 F.floor((F.col("__v") - F.col("lo"))
                                         / (F.col("hi") - F.col("lo"))
                                         * n_bins).cast("int"))))
                       .otherwise(F.lit(0)).alias("bin")))
    bins = (binned.groupBy(group, "lo", "hi", "n", "bin")
            .agg(F.count("*").alias("cnt")))
    w = (Window.partitionBy(group).orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = bins.withColumn("cum", F.sum("cnt").over(w))
    qlits = F.explode(F.array(*[
        F.struct(F.lit(float(q)).alias("q"), F.lit(i).alias("qi"))
        for i, q in enumerate(qs)])).alias("qq")
    probes = cum.select(group, "lo", "hi", "n", "bin", "cnt", "cum",
                        qlits).select(
        group, "lo", "hi", "n", "bin", "cnt", "cum",
        F.col("qq.q").alias("q"), F.col("qq.qi").alias("qi"))
    # first bin whose cumulative count reaches the target rank q·n
    hit = probes.where(F.col("cum") >= F.col("q") * F.col("n"))
    w2 = Window.partitionBy(group, "q").orderBy("bin")
    first = (hit.withColumn("rk", F.row_number().over(w2))
             .where(F.col("rk") == 1))
    width = (F.col("hi") - F.col("lo")) / F.lit(float(n_bins))
    frac = (F.col("q") * F.col("n")
            - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
    est = F.col("lo") + (F.col("bin") + frac) * width
    exact = F.array(*[F.col(f"__ex{i}") for i in range(len(qs))]) \
        .getItem(F.col("qi"))
    out = first.join(F.broadcast(rng.select(
        group, *[f"__ex{i}" for i in range(len(qs))])), group)
    return (out.select(
        group, F.col("q"),
        F.round(est, 4).alias("est"),
        F.round(exact, 4).alias("exact"),
        F.round(F.abs(est - exact), 4).alias("err"))
        .orderBy(group, "q"))


def kmv_join_estimate(df_a: DataFrame, key_a: str, df_b: DataFrame,
                      key_b: str, k: int = 256,
                      tau: float = 0.05) -> DataFrame:
    """Estimate the distinct-key overlap of a join WITHOUT running it
    — the sketch-based cardinality estimation a planner wants before
    committing to a 100-TB shuffle. Two threshold-KMV sketches (same
    det-hash, same ``tau`` scan-pushed prefilter as
    :func:`kmv_distinct`), combined by the classic KMV set algebra
    (Beyer et al. 2007):

    - union estimate ``(k−1)/h_(k)`` over the k smallest hashes of
      A ∪ B,
    - Jaccard estimate = fraction of those k minima present in BOTH
      sides,
    - intersection estimate = Jaccard × union.

    Output: one row — ``k_used (bigint), union_est, jaccard_est,
    inter_est (doubles), exact_inter (bigint)`` (the exact overlap
    rides along for the error column; at 100 TB you'd drop it — it IS
    the join being avoided). ``k_used`` < k means the tau-filtered
    union had fewer than k hashes — the union estimate falls back
    to the fixed-threshold theta form ``survivors / tau``.
    """
    ha = (df_a.select(det_hash01(F.col(key_a).cast("long"), seed=7)
                      .alias("h01"))
          .where(F.col("h01") <= F.lit(float(tau)))
          .distinct().withColumn("in_a", F.lit(1)))
    hb = (df_b.select(det_hash01(F.col(key_b).cast("long"), seed=7)
                      .alias("h01"))
          .where(F.col("h01") <= F.lit(float(tau)))
          .distinct().withColumn("in_b", F.lit(1)))
    u = (ha.join(hb.withColumnRenamed("in_b", "in_b"), "h01", "full")
         .select("h01",
                 F.coalesce(F.col("in_a"), F.lit(0)).alias("in_a"),
                 F.coalesce(F.col("in_b"), F.lit(0)).alias("in_b")))
    w = Window.orderBy(F.col("h01").asc())
    topk = u.withColumn("rk", F.row_number().over(w)) \
            .where(F.col("rk") <= k)
    agg = topk.agg(
        F.count("*").alias("k_used"),
        F.max(F.when(F.col("rk") == k, F.col("h01"))).alias("h_k"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("both"))
    exact = (df_a.select(F.col(key_a).alias("kk")).distinct()
             .join(df_b.select(F.col(key_b).alias("kk")).distinct(),
                   "kk")
             .agg(F.count("*").alias("exact_inter")))
    # unsaturated fallback: the tau-truncated stream is itself a
    # fixed-threshold theta sketch — estimate = survivors / tau
    union_est = F.when(F.col("h_k").isNotNull(),
                       F.round((F.lit(k) - 1) / F.col("h_k"), 2)) \
        .otherwise(F.round(F.col("k_used") / F.lit(float(tau)), 2))
    jac = F.round(F.col("both") / F.col("k_used"), 6)
    return (agg.crossJoin(F.broadcast(exact))
            .select(F.col("k_used").cast("bigint"),
                    union_est.alias("union_est"),
                    jac.alias("jaccard_est"),
                    F.round(jac * union_est, 2).alias("inter_est"),
                    F.col("exact_inter").cast("bigint")))


def hll_distinct(df: DataFrame, group: str, key: str,
                 p: int = 10) -> DataFrame:
    """Per-``group`` HyperLogLog distinct count (Flajolet et al.
    2007) with 2^p registers — the industry-standard fixed-size
    distinct sketch (~1.04/√m relative error, m = 2^p registers of
    5 bits: ~1 KB per group at p=10 regardless of input size).

    Built Spark-native and DuckDB-exact: bucket = det-hash mod m,
    register = max leading-rank of the remaining 31−p hash bits per
    bucket (ONE map-side-combinable ``groupBy(group, bucket)
    .max()`` — registers merge by max, the HLL union property), the
    raw estimate ``α_m m² / Σ 2^(−M_j)`` with Flajolet's small-range
    correction ``m·ln(m/V)``. The rank ladder is an integer CASE
    chain — no float log2 at bit boundaries, so both engines compute
    IDENTICAL registers; only the final Σ 2^(−M_j) is float, absorbed
    by rounding.

    Output: ``group, hll_estimate (double, rounded 2), n_registers
    (bigint, = V non-zero + zero registers = m), exact_distinct
    (bigint)`` — exact rides along for the error column.
    """
    from hipipe_spark.functions.hashing import det_hash_mix_i64
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    m = 1 << p
    bits = 31 - p                       # the mix hash yields 31 bits
    # NOT det_hash_i64: an LCG's lattice structure biases leading-zero
    # ranks by +80% — HLL needs the avalanche mix (see hashing.py)
    h = det_hash_mix_i64(F.col(key).cast("long"), seed=13)
    bucket = F.pmod(h, F.lit(m))
    # explicit floor: Spark's double→long cast truncates but DuckDB's
    # CAST rounds — floor() is the one spelling both engines agree on
    w = F.floor(h / F.lit(m)).cast("long")  # the remaining `bits` bits
    # rank = leading zeros of w in `bits` bits, + 1; w == 0 → bits+1
    rank = F.lit(bits + 1)
    for r in range(bits, 0, -1):        # w >= 2^(bits-r) → rank <= r
        rank = F.when(w >= (1 << (bits - r)), F.lit(r)).otherwise(rank)
    regs = (df.select(F.col(group), bucket.alias("__b"),
                      rank.alias("__r"))
            .groupBy(group, "__b").agg(F.max("__r").alias("__m")))
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = regs.groupBy(group).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("__m"))).alias("__s"),
        F.count("*").alias("__v"))      # non-zero registers
    # absent buckets are zero registers: 2^0 = 1 each
    zeros = F.lit(m) - F.col("__v")
    raw = F.lit(alpha * m * m) / (F.col("__s") + zeros)
    small = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    est = F.when((raw <= 2.5 * m) & (zeros > 0), small).otherwise(raw)
    exact = df.groupBy(group).agg(
        F.countDistinct(key).alias("exact_distinct"))
    return (exact.join(agg, group, "left")
            .select(group,
                    F.round(est, 2).alias("hll_estimate"),
                    F.lit(m).cast("bigint").alias("n_registers"),
                    F.col("exact_distinct").cast("bigint"))
            .orderBy(group))
