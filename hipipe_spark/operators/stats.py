"""Hypothesis-testing and survival statistics over grouped metrics.

The experimentation half of a feature platform: once features exist,
the same engine is asked "did segment X move?" — Welch t-tests per
segment, Benjamini-Hochberg control over the resulting family of
p-values, the rank-based Mann-Whitney U when the metric is heavy-
tailed, Kaplan-Meier survival over entity lifetimes, CUPED variance
reduction using a pre-period covariate, and CUSUM change-point flags
over per-key streams. hipipe itself stops at the transform/column
layer (reference ``stream/transform.hpp``, ``core/dataframe.hpp``);
these are the downstream consumers its columns feed, re-expressed as
single-pass Spark aggregations.

Design rules shared by every operator here, each written once as a
helper:

- **Aggregate-first.** Tests reduce to per-segment sufficient
  statistics (counts, sums, sums of squares, rank sums) computed in
  ONE map-side-combinable ``groupBy`` — never a per-row Python path,
  never a collect. The post-aggregate arithmetic runs on a
  segment-dimension frame (thousands of rows at most at 100 TB).
  :func:`_arm_sums` builds an arm's or cell's ``(n, Σx, Σx²)`` as
  conditional sums, :func:`_sample_var` turns sums into a sample
  variance, :func:`_midranks` ranks a value-count table and
  :func:`_oneway` decomposes one-way sums of squares.
- **Closed-form tails.** Spark and DuckDB both lack ``erf``, so
  p-values come from :mod:`hipipe_spark.functions.tails` (the Bowling
  logistic Φ and the Wilson–Hilferty χ² tail), written with IDENTICAL
  arithmetic in the oracle SQL — the driver hash-compare is exact, not
  tolerance-based.
- **Rounded handoffs.** Any coefficient reused downstream (CUPED's
  θ, a group mean used to centre the data) is rounded BEFORE reuse so
  both engines adjust with the same constant — float noise cannot
  compound across stages. :func:`_centered` is the rounded-mean
  centering step.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hipipe_spark.functions.tails import (chi2_sf, norm_sf, norm_sf2,
                                          wilson_hilferty_z)


def _arm_sums(cond: Column, x: Column, tag: str) -> list[Column]:
    """``n_<tag>, s_<tag>, q_<tag>``: count, Σx and Σx² of the rows
    where ``cond`` holds, as conditional sums that fold into one
    map-side-combinable aggregate with the other arms or cells."""
    return [F.sum(F.when(cond, 1).otherwise(0)).alias(f"n_{tag}"),
            F.sum(F.when(cond, x).otherwise(0.0)).alias(f"s_{tag}"),
            F.sum(F.when(cond, x * x).otherwise(0.0)).alias(f"q_{tag}")]


def _sample_var(n: Column, s: Column, q: Column) -> Column:
    """Sample variance ``(Σx² − (Σx)²/n)/(n − 1)`` from ``n, Σx, Σx²``."""
    return (q - s * s / n) / (n - 1)


def _two_arms(df: DataFrame, segment: str, x: Column, arm: str,
              arm_a: str, arm_b: str) -> DataFrame:
    """Per-``segment`` :func:`_arm_sums` of ``x`` for arms ``a`` and
    ``b`` (rows whose ``arm`` is ``arm_a`` / ``arm_b``) in ONE
    aggregate: one shuffle on the segment key, no second pass."""
    in_a, in_b = F.col(arm) == arm_a, F.col(arm) == arm_b
    return (df.filter(in_a | in_b).groupBy(segment)
              .agg(*_arm_sums(in_a, x, "a"), *_arm_sums(in_b, x, "b")))


def _arm_moments(tag: str) -> tuple[Column, Column, Column]:
    """``n, mean, sample variance`` of arm or cell ``tag`` from its
    :func:`_arm_sums` columns."""
    n, s = F.col(f"n_{tag}"), F.col(f"s_{tag}")
    return n, s / n, _sample_var(n, s, F.col(f"q_{tag}"))


def _centered(df: DataFrame, keys: str | list[str], x: Column,
              stat=F.avg) -> DataFrame:
    """``df`` plus ``__mu``, the per-``keys`` ``stat`` (mean) of ``x``
    ROUNDED to 6 dp and broadcast-joined back, and ``__d = x − __mu``.
    Power sums of ``__d`` stay at deviation scale: raw
    ``Σx² − (Σx)²/n`` keeps ~3 safe decimal digits when 1e13-scale
    terms cancel to 1e9."""
    mu = df.groupBy(keys).agg(F.round(stat(x), 6).alias("__mu"))
    return (df.join(F.broadcast(mu), keys)
              .withColumn("__d", x - F.col("__mu")))


def _oneway(df: DataFrame, segment: str, group: str, value: str,
            *extra: Column) -> DataFrame:
    """Per-``segment`` one-way decomposition across the levels of
    ``group``: ``k, n, ssb, ssw`` (plus ``extra`` aggregates over the
    per-group ``ng, sg, qg`` frame). Centred by :func:`_centered`, then
    ONE aggregate to per-(segment, group) ``(n_g, Σd, Σd²)`` and a
    segment-level reduce of that group-dimension frame::

        SS_within  = Σ_g (Σd² − (Σd)²/n_g)
        SS_between = Σ_g (Σd)²/n_g − (Σ_g Σd)²/N
    """
    x = F.col("__d")
    g = (_centered(df, segment, F.col(value).cast("double"))
         .groupBy(segment, group).agg(
             F.count(F.lit(1)).cast("double").alias("ng"),
             F.sum(x).alias("sg"), F.sum(x * x).alias("qg")))
    agg = g.groupBy(segment).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum(F.col("sg") * F.col("sg") / F.col("ng")).alias("sb_raw"),
        F.sum(F.col("qg") - F.col("sg") * F.col("sg") / F.col("ng"))
         .alias("ssw"),
        *extra)
    return agg.withColumn(
        "ssb", F.col("sb_raw") - F.col("s") * F.col("s") / F.col("n"))


def _midranks(vc: DataFrame, segment: str) -> DataFrame:
    """Value-count table ``(segment, __v, __t, …)`` plus ``__r``, the
    midrank of each distinct value: the ranks below it plus
    ``(t+1)/2``, from a cumulative window over the value-dimension
    frame — never over raw rows."""
    w = (Window.partitionBy(segment).orderBy("__v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return vc.withColumn(
        "__r", F.sum("__t").over(w) - F.col("__t") + (F.col("__t") + 1) / 2)


def _tie_sum() -> Column:
    """``Σ(t³ − t)`` over ``__t``: the rank tests' tie correction."""
    t = F.col("__t")
    return F.sum(t * t * t - t)


def welch_ttest(df: DataFrame, segment: str, value: str, arm: str,
                arm_a: str, arm_b: str, ndigits: int = 6) -> DataFrame:
    """Per-``segment`` Welch unequal-variance t-test between arms
    ``arm_a`` and ``arm_b`` of column ``arm``: one row per segment
    with ``n_a, n_b, mean_a, mean_b, t_stat, dof, p_value`` (normal
    approximation to the t tail — large-n experimentation regime;
    null when either arm has n < 2 or both sample variances are 0).

    Plan: :func:`_two_arms`, then arithmetic on the segment-dimension
    result. Outputs are rounded so the identical oracle expression
    hashes equal despite summation-order noise.
    """
    agg = _two_arms(df, segment, F.col(value).cast("double"), arm,
                    arm_a, arm_b)
    n_a, m_a, v_a = _arm_moments("a")
    n_b, m_b, v_b = _arm_moments("b")
    ok = (n_a >= 2) & (n_b >= 2)
    sa, sb = v_a / n_a, v_b / n_b
    se2 = sa + sb
    t = F.when(ok & (se2 > 0), (m_a - m_b) / F.sqrt(se2))
    dof = F.when(ok & (se2 > 0),
                 se2 * se2 / (sa * sa / (n_a - 1) + sb * sb / (n_b - 1)))
    return agg.select(
        segment,
        F.col("n_a"), F.col("n_b"),
        F.round(m_a, ndigits).alias("mean_a"),
        F.round(m_b, ndigits).alias("mean_b"),
        F.round(t, ndigits).alias("t_stat"),
        F.round(dof, 2).alias("dof"),
        F.round(norm_sf2(t), ndigits).alias("p_value"),
    )


def bh_fdr(df: DataFrame, p_col: str = "p_value",
           tiebreak: list[str] | None = None, alpha: float = 0.05,
           ndigits: int = 6) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment over a family of hypotheses:
    adds ``q_value`` (the BH-adjusted p: ``min_{j≥i} p_(j)·m/j``
    clipped at 1, rows ranked by p ascending) and ``reject``
    (``q ≤ alpha``). Null p-values are excluded from the family
    (q null, reject false).

    The input is a HYPOTHESIS table — one row per test, i.e. segment-
    dimension (the output of :func:`welch_ttest` / :func:`mann_whitney`)
    — so the two unpartitioned windows here run over thousands of rows
    at most, never the raw data; this is deliberately NOT an operator
    for row-scale frames. ``tiebreak`` columns make the p-ascending
    order (and therefore the hash) deterministic under ties.
    """
    tb = [F.col(c) for c in (tiebreak or [])]
    tested = df.filter(F.col(p_col).isNotNull())
    w_rank = Window.orderBy(F.col(p_col).asc(), *tb)
    m = F.count(F.lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))
    raw = F.col(p_col) * m / F.row_number().over(w_rank)
    # reverse running min over the SAME order: min of raw from this
    # rank to the end of the family
    w_tail = (Window.orderBy(F.col(p_col).asc(), *tb)
              .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    q = F.least(F.min(raw).over(w_tail), F.lit(1.0))
    flagged = (tested
               .withColumn("q_value", F.round(q, ndigits))
               .withColumn("reject", F.col("q_value") <= alpha))
    skipped = (df.filter(F.col(p_col).isNull())
               .withColumn("q_value", F.lit(None).cast("double"))
               .withColumn("reject", F.lit(False)))
    return flagged.unionByName(skipped)


def mann_whitney(df: DataFrame, segment: str, value: str, arm: str,
                 arm_a: str, arm_b: str, ndigits: int = 6) -> DataFrame:
    """Per-``segment`` Mann-Whitney U (Wilcoxon rank-sum) between two
    arms: ``n_a, n_b, u_a, z_stat, p_value`` per segment, with average
    ranks for ties and the tie-corrected normal approximation
    ``σ² = n_a·n_b/12 · (n+1 − Σ(t³−t)/(n(n−1)))`` (no continuity
    correction — documented choice so the oracle is exact).

    Plan: one groupBy to per-(segment, value) counts (total and
    arm-a), :func:`_midranks` over that value-dimension frame, then
    rank sums and the tie term in a second segment-level aggregate.
    Two shuffles total, both on aggregated frames; the raw rows are
    touched once.
    """
    x = F.col(value).cast("double")
    in_a, in_b = F.col(arm) == arm_a, F.col(arm) == arm_b
    vc = (df.filter(in_a | in_b)
            .groupBy(segment, x.alias("__v"))
            .agg(F.count(F.lit(1)).cast("double").alias("__t"),
                 F.sum(F.when(in_a, 1).otherwise(0))
                  .cast("double").alias("__ta")))
    agg = _midranks(vc, segment).groupBy(segment).agg(
        F.sum("__ta").alias("na"),
        F.sum(F.col("__t") - F.col("__ta")).alias("nb"),
        F.sum(F.col("__ta") * F.col("__r")).alias("ra"),
        _tie_sum().alias("tie"),
    )
    na, nb = F.col("na"), F.col("nb")
    n = na + nb
    u_a = F.col("ra") - na * (na + 1) / 2
    mu = na * nb / 2
    sig2 = na * nb / 12 * ((n + 1) - F.col("tie") / (n * (n - 1)))
    z = F.when((na >= 1) & (nb >= 1) & (sig2 > 0),
               (u_a - mu) / F.sqrt(sig2))
    return agg.select(
        segment,
        na.cast("bigint").alias("n_a"), nb.cast("bigint").alias("n_b"),
        F.round(u_a, 1).alias("u_a"),
        F.round(z, ndigits).alias("z_stat"),
        F.round(norm_sf2(z), ndigits).alias("p_value"),
    )


def kaplan_meier(df: DataFrame, duration: str, event: str,
                 by: str | None = None, ndigits: int = 6) -> DataFrame:
    """Kaplan-Meier product-limit survival estimate over entity
    lifetimes: one row per (stratum,) distinct duration with
    ``n_risk`` (entities still at risk), ``n_event``, ``n_censored``
    (``event`` = 1 observed, 0 right-censored), and ``survival`` —
    ``Π_{t_j ≤ t} (1 − d_j/n_j)`` over EVENT times. Censored-only
    times carry the running estimate forward (standard KM).

    Plan: one groupBy on (stratum, duration) → a cumulative window
    over the duration-dimension frame (distinct lifetimes, not raw
    rows) computing at-risk counts by back-subtraction and the
    product via exp(Σ ln) — with an explicit zero-survival flag once
    a step multiplies by 0 (ln would be null/−inf, engine-dependent;
    the flag keeps both engines exact). At 10^12 turns the per-entity
    lifetime table is entity-dimension and the duration grid smaller
    still; nothing here touches raw-row scale after the first
    aggregate.
    """
    keys = ([by] if by else []) + [duration]
    agg = df.groupBy(*keys).agg(
        F.sum(F.when(F.col(event) == 1, 1).otherwise(0))
         .cast("bigint").alias("n_event"),
        F.sum(F.when(F.col(event) == 1, 0).otherwise(1))
         .cast("bigint").alias("n_censored"),
    )
    part = [by] if by else []
    w_all = (Window.partitionBy(*part)
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    w_cum = (Window.partitionBy(*part).orderBy(duration)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    total = F.sum(F.col("n_event") + F.col("n_censored")).over(w_all)
    left_through = F.sum(F.col("n_event") + F.col("n_censored")).over(w_cum)
    n_risk = total - left_through + F.col("n_event") + F.col("n_censored")
    stepped = agg.withColumn("n_risk", n_risk.cast("bigint"))
    term = 1.0 - F.col("n_event") / F.col("n_risk")
    dead = F.max(F.when(term <= 0, 1).otherwise(0)).over(w_cum)
    log_s = F.sum(F.when(term > 0, F.log(term)).otherwise(0.0)).over(w_cum)
    surv = F.when(dead == 1, 0.0).otherwise(F.exp(log_s))
    out_cols = part + [duration, "n_risk", "n_event", "n_censored"]
    return stepped.select(
        *out_cols, F.round(surv, ndigits).alias("survival"))


def cuped(df: DataFrame, group: str, metric: str, covariate: str,
          theta_digits: int = 4, ndigits: int = 6) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): fit
    ``θ = cov(y, x)/var(x)`` on the WHOLE frame, adjust
    ``y' = y − θ·(x − x̄)``, and report per-``group`` ``n, mean_raw,
    mean_cuped, var_raw, var_cuped, var_reduction_pct`` plus the
    shared ``theta``. The covariate must be pre-experiment (a
    pre-period metric) for the adjustment to be unbiased — that
    contract is the caller's, stated here because it is the entire
    leakage story of this operator.

    Plan: pass 1 computes global (n, Σx, Σy, Σx², Σxy) in one
    map-side-combinable aggregate; θ and x̄ are ROUNDED (``theta_digits``)
    and broadcast back via a 1-row crossJoin, so pass 2's per-group
    aggregate adjusts every row with the identical constants the
    oracle uses — cross-engine float drift cannot enter the
    adjustment. Two scans, two shuffles (one a 1-row exchange).
    """
    y = F.col(metric).cast("double")
    x = F.col(covariate).cast("double")
    g = df.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(x).alias("__sx"), F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"), F.sum(x * y).alias("__sxy"),
    ).select(
        F.round((F.col("__sxy") - F.col("__sx") * F.col("__sy") / F.col("__n"))
                / (F.col("__sxx") - F.col("__sx") * F.col("__sx") / F.col("__n")),
                theta_digits).alias("theta"),
        F.round(F.col("__sx") / F.col("__n"), theta_digits).alias("__xbar"),
    )
    adj = df.crossJoin(F.broadcast(g)).withColumn(
        "__yadj", y - F.col("theta") * (x - F.col("__xbar")))
    ya = F.col("__yadj")
    out = adj.groupBy(group, "theta").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg(y), ndigits).alias("mean_raw"),
        F.round(F.avg(ya), ndigits).alias("mean_cuped"),
        _sample_var(F.count(F.lit(1)), F.sum(y), F.sum(y * y))
         .alias("__vr"),
        _sample_var(F.count(F.lit(1)), F.sum(ya), F.sum(ya * ya))
         .alias("__va"),
    )
    from hipipe_spark.functions.rounding import round_norm
    # var_reduction_pct can round to zero from below when the
    # adjustment is a wash -> round_norm keeps the sign bit identical
    # to the oracle's `round(...) + 0.0` (functions/rounding.py).
    return out.select(
        group, "n", "mean_raw", "mean_cuped", "theta",
        F.round(F.col("__vr"), 2).alias("var_raw"),
        F.round(F.col("__va"), 2).alias("var_cuped"),
        round_norm(100 * (1 - F.col("__va") / F.col("__vr")), 2)
        .alias("var_reduction_pct"),
    )


def cusum_flags(df: DataFrame, key: str, order: str, value: str,
                k: float, h: float, ndigits: int = 6) -> DataFrame:
    """One-sided CUSUM change detection per ``key``: the recursive
    ``s_i = max(0, s_{i−1} + x_i − k)`` in closed form
    ``s_i = S_i − min(0, min_{j≤i} S_j)`` with ``S`` the running sum
    of ``x − k`` — two cumulative windows, NO recursion, no per-row
    Python, no iterative loop. Adds ``cusum`` and ``changed``
    (``cusum > h``). ``k`` is the slack (typically target mean +
    tolerated drift), ``h`` the decision threshold.

    Plan: one sort per key partition (both windows share the same
    ordering, Spark pipelines them after a single exchange). State is
    O(1) per row — this is the batch twin of a streaming CUSUM and
    scales exactly like lag/lead.
    """
    x = F.col(value).cast("double")
    w = (Window.partitionBy(key).orderBy(order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    big_s = F.sum(x - F.lit(float(k))).over(w)
    run_min = F.min(big_s).over(w)
    s = big_s - F.least(F.lit(0.0), run_min)
    return (df.withColumn("cusum", F.round(s, ndigits))
              .withColumn("changed", F.col("cusum") > h))


def edit_distance_pairs(df: DataFrame, id_col: str, text: str,
                        max_dist: int, band: int | None = None,
                        ndigits: int = 6) -> DataFrame:
    """Near-duplicate pairs under TRUE Levenshtein distance ≤
    ``max_dist`` — the exact-verification tier under the MinHash/
    SimHash candidate generators (reference hipipe has no dedup at
    all; this closes the fuzzy-matching gap next to
    ``dedup.ngram_jaccard``). Returns ``id_a, id_b, dist`` with
    ``id_a < id_b``.

    Candidate blocking: two strings within edit distance d differ in
    length by at most d, so each doc lands in length-bucket
    ``floor(len/band)`` on the build side and EXPLODES to the bucket
    range covering ``[len−d, len+d]`` on the probe side (≤
    ``2 + 2d/band`` buckets); an equi-join on bucket + the exact
    |Δlen| ≤ d guard recovers every qualifying pair with no range
    join and no cross join. Verification is Spark's built-in JVM
    ``levenshtein`` (whole-stage codegen, threshold-pruned via the
    3-arg form). ``band`` defaults to ``2·(max_dist+1)``. At corpus
    scale the bucket key is length-distributed — pair fan-out is
    bounded by the docs-per-length-band, the same skew envelope as
    any LSH band; feed it candidate subsets (a bucketed sample or an
    LSH-prefiltered set), not raw 100-TB text.
    """
    d = int(max_dist)
    band = int(band) if band else 2 * (d + 1)
    base = df.select(F.col(id_col).alias("__id"),
                     F.col(text).alias("__t"),
                     F.length(text).alias("__len"))
    build = base.withColumn("__b", F.floor(F.col("__len") / band))
    lo = F.floor((F.col("__len") - d) / band)
    hi = F.floor((F.col("__len") + d) / band)
    probe = base.withColumn("__b", F.explode(F.sequence(lo, hi)))
    cand = (probe.alias("a").join(build.alias("b"), "__b")
            .filter(F.col("a.__id") < F.col("b.__id"))
            .filter(F.abs(F.col("a.__len") - F.col("b.__len")) <= d)
            .select(F.col("a.__id").alias("id_a"),
                    F.col("b.__id").alias("id_b"),
                    F.col("a.__t").alias("__ta"),
                    F.col("b.__t").alias("__tb"))
            .dropDuplicates(["id_a", "id_b"]))
    # 3-arg levenshtein returns -1 once the running distance exceeds
    # the threshold (early-exit prune) — keep only the in-range hits
    dist = F.levenshtein(F.col("__ta"), F.col("__tb"), d)
    return (cand.withColumn("dist", dist)
                .filter((F.col("dist") >= 0) & (F.col("dist") <= d))
                .select("id_a", "id_b", "dist"))


def kendall_tau(df: DataFrame, group: str, x: str, y: str,
                max_group_rows: int = 50_000_000) -> DataFrame:
    """Per-``group`` Kendall tau-b between ``x`` and ``y`` via
    Knight's O(n log n) algorithm (Knight 1966, the scipy/ties
    formulation) inside ONE Arrow-batched ``applyInPandas`` per group
    — the quadratic pair enumeration never runs on the cluster; the
    oracle (and the pytest reference) use the O(n²) pair count, which
    is exactly why the log-linear path exists for the 100-TB tier.

    Knight's identities, all integer-exact:

    - sort rows by (x asc, y asc); ``D`` = inversions of the y
      sequence counted by merge sort (pairs tied in x are adjacent
      and y-sorted → 0 inversions; pairs tied in y use a strict
      comparison → 0) — so the swap count IS the discordant count,
    - ``C = n0 − n1 − n2 + n3 − D`` with ``n0 = n(n−1)/2`` and
      ``n1/n2/n3`` the tied-in-x / tied-in-y / tied-in-both pair
      counts,
    - ``tau_b = (C − D) / sqrt((n0−n1)(n0−n2))``.

    Output: ``group, n, nc, nd (bigints), tau_b (double, rounded
    6)``; groups with a zero denominator (constant x or y) report
    null tau_b.

    ``applyInPandas`` materializes ONE GROUP in ONE worker's memory —
    the operator's inherent constraint (Knight's algorithm needs the
    group's full y sequence). ``max_group_rows`` makes that contract
    loud: a group exceeding it raises with the group name and size
    instead of OOM-killing an executor mid-shuffle (the
    ``salted_join`` refuse-fast policy). At ~16 bytes/row the default
    50M cap is ~800 MB of arrays — raise it only with matching
    executor memory.
    """
    if max_group_rows < 2:
        raise ValueError("max_group_rows must be >= 2")
    import numpy as np
    import pandas as pd

    def _inv(a: "np.ndarray") -> tuple:
        if len(a) < 2:
            return 0, np.sort(a)
        m = len(a) // 2
        il, left = _inv(a[:m])
        ir, right = _inv(a[m:])
        cross = int(np.sum(len(left)
                           - np.searchsorted(left, right, side="right")))
        return il + ir + cross, np.sort(np.concatenate([left, right]))

    def _pairs(counts: "np.ndarray") -> int:
        return int(np.sum(counts.astype("int64")
                          * (counts.astype("int64") - 1) // 2))

    def _tau(pdf: "pd.DataFrame") -> "pd.DataFrame":
        g = pdf["__g"].iloc[0]
        if len(pdf) > max_group_rows:
            raise ValueError(
                f"kendall_tau group {g!r} has {len(pdf)} rows > "
                f"max_group_rows={max_group_rows}; one group must fit "
                "one worker (Knight's algorithm is group-local) — "
                "pre-aggregate, sample the group, or raise the cap "
                "with matching executor memory")
        sub = pdf.sort_values(["__x", "__y"], kind="mergesort")
        xv = sub["__x"].to_numpy()
        yv = sub["__y"].to_numpy()
        n = len(sub)
        n0 = n * (n - 1) // 2
        n1 = _pairs(np.unique(xv, return_counts=True)[1])
        n2 = _pairs(np.unique(yv, return_counts=True)[1])
        _, tie_both = np.unique(np.stack([xv, yv], axis=1),
                                axis=0, return_counts=True)
        n3 = _pairs(tie_both)
        nd, _ = _inv(yv)
        nc = n0 - n1 - n2 + n3 - nd
        den = float(n0 - n1) * float(n0 - n2)
        tau = round((nc - nd) / den ** 0.5, 6) if den > 0 else None
        return pd.DataFrame([{"__g": g, "n": n, "nc": nc, "nd": nd,
                              "tau_b": tau}])

    base = df.select(F.col(group).cast("string").alias("__g"),
                     F.col(x).cast("double").alias("__x"),
                     F.col(y).cast("double").alias("__y"))
    out = base.groupBy("__g").applyInPandas(
        _tau, schema="__g string, n bigint, nc bigint, nd bigint, "
                     "tau_b double")
    return (out.select(F.col("__g").alias(group), "n", "nc", "nd",
                       "tau_b")
            .orderBy(group))


def theil_sen(df: DataFrame, group: str, t_col: str,
              value: str) -> DataFrame:
    """Per-``group`` Theil–Sen robust trend: slope = median of all
    pairwise slopes, intercept = median of ``v − slope·t`` (slope is
    ROUNDED before reuse — the rounded-handoff pattern). Breakdown
    point 29%: a third of the points can be arbitrarily corrupt
    before the estimate moves, which is why it replaces OLS on dirty
    telemetry.

    Contract: the input is a SERIES — the dimension-sized aggregate
    of the raw data (same as :func:`~hipipe_spark.operators.temporal.
    seasonal_decompose`), so the O(n²) pair self-join is over series
    points, never raw rows; at 720 hourly points that is ~259k pairs
    per group. For longer series, pre-thin with
    :func:`~hipipe_spark.operators.temporal.lttb_downsample`.

    Output: ``group, n (bigint), slope, intercept (doubles rounded
    6)``; groups with < 2 distinct t report null slope.
    """
    base = df.select(F.col(group).alias("__g"),
                     F.col(t_col).cast("double").alias("__t"),
                     F.col(value).cast("double").alias("__v"))
    a, b = base.alias("a"), base.alias("b")
    pairs = (a.join(b, (F.col("a.__g") == F.col("b.__g"))
                    & (F.col("a.__t") < F.col("b.__t")))
             .select(F.col("a.__g").alias("__g"),
                     ((F.col("b.__v") - F.col("a.__v"))
                      / (F.col("b.__t") - F.col("a.__t")))
                     .alias("__s")))
    slope = (pairs.groupBy("__g")
             .agg(F.round(F.percentile(F.col("__s"), 0.5), 6)
                  .alias("slope")))
    resid = (base.join(slope, "__g")
             .groupBy("__g", "slope")
             .agg(F.count("*").alias("n"),
                  F.round(F.percentile(
                      F.col("__v") - F.col("slope") * F.col("__t"),
                      0.5), 6).alias("intercept")))
    out = (base.groupBy("__g").agg(F.count("*").alias("n_all"))
           .join(resid.drop("n"), "__g", "left"))
    return (out.select(F.col("__g").alias(group),
                       F.col("n_all").cast("bigint").alias("n"),
                       "slope", "intercept")
            .orderBy(group))


def diff_in_diff(df: DataFrame, segment: str, treat: str, post: str,
                 value: str) -> DataFrame:
    """Per-``segment`` difference-in-differences estimator from ONE
    aggregate of the four treat×post cells' :func:`_arm_sums`: the cell
    means, the DiD effect ``(T,post − T,pre) − (C,post − C,pre)``, its
    standard error ``sqrt(Σ s²ᵢ/nᵢ)`` over the four cells (the
    unequal-variance Welch composition), z-statistic, and the
    two-sided ``norm_sf2`` p.

    ``treat``/``post`` are boolean-ish columns (cast to int).
    Output: ``segment, n (bigint), mean_t_pre, mean_t_post,
    mean_c_pre, mean_c_post, did, se, z_stat, p_value`` (doubles
    rounded 6; inference null when any cell has < 2 rows or zero
    variance sum).
    """
    t = F.col(treat).cast("int")
    p = F.col(post).cast("int")
    v = F.col(value).cast("double")
    cells = {"tpre": (t == 1) & (p == 0), "tpost": (t == 1) & (p == 1),
             "cpre": (t == 0) & (p == 0), "cpost": (t == 0) & (p == 1)}
    g = df.groupBy(F.col(segment)).agg(
        *[c for tag, cond in cells.items() for c in _arm_sums(cond, v, tag)])
    mom = {tag: _arm_moments(tag) for tag in cells}   # (n, mean, var)
    mean = {tag: mu for tag, (_, mu, _) in mom.items()}
    did = (mean["tpost"] - mean["tpre"]) - (mean["cpost"] - mean["cpre"])
    var = sum((s2 / n for n, _, s2 in mom.values()), F.lit(0.0))
    ok = F.lit(True)
    for n, _, _ in mom.values():
        ok = ok & (n >= 2)
    ok = ok & (var > 0)
    z = did / F.sqrt(var)
    n_tot = sum((n for n, _, _ in mom.values()), F.lit(0))
    return (g.select(
        F.col(segment),
        n_tot.cast("bigint").alias("n"),
        F.round(mean["tpre"], 6).alias("mean_t_pre"),
        F.round(mean["tpost"], 6).alias("mean_t_post"),
        F.round(mean["cpre"], 6).alias("mean_c_pre"),
        F.round(mean["cpost"], 6).alias("mean_c_post"),
        F.round(did, 6).alias("did"),
        F.round(F.when(ok, F.sqrt(var)), 6).alias("se"),
        F.round(F.when(ok, z), 6).alias("z_stat"),
        F.round(F.when(ok, norm_sf2(z)), 6).alias("p_value"))
        .orderBy(segment))


def gini_coefficient(df: DataFrame, group: str,
                     value: str) -> DataFrame:
    """Per-``group`` Gini concentration of a non-negative metric via
    the rank identity ``G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n`` — one
    sort window per group plus one aggregate. Σ i·x is invariant to
    tie order (equal x ⇒ the i's sum is fixed), so no tiebreak column
    is needed and the result is deterministic at any parallelism.

    The skew diagnostic for 100-TB planning: "how concentrated is
    traffic per segment" decides salting factors and hot-key budgets
    before a shuffle is committed. Output: ``group, n (bigint),
    total (double rounded 4), gini (double rounded 6; null when
    Σx ≤ 0)``, ordered by group.
    """
    v = F.col(value).cast("double")
    w = Window.partitionBy(group).orderBy(F.col("__v").asc())
    ranked = df.select(F.col(group), v.alias("__v")) \
        .withColumn("__i", F.row_number().over(w))
    agg = ranked.groupBy(group).agg(
        F.count("*").alias("n"),
        F.sum("__v").alias("tot"),
        F.sum(F.col("__i") * F.col("__v")).alias("iw"))
    n = F.col("n").cast("double")
    gini = F.when(F.col("tot") > 0,
                  2.0 * F.col("iw") / (n * F.col("tot"))
                  - (n + 1) / n)
    return (agg.select(group,
                       F.col("n").cast("bigint").alias("n"),
                       F.round(F.col("tot"), 4).alias("total"),
                       F.round(gini, 6).alias("gini"))
            .orderBy(group))


# two-sided alpha=0.05 and power=0.8 normal quantiles (standard
# experimentation constants, embedded as literals so the oracle folds
# the identical arithmetic)
Z_ALPHA_2 = 1.959964
Z_POWER = 0.841621


def mde_report(df: DataFrame, segment: str, value: str,
               z_alpha_2: float = Z_ALPHA_2,
               z_power: float = Z_POWER) -> DataFrame:
    """Minimum detectable effect per segment at the CURRENT sample
    size — the pre-experiment sizing question answered from one
    aggregate: for a 50/50 split of this segment's n with this
    segment's variance, the smallest true lift a two-sided α=.05 /
    power=.8 test would detect is ``(z_{α/2}+z_β)·σ·√(4/n)``.

    ONE map-side-combinable aggregate (n, Σx, Σx²); the quantile
    constants are literals (no inverse-CDF in either engine).
    Output: ``segment, n (bigint), mean, sd, mde_abs, mde_rel``
    (doubles rounded 6; null when n < 2 or mean = 0 for mde_rel).
    """
    x = F.col(value).cast("double")
    agg = df.groupBy(segment).agg(
        F.count("*").alias("n"),
        F.sum(x).alias("s"),
        F.sum(x * x).alias("q"))
    n = F.col("n").cast("double")
    mean = F.col("s") / n
    sd = F.sqrt(_sample_var(n, F.col("s"), F.col("q")))
    mde = (float(z_alpha_2) + float(z_power)) * sd * F.sqrt(4.0 / n)
    ok = F.col("n") >= 2
    return (agg.select(
        segment,
        F.col("n").cast("bigint").alias("n"),
        F.round(mean, 6).alias("mean"),
        F.round(F.when(ok, sd), 6).alias("sd"),
        F.round(F.when(ok, mde), 6).alias("mde_abs"),
        F.round(F.when(ok & (mean != 0), mde / mean), 6)
         .alias("mde_rel"))
        .orderBy(segment))


def burstiness(df: DataFrame, key: str, ts_col: str,
               order_col: str) -> DataFrame:
    """Per-key burstiness of the inter-event gap process (Goh &
    Barabási 2008): ``B = (σ−μ)/(σ+μ)`` over the gaps — −1 for a
    perfectly periodic process, 0 for Poisson, →1 for heavy bursts —
    plus the coefficient of variation. The feature that separates
    "steady worker" from "incident responder" in transcript tempo.

    One lag window per key (shared sort) + one aggregate of gap
    sufficient statistics. Output: ``key, n_gaps (bigint), mean_gap,
    cv, b (doubles rounded 6)``; keys with < 2 gaps report nulls.
    """
    w = Window.partitionBy(key).orderBy(ts_col, order_col)
    sec = F.col(ts_col).cast("timestamp").cast("double")
    gap = sec - F.lag(sec).over(w)
    g = (df.select(F.col(key), gap.alias("__g"))
         .where(F.col("__g").isNotNull()))
    agg = g.groupBy(key).agg(
        F.count("*").alias("n_gaps"),
        F.sum("__g").alias("s"),
        F.sum(F.col("__g") * F.col("__g")).alias("q"))
    n = F.col("n_gaps").cast("double")
    mu = F.col("s") / n
    sd = F.sqrt(_sample_var(n, F.col("s"), F.col("q")))
    ok = (F.col("n_gaps") >= 2) & (mu > 0)
    return (agg.select(
        F.col(key),
        F.col("n_gaps").cast("bigint").alias("n_gaps"),
        F.round(mu, 6).alias("mean_gap"),
        F.round(F.when(ok, sd / mu), 6).alias("cv"),
        F.round(F.when(ok, (sd - mu) / (sd + mu)), 6).alias("b"))
        .orderBy(key))


def nelson_aalen(df: DataFrame, duration: str, event: str,
                 ndigits: int = 6) -> DataFrame:
    """Nelson–Aalen cumulative hazard over entity lifetimes —
    Kaplan–Meier's estimating twin: ``H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ`` with
    the same right-censoring convention (``event`` = 1 observed, 0
    censored; censored subjects leave the risk set without a hazard
    increment). ``exp(−H)`` (Breslow) rides along as the survival
    cross-check against the KM product-limit curve.

    Same plan shape as :func:`kaplan_meier`: one aggregate to the
    duration grid, at-risk counts by back-subtraction (a cumulative
    window on the duration-DIMENSION frame), zero raw-row windows.

    Output: ``duration, n_risk, n_event, n_censored (bigints),
    cum_hazard, surv_breslow (doubles rounded ``ndigits``)``,
    ordered by duration.
    """
    d = F.col(duration)
    ev = F.col(event).cast("int")
    agg = (df.groupBy(d.alias("dur"))
           .agg(F.sum(ev).alias("n_event"),
                F.sum(1 - ev).alias("n_censored")))
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    w_cum = (Window.orderBy("dur")
             .rowsBetween(Window.unboundedPreceding, 0))
    staged = (agg
              .withColumn("__total",
                          F.sum(F.col("n_event") + F.col("n_censored"))
                          .over(w_all))
              .withColumn("__thru",
                          F.sum(F.col("n_event") + F.col("n_censored"))
                          .over(w_cum)))
    n_risk = (F.col("__total") - F.col("__thru")
              + F.col("n_event") + F.col("n_censored"))
    staged = staged.withColumn("__risk", n_risk)
    haz = F.sum(F.col("n_event") / F.col("__risk")).over(w_cum)
    return (staged.select(
        F.col("dur").alias(duration),
        F.col("__risk").cast("bigint").alias("n_risk"),
        F.col("n_event").cast("bigint").alias("n_event"),
        F.col("n_censored").cast("bigint").alias("n_censored"),
        F.round(haz, ndigits).alias("cum_hazard"),
        F.round(F.exp(-haz), ndigits).alias("surv_breslow"))
        .orderBy(duration))


def sprt_bernoulli(df: DataFrame, key: str, order: Sequence[str],
                   x_col: str, p0: float, p1: float,
                   alpha: float = 0.05, beta: float = 0.05) -> DataFrame:
    """Wald's Sequential Probability Ratio Test per key over a 0/1
    observation stream: cumulative log-likelihood ratio for H1: p=p1
    vs H0: p=p0, stopping at the first crossing of ``ln((1−β)/α)``
    (accept H1) or ``ln(β/(1−α))`` (accept H0) — the test that needs
    ~half the samples of a fixed-n design at the same error rates.

    INTEGER-EXACT cross-engine: the per-observation LLR increments
    and both thresholds are scaled to micro-units (×10⁶, rounded
    once, driver-side) and accumulated as BIGINTs — a float running
    sum's engine-specific addition order can flip a threshold
    crossing; integers cannot. One cumulative window per key + one
    aggregate.

    Output: ``key, n (bigint), stop_step (bigint, null if never
    crossed), decision ('accept_h1'|'accept_h0'|'continue'),
    llr_final (double, micro-units /1e6)``, ordered by key.
    """
    import math
    if not (0 < p0 < 1 and 0 < p1 < 1 and p0 != p1):
        raise ValueError("need 0 < p0 != p1 < 1")
    scale = 1_000_000
    inc1 = round(math.log(p1 / p0) * scale)          # x = 1
    inc0 = round(math.log((1 - p1) / (1 - p0)) * scale)  # x = 0
    up = round(math.log((1 - beta) / alpha) * scale)
    dn = round(math.log(beta / (1 - alpha)) * scale)
    w = Window.partitionBy(key).orderBy(*order)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    x = F.col(x_col).cast("int")
    base = df.select(
        F.col(key),
        F.row_number().over(w).alias("__step"),
        F.sum(F.when(x == 1, F.lit(inc1)).otherwise(F.lit(inc0))
              .cast("long")).over(wc).alias("__llr"))
    agg = base.groupBy(key).agg(
        F.count("*").alias("n"),
        F.min(F.when(F.col("__llr") >= up, F.col("__step")))
         .alias("__up"),
        F.min(F.when(F.col("__llr") <= dn, F.col("__step")))
         .alias("__dn"),
        F.max_by("__llr", "__step").alias("__final"))
    stop = F.least(F.coalesce(F.col("__up"), F.lit(2 ** 62)),
                   F.coalesce(F.col("__dn"), F.lit(2 ** 62)))
    decision = (F.when(stop == F.lit(2 ** 62), "continue")
                .when(F.coalesce(F.col("__up"), F.lit(2 ** 62)) <= stop,
                      "accept_h1")
                .otherwise("accept_h0"))
    return (agg.select(
        F.col(key),
        F.col("n").cast("bigint").alias("n"),
        F.when(stop < F.lit(2 ** 62), stop).cast("bigint")
         .alias("stop_step"),
        decision.alias("decision"),
        F.round(F.col("__final") / F.lit(float(scale)), 6)
         .alias("llr_final"))
        .orderBy(key))


def prop_ztest(df: DataFrame, segment: str, flag: str, arm: str,
               arm_a: str, arm_b: str) -> DataFrame:
    """Two-sample pooled proportion z-test per segment — the binary-
    metric twin of :func:`welch_ttest` (conversion / click-through
    rates): ``z = (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a + 1/n_b))`` with
    the pooled p̂, ``norm_sf2`` two-sided p. ONE :func:`_two_arms`
    aggregate; inference nulls when either arm is empty or the
    pooled rate is degenerate (0 or 1).

    Output: ``segment, n_a, n_b (bigints), rate_a, rate_b, diff,
    z_stat, p_value (doubles rounded 6)``, ordered by segment.
    """
    agg = _two_arms(df, segment, F.col(flag).cast("int").cast("double"),
                    arm, arm_a, arm_b)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    pa, pb = F.col("s_a") / na, F.col("s_b") / nb
    pool = (F.col("s_a") + F.col("s_b")) / (na + nb)
    var = pool * (1.0 - pool) * (1.0 / na + 1.0 / nb)
    ok = (F.col("n_a") >= 1) & (F.col("n_b") >= 1) & (var > 0)
    z = (pa - pb) / F.sqrt(var)
    return (agg.select(
        segment,
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.round(pa - pb, 6).alias("diff"),
        F.round(F.when(ok, z), 6).alias("z_stat"),
        F.round(F.when(ok, norm_sf2(z)), 6).alias("p_value"))
        .orderBy(segment))


def lorenz_curve(df: DataFrame, group: str, value: str,
                 max_points: int = 100) -> DataFrame:
    """The Lorenz curve behind :func:`gini_coefficient`: per group,
    cumulative population share vs cumulative mass share along the
    value-ascending order — the picture of "the top 1% of
    conversations hold 40% of the tokens" that one Gini number
    summarizes. Decimated deterministically to ≤ ``max_points`` per
    group (every ⌈n/max_points⌉-th rank, always keeping the last) so
    the output is dimension-sized whatever the input.

    One sort window per group (shared with the rank), cumulative
    sums, pure-arithmetic decimation — no second pass. Output:
    ``group, pop_share, mass_share (doubles rounded 6)``, ordered by
    group, pop_share.
    """
    v = F.col(value).cast("double")
    w = Window.partitionBy(group).orderBy(F.col("__v").asc())
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(group)
    base = (df.select(F.col(group), v.alias("__v"))
            .withColumn("__i", F.row_number().over(w))
            .withColumn("__cum", F.sum("__v").over(wc))
            .withColumn("__n", F.count("*").over(wall))
            .withColumn("__tot", F.sum("__v").over(wall)))
    step = F.greatest(F.lit(1),
                      F.floor(F.col("__n") / F.lit(max_points))
                      .cast("int"))
    keep = (F.pmod(F.col("__i"), step) == 0) | (F.col("__i")
                                                == F.col("__n"))
    return (base.where(keep & (F.col("__tot") > 0))
            .select(group,
                    F.round(F.col("__i") / F.col("__n"), 6)
                     .alias("pop_share"),
                    F.round(F.col("__cum") / F.col("__tot"), 6)
                     .alias("mass_share"))
            .orderBy(group, "pop_share"))


def changepoint_l2(df: DataFrame, group: str, order: str, value: str,
                   min_seg: int = 2) -> DataFrame:
    """Single best L2 change-point per group series — binary
    segmentation depth 1 (the building block of Scott-Knott / PELT
    with an L2 cost, Killick et al. 2012): for every split position
    ``t`` the cost is ``SSE_left(1..t) + SSE_right(t+1..n)``; the
    change point is the argmin. ``gain = SST_total − min SSE`` is the
    variance explained by allowing one level shift — rank groups by
    it to find the series that actually broke.

    Both segment SSEs are pure prefix-sum arithmetic::

        SSE(1..t)   = S2_t − S_t²/t
        SSE(t+1..n) = (S2_n − S2_t) − (S_n − S_t)²/(n−t)

    so the whole scan is ONE ordered window per group (row_number +
    two running sums) + one argmin window — no cross join of split
    candidates, no per-row Python. Deterministic across engines when
    ``value`` is integer-valued (running sums are then exact in
    doubles and the IEEE expression tree is identical in the SQL
    oracle); ties on SSE break to the earliest split. ``min_seg``
    keeps degenerate 1-point segments from winning on noise.

    Output per group: ``(group, n, cp_idx, cp_order, sse_total,
    sse_split, gain)`` where ``cp_idx`` is the 1-based size of the
    left segment and ``cp_order`` the order-column value of its last
    row. Groups shorter than ``2*min_seg`` emit null cp columns.
    """
    if min_seg < 1:
        raise ValueError("min_seg must be >= 1")
    v = F.col(value).cast("double")
    w = Window.partitionBy(group).orderBy(F.col(order).asc())
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(group)
    base = (df.select(F.col(group), F.col(order), v.alias("__v"))
            .withColumn("__i", F.row_number().over(w))
            .withColumn("__s", F.sum("__v").over(wc))
            .withColumn("__s2", F.sum(F.col("__v") * F.col("__v")).over(wc))
            .withColumn("__n", F.count("*").over(wall))
            .withColumn("__st", F.sum("__v").over(wall))
            .withColumn("__s2t", F.sum(F.col("__v") * F.col("__v"))
                                  .over(wall)))
    i, n = F.col("__i").cast("double"), F.col("__n").cast("double")
    sse_l = F.col("__s2") - F.col("__s") * F.col("__s") / i
    sse_r = ((F.col("__s2t") - F.col("__s2"))
             - (F.col("__st") - F.col("__s"))
             * (F.col("__st") - F.col("__s")) / (n - i))
    cand = (base.where((F.col("__i") >= min_seg)
                       & (F.col("__i") <= F.col("__n") - min_seg))
            .withColumn("__sse", sse_l + sse_r))
    pick = Window.partitionBy(group).orderBy(
        F.col("__sse").asc(), F.col("__i").asc())
    best = (cand.withColumn("__r", F.row_number().over(pick))
            .where(F.col("__r") == 1)
            .select(F.col(group),
                    F.col("__n").alias("n"),
                    F.col("__i").cast("long").alias("cp_idx"),
                    F.col(order).alias("cp_order"),
                    F.round(F.col("__s2t")
                            - F.col("__st") * F.col("__st") / n, 6)
                     .alias("sse_total"),
                    F.round("__sse", 6).alias("sse_split"),
                    F.round(F.col("__s2t")
                            - F.col("__st") * F.col("__st") / n
                            - F.col("__sse"), 6).alias("gain")))
    # groups too short for any admissible split still report length
    short = (df.groupBy(group)
             .agg(F.count(F.lit(1)).alias("n"))
             .where(F.col("n") < 2 * min_seg)
             .select(F.col(group), F.col("n"),
                     F.lit(None).cast("long").alias("cp_idx"),
                     F.lit(None).cast(df.schema[order].dataType)
                      .alias("cp_order"),
                     F.lit(None).cast("double").alias("sse_total"),
                     F.lit(None).cast("double").alias("sse_split"),
                     F.lit(None).cast("double").alias("gain")))
    return best.unionByName(short)


def eb_shrinkage(df: DataFrame, group: str, flag,
                 min_n: int = 1, round_to: int = 6) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-group rates —
    the standard fix for "this tool failed 1/1 times = 100% error
    rate" leaderboard noise (Robinson 2016, *Introduction to
    Empirical Bayes*): fit a beta prior to the observed rate
    distribution by method of moments, then shrink every group toward
    the prior mean proportionally to its evidence::

        m = mean(rate_g),  v = var(rate_g)          (groups, n ≥ min_n)
        K = m(1−m)/v − 1   (prior pseudo-count α+β, clamped ≥ 0)
        shrunk_g = (k_g + m·K) / (n_g + K)

    ``flag`` is a 0/1 Column (or column name) marking successes.
    Small-n groups collapse to ``m``; big groups keep their MLE. If
    the rate variance is 0/undefined (≤1 eligible group or identical
    rates) shrinkage degrades to the raw rate.

    One map-side-combinable groupBy over the fact table, then the
    prior moments over the GROUP-dimension frame (an unpartitioned
    window over thousands of rows at most — the documented
    dimension-frame exception), then pure arithmetic. The prior is
    rounded before reuse (module docstring: rounded handoffs).
    Output: ``(group, n, k, rate, prior_m, prior_k, shrunk)``.
    """
    fl = F.col(flag) if isinstance(flag, str) else flag
    g = (df.groupBy(group)
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(fl.cast("long")).alias("k"))
         .withColumn("rate", F.col("k").cast("double") / F.col("n")))
    wall = Window.partitionBy()
    elig = F.when(F.col("n") >= min_n, F.col("rate"))
    pri = (g.withColumn("__m", F.round(F.avg(elig).over(wall), 9))
           .withColumn("__v", F.round(F.var_samp(elig).over(wall), 9)))
    k_prior = F.round(
        F.greatest(F.col("__m") * (1.0 - F.col("__m")) / F.col("__v")
                   - 1.0, F.lit(0.0)), 9)
    shrunk = F.when(
        F.col("__v").isNotNull() & (F.col("__v") > 0),
        (F.col("k") + F.col("__m") * k_prior)
        / (F.col("n") + k_prior)).otherwise(F.col("rate"))
    return pri.select(
        F.col(group), "n", "k", F.round("rate", round_to).alias("rate"),
        F.col("__m").alias("prior_m"),
        F.when(F.col("__v").isNotNull() & (F.col("__v") > 0), k_prior)
         .alias("prior_k"),
        F.round(shrunk, round_to).alias("shrunk"))


def logrank_test(df: DataFrame, duration: str, event: str, is_a,
                 ndigits: int = 6) -> DataFrame:
    """Two-group log-rank test (Mantel-Cox) — the standard "do these
    survival curves differ?" companion to :func:`kaplan_meier` /
    :func:`nelson_aalen`: at every event time the observed group-A
    deaths are compared with the hypergeometric expectation given the
    at-risk split; ``z = (O − E)/√V`` sums the per-time terms::

        E_t = d_t · r_At/r_t
        V_t = d_t · (r_At/r_t)(1 − r_At/r_t)(r_t − d_t)/(r_t − 1)

    ``is_a`` is a 0/1 Column (or name) marking group-A membership;
    ``event`` = 1 observed / 0 right-censored.

    Plan: one groupBy on the duration grid (the only raw-row pass),
    then ONE descending cumulative window over the duration-dimension
    frame gives every risk set by back-summation (the
    :func:`kaplan_meier` shape), then a single-row aggregate. E and V
    are rounded (9 dp) before the z arithmetic — the rounded-handoff
    rule — so the oracle's different summation order cannot flip the
    statistic. p-value via ``norm_sf2``.

    Output (one row): ``n_a, n_b, n_events, observed_a, expected_a,
    var_a, z, p_value``.
    """
    a = (F.col(is_a) if isinstance(is_a, str) else is_a).cast("long")
    ev = F.col(event).cast("long")
    per_t = (df.groupBy(duration).agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(a).alias("n_a"),
        F.sum(ev).alias("d_all"),
        F.sum(ev * a).alias("d_a")))
    w = (Window.partitionBy().orderBy(F.col(duration).desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (per_t
           .withColumn("r_all", F.sum("n_all").over(w))
           .withColumn("r_a", F.sum("n_a").over(w)))
    frac = F.col("r_a").cast("double") / F.col("r_all")
    e_term = F.when(F.col("d_all") > 0,
                    F.col("d_all") * frac).otherwise(F.lit(0.0))
    v_term = F.when(
        (F.col("d_all") > 0) & (F.col("r_all") > 1),
        F.col("d_all") * frac * (1.0 - frac)
        * (F.col("r_all") - F.col("d_all"))
        / (F.col("r_all") - 1)).otherwise(F.lit(0.0))
    tot = cum.agg(
        F.sum("n_a").alias("n_a"),
        F.sum(F.col("n_all") - F.col("n_a")).alias("n_b"),
        F.sum("d_all").alias("n_events"),
        F.sum("d_a").alias("observed_a"),
        F.round(F.sum(e_term), 9).alias("expected_a"),
        F.round(F.sum(v_term), 9).alias("var_a"))
    z = F.when(F.col("var_a") > 0,
               (F.col("observed_a") - F.col("expected_a"))
               / F.sqrt(F.col("var_a")))
    return tot.select(
        "n_a", "n_b", "n_events", "observed_a",
        F.round("expected_a", ndigits).alias("expected_a"),
        F.round("var_a", ndigits).alias("var_a"),
        F.round(z, ndigits).alias("z"),
        F.round(norm_sf2(z), ndigits).alias("p_value"))


def anova_oneway(df: DataFrame, segment: str, group: str, value: str,
                 ndigits: int = 6) -> DataFrame:
    """Per-``segment`` one-way ANOVA across the levels of ``group``:
    one row per segment with ``k, n, ss_between, ss_within, f_stat,
    eta2, omega2`` (effect sizes alongside the F ratio — the modern
    reporting convention; no F-tail p-value because neither Spark nor
    DuckDB has a closed-form incomplete beta, and the statistic plus
    effect size is what a feature platform thresholds on).

    Plan: :func:`_oneway` — per-segment means centre the metric
    (:func:`_centered`), then one aggregate to the group-dimension
    frame. Two fact scans, zero raw-row shuffles.
    """
    agg = _oneway(df, segment, group, value)
    k, n = F.col("k"), F.col("n")
    ssb, ssw = F.col("ssb"), F.col("ssw")
    sst = ssb + ssw
    df_b, df_w = (k - 1).cast("double"), n - k
    msw = F.when(df_w > 0, ssw / df_w)
    fstat = F.when((k > 1) & (df_w > 0) & (ssw > 0), (ssb / df_b) / msw)
    eta2 = F.when(sst > 0, ssb / sst)
    omega2 = F.when((sst > 0) & (df_w > 0),
                    (ssb - df_b * msw) / (sst + msw))
    return agg.select(
        segment, k, n.cast("bigint").alias("n"),
        F.round(ssb, ndigits).alias("ss_between"),
        F.round(ssw, ndigits).alias("ss_within"),
        F.round(fstat, ndigits).alias("f_stat"),
        F.round(eta2, ndigits).alias("eta2"),
        F.round(omega2, ndigits).alias("omega2"))


def levene_bf(df: DataFrame, segment: str, group: str, value: str,
              ndigits: int = 6) -> DataFrame:
    """Per-``segment`` Brown–Forsythe test (Levene with group MEDIAN
    centers — the robust recommendation) for homogeneity of variance
    across the levels of ``group``: ``k, n, w_stat`` per segment,
    where W is the one-way ANOVA F computed on the absolute
    deviations ``z = |x − median_g|``.

    Plan: :func:`_centered` on exact interpolated group medians
    (Spark and DuckDB both interpolate linearly, so the rounded medians
    agree bit-for-bit), then :func:`anova_oneway` over z. The fact
    table is scanned twice (medians cannot stream with the deviations)
    but never shuffled on raw rows.
    """
    z = (_centered(df, [segment, group], F.col(value).cast("double"),
                   F.median)
         .select(segment, group, F.abs("__d").alias("__z")))
    out = anova_oneway(z, segment, group, "__z", ndigits)
    return out.select(
        segment, "k", "n",
        F.col("f_stat").alias("w_stat"),
        "ss_between", "ss_within")


def jarque_bera(df: DataFrame, group: str, value: str,
                ndigits: int = 6) -> DataFrame:
    """Per-``group`` Jarque–Bera normality statistic with its
    ingredients: ``n, mean, skew, ex_kurt, jb`` where
    ``JB = n/6·(g1² + g2²/4)`` (g1 = sample skewness, g2 = excess
    kurtosis). Flags heavy-tailed / skewed feature distributions that
    violate the normal-theory tests upstream of them.

    Plan: :func:`_centered`, then one aggregate of the CENTRAL power
    sums ``Σ(x−μ̂)^{2,3,4}`` (raw fourth-power sums of ~1e16 cancelling
    to ~1e12 would lose 4 significant digits and break 6-dp oracle
    parity).
    """
    dd = F.col("__d")
    agg = _centered(df, group, F.col(value).cast("double")).groupBy(group).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.first("__mu").alias("mean"),
        F.sum(dd * dd).alias("c2"),
        F.sum(dd * dd * dd).alias("c3"),
        F.sum(dd * dd * dd * dd).alias("c4"))
    n = F.col("n")
    m2 = F.col("c2") / n
    m3 = F.col("c3") / n
    m4 = F.col("c4") / n
    ok = (n >= 4) & (m2 > 0)
    skew = F.when(ok, m3 / F.pow(m2, F.lit(1.5)))
    exk = F.when(ok, m4 / (m2 * m2) - 3.0)
    jb = F.when(ok, n / 6.0 * (skew * skew + exk * exk / 4.0))
    return agg.select(
        group, n.cast("bigint").alias("n"),
        F.round("mean", ndigits).alias("mean"),
        F.round(skew, ndigits).alias("skew"),
        F.round(exk, ndigits).alias("ex_kurt"),
        F.round(jb, ndigits).alias("jb"))


def kruskal_wallis(df: DataFrame, segment: str, group: str, value: str,
                   ndigits: int = 6) -> DataFrame:
    """Per-``segment`` Kruskal–Wallis H test across the levels of
    ``group`` — the k-group generalization of :func:`mann_whitney`:
    ``k, n, h_stat, h_tied, p_value`` per segment, with midranks for
    ties and the tie correction ``H' = H / (1 − Σ(t³−t)/(N³−N))``;
    p-value from the chi-square(k−1) tail (``chi2_sf``).

    Plan: rank arithmetic on AGGREGATED frames only: one groupBy to
    per-(segment, group, value) counts, a value-level total via a
    second aggregate, :func:`_midranks` over it, an aggregated
    equi-join to attach midranks back to the per-group counts, and a
    final segment reduce. The raw rows are touched exactly once.
    """
    x = F.col(value).cast("double")
    gv = df.groupBy(segment, group, x.alias("__v")).agg(
        F.count(F.lit(1)).cast("double").alias("__c"))
    vt = _midranks(gv.groupBy(segment, "__v").agg(
        F.sum("__c").alias("__t")), segment)
    joined = gv.join(vt, [segment, "__v"])
    per_g = joined.groupBy(segment, group).agg(
        F.sum("__c").alias("ng"),
        F.sum(F.col("__c") * F.col("__r")).alias("rg"))
    ties = vt.groupBy(segment).agg(_tie_sum().alias("tie"))
    agg = (per_g.groupBy(segment).agg(
               F.count(F.lit(1)).cast("bigint").alias("k"),
               F.sum("ng").alias("n"),
               F.sum(F.col("rg") * F.col("rg") / F.col("ng")).alias("r2"))
           .join(ties, segment))
    k, n = F.col("k"), F.col("n")
    h = F.when((k > 1) & (n > k),
               12.0 / (n * (n + 1)) * F.col("r2") - 3.0 * (n + 1))
    corr = 1.0 - F.col("tie") / (n * n * n - n)
    h_tied = F.when(corr > 0, h / corr)
    p = F.when(h_tied >= 0, chi2_sf(h_tied, (k - 1).cast("double")))
    return agg.select(
        segment, k, n.cast("bigint").alias("n"),
        F.round(h, ndigits).alias("h_stat"),
        F.round(h_tied, ndigits).alias("h_tied"),
        F.round(p, ndigits).alias("p_value"))


def cmh_test(df: DataFrame, stratum: str, exposed, outcome,
             ndigits: int = 6) -> DataFrame:
    """Cochran–Mantel–Haenszel stratified 2×2 analysis — the
    Simpson's-paradox guard for binary exposure/outcome effects:
    per-stratum cell counts ``(a, b, c, d)`` (exposed-outcome,
    exposed-no, unexposed-outcome, unexposed-no) plus the pooled
    Mantel–Haenszel odds ratio and the CMH chi-square statistic
    (without continuity correction, documented so the oracle is
    exact) REPEATED on every stratum row, mirroring ``ad_table``'s
    output contract::

        χ²_CMH = (Σ_i a_i − Σ_i r1_i·c1_i/n_i)²
                 / Σ_i r1_i·r2_i·c1_i·c2_i / (n_i²(n_i−1))
        OR_MH  = Σ(a_i d_i/n_i) / Σ(b_i c_i/n_i)

    Plan: ONE conditional-sum aggregate to the stratum-dimension cell
    table, then unpartitioned-window totals over it (safe: stratum
    cardinality is dimension-sized by contract).
    """
    e = exposed if isinstance(exposed, Column) else F.col(exposed)
    o = outcome if isinstance(outcome, Column) else F.col(outcome)
    cell = df.groupBy(stratum).agg(
        F.sum(F.when(e & o, 1).otherwise(0)).cast("double").alias("a"),
        F.sum(F.when(e & ~o, 1).otherwise(0)).cast("double").alias("b"),
        F.sum(F.when(~e & o, 1).otherwise(0)).cast("double").alias("c"),
        F.sum(F.when(~e & ~o, 1).otherwise(0)).cast("double").alias("d"))
    a, b, c, dcol = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    n = a + b + c + dcol
    r1, c1 = a + b, a + c
    r2, c2 = c + dcol, b + dcol
    ea = F.when(n > 0, r1 * c1 / n).otherwise(F.lit(0.0))
    va = F.when(n > 1, r1 * r2 * c1 * c2 / (n * n * (n - 1))) \
          .otherwise(F.lit(0.0))
    num_or = F.when(n > 0, a * dcol / n).otherwise(F.lit(0.0))
    den_or = F.when(n > 0, b * c / n).otherwise(F.lit(0.0))
    per = cell.select(
        stratum, a.cast("bigint").alias("a"), b.cast("bigint").alias("b"),
        c.cast("bigint").alias("c"), dcol.cast("bigint").alias("d"),
        F.round(ea, 9).alias("__ea"), F.round(va, 9).alias("__va"),
        F.round(num_or, 9).alias("__no"), F.round(den_or, 9).alias("__do"))
    wall = Window.partitionBy()
    tot = per.select(
        "*", F.sum(F.col("a").cast("double")).over(wall).alias("__s_a"),
        *[F.sum(f"__{c}").over(wall).alias(f"__s_{c}")
          for c in ("ea", "va", "no", "do")])
    s_a, s_ea, s_va, s_no, s_do = (
        F.col(f"__s_{c}") for c in ("a", "ea", "va", "no", "do"))
    chi2 = F.when(s_va > 0, F.pow(s_a - s_ea, F.lit(2.0)) / s_va)
    or_mh = F.when(s_do > 0, s_no / s_do)
    return tot.select(
        stratum, "a", "b", "c", "d",
        F.round(chi2, ndigits).alias("cmh_chi2"),
        F.round(or_mh, ndigits).alias("or_mh"))


def tost_equiv(df: DataFrame, segment: str, value: str, arm: str,
               arm_a: str, arm_b: str, margin: float,
               z_crit: float = 1.6448536269514722,
               ndigits: int = 6) -> DataFrame:
    """Per-``segment`` TOST equivalence test (two one-sided tests) —
    the inverse question of :func:`welch_ttest`: is the A−B mean
    difference provably WITHIN ±margin? One row per segment with
    ``n_a, n_b, diff, se, z_lower, z_upper, p_tost, equivalent``
    where z_lower tests diff > −margin, z_upper tests diff < +margin,
    ``p_tost`` is the larger of the two one-sided normal p-values
    (the TOST decision rule) and ``equivalent`` is the α=0.05 verdict
    ``min(z_lower, −z_upper) ≥ z_crit`` (large-sample normal regime;
    the arms come from :func:`_two_arms`, as in :func:`welch_ttest`).
    """
    agg = _two_arms(df, segment, F.col(value).cast("double"), arm,
                    arm_a, arm_b)
    na, ma, va = _arm_moments("a")
    nb, mb, vb = _arm_moments("b")
    ok = (na >= 2) & (nb >= 2)
    se = F.when(ok, F.sqrt(va / na + vb / nb))
    diff = ma - mb
    zl = F.when(ok & (se > 0), (diff + F.lit(margin)) / se)
    zu = F.when(ok & (se > 0), (diff - F.lit(margin)) / se)
    # p_l = P(Z >= z_lower) = 1 - Phi(z_lower), p_u = P(Z <= z_upper)
    # = Phi(z_upper); Phi(z) is norm_sf(-z)
    p_l = 1.0 - norm_sf(-zl)   # small when z_lower is large positive
    p_u = norm_sf(-zu)         # small when z_upper is large negative
    p_tost = F.greatest(p_l, p_u)
    equiv = F.when(zl.isNotNull() & zu.isNotNull(),
                   (zl >= F.lit(z_crit)) & (zu <= F.lit(-z_crit)))
    return agg.select(
        segment, na, nb,
        F.round(diff, ndigits).alias("diff"),
        F.round(se, ndigits).alias("se"),
        F.round(zl, ndigits).alias("z_lower"),
        F.round(zu, ndigits).alias("z_upper"),
        F.round(p_tost, ndigits).alias("p_tost"),
        equiv.alias("equivalent"))


def runs_test(df: DataFrame, key: str, order: Sequence[str], value: str,
              min_rows: int = 10, ndigits: int = 6) -> DataFrame:
    """Per-``key`` Wald–Wolfowitz runs test for randomness of the
    median-split sign sequence in ``order``: ``n1, n2, runs, z,
    p_value`` where a "run" is a maximal block of consecutive
    same-side values, values EQUAL to the key median are dropped
    (the standard treatment), and::

        E[R] = 2·n1·n2/N + 1
        Var  = 2·n1·n2·(2·n1·n2 − N) / (N²·(N−1))

    with the two-sided ``norm_sf2`` p. The trend/oscillation
    complement to :func:`~hipipe_spark.operators.regression.
    durbin_watson`: DW measures lag-1 magnitude correlation, runs
    count sign persistence.

    Plan: :func:`_centered` on key medians, one key-window ``lag`` to
    flag run boundaries, one aggregate. Keys with fewer than
    ``min_rows`` surviving rows keep their row with null ``z``.
    """
    x = F.col(value).cast("double")
    d = (_centered(df, key, x, F.median)
         .where(x != F.col("__mu"))
         .select(key, *order, (x > F.col("__mu")).alias("__up")))
    w = Window.partitionBy(key).orderBy(*order)
    d = d.withColumn("__new", F.when(F.lag("__up").over(w)
                                     .eqNullSafe(F.col("__up")), 0)
                               .otherwise(1))
    agg = d.groupBy(key).agg(
        F.sum(F.when(F.col("__up"), 1).otherwise(0))
         .cast("double").alias("n1"),
        F.sum(F.when(F.col("__up"), 0).otherwise(1))
         .cast("double").alias("n2"),
        F.sum("__new").cast("bigint").alias("runs"))
    n1, n2 = F.col("n1"), F.col("n2")
    nn = n1 + n2
    er = 2.0 * n1 * n2 / nn + 1.0
    vr = (2.0 * n1 * n2 * (2.0 * n1 * n2 - nn)
          / (nn * nn * (nn - 1.0)))
    z = F.when((nn >= min_rows) & (n1 > 0) & (n2 > 0) & (vr > 0),
               (F.col("runs") - er) / F.sqrt(vr))
    return agg.select(
        key, n1.cast("bigint").alias("n1"), n2.cast("bigint").alias("n2"),
        F.col("runs"),
        F.round(z, ndigits).alias("z"),
        F.round(norm_sf2(z), ndigits).alias("p_value"))


def grubbs_stat(df: DataFrame, group: str, value: str,
                ndigits: int = 6) -> DataFrame:
    """Per-``group`` Grubbs outlier statistic ``G = max|x − x̄| / s``
    (``n, mean, sd, g_stat`` per group; null when n < 3 or s = 0) —
    the single-outlier screen that complements HBOS/MAD: G near
    ``(n−1)/√n`` means one point carries essentially all the spread.

    The max deviation folds into the same :func:`_centered` one-pass
    aggregate: with d = x − μ̂ and the exact residual center c = Σd/n,
    ``max|x − x̄| = max(max(d) − c, c − min(d))`` — no second scan,
    no per-row ranking.
    """
    dd = F.col("__d")
    agg = _centered(df, group, F.col(value).cast("double")).groupBy(group).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.first("__mu").alias("mean"),
        F.sum(dd).alias("u"), F.sum(dd * dd).alias("q"),
        F.max(dd).alias("dmax"), F.min(dd).alias("dmin"))
    n = F.col("n")
    c = F.col("u") / n
    var = _sample_var(n, F.col("u"), F.col("q"))
    sd = F.when((n >= 3) & (var > 0), F.sqrt(var))
    g = F.greatest(F.col("dmax") - c, c - F.col("dmin")) / sd
    return agg.select(
        group, n.cast("bigint").alias("n"),
        F.round("mean", ndigits).alias("mean"),
        F.round(sd, ndigits).alias("sd"),
        F.round(g, ndigits).alias("g_stat"))


def icc_oneway(df: DataFrame, segment: str, group: str, value: str,
               ndigits: int = 6) -> DataFrame:
    """Per-``segment`` one-way random-effects intraclass correlation
    ICC(1) across the levels of ``group`` — how much of the metric
    variance is BETWEEN groups (conversations, raters, users)::

        n0     = (N − Σ n_g²/N) / (k − 1)      (unbalanced-design size)
        ICC(1) = (MSB − MSW) / (MSB + (n0 − 1)·MSW)

    ``k, n, n0, msb, msw, icc1`` per segment. :func:`_oneway` with
    one extra sufficient statistic (Σn_g²); negative estimates are
    reported as-is (the standard convention — truncation hides
    degenerate designs).
    """
    agg = _oneway(df, segment, group, value,
                  F.sum(F.col("ng") * F.col("ng")).alias("n2"))
    k, n, ssb = F.col("k"), F.col("n"), F.col("ssb")
    ok = (k > 1) & (n - k > 0)
    msb = F.when(ok, ssb / (k - 1))
    msw = F.when(ok, F.col("ssw") / (n - k))
    n0 = F.when(k > 1, (n - F.col("n2") / n) / (k - 1).cast("double"))
    icc = F.when(ok & (msw.isNotNull())
                 & ((msb + (n0 - 1.0) * msw) > 0),
                 (msb - msw) / (msb + (n0 - 1.0) * msw))
    return agg.select(
        segment, k, n.cast("bigint").alias("n"),
        F.round(n0, ndigits).alias("n0"),
        F.round(msb, ndigits).alias("msb"),
        F.round(msw, ndigits).alias("msw"),
        F.round(icc, ndigits).alias("icc1"))


def overdispersion(df: DataFrame, group: str, entity: str,
                   ndigits: int = 6) -> DataFrame:
    """Per-``group`` Poisson overdispersion test over per-``entity``
    event counts, with a negative-binomial moment fit for the groups
    that fail it: ``n_entities, mean, var, dispersion, z, p_value,
    nb_r, nb_p`` where dispersion = var/mean (1 under Poisson), the
    test is the index-of-dispersion statistic ``D = (n−1)·var/mean ~
    χ²(n−1)`` via the Wilson–Hilferty transform, and the NB moment
    estimates ``r = mean²/(var−mean)``, ``p = mean/var`` are null
    when var ≤ mean (no overdispersion to model).

    The modeling gate for count features (events per user, turns per
    conversation): a Poisson rate column is the wrong feature when
    dispersion ≫ 1 — burstiness/heterogeneity must be modeled.

    Plan: one aggregate to the (group, entity) count grid,
    :func:`_centered`, one aggregate per group — the grid exchange is
    the only fact-scale shuffle.
    """
    grid = df.groupBy(group, entity).agg(
        F.count(F.lit(1)).cast("double").alias("__c"))
    dd = F.col("__d")
    agg = _centered(grid, group, F.col("__c")).groupBy(group).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.first("__mu").alias("mean"),
        F.sum(dd).alias("u"), F.sum(dd * dd).alias("q"))
    n = F.col("n")
    mean = F.col("mean") + F.col("u") / n       # exact grid mean
    var = _sample_var(n, F.col("u"), F.col("q"))
    ok = (n >= 2) & (mean > 0)
    disp = F.when(ok, var / mean)
    dstat = F.when(ok, (n - 1) * var / mean)
    z = F.when(ok & (dstat >= 0), wilson_hilferty_z(dstat, n - 1))
    p = norm_sf(z)
    over = ok & (var > mean)
    nb_r = F.when(over, mean * mean / (var - mean))
    nb_p = F.when(over, mean / var)
    return agg.select(
        group, n.cast("bigint").alias("n_entities"),
        F.round(mean, ndigits).alias("mean"),
        F.round(var, ndigits).alias("var"),
        F.round(disp, ndigits).alias("dispersion"),
        F.round(z, ndigits).alias("z"),
        F.round(p, ndigits).alias("p_value"),
        F.round(nb_r, ndigits).alias("nb_r"),
        F.round(nb_p, ndigits).alias("nb_p"))
