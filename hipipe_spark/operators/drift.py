"""Distribution-drift metrics between two corpus slices.

A 100-TB training-data pipeline re-ingests continuously; the first
question after every refresh is "did the feature distributions move?".
The standard answer is the Population Stability Index over fixed
buckets: PSI = sum_b (p_a(b) - p_b(b)) * ln(p_a(b) / p_b(b)).

Everything here is exact, deterministic JVM arithmetic: bucket by
uniform width (identical formula on any SQL engine — no reliance on
engine-specific width_bucket), count per (bucket, side) in ONE shuffle
on a dimension-sized key, smooth proportions with a fixed additive
constant (no div-by-zero, no data-dependent epsilon), and fold the
bucket terms. hipipe has no drift tooling (its users eyeball
``for_each`` printouts — reference ``test/core/stream/for_each.cpp``
idiom); at corpus scale this must be a first-class aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hipipe_spark.functions.tails import chi2_sf


def uniform_bucket(col: Column, lo: float, hi: float, n_buckets: int) -> Column:
    """Bucket index in [0, n_buckets-1]: uniform width over [lo, hi),
    with underflow clamped to 0 and overflow to n_buckets-1. Pure
    arithmetic — byte-identical on Spark and DuckDB."""
    w = (hi - lo) / n_buckets
    raw = F.floor((col.cast("double") - F.lit(float(lo))) / F.lit(w))
    return F.least(F.lit(n_buckets - 1), F.greatest(F.lit(0), raw)).cast("int")


def smoothed_share(n: Column, total: Column, n_buckets: int,
                   smooth: float) -> Column:
    """Laplace-smoothed bucket proportion ``(n + smooth) / (total +
    smooth * n_buckets)``: finite and non-zero for every bucket, so the
    log terms of PSI and JSD never diverge."""
    s = float(smooth)
    return (n + s) / (total + s * n_buckets)


def psi_term(p_a: Column, p_b: Column) -> Column:
    """One bucket's PSI contribution ``(p_a - p_b) * ln(p_a / p_b)``."""
    return (p_a - p_b) * F.log(p_a / p_b)


def _two_sample_counts(df_a: DataFrame, df_b: DataFrame, key: Column,
                       name: str) -> DataFrame:
    """``name, n_a, n_b``: rows of each side per distinct ``key``. The
    sides are tagged and unioned into ONE aggregate, so each
    partial-aggregates map-side to its distinct keys and the only
    exchange is on the key."""
    tagged = (
        df_a.select(key.alias(name), F.lit(1).alias("is_a"),
                    F.lit(0).alias("is_b"))
        .unionByName(df_b.select(key.alias(name), F.lit(0).alias("is_a"),
                                 F.lit(1).alias("is_b"))))
    return tagged.groupBy(name).agg(
        F.sum("is_a").alias("n_a"), F.sum("is_b").alias("n_b"))


def _value_counts(df_a: DataFrame, df_b: DataFrame,
                  col: Column | str) -> DataFrame:
    """:func:`_two_sample_counts` per distinct double ``value`` of
    ``col``: the merged-support table of the eCDF statistics."""
    c = F.col(col) if isinstance(col, str) else col
    return _two_sample_counts(df_a, df_b, c.cast("double"), "value")


def _bucket_shares(df_a: DataFrame, df_b: DataFrame, col: Column | str,
                   lo: float, hi: float, n_buckets: int,
                   smooth: float) -> DataFrame:
    """``bucket, n_a, n_b, p_a, p_b`` for every bucket (missing buckets
    with zero counts), proportions from :func:`smoothed_share`: the
    :func:`_two_sample_counts` of the buckets, then a broadcast of the
    two scalar totals."""
    c = F.col(col) if isinstance(col, str) else col
    counts = _two_sample_counts(
        df_a, df_b, uniform_bucket(c, lo, hi, n_buckets), "bucket")
    spark = df_a.sparkSession
    all_buckets = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    counts = (
        all_buckets.join(F.broadcast(counts), "bucket", "left")
        .select("bucket",
                F.coalesce("n_a", F.lit(0)).alias("n_a"),
                F.coalesce("n_b", F.lit(0)).alias("n_b"))
    )
    # Totals via unpartitioned window sums over the (≤ n_buckets)-row
    # table — a separate .agg() branch would re-execute the input
    # lineage (no subplan sharing without persist): one extra full scan
    # per side at 100 TB for two scalars.
    wall = Window.partitionBy()
    return counts.select(
        "bucket", "n_a", "n_b",
        smoothed_share(F.col("n_a"), F.sum("n_a").over(wall), n_buckets,
                       smooth).alias("p_a"),
        smoothed_share(F.col("n_b"), F.sum("n_b").over(wall), n_buckets,
                       smooth).alias("p_b"),
    )


def psi_table(df_a: DataFrame, df_b: DataFrame, col: Column | str,
              lo: float, hi: float, n_buckets: int = 10,
              smooth: float = 0.5) -> DataFrame:
    """Per-bucket PSI decomposition between slice ``a`` (expected /
    reference) and slice ``b`` (actual / fresh).

    Returns one row per bucket (missing buckets included with zero
    counts): ``bucket, n_a, n_b, psi_term`` plus the repeated total
    ``psi`` — so both the bucket-level diagnosis and the headline
    number ship in one result.

    Proportions are Laplace-smoothed: p = (n + smooth) / (N + smooth *
    n_buckets), keeping every term finite and the whole computation a
    deterministic rational-plus-ln expression.

    Plan shape: each side aggregates map-side to ≤ n_buckets rows
    (partial_count), ONE exchange on the bucket key, then a broadcast
    of the two scalar totals. Nothing here grows with input rows — at
    100 TB the only full-data work is the two scans.
    """
    withp = _bucket_shares(df_a, df_b, col, lo, hi, n_buckets, smooth)
    withterm = withp.withColumn("psi_term",
                                psi_term(F.col("p_a"), F.col("p_b")))
    total = F.sum("psi_term").over(Window.partitionBy())
    return withterm.select(
        "bucket", "n_a", "n_b", "psi_term",
        total.alias("psi"),
    )


def ks_table(df_a: DataFrame, df_b: DataFrame, col: Column | str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov decomposition: per distinct value
    ``v`` of ``col``, counts per side and the eCDF gap
    ``d = |F_a(v) - F_b(v)|``; ``ks = max(d)`` repeated on every row.

    Exact for discrete domains (integer features, bucket indices); for
    continuous features pre-bucket with :func:`uniform_bucket` — the KS
    of the binned distributions lower-bounds the continuous statistic.

    Plan shape: :func:`_value_counts`, then cumulative sums over the
    post-aggregation table. The ordered window has no partition key,
    which is fine precisely because the table is dimension-sized
    (|distinct values|, not input rows) by the time it runs — the same
    contract as :func:`psi_table`'s bucket table."""
    counts = _value_counts(df_a, df_b, col)
    # Totals as unpartitioned window sums over the post-aggregation
    # table, NOT a separate .agg() branch: a second aggregate would
    # re-execute the whole input lineage (Catalyst does not share
    # unpersisted subplans across DataFrame branches) — two full scans
    # of a 100-TB input instead of one.
    wall = Window.partitionBy()
    wcum = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    withd = (
        counts
        .withColumn("cdf_a", F.sum("n_a").over(wcum) / F.sum("n_a").over(wall))
        .withColumn("cdf_b", F.sum("n_b").over(wcum) / F.sum("n_b").over(wall))
        .withColumn("d", F.abs(F.col("cdf_a") - F.col("cdf_b")))
    )
    ks = F.max("d").over(wall)
    return withd.select("value", "n_a", "n_b", "d", ks.alias("ks"))


def ks(df_a: DataFrame, df_b: DataFrame, col: Column | str) -> float:
    """Headline KS scalar (driver-side; the table is dimension-sized)."""
    row = ks_table(df_a, df_b, col).select("ks").limit(1).collect()
    return float(row[0]["ks"]) if row else 0.0


def cramers_v_table(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Chi-squared association between two categorical columns as a
    per-cell decomposition: observed ``n``, expected ``e`` (independence
    model), the cell's chi² contribution, plus the repeated totals
    ``chi2`` and bias-uncorrected Cramér's V =
    sqrt(chi2 / (N · (min(R, C) − 1))) — the feature-redundancy probe
    run before dropping one of two correlated categoricals.

    Plan shape: ONE exchange on the (a, b) cell key (partial counts
    map-side); margins, cardinalities, and N are re-aggregated from the
    dimension-sized contingency table and broadcast back. The
    contingency table is persisted (four downstream branches read it —
    without the persist each branch would re-scan the full input);
    call :func:`hipipe_spark.operators.core.release_cached` on the
    result after materializing."""
    observed = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count("*").alias("n")).persist()
    row_m = observed.groupBy("a").agg(F.sum("n").alias("n_row"))
    col_m = observed.groupBy("b").agg(F.sum("n").alias("n_col"))
    glob = observed.agg(
        F.sum("n").alias("n_tot"),
        F.countDistinct("a").alias("card_a"),
        F.countDistinct("b").alias("card_b"))
    # Unobserved (a, b) combinations still carry chi² mass ((0-e)²/e = e)
    # — fill the full R×C grid (dimension-sized) before expectations.
    cells = (
        row_m.select("a").crossJoin(col_m.select("b"))
        .join(observed, ["a", "b"], "left")
        .select("a", "b", F.coalesce("n", F.lit(0)).alias("n"))
    )
    withe = (
        cells.join(F.broadcast(row_m), "a")
        .join(F.broadcast(col_m), "b")
        .join(F.broadcast(glob))
        .withColumn("e", F.col("n_row") * F.col("n_col") / F.col("n_tot"))
        .withColumn("chi2_term",
                    (F.col("n") - F.col("e")) ** 2 / F.col("e"))
    )
    w = Window.partitionBy()
    chi2 = F.sum("chi2_term").over(w)
    dof = F.least("card_a", "card_b") - F.lit(1)
    v = F.when(dof > 0, F.sqrt(chi2 / (F.col("n_tot") * dof)))
    from hipipe_spark.operators.core import register_cached
    return register_cached(
        withe.select("a", "b", "n", "e", "chi2_term",
                     chi2.alias("chi2"), v.alias("cramers_v")),
        observed,
    )


def mutual_info_table(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Mutual information between two categorical columns, decomposed
    per observed cell: ``mi_term = p(a,b) · ln(p(a,b) / (p(a)·p(b)))``
    (nats), plus the repeated totals ``mi``, marginal entropies
    ``h_a`` / ``h_b``, and normalized MI = mi / sqrt(h_a · h_b) — the
    feature-selection sibling of :func:`cramers_v_table` (chi² asks
    "are they dependent", MI asks "how many bits does one reveal about
    the other"). Zero cells contribute exactly 0 and are omitted.

    Plan shape: same as Cramér's V — one exchange on the cell key, a
    persisted dimension-sized contingency table feeding the margin /
    entropy branches, entropies broadcast back. Call ``release_cached``
    on the result after materializing."""
    observed = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count("*").alias("n")).persist()
    row_m = observed.groupBy("a").agg(F.sum("n").alias("n_row"))
    col_m = observed.groupBy("b").agg(F.sum("n").alias("n_col"))
    wall = Window.partitionBy()

    def _entropy(margin: DataFrame, cnt: str, out: str) -> DataFrame:
        tot = F.sum(cnt).over(wall)
        p = F.col(cnt) / F.col("__tot")
        return (margin.withColumn("__tot", tot)
                .select((-p * F.log(p)).alias("__t"))
                .agg(F.sum("__t").alias(out)))

    ha = _entropy(row_m, "n_row", "h_a")
    hb = _entropy(col_m, "n_col", "h_b")
    withm = (
        observed.join(F.broadcast(row_m), "a")
        .join(F.broadcast(col_m), "b")
        .withColumn("__n_tot", F.sum("n").over(wall))
        .withColumn(
            "mi_term",
            (F.col("n") / F.col("__n_tot"))
            * F.log(F.col("n").cast("double") * F.col("__n_tot")
                    / (F.col("n_row") * F.col("n_col"))),
        )
    )
    mi = F.sum("mi_term").over(wall)
    out = (
        withm.join(F.broadcast(ha)).join(F.broadcast(hb))
        .select(
            "a", "b", "n", "mi_term", mi.alias("mi"), "h_a", "h_b",
            F.when(F.col("h_a") * F.col("h_b") > 0,
                   mi / F.sqrt(F.col("h_a") * F.col("h_b"))).alias("nmi"),
        )
    )
    from hipipe_spark.operators.core import register_cached
    return register_cached(out, observed)


def psi(df_a: DataFrame, df_b: DataFrame, col: Column | str,
        lo: float, hi: float, n_buckets: int = 10,
        smooth: float = 0.5) -> float:
    """Headline PSI scalar (driver-side; the table is dimension-sized).
    Rule of thumb: < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 act."""
    row = (psi_table(df_a, df_b, col, lo, hi, n_buckets, smooth)
           .select("psi").limit(1).collect())
    return float(row[0]["psi"]) if row else 0.0


def jsd_table(df_a: DataFrame, df_b: DataFrame, col: Column | str,
              lo: float, hi: float, n_buckets: int = 10,
              smooth: float = 0.5) -> DataFrame:
    """Per-bucket Jensen-Shannon divergence decomposition between two
    slices — PSI's symmetric, bounded cousin (0 <= JSD <= ln 2, natural
    log): ``JSD = 0.5*KL(P||M) + 0.5*KL(Q||M)`` with ``M = (P+Q)/2``.
    Preferred over PSI when either slice can have near-empty buckets —
    every term is finite even unsmoothed, and the bound makes
    thresholds transferable across features.

    Same plan shape as :func:`psi_table` (one bucket-key exchange over
    map-side-combined counts, window-sum totals over ≤ n_buckets
    rows); same Laplace smoothing so the two diagnostics share their
    proportion estimates. Returns ``bucket, n_a, n_b, jsd_term, jsd``.
    """
    withp = _bucket_shares(df_a, df_b, col, lo, hi, n_buckets, smooth)
    m = (F.col("p_a") + F.col("p_b")) / 2
    term = (F.col("p_a") * F.log(F.col("p_a") / m)
            + F.col("p_b") * F.log(F.col("p_b") / m)) / 2
    withterm = withp.withColumn("jsd_term", term)
    total = F.sum("jsd_term").over(Window.partitionBy())
    return withterm.select("bucket", "n_a", "n_b", "jsd_term",
                           total.alias("jsd"))


def wasserstein_table(df_a: DataFrame, df_b: DataFrame,
                      col: Column | str) -> DataFrame:
    """Exact 1-Wasserstein (earth-mover) distance between two
    empirical distributions: ``W₁ = ∫ |F_a − F_b| dx`` — the drift
    metric with UNITS (it answers "the score moved by ~0.07", where
    PSI/KS/JSD only answer "it moved"). Exact on the merged discrete
    support: ``Σ |F_a(vᵢ) − F_b(vᵢ)| · (vᵢ₊₁ − vᵢ)``.

    Plan: :func:`_value_counts`, eCDF gaps + support gaps via windows
    on that dimension-sized merged-support table, then one fold.
    Output: one row — ``n_a, n_b (bigints), n_support (bigint), w1
    (double rounded 6)``.
    """
    counts = _value_counts(df_a, df_b, col)
    wall = Window.partitionBy()
    wcum = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, 0)
    wlead = Window.orderBy("value")
    staged = (counts
              .withColumn("cdf_a", F.sum("n_a").over(wcum)
                          / F.sum("n_a").over(wall))
              .withColumn("cdf_b", F.sum("n_b").over(wcum)
                          / F.sum("n_b").over(wall))
              .withColumn("gap", F.lead("value").over(wlead)
                          - F.col("value")))
    return staged.agg(
        F.sum("n_a").cast("bigint").alias("n_a"),
        F.sum("n_b").cast("bigint").alias("n_b"),
        F.count("*").cast("bigint").alias("n_support"),
        F.round(F.sum(F.abs(F.col("cdf_a") - F.col("cdf_b"))
                      * F.col("gap")), 6).alias("w1"))


def chi2_test(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Pearson χ² test of independence between two categorical
    columns, with dof and the ``chi2_sf`` p. The inferential companion
    to :func:`cramers_v_table` (which reports effect size only).

    ONE hash aggregate to the contingency cells (class²-sized), then
    marginal joins on the category-dimension frames. Output: one row
    — ``n (bigint), chi2, dof (bigint), p_value`` (doubles rounded
    6; p null when dof < 1).
    """
    cells = (df.groupBy(F.col(col_a).alias("a"),
                        F.col(col_b).alias("b"))
             .agg(F.count("*").alias("n")))
    ma = cells.groupBy("a").agg(F.sum("n").alias("na"))
    mb = cells.groupBy("b").agg(F.sum("n").alias("nb"))
    tot = cells.agg(F.sum("n").alias("nt"),
                    F.countDistinct("a").alias("ka"),
                    F.countDistinct("b").alias("kb"))
    # full category cross so zero cells contribute their expected mass
    grid = (ma.crossJoin(mb).join(cells, ["a", "b"], "left")
            .select("a", "b", "na", "nb",
                    F.coalesce(F.col("n"), F.lit(0)).alias("n"))
            .crossJoin(F.broadcast(tot)))
    exp = F.col("na") * F.col("nb") / F.col("nt").cast("double")
    term = (F.col("n") - exp) * (F.col("n") - exp) / exp
    agg = grid.agg(F.sum(term).alias("chi2"),
                   F.first("nt").alias("nt"),
                   F.first("ka").alias("ka"),
                   F.first("kb").alias("kb"))
    dof = (F.col("ka") - 1) * (F.col("kb") - 1)
    p = chi2_sf(F.col("chi2"), dof.cast("double"))
    return agg.select(
        F.col("nt").cast("bigint").alias("n"),
        F.round(F.col("chi2"), 6).alias("chi2"),
        dof.cast("bigint").alias("dof"),
        F.round(F.when(dof >= 1, p), 6).alias("p_value"))


def ad_table(df_a: DataFrame, df_b: DataFrame,
             col: Column | str, round_to: int = 6) -> DataFrame:
    """Two-sample Anderson–Darling decomposition — the tail-sensitive
    companion to :func:`ks_table` (KS sees the single largest eCDF
    gap; AD integrates the squared gap with 1/(F(1−F)) weighting, so
    divergence in the tails is not drowned out by the middle).

    Statistic: the right-continuous tie-aware version (Scholz &
    Stephens 1987, eq. 3, k=2) which reduces exactly to Pettitt's
    continuous two-sample A² on untied data::

        A² = (1/N) Σ_j  l_j (N·Ma_j − n_a·H_j)² (1/n_a + 1/n_b)
                        / (H_j (N − H_j))

    summed over distinct pooled values with H_j < N, where l_j =
    pooled count at value j, H_j = cumulative pooled count, Ma_j =
    cumulative count of sample a. Per distinct value the row carries
    ``(value, n_a, n_b, contrib)`` with ``a2`` (the total) repeated
    on every row, mirroring ks_table's output contract.

    Plan: :func:`_value_counts`, then each total and cumulative count
    computed once by a window over that dimension-sized table — the
    unpartitioned windows are safe by :func:`ks_table`'s contract.
    Exact for discrete domains; pre-bucket continuous features with
    :func:`uniform_bucket`.
    """
    wall = Window.partitionBy()
    wcum = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    counts = _value_counts(df_a, df_b, col).select(
        "value", "n_a", "n_b",
        F.sum("n_a").over(wall).alias("__na"),
        F.sum("n_b").over(wall).alias("__nb"),
        F.sum("n_a").over(wcum).alias("__ma"),
        F.sum("n_b").over(wcum).alias("__mb"))
    na, nb, ma = F.col("__na"), F.col("__nb"), F.col("__ma")
    big_n = na + nb
    l = F.col("n_a") + F.col("n_b")
    h = ma + F.col("__mb")
    contrib = F.when(
        h < big_n,
        l * F.pow(big_n * ma - na * h, F.lit(2.0))
          * (F.lit(1.0) / na + F.lit(1.0) / nb)
          / (h * (big_n - h)) / big_n
    ).otherwise(F.lit(0.0))
    withc = counts.withColumn("contrib", F.round(contrib, round_to + 3))
    a2 = F.round(F.sum("contrib").over(Window.partitionBy()), round_to)
    return withc.select(
        "value", "n_a", "n_b",
        F.round("contrib", round_to).alias("contrib"),
        a2.alias("a2"))


def theil_u(df: DataFrame, col_x: str, col_y: str,
            ndigits: int = 6) -> DataFrame:
    """Theil's uncertainty coefficient U(Y|X) — the ASYMMETRIC
    categorical association: what fraction of Y's entropy does
    knowing X remove? ``U(Y|X) = (H(Y) − H(Y|X)) / H(Y)`` in [0, 1].
    Unlike Cramér's V (symmetric), U answers the directional
    feature-selection question "does X predict Y" and its converse
    separately; one row with both directions::

        n, h_x, h_y, mi, u_y_given_x, u_x_given_y

    (natural-log entropies; ``mi = H(X) + H(Y) − H(X,Y)``; U null
    when the target entropy is 0 — a constant column predicts
    nothing and is perfectly predicted).

    Plan: ONE aggregate to the (x, y) contingency cells, entropies
    from three dimension-sized reduces over it — identical shape to
    ``mutual_information``, sharing its cell table contract.
    """
    from .core import register_cached

    # the cell table feeds four reduces (both marginals, the joint
    # entropy, the total); persist it ONCE so the fact table is
    # scanned exactly once (caller frees via release_cached)
    cells = (df.groupBy(F.col(col_x).alias("__x"),
                        F.col(col_y).alias("__y"))
               .agg(F.count(F.lit(1)).cast("double").alias("__c"))
               .persist())
    xm = cells.groupBy("__x").agg(F.sum("__c").alias("__cx"))
    ym = cells.groupBy("__y").agg(F.sum("__c").alias("__cy"))
    n_tot = cells.agg(F.sum("__c").alias("__n"))
    hx = (xm.crossJoin(F.broadcast(n_tot))
            .agg((F.log(F.first("__n"))
                  - F.sum(F.col("__cx") * F.log("__cx"))
                  / F.first("__n")).alias("h_x")))
    hy = (ym.crossJoin(F.broadcast(n_tot))
            .agg((F.log(F.first("__n"))
                  - F.sum(F.col("__cy") * F.log("__cy"))
                  / F.first("__n")).alias("h_y")))
    hxy = (cells.crossJoin(F.broadcast(n_tot))
                .agg(F.first("__n").alias("n"),
                     (F.log(F.first("__n"))
                      - F.sum(F.col("__c") * F.log("__c"))
                      / F.first("__n")).alias("h_xy")))
    j = hxy.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    mi = F.col("h_x") + F.col("h_y") - F.col("h_xy")
    uyx = F.when(F.col("h_y") > 0, mi / F.col("h_y"))
    uxy = F.when(F.col("h_x") > 0, mi / F.col("h_x"))
    return register_cached(j.select(
        F.col("n").cast("bigint").alias("n"),
        F.round("h_x", ndigits).alias("h_x"),
        F.round("h_y", ndigits).alias("h_y"),
        F.round(mi, ndigits).alias("mi"),
        F.round(uyx, ndigits).alias("u_y_given_x"),
        F.round(uxy, ndigits).alias("u_x_given_y")), cells)


def srm_check(df: DataFrame, segment: str, arm: str,
              expected: dict[str, float],
              ndigits: int = 6) -> DataFrame:
    """Sample-ratio-mismatch gate per ``segment`` — the first thing a
    trustworthy experiment pipeline checks: do the observed arm
    counts match the intended allocation? Pearson chi-square against
    the ``expected`` proportions (e.g. ``{"a": 0.5, "b": 0.5}``)
    with the ``chi2_sf`` tail.
    One row per segment: ``n, chi2, dof, p_value, srm`` (the α=0.001
    verdict — SRM alarms use a conservative threshold because a true
    mismatch invalidates the whole experiment).

    Plan: one conditional-count aggregate per segment; arithmetic on
    the segment-dimension frame. Arms not in ``expected`` are
    ignored (pre-filter upstream if that is an error).
    """
    if abs(sum(expected.values()) - 1.0) > 1e-9:
        raise ValueError("expected proportions must sum to 1")
    arms = sorted(expected)
    agg = (df.filter(F.col(arm).isin(arms))
             .groupBy(segment)
             .agg(*[F.sum(F.when(F.col(arm) == a, 1).otherwise(0))
                    .cast("double").alias(f"__o_{i}")
                    for i, a in enumerate(arms)]))
    n = None
    for i in range(len(arms)):
        n = F.col(f"__o_{i}") if n is None else n + F.col(f"__o_{i}")
    chi2 = None
    for i, a in enumerate(arms):
        e = n * float(expected[a])
        term = (F.col(f"__o_{i}") - e) * (F.col(f"__o_{i}") - e) / e
        chi2 = term if chi2 is None else chi2 + term
    dof = len(arms) - 1
    p = F.when(n > 0, chi2_sf(chi2, float(dof)))
    return agg.select(
        segment, n.cast("bigint").alias("n"),
        F.round(chi2, ndigits).alias("chi2"),
        F.lit(dof).cast("int").alias("dof"),
        F.round(p, ndigits).alias("p_value"),
        (p < 0.001).alias("srm"))
