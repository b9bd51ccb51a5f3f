"""Streaming distribution-drift monitor — the incremental variant of
``operators.drift.psi_table``.

A recurring 100-TB ingest wants drift flagged DURING the ingest, not in
a next-day batch sweep. The streaming reading: fix a reference
histogram (fitted once on the training corpus — dimension-sized, folded
into the plan as literals), then compute one PSI value per event-time
window of the incoming stream.

Plan shape: ONE stateful aggregation — ``groupBy(window(ts))`` with
``n_buckets`` conditional-sum columns — so state is O(live windows ×
n_buckets), the watermark closes windows exactly once (append mode),
and the PSI fold is pure column arithmetic over the one-row-per-window
aggregate. No second aggregation, no stream-static join, no Python in
the hot path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hipipe_spark.operators.drift import (
    psi_term, smoothed_share, uniform_bucket,
)


def reference_histogram(df: DataFrame, col: str, lo: float, hi: float,
                        n_buckets: int = 10) -> list[int]:
    """Bucket counts of the reference (training) slice — the frozen
    "expected" side for :func:`psi_stream`. Driver-side list: the
    histogram is dimension-sized (n_buckets) by construction."""
    b = uniform_bucket(F.col(col), lo, hi, n_buckets)
    rows = df.groupBy(b.alias("bucket")).count().collect()
    counts = [0] * n_buckets
    for r in rows:
        counts[int(r["bucket"])] = int(r["count"])
    return counts


def psi_stream(stream_df: DataFrame, ref_counts: Sequence[int], col: str,
               lo: float, hi: float, ts_col: str = "ts",
               window: str = "10 minutes", watermark: str = "10 minutes",
               smooth: float = 0.5) -> DataFrame:
    """Per-event-time-window PSI of ``col`` against the reference
    histogram. Emits one append-mode row per closed window:
    ``window_start, window_end, n_rows, psi``, built from the batch
    ``psi_table``'s own ``smoothed_share`` and ``psi_term`` with the
    frozen reference as side ``a``.

    The per-bucket counts are conditional sums inside ONE windowed
    aggregation — not a ``groupBy(window, bucket)`` (which would need a
    second aggregation over the first's output to total the window, a
    shape append-mode streaming restricts). Late rows beyond the
    watermark are dropped; a closed window's PSI is emitted exactly
    once and never revised."""
    n_buckets = len(ref_counts)
    if n_buckets < 2:
        raise ValueError("need >= 2 reference buckets")
    tot_ref = F.lit(sum(ref_counts))
    p_ref = [smoothed_share(F.lit(c), tot_ref, n_buckets, smooth)
             for c in ref_counts]

    b = uniform_bucket(F.col(col), lo, hi, n_buckets)
    aggs = [
        F.sum(F.when(b == i, 1).otherwise(0)).alias(f"__n{i}")
        for i in range(n_buckets)
    ]
    agg = (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("__w"))
        .agg(*aggs)
    )
    tot_cur = sum((F.col(f"__n{i}") for i in range(n_buckets)), F.lit(0))
    psi = F.lit(0.0)
    for i in range(n_buckets):
        p_cur = smoothed_share(F.col(f"__n{i}"), tot_cur, n_buckets, smooth)
        psi = psi + psi_term(p_ref[i], p_cur)
    return agg.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        tot_cur.cast("long").alias("n_rows"),
        psi.alias("psi"),
    )
