"""Streaming Count-Min sketch — the incremental variant of
``operators.sketches.cms_sketch``.

A 100-TB ingest wants its frequency sketch maintained DURING the
ingest: per event-time window, emit the d×w counter table once the
watermark closes the window. Because CMS is linear, the emitted rows
ARE the merge units — daily sketches fold by ``groupBy(d, bucket)
.sum(cnt)``; a point query (min over d counters) runs on the stored
sketch without touching the raw stream again.

Plan shape: ONE stateful aggregation — ``groupBy(window(ts), d,
bucket)`` after a deterministic explode — so state is O(live windows ×
d × w), append mode emits each closed window's sketch exactly once,
and there is no Python in the hot path. The counters come from the
batch sketch's own ``cms_cells``, so a window's streamed sketch is
bit-identical to ``cms_sketch`` of that window's slice
(pytest-pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hipipe_spark.operators.sketches import cms_cells


def cms_stream(stream_df: DataFrame, item: str, ts_col: str = "ts",
               window: str = "10 minutes", watermark: str = "10 minutes",
               depth: int = 4, width: int = 256) -> DataFrame:
    """Per-event-time-window Count-Min sketch of integer column
    ``item``. Emits append-mode rows ``window_start, window_end,
    d (int), bucket (int), cnt (bigint)`` — exactly the batch
    ``cms_sketch`` schema plus the window bounds.

    Late rows beyond the watermark are dropped; a closed window's
    sketch is emitted exactly once and never revised — downstream
    merges can therefore treat each (window, d, bucket) row as
    immutable.
    """
    rows = cms_cells(F.col(item).cast("long"), depth, width)
    agg = (stream_df
           .withWatermark(ts_col, watermark)
           .select(F.col(ts_col), F.explode(rows).alias("r"))
           .groupBy(F.window(ts_col, window).alias("__w"),
                    F.col("r.d").alias("d"),
                    F.col("r.bucket").alias("bucket"))
           .agg(F.count("*").alias("cnt")))
    return agg.select(F.col("__w.start").alias("window_start"),
                      F.col("__w.end").alias("window_end"),
                      "d", "bucket", "cnt")


def cms_point_query(sketch: DataFrame, items: DataFrame, item: str,
                    depth: int = 4, width: int = 256) -> DataFrame:
    """Frequency estimates for ``items`` against a stored sketch
    (streamed windows already merged via ``groupBy(d, bucket)
    .sum(cnt)``, or a batch ``cms_sketch``): min over the ``depth``
    counters each item hashes into. Broadcast of the d×w sketch —
    the query never shuffles the item side."""
    probes = items.select(
        F.col(item).cast("long").alias("item"),
        F.explode(cms_cells(F.col(item).cast("long"), depth, width))
        .alias("p")
    ).select("item", F.col("p.d").alias("pd"), F.col("p.bucket").alias("pb"))
    j = probes.join(F.broadcast(sketch),
                    (probes["pd"] == sketch["d"])
                    & (probes["pb"] == sketch["bucket"]), "left")
    # a bucket absent from the sketch means count 0 — coalesce BEFORE
    # the min, or a zero bucket would be skipped and the estimate
    # inflated to the min of the remaining counters
    return (j.groupBy("item")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .cast("bigint").alias("cms_estimate"))
            .orderBy("item"))
