"""Streaming corpus-quality stage: filter + PII scrub on a stream.

Both stages are STATELESS column expressions, so they apply to a
Structured Streaming DataFrame unchanged — no watermark, no state
store, every micro-batch filtered/scrubbed independently with the
batch operators' exact semantics (pinned by the parity test). This is
the ingest-time half of the corpus build; the stateful stages (dedup,
contamination, packing) run as the batch pipeline over the landed
data, where they see the whole corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hipipe_spark.functions.pii import scrub_pii
from hipipe_spark.operators.corpus import CorpusFilter, quality_keep


def quality_filter_stream(src: DataFrame, text_col: str = "text",
                          flt: CorpusFilter = CorpusFilter(),
                          scrub: tuple[str, ...] | None = ("email", "ipv4"),
                          ) -> DataFrame:
    """Quality-filter a document stream and (optionally) scrub PII in
    place. Works identically on batch frames — the parity contract."""
    out = quality_keep(src, text_col, flt)
    if scrub:
        out = out.withColumn(text_col, scrub_pii(F.col(text_col), scrub))
    return out
