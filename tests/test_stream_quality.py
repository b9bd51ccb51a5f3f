"""Streaming quality filter + PII scrub: micro-batch output must equal
the batch operator on the union of all files."""

import pandas as pd

from hipipe_spark.operators.corpus import CorpusFilter
from hipipe_spark.streaming.quality_stream import quality_filter_stream

ROWS = [
    (1, "alpha beta gamma delta epsilon zeta"),                 # keeps
    (2, "spam ham " * 6),                                       # dup-heavy
    (3, "short"),                                               # too short
    (4, "contact carol@example.org for data access details ok"),  # scrubbed
    (5, "one two three four five six seven eight"),             # keeps
]
FLT = CorpusFilter(min_tokens=6, max_dup_2gram=0.3)


def test_stream_matches_batch(spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    for i, chunk in enumerate((ROWS[:2], ROWS[2:])):
        pd.DataFrame(chunk, columns=["doc_id", "text"]).to_parquet(
            d / f"p{i}.parquet", index=False)

    batch_in = spark.read.schema("doc_id long, text string").parquet(str(d))
    expect = {r["doc_id"]: r["text"]
              for r in quality_filter_stream(batch_in, flt=FLT).collect()}

    src = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", 1).parquet(str(d)))
    q = (quality_filter_stream(src, flt=FLT)
         .writeStream.format("memory").queryName("qstream")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"]: r["text"]
           for r in spark.sql("select * from qstream").collect()}

    assert got == expect
    assert set(got) == {1, 4, 5}
    assert got[4] == "contact <EMAIL> for data access details ok"
