"""Checkpoint/resume, lineage metrics and incremental refresh."""

import json
import os

from pyspark.sql import functions as F

from hipipe_spark.checkpoint import ResumablePipeline, SnapshotStore
from hipipe_spark.operators.temporal import Sessionize


def test_snapshot_commit_and_lineage(spark, transcripts, tmp_path):
    store = SnapshotStore(str(tmp_path / "snaps"))
    snap = store.commit(transcripts, "turns", meta={"source": "datagen"})
    man = store.manifest("turns", snap)
    assert man["rows"] == transcripts.count()
    assert man["n_partitions"] >= 1
    assert man["rows_per_sec"] > 0
    metrics = os.path.join(str(tmp_path / "snaps"), "turns", snap, "metrics.jsonl")
    recs = [json.loads(l) for l in open(metrics)]
    assert sum(r["rows"] for r in recs) == man["rows"]
    back = store.read(spark, "turns")
    assert back.count() == man["rows"]


def test_resume_skips_committed_stages(spark, transcripts, tmp_path):
    store = SnapshotStore(str(tmp_path / "snaps"))
    calls = []

    def stage_a(df):
        calls.append("a")
        return df.withColumn("text_len", F.length("text"))

    def stage_b(df):
        calls.append("b")
        return Sessionize()(df)

    pipe = ResumablePipeline(store, [("lenify", stage_a), ("sessionize", stage_b)])
    out1 = pipe.run(spark, transcripts)
    assert calls == ["a", "b"]
    n = out1.count()

    # simulate a crash after stage a: remove stage b's snapshot
    import shutil
    bdir = os.path.join(str(tmp_path / "snaps"), "run", "01_sessionize")
    shutil.rmtree(bdir)
    calls.clear()
    out2 = pipe.run(spark, transcripts)
    assert calls == ["b"]          # stage a resumed from snapshot
    assert out2.count() == n
    assert "session_id" in out2.columns

    # fully committed -> nothing re-executes
    calls.clear()
    out3 = pipe.run(spark, transcripts)
    assert calls == []
    assert out3.count() == n


def test_lineage_report_dataframes(spark, transcripts, tmp_path):
    import pytest
    store = SnapshotStore(str(tmp_path / "snaps"))
    s1 = store.commit(transcripts.limit(100), "turns")
    s2 = store.commit(transcripts.limit(250), "turns")
    hist = store.history(spark, "turns").orderBy("snapshot").collect()
    assert [h.snapshot for h in hist] == [s1, s2]
    assert [h.rows for h in hist] == [100, 250]
    assert all(h.rows_per_sec > 0 for h in hist)
    pm = store.partition_metrics(spark, "turns")  # latest = s2
    rows = pm.collect()
    assert all(r.snapshot == s2 for r in rows)
    assert sum(r.rows for r in rows) == 250
    assert store.partition_metrics(spark, "turns", s1).agg(
        {"rows": "sum"}).collect()[0][0] == 100
    assert store.history(spark, "missing").count() == 0
    with pytest.raises(FileNotFoundError):
        store.partition_metrics(spark, "missing")


def test_incremental_refresh_matches_full(spark, transcripts, tmp_path):
    from pyspark.sql import functions as F
    from hipipe_spark.checkpoint import SnapshotStore, incremental_refresh

    store = SnapshotStore(str(tmp_path / "snaps"))

    def compute(df):
        return df.groupBy("conv_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_turns"),
            F.sum(F.length("text")).cast("bigint").alias("chars"))

    # base snapshot: corpus WITHOUT the delta conversations' last turns
    w_last = F.col("turn_idx") < 5
    delta_convs = transcripts.select("conv_id").distinct() \
        .filter(F.crc32(F.col("conv_id")) % 5 == 0)
    base_state = transcripts.join(delta_convs, "conv_id", "left_anti") \
        .unionByName(transcripts.join(delta_convs, "conv_id", "left_semi")
                     .filter(w_last))
    snap1, _ = incremental_refresh(spark, store, "feats", base_state,
                                   compute)
    assert store.manifest("feats", snap1)["mode"] == "full"

    # delta arrives: the held-back turns; full table is now transcripts
    snap2, got = incremental_refresh(spark, store, "feats", transcripts,
                                     compute, delta_keys=delta_convs)
    man = store.manifest("feats", snap2)
    assert man["mode"] == "incremental"
    assert man["parent_snapshot"] == snap1
    assert man["n_affected_keys"] == delta_convs.count()

    want = compute(transcripts).toPandas().set_index("conv_id").sort_index()
    have = got.toPandas().set_index("conv_id").sort_index()
    assert (want == have).all().all()
    assert len(want) == len(have)


def test_incremental_refresh_featurize_parity(spark, transcripts, tmp_path):
    from pyspark.sql import functions as F
    from hipipe_spark.checkpoint import SnapshotStore, incremental_refresh
    from hipipe_spark.operators.flagship import featurize

    store = SnapshotStore(str(tmp_path / "fsnaps"))

    def compute(df):
        return featurize(df, asof_strategy="union")

    old = transcripts.filter(F.crc32(F.col("conv_id")) % 3 != 0)
    delta_convs = transcripts.select("conv_id").distinct() \
        .filter(F.crc32(F.col("conv_id")) % 3 == 0)
    incremental_refresh(spark, store, "ff", old, compute)
    _, got = incremental_refresh(spark, store, "ff", transcripts,
                                 compute, delta_keys=delta_convs)
    want = compute(transcripts)
    cols = ["conv_id", "turn_idx"]
    w = want.orderBy(*cols).toPandas()
    g = got.orderBy(*cols).toPandas()[w.columns]
    assert len(w) == len(g)
    import numpy as np
    for c in w.columns:
        if w[c].dtype.kind in "fiu":
            assert np.allclose(w[c].astype(float),
                               g[c].astype(float), equal_nan=True), c
        else:
            assert (w[c].fillna("∅") == g[c].fillna("∅")).all(), c


def test_torn_commit_stays_invisible_and_refresh_resumes(
        spark, transcripts, tmp_path, monkeypatch):
    """A crash between the manifest write and the publishing rename
    leaves a ``.tmp-`` directory that already holds MANIFEST.json. It
    must not surface as a snapshot, and the next refresh must build on
    the last committed one."""
    import pytest

    import hipipe_spark.checkpoint as checkpoint
    from hipipe_spark.checkpoint import incremental_refresh

    store = SnapshotStore(str(tmp_path / "snaps"))
    rename = os.rename

    def crash_before_publish(src, dst):
        if os.path.basename(src).startswith(".tmp-"):
            assert os.path.exists(os.path.join(src, "MANIFEST.json"))
            raise OSError("injected crash before the commit rename")
        rename(src, dst)

    def compute(df):
        return df.groupBy("conv_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_turns"),
            F.sum(F.length("text")).cast("bigint").alias("chars"))

    delta_convs = transcripts.select("conv_id").distinct() \
        .filter(F.crc32(F.col("conv_id")) % 3 == 0)
    old = transcripts.join(delta_convs, "conv_id", "left_anti")

    # torn first commit: nothing is published
    monkeypatch.setattr(checkpoint.os, "rename", crash_before_publish)
    with pytest.raises(OSError, match="injected"):
        incremental_refresh(spark, store, "feats", old, compute)
    assert store.latest("feats") is None
    assert store.history(spark, "feats").count() == 0

    monkeypatch.setattr(checkpoint.os, "rename", rename)
    base, _ = incremental_refresh(spark, store, "feats", old, compute)

    # torn incremental commit: the base stays the only snapshot
    monkeypatch.setattr(checkpoint.os, "rename", crash_before_publish)
    with pytest.raises(OSError, match="injected"):
        incremental_refresh(spark, store, "feats", transcripts, compute,
                            delta_keys=delta_convs)
    monkeypatch.setattr(checkpoint.os, "rename", rename)
    assert store.latest("feats") == base
    assert [h.snapshot for h in store.history(spark, "feats").collect()] \
        == [base]

    # resume: the retried refresh builds on the base and matches a full run
    snap, got = incremental_refresh(spark, store, "feats", transcripts,
                                    compute, delta_keys=delta_convs)
    man = store.manifest("feats", snap)
    assert man["mode"] == "incremental"
    assert man["parent_snapshot"] == base
    assert store.latest("feats") == snap
    want = compute(transcripts).toPandas().set_index("conv_id").sort_index()
    have = got.toPandas().set_index("conv_id").sort_index()
    assert len(want) == len(have)
    assert (want == have).all().all()
