"""Checkpoint/resume, lineage metrics and incremental refresh."""

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
    assert len(man["files"]) == man["n_partitions"]
    assert sum(r["rows"] for r in man["files"]) == man["rows"]
    data = os.path.join(str(tmp_path / "snaps"), "turns", snap, "data")
    assert sorted(r["file"] for r in man["files"]) == sorted(
        f for f in os.listdir(data) if f.endswith(".parquet"))
    back = store.read(spark, "turns")
    assert back.count() == man["rows"]


def test_snapshot_ids_sort_in_commit_order_across_second_boundary(
        spark, monkeypatch, tmp_path):
    """The second commit's clock reads straddle a second boundary: the
    first read is 1 ns before it, any later read 100 ns after. An id
    built from two reads names the old second with the new fraction and
    sorts before the first commit; latest() must still be the second
    commit."""
    import time as real_time
    import types

    import hipipe_spark.checkpoint as ckpt

    s0 = int(real_time.time()) * 1_000_000_000
    reads = iter(())

    def time_ns():
        return next(reads)

    def strftime(fmt, t=None):
        if t is None:
            t = real_time.localtime(time_ns() // 1_000_000_000)
        return real_time.strftime(fmt, t)

    monkeypatch.setattr(ckpt, "time", types.SimpleNamespace(
        time=real_time.time, localtime=real_time.localtime,
        time_ns=time_ns, strftime=strftime))
    store = SnapshotStore(str(tmp_path / "snaps"))
    df = spark.range(3)
    reads = iter([s0 + 500_000_000, s0 + 500_000_100])
    first = store.commit(df, "t")
    reads = iter([s0 + 999_999_999, s0 + 1_000_000_100])
    second = store.commit(df, "t")
    assert sorted([second, first]) == [first, second]
    assert store.latest("t") == second


def test_commit_of_empty_frame(spark, transcripts, tmp_path):
    store = SnapshotStore(str(tmp_path / "snaps"))
    snap = store.commit(transcripts.filter("1=0"), "turns")
    assert store.manifest("turns", snap)["rows"] == 0
    back = store.read(spark, "turns")
    assert back.columns == transcripts.columns
    assert back.count() == 0


def test_commit_and_refresh_start_no_extra_job(spark, transcripts, tmp_path):
    """A commit is its write: it starts as many Spark jobs as a plain
    ``df.write.parquet`` of the same frame, since row counts come from
    the written files. An incremental refresh runs ``compute`` over the
    delta slice once, inside that write."""
    from hipipe_spark.checkpoint import incremental_refresh

    sc = spark.sparkContext

    def n_jobs(group, action):
        sc.setJobGroup(group, "job-count assertion")
        try:
            action()
        finally:
            sc.setJobGroup("", "")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    transcripts.write.parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))
    store = SnapshotStore(str(tmp_path / "snaps"))
    n_write = n_jobs("plain_write_probe",
                     lambda: src.write.parquet(str(tmp_path / "plain")))
    assert n_jobs("commit_probe", lambda: store.commit(src, "turns")) \
        == n_write

    # counts the rows compute consumes; nondeterministic, so the filter
    # stays above the semi-join and sees exactly the slice rows
    rows_seen = sc.accumulator(0)

    def see(_):
        rows_seen.add(1)
        return True

    seen = F.udf(see, "boolean").asNondeterministic()

    def compute(df):
        return df.filter(seen("conv_id")).groupBy("conv_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_turns"))

    incremental_refresh(spark, store, "feats", src, compute)
    delta_convs = src.select("conv_id").distinct() \
        .filter(F.crc32(F.col("conv_id")) % 3 == 0)
    n_slice = src.join(delta_convs, "conv_id", "left_semi").count()
    rows_seen.value = 0
    incremental_refresh(spark, store, "feats", src, compute,
                        delta_keys=delta_convs)
    assert rows_seen.value == n_slice


def test_commit_fsyncs_before_publishing(spark, transcripts, tmp_path,
                                         monkeypatch):
    """Every data file and the manifest reach stable storage before the
    rename publishes the snapshot; the rename itself is flushed by an
    fsync of the name's directory."""
    import hipipe_spark.checkpoint as checkpoint

    def inode(path):
        st = os.stat(path)
        return st.st_dev, st.st_ino

    synced, at_rename = set(), {}
    fsync, rename = os.fsync, os.rename

    def recording_fsync(fd):
        st = os.fstat(fd)
        synced.add((st.st_dev, st.st_ino))
        fsync(fd)

    def checking_rename(src, dst):
        data = os.path.join(src, "data")
        at_rename["unsynced"] = [
            p for p in [os.path.join(src, "MANIFEST.json"),
                        *(os.path.join(data, f) for f in os.listdir(data)
                          if f.endswith(".parquet"))]
            if inode(p) not in synced]
        at_rename["synced"] = set(synced)
        rename(src, dst)

    monkeypatch.setattr(checkpoint.os, "fsync", recording_fsync)
    monkeypatch.setattr(checkpoint.os, "rename", checking_rename)
    store = SnapshotStore(str(tmp_path / "snaps"))
    store.commit(transcripts, "turns")
    assert at_rename["unsynced"] == []
    name_dir = inode(str(tmp_path / "snaps" / "turns"))
    assert name_dir in synced - at_rename["synced"]


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
    must not surface as a snapshot, the next refresh must build on the
    last committed one, and that refresh's commit removes it."""
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
    assert not [d for d in os.listdir(str(tmp_path / "snaps" / "feats"))
                if d.startswith(".tmp-")]
