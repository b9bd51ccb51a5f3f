"""IcebergTable seam: snapshot commits, time travel, append semantics
over the SnapshotStore fallback (no Iceberg jars in this container —
the interface contract is what's pinned)."""

import pytest

from hipipe_spark.checkpoint import SnapshotStore
from hipipe_spark.sources.iceberg import (
    IcebergTable, _snap_ts, iceberg_available)


@pytest.fixture()
def table(spark, tmp_path):
    return IcebergTable(spark, "transcripts",
                        store=SnapshotStore(str(tmp_path)))


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"t{i}") for i in range(lo, hi)], "id long, text string")


def test_fallback_requires_store_without_runtime(spark):
    if iceberg_available(spark):
        pytest.skip("Iceberg runtime present — real path covered below")
    with pytest.raises(ValueError):
        IcebergTable(spark, "t")  # fallback requires a store


def test_real_iceberg_roundtrip(spark, tmp_path):
    """The REAL `format("iceberg")` path: enabled whenever an
    iceberg-spark-runtime jar is on the classpath, skipped otherwise.
    Exercises a hadoop catalog end-to-end: CREATE, append,
    snapshot listing, and snapshot-id time travel."""
    if not iceberg_available(spark):
        pytest.skip("no Iceberg runtime jar on the classpath")
    spark.conf.set("spark.sql.catalog.it_test",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.it_test.type", "hadoop")
    spark.conf.set("spark.sql.catalog.it_test.warehouse",
                   str(tmp_path / "wh"))
    spark.sql("CREATE TABLE it_test.db.t (id BIGINT, text STRING) "
              "USING iceberg")
    try:
        _df(spark, 0, 5).writeTo("it_test.db.t").append()
        _df(spark, 5, 8).writeTo("it_test.db.t").append()
        assert spark.table("it_test.db.t").count() == 8
        snaps = spark.sql(
            "SELECT snapshot_id FROM it_test.db.t.snapshots "
            "ORDER BY committed_at").collect()
        assert len(snaps) == 2
        first = (spark.read.option("snapshot-id", snaps[0].snapshot_id)
                 .format("iceberg").load("it_test.db.t"))
        assert first.count() == 5
    finally:
        spark.sql("DROP TABLE IF EXISTS it_test.db.t")


def test_overwrite_append_read(spark, table):
    table.overwrite(_df(spark, 0, 5))
    assert table.read().count() == 5
    table.append(_df(spark, 5, 8))
    assert table.read().count() == 8
    assert {r.id for r in table.read().collect()} == set(range(8))


def test_time_travel_by_snapshot_and_timestamp(spark, table):
    s1 = table.overwrite(_df(spark, 0, 3))
    s2 = table.append(_df(spark, 3, 6))
    assert table.read(snapshot_id=s1).count() == 3
    assert table.read(snapshot_id=s2).count() == 6
    # as_of between the two commits resolves to the first snapshot
    mid = (_snap_ts(s1) + _snap_ts(s2)) / 2
    assert table.read(as_of=mid).count() == 3
    assert table.read(as_of=_snap_ts(s2) + 1).count() == 6
    with pytest.raises(FileNotFoundError):
        table.read(as_of=_snap_ts(s1) - 10)
    with pytest.raises(ValueError):
        table.read(snapshot_id=s1, as_of=mid)


def test_snapshot_log(spark, table):
    table.overwrite(_df(spark, 0, 2))
    table.append(_df(spark, 2, 3))
    log = table.snapshots()
    assert [m["op"] for m in log] == ["overwrite", "append"]
    assert [m["rows"] for m in log] == [2, 3]
    # ids are chronologically ordered (lexical == commit order)
    assert log[0]["snapshot"] < log[1]["snapshot"]


def test_torn_commit_stays_out_of_snapshot_log(spark, table, tmp_path):
    """A commit torn after its manifest was written leaves a ``.tmp-``
    directory holding ``MANIFEST.json``; it is not a snapshot, so the
    log and ``as_of`` time travel skip it."""
    import json

    s1 = table.overwrite(_df(spark, 0, 3))
    torn_id = "29991231T235959-000000000-torn"
    torn = tmp_path / "transcripts" / f".tmp-{torn_id}"
    torn.mkdir()
    (torn / "MANIFEST.json").write_text(json.dumps(
        {"snapshot": torn_id, "name": "transcripts", "rows": 9}))
    assert [m["snapshot"] for m in table.snapshots()] == [s1]
    assert table.read(as_of=_snap_ts(torn_id) + 1).count() == 3


def test_append_to_empty_table(spark, table):
    table.append(_df(spark, 0, 4))
    assert table.read().count() == 4
