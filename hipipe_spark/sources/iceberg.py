"""Iceberg transcript-table source/sink with a parquet-snapshot fallback.

The north rule targets "Iceberg tables of multi-turn conversation
transcripts ... resumable from Iceberg snapshot checkpoints". This
container ships no Iceberg runtime jars (disclosed — same class of
limit as the media decoders), so this module is built as a SEAM:

- When ``org.apache.iceberg:iceberg-spark-runtime`` IS on the
  classpath (detected at runtime, never assumed), every method
  delegates to the real thing: ``spark.read.format("iceberg")`` with
  ``snapshot-id`` / ``as-of-timestamp`` time travel, ``writeTo()``
  append / createOrReplace, and the ``<table>.snapshots`` metadata
  table.
- Otherwise the SAME interface runs against
  :class:`hipipe_spark.checkpoint.SnapshotStore` parquet snapshots,
  which already implement the contract that matters for correctness
  testing: atomic rename-commit, monotonically ordered snapshot ids,
  manifests with row counts, and time travel by snapshot id or
  wall-clock timestamp.

The fallback keeps every snapshot immutable (append = new snapshot =
old data + new rows), so reads are repeatable mid-overwrite exactly as
Iceberg guarantees. The fallback append rewrites the table (O(rows)) —
fine for tests and small dims; the Iceberg path is a metadata-only
fast append. That trade is the documented difference, not a semantic
one.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from hipipe_spark.checkpoint import SnapshotStore


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 — capability probe
            "org.apache.iceberg.Table")
        return True
    except Exception:
        return False


def _snap_ts(snap: str) -> float:
    """Commit wall-clock seconds parsed from a SnapshotStore id
    (``YYYYmmddTHHMMSS-<ns-fraction>-<rand>``)."""
    stamp, frac = snap.split("-")[0], snap.split("-")[1]
    return time.mktime(time.strptime(stamp, "%Y%m%dT%H%M%S")) + int(frac) / 1e9


class IcebergTable:
    """One logical table, addressed either as an Iceberg catalog
    identifier (``cat.db.transcripts``) or a SnapshotStore table name.

    >>> t = IcebergTable(spark, "transcripts", store=SnapshotStore(root))
    >>> t.overwrite(df0); t.append(df1)
    >>> t.read()                           # current
    >>> t.read(snapshot_id=t.snapshots()[0]["snapshot"])  # time travel
    >>> t.read(as_of=some_epoch_seconds)   # latest snapshot <= as_of
    """

    def __init__(self, spark: SparkSession, identifier: str,
                 store: SnapshotStore | None = None):
        self.spark = spark
        self.identifier = identifier
        self._iceberg = iceberg_available(spark)
        if not self._iceberg and store is None:
            raise ValueError(
                "no Iceberg runtime on the classpath and no SnapshotStore "
                "fallback given — pass store=SnapshotStore(path)")
        self.store = store

    # ------------------------------------------------------------ read
    def read(self, snapshot_id: str | int | None = None,
             as_of: float | None = None) -> DataFrame:
        """Current table, or time travel by ``snapshot_id`` /
        ``as_of`` (epoch seconds; latest snapshot committed at or
        before it)."""
        if snapshot_id is not None and as_of is not None:
            raise ValueError("pass snapshot_id OR as_of, not both")
        if self._iceberg:
            r = self.spark.read.format("iceberg")
            if snapshot_id is not None:
                r = r.option("snapshot-id", str(snapshot_id))
            if as_of is not None:
                r = r.option("as-of-timestamp", str(int(as_of * 1000)))
            return r.load(self.identifier)
        if as_of is not None:
            snaps = [s["snapshot"] for s in self.snapshots()
                     if _snap_ts(s["snapshot"]) <= as_of]
            if not snaps:
                raise FileNotFoundError(
                    f"no snapshot of {self.identifier} at or before {as_of}")
            snapshot_id = snaps[-1]
        return self.store.read(self.spark, self.identifier,
                               str(snapshot_id) if snapshot_id else None)

    # ----------------------------------------------------------- write
    def overwrite(self, df: DataFrame) -> str | None:
        """Replace table contents atomically; returns the fallback
        snapshot id (Iceberg manages its own ids)."""
        if self._iceberg:
            df.writeTo(self.identifier).createOrReplace()
            return None
        return self.store.commit(df, self.identifier, meta={"op": "overwrite"})

    def append(self, df: DataFrame) -> str | None:
        """Append rows as a new snapshot. Iceberg: metadata-only fast
        append. Fallback: rewrites old+new into a fresh snapshot —
        semantically identical (old snapshots stay readable), O(rows)
        instead of O(1), documented above."""
        if self._iceberg:
            df.writeTo(self.identifier).append()
            return None
        try:
            cur = self.store.read(self.spark, self.identifier)
        except FileNotFoundError:
            cur = None
        out = df if cur is None else cur.unionByName(df)
        return self.store.commit(out, self.identifier, meta={"op": "append"})

    # -------------------------------------------------------- metadata
    def snapshots(self) -> list[dict]:
        """Snapshot log, oldest first: manifest dicts (fallback) or
        rows of the ``.snapshots`` metadata table (Iceberg)."""
        if self._iceberg:
            rows = self.spark.sql(
                f"SELECT * FROM {self.identifier}.snapshots "
                "ORDER BY committed_at").collect()
            return [r.asDict() for r in rows]
        return [self.store.manifest(self.identifier, s)
                for s in self.store._snapshots(self.identifier)]
