"""Seeded inputs, generated once per (seed, size) and reused across runs.

Generation runs in a child process with its own JVM, so a run that finds
its inputs on disk and a run that had to make them start their measured
session from the same state. The child writes, under
``.work/inputs/<size>-s<seed>/``:

- ``turns``, ``profiles``: ``gen_transcripts`` / ``gen_profile_updates``
  output as parquet (the stand-in for the Iceberg turns table);
- ``texts``: ``(doc_id, text)`` for a hash-chosen quarter of the turns,
  the winnowing input;
- ``meta.json``: row counts, conversation ids and the time taken to
  generate and write the parquet.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

import host

N_CONVS = 6000
AVG_TURNS = 20
HOT_FRAC = 0.01
HOT_MULT = 50
TEXT_SHARE = 4  # winnowing reads one turn in TEXT_SHARE
SIZE_KEY = f"c{N_CONVS}-t{AVG_TURNS}-h{HOT_FRAC}-m{HOT_MULT}-q{TEXT_SHARE}"
GEN_TIMEOUT_S = 600


@dataclass(frozen=True)
class Inputs:
    dir: str
    seed: int
    n_turns: int
    n_texts: int
    conv_ids: list[str]
    hot_conv_ids: list[str]
    write_s: float

    @property
    def turns(self) -> str:
        return os.path.join(self.dir, "turns")

    @property
    def profiles(self) -> str:
        return os.path.join(self.dir, "profiles")

    @property
    def texts(self) -> str:
        return os.path.join(self.dir, "texts")


def checksum(df) -> tuple[int, str, object]:
    """Force every column of ``df``: row count plus the exact sum of an
    all-column ``xxhash64``, so Catalyst cannot prune any output away.
    Returns (rows, checksum, the executed DataFrame)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(20,0)")
    agg = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))
    row = agg.collect()[0]
    return int(row["n"]), str(row["h"]), agg


def corpus(spark, seed: int):
    """The seeded turns and profile updates, as unexecuted DataFrames."""
    from hipipe_spark.datagen import gen_profile_updates, gen_transcripts

    return (gen_transcripts(spark, n_convs=N_CONVS, avg_turns=AVG_TURNS,
                            hot_frac=HOT_FRAC, hot_mult=HOT_MULT, seed=seed),
            gen_profile_updates(spark, n_convs=N_CONVS, seed=seed))


def load_or_generate(seed: int) -> Inputs:
    d = os.path.join(host.WORK, "inputs", f"{SIZE_KEY}-s{seed}")
    meta = os.path.join(d, "meta.json")
    if not os.path.exists(meta):
        child = os.path.join(host.BENCH_DIR, "child.py")
        subprocess.run([sys.executable, child, "gen", str(seed), d],
                       check=True, timeout=GEN_TIMEOUT_S,
                       stdout=subprocess.DEVNULL)
    with open(meta) as f:
        return Inputs(dir=d, **json.load(f))


def generate(seed: int, out: str) -> None:
    """Write one input set to ``out`` (atomically, via a rename)."""
    from pyspark.sql import functions as F

    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    spark = host.start_session(host.nproc())
    try:
        t0 = time.perf_counter()
        turns, profiles = corpus(spark, seed)
        turns.write.parquet(os.path.join(tmp, "turns"))
        profiles.write.parquet(os.path.join(tmp, "profiles"))
        turns = spark.read.parquet(os.path.join(tmp, "turns"))
        doc = F.xxhash64("conv_id", "turn_idx")
        (turns.where(F.pmod(doc, F.lit(TEXT_SHARE)) == 0)
         .select(doc.alias("doc_id"), "text")
         .write.parquet(os.path.join(tmp, "texts")))
        write_s = time.perf_counter() - t0

        sizes = turns.groupBy("conv_id").count().collect()
        n_hot = max(1, int(N_CONVS * HOT_FRAC))
        hot = sorted(sizes, key=lambda r: (-r["count"], r["conv_id"]))[:n_hot]
        n_texts = spark.read.parquet(os.path.join(tmp, "texts")).count()
        meta = dict(
            seed=seed, n_turns=sum(r["count"] for r in sizes), n_texts=n_texts,
            conv_ids=sorted(r["conv_id"] for r in sizes),
            hot_conv_ids=sorted(r["conv_id"] for r in hot),
            write_s=write_s,
        )
    finally:
        host.shutdown_jvm(spark)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    try:
        os.rename(tmp, out)
    except OSError:  # another run finished the same set first
        shutil.rmtree(tmp, ignore_errors=True)
