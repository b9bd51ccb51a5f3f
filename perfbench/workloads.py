"""The two workloads, their output checks, and the traced layer pass.

Every op reads its parquet inputs afresh and forces every output column
with ``inputs.checksum``. Spans are opened here, in the benchmark, around
the calls into each ``hipipe_spark`` layer. The incremental refresh is
measured, and its output checked, only in the traced layer pass.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
from dataclasses import dataclass, field

import host
from inputs import Inputs, checksum, corpus
from tracing import NullTracer, plan_counters

# Columns the flagship shares with reference_impl.featurize.
ORACLE_COLS = [
    "session_seq", "session_id", "secs_since_prev", "role_lag_1",
    "role_lag_2", "text_len_lag_1", "assistant_turns_10",
    "mean_text_len_10", "tool_filled", "model_asof", "temperature_asof",
    "text",
]
ASOF_STRATEGIES = ("union", "broadcast", "bucketed")
SLICE_CONVS = 200      # conversations in the reference slice
WINNOW_SAMPLE = 300    # texts replayed in DuckDB
DELTA_SHARE = 100      # a refresh delta touches one conversation in 100
CHILD_TIMEOUT_S = 120
FEATURES = "features"  # the refreshed snapshot's name in the store


@dataclass
class Ctx:
    """What an op needs: the live session, the inputs, the run's own
    snapshot store directory, and the checksum each kind of output had
    the first time this run made it."""
    spark: object
    inp: Inputs
    store_root: str
    seen: dict[str, str] = field(default_factory=dict)

    def same(self, key: str, chk: str) -> bool:
        """True if ``chk`` equals the first checksum recorded for ``key``."""
        return self.seen.setdefault(key, chk) == chk


@dataclass
class OpResult:
    rows: int      # the row count rows_per_s divides
    ok: bool
    checksum: str = ""


def _read(ctx: Ctx):
    r = ctx.spark.read.parquet
    return r(ctx.inp.turns), r(ctx.inp.profiles)


class Featurize:
    """``featurize(turns, profiles, asof_strategy="union")`` over the
    skewed corpus: the north-rule pipeline."""
    name = "featurize_skewed"

    def op(self, ctx: Ctx, tr) -> OpResult:
        from hipipe_spark.operators.flagship import featurize

        turns, profiles = _read(ctx)
        with tr.span("flagship.featurize") as attrs:
            n, chk, agg = checksum(featurize(turns, profiles, asof_strategy="union"))
        if tr.enabled:
            attrs.update(plan_counters(agg))
        return OpResult(n, n == ctx.inp.n_turns and ctx.same("features", chk), chk)

    def verify(self, ctx: Ctx) -> OpResult:
        """A seeded slice of conversations, one of them hot, against the
        pandas oracle."""
        from pyspark.sql import functions as F

        from hipipe_spark import reference_impl as ri
        from hipipe_spark.operators.flagship import featurize

        rng = random.Random(f"slice:{ctx.inp.seed}")
        hot = rng.choice(ctx.inp.hot_conv_ids)
        hot_ids = set(ctx.inp.hot_conv_ids)
        cold = [c for c in ctx.inp.conv_ids if c not in hot_ids]
        ids = [hot, *rng.sample(cold, SLICE_CONVS - 1)]
        turns, profiles = _read(ctx)
        pick = F.col("conv_id").isin(ids)
        got = featurize(turns, profiles, asof_strategy="union").where(pick).toPandas()
        tp = turns.where(pick).toPandas()
        want = ri.featurize(tp, profiles.where(pick).toPandas())
        ok = len(got) == len(tp) and ri.allclose_frames(got, want, ORACLE_COLS)
        return OpResult(len(got), ok)


class Refresh:
    """``checkpoint.incremental_refresh`` of 1% of conversations over the
    base snapshot; commits and reads back the full table."""

    def __init__(self) -> None:
        self.n_ops = 0

    def commit_base(self, ctx: Ctx) -> OpResult:
        """Full featurize committed as the base snapshot; like every
        committed snapshot, it must read back with the full-featurize
        checksum."""
        from hipipe_spark.checkpoint import SnapshotStore, incremental_refresh
        from hipipe_spark.operators.flagship import featurize

        turns, profiles = _read(ctx)
        _, df = incremental_refresh(
            ctx.spark, SnapshotStore(ctx.store_root), FEATURES, turns,
            lambda d: featurize(d, profiles, asof_strategy="union"))
        n, chk, _ = checksum(df)
        return OpResult(n, n == ctx.inp.n_turns and ctx.same("features", chk), chk)

    def delta_ids(self, inp: Inputs) -> list[str]:
        rng = random.Random(f"delta:{inp.seed}:{self.n_ops}")
        self.n_ops += 1
        return rng.sample(inp.conv_ids, max(1, len(inp.conv_ids) // DELTA_SHARE))

    def op(self, ctx: Ctx, tr) -> OpResult:
        from hipipe_spark.checkpoint import SnapshotStore, incremental_refresh
        from hipipe_spark.operators.flagship import featurize

        class TracedStore(SnapshotStore):
            def commit(self, df, name, meta=None):
                with tr.span("checkpoint.commit") as attrs:
                    snap = super().commit(df, name, meta)
                attrs.update(_snapshot_files(self, name, snap))
                return snap

        ids = self.delta_ids(ctx.inp)
        delta = ctx.spark.createDataFrame([(c,) for c in ids], "conv_id string")
        turns, profiles = _read(ctx)
        store = TracedStore(ctx.store_root)
        with tr.span("checkpoint.incremental_refresh"):
            _, df = incremental_refresh(
                ctx.spark, store, FEATURES, turns,
                lambda d: featurize(d, profiles, asof_strategy="union"),
                delta_keys=delta)
        with tr.span("checkpoint.read"):
            n, chk, _ = checksum(df)
        return OpResult(n, n == ctx.inp.n_turns and ctx.same("features", chk), chk)

    def drop_old_snapshots(self, ctx: Ctx) -> None:
        """Keep only the latest snapshot, so disk use stays flat."""
        d = os.path.join(ctx.store_root, FEATURES)
        for snap in sorted(os.listdir(d))[:-1]:
            shutil.rmtree(os.path.join(d, snap))

    def verify(self, ctx: Ctx) -> OpResult:
        """Each op already compares the committed snapshot with the
        full-featurize checksum; here the latest manifest must agree."""
        from hipipe_spark.checkpoint import SnapshotStore

        store = SnapshotStore(ctx.store_root)
        m = store.manifest(FEATURES, store.latest(FEATURES))
        return OpResult(m["rows"], m["rows"] == ctx.inp.n_turns
                        and m.get("mode") == "incremental")


def _snapshot_files(store, name: str, snap: str) -> dict:
    d = os.path.join(store.root, name, snap, "data")
    parts = [e for e in os.scandir(d) if e.name.endswith(".parquet")]
    return dict(files_written=len(parts),
                bytes_written=sum(e.stat().st_size for e in parts))


class Winnow:
    """``dedup.winnow_fingerprints``, an Arrow ``mapInPandas`` UDF, over
    a quarter of the turns' text: no shuffle, window or as-of."""
    name = "winnow_udf"

    def op(self, ctx: Ctx, tr) -> OpResult:
        from hipipe_spark.operators.dedup import winnow_fingerprints

        texts = ctx.spark.read.parquet(ctx.inp.texts)
        with tr.span("dedup.winnow_fingerprints") as attrs:
            n, chk, _ = checksum(winnow_fingerprints(texts, id_col="doc_id"))
        attrs["fingerprints_out"] = n
        return OpResult(ctx.inp.n_texts, n > 0 and ctx.same("fingerprints", chk), chk)

    def verify(self, ctx: Ctx) -> OpResult:
        """Fingerprints of a seeded sample of texts against an
        independent DuckDB replay of the winnowing selection."""
        import duckdb
        from pyspark.sql import functions as F

        from hipipe_spark.operators.dedup import winnow_fingerprints

        texts = ctx.spark.read.parquet(ctx.inp.texts)
        every = max(1, ctx.inp.n_texts // WINNOW_SAMPLE)
        sample = texts.where(
            F.pmod(F.xxhash64("doc_id", F.lit(ctx.inp.seed)), F.lit(every)) == 0)
        got = winnow_fingerprints(sample, id_col="doc_id").toPandas()
        src = sample.toPandas()
        with duckdb.connect() as con:
            con.register("src", src)
            want = con.execute(WINNOW_SQL).fetchall()
        ok = len(src) > 0 and set(zip(got["doc_id"], got["fp"])) == set(want)
        return OpResult(len(src), ok)


# Winnowing (Schleimer et al., SIGMOD 2003) as winnow_fingerprints
# documents it: lowercase, cap 240 chars, poly-31 fold of each 5-gram's
# codepoints mod 2^31, LCG double round (1103515245, 12345, 2^31), then
# the minimum of every 4 consecutive k-gram hashes, ties to the rightmost
# position, distinct per document.
_K, _W, _CAP, _A, _C, _M = 5, 4, 240, 1103515245, 12345, 2 ** 31
WINNOW_SQL = f"""
WITH d AS (SELECT doc_id, substring(lower(coalesce(text, '')), 1, {_CAP}) AS t
           FROM src),
n AS (SELECT doc_id, t, length(t) - {_K} + 1 AS n FROM d
      WHERE length(t) - {_K} + 1 >= {_W}),
h AS (SELECT doc_id, n, list_transform(range(1, n + 1), i ->
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(i, i + {_K}),
                         j -> CAST(ascii(substring(t, j, 1)) AS BIGINT))),
          (acc, x) -> (acc * 31 + x) % {_M})) AS hs FROM n),
e AS (SELECT doc_id, n, list_transform(range(1, n + 1), i ->
        ((hs[i] * {_A} + {_C}) % {_M} * {_A} + {_C}) % {_M} * 256 + (255 - i))
        AS enc FROM h),
f AS (SELECT doc_id, list_distinct(list_transform(range({_W}, n + 1),
        p -> list_min(enc[p - {_W} + 1 : p]) // 256)) AS fps FROM e)
SELECT doc_id, unnest(fps) AS fp FROM f
"""

WORKLOADS = {w.name: w for w in (Featurize, Winnow)}


# ------------------------------------------------------- traced layers
def trace_layers(ctx: Ctx, tr, record, wl) -> dict:
    """One untraced warm-up and one traced run of every layer call the
    workloads and the incremental refresh make, except the selected
    workload's own op, whose traced phase already has spans. Ends with
    the 1-core featurize in a fresh JVM; returns its result."""
    from pyspark.sql import functions as F

    from hipipe_spark.operators.asof import asof_join
    from hipipe_spark.operators.core import BatchTransform
    from hipipe_spark.operators.flagship import feature_pipeline, featurize

    inp, same = ctx.inp, ctx.same

    def scan(t):
        turns, _ = _read(ctx)
        with t.span("sources.scan"):
            n, chk, _ = checksum(turns)
        return OpResult(n, n == inp.n_turns and same("scan", chk), chk)

    def gen(t):
        with t.span("datagen.gen"):
            turns, profiles = corpus(ctx.spark, inp.seed)
            n, chk, _ = checksum(turns)
            checksum(profiles)
        # the same seed must give the turns written to parquet
        return OpResult(n, n == inp.n_turns and same("scan", chk), chk)

    def pipeline(t):
        turns, _ = _read(ctx)
        d = turns.withColumn("text_len", F.length("text").cast("int"))
        with t.span("temporal.feature_pipeline"):
            n, chk, _ = checksum(feature_pipeline()(d))
        return OpResult(n, n == inp.n_turns and same("pipeline", chk), chk)

    def asof(strategy):
        def run(t):
            turns, profiles = _read(ctx)
            narrow = turns.select("conv_id", "turn_idx", "ts")
            with t.span(f"asof.{strategy}"):
                n, chk, _ = checksum(asof_join(narrow, profiles, on="ts", by="conv_id",
                                               strategy=strategy, suffix="_asof"))
            # the strategies share one semantics, hence one checksum
            return OpResult(n, n == inp.n_turns and same("asof", chk), chk)
        return run

    refresh = Refresh()

    def slice_featurize(t):
        ids = refresh.delta_ids(inp)
        keys = ctx.spark.createDataFrame([(c,) for c in ids], "conv_id string")
        turns, profiles = _read(ctx)
        with t.span("checkpoint.slice_featurize"):
            n, chk, _ = checksum(featurize(turns.join(F.broadcast(keys), "conv_id", "left_semi"),
                                           profiles, asof_strategy="union"))
        return OpResult(n, n > 0, chk)

    def roundtrip(t):
        texts = ctx.spark.read.parquet(inp.texts)

        def identity(pdf):
            return pdf

        with t.span("core.arrow_roundtrip"):
            n, chk, _ = checksum(BatchTransform(identity, "doc_id long, text string").apply(texts))
        return OpResult(n, n == inp.n_texts and same("texts", chk), chk)

    def refresh_op(t):
        res = refresh.op(ctx, t)
        refresh.drop_old_snapshots(ctx)
        return res

    own = {Featurize.name: ("flagship.featurize", lambda t: Featurize().op(ctx, t)),
           Winnow.name: ("dedup.winnow_fingerprints", lambda t: Winnow().op(ctx, t))}
    layers = [("sources.scan", scan), ("datagen.gen", gen),
              ("temporal.feature_pipeline", pipeline),
              *[(f"asof.{s}", asof(s)) for s in ASOF_STRATEGIES],
              ("checkpoint.slice_featurize", slice_featurize),
              ("checkpoint.incremental_refresh", refresh_op),
              ("core.arrow_roundtrip", roundtrip),
              *[layer for name, layer in own.items() if name != wl.name]]
    # the roundtrip's output must equal its input
    ctx.seen["texts"] = checksum(ctx.spark.read.parquet(inp.texts))[1]
    record("checkpoint.base_commit", lambda: refresh.commit_base(ctx))
    for name, fn in layers:
        record(f"warm:{name}", lambda: fn(NullTracer()))
        record(name, lambda: fn(tr))
    record("verify:refresh", lambda: refresh.verify(ctx))
    return featurize_1core(ctx, record)


def featurize_1core(ctx: Ctx, record) -> dict:
    """Featurize at local[1] in a fresh JVM (a child process), checked
    against this run's featurize checksum."""
    out: dict = {}

    def run():
        child = os.path.join(host.BENCH_DIR, "child.py")
        proc = subprocess.run(
            [sys.executable, child, "featurize1", ctx.inp.dir, ctx.seen["features"]],
            check=True, timeout=CHILD_TIMEOUT_S, capture_output=True, text=True)
        out.update(json.loads(proc.stdout.strip().splitlines()[-1]))
        return OpResult(ctx.inp.n_turns, out["ok"])

    record("flagship.featurize_1core", run)
    return out
