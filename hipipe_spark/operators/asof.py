"""Point-in-time / as-of join — the engine's flagship custom operator.

Spark SQL has no native ASOF JOIN (through Spark 4.x the SQL surface
lacks it; pandas-on-Spark's ``merge_asof`` rewrites to union+window).
hipipe users approximated point-in-time lookup with driver-side maps
built from ``dataframe::index_cols`` (reference
``include/hipipe/core/dataframe.hpp:758-798``) applied inside per-batch
``transform`` stages — single-node only. This module provides four
distributed strategies with identical semantics:

``asof_join(left, right, on="ts", by="conv_id", direction="backward")``
attaches, to every left row, the most recent right row with
``right.ts <= left.ts`` (strict ``<`` with ``allow_exact_matches=False``)
within the same ``by`` key — i.e. zero temporal leakage by construction.

Strategies
----------
Four strategies plus ``auto``; each is the only path in some regime or
the test reference.

- **union** (default, the scale path): tag both sides, union, and take
  ``last(value, ignorenulls=True)`` over a window partitioned by the key
  ordered by (ts, side-tag). ONE shuffle of left+right, no per-group
  materialization, no size limit on either side.
- **broadcast**: collapse the right side to one sorted struct array per
  key, broadcast it, binary-search JVM-side — zero shuffle of the left
  side. For dimension-sized right sides: traced ``asof.broadcast_s``
  0.87 s vs ``asof.union_s`` 1.22 s (perfbench, seed 31); single traced
  runs on a 4-core host have also measured the two equal (0.63-0.68 s
  vs 0.66-0.69 s), so the margin at that size is unresolved.
- **bucketed**: the hot-key path. Both sides are re-keyed by
  (by, time bucket) and stitched with a carry-in table. 1.73x over
  union at 16M rows on 32 cores, but 0.88x at 4M rows on 4 cores
  (BENCH/SKEW.md, one conversation = half of the rows).
- **cogroup**: ``cogroup(...).applyInPandas(pd.merge_asof)`` per key —
  the validation reference the other strategies are checked against;
  each key's rows must fit a Python worker.
- **auto**: ``broadcast`` when Catalyst's optimized-plan size estimate
  of the right side is at most ``AUTO_BROADCAST_BYTES``, else
  ``union``. Reading the estimate runs no job; a source with no
  statistics reports an unknown (huge) size and gets ``union``.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hipipe_spark.operators.temporal import ts_seconds

# broadcast packs per-key struct arrays of every value column, so the
# gate is on bytes, not rows (cf. "To Partition, or Not to Partition",
# SIGMOD 2021: pick broadcast vs partitioned join by build-side size)
AUTO_BROADCAST_BYTES = 256 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate in bytes; no job runs.
    Parquet scans report file size scaled by projection; sources with
    no statistics (e.g. ``createDataFrame`` from a Python list) report
    Long.MaxValue."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | Sequence[str] = "conv_id",
    strategy: str = "union",
    direction: str = "backward",
    allow_exact_matches: bool = True,
    tolerance_sec: int | None = None,
    value_cols: Sequence[str] | None = None,
    suffix: str = "",
    bucket_width_sec: int = 3600,
) -> DataFrame:
    """As-of join; see module docstring. ``value_cols`` defaults to all
    right columns except ``on``/``by``. Forward direction reads future
    rows — allowed for label construction, flagged in the name.
    ``bucket_width_sec`` is the time-slice width of ``"bucketed"``.
    """
    by = [by] if isinstance(by, str) else list(by)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in {on, *by}]
    if strategy == "auto":
        strategy = ("broadcast" if _plan_size_bytes(right) <= AUTO_BROADCAST_BYTES
                    else "union")
    if strategy == "union":
        return _asof_union(left, right, on, by, direction, allow_exact_matches,
                           tolerance_sec, value_cols, suffix)
    if strategy == "cogroup":
        return _asof_cogroup(left, right, on, by, direction, allow_exact_matches,
                             tolerance_sec, value_cols, suffix)
    if strategy == "broadcast":
        return _asof_broadcast(left, right, on, by, direction, allow_exact_matches,
                               tolerance_sec, value_cols, suffix)
    if strategy == "bucketed":
        return _asof_bucketed(left, right, on, by, direction, allow_exact_matches,
                              tolerance_sec, value_cols, suffix, bucket_width_sec)
    raise ValueError(f"unknown strategy {strategy!r}")


def asof_join_multi(
    left: DataFrame,
    rights: Sequence[tuple[DataFrame, str]] | dict[str, DataFrame],
    on: str = "ts",
    by: str | Sequence[str] = "conv_id",
    strategy: str = "union",
    direction: str = "backward",
    allow_exact_matches: bool = True,
    tolerance_sec: int | None = None,
) -> DataFrame:
    """Point-in-time enrichment from SEVERAL feature tables at once —
    the feature-store read path: one fact table, N feature tables, each
    merged as-of independently (a feature's staleness in one table
    never blocks a fresher value from another).

    ``rights`` is ``{suffix: df}`` (or ``[(df, suffix), ...]`` to pin
    order); each table's value columns land as ``<col><suffix>``.

    Composition note: with ``strategy="union"`` each table adds one
    union+window pass over the fact side keyed on the SAME ``by`` —
    Catalyst keeps the fact partitioning across passes (exchange reuse
    at equal keys), so N tables cost N window sorts but not N full
    re-partitions. With ``strategy="broadcast"`` and dimension-sized
    feature tables the fact side is never reshuffled at all: N packed
    broadcasts, one narrow map each — the shape to pick when the
    feature tables are per-conversation profiles and the fact side is
    the 10^12-row transcript."""
    items = list(rights.items()) if isinstance(rights, dict) else \
        [(sfx, df) for df, sfx in rights]
    out = left
    for sfx, right in items:
        out = asof_join(out, right, on=on, by=by, strategy=strategy,
                        direction=direction,
                        allow_exact_matches=allow_exact_matches,
                        tolerance_sec=tolerance_sec, suffix=sfx)
    return out


def asof_interpolate(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | Sequence[str] = "conv_id",
    value_cols: Sequence[str] | None = None,
    tolerance_sec: int | None = None,
    suffix: str = "_interp",
) -> DataFrame:
    """Time-weighted linear interpolation between the bracketing right
    rows: for each left row at ``ts``, find the latest right row at or
    before (``b``) and the earliest at or after (``f``) and emit
    ``b + (f - b) * (ts - ts_b) / (ts_f - ts_b)``. One-sided gaps hold
    the available endpoint; an exact hit returns it unchanged.

    **Leakage note**: the forward bracket reads rows with ``ts' > ts``.
    This is an OFFLINE gap-fill / label-construction operator (the
    slowly-varying-signal resample every training-set builder needs),
    never a serving-time feature — same contract as ``LagLead`` leads,
    and the ``_interp`` suffix keeps that visible (temporal.py frame
    rules; BASELINE.md "Temporal integrity").

    Plan shape = ``direction="nearest"``: ONE union + ONE hash exchange
    on ``by``, two partition-local window sorts (ts asc / desc), then
    pure column arithmetic — no join, no Python, whole-stage codegen
    end-to-end; hot conversations can pre-split with the bucketed
    recipe. ``tolerance_sec`` drops a bracket side farther than the
    cutoff (the other side then holds).

    ``value_cols`` must be numeric; outputs are DOUBLE.
    """
    by = [by] if isinstance(by, str) else list(by)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in {on, *by}]
    u = _tagged_union(left, right, on, by, value_cols, 0, as_double=True)
    out = _bracket(u, on, by, value_cols, _BOTH, is_right=F.col("__side") == 0)
    ts_l = ts_seconds(F.col(on))
    ts_b, ts_f = ts_seconds(F.col("__b_ts")), ts_seconds(F.col("__f_ts"))
    b_ok = F.col("__b_ts").isNotNull()
    f_ok = F.col("__f_ts").isNotNull()
    if tolerance_sec is not None:
        b_ok = b_ok & ((ts_l - ts_b) <= float(tolerance_sec))
        f_ok = f_ok & ((ts_f - ts_l) <= float(tolerance_sec))
    # CASE branches evaluate lazily: the division only runs on the
    # interior-gap branch where ts_f > ts_b (ANSI mode would otherwise
    # throw DIVIDE_BY_ZERO on exact hits)
    frac = (ts_l - ts_b) / (ts_f - ts_b)
    proj = []
    for c in value_cols:
        b_v, f_v = F.col(f"__b_{c}"), F.col(f"__f_{c}")
        proj.append(
            F.when(b_ok & f_ok & (F.col("__f_ts") > F.col("__b_ts")),
                   b_v + (f_v - b_v) * frac)
            .when(b_ok, b_v)
            .when(f_ok, f_v)
            .alias(f"{c}{suffix}")
        )
    return out.select(*[F.col(c) for c in left.columns], *proj)


def _tagged_union(left, right, on, by, value_cols, right_tag, as_double=False):
    """Left rows (``__side`` 1, NULL ``__r_<col>``) union right rows
    (``__side`` ``right_tag``, left columns NULL except ``on``/``by``,
    values in ``__r_<col>``). Tag 0 sorts right rows before left rows
    at equal ``on`` so exact matches are seen; tag 2 sorts them after
    (strict)."""
    lcols = left.columns
    l = left.select(
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast("double" if as_double else right.schema[c].dataType)
          .alias(f"__r_{c}") for c in value_cols],
        F.lit(1).alias("__side"),
    )
    r = right.select(
        *[
            (F.col(c) if c in {on, *by} else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in lcols
        ],
        *[(F.col(c).cast("double") if as_double else F.col(c)).alias(f"__r_{c}")
          for c in value_cols],
        F.lit(right_tag).alias("__side"),
    )
    return l.unionByName(r)


def _running(keys, on, direction):
    """Frame from the partition start to the current row of the tagged
    union, in ``on`` order (``backward``) or reverse order
    (``forward``), ties by side tag."""
    t = F.col(on) if direction == "backward" else F.col(on).desc()
    return (Window.partitionBy(*keys).orderBy(t, F.col("__side"))
            .rowsBetween(Window.unboundedPreceding, 0))


# (direction, value prefix, timestamp name) of the two-sided bracket
_BOTH = (("backward", "__b_", "__b_ts"), ("forward", "__f_", "__f_ts"))


def _bracket(u, on, by, value_cols, frames, is_right=None):
    """The left rows of tagged union ``u``, each carrying, per
    ``(direction, prefix, ts_name)`` frame, the last right row's values
    ``<prefix><col>`` and timestamp ``ts_name`` in that direction.
    ``is_right`` defaults to "not a left row"."""
    if is_right is None:
        is_right = F.col("__side") != 1
    wins = [(_running(by, on, d), p, t) for d, p, t in frames]
    fill = [F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(f"{p}{c}")
            for c in value_cols for w, p, _ in wins]
    ts = [F.last(F.when(is_right, F.col(on)), ignorenulls=True).over(w).alias(t)
          for w, _, t in wins]
    return u.select("*", *fill, *ts).filter(F.col("__side") == 1)


def _asof_union(left, right, on, by, direction, exact, tol, value_cols, suffix):
    if direction == "nearest":
        return _asof_union_nearest(left, right, on, by, exact, tol,
                                   value_cols, suffix)
    if direction not in ("backward", "forward"):
        raise ValueError(direction)
    u = _tagged_union(left, right, on, by, value_cols, 0 if exact else 2)
    out = _bracket(u, on, by, value_cols, [(direction, "__f_", "__match_ts")])
    if tol is not None:
        delta = F.abs(ts_seconds(F.col(on)) - ts_seconds(F.col("__match_ts")))
        within = F.col("__match_ts").isNotNull() & (delta <= tol)
        proj = [
            F.when(within, F.col(f"__f_{c}")).alias(f"{c}{suffix}") for c in value_cols
        ]
    else:
        proj = [F.col(f"__f_{c}").alias(f"{c}{suffix}") for c in value_cols]
    return out.select(*[F.col(c) for c in left.columns], *proj)


def _asof_union_nearest(left, right, on, by, exact, tol, value_cols, suffix):
    """``direction="nearest"``: one union, the backward and forward
    brackets over the same hash partition (one shuffle, two
    partition-local sorts). pandas semantics: tolerance filters each
    direction's candidate first, then the closer one wins; ties prefer
    backward (``pd.merge_asof`` behavior)."""
    u = _tagged_union(left, right, on, by, value_cols, 0 if exact else 2)
    out = _bracket(u, on, by, value_cols, _BOTH)
    ts_l = ts_seconds(F.col(on))
    db = ts_l - ts_seconds(F.col("__b_ts"))
    df_ = ts_seconds(F.col("__f_ts")) - ts_l
    b_ok = F.col("__b_ts").isNotNull()
    f_ok = F.col("__f_ts").isNotNull()
    if tol is not None:
        b_ok = b_ok & (db <= tol)
        f_ok = f_ok & (df_ <= tol)
    use_b = b_ok & (~f_ok | (db <= df_))
    proj = [
        F.when(use_b, F.col(f"__b_{c}"))
        .when(f_ok, F.col(f"__f_{c}"))
        .alias(f"{c}{suffix}")
        for c in value_cols
    ]
    return out.select(*[F.col(c) for c in left.columns], *proj)


# one cogroup (left rows + right rows for a key set) must fit a python
# worker; refuse loudly past this rather than OOM an executor (the
# salted_join / kendall_tau refuse-fast policy). ~100 bytes/row -> the
# default is ~2 GB of pandas frames.
MAX_COGROUP_ROWS = 20_000_000


def _asof_cogroup(left, right, on, by, direction, exact, tol, value_cols, suffix):
    lcols = left.columns
    out_fields = [left.schema[c] for c in lcols]
    out_schema_parts = [f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields]
    out_schema_parts += [
        f"`{c}{suffix}` {right.schema[c].dataType.simpleString()}" for c in value_cols
    ]
    schema = ", ".join(out_schema_parts)
    rsel = right.select(*by, on, *value_cols)
    tol_td = pd.Timedelta(seconds=tol) if tol is not None else None
    rename = {c: f"{c}{suffix}" for c in value_cols}

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) + len(rpdf) > MAX_COGROUP_ROWS:
            key = lpdf[list(by)].iloc[0].tolist() if len(lpdf) else "?"
            raise ValueError(
                f"asof cogroup for key {key} holds "
                f"{len(lpdf)}+{len(rpdf)} rows > MAX_COGROUP_ROWS "
                f"({MAX_COGROUP_ROWS}); use strategy='union' or "
                "'bucketed' for monster keys")
        lpdf = lpdf.sort_values(on, kind="mergesort")
        if rpdf.empty:
            for c in value_cols:
                lpdf[f"{c}{suffix}"] = None
            return lpdf
        rpdf = rpdf.sort_values(on, kind="mergesort").drop(columns=by)
        m = pd.merge_asof(
            lpdf, rpdf, on=on, direction=direction,
            allow_exact_matches=exact, tolerance=tol_td,
            suffixes=("", "__r"),
        )
        # merge_asof collides when a value col name already exists on the
        # left; normalize to the requested suffix.
        for c in value_cols:
            src = f"{c}__r" if f"{c}__r" in m.columns else c
            m[f"{c}{suffix}"] = m[src]
            if src != f"{c}{suffix}":
                m = m.drop(columns=[src])
        return m[[f.name for f in out_fields] + [f"{c}{suffix}" for c in value_cols]]

    return (
        left.groupBy(*by)
        .cogroup(rsel.groupBy(*by))
        .applyInPandas(merge, schema=schema)
    )


def _asof_broadcast(left, right, on, by, direction, exact, tol, value_cols, suffix):
    """Small right side: collapse it to one sorted struct-array per key,
    broadcast-join, binary-search with JVM-side array functions. No
    shuffle of the left side at all."""
    packed = (
        right.groupBy(*by)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(on).alias("t"), *[F.col(c) for c in value_cols]))
            ).alias("__events")
        )
    )
    joined = left.join(F.broadcast(packed), on=by, how="left")
    lt = F.col(on)

    def cand(d, idx):
        return F.try_element_at(
            F.filter(F.col("__events"), lambda e: _pred(e, lt, exact, d)),
            F.lit(idx),
        )

    def gate_tol(col):
        if tol is None:
            return col
        delta = F.abs(ts_seconds(col["t"]) - ts_seconds(lt))
        return F.when(delta <= tol, col)

    if direction == "nearest":
        # pandas semantics: tolerance-filter each direction first, then
        # the closer candidate wins; ties prefer backward
        joined = joined.withColumn("__b", gate_tol(cand("backward", -1)))
        joined = joined.withColumn("__f", gate_tol(cand("forward", 1)))
        db = ts_seconds(lt) - ts_seconds(F.col("__b.t"))
        df_ = ts_seconds(F.col("__f.t")) - ts_seconds(lt)
        use_b = F.col("__b").isNotNull() & (
            F.col("__f").isNull() | (db <= df_))
        joined = joined.withColumn(
            "__ev", F.when(use_b, F.col("__b")).otherwise(F.col("__f")))
    else:
        joined = joined.withColumn(
            "__ev", gate_tol(cand(direction, -1 if direction == "backward" else 1)))
    out_cols = [F.col(c) for c in left.columns] + [
        F.col(f"__ev.{c}").alias(f"{c}{suffix}") for c in value_cols
    ]
    return joined.select(*out_cols)


def _pred(e, lt, exact, direction):
    if direction == "backward":
        return (e["t"] <= lt) if exact else (e["t"] < lt)
    return (e["t"] >= lt) if exact else (e["t"] > lt)


def _asof_bucketed(left, right, on, by, direction, exact, tol, value_cols,
                   suffix, width):
    """Skew-proof backward as-of (module docstring). Three phases:

    1. carry table, tiny grain (by, bucket): the last right value in
       each bucket, then running-last over STRICTLY earlier buckets per
       key — the carry-in each bucket starts from. Always ts' < left ts
       (earlier bucket), so exact/strict doesn't matter for the carry.
    2. union both sides partitioned by (by, bucket) — a hot key splits
       into time slices; window last(ignorenulls) within the slice.
    3. result = within-bucket match, else carry-in; tolerance applied on
       the matched timestamp either way.
    """
    if direction != "backward":
        raise ValueError("bucketed strategy supports backward as-of only")
    sec = ts_seconds(F.col(on))
    bexpr = F.floor(sec / F.lit(float(width))).cast("long")
    lcols = left.columns
    rstruct = F.struct(F.col(on).alias("t"),
                       *[F.col(c).alias(c) for c in value_cols])

    r2 = right.select(*by, F.col(on), rstruct.alias("__r")).withColumn("__b", bexpr)
    # phase 1: per-bucket last right value (max of (t, values) struct —
    # struct ordering compares t first), then carry across buckets
    perb = r2.groupBy(*by, "__b").agg(F.max("__r").alias("__last"))
    lbuckets = left.select(*by, bexpr.alias("__b")).distinct()
    grid = lbuckets.unionByName(perb.select(*by, "__b")).distinct()
    grid = grid.join(perb, on=[*by, "__b"], how="left")
    wc = (
        Window.partitionBy(*by).orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = grid.select(
        *by, "__b", F.last("__last", ignorenulls=True).over(wc).alias("__carry")
    )

    # phase 2: tagged union within buckets; the right values ride in
    # ONE struct column so the in-bucket match and the carry share a type
    right_tag = 0 if exact else 2
    l = left.select(
        *[F.col(c) for c in lcols],
        F.lit(None).cast(r2.schema["__r"].dataType).alias("__r"),
        F.lit(1).alias("__side"),
    ).withColumn("__b", bexpr)
    r3 = r2.select(
        *[
            (F.col(c) if c in {on, *by} else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in lcols
        ],
        "__r",
        F.lit(right_tag).alias("__side"),
        "__b",
    )
    u = l.unionByName(r3)
    w = _running([*by, "__b"], on, "backward")
    u = u.withColumn("__inb", F.last("__r", ignorenulls=True).over(w)) \
         .filter(F.col("__side") == 1)

    # phase 3: stitch with carry (broadcast when small — Spark decides
    # via autoBroadcastJoinThreshold; grain is (key, bucket), tiny
    # relative to the fact side)
    out = u.join(carry, on=[*by, "__b"], how="left")
    match = F.coalesce(F.col("__inb"), F.col("__carry"))
    if tol is not None:
        delta = F.abs(sec - ts_seconds(match["t"]))
        match = F.when(delta <= tol, match)
    return out.select(
        *[F.col(c) for c in lcols],
        *[match[c].alias(f"{c}{suffix}") for c in value_cols],
    )
