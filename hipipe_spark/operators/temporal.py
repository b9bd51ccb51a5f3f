"""Keyed temporal feature operators: sessionize, lag/lead, backfill,
rolling aggregates — the Window-function layer of the engine.

hipipe has no window functions; its users implement these with mutable
stateful lambdas inside ``transform`` (the mutable-counter idiom,
reference ``test/core/stream/transform1.cpp:156-179``). The north rule
promotes them to first-class, leakage-safe operators.

**Temporal-leakage contract** (BASELINE.md "Temporal integrity"): every
feature frame must end at or before the current row. :class:`FrameSpec`
is the single place frames are constructed; it refuses frames that can
read ``ts' > ts``. Features needing strictly-past data end at ``-1``.

**Stable ordering contract**: every window orders by
``(ts, turn_idx)`` within ``conv_id`` — ties on ``ts`` are broken by
``turn_idx`` so results are byte-identical at any parallelism.

All operators are pure built-in ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from hipipe_spark.plans.pipeline import Stage

DEFAULT_KEY = "conv_id"
DEFAULT_ORDER = ("ts", "turn_idx")


class LeakageError(ValueError):
    """A frame would read rows with ts' > ts."""


def ts_seconds(col: Column) -> Column:
    """Epoch seconds (double, microsecond precision) from TIMESTAMP or
    TIMESTAMP_NTZ (NTZ can't cast to double directly; session tz is UTC
    so NTZ→TS is identity)."""
    return col.cast("timestamp").cast("double")


class FrameSpec:
    """Leakage-checked window frame factory.

    ``FrameSpec(lookback=10)`` → rows [-10, -1] (strictly past);
    ``FrameSpec(lookback=10, include_current=True)`` → rows [-10, 0].
    A positive ``end`` (future rows) raises :class:`LeakageError` unless
    ``allow_future=True`` is passed explicitly (e.g. for a *label*
    column, which is not a feature).
    """

    def __init__(
        self,
        lookback: int | None = None,
        include_current: bool = False,
        start: int | None = None,
        end: int | None = None,
        allow_future: bool = False,
    ):
        if start is None:
            start = Window.unboundedPreceding if lookback is None else -lookback
        if end is None:
            end = 0 if include_current else -1
        if end > 0 and not allow_future:
            raise LeakageError(
                f"frame end {end} reads future rows; pass allow_future=True "
                "only for label columns, never features"
            )
        self.start, self.end = start, end

    def over(self, key: str | Sequence[str] = DEFAULT_KEY,
             order: Sequence[str] = DEFAULT_ORDER) -> WindowSpec:
        keys = [key] if isinstance(key, str) else list(key)
        return (
            Window.partitionBy(*keys)
            .orderBy(*[F.col(c) for c in order])
            .rowsBetween(self.start, self.end)
        )


def ordered_window(key: str | Sequence[str] = DEFAULT_KEY,
                   order: Sequence[str] = DEFAULT_ORDER) -> WindowSpec:
    keys = [key] if isinstance(key, str) else list(key)
    return Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order])


class Sessionize(Stage):
    """Gap-based sessionization: a new session starts when the time since
    the previous turn exceeds ``gap``. Emits ``session_id`` (string,
    ``<conv_id>#<n>``) and ``session_seq`` (int, 0-based within conv).

    Composition of built-ins: lag(ts) → gap>threshold flag → running sum
    (the classic cumsum trick; hipipe users did this in a stateful
    ``transform(dim<0>)`` — reference §2.3).

    lag() reads the *previous* row only (ts' < ts): leakage-free.
    """

    def __init__(self, gap: str = "30 minutes", key: str = DEFAULT_KEY,
                 ts_col: str = "ts", order: Sequence[str] = DEFAULT_ORDER):
        super().__init__(f"sessionize({gap})")
        self.gap_sec = _interval_seconds(gap)
        self.key, self.ts_col, self.order = key, ts_col, order

    def apply(self, df: DataFrame) -> DataFrame:
        w = ordered_window(self.key, self.order)
        prev_ts = F.lag(F.col(self.ts_col)).over(w)
        # epoch double keeps sub-second precision (unix_timestamp truncates)
        gap = ts_seconds(F.col(self.ts_col)) - ts_seconds(prev_ts)
        new_sess = F.when(
            prev_ts.isNull() | (gap > float(self.gap_sec)), F.lit(1)
        ).otherwise(F.lit(0))
        df = df.withColumn(
            "session_seq",
            (F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1).cast("int"),
        )
        return df.withColumn(
            "session_id", F.concat(F.col(self.key), F.lit("#"), F.col("session_seq"))
        )


class LagLead(Stage):
    """lag/lead features over the stable per-conversation order.

    ``LagLead("role", lags=[1,2])`` → ``role_lag_1``, ``role_lag_2``.
    Leads read future rows — they are **labels**, not features, and are
    emitted with a ``_label`` suffix to keep the leakage contract visible.
    """

    def __init__(self, cols: str | Sequence[str], lags: Sequence[int] = (1,),
                 leads: Sequence[int] = (), key: str = DEFAULT_KEY,
                 order: Sequence[str] = DEFAULT_ORDER):
        self.cols = [cols] if isinstance(cols, str) else list(cols)
        super().__init__(f"lag_lead({','.join(self.cols)})")
        self.lags, self.leads = list(lags), list(leads)
        self.key, self.order = key, order

    def apply(self, df: DataFrame) -> DataFrame:
        w = ordered_window(self.key, self.order)
        for c in self.cols:
            for k in self.lags:
                df = df.withColumn(f"{c}_lag_{k}", F.lag(c, k).over(w))
            for k in self.leads:
                df = df.withColumn(f"{c}_lead_{k}_label", F.lead(c, k).over(w))
        return df


class TimeSincePrev(Stage):
    """Seconds since the previous turn (null on the first turn)."""

    def __init__(self, ts_col: str = "ts", out: str = "secs_since_prev",
                 key: str = DEFAULT_KEY, order: Sequence[str] = DEFAULT_ORDER):
        super().__init__("time_since_prev")
        self.ts_col, self.out, self.key, self.order = ts_col, out, key, order

    def apply(self, df: DataFrame) -> DataFrame:
        w = ordered_window(self.key, self.order)
        prev = F.lag(F.col(self.ts_col)).over(w)
        return df.withColumn(
            self.out,
            F.round(ts_seconds(F.col(self.ts_col)) - ts_seconds(prev), 6),
        )


class Backfill(Stage):
    """Sliding-window backfill: fill nulls (or a sentinel) with the most
    recent non-null value within ``lookback`` prior rows (None =
    unbounded). ``last(x, ignorenulls=True)`` over a bounded frame — the
    Spark-native analog of hipipe's pad+mask (reference ``pad.hpp:82-96``)
    read along time instead of along a batch.

    ``include_current=True`` (default) means the current row's own value
    wins when present — standard forward-fill. Frames never extend past
    row 0: leakage-free by construction (FrameSpec-checked).
    """

    def __init__(self, cols: str | Sequence[str], lookback: int | None = None,
                 sentinel=None, include_current: bool = True,
                 key: str = DEFAULT_KEY, order: Sequence[str] = DEFAULT_ORDER,
                 suffix: str = "_filled"):
        self.cols = [cols] if isinstance(cols, str) else list(cols)
        super().__init__(f"backfill({','.join(self.cols)})")
        self.frame = FrameSpec(lookback=lookback, include_current=include_current)
        self.sentinel = sentinel
        self.key, self.order, self.suffix = key, order, suffix

    def apply(self, df: DataFrame) -> DataFrame:
        w = self.frame.over(self.key, self.order)
        for c in self.cols:
            v = F.col(c)
            if self.sentinel is not None:
                v = F.when(v != F.lit(self.sentinel), v)  # sentinel → null
            df = df.withColumn(f"{c}{self.suffix}", F.last(v, ignorenulls=True).over(w))
        return df


class RollingAgg(Stage):
    """Rolling aggregate over the last ``lookback`` rows (strictly past by
    default — set ``include_current=True`` to include the current row).

    ``RollingAgg({"assistant_turns_10": (F.sum, when_assistant)}, 10)``
    style: values are (agg_fn, source Column) pairs.
    """

    def __init__(self, aggs: dict[str, tuple], lookback: int | None,
                 include_current: bool = False, key: str = DEFAULT_KEY,
                 order: Sequence[str] = DEFAULT_ORDER):
        super().__init__(f"rolling({','.join(aggs)})")
        self.aggs = aggs
        self.frame = FrameSpec(lookback=lookback, include_current=include_current)
        self.key, self.order = key, order

    def apply(self, df: DataFrame) -> DataFrame:
        w = self.frame.over(self.key, self.order)
        for out, (fn, col) in self.aggs.items():
            df = df.withColumn(out, fn(col).over(w))
        return df


class BucketedRollingAgg(Stage):
    """Skew-proof rolling aggregate for monster conversations.

    ``Window.partitionBy(conv_id)`` puts an entire conversation in one
    task — the one skew AQE cannot fix. When the per-key sequence index
    (``turn_idx``) is trusted as the canonical order (the input_hint
    guarantees turn order), a ROWS [-k, -1|0] frame can be computed in
    bounded partitions instead:

    1. bucket rows by ``turn_idx // bucket_size``;
    2. replicate each bucket's last ``k`` rows into the NEXT bucket as
       context rows (k ≤ bucket_size required);
    3. run the window within (key, bucket) — partitions are bounded by
       bucket_size + k rows regardless of conversation length;
    4. drop context rows.

    Exact same results as :class:`RollingAgg` (tested on the hot
    fixture); the shuffle key (key, bucket) splits hot conversations.

    Requires ``idx_col`` to be DENSE per key (0,1,2,... — the
    input_hint contract for turn_idx) and consistent with ``order``;
    apply before any row filtering.
    """

    def __init__(self, aggs: dict[str, tuple], lookback: int,
                 bucket_size: int = 4096, include_current: bool = False,
                 key: str = DEFAULT_KEY, idx_col: str = "turn_idx",
                 order: Sequence[str] = DEFAULT_ORDER):
        super().__init__(f"bucketed_rolling({','.join(aggs)})")
        if lookback > bucket_size:
            raise ValueError("lookback must be <= bucket_size")
        self.aggs, self.lookback, self.bucket_size = aggs, lookback, bucket_size
        self.include_current = include_current
        self.key, self.idx_col, self.order = key, idx_col, order

    def apply(self, df: DataFrame) -> DataFrame:
        end = 0 if self.include_current else -1

        def attach(u: DataFrame, w: WindowSpec) -> DataFrame:
            w = w.rowsBetween(-self.lookback, end)
            for out, (fn, col) in self.aggs.items():
                u = u.withColumn(out, fn(col).over(w))
            return u

        return _in_turn_buckets(df, attach, self.lookback, self.bucket_size,
                               self.key, self.idx_col, self.order)


def _in_turn_buckets(df: DataFrame,
                     attach: Callable[[DataFrame, WindowSpec], DataFrame],
                     lookback: int, bucket_size: int, key: str, idx_col: str,
                     order: Sequence[str]) -> DataFrame:
    """Run ``attach(rows, window)`` within (key, idx_col // bucket_size)
    partitions instead of whole keys: each bucket also receives the
    previous bucket's last ``lookback`` rows as context rows, so any
    frame reaching at most ``lookback`` rows back sees exactly what it
    would over the whole key; context rows are dropped afterwards.
    Partitions are bounded by bucket_size + lookback rows regardless
    of key length. ``window`` is partitioned by (key, bucket) and
    ordered by ``order``; ``idx_col`` must be dense per key (0,1,2,...)
    and consistent with ``order``."""
    B, k = bucket_size, lookback
    idx = F.col(idx_col)
    own = df.withColumn("__bkt", F.floor(idx / B).cast("long")) \
            .withColumn("__ctx", F.lit(False))
    # context rows: rows whose idx mod B >= B - k replicate into bucket+1
    ctx = (
        df.filter(F.pmod(idx, F.lit(B)) >= B - k)
        .withColumn("__bkt", F.floor(idx / B).cast("long") + 1)
        .withColumn("__ctx", F.lit(True))
    )
    out = attach(own.unionByName(ctx), ordered_window([key, "__bkt"], order))
    return out.filter(~F.col("__ctx")).drop("__bkt", "__ctx")


class DecayAgg(Stage):
    """Exponentially-decayed (recency-weighted) aggregate over the last
    ``lookback`` strictly-past rows — the EWMA-style feature every
    recommendation / abuse / engagement model wants ("activity in the
    recent past, recent turns weighted more").

    Two decay modes:

    - ``mode="time"``: weight of the row ``j`` turns back is
      ``exp(-(ts_now - ts_j) / tau_sec)`` — continuous time decay.
    - ``mode="rows"``: weight is ``alpha ** j`` — index-space decay.

    Emits ``<col>_decay_sum`` (sum of value*weight), ``decay_wsum``
    (sum of weights — shared across cols), and ``<col>_decay_mean``
    (ratio; null when no past rows).

    Implementation is ``lookback`` ``F.lag`` calls over ONE window spec
    (one sort) folded into plain column arithmetic — no UDF, no
    window-internal reference to the current row (which SQL window
    aggregates cannot express), fully whole-stage-codegen'd. The
    summation order is pinned (j=1..lookback, left-associated) so a
    SQL oracle writing the same explicit sum reproduces values
    bit-for-bit up to libm's exp. Bounded lookback keeps every
    exponent in [-(max gap)/tau, 0] — no overflow for any timestamp
    span, unlike the classic ``exp(t/tau)`` prefix-sum trick which
    dies past ~709*tau.

    hipipe users wrote this as a mutable-accumulator ``transform``
    (reference ``test/core/stream/transform1.cpp:156-179`` idiom); here
    it is a leakage-free declarative stage (strictly-past lags only).
    """

    def __init__(self, cols: str | Sequence[str], lookback: int = 10,
                 tau: str = "1 hour", alpha: float = 0.9,
                 mode: str = "time", ts_col: str = "ts",
                 key: str = DEFAULT_KEY, order: Sequence[str] = DEFAULT_ORDER,
                 bucket_size: int | None = None, idx_col: str = "turn_idx"):
        self.cols = [cols] if isinstance(cols, str) else list(cols)
        super().__init__(f"decay({','.join(self.cols)})")
        if mode not in ("time", "rows"):
            raise ValueError("mode must be 'time' or 'rows'")
        if lookback < 1 or lookback > 64:
            raise ValueError("lookback must be in [1, 64] (one lag column each)")
        if bucket_size is not None and lookback > bucket_size:
            raise ValueError("lookback must be <= bucket_size")
        self.lookback, self.mode = lookback, mode
        self.tau_sec, self.alpha = float(_interval_seconds(tau)), float(alpha)
        self.ts_col, self.key, self.order = ts_col, key, order
        self.bucket_size, self.idx_col = bucket_size, idx_col

    def _weight(self, j: int, w: WindowSpec) -> Column:
        """Weight of the row j turns back; NULL when that row does not
        exist (start of conversation) so per-term coalesce(., 0) keeps
        partial windows exact."""
        then = F.lag(F.col(self.ts_col), j).over(w)
        if self.mode == "rows":
            return F.when(then.isNotNull(), F.lit(self.alpha ** j))
        now = ts_seconds(F.col(self.ts_col))
        return F.exp(-(now - ts_seconds(then)) / F.lit(self.tau_sec))

    def apply(self, df: DataFrame) -> DataFrame:
        if self.bucket_size is not None:
            # skew-proof path for monster conversations (input_hint:
            # idx_col dense per key)
            return _in_turn_buckets(df, self._attach, self.lookback,
                                   self.bucket_size, self.key, self.idx_col,
                                   self.order)
        return self._attach(df, ordered_window(self.key, self.order))

    def _attach(self, df: DataFrame, w: WindowSpec) -> DataFrame:
        weights = [self._weight(j, w) for j in range(1, self.lookback + 1)]
        # left-associated explicit sums pin evaluation order for oracles
        wsum = F.coalesce(weights[0], F.lit(0.0))
        for wt in weights[1:]:
            wsum = wsum + F.coalesce(wt, F.lit(0.0))
        df = df.withColumn("decay_wsum", wsum)
        for c in self.cols:
            terms = [
                F.coalesce(weights[j - 1] * F.lag(F.col(c), j).over(w).cast("double"),
                           F.lit(0.0))
                for j in range(1, self.lookback + 1)
            ]
            s = terms[0]
            for t in terms[1:]:
                s = s + t
            df = df.withColumn(f"{c}_decay_sum", s)
            df = df.withColumn(
                f"{c}_decay_mean",
                F.when(F.col("decay_wsum") > 0.0,
                       F.col(f"{c}_decay_sum") / F.col("decay_wsum")),
            )
        return df


class CumulativeDistinct(Stage):
    """Number of distinct values of ``col`` seen so far in the
    conversation ("tools used so far", "distinct speakers so far").

    Exact, state-free trick: mark each value's FIRST occurrence row
    (``row_number() == 1`` over (key, col)), then running-sum the flags
    over the conversation order. A value was seen strictly before row r
    iff its first occurrence is strictly before r, so the strict frame
    [-inf, -1] gives "distinct among past rows" with no per-row set
    state — O(1) memory per row vs ``collect_set`` over a frame which
    is O(window) per row and melts on long conversations.

    Two hash exchanges — (key, col) then (key) — both bounded by input
    cardinality; no skew beyond what the conversation window already
    has. Nulls never count.
    """

    def __init__(self, cols: str | Sequence[str], include_current: bool = False,
                 key: str = DEFAULT_KEY, order: Sequence[str] = DEFAULT_ORDER,
                 suffix: str = "_distinct_sofar"):
        self.cols = [cols] if isinstance(cols, str) else list(cols)
        super().__init__(f"cum_distinct({','.join(self.cols)})")
        self.include_current = include_current
        self.key, self.order, self.suffix = key, order, suffix

    def apply(self, df: DataFrame) -> DataFrame:
        end = 0 if self.include_current else -1
        run = (
            Window.partitionBy(self.key)
            .orderBy(*[F.col(c) for c in self.order])
            .rowsBetween(Window.unboundedPreceding, end)
        )
        for c in self.cols:
            first_w = (
                Window.partitionBy(self.key, c)
                .orderBy(*[F.col(o) for o in self.order])
            )
            flag = F.when(
                F.col(c).isNotNull() & (F.row_number().over(first_w) == 1),
                F.lit(1),
            ).otherwise(F.lit(0))
            df = df.withColumn(
                f"{c}{self.suffix}",
                F.coalesce(F.sum(flag).over(run), F.lit(0)).cast("int"),
            )
        return df


class PriorSessionStats(Stage):
    """Per-turn features of the user's PREVIOUS session: how long it
    was, its mean of ``value_cols``, and seconds elapsed since it ended
    — the "returning user" features every engagement / retention model
    wants, with leakage safety by construction (a previous session is
    entirely in the past: gap-based sessionization guarantees every row
    of session ``k-1`` precedes every row of session ``k``).

    Requires a ``session_seq`` column (run :class:`Sessionize` first).

    Zero extra shuffle beyond the sessionize window: the previous
    session's rows are exactly the frame ``RANGE BETWEEN 1 PRECEDING
    AND 1 PRECEDING`` over ``ORDER BY session_seq`` within the
    conversation — no per-session aggregate table, no join back. Emits
    ``prev_session_n_turns`` (int, null when no prior session),
    ``prev_session_mean_<col>``, and ``secs_since_prev_session_end``.
    """

    def __init__(self, value_cols: str | Sequence[str] = (),
                 key: str = DEFAULT_KEY, ts_col: str = "ts",
                 seq_col: str = "session_seq"):
        cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
        super().__init__(f"prior_session({','.join(cols) or ts_col})")
        self.value_cols, self.key = cols, key
        self.ts_col, self.seq_col = ts_col, seq_col

    def apply(self, df: DataFrame) -> DataFrame:
        w = (
            Window.partitionBy(self.key)
            .orderBy(F.col(self.seq_col).cast("long"))
            .rangeBetween(-1, -1)
        )
        has_prev = F.col(self.seq_col) > 0
        df = df.withColumn(
            "prev_session_n_turns",
            F.when(has_prev, F.count(F.lit(1)).over(w).cast("int")),
        )
        prev_end = F.max(F.col(self.ts_col)).over(w)
        df = df.withColumn(
            "secs_since_prev_session_end",
            F.when(has_prev,
                   F.round(ts_seconds(F.col(self.ts_col)) - ts_seconds(prev_end), 6)),
        )
        for c in self.value_cols:
            df = df.withColumn(
                f"prev_session_mean_{c}",
                F.when(has_prev, F.avg(F.col(c).cast("double")).over(w)),
            )
        return df


class RollingQuantile(Stage):
    """Exact nearest-rank quantile over the last ``lookback``
    strictly-past rows (e.g. median response length of the previous 20
    turns). Definition: ``sorted(values)[ceil(q * n)]`` (1-based) —
    integer-exact on integer columns, so oracle comparisons are
    hash-stable with no float rounding.

    ``sort_array(collect_list(x)) over frame`` keeps the whole thing
    JVM-side; per-row cost is O(k log k) with k = lookback, memory
    O(k) — bounded regardless of conversation length. For large k
    prefer an approximate sketch; for feature lookbacks (k ≤ a few
    hundred) this is the exact, shuffle-free-beyond-the-window answer.
    """

    def __init__(self, cols: str | Sequence[str], q: float = 0.5,
                 lookback: int = 20, include_current: bool = False,
                 key: str = DEFAULT_KEY, order: Sequence[str] = DEFAULT_ORDER):
        self.cols = [cols] if isinstance(cols, str) else list(cols)
        super().__init__(f"rolling_q{q}({','.join(self.cols)})")
        if not 0.0 < q <= 1.0:
            raise ValueError("q must be in (0, 1]")
        self.q = q
        self.frame = FrameSpec(lookback=lookback, include_current=include_current)
        self.key, self.order = key, order

    def apply(self, df: DataFrame) -> DataFrame:
        w = self.frame.over(self.key, self.order)
        for c in self.cols:
            arr = F.sort_array(F.collect_list(F.col(c)).over(w))
            n = F.size(arr)
            idx = F.ceil(F.lit(self.q) * n).cast("int")
            df = df.withColumn(
                f"{c}_q{int(self.q * 100)}",
                F.when(n > 0, F.element_at(arr, idx)),
            )
        return df


def transition_matrix(df: DataFrame, col: str = "role",
                      key: str = DEFAULT_KEY,
                      order: Sequence[str] = DEFAULT_ORDER) -> DataFrame:
    """Corpus-level first-order Markov transition matrix over the
    per-conversation turn order: for every adjacent pair of turns,
    count (from → to) and the row-conditional probability
    ``p = n / Σ_to n`` — the turn-taking structure feature (who speaks
    after whom, how often a tool call follows an assistant turn) and a
    drift monitor for agent-behavior changes.

    Plan: one window pass (the same (key, order) sort every temporal
    stage shares — exchange reuse), then a groupBy on the tiny
    (from, to) grain with map-side partial aggregation, then a window
    over ``from`` on the already-tiny result. The only corpus-scale
    exchange is the conversation hash partition; output cardinality is
    |values|² regardless of input size.

    Emits (from_<col>, to_<col>, n, p) sorted nowhere — order belongs
    to the caller.
    """
    w = ordered_window(key, order)
    prev = F.lag(F.col(col)).over(w)
    pairs = (
        df.select(prev.alias(f"from_{col}"), F.col(col).alias(f"to_{col}"))
        .filter(F.col(f"from_{col}").isNotNull())
        .groupBy(f"from_{col}", f"to_{col}")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy(f"from_{col}")
    return pairs.withColumn(
        "p", F.round(F.col("n") / F.sum("n").over(wp), 6)
    )


def time_grid_resample(df: DataFrame, step: str = "15 minutes",
                       cols: Sequence[str] | None = None,
                       key: str = DEFAULT_KEY, ts_col: str = "ts",
                       strategy: str = "union") -> DataFrame:
    """Resample each conversation onto a regular time grid: one row per
    ``step`` from its first to its last turn, carrying the as-of
    (backward) values of ``cols`` — hipipe's ``rebatch`` re-read along
    the time axis (reference ``stream/rebatch.hpp:151-162`` regroups
    fixed-size batches; here the fixed size is wall-clock), and the
    standard irregular→regular conversion before any fixed-rate model.

    Plan: one groupBy(key) min/max aggregate (map-side combined, tiny
    output), a generator explode of ``sequence(t0, t1, step)`` — grid
    rows are produced distributed, never on the driver — then one
    :func:`~hipipe_spark.operators.asof.asof_join` with the chosen
    strategy (union = one exchange of grid+turns; hot conversations
    follow the as-of module's bucketed recipe). Grid density is the
    caller's lever: rows ≈ Σ span/step per conversation.

    Every grid value is the latest turn at or before the grid instant:
    leakage-free by construction.
    """
    from hipipe_spark.operators.asof import asof_join

    if cols is None:
        cols = [c for c in df.columns if c not in {key, ts_col}]
    step_sec = _interval_seconds(step)
    spans = df.groupBy(key).agg(
        F.min(ts_col).alias("__t0"), F.max(ts_col).alias("__t1")
    )
    grid = spans.select(
        key,
        F.explode(
            F.sequence(F.col("__t0"), F.col("__t1"),
                       F.expr(f"INTERVAL {step_sec} SECOND"))
        ).alias(ts_col),
    )
    return asof_join(grid, df.select(key, ts_col, *cols), on=ts_col,
                     by=key, strategy=strategy)


def _interval_seconds(text: str) -> int:
    """Parse '30 minutes' / '45s' / '2 hours' into seconds."""
    parts = text.strip().split()
    if len(parts) == 1:
        num = "".join(ch for ch in parts[0] if ch.isdigit() or ch == ".")
        unit = parts[0][len(num):] or "s"
    else:
        num, unit = parts[0], parts[1]
    mult = {"s": 1, "sec": 1, "second": 1, "seconds": 1,
            "m": 60, "min": 60, "minute": 60, "minutes": 60,
            "h": 3600, "hour": 3600, "hours": 3600,
            "d": 86400, "day": 86400, "days": 86400}[unit.lower()]
    return int(float(num) * mult)


def rolling_quantile(df: DataFrame, value, q: float = 0.5, n: int = 5,
                     key: str = DEFAULT_KEY,
                     order: Sequence[str] = DEFAULT_ORDER,
                     out: str = "roll_q",
                     round_to: int | None = None) -> DataFrame:
    """Exact rolling quantile over the last ``n`` rows per key (the
    robust sibling of the rolling mean — a rolling MEDIAN shrugs off
    the one 10-minute gap that wrecks an average): sort the window's
    values and linearly interpolate at ``q`` (the ``percentile_cont``
    / numpy-linear rule). Nulls are skipped (quantile of the non-null
    subset); an all-null window yields null.

    Spark has no native windowed percentile, so the window's values
    ride as a ``collect_list`` ROWS frame — O(n log n) JVM array sort
    per row, bounded by the CONSTANT ``n``, never by conversation or
    corpus size. One window exchange on the key, same as
    :class:`Rolling`; no UDF. For corpus-level quantiles use the
    mergeable ``percentile_approx`` sketch instead — this operator is
    for per-entity local context at bounded ``n``.
    """
    x = (F.col(value) if isinstance(value, str) else value).cast("double")
    w = (ordered_window(key, order).rowsBetween(-(n - 1), 0))
    arr = F.array_sort(F.collect_list(x).over(w))
    sz = F.size(arr)
    h = (sz - 1).cast("double") * F.lit(float(q))
    lo = F.floor(h).cast("int")
    frac = h - lo.cast("double")
    lo_v = F.element_at(arr, lo + 1)
    hi_v = F.element_at(arr, F.least(lo + F.lit(2), sz))
    res = F.when(sz > 0, lo_v + frac * (hi_v - lo_v))
    if round_to is not None:
        res = F.round(res, round_to)
    return df.withColumn(out, res)


def rolling_slope(df: DataFrame, y, n: int = 8,
                  x: str = "turn_idx",
                  key: str = DEFAULT_KEY,
                  order: Sequence[str] = DEFAULT_ORDER,
                  out: str = "roll_slope",
                  round_to: int | None = None) -> DataFrame:
    """Trailing-window OLS trend: the least-squares slope of ``y``
    against ``x`` over the last ``n`` rows per key — "is this
    conversation's reply length ramping up or cooling off?" as a
    single number per turn.

    Closed form over window sums (one frame, five aggregates, zero
    extra passes)::

        slope = (m*Sxy - Sx*Sy) / (m*Sxx - Sx^2)

    with m the in-frame row count. A window narrower than 2 rows or
    with constant ``x`` has no defined trend and yields NULL (the
    guard also keeps Spark 4's ANSI mode from throwing on the zero
    denominator). Default ``x`` is ``turn_idx`` deliberately: small
    exact integers keep every sum exactly representable in a double,
    so the result is bit-stable across engines and partitionings —
    raw epoch-seconds x would put Sxx near 1e19 and lose the
    subtraction to cancellation. For a seconds-based trend, pass a
    conversation-relative x (e.g. seconds since the conv's first
    turn).

    Same scale shape as :class:`RollingAgg`: one exchange+sort on the
    key, all five sums computed in one window frame, bounded state.
    """
    xv = (F.col(x) if isinstance(x, str) else x).cast("double")
    yv = (F.col(y) if isinstance(y, str) else y).cast("double")
    w = ordered_window(key, order).rowsBetween(-(n - 1), 0)
    pair_ok = xv.isNotNull() & yv.isNotNull()
    xe = F.when(pair_ok, xv)
    ye = F.when(pair_ok, yv)
    m = F.count(xe).over(w).cast("double")
    sx = F.sum(xe).over(w)
    sy = F.sum(ye).over(w)
    sxx = F.sum(xe * xe).over(w)
    sxy = F.sum(xe * ye).over(w)
    denom = m * sxx - sx * sx
    res = F.when((m >= 2) & (denom != 0),
                 (m * sxy - sx * sy) / denom)
    if round_to is not None:
        res = F.round(res, round_to)
    return df.withColumn(out, res)


def seasonal_decompose(df: DataFrame, t_col: str, value: str,
                       period: int = 24) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    detrend of STL's ancestor, Macaulay 1931): ``value = trend +
    seasonal + residual`` over a DENSE integer time index ``t_col``.

    - trend: centered moving average — plain ``period``-point MA for
      odd periods, the 2×m half-weighted-endpoint MA for even ones —
      null at the edges (window must be complete);
    - seasonal: per-phase (``t % period``) mean of the detrended
      series, centered to sum to zero across phases;
    - residual: what's left where trend is defined.

    Scale shape: the input here is a SERIES — the aggregate of the
    raw data (e.g. hourly counts of a 100-TB event log), thousands of
    rows, not the log itself. The windows therefore run on a
    dimension-sized frame; the one unpartitioned sort is over the
    series length. Callers decompose per entity by grouping upstream
    and adding the entity to every window's partition.

    Output: ``t_col, value (double), trend, seasonal, resid``
    (doubles rounded 6), ordered by ``t_col``.
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    w_ord = Window.orderBy(t_col)
    h = period // 2
    win = w_ord.rowsBetween(-h, h)
    v = F.col(value).cast("double")
    if period % 2 == 0:
        # 2×m MA: half weight on both endpoints, full on the interior
        full = F.sum(v).over(win)
        lo = F.first(v).over(win)
        hi = F.last(v).over(win)
        trend_raw = (full - 0.5 * lo - 0.5 * hi) / F.lit(float(period))
        need = period + 1
    else:
        trend_raw = F.sum(v).over(win) / F.lit(float(period))
        need = period
    trend = F.when(F.count(v).over(win) == need, trend_raw)
    base = df.select(F.col(t_col), v.alias("__v"),
                     trend.alias("__trend"),
                     F.pmod(F.col(t_col).cast("bigint"),
                            F.lit(period)).alias("__phase"))
    det = F.col("__v") - F.col("__trend")
    # phase table: PERIOD rows; centered so seasonal sums to 0 across
    # one period (unweighted across phases, the classical convention)
    phases = base.groupBy("__phase").agg(F.avg(det).alias("__ph"))
    center = phases.agg(F.avg("__ph").alias("__c"))
    phases = phases.crossJoin(F.broadcast(center)).select(
        "__phase", (F.col("__ph") - F.col("__c")).alias("__seasonal"))
    out = base.join(F.broadcast(phases), "__phase").select(
        t_col,
        F.round(F.col("__v"), 6).alias(value),
        F.round(F.col("__trend"), 6).alias("trend"),
        F.round(F.col("__seasonal"), 6).alias("seasonal"),
        F.round(F.col("__v") - F.col("__trend") - F.col("__seasonal"),
                6).alias("resid"))
    return out.orderBy(t_col)


def lttb_downsample(df: DataFrame, t_col: str, value: str,
                    n_out: int = 100) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013)
    of a numeric series to ``n_out`` visually-representative points —
    the standard way to ship a 10⁹-point metric series to a 2,000-px
    dashboard without losing its spikes.

    This is the FIXED-ANCHOR parallel variant: classic LTTB anchors
    each bucket's triangle on the PREVIOUSLY CHOSEN point (a
    sequential chain); anchoring on the neighbor buckets' mean points
    instead makes every bucket's argmax independent — one index
    window, one mean aggregate, two broadcast-sized joins, one
    per-bucket argmax window, no sequential pass. Steinarsson's
    thesis (§4.2) measures the two variants as visually equivalent.

    First and last points are always kept (buckets 0 and n_out−1).
    Deterministic tie-break: larger area first, then earlier t. If
    the series has ≤ ``n_out`` points it is returned whole. The
    global index sort runs on the SERIES — the dimension-sized
    aggregate of the raw data, same contract as
    :func:`seasonal_decompose`.

    Output: ``t_col, value (double), bucket (int)``, ordered by t.
    """
    if n_out < 3:
        raise ValueError("n_out must be >= 3")
    t = F.col(t_col)
    v = F.col(value).cast("double")
    n_df = df.agg(F.count("*").alias("__n"))
    base = (df.select(t, v.alias("__v"))
            .crossJoin(F.broadcast(n_df))
            .withColumn("__i", F.row_number().over(Window.orderBy(t_col))))
    nn = F.col("__n")
    bucket = (F.when(F.col("__i") == 1, F.lit(0))
              .when(F.col("__i") == nn, F.lit(n_out - 1))
              .otherwise(1 + F.floor((F.col("__i") - 2)
                                     * (n_out - 2)
                                     / (nn - 2)).cast("int")))
    small = base.where(nn <= n_out).select(
        t_col, F.round(F.col("__v"), 6).alias(value),
        (F.col("__i") - 1).cast("int").alias("bucket"))
    pts = (base.where(nn > n_out)
           .withColumn("__b", bucket.cast("int")))
    means = (pts.groupBy("__b")
             .agg(F.avg(t.cast("double")).alias("mt"),
                  F.avg("__v").alias("mv")))
    prev_m = means.select((F.col("__b") + 1).alias("__b"),
                          F.col("mt").alias("pt"),
                          F.col("mv").alias("pv"))
    next_m = means.select((F.col("__b") - 1).alias("__b"),
                          F.col("mt").alias("nt"),
                          F.col("mv").alias("nv"))
    cand = (pts.join(F.broadcast(prev_m), "__b", "left")
            .join(F.broadcast(next_m), "__b", "left"))
    area = F.abs((F.col("pt") - F.col("nt"))
                 * (F.col("__v") - F.col("pv"))
                 - (F.col("pt") - t.cast("double"))
                 * (F.col("nv") - F.col("pv")))
    # endpoint buckets have no neighbor mean: keep their single point
    score = F.when(F.col("pt").isNull() | F.col("nt").isNull(),
                   F.lit(0.0)).otherwise(area)
    w = Window.partitionBy("__b").orderBy(F.desc("__sc"), t_col)
    picked = (cand.withColumn("__sc", F.round(score, 6))
              .withColumn("__rk", F.row_number().over(w))
              .where(F.col("__rk") == 1))
    big = picked.select(t_col, F.round(F.col("__v"), 6).alias(value),
                        F.col("__b").alias("bucket"))
    return small.unionByName(big).orderBy(t_col)


def forecast_eval(df: DataFrame, t_col: str, value: str,
                  season: int = 24) -> DataFrame:
    """Forecast-baseline backtest over a series: score the NAIVE
    (carry last value) and SEASONAL-NAIVE (carry value from one
    season ago) one-step forecasts with MAE / RMSE / sMAPE / MASE —
    the sanity floor every fancy forecaster must beat (Hyndman's
    M-competition discipline; MASE = MAE / MAE_naive, so naive
    scores exactly 1 by construction).

    Both methods are scored on the COMMON support (rows where the
    seasonal lag exists) so the comparison is fair. The input is a
    dimension-sized SERIES (same contract as
    :func:`seasonal_decompose`); two lag windows share one sort, the
    metrics fold in ONE aggregate.

    Output: two rows — ``method ('naive'|'seasonal_naive'), n
    (bigint), mae, rmse, smape, mase`` (doubles rounded 6).
    """
    if season < 1:
        raise ValueError("season must be >= 1")
    w = Window.orderBy(t_col)
    v = F.col(value).cast("double")
    base = (df.select(F.col(t_col), v.alias("__v"),
                      F.lag(v, 1).over(w).alias("__f1"),
                      F.lag(v, season).over(w).alias("__fs"))
            .where(F.col("__fs").isNotNull()
                   & F.col("__f1").isNotNull()))

    def err(f):
        e = F.col("__v") - F.col(f)
        den = F.abs(F.col("__v")) + F.abs(F.col(f))
        sm = F.when(den > 0, 2.0 * F.abs(e) / den).otherwise(F.lit(0.0))
        return [F.sum(F.abs(e)), F.sum(e * e), F.sum(sm)]

    a1 = err("__f1")
    a2 = err("__fs")
    agg = base.agg(F.count("*").alias("n"),
                   a1[0].alias("ae1"), a1[1].alias("se1"),
                   a1[2].alias("sm1"),
                   a2[0].alias("ae2"), a2[1].alias("se2"),
                   a2[2].alias("sm2"))
    n = F.col("n").cast("double")
    mae1, mae2 = F.col("ae1") / n, F.col("ae2") / n
    rows = F.explode(F.array(
        F.struct(F.lit("naive").alias("method"),
                 F.round(mae1, 6).alias("mae"),
                 F.round(F.sqrt(F.col("se1") / n), 6).alias("rmse"),
                 F.round(F.col("sm1") / n, 6).alias("smape"),
                 F.round(mae1 / mae1, 6).alias("mase")),
        F.struct(F.lit("seasonal_naive").alias("method"),
                 F.round(mae2, 6).alias("mae"),
                 F.round(F.sqrt(F.col("se2") / n), 6).alias("rmse"),
                 F.round(F.col("sm2") / n, 6).alias("smape"),
                 F.round(mae2 / mae1, 6).alias("mase")))).alias("r")
    return (agg.select(F.col("n").cast("bigint").alias("n"), rows)
            .select(F.col("r.method").alias("method"), "n",
                    F.col("r.mae").alias("mae"),
                    F.col("r.rmse").alias("rmse"),
                    F.col("r.smape").alias("smape"),
                    F.col("r.mase").alias("mase"))
            .orderBy("method"))


def acf_ljung_box(df: DataFrame, t_col: str, value: str,
                  max_lag: int = 10) -> DataFrame:
    """Autocorrelation function to ``max_lag`` plus the cumulative
    Ljung–Box portmanteau test — "is this series white noise?" — the
    residual diagnostic run after :func:`seasonal_decompose` or any
    forecaster.

    - ``r_k = Σ (v_t−v̄)(v_{t−k}−v̄) / Σ (v_t−v̄)²`` (v̄ ROUNDED
      before differencing — the rounded handoff, so both engines
      difference with the same constant);
    - ``Q_k = n(n+2) Σ_{j≤k} r_j²/(n−j)`` from the ROUNDED r_j —
      integer-plus-6dp inputs make Q bit-identical cross-engine;
    - p via the Wilson–Hilferty cube-root normal approximation of
      the χ²_k upper tail, Bowling-logistic Φ (same expression in
      the oracle).

    The input is a dimension-sized SERIES (same contract as
    :func:`seasonal_decompose`): all ``max_lag`` lag columns share
    ONE sort window; the test statistics fold on a max_lag-row frame.

    Output: ``lag (int), r (double), q_stat, p_value (doubles,
    rounded 6)``, ordered by lag.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    stats0 = df.agg(F.round(F.avg(F.col(value).cast("double")), 6)
                    .alias("__mu"))
    w = Window.orderBy(t_col)
    dev = F.col(value).cast("double") - F.col("__mu")
    base = (df.crossJoin(F.broadcast(stats0))
            .select(F.col(t_col), dev.alias("__d")))
    lagged = base.select(
        "__d", *[F.lag("__d", k).over(w).alias(f"__l{k}")
                 for k in range(1, max_lag + 1)])
    agg = lagged.agg(
        F.count("*").alias("n"),
        F.sum(F.col("__d") * F.col("__d")).alias("den"),
        *[F.sum(F.col("__d") * F.col(f"__l{k}")).alias(f"num{k}")
          for k in range(1, max_lag + 1)])
    rows = F.explode(F.array(*[
        F.struct(F.lit(k).alias("lag"),
                 F.round(F.col(f"num{k}") / F.col("den"), 6)
                  .alias("r"))
        for k in range(1, max_lag + 1)])).alias("x")
    per = (agg.select("n", rows)
           .select(F.col("n"), F.col("x.lag").alias("lag"),
                   F.col("x.r").alias("r")))
    wq = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    n = F.col("n").cast("double")
    q = (n * (n + 2)
         * F.sum(F.col("r") * F.col("r") / (n - F.col("lag"))).over(wq))
    per2 = per.select("lag", "r", F.round(q, 6).alias("q_stat"))
    # Wilson–Hilferty: χ²_k upper tail ≈ 1 − Φ(z),
    # z = ((Q/k)^⅓ − (1 − 2/(9k))) / sqrt(2/(9k))
    k = F.col("lag").cast("double")
    z = ((F.pow(F.col("q_stat") / k, 1.0 / 3.0)
          - (1.0 - 2.0 / (9.0 * k)))
         / F.sqrt(2.0 / (9.0 * k)))
    p = 1.0 / (1.0 + F.exp(0.07056 * z * z * z + 1.5976 * z))
    return (per2.select("lag", "r", "q_stat",
                        F.round(p, 6).alias("p_value"))
            .orderBy("lag"))


def seasonal_anomalies(df: DataFrame, t_col: str, value: str,
                       period: int = 24, k: float = 3.5) -> DataFrame:
    """Seasonal-hybrid anomaly detection (the S-H-ESD idea reduced to
    its robust core): remove trend + seasonality via
    :func:`seasonal_decompose`, then flag residuals beyond ``k``
    robust sigmas — ``|resid − median| > k · 1.4826 · MAD`` — so a
    level shift or a daily cycle never masquerades as an anomaly and
    the threshold itself is outlier-proof (median/MAD, not mean/sd).

    median and MAD are ROUNDED before thresholding (the rounded
    handoff); rows where trend is undefined (series edges) are
    excluded. Same dimension-sized-series contract as the decompose.

    Output: ``t_col, value, resid (doubles), anomaly (boolean)``
    ordered by t — the full series with flags, so downstream can
    windowed-join anomalies back to raw events.
    """
    dec = seasonal_decompose(df, t_col, value, period=period)
    base = dec.where(F.col("resid").isNotNull())
    med = base.agg(
        F.round(F.percentile(F.col("resid"), 0.5), 6).alias("__med"))
    with_med = base.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.round(F.percentile(
            F.abs(F.col("resid") - F.col("__med")), 0.5), 6)
        .alias("__mad"),
        F.first("__med").alias("__med2"))
    flagged = (base.crossJoin(F.broadcast(mad))
               .select(F.col(t_col), F.col(value), F.col("resid"),
                       (F.abs(F.col("resid") - F.col("__med2"))
                        > F.lit(float(k)) * 1.4826 * F.col("__mad"))
                       .alias("anomaly")))
    return flagged.orderBy(t_col)


def seq_patterns(df: DataFrame, key: str, token: str,
                 order: Sequence[str], n: int = 3,
                 min_support: int = 2, top_k: int = 25) -> DataFrame:
    """Frequent length-``n`` sequential patterns of ``token`` per
    ``key`` stream — the contiguous-n-gram tier of sequence mining
    (PrefixSpan's gapped patterns cost a combinatorial search; for
    journey analytics the contiguous patterns carry most of the
    signal at a lag-window price). Support = DISTINCT keys containing
    the pattern; ``occurrences`` counts every instance.

    One lag window per key (all n−1 lags share the sort; row_number
    rides the same window), one (pattern)-keyed aggregate. Output:
    token columns ``t1..tn``, ``occurrences (bigint)``, ``support
    (bigint)``, filtered to ``support ≥ min_support``, top_k by
    (support desc, occurrences desc, t1..tn asc).

    The window-full test is positional (``row_number() >= n``), NOT
    ``t1 IS NOT NULL``: a null token in the leading lag position must
    not silently drop the gram while interior nulls keep it (ADVICE
    r3). Null tokens inside a full window are legitimate pattern
    members (they group as SQL GROUP BY nulls).
    """
    if n < 2:
        raise ValueError("n must be >= 2")
    w = Window.partitionBy(key).orderBy(*order)
    cols = [F.lag(F.col(token), n - 1 - i).over(w).alias(f"t{i + 1}")
            for i in range(n - 1)] + [F.col(token).alias(f"t{n}")]
    grams = (df.select(F.col(key).alias("__k"),
                       F.row_number().over(w).alias("__rn"), *cols)
             .where(F.col("__rn") >= n))
    agg = (grams.groupBy(*[f"t{i + 1}" for i in range(n)])
           .agg(F.count("*").alias("occurrences"),
                F.countDistinct("__k").alias("support"))
           .where(F.col("support") >= min_support))
    return (agg.select(*[f"t{i + 1}" for i in range(n)],
                       F.col("occurrences").cast("bigint")
                        .alias("occurrences"),
                       F.col("support").cast("bigint").alias("support"))
            .orderBy(F.col("support").desc(),
                     F.col("occurrences").desc(),
                     *[F.col(f"t{i + 1}").asc() for i in range(n)])
            .limit(top_k))


def ccf(df: DataFrame, t_col: str, a_col: str, b_col: str,
        max_lag: int = 12) -> DataFrame:
    """Cross-correlation function between two aligned series — the
    lead–lag discovery tool: ``r(k) = Σ(a_t−ā)(b_{t−k}−b̄) /
    √(Σ(a−ā)²·Σ(b−b̄)²)`` for k ∈ [−max_lag, max_lag]. A peak at
    k>0 means **b leads a** by k steps (views at t−k correlate with
    purchases at t); k<0 means a leads b.

    Means are ROUNDED before differencing (rounded handoff); all
    2·max_lag+1 shift columns share ONE sort window; the correlations
    fold in one aggregate. Dimension-sized-series contract as
    :func:`acf_ljung_box`.

    Output: ``lag (int), n_pairs (bigint), r (double rounded 6)``,
    ordered by lag.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    mus = df.agg(
        F.round(F.avg(F.col(a_col).cast("double")), 6).alias("__ma"),
        F.round(F.avg(F.col(b_col).cast("double")), 6).alias("__mb"))
    w = Window.orderBy(t_col)
    base = (df.crossJoin(F.broadcast(mus))
            .select(F.col(t_col),
                    (F.col(a_col).cast("double") - F.col("__ma"))
                    .alias("__da"),
                    (F.col(b_col).cast("double") - F.col("__mb"))
                    .alias("__db")))
    ks = list(range(-max_lag, max_lag + 1))
    shifted = base.select(
        "__da", "__db",
        *[(F.lag("__db", k).over(w) if k >= 0
           else F.lead("__db", -k).over(w)).alias(f"__s{i}")
          for i, k in enumerate(ks)])
    agg = shifted.agg(
        F.sum(F.col("__da") * F.col("__da")).alias("va"),
        F.sum(F.col("__db") * F.col("__db")).alias("vb"),
        *[F.sum(F.col("__da") * F.col(f"__s{i}")).alias(f"c{i}")
          for i in range(len(ks))],
        *[F.count(F.col("__da") * F.col(f"__s{i}")).alias(f"n{i}")
          for i in range(len(ks))])
    rows = F.explode(F.array(*[
        F.struct(F.lit(k).alias("lag"),
                 F.col(f"n{i}").cast("bigint").alias("n_pairs"),
                 F.round(F.col(f"c{i}")
                         / F.sqrt(F.col("va") * F.col("vb")), 6)
                  .alias("r"))
        for i, k in enumerate(ks)])).alias("x")
    return (agg.select(rows)
            .select(F.col("x.lag").alias("lag"),
                    F.col("x.n_pairs").alias("n_pairs"),
                    F.col("x.r").alias("r"))
            .orderBy("lag"))


def knee_point(df: DataFrame, x_col: str, y_col: str,
               decreasing: bool = False) -> DataFrame:
    """Kneedle-lite knee/elbow detection (Satopää et al. 2011 reduced
    to its normalized-difference core): min-max normalize the curve,
    knee = the point maximizing ``y_norm − x_norm`` for the
    increasing-concave case (diminishing returns), or ``1 − x_norm −
    y_norm`` for the convex-decreasing elbow (``decreasing=True`` —
    loss/inertia curves). The tuning primitive behind "how many IVF
    probes / clusters / bins are enough" — run it ON the evaluation
    curve the other operators emit.

    One range aggregate + one argmax window on the CURVE — a
    dimension-sized frame by contract. Output: one row — ``x, y
    (doubles), score (double rounded 6)``; ties break on smaller x.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    rng = df.agg(F.round(F.min(x), 6).alias("__x0"),
                 F.round(F.max(x), 6).alias("__x1"),
                 F.round(F.min(y), 6).alias("__y0"),
                 F.round(F.max(y), 6).alias("__y1"))
    base = (df.crossJoin(F.broadcast(rng))
            .where((F.col("__x1") > F.col("__x0"))
                   & (F.col("__y1") > F.col("__y0"))))
    xn = (x - F.col("__x0")) / (F.col("__x1") - F.col("__x0"))
    yn = (y - F.col("__y0")) / (F.col("__y1") - F.col("__y0"))
    score = (1.0 - xn - yn) if decreasing else (yn - xn)
    staged = base.select(x.alias("x"), y.alias("y"),
                         F.round(score, 6).alias("score"))
    w = Window.orderBy(F.col("score").desc(), F.col("x").asc())
    return (staged.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") == 1).drop("__rk"))


def ewma_bounded(df: DataFrame, key: str, order: list[str],
                 value: str, alpha: float = 0.5, window: int = 8,
                 out_col: str = "ewma", ndigits: int = 6) -> DataFrame:
    """Per-``key`` exponentially weighted moving average over the
    last ``window`` observations (inclusive), normalized over the
    weights actually present::

        ewma_t = Σ_{j=0..W-1} (1−α)^j · x_{t−j}  /  Σ_{j} (1−α)^j

    The BOUNDED-window form is deliberate: the textbook recursive
    EWMA (`s_t = αx + (1−α)s_{t−1}`) is a sequential scan per key —
    unexpressible as a window aggregate without per-row state — while
    truncating at W lags makes it a fixed fan of ``lag`` expressions
    over ONE key-partitioned window (one exchange, the op's lower
    bound), loses at most ``(1−α)^W`` of the mass (0.4% at α=0.5,
    W=8), and is bit-reproducible in any SQL engine. The default
    α=0.5 gives exact binary-fraction weights, so the only float
    noise is the final division. Appends ``out_col`` plus
    ``{out_col}_n`` (observations actually in the window).
    """
    x = F.col(value).cast("double")
    w = Window.partitionBy(key).orderBy(*order)
    decay = 1.0 - alpha
    num = x
    den = F.lit(1.0)
    cnt = F.lit(1)
    for j in range(1, window):
        lj = F.lag(x, j).over(w)
        wt = F.lit(decay ** j)
        num = num + F.when(lj.isNotNull(), lj * wt).otherwise(F.lit(0.0))
        den = den + F.when(lj.isNotNull(), wt).otherwise(F.lit(0.0))
        cnt = cnt + F.when(lj.isNotNull(), 1).otherwise(0)
    return (df.withColumn(out_col, F.round(num / den, ndigits))
              .withColumn(f"{out_col}_n", cnt.cast("int")))


def pacf_table(df: DataFrame, t_col: str, value: str,
               max_lag: int = 5, ndigits: int = 6) -> DataFrame:
    """Partial autocorrelation function to ``max_lag`` via the
    Durbin–Levinson recursion UNROLLED into column expressions —
    the AR-order-selection companion of :func:`acf_ljung_box` (the
    PACF cuts off after lag p for an AR(p) process; the ACF only
    decays). Output ``lag, r, pacf`` ordered by lag.

    The recursion runs on the ONE-ROW frame of rounded ACF values::

        φ_{1,1} = r_1
        φ_{k,k} = (r_k − Σ_{j<k} φ_{k−1,j}·r_{k−j})
                  / (1 − Σ_{j<k} φ_{k−1,j}·r_j)
        φ_{k,j} = φ_{k−1,j} − φ_{k,k}·φ_{k−1,k−j}

    with every φ ROUNDED to 9 dp as it is assigned (the rounded-
    handoff rule made recursive: identical rounded inputs + identical
    IEEE operation order ⇒ bit-identical φ on any engine, which is
    what lets the oracle replay the same unrolled steps). A zero
    Levinson denominator (perfectly predictable series) yields null
    from that k on. Each step materializes as a named column via a
    ``select`` so expression trees stay linear in ``max_lag``.

    Plan: the ACF machinery's single sort window over the
    dimension-sized series, one aggregate, then scalar arithmetic on
    one row — the recursion costs nothing at any corpus size.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    acf = acf_ljung_box(df, t_col, value, max_lag)
    row = acf.groupBy().agg(*[
        F.max(F.when(F.col("lag") == k, F.col("r"))).alias(f"r{k}")
        for k in range(1, max_lag + 1)])
    # Durbin-Levinson, one select per assignment wave
    row = row.select("*", F.round(F.col("r1"), 9).alias("phi_1_1"))
    for k in range(2, max_lag + 1):
        num = F.col(f"r{k}")
        den = F.lit(1.0)
        for j in range(1, k):
            num = num - F.col(f"phi_{k-1}_{j}") * F.col(f"r{k-j}")
            den = den - F.col(f"phi_{k-1}_{j}") * F.col(f"r{j}")
        row = row.select(
            "*", F.round(F.when(den != 0, num / den), 9)
                  .alias(f"phi_{k}_{k}"))
        if k < max_lag:
            row = row.select("*", *[
                F.round(F.col(f"phi_{k-1}_{j}")
                        - F.col(f"phi_{k}_{k}") * F.col(f"phi_{k-1}_{k-j}"),
                        9).alias(f"phi_{k}_{j}")
                for j in range(1, k)])
    out = row.select(F.explode(F.array(*[
        F.struct(F.lit(k).alias("lag"),
                 F.col(f"r{k}").alias("r"),
                 F.round(F.col(f"phi_{k}_{k}"), ndigits).alias("pacf"))
        for k in range(1, max_lag + 1)])).alias("x"))
    return (out.select(F.col("x.lag").alias("lag"),
                       F.col("x.r").alias("r"),
                       F.col("x.pacf").alias("pacf"))
               .orderBy("lag"))


def event_runs(df: DataFrame, key: str, order: list[str], cat: str,
               loop_min: int = 3, ndigits: int = 6) -> DataFrame:
    """Per-``key`` run-length mining over a categorical sequence —
    the retry-loop / stuck-state detector for agent transcripts
    (consecutive identical tool calls) and event streams
    (repeated same-type events): ``n_rows, n_runs, max_run,
    top_cat, n_loops, loop_frac`` where a "run" is a maximal block
    of consecutive equal ``cat`` values in ``order``, ``top_cat`` is
    the category of the longest run (ties broken by MIN category —
    deterministic on any engine, unlike arg_max), ``n_loops`` counts
    runs of length ≥ ``loop_min`` and ``loop_frac`` is the fraction
    of rows inside such runs.

    Plan: one key-window ``lag`` flags run starts, a running sum
    over the same window assigns run ids (no second exchange — same
    partitioning), one aggregate to runs, one window + aggregate on
    the runs frame (bounded by run count ≤ row count; same key
    partitioning again).
    """
    w = Window.partitionBy(key).orderBy(*order)
    flagged = df.select(
        key, F.col(cat).alias("__cat"),
        F.when(F.lag(cat).over(w).isNull()
               | (F.lag(cat).over(w) != F.col(cat)), 1)
         .otherwise(0).alias("__new"),
        *order)
    flagged = flagged.withColumn(
        "__rid", F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    runs = flagged.groupBy(key, "__rid", "__cat").agg(
        F.count(F.lit(1)).cast("bigint").alias("__len"))
    wk = Window.partitionBy(key)
    runs = runs.withColumn("__mx", F.max("__len").over(wk))
    agg = runs.groupBy(key).agg(
        F.sum("__len").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.max("__len").alias("max_run"),
        F.min(F.when(F.col("__len") == F.col("__mx"), F.col("__cat")))
         .alias("top_cat"),
        F.sum(F.when(F.col("__len") >= loop_min, 1).otherwise(0))
         .cast("bigint").alias("n_loops"),
        F.sum(F.when(F.col("__len") >= loop_min, F.col("__len"))
               .otherwise(F.lit(0))).alias("__loop_rows"))
    return agg.select(
        key, F.col("n_rows").cast("bigint").alias("n_rows"),
        "n_runs", "max_run", "top_cat", "n_loops",
        F.round(F.col("__loop_rows").cast("double") / F.col("n_rows"),
                ndigits).alias("loop_frac"))


def hurst_rs(df: DataFrame, key: str, order: list[str], value: str,
             block_sizes: tuple[int, ...] = (8, 16, 32, 64),
             ndigits: int = 6) -> DataFrame:
    """Per-``key`` Hurst exponent by classical rescaled-range (R/S)
    analysis — the long-memory summary of a metric stream (H ≈ 0.5
    random walk increments, H > 0.5 persistent/trending, H < 0.5
    anti-persistent/mean-reverting)::

        per block of size m:  R = max−min of the cumulative
        deviations from the block mean,  S = population std,
        (R/S)_m = mean over complete blocks
        H = slope of log2(R/S) on log2(m)

    Output: ``key, n, h, r2`` plus one (``m``, ``rs``) diagnostic
    row per block size via ``m``/``rs`` columns (long format:
    ``kind`` = 'fit' row carries h/r2 with null m/rs; 'block' rows
    carry the curve) — one frame serves both the estimate and its
    diagnostic plot.

    Plan: ONE row_number window per key establishes the sequence
    (the key exchange); for each block size the block statistics
    reuse that frame with (key, block) windows — no further raw-row
    shuffle beyond the per-size (key, block) exchanges, each over
    the same narrow 3-column projection. The log-log slope is
    closed-form OLS on a ≤len(block_sizes)-row frame per key. All
    handoffs rounded (block R/S at 9 dp) so the oracle replays the
    identical arithmetic.
    """
    x = F.col(value).cast("double")
    w = Window.partitionBy(key).orderBy(*order)
    base = df.select(key, x.alias("__x"),
                     F.row_number().over(w).alias("__rn"))
    per_size = []
    for m in block_sizes:
        wb = Window.partitionBy(key, "__bid")
        wc = Window.partitionBy(key, "__bid").orderBy("__rn")
        blk = (base
               .withColumn("__bid", ((F.col("__rn") - 1) / m)
                           .cast("bigint"))
               .withColumn("__bm", F.avg("__x").over(wb))
               .withColumn("__cum",
                           F.sum(F.col("__x") - F.col("__bm")).over(
                               wc.rowsBetween(Window.unboundedPreceding,
                                              0))))
        stats = blk.groupBy(key, "__bid").agg(
            F.count(F.lit(1)).alias("__cnt"),
            (F.max("__cum") - F.min("__cum")).alias("__r"),
            F.stddev_pop("__x").alias("__s"))
        rs = (stats.where((F.col("__cnt") == m) & (F.col("__s") > 0))
              .groupBy(key)
              .agg(F.round(F.avg(F.col("__r") / F.col("__s")), 9)
                    .alias("rs"),
                   F.count(F.lit(1)).cast("bigint").alias("n_blocks"))
              .withColumn("m", F.lit(m).cast("int")))
        per_size.append(rs)
    curve = per_size[0]
    for p in per_size[1:]:
        curve = curve.unionByName(p)
    lx = F.log2(F.col("m").cast("double"))
    ly = F.log2(F.col("rs"))
    pts = curve.where(F.col("rs") > 0).select(
        key, "m", "rs", "n_blocks", lx.alias("__lx"), ly.alias("__ly"))
    fit = pts.groupBy(key).agg(
        F.count(F.lit(1)).cast("double").alias("__k"),
        F.sum("__lx").alias("__sx"), F.sum("__ly").alias("__sy"),
        F.sum(F.col("__lx") * F.col("__lx")).alias("__sxx"),
        F.sum(F.col("__lx") * F.col("__ly")).alias("__sxy"),
        F.sum(F.col("__ly") * F.col("__ly")).alias("__syy"))
    kk = F.col("__k")
    sxx = F.col("__sxx") - F.col("__sx") * F.col("__sx") / kk
    sxy = F.col("__sxy") - F.col("__sx") * F.col("__sy") / kk
    syy = F.col("__syy") - F.col("__sy") * F.col("__sy") / kk
    h = F.when((kk >= 2) & (sxx > 0), sxy / sxx)
    r2 = F.when((kk >= 2) & (sxx > 0) & (syy > 0),
                sxy * sxy / (sxx * syy))
    fit_rows = fit.select(
        key, F.lit("fit").alias("kind"),
        F.lit(None).cast("int").alias("m"),
        F.lit(None).cast("double").alias("rs"),
        F.lit(None).cast("bigint").alias("n_blocks"),
        F.round(h, ndigits).alias("h"),
        F.round(r2, ndigits).alias("r2"))
    blk_rows = pts.select(
        key, F.lit("block").alias("kind"), "m",
        F.round(F.col("rs"), ndigits).alias("rs"), "n_blocks",
        F.lit(None).cast("double").alias("h"),
        F.lit(None).cast("double").alias("r2"))
    return fit_rows.unionByName(blk_rows)


class Ewma(Stage):
    """Pipeline stage for :func:`ewma_bounded`: exponentially
    weighted smoothing of one or more metric columns over the stable
    per-conversation order, as ``{col}_ewma``. PAST-ONLY by
    construction (current row + preceding lags), so it is
    leakage-safe as a feature; shares the pipeline's one
    (key, order) window — composing it after LagLead/RollingAgg adds
    ZERO exchanges (pytest-pinned in test_pipeline_stages.py)."""

    def __init__(self, cols: str | Sequence[str], alpha: float = 0.5,
                 window: int = 8, key: str = DEFAULT_KEY,
                 order: Sequence[str] = DEFAULT_ORDER):
        self.cols = [cols] if isinstance(cols, str) else list(cols)
        super().__init__(f"ewma({','.join(self.cols)})")
        self.alpha, self.window = alpha, window
        self.key, self.order = key, order

    def apply(self, df: DataFrame) -> DataFrame:
        for c in self.cols:
            df = ewma_bounded(df, self.key, list(self.order), c,
                              alpha=self.alpha, window=self.window,
                              out_col=f"{c}_ewma")
            df = df.drop(f"{c}_ewma_n")
        return df


class Calendar(Stage):
    """Pipeline stage for
    :func:`~hipipe_spark.operators.features.calendar_features`:
    cyclical clock/calendar encodings of the turn timestamp — pure
    row-local expressions, zero exchanges, trivially leakage-safe
    (reads only the row's own ts)."""

    def __init__(self, ts_col: str = "ts"):
        super().__init__("calendar")
        self.ts_col = ts_col

    def apply(self, df: DataFrame) -> DataFrame:
        from hipipe_spark.operators.features import calendar_features
        return calendar_features(df, self.ts_col)
