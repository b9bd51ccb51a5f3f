"""As-of, interval and salted joins (operators/asof.py, joins.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from driver_queries import query
from driver_queries.testdata import asof_sides
from hipipe_spark.operators.asof import asof_interpolate, asof_join
from hipipe_spark.operators.joins import interval_join, salted_join
from hipipe_spark.operators.temporal import ts_seconds


# DuckDB twin of asof_sides(): odd event_ids probe, even ones carry val.
_ASOF_HALVES = """l AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 1),
       r AS (SELECT user_id, ts, round(value, 4) AS val FROM events WHERE event_id % 2 = 0)"""

_ASOF_ORACLE = f"""
  WITH {_ASOF_HALVES}
  SELECT l.event_id, l.user_id, l.ts, r.val
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


@query(oracle=_ASOF_ORACLE)
def q_asof_union(spark, sf_dir):
    left, right = asof_sides(spark, sf_dir)
    out = asof_join(left, right, on="ts", by="user_id", strategy="union")
    return out.select("event_id", "user_id", "ts", "val")


@query(oracle=_ASOF_ORACLE)
def q_asof_broadcast(spark, sf_dir):
    left, right = asof_sides(spark, sf_dir)
    out = asof_join(left, right, on="ts", by="user_id", strategy="broadcast")
    return out.select("event_id", "user_id", "ts", "val")


@query(oracle=_ASOF_ORACLE)
def q_asof_bucketed(spark, sf_dir):
    left, right = asof_sides(spark, sf_dir)
    out = asof_join(left, right, on="ts", by="user_id", strategy="bucketed",
                    bucket_width_sec=3600)
    return out.select("event_id", "user_id", "ts", "val")


@query(oracle=f"""
      WITH {_ASOF_HALVES}
      SELECT l.event_id, l.user_id, l.ts, r.val
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
    """)
def q_asof_forward(spark, sf_dir):
    """Forward as-of (label-construction direction: FIRST right row at
    or after each left ts) — oracled by DuckDB ASOF with the <= bound."""
    left, right = asof_sides(spark, sf_dir)
    out = asof_join(left, right, on="ts", by="user_id", strategy="union",
                    direction="forward")
    return out.select("event_id", "user_id", "ts", "val")


@query(oracle="""
      WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 1),
           r AS (SELECT user_id, ts FROM events WHERE event_id % 2 = 0),
           b AS (SELECT l.event_id, l.ts, r.ts AS src_b
                 FROM l ASOF LEFT JOIN r
                   ON l.user_id = r.user_id AND l.ts >= r.ts),
           f AS (SELECT l.event_id, r.ts AS src_f
                 FROM l ASOF LEFT JOIN r
                   ON l.user_id = r.user_id AND l.ts <= r.ts),
           j AS (SELECT b.event_id, b.ts, b.src_b, f.src_f
                 FROM b JOIN f USING (event_id)),
           agg AS (SELECT
             count(*) AS n,
             sum(CASE WHEN src_b IS NOT NULL THEN 1 ELSE 0 END) AS m1,
             sum(CASE WHEN (epoch_us(src_b) - epoch_us(ts)) / 1000000.0 > 0
                      THEN 1 ELSE 0 END) AS l1,
             max(CASE WHEN (epoch_us(src_b) - epoch_us(ts)) / 1000000.0 > 0
                      THEN (epoch_us(src_b) - epoch_us(ts)) / 1000000.0 END) AS x1,
             sum(CASE WHEN src_f IS NOT NULL THEN 1 ELSE 0 END) AS m2,
             sum(CASE WHEN (epoch_us(src_f) - epoch_us(ts)) / 1000000.0 > 0
                      THEN 1 ELSE 0 END) AS l2,
             max(CASE WHEN (epoch_us(src_f) - epoch_us(ts)) / 1000000.0 > 0
                      THEN (epoch_us(src_f) - epoch_us(ts)) / 1000000.0 END) AS x2
             FROM j)
      SELECT 1 AS src_no, 'src_ts_feature' AS source,
             n AS n_rows, CAST(m1 AS BIGINT) AS n_matched,
             CAST(l1 AS BIGINT) AS n_leaks,
             round(x1, 6) AS max_lead_s,
             round(l1 * 1.0 / n, 6) AS leak_rate, l1 = 0 AS ok FROM agg
      UNION ALL
      SELECT 2, 'src_ts_label', n, CAST(m2 AS BIGINT), CAST(l2 AS BIGINT),
             round(x2, 6), round(l2 * 1.0 / n, 6), l2 = 0 FROM agg
    """)
def q_leakage_audit(spark, sf_dir):
    """Zero-temporal-leakage gate (validate.py leakage_audit): run two
    point-in-time joins carrying the matched SOURCE timestamp as a
    value column — backward (feature direction, must be clean) and
    forward (label direction, expected to lead) — then audit every
    source in ONE melted aggregate scan. The north rule's "no feature
    may read ts' > ts" as a Spark plan: the backward row reports
    n_leaks=0/ok=true, the forward row reports the leads loudly."""
    from hipipe_spark.operators.validate import leakage_audit
    left, right = asof_sides(spark, sf_dir)
    feat = right.select("user_id", "ts", F.col("ts").alias("src_ts_feature"))
    lab = right.select("user_id", "ts", F.col("ts").alias("src_ts_label"))
    out = asof_join(left, feat, on="ts", by="user_id", strategy="union")
    out = asof_join(out, lab, on="ts", by="user_id", strategy="union",
                    direction="forward")
    return leakage_audit(out, "ts", ["src_ts_feature", "src_ts_label"])


@query(oracle=f"""
      WITH {_ASOF_HALVES},
      b AS (SELECT l.event_id, l.user_id, l.ts, r.ts AS bts, r.val AS bval
            FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
      f AS (SELECT l.event_id, r.ts AS fts, r.val AS fval
            FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts)
      SELECT b.event_id, b.user_id, b.ts,
             CASE WHEN b.bts IS NOT NULL
                   AND (f.fts IS NULL
                        OR epoch(b.ts) - epoch(b.bts) <= epoch(f.fts) - epoch(b.ts))
                  THEN b.bval ELSE f.fval END AS val
      FROM b JOIN f USING (event_id)
    """)
def q_asof_nearest(spark, sf_dir):
    """Nearest as-of (pandas merge_asof semantics: closer of the
    backward/forward candidates, ties prefer backward) — oracled by two
    DuckDB ASOF joins plus the distance tiebreak."""
    left, right = asof_sides(spark, sf_dir)
    out = asof_join(left, right, on="ts", by="user_id", strategy="union",
                    direction="nearest")
    return out.select("event_id", "user_id", "ts", "val")


@query(oracle="""
      WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 1),
      ra AS (SELECT user_id, ts, round(value, 4) AS val FROM events
             WHERE event_id % 4 = 0),
      rb AS (SELECT user_id, ts, round(value, 4) AS val FROM events
             WHERE event_id % 4 = 2)
      SELECT l.event_id, l.user_id, l.ts, ra.val AS val_a, rb.val AS val_b
      FROM l
      ASOF LEFT JOIN ra ON l.user_id = ra.user_id AND l.ts >= ra.ts
      ASOF LEFT JOIN rb ON l.user_id = rb.user_id AND l.ts >= rb.ts
    """)
def q_asof_multi(spark, sf_dir):
    """Feature-store read path: one fact table enriched point-in-time
    from TWO feature tables in one call (independent as-of merges —
    staleness in one table never blocks the other). Oracle is two
    chained DuckDB ASOF LEFT JOINs."""
    from hipipe_spark.operators.asof import asof_join_multi
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "ts")
    ra = ev.filter(F.col("event_id") % 4 == 0).select(
        "user_id", "ts", F.round("value", 4).alias("val"))
    rb = ev.filter(F.col("event_id") % 4 == 2).select(
        "user_id", "ts", F.round("value", 4).alias("val"))
    out = asof_join_multi(left, {"_a": ra, "_b": rb},
                          on="ts", by="user_id", strategy="union")
    return out.select("event_id", "user_id", "ts", "val_a", "val_b")


@query(oracle=f"""
      WITH {_ASOF_HALVES}
      SELECT l.event_id, l.user_id, l.ts,
             CASE WHEN r.ts IS NOT NULL
                   AND epoch(l.ts) - epoch(r.ts) <= 600 THEN r.val END AS val
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """)
def q_asof_tolerance(spark, sf_dir):
    left, right = asof_sides(spark, sf_dir)
    out = asof_join(left, right, on="ts", by="user_id", strategy="union",
                    tolerance_sec=600)
    return out.select("event_id", "user_id", "ts", "val")


@query(oracle=f"""
      WITH {_ASOF_HALVES},
      b AS (SELECT l.event_id, l.user_id, l.ts, r.ts AS bts, r.val AS bval
            FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
      f AS (SELECT l.event_id, r.ts AS fts, r.val AS fval
            FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts)
      SELECT b.event_id, b.user_id, b.ts,
             round(CASE WHEN b.bts IS NOT NULL AND f.fts IS NOT NULL
                         AND f.fts > b.bts
                        THEN b.bval + (f.fval - b.bval)
                             * (epoch(b.ts) - epoch(b.bts))
                             / (epoch(f.fts) - epoch(b.bts))
                        WHEN b.bts IS NOT NULL THEN b.bval
                        ELSE f.fval END, 6) AS val_interp
      FROM b JOIN f USING (event_id)
    """)
def q_asof_interp(spark, sf_dir):
    """Time-weighted linear interpolation between the bracketing right
    rows (offline gap-fill; asof.py asof_interpolate) — oracled by two
    DuckDB ASOF joins plus the identical interpolation arithmetic."""
    left, right = asof_sides(spark, sf_dir)
    out = asof_interpolate(left, right, on="ts", by="user_id")
    return out.select("event_id", "user_id", "ts",
                      F.round("val_interp", 6).alias("val_interp"))


@query(oracle="""
      SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_orderpriority
      FROM lineitem l
      LEFT JOIN (SELECT o_orderkey, o_orderpriority FROM orders
                 WHERE o_orderkey % 2 = 0) o
        ON l.l_orderkey = o.o_orderkey
    """)
def q_salted_join(spark, sf_dir):
    """Hot-key-safe salted join (joins.py): results must be
    row-identical to the plain join the oracle runs."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity")
    dim = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    return salted_join(li, dim, on="l_orderkey", how="left", salts=8)


@query(oracle="""
      WITH iv AS (SELECT user_id, MIN(ts) AS ws FROM events
                  WHERE event_type = 'purchase' GROUP BY user_id)
      SELECT e.event_id, e.user_id, round(epoch(iv.ws), 6) AS win_start_s
      FROM events e JOIN iv ON e.user_id = iv.user_id
      WHERE e.ts >= iv.ws AND e.ts < iv.ws + INTERVAL 2 HOUR
    """)
def q_interval_join(spark, sf_dir):
    """Point-in-interval range join (joins.py interval_join): every
    event inside [user's first purchase, +2h), bucketed onto a 1-hour
    slice grid so the range predicate becomes an equi-join + exact
    filter instead of a nested loop. Oracle = plain SQL BETWEEN join."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    iv = (ev.filter(F.col("event_type") == "purchase")
          .groupBy("user_id").agg(F.min("ts").alias("win_start"))
          .withColumn("win_end",
                      F.col("win_start") + F.expr("INTERVAL 2 HOURS")))
    out = interval_join(
        ev.select("event_id", "user_id", "ts"), iv,
        time_col="ts", start_col="win_start", end_col="win_end",
        on="user_id", slice_seconds=3600)
    return out.select(
        "event_id", "user_id",
        F.round(ts_seconds(F.col("win_start")), 6).alias("win_start_s"))


# naive range self-join — the O(S x density) plan pit_window_agg's
# delta encoding exists to avoid; small-SF it is the exact oracle
@query(oracle="""
      SELECT s.event_id, s.user_id,
             CAST(count(e.event_id) AS BIGINT) AS pit_count,
             round(COALESCE(sum(round(e.value * 100)), 0), 6) AS pit_sum
      FROM events s LEFT JOIN events e
        ON e.user_id = s.user_id
       AND epoch(e.ts) < epoch(s.ts)
       AND epoch(e.ts) >= epoch(s.ts) - 3600
      GROUP BY s.event_id, s.user_id
    """)
def q_pit_window(spark, sf_dir):
    """Point-in-time windowed aggregate join (joins.py pit_window_agg):
    per event, the count and sum of the SAME user's events in the
    strictly-prior hour — the feature-store primitive. The operator
    delta-encodes each event as (+1 at ts, -1 at ts+horizon) and reads
    a running sum at the spine row: O(S+E) rows, ONE shuffle, no
    range-join explosion. Oracle = the naive O(S x density) self-join.
    The summed value is pre-rounded to integer cents so the running
    sum is fp-exact at any accumulation order (hash-stable vs DuckDB's
    aggregate order)."""
    from hipipe_spark.operators.joins import pit_window_agg
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = ev.withColumn("value_c", F.round(F.col("value") * 100))
    spine = ev.select("event_id", "user_id", "ts")
    out = pit_window_agg(spine, ev, by="user_id", on="ts",
                         horizon=3600.0, value_col="value_c",
                         strict=True)
    return out.select("event_id", "user_id", "pit_count", "pit_sum")


@query(oracle="""
      SELECT s.event_id, s.user_id,
             CAST(count(CASE WHEN epoch(e.ts) >= epoch(s.ts) - 1800
                             THEN 1 END) AS BIGINT) AS pit_count_1800s,
             round(COALESCE(sum(CASE WHEN epoch(e.ts) >= epoch(s.ts) - 1800
                                     THEN round(e.value * 100) END), 0), 6)
               AS pit_sum_1800s,
             CAST(count(e.event_id) AS BIGINT) AS pit_count_7200s,
             round(COALESCE(sum(round(e.value * 100)), 0), 6)
               AS pit_sum_7200s
      FROM events s LEFT JOIN events e
        ON e.user_id = s.user_id
       AND epoch(e.ts) < epoch(s.ts)
       AND epoch(e.ts) >= epoch(s.ts) - 7200
      GROUP BY s.event_id, s.user_id
    """)
def q_pit_multi(spark, sf_dir):
    """Multi-horizon point-in-time features (joins.py pit_window_multi):
    per event, the same user's strictly-prior event count and cent-sum
    at BOTH a 30-minute and a 2-hour trailing window, computed in one
    shuffle + one sort (events explode x3: one add + two expiries).
    Oracle = one naive range self-join with conditional aggregation."""
    from hipipe_spark.operators.joins import pit_window_multi
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = ev.withColumn("value_c", F.round(F.col("value") * 100))
    spine = ev.select("event_id", "user_id", "ts")
    out = pit_window_multi(spine, ev, by="user_id", on="ts",
                           horizons=(1800.0, 7200.0),
                           value_col="value_c", strict=True)
    return out.select("event_id", "user_id",
                      "pit_count_1800s", "pit_sum_1800s",
                      "pit_count_7200s", "pit_sum_7200s")


@query(oracle="""
      SELECT s.event_id, s.user_id,
             round(max(e.value), 6) AS pit_max,
             round(min(e.value), 6) AS pit_min
      FROM events s LEFT JOIN events e
        ON e.user_id = s.user_id
       AND epoch(e.ts) < epoch(s.ts)
       AND epoch(e.ts) >= epoch(s.ts) - 3600
      GROUP BY s.event_id, s.user_id
    """)
def q_pit_extrema(spark, sf_dir):
    """Trailing-window extrema (joins.py pit_window_extrema): per
    event, the same user's strictly-prior-hour max and min value via
    the panes decomposition — two (user, slice)-keyed window sorts +
    one narrow rejoin, O(S+E) rows, int64-microsecond-exact
    boundaries. Oracle = naive range self-join MAX/MIN."""
    from hipipe_spark.operators.joins import pit_window_extrema
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    spine = ev.select("event_id", "user_id", "ts")
    out = pit_window_extrema(spine, ev, by="user_id", value_col="value",
                             on="ts", horizon=3600.0, strict=True)
    return out.select("event_id", "user_id",
                      F.round("pit_max", 6).alias("pit_max"),
                      F.round("pit_min", 6).alias("pit_min"))
