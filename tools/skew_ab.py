"""Skew A/B evidence: named cases that time two variants on one persisted
fixture and append a row to their section of BENCH/SKEW.md.

    python tools/skew_ab.py CASE [CASE ...]

Cases (A vs B):

- ``rolling``: conv-partitioned ``RollingAgg`` vs ``BucketedRollingAgg``
  on the monster-conversation fixture. One conversation holds half of
  all rows: the skew AQE cannot split, since ``Window.partitionBy`` pins
  a key to one task.
- ``asof``: union vs bucketed as-of join on the same fixture.
- ``decay``: conv-partitioned vs bucketed 16-lag ``DecayAgg``, same
  fixture.
- ``prefix_filter``: plain inverted-index n-gram Jaccard join vs the
  PPJoin prefix-filtered join on a hub-heavy corpus (every doc shares
  ``HUB_TOKENS`` universal tokens, each of which alone fans out
  C(n_docs, 2) join rows). The row also records both candidate-pair
  counts, the scale metric (candidates ~ shuffle + verify volume).
- ``boilerplate``: ``remove_frequent_lines`` on a skewed corpus (a hub
  line in every doc plus one doc with 100x the lines) vs a uniform
  corpus of the same line volume. The ``distinct`` pre-shuffle
  partitions by (digest, doc_id) and the per-digest count is partially
  aggregated, so the hub line reaches its reducer as at most
  n_partitions rows, not n_docs.

Timing: one warm-up of each variant, then ``REPS`` rounds that alternate
the order (A,B then B,A). Every wall time is kept, and the 1-minute
``/proc/loadavg`` is read after each rep. A row reports median, min and
IQR per variant, the A/B ratio of the medians, every rep, and the load
samples in run order.
"""

from __future__ import annotations

import functools
import os
import random
import statistics
import sys
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import force  # noqa: E402

SKEW_MD = os.path.join(REPO, "BENCH", "SKEW.md")
REPS = 5
MONSTER_ROWS = 4_000_000
HUB_DOCS, HUB_TOKENS, JACCARD_T = 10_000, 3, 0.6
LINE_DOCS, LINES_PER_DOC = 200_000, 10

MONSTER_SECTION = "# Extreme-skew A/B (one conversation = half of all rows)"
HEADER = ("| date | case | fixture | A | B | A median / min / IQR "
          "| B median / min / IQR | A/B (medians) | A reps | B reps "
          "| load 1m after each rep |")
SEP = "|" + "---|" * (HEADER.count("|") - 1)


def load_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def ab(a, b):
    """Warm up A and B once, then time ``REPS`` alternating rounds.
    Returns (warm-up results, {"A": reps, "B": reps}, load samples)."""
    warm = (a(), b())
    times = {"A": [], "B": []}
    loads = []
    for r in range(REPS):
        order = [("A", a), ("B", b)]
        for name, fn in order if r % 2 == 0 else order[::-1]:
            t0 = time.perf_counter()
            fn()
            times[name].append(time.perf_counter() - t0)
            loads.append(load_1m())
    return warm, times, loads


def summary(xs: list[float]) -> str:
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return f"{statistics.median(xs):.2f}s / {min(xs):.2f}s / {q3 - q1:.2f}s"


def record(section: str, case: str, fixture: str, a_name: str,
           b_name: str, times: dict, loads: list[float]) -> str:
    """Format one row and append it to the case table of ``section``
    (created at the end of that section on first use)."""
    def reps(xs):
        return " ".join(f"{x:.2f}" for x in xs)

    ratio = statistics.median(times["A"]) / statistics.median(times["B"])
    date = datetime.now(timezone.utc).isoformat(timespec="seconds")
    row = (f"| {date} | {case} | {fixture} | {a_name} | {b_name} "
           f"| {summary(times['A'])} | {summary(times['B'])} | {ratio:.2f}x "
           f"| {reps(times['A'])} | {reps(times['B'])} "
           f"| {' '.join(f'{x:.1f}' for x in loads)} |")
    with open(SKEW_MD) as f:
        lines = f.read().rstrip("\n").split("\n")
    if section not in lines:
        lines += ["", section]
    start = lines.index(section) + 1
    end = next((i for i in range(start, len(lines))
                if lines[i].startswith("#")), len(lines))
    while end > start and not lines[end - 1].strip():
        end -= 1
    if HEADER not in lines[start:end]:
        lines[end:end] = ["", HEADER, SEP]
        end += 3
    lines.insert(end, row)
    with open(SKEW_MD, "w") as f:
        f.write("\n".join(lines) + "\n")
    return row


# ------------------------------------------------------------- fixtures
@functools.cache
def monster(spark):
    """Half the rows in ONE conversation, the rest spread over 10k."""
    hot = spark.range(MONSTER_ROWS // 2).select(
        F.lit("conv_monster").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        (F.lit(1_700_000_000) + F.col("id") * 7).cast("timestamp").alias("ts"),
        F.when(F.col("id") % 3 == 0, "assistant").otherwise("user").alias("role"),
        (F.col("id") % 997).cast("int").alias("text_len"),
    )
    cold = spark.range(MONSTER_ROWS // 2).select(
        F.concat(F.lit("conv_"), (F.col("id") % 10000).cast("string")).alias("conv_id"),
        (F.col("id") / 10000).cast("int").alias("turn_idx"),
        (F.lit(1_700_000_000) + (F.col("id") / 10000) * 13).cast("timestamp").alias("ts"),
        F.when(F.col("id") % 2 == 0, "assistant").otherwise("user").alias("role"),
        (F.col("id") % 991).cast("int").alias("text_len"),
    )
    turns = hot.unionByName(cold).persist()
    turns.count()
    return turns


MONSTER_FIXTURE = f"{MONSTER_ROWS} rows, half in one conversation"


def hub_docs(spark):
    """Docs of 12 tokens: HUB_TOKENS universal hub tokens + the rest drawn
    from a 30k vocab; every 10th doc is a near-dup of its predecessor."""
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(30000)]
    hubs = " ".join(f"hub{h}" for h in range(HUB_TOKENS))
    rows, prev = [], None
    for i in range(HUB_DOCS):
        if prev is not None and i % 10 == 9:
            toks = prev[:-1] + [rng.choice(vocab)]
        else:
            toks = rng.sample(vocab, 12 - HUB_TOKENS)
        prev = toks
        rows.append((i, hubs + " " + " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string").persist()
    docs.count()
    return docs


def line_docs(spark, skewed: bool):
    """Skewed: every doc carries the hub line and doc 0 has 100x the
    lines. Uniform: the same line volume with no hub and no monster."""
    def numbered(n):
        return F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(" ", F.lit("line"),
                                  F.col("id").cast("string"), i.cast("string")))

    if skewed:
        lines = F.concat(
            F.array(F.lit("hub boilerplate line")),
            numbered(F.when(F.col("id") == 0, F.lit(LINES_PER_DOC * 100))
                     .otherwise(F.lit(LINES_PER_DOC - 1))))
    else:
        lines = numbered(F.lit(LINES_PER_DOC))
    docs = spark.range(LINE_DOCS).select(F.col("id").alias("doc_id"),
                                       lines.alias("lines")).persist()
    docs.count()
    return docs


# ---------------------------------------------------------------- cases
def case_rolling(spark):
    from hipipe_spark.operators.temporal import BucketedRollingAgg, RollingAgg

    turns = monster(spark)
    aggs = {"assistant_turns_100": (
        F.sum, F.when(F.col("role") == "assistant", 1).otherwise(0)),
        "mean_len_100": (F.avg, F.col("text_len"))}
    naive = RollingAgg(aggs, lookback=100)
    bucketed = BucketedRollingAgg(aggs, lookback=100, bucket_size=65536)
    (n_a, n_b), times, loads = ab(lambda: force(naive(turns)),
                                  lambda: force(bucketed(turns)))
    assert n_a == n_b, (n_a, n_b)
    return record(MONSTER_SECTION, "rolling", MONSTER_FIXTURE,
                  "naive (lookback 100)", "bucketed 65536", times, loads)


def case_asof(spark):
    from hipipe_spark.operators.asof import asof_join

    turns = monster(spark)
    profiles = spark.range(20000).select(
        F.when(F.col("id") % 2 == 0, "conv_monster")
         .otherwise(F.concat(F.lit("conv_"), (F.col("id") % 10000).cast("string")))
         .alias("conv_id"),
        (F.lit(1_700_000_000) + F.col("id") * 1700).cast("timestamp").alias("ts"),
        (F.col("id") % 17).cast("double").alias("temperature"),
    )
    (n_a, n_b), times, loads = ab(
        lambda: force(asof_join(turns, profiles, strategy="union")),
        lambda: force(asof_join(turns, profiles, strategy="bucketed",
                                bucket_width_sec=100000)))
    assert n_a == n_b, (n_a, n_b)
    return record(MONSTER_SECTION, "asof", MONSTER_FIXTURE + ", 20k profiles",
                  "union", "bucketed 100000 s", times, loads)


def case_decay(spark):
    from hipipe_spark.operators.temporal import DecayAgg

    turns = monster(spark)
    naive = DecayAgg("text_len", lookback=16, tau="1 hour")
    bucketed = DecayAgg("text_len", lookback=16, tau="1 hour", bucket_size=65536)
    (n_a, n_b), times, loads = ab(lambda: force(naive(turns)),
                                  lambda: force(bucketed(turns)))
    assert n_a == n_b, (n_a, n_b)
    return record("## Decay-feature skew A/B (16-lag fold, same monster fixture)",
                  "decay", MONSTER_FIXTURE, "naive", "bucketed 65536",
                  times, loads)


def prefix_candidates(docs, t: float | None) -> int:
    """Candidate pairs of the inverted-index join: every shared unigram
    (``t=None``) or only shared grams inside each doc's rarest-first
    prefix of length |x| - ceil(t|x|) + 1, with the size filter."""
    from hipipe_spark.operators.dedup import word_ngrams

    grams = docs.select(F.col("doc_id").alias("id"),
                        word_ngrams(F.col("text"), 1).alias("gs")).select(
        "id", F.size("gs").alias("sz"), F.explode("gs").alias("g"))
    if t is None:
        a, b = grams.alias("a"), grams.alias("b")
        return a.join(b, on="g").filter(F.col("a.id") < F.col("b.id")).count()
    dfreq = grams.groupBy("g").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "g")
    prefix = (grams.join(dfreq, on="g")
              .select("id", "g", "sz", F.row_number().over(w).alias("pos"))
              .filter(F.col("pos") <= F.col("sz")
                      - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)) + 1))
    a = prefix.select(F.col("id").alias("ia"), "g", F.col("sz").alias("sa"))
    b = prefix.select(F.col("id").alias("ib"), "g", F.col("sz").alias("sb"))
    return (a.join(b, on="g")
            .filter((F.col("ia") < F.col("ib"))
                    & (F.least("sa", "sb").cast("double")
                       >= F.lit(t) * F.greatest("sa", "sb") - F.lit(1e-9)))
            .count())


def case_prefix_filter(spark):
    from hipipe_spark.operators.dedup import (
        ngram_jaccard_pairs, ngram_jaccard_prefix_pairs,
    )

    docs = hub_docs(spark)
    n_plain = prefix_candidates(docs, None)
    n_prefix = prefix_candidates(docs, JACCARD_T)
    (n_a, n_b), times, loads = ab(
        lambda: force(ngram_jaccard_pairs(docs, threshold=JACCARD_T)),
        lambda: force(ngram_jaccard_prefix_pairs(docs, threshold=JACCARD_T)))
    assert n_a == n_b, f"output mismatch {n_a} vs {n_b}"
    fixture = (f"{HUB_DOCS} docs, {HUB_TOKENS} universal hub tokens, "
               f"t={JACCARD_T}; candidates {n_plain:,} vs {n_prefix:,}; "
               f"{n_a} identical pairs")
    return record("## Prefix-filter A/B (hub-gram fan-out)", "prefix_filter",
                  fixture, "plain", "prefix-filtered", times, loads)


def case_boilerplate(spark):
    from hipipe_spark.operators.boilerplate import remove_frequent_lines

    skewed, uniform = line_docs(spark, True), line_docs(spark, False)
    _, times, loads = ab(
        lambda: force(remove_frequent_lines(skewed, min_docs=1000)),
        lambda: force(remove_frequent_lines(uniform, min_docs=1000)))
    return record(MONSTER_SECTION, "boilerplate",
                  f"{LINE_DOCS} docs, min_docs=1000",
                  "skewed (hub line in every doc + 100x monster doc)",
                  "uniform", times, loads)


CASES = {
    "rolling": case_rolling,
    "asof": case_asof,
    "decay": case_decay,
    "prefix_filter": case_prefix_filter,
    "boilerplate": case_boilerplate,
}


def main(argv: list[str]) -> int:
    if not argv or any(c not in CASES for c in argv):
        print(f"usage: python tools/skew_ab.py CASE [CASE ...]; "
              f"cases: {' '.join(CASES)}", file=sys.stderr)
        return 2
    from hipipe_spark.session import get_spark

    spark = get_spark(app_name="skew_ab")
    for case in argv:
        print(CASES[case](spark), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
