"""Benchmark harness — one JSON line for the driver.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] plus the flagship
feature pipeline over a deterministic synthetic transcript corpus
(~600k turns incl. hot-conversation skew). Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ..., "turns_per_sec": ...}
Core-scaling evidence comes from the traced run of perfbench/run.py
(``flagship.scaling_eff_1to4``), not from this harness.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_QUERIES = [
    "flagship", "sessionize", "asof_union", "asof_broadcast", "rolling",
    "backfill", "transform_map", "filter_dim1", "exact_dedup",
    "minhash_lsh", "token_stats", "fingerprint", "embedding_topk",
    "generate_groups", "index_mapper", "corpus_pipeline",
    "latest_per_key", "tpch_q3",
    # round-3 training-data composites
    "training_pipeline", "bm25", "boilerplate_lines", "det_shuffle",
    # round-3 feature-eng extensions (late): 8-lag decay fold over one
    # window sort; int8-quantized ANN (integer dots, broadcast queries)
    "decay_features", "embedding_topk_int8",
    # round-3 final: sliced range join, PPJoin prefix-filtered jaccard,
    # label-excluded hard-negative mining
    "interval_join", "ngram_jaccard_prefix", "hard_negatives",
    # round-3 continuation: bigram-LM self-perplexity (count tables +
    # two equi-joins) and the as-of staleness audit (join + one agg)
    "bigram_ppl", "freshness",
    # round-3 late: full inverted-index TF-IDF keywords (explode +
    # two aggs + join + per-doc top-k window) and the three-window
    # gaps-and-islands run-length features
    "distinctive_terms", "role_streak",
    # round-3 continuation: point-in-time window family — delta-encoded
    # two-horizon count/sum (one shuffle, one sort) and panes-decomposed
    # trailing extrema (two slice sorts + narrow rejoin)
    "pit_multi", "pit_extrema",
    # round-3 continuation: duplicated-span detection (token-window
    # explode + two shuffles), DSIR importance weights (two broadcast
    # multinomials + one doc agg), multi-touch attribution (two window
    # passes), z-order write-layout keys (bit interleave + range sort)
    "substring_dedup", "dsir", "attribution", "zorder",
    # round-4 continuation: winnowing local-guarantee dedup tier
    # (vectorized Arrow fingerprints + fingerprint equi-join) and the
    # HBOS outlier scoring scan (two-agg fit + literal-histogram scan)
    "winnow_dedup", "hbos",
]

N_CONVS = int(os.environ.get("BENCH_N_CONVS", "100000"))
N_REPS = int(os.environ.get("BENCH_REPS", "3"))


def force(df) -> int:
    """Materialize EVERY column (count() lets Catalyst prune feature
    columns away — that would benchmark nothing). A checksum aggregate
    over xxhash64 of all columns forces full computation. Releases any
    operator-registered caches afterwards so repeated reps measure each
    run cold and don't accumulate storage across the bench session."""
    from pyspark.sql import functions as F

    from hipipe_spark.operators.core import release_cached

    h = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(1_000_000_007))
    row = df.select(
        F.count(F.lit(1)).alias("n"), F.sum(h).alias("chk")
    ).collect()[0]
    release_cached(df)
    return row["n"]


def main() -> None:
    import __spark_entry__ as E
    from hipipe_spark.datagen import gen_profile_updates, gen_transcripts
    from hipipe_spark.operators.flagship import featurize
    from hipipe_spark.session import get_spark

    spark = get_spark(app_name="hipipe_spark_bench")
    qs = E.queries()
    timings: dict[str, float] = {}
    total = 0.0

    # headline driver queries at SF_DIR — one warm pass first so the
    # recorded numbers are steady-state (cold-JVM codegen/JIT otherwise
    # dominates the first execution of each operator shape)
    for name in BENCH_QUERIES:
        force(qs[name](spark, SF_DIR))
    for name in BENCH_QUERIES:
        reps = []
        for _ in range(N_REPS):
            t0 = time.time()
            force(qs[name](spark, SF_DIR))
            reps.append(time.time() - t0)
        dt = statistics.median(reps)
        timings[name] = round(dt, 3)
        total += dt

    # synthetic-transcript throughput (the north-rule metric: turns/sec
    # end-to-end through sessionize+lag/lead+rolling+backfill+as-of).
    # Strategy pinned to "union" — the 10^12-row architecture — so the
    # headline number measures the pipeline, not a broadcast build.
    def run_flagship(n_convs):
        turns = gen_transcripts(spark, n_convs=n_convs, avg_turns=20,
                                hot_frac=0.01, hot_mult=50)
        profiles = gen_profile_updates(spark, n_convs=n_convs)
        turns = turns.persist()
        n_turns = turns.count()  # materialize input: time the pipeline only
        force(featurize(turns, profiles, asof_strategy="union"))  # warm JIT
        # median of N_REPS runs: single-run numbers on this box swing up
        # to 10x from GC pauses / co-tenant noise, the median is stable
        reps = []
        out_rows = None
        for _ in range(N_REPS):
            t0 = time.time()
            out_rows = force(featurize(turns, profiles, asof_strategy="union"))
            reps.append(time.time() - t0)
        turns.unpersist()
        assert out_rows == n_turns, (out_rows, n_turns)
        return n_turns, statistics.median(reps), [round(x, 3) for x in reps]

    n_turns, pipe_sec, flagship_runs = run_flagship(N_CONVS)
    timings["flagship_synthetic"] = round(pipe_sec, 3)
    total += pipe_sec

    # same pipeline at 4x the conversations: data-scale evidence inside
    # the driver artifact (VERDICT r2 next-round #7). Perfect weak
    # scaling keeps turns/sec flat -> scale_eff_4x ~ 1.0; a plan with a
    # super-linear stage (global sort, single-task window) would sink it.
    n_turns_4x, pipe_sec_4x, _ = run_flagship(4 * N_CONVS)
    timings["flagship_synthetic_4x"] = round(pipe_sec_4x, 3)
    total += pipe_sec_4x
    tps = n_turns / pipe_sec
    tps_4x = n_turns_4x / pipe_sec_4x

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(json.dumps({
        "metric": "bench_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_turns": n_turns,
        "turns_per_sec": round(tps, 1),
        "n_turns_4x": n_turns_4x,
        "turns_per_sec_4x": round(tps_4x, 1),
        "scale_eff_4x": round(tps_4x / tps, 3),
        "flagship_runs": flagship_runs,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "all"),
    }))


if __name__ == "__main__":
    main()
