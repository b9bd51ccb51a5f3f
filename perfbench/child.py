"""Work that needs a JVM of its own, run as a child process of run.py.

    child.py gen <seed> <out-dir>             generate one input set
    child.py featurize1 <in-dir> <checksum>   featurize at local[1]; prints
                                              one JSON line
"""

from __future__ import annotations

import json
import os
import sys
import time

import host

WARM_SHARE = 20  # the warm-up featurizes one conversation in WARM_SHARE


def featurize_1core(in_dir: str, expected: str) -> dict:
    """Warm the JVM on a slice, then time one full featurize op, which
    must give ``expected``, the checksum of the same op at local[nproc]."""
    from pyspark.sql import functions as F

    from hipipe_spark.operators.flagship import featurize
    from inputs import Inputs, checksum
    from tracing import NullTracer
    from workloads import Ctx, Featurize

    with open(os.path.join(in_dir, "meta.json")) as f:
        inp = Inputs(dir=in_dir, **json.load(f))
    spark = host.start_session(1)
    try:
        ctx = Ctx(spark, inp, "", {"features": expected})
        turns = spark.read.parquet(inp.turns)
        checksum(featurize(
            turns.where(F.pmod(F.xxhash64("conv_id"), F.lit(WARM_SHARE)) == 0),
            spark.read.parquet(inp.profiles), asof_strategy="union"))
        t0 = time.perf_counter()
        res = Featurize().op(ctx, NullTracer())
        seconds = time.perf_counter() - t0
    finally:
        host.shutdown_jvm(spark)
    return dict(seconds=seconds, ok=res.ok)


def main(argv: list[str]) -> None:
    host.prepare_process()
    task = argv[0]
    if task == "gen":
        from inputs import generate
        generate(int(argv[1]), argv[2])
    elif task == "featurize1":
        print(json.dumps(featurize_1core(argv[1], argv[2])), flush=True)
    else:
        raise SystemExit(f"unknown task {task!r}")


if __name__ == "__main__":
    main(sys.argv[1:])
