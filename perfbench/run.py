"""The repo benchmark: seeded featurize and Arrow-UDF workloads on
``local[nproc]``, driven as a closed loop by one thread that issues one
action at a time.

    python3 perfbench/run.py --workload featurize_skewed --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6 --trace 0

``--trace 0`` reports the end-to-end metrics ``rows_per_s``, ``setup_s``
and ``peak_rss_mb``, and prints ``fail_frac``. ``rows_per_s`` is input
rows over the median wall time of the measured ops. ``setup_s`` is the
median of three set-ups, each a session start plus the first, cold op;
the first also launches the JVM, the other two restart the session in
it. ``peak_rss_mb`` is the median over the measured ops of the peak RSS
of the driver JVM and its Python workers while the op ran.
``--trace 1`` reports the per-layer metrics of every layer (the
incremental refresh included) from spans around each layer call, plus
``trace.overhead_frac``, the cost of tracing the workload's own op.
Every metric is printed on its own line with its unit and sample count;
the last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Every run, with the
``/proc/loadavg`` samples taken during each op and the spans of a traced
run, is kept under ``perfbench/.work/runs``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import host

SETUPS = 3  # set-ups per untraced run; setup_s is their median
WARM_OPS = 2  # untimed ops after the set-ups


class Run:
    """Every op of one run, in order, with its outcome and the load
    samples taken while it ran. Nothing is dropped or retried."""

    def __init__(self, sampler: host.Sampler):
        self.sampler = sampler
        self.ops: list[dict] = []

    def record(self, kind: str, fn):
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception:
            traceback.print_exc()
            res = None
        t1 = time.perf_counter()
        loads, rss = self.sampler.during(t0, t1)
        self.ops.append(dict(
            kind=kind, start_s=t0, wall_s=t1 - t0, ok=bool(res and res.ok),
            rows=res.rows if res else None, checksum=res.checksum if res else None,
            load1=loads, peak_rss_mb=rss))

    def ok_ops(self, kind: str) -> list[dict]:
        return [op for op in self.ops if op["kind"] == kind and op["ok"]]

    @property
    def failed(self) -> int:
        return sum(not op["ok"] for op in self.ops)


def measure(workload: str, seed: int, seconds: int, trace: bool) -> int:
    import inputs
    from tracing import NullTracer, Tracer
    from workloads import WORKLOADS, Ctx, trace_layers

    inp = inputs.load_or_generate(seed)
    cores = host.nproc()
    tag = f"{workload}-s{seed}-t{int(trace)}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    rd = host.run_dir(tag)
    store_root = os.path.join(rd, "store")
    wl = WORKLOADS[workload]()
    tr, off = (Tracer() if trace else NullTracer()), NullTracer()
    setups: list[float] = []
    one_core: dict = {}
    ctx = Ctx(None, inp, store_root)
    with host.Sampler() as sampler:
        run = Run(sampler)
        try:
            for _ in range(1 if trace else SETUPS):
                if ctx.spark is not None:
                    ctx.spark.stop()
                t0 = time.perf_counter()
                with tr.span("session.get_spark"):
                    ctx.spark = host.start_session(cores)
                run.record("setup", lambda: wl.op(ctx, off))
                setups.append(time.perf_counter() - t0)
            # the JIT keeps speeding up the next few ops of a session
            for _ in range(WARM_OPS):
                run.record("warm", lambda: wl.op(ctx, off))
            # tracing off, or alternating off/on to price the tracing
            end = time.perf_counter() + seconds
            while True:
                for t in ([off, tr] if trace else [off]):
                    run.record("traced" if t.enabled else "measure", lambda: wl.op(ctx, t))
                if time.perf_counter() >= end:
                    break
            if trace:
                one_core = trace_layers(ctx, tr, run.record, wl)
            run.record("verify", lambda: wl.verify(ctx))
        finally:
            if ctx.spark is not None:
                host.shutdown_jvm(ctx.spark)

    measured, traced = run.ok_ops("measure"), run.ok_ops("traced")

    def median_of(ops, key):
        return statistics.median(op[key] for op in ops)

    missing: list[str] = []

    def metric(name, unit, value, n=1):
        try:
            v = float(value())
        except (statistics.StatisticsError, KeyError, IndexError, ZeroDivisionError):
            missing.append(name)
            v, n = 0.0, 0
        return name, {"value": v, "unit": unit}, n

    if trace:
        med, attrs = tr.median_s, tr.last_attrs
        timed = [(f"{s}_s", s) for s in (
            "session.get_spark", "sources.scan", "temporal.feature_pipeline",
            "asof.union", "asof.broadcast", "asof.bucketed", "flagship.featurize",
            "checkpoint.incremental_refresh", "checkpoint.slice_featurize",
            "checkpoint.commit", "checkpoint.read", "dedup.winnow_fingerprints",
            "core.arrow_roundtrip", "datagen.gen")]
        plan = [("exchanges", "count"), ("shuffle_records", "count"),
                ("shuffle_bytes", "bytes"), ("sorts", "count"),
                ("windows", "count"), ("spill_bytes", "bytes")]
        rows_out = [
            metric(name, "s", lambda s=span: med(s), len(tr.seconds(span)))
            for name, span in timed
        ] + [
            metric(f"plan.{k}", unit, lambda k=k: attrs("flagship.featurize")[k])
            for k, unit in plan
        ] + [
            metric("checkpoint.bytes_written", "bytes",
                   lambda: attrs("checkpoint.commit")["bytes_written"]),
            metric("checkpoint.files_written", "count",
                   lambda: attrs("checkpoint.commit")["files_written"]),
            metric("dedup.fingerprints_out", "count",
                   lambda: attrs("dedup.winnow_fingerprints")["fingerprints_out"]),
            metric("flagship.scaling_eff_1to4", "ratio",
                   lambda: one_core["seconds"] / (cores * med("flagship.featurize"))),
            metric("trace.overhead_frac", "ratio",
                   lambda: median_of(traced, "wall_s") / median_of(measured, "wall_s") - 1,
                   min(len(traced), len(measured))),
        ]
    else:
        rows_out = [
            metric("rows_per_s", "1/s",
                   lambda: median_of(measured, "rows") / median_of(measured, "wall_s"),
                   len(measured)),
            metric("setup_s", "s", lambda: statistics.median(setups), len(setups)),
            metric("peak_rss_mb", "MB", lambda: median_of(measured, "peak_rss_mb"),
                   len(measured)),
        ]
    metrics = {name: m for name, m, _ in rows_out}
    attempted, failed = len(run.ops), run.failed
    result = dict(correct=failed == 0 and not missing, attempted=attempted,
                  failed=failed, metrics=metrics)

    artifact = dict(
        tag=tag, workload=workload, seed=seed, seconds=seconds, trace=trace,
        host=dict(cores=cores, driver_heap_mb=host.driver_heap_mb()),
        inputs=dict(dir=inp.dir, n_turns=inp.n_turns, n_texts=inp.n_texts,
                    write_s=inp.write_s),
        setups_s=setups, ops=run.ops, missing=missing, one_core=one_core,
        samples=sampler.samples, spans=tr.dump() if trace else [], result=result)
    with open(os.path.join(rd, "run.json"), "w") as f:
        json.dump(artifact, f)
    with open(os.path.join(host.WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(dict(tag=tag, **result)) + "\n")
    shutil.rmtree(store_root, ignore_errors=True)

    for name, m, n in rows_out:
        print(f"{workload:20s} {name:34s} {m['value']:>16.6g} {m['unit']:6s} n={n}")
    print(f"{workload:20s} {'fail_frac':34s} {failed / attempted:>16.6g} {'ratio':6s} "
          f"n={attempted}")
    for name in missing:
        print(f"{workload:20s} {name} missing: no successful op measured it")
    print(json.dumps(result), flush=True)
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    host.prepare_process()
    try:
        import hipipe_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload == "all":
        code = 0
        for name in WORKLOADS:
            code = max(code, subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)]).returncode)
        return code
    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {', '.join(WORKLOADS)} or all")
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return measure(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
