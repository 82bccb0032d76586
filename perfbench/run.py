#!/usr/bin/env python3
"""CDC benchmark: run one workload for a fixed time and print its metrics.

    python3 perfbench/run.py --workload replay_dense_cow --seed 1 --seconds 20 --trace 0

Run from the repository root (the benchmark imports `wrangler_spark`
from the directory above this file). The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json; with
`--trace 1` they are the per-layer ones, and the spans are written to
.perfbench_out/. Lines before it are a readable report. The exit code
is 1 when an output check fails and 2 when the library is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "wrangler_spark", "__init__.py")):
        print(f"perfbench: no wrangler_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} (have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2
    # perf_counter() reading at process start: set-up time includes
    # interpreter start-up and imports
    t_process = time.perf_counter() - harness.process_age_s()

    t_session = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cores = harness.nproc()
    spark = harness.start_spark(work, cores, f"perfbench-{args.workload}")
    try:
        phases = {"session": time.perf_counter() - t_session}
        return run(args, spark, work, cores, t_process, phases)
    finally:
        from pyspark.sql import SparkSession

        harness.stop_spark(SparkSession.getActiveSession() or spark)
        harness.remove_tree(work)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there


def loop_done(deadline: float, start: float, cycles: int) -> bool:
    """At a cycle boundary: stop when another cycle, at the mean length
    of those so far, would end further past the deadline than the loop
    now is short of it. Runs then measure close to the deadline on
    average, however long a cycle is."""
    if not cycles:
        return False
    now = time.perf_counter()
    per_cycle = (now - start) / cycles
    return now + per_cycle / 2 >= deadline


def run(args, spark, work, cores, t_process, phases) -> int:
    from perfbench import harness
    from perfbench.trace import Tracer, jvm_gc_seconds
    from perfbench.workloads import WORKLOADS, Context, layer_metrics

    tracer = Tracer(spark, args.workload)
    if args.trace:
        tracer.install()
        tracer.enabled = True
    log = harness.OpLog()
    rss = harness.RssSampler(harness.jvm_pid(spark))
    ctx = Context(spark=spark, work=work, seed=args.seed, size=args.size, cores=cores,
                  tracer=tracer, log=log, rss=rss, phases=phases)
    wl = WORKLOADS[args.workload](ctx)
    wl.setup()
    rss.sample()
    gc0 = jvm_gc_seconds(ctx.spark)
    setup_s = time.perf_counter() - t_process

    # ---- timed loop: one closed-loop client, whole cycles of the
    # workload, stopping at the cycle boundary nearest the deadline
    ctx.deadline = time.perf_counter() + args.seconds
    loop = {"start": time.perf_counter(), "main_flags": [], "traced_wall": 0.0}
    i = 0
    while i % wl.cycle or not loop_done(ctx.deadline, loop["start"], i // wl.cycle):
        traced = bool(args.trace) and i % 3 != 1  # every third iteration untraced
        tracer.enabled = traced
        t0 = time.perf_counter()
        wl.step(i)
        if traced:
            loop["traced_wall"] += time.perf_counter() - t0
        loop["main_flags"].append(traced)
        i += 1
    tracer.enabled = bool(args.trace)
    t0 = time.perf_counter()
    wl.finish()
    after = {"finish": time.perf_counter() - t0}
    if args.trace:
        loop["traced_wall"] += after["finish"]
    tracer.enabled = False
    loop["end"] = time.perf_counter()
    loop["gc_s"] = jvm_gc_seconds(ctx.spark) - gc0
    rss.sample()

    e2e = wl.e2e()
    e2e["setup_s"] = (setup_s, "s")
    e2e["peak_rss_mb"] = (rss.peak_mb(), "MB")
    attempted, failed = log.total_attempted(), log.total_failed()
    e2e["ok_ops_frac"] = (1.0 - failed / attempted if attempted else 0.0, "ratio")

    if args.trace:
        tracer.attribute_jobs()  # before speedup() restarts the session
        tracer.uninstall()
    t0 = time.perf_counter()
    failures = wl.check()
    after["checks"] = time.perf_counter() - t0
    if args.trace:
        # after the checks: speedup() leaves the session at local[1]
        loop["speedup"] = wl.speedup(loop["main_flags"])
        layers = layer_metrics(wl, tracer.spans, loop)
    correct = not failures and attempted > 0

    # ---- report
    out_dir = os.path.join(ROOT, ".perfbench_out")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    print(f"workload {args.workload}  seed {args.seed}  local[{cores}]  {args.seconds:g} s measured, {i} iterations")
    print("  setup phases: " + ", ".join(f"{k} {v:.2f} s" for k, v in phases.items()))
    print("  after the loop: " + ", ".join(f"{k} {v:.2f} s" for k, v in after.items()))
    for kind in sorted(log.attempted):
        n_f = log.failed.get(kind, 0)
        print(f"  ops {kind:<8} attempted {log.attempted[kind]:>4}  failed {n_f}")
    for kind, exc, msg in log.errors:
        print(f"  failed {kind}: {exc}: {msg}")
    if args.trace:
        from perfbench.workloads import LAYER_UNITS

        metrics = {k: {"value": float(v), "unit": LAYER_UNITS[k]} for k, v in layers.items()}
        for k, v in layers.items():
            print(f"  {k:<30} {v:>14.6g} {LAYER_UNITS[k]}")
        tracer.dump(os.path.join(out_dir, f"spans-{tag}.jsonl"))
    else:
        metrics = {}
        for k, v in e2e.items():
            metrics[k] = {"value": float(v[0]), "unit": v[1]}
            extra = f"  (p{v[2]} of {v[3]} samples)" if len(v) > 2 else ""
            print(f"  {k:<26} {v[0]:>14.6g} {v[1]}{extra}")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"result-{tag}.json"), "w") as f:
            json.dump({"e2e": {k: list(v) for k, v in e2e.items()},
                       "ops": log.attempted, "failed": log.failed, "samples": log.samples,
                       "errors": log.errors, "checks": failures}, f, indent=1)
    for msg in failures:
        print(f"CHECK FAILED workload={args.workload} check={msg}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
