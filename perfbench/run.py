"""fusets_spark benchmark: closed-loop workloads through the public API.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One driver process runs a Spark session at
local[<cores>] and issues one operation at a time (a closed loop with one
client). The run

1. starts the JVM and makes the seeded inputs (cached under
   perfbench/.cache) — not timed;
2. sets up three times — a fresh SparkSession, ship_package and a first
   Python job that starts the workers — and reports the median as
   ``setup_s``;
3. computes the reference answers on the last session — not timed; their
   jobs also warm that session;
4. runs passes of the workload until ``--seconds`` have passed (at least
   one), checking every output, and reports medians.

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a traced run (see
perfbench/DESIGN.md). Scratch files live under perfbench/.work/ and are
removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
MIN_PASSES = 1
RUN_BUDGET_S = 140.0  # no new pass starts after this (the run must end <180 s)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    needed = ["fusets_spark", "__spark_entry__.py", "bench.py",
              "scale_bench.py"]
    missing = [n for n in needed if not os.path.exists(os.path.join(ROOT, n))]
    if missing:
        print(f"perfbench: not in this checkout: {', '.join(missing)}",
              file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, HERE]
    from harness import Ctx

    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    ctx = Ctx(args.seed, os.path.join(HERE, ".work", f"run-{os.getpid()}"),
              os.path.join(HERE, ".cache"), bool(args.trace))
    os.makedirs(ctx.tmp)
    os.makedirs(ctx.cache, exist_ok=True)
    # everything the JVM, the Python workers and tempfile write stays in
    # the checkout
    os.environ["TMPDIR"] = ctx.tmp
    os.environ["SPARK_LOCAL_DIRS"] = ctx.work
    import tempfile

    tempfile.tempdir = None
    try:
        line = run(args, ctx)
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)
        # ship_package zips the package to a fixed /tmp path per process
        with contextlib.suppress(OSError):
            os.remove(f"/tmp/fusets_spark-{os.getpid()}.zip")
    if line is None:
        return 2
    print(json.dumps(line))
    return 0


def run(args, ctx) -> dict | None:
    from fusets_spark.session import ship_package
    from harness import Ops, Watchdog, median, start_workers, stop_jvm
    from layers import traced_run
    from procstats import PssSampler
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return None
    wl = WORKLOADS[args.workload](ctx)
    if ctx.event_log:
        os.makedirs(ctx.event_log)

    t = time.monotonic()
    spark = ctx.session(ctx.cores)
    ctx.layer["session.jvm_start_s"] = time.monotonic() - t
    ship_package(spark)
    watchdog = Watchdog()
    pss = PssSampler()  # sampled during the traced run's passes
    pss.start()
    try:
        # 1. inputs (untimed)
        ctx.log("JVM up")
        t = time.monotonic()
        wl.inputs(spark)
        bootstrap_s = time.monotonic() - t
        ctx.log("inputs ready")

        # 2. set-up, several times
        setup, get_spark_s, ship_s = [], [], []
        for _ in range(SETUP_REPS):
            spark.stop()
            t0 = time.monotonic()
            spark = ctx.session(ctx.cores)
            t1 = time.monotonic()
            ship_package(spark)
            t2 = time.monotonic()
            start_workers(spark, ctx.cores)
            setup.append(time.monotonic() - t0)
            get_spark_s.append(t1 - t0)
            ship_s.append(t2 - t1)
            ctx.log(f"set-up {setup[-1]:.2f}s")
        ctx.layer["session.get_spark_s"] = median(get_spark_s)
        ctx.layer["session.ship_package_s"] = median(ship_s)
        tracer = Tracer(spark.sparkContext)
        ops = Ops(spark, tracer, watchdog)

        # 3. references (untimed), on the session the passes will use, so
        # their jobs also start its Python workers and warm the JIT
        t = time.monotonic()
        wl.references(spark, ops)
        ctx.layer["bench.bootstrap_s"] = bootstrap_s + time.monotonic() - t
        ctx.log("references ready")
        before = ctx.hygiene(spark)

        # 4. timed passes
        ctx.log("measuring")
        if args.trace:
            metrics = traced_run(ctx, wl, spark, ops, tracer, pss, before)
        else:
            t_measure = time.monotonic()
            while True:
                ops.begin_pass()
                wl.run_pass(spark, ops)
                ctx.log_pass(ops.end_pass())
                now = time.monotonic()
                if (len(ops.passes) >= MIN_PASSES
                        and now - t_measure >= args.seconds):
                    break
                if now - ctx.t_start > RUN_BUDGET_S:
                    break
            metrics = end_to_end(ops, setup)
        spark.stop()
    finally:
        pss.close()
        watchdog.close()
        stop_jvm()

    for e in ops.errors:
        print(f"perfbench: error: {e}", file=sys.stderr)
    return {
        "correct": not ops.errors and any(p["ok"] for p in ops.passes),
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }


def end_to_end(ops, setup: list[float]) -> dict:
    """setup_s, and medians over the timed passes whose every operation and
    check succeeded: the pass wall less CPU steal (the sum over operations
    of wall × (1 − steal share), see DESIGN.md), and the process-tree CPU
    of a pass."""
    from harness import median

    ok = [p for p in ops.passes if p["ok"]]
    return {
        "setup_s": {"value": median(setup), "unit": "s"},
        "pass_s": {
            "value": median([sum(p["adj"].values()) for p in ok]),
            "unit": "s",
        },
        "pass_cpu_s": {
            "value": median([sum(p["cpu"].values()) for p in ok]),
            "unit": "cpu-s",
        },
    }


if __name__ == "__main__":
    sys.exit(main())
