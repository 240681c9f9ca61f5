"""Benchmark command for gate_spark: one workload per run, fresh process.

    python3 perfbench/run.py --workload tokens_bulk --seed 1 --seconds 20 --trace 0

Run from the repository root. A run generates (or reuses) its seeded
inputs, starts a Spark session on ``local[nproc]``, runs the workload's
set-up, one cold operation, then warm operations until ``--seconds`` of
them are spent, checking every operation's outputs against the
generator's truth. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see README.md). Progress goes to stderr.

Everything the run writes stays under ``.perfbench/`` in the working
directory: the input cache, Spark's local and temp dirs, and the
workload's scratch tables, which are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MB = 1024.0 * 1024.0
MIN_WARM = 2  # warm operations per run, however short --seconds is
DEADLINE_S = 165  # stop starting operations past this age (hard cap 180 s)
DRIVER_MEM = "2g"


def listed_units(root: str, kind: str) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json lists under ``kind``
    (``end_to_end`` or ``per_layer``): the keys of the result line. A
    run measures more (cold_s, peak_rss_mb) and prints all of them to
    stderr."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def process_start() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def start_session(work: str, cores: int):
    """The program's own session builder, with console progress off,
    every scratch path inside the working tree, and enough retained
    jobs in the status store for a whole run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = None
    from gate_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


@dataclass
class Op:
    """One timed operation's record (the traced run adds ``layers``)."""

    kind: str
    wall: float
    jobs: range
    errors: list[str]
    gc_s: float
    read_b: int


def run_op(wl, ctx, kind: str) -> Op:
    gc0, rb0 = ctx.jvm.gc_s(), ctx.jvm.read_bytes()
    j0 = ctx.tracer.job_count()
    t0 = time.perf_counter()
    try:
        out = wl.op(ctx)
        wall = time.perf_counter() - t0
        j1 = ctx.tracer.job_count()
        errors = wl.check(out, ctx)
    except Exception:
        wall = time.perf_counter() - t0
        j1 = ctx.tracer.job_count()
        errors = ["operation raised:\n" + traceback.format_exc()]
    op = Op(kind, wall, range(j0, j1), errors, ctx.jvm.gc_s() - gc0, ctx.jvm.read_bytes() - rb0)
    status = "ok" if not errors else "FAILED: " + "; ".join(e[:300] for e in errors[:5])
    print(f"[{wl.name}] {kind} op {wall:.3f} s, {j1 - j0} jobs, {status}", file=sys.stderr, flush=True)
    return op


def warm_loop(wl, ctx, seconds: float) -> list[Op]:
    """Warm operations until ``seconds`` of them and at least MIN_WARM;
    none started past the run deadline."""
    ops: list[Op] = []
    while len(ops) < ctx.min_warm or sum(o.wall for o in ops) < seconds:
        if ops and time.time() > ctx.deadline:
            break
        ops.append(run_op(wl, ctx, "warm"))
    return ops


def end_to_end(wl, ctx, cold: Op, warm: list[Op], setup_s: float) -> dict:
    js = ctx.jobstats
    per_op = [js.total(o.jobs) for o in warm]
    return {
        "setup_s": setup_s,
        "cold_s": cold.wall,
        "rows_per_s": statistics.median(wl.rows / o.wall for o in warm),
        "input_mb": statistics.median(o.read_b / MB for o in warm),
        "shuffle_mb": statistics.median(t["shuffle_b"] / MB for t in per_op),
        "peak_rss_mb": ctx.jvm.peak_rss_mb(),
    }


def main(argv=None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="std")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "gate_spark")):
        print("run from the repository root (no gate_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    def on_alarm(signum, frame):
        raise TimeoutError("run exceeded its time limit")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(175)

    wl = WORKLOADS[args.workload]()
    t_gen = time.time()
    wl.prepare(args.seed, args.size, os.path.join(base, "inputs"))
    gen_s = time.time() - t_gen
    print(f"[{wl.name}] inputs ready in {gen_s:.2f} s", file=sys.stderr, flush=True)

    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        spark = start_session(work, cores)
        from spans import Jvm, JobStats, Tracer

        jvm = Jvm(spark)
        ctx = SimpleNamespace(
            spark=spark, work=work, cores=cores,
            min_warm=MIN_WARM, deadline=t_proc + DEADLINE_S,
            tracer=Tracer(spark, jvm.read_bytes), jobstats=JobStats(spark), jvm=jvm,
        )
        wl.setup(ctx)
        setup_s = time.time() - t_proc - gen_s
        print(f"[{wl.name}] set up in {setup_s:.2f} s on local[{cores}]", file=sys.stderr, flush=True)

        cold = run_op(wl, ctx, "cold")
        traced = []
        if args.trace:
            import layers

            warm, traced = layers.interleaved_ops(wl, ctx, args.seconds, run_op)
        else:
            warm = warm_loop(wl, ctx, args.seconds)
        ops = [cold] + warm + traced
        try:
            final_errors = wl.finish(ctx)
        except Exception:
            final_errors = ["final check raised:\n" + traceback.format_exc()]
        if final_errors:
            print(f"[{wl.name}] final check FAILED: " + "; ".join(final_errors[:5]), file=sys.stderr)
            if not cold.errors:
                cold.errors = final_errors
        if args.trace:
            metrics = layers.per_layer(traced, warm)
        else:
            ctx.jobstats.settle()
            metrics = end_to_end(wl, ctx, cold, warm, setup_s)
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = listed_units(root, "per_layer" if args.trace else "end_to_end")
    failed = sum(1 for o in ops if o.errors)
    print(f"[{wl.name}] all metrics: {json.dumps(metrics)}", file=sys.stderr, flush=True)
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
