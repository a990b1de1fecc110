"""Repository benchmark: FLF ingest, table commits and a query mix.

    python3 perfbench/run.py --workload flf_ingest --seed 1 --seconds 8 --trace 0

Run from the repository root. One process drives Spark on
``local[nproc]`` with ``spark.sql.shuffle.partitions = nproc``. The last
stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``; with ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones. The line before it is a detail record:
the workload's own end-to-end figures (rows/s, commit and read latency,
bytes stored per input byte, failed ratio), the module-level layer figures
of a traced run, each timed round (with the CPU time the host withheld),
the process shape and the check results. Scratch data lives in ``.perfbench_work/`` and is deleted
on exit; traced runs also write their spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

from measure import (  # noqa: E402
    RssSampler, Tracer, host_steal_seconds, own_cpu_seconds, process_tree, self_time,
    tree_cpu_seconds,
)

DRIVER_MEMORY = "4g"
END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


# Per-layer metrics of a traced run: medians over its timed rounds. Every
# workload exercises every one of these layers. The module-level figures
# (``io.flf.parse_s``, ``queries.<name>.build_s``, ...) are in the detail
# record's ``module_layers``, for the workloads that call those modules.
PER_LAYER = {
    "driver.outside_jobs_s": "s",   # round wall with no Spark job running
    "driver.python_cpu_s": "s",     # CPU of this (driver) Python process
    "jvm.cpu_s": "s",               # CPU of the Spark JVM, all its threads
    "spark.in_jobs_s": "s",         # union of the round's job intervals
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "executor.cpu_s": "s",
    "executor.run_s": "s",
    "executor.gc_s": "s",
    "executor.input_bytes": "bytes",
}


class Ctx:
    """What a workload needs: the session, the tracer, scratch space, the
    seed, and bookkeeping of operations and checks."""

    def __init__(self, spark, tracer, work: Path, seed: int, data_dir: Path):
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.data_dir = seed, data_dir
        self.ops: list[dict] = []
        self.checks: list[dict] = []
        self.check_seconds = 0.0

    def op(self, kind: str, fn, timed: bool, **info) -> dict:
        """Run one operation of the workload inside a span of its name.
        An exception is reported on stderr and counted as a failed op."""
        rec = {"kind": kind, "timed": timed, "ok": True, **info}
        t0 = time.perf_counter()
        with self.tracer.span(kind, op_id=len(self.ops)) as sp:
            try:
                rec["result"] = fn()
            except Exception:  # a failed op is a result, not a crash
                traceback.print_exc()
                rec["ok"] = False
        rec["wall"] = time.perf_counter() - t0
        rec["span"] = sp
        self.ops.append(rec)
        return rec

    def probe(self, name: str, fn) -> float:
        """An untimed, traced-only measurement op; returns its wall time."""
        return self.op(name, fn, timed=False)["wall"]

    def check(self, name: str, fn, detail=None) -> bool:
        t0 = time.perf_counter()
        try:
            ok = bool(fn())
            info = None if ok or detail is None else repr(detail())
        except Exception as e:  # a check that cannot run has failed
            traceback.print_exc()
            ok, info = False, f"{type(e).__name__}: {e}"
        self.check_seconds += time.perf_counter() - t0
        self.checks.append({"check": name, "ok": ok, **({"detail": info} if info else {})})
        if not ok:
            print(f"CHECK FAILED: {name} {info or ''}", file=sys.stderr)
        return ok


def start_spark(nproc: int, work: Path):
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    from evolution_spark.session import get_spark

    retain = "1000000"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.ui.retainedJobs": retain,
            "spark.ui.retainedStages": retain,
            "spark.sql.ui.retainedExecutions": retain,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    one started has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in process_tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def timed_rounds(ctx: Ctx, wl, seconds: float) -> list[dict]:
    """Run rounds 1, 2, ... (round 0 is the warm-up) until ``seconds`` of
    round wall time have passed, then the workload's final check."""

    def sample():
        return (time.perf_counter(), time.time(), tree_cpu_seconds(process_tree()),
                own_cpu_seconds(os.getpid()), own_cpu_seconds(ctx.jvm_pid),
                host_steal_seconds())

    rounds: list[dict] = []
    measured, i = 0.0, 1
    while not rounds or measured < seconds:
        a = sample()
        wl.round(ctx, i)
        b = sample()
        rounds.append({
            "wall_s": b[0] - a[0], "cpu_s": b[2] - a[2], "start": a[1], "end": b[1],
            "python_cpu_s": b[3] - a[3], "jvm_cpu_s": b[4] - a[4],
            # CPU the host withheld from this VM: explains slow rounds
            "host_steal_s": b[5] - a[5],
        })
        measured += b[0] - a[0]
        wl.after_round(ctx, i)
        i += 1
    wl.final_check(ctx)
    return rounds


def per_layer(rounds: list[dict], index) -> dict:
    windows = [index.window(r["start"], r["end"]) for r in rounds]

    def med(values):
        return statistics.median(list(values))

    return {
        "driver.outside_jobs_s": med(w["driver_s"] for w in windows),
        "driver.python_cpu_s": med(r["python_cpu_s"] for r in rounds),
        "jvm.cpu_s": med(r["jvm_cpu_s"] for r in rounds),
        "spark.in_jobs_s": med(w["in_jobs_s"] for w in windows),
        "spark.jobs": med(w["jobs"] for w in windows),
        "spark.stages": med(w["stages"] for w in windows),
        "spark.tasks": med(w["tasks"] for w in windows),
        "executor.cpu_s": med(w["executor_cpu_s"] for w in windows),
        "executor.run_s": med(w["executor_run_s"] for w in windows),
        "executor.gc_s": med(w["executor_gc_s"] for w in windows),
        "executor.input_bytes": med(w["input_bytes"] for w in windows),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    load_start = loadavg()
    nproc = len(os.sched_getaffinity(0))

    # Fails here, before any result is printed, when the package is absent.
    import pyspark

    import evolution_spark  # noqa: F401
    from spark_trace import JobIndex, fetch_status, job_group_hooks
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    data_dir = HERE / "data" / "sf0.01"
    if not data_dir.is_dir():
        raise SystemExit(f"missing query data at {data_dir}")

    # Every file the run writes, Spark's and the JVM's included, stays here.
    work = ROOT / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    tempfile.tempdir = str(work / "tmp")
    os.environ["TMPDIR"] = os.environ["SPARK_GRAFT_TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")

    spark = start_spark(nproc, work)
    try:
        sc = spark.sparkContext
        hooks = job_group_hooks(sc) if args.trace else (None, None)
        tracer = Tracer(bool(args.trace), wl.name, *hooks)
        ctx = Ctx(spark, tracer, work, args.seed, data_dir)
        wl.setup(ctx)
        setup_s = time.perf_counter() - t_start - ctx.check_seconds

        sampler = RssSampler()
        sampler.start()
        rounds = timed_rounds(ctx, wl, args.seconds)
        peak_rss = sampler.stop()

        e2e = {
            "setup_s": setup_s,
            "wall_s": statistics.median(r["wall_s"] for r in rounds),
            "cpu_s": statistics.median(r["cpu_s"] for r in rounds),
            "peak_rss_mb": peak_rss / 2**20,
        }
        layers, module_layers = {}, {}
        if args.trace:
            jobs, stages = fetch_status(sc)
            index = JobIndex(tracer.spans, jobs, stages)
            layers = per_layer(rounds, index)
            module_layers = wl.layers(ctx, index)
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(parents=True, exist_ok=True)
            (out_dir / f"trace-{wl.name}-seed{args.seed}.json").write_text(json.dumps({
                "spans": [
                    dict(sp.as_dict(), self_s=self_time(sp, index.kids.get(sp.id, [])),
                         **index.stats(sp.id))
                    for sp in tracer.spans
                ],
                "per_layer": layers,
                "module_layers": module_layers,
            }, indent=1))
        java_version = spark._jvm.System.getProperty("java.version")
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    timed_ops = [o for o in ctx.ops if o["timed"]]
    attempted = len(ctx.ops)
    failed = sum(not o["ok"] for o in ctx.ops) + sum(not c["ok"] for c in ctx.checks)
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "rounds": rounds, "timed_ops": len(timed_ops),
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "workload_metrics": {
            **{k: {"value": v, "unit": u} for k, (v, u) in wl.e2e(ctx).items()},
            "failed_ratio": {"value": failed / attempted, "unit": "ratio"},
        },
        "module_layers": module_layers,
        "checks": ctx.checks,
        "shape": {
            "nproc": nproc, "master": f"local[{nproc}]", "shuffle_partitions": nproc,
            "driver_memory": DRIVER_MEMORY, "loadavg_start": load_start,
            "loadavg_end": loadavg(), "java": java_version, "pyspark": pyspark.__version__,
            "python": platform.python_version(),
        },
        "check_s": ctx.check_seconds,
        "total_s": time.perf_counter() - t_start,
    }
    metrics = layers if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
