"""Run one workload in this process and print its result line.

Started by ``run.py``, which sets the environment (scratch directories
inside the checkout, ``PYTHONPATH`` for the Python workers, the Spark
submit arguments) and removes everything the run leaves behind. Exits
with the JVM and every stream stopped.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

from run import RESULT_TAG, RUN_MARK, marked_pids

T_START = time.time()


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Timer:
    seconds = 0.0


class Ctx:
    """What a workload sees: the session, spans, counters and checks."""

    def __init__(self, spark, spans, work: str, seed: int):
        self.spark, self.spans = spark, spans
        self.work, self.seed = work, seed
        self.trace = False  # this pass is traced: extra layer counters
        self.attempted = self.failed = 0
        self.correct = True
        self.op_cpu = 0.0  # CPU seconds spent inside operations

    @contextmanager
    def op(self, name: str, op_id: str):
        self.attempted += 1
        t = Timer()
        cpu0 = _cpu_seconds()
        t0 = time.perf_counter()
        try:
            with self.spans.op(name, op_id):
                yield t
        except Exception:
            self.failed += 1
            raise
        finally:
            t.seconds = time.perf_counter() - t0
            self.op_cpu += _cpu_seconds() - cpu0

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.correct = False
            log(f"CHECK FAILED: {what}")


def _cpu_seconds() -> float:
    """CPU time (user + system, reaped children included) of every process
    of this run: the worker, its JVM and the JVM's Python workers. Time the
    hypervisor steals from this machine is not in it."""
    ticks = 0
    for pid in marked_pids(os.environ[RUN_MARK]):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _steal_seconds() -> float:
    """CPU time the hypervisor took from this machine, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop every stream, the session and its JVM, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        for q in spark.streams.active:
            q.stop()
    finally:
        spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())

    from etl import EtlIngest
    from queries import Queries
    from spans import Spans, parse_event_log

    workload = {w.name: w for w in (EtlIngest, Queries)}[args.workload]
    cpus = len(os.sched_getaffinity(0))
    spark = None
    try:
        from popelines_spark.session import get_spark

        t0 = time.time()
        spark = get_spark(
            app_name=f"perfbench_{args.workload}",
            cpus=cpus, shuffle_partitions=cpus,
        )
        get_spark_s = time.time() - t0
        spark.sparkContext.setLogLevel("ERROR")
        spans = Spans()
        ctx = Ctx(spark, spans, args.work, args.seed)
        wl = workload(ctx)
        log(f"session {get_spark_s:.2f} s, inputs ready at "
            f"{time.time() - T_START:.2f} s")

        def one_pass(p: int, label: str) -> dict:
            traced = label == "traced"
            spans.tag_jobs(spark.sparkContext if traced else None)
            ctx.trace = traced
            n_rows = len(spans.rows)
            cpu0, steal0 = ctx.op_cpu, _steal_seconds()
            t0 = time.perf_counter()
            extra = wl.run_pass(p)
            total = time.perf_counter() - t0
            ops = [r for r in spans.rows[n_rows:] if r[3] is None]
            done = {
                "wall": sum(r[2] - r[1] for r in ops),
                "cpu": ctx.op_cpu - cpu0,
                "extra": extra,
                "ops": {r[4] for r in ops},
            }
            log(f"{label} pass {p}: {done['wall']:.2f} s in operations "
                f"({total - done['wall']:.2f} s more in checks), "
                f"{done['cpu']:.2f} s CPU, "
                f"{_steal_seconds() - steal0:.2f} s stolen; "
                + ", ".join(f"{r[0]} {r[2] - r[1]:.2f}" for r in ops))
            return done

        warmup = wl.warmup_passes
        for p in range(warmup):
            one_pass(p, "warm-up")
        setup_s = time.time() - T_START

        if args.trace:
            # traced / untraced / traced: the first traced pass has the
            # pass number the untraced runs time, and the two traced passes
            # sit at the untraced one's mean position on what is left of
            # the warm-up curve, so the curve does not bias the overhead
            traced, untraced, traced2 = (
                one_pass(warmup + i, label)
                for i, label in enumerate(("traced", "timed", "traced"))
            )
            overhead = (traced["wall"] + traced2["wall"]) / (2 * untraced["wall"])
            build_indexes = getattr(wl, "build_indexes", None)
            if build_indexes is not None:
                spans.tag_jobs(spark.sparkContext)
                build_indexes()
            rss = _rss_peak_mb(os.getpid()) + _rss_peak_mb(
                spark.sparkContext._gateway.proc.pid
            )
            _stop(spark)
            spark = None
            groups = parse_event_log(
                os.path.join(args.work, "eventlog"), spans.tagged
            )
            from layers import per_layer

            metrics = per_layer(
                spans, groups, traced, get_spark_s, rss,
                100.0 * (overhead - 1.0),
            )
            report = os.path.join(os.getcwd(), ".perfbench_trace")
            os.makedirs(report, exist_ok=True)
            report = os.path.join(
                report, f"{args.workload}-seed{args.seed}.jsonl"
            )
            spans.dump(report, groups)
            log(f"spans and per-operation Spark counters: {report}")
        else:
            passes: list[dict] = []
            loop_start = time.time()
            while not passes or time.time() - loop_start < args.seconds:
                passes.append(one_pass(warmup + len(passes), "timed"))
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (statistics.median(d["wall"] for d in passes), "s"),
                "pass_cpu_s": (
                    statistics.median(d["cpu"] for d in passes), "s"
                ),
            }
        result = {
            "correct": ctx.correct,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
            },
        }
        print(RESULT_TAG + json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop(spark)


if __name__ == "__main__":
    sys.exit(main())
