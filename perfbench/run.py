"""Benchmark command for popelines_spark.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Runs the workload in a child process
(``worker.py``) whose scratch files all live under
``.perfbench_work/<run id>`` in the checkout, then stops every process the
child started, removes what it created and prints one JSON result line.
``--trace 1`` turns on Spark's event log and prints the per-layer metrics
of one traced pass instead (see README.md).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))

#: The whole command must end well inside three minutes.
DEADLINE_S = 165

RUN_MARK = "PERFBENCH_RUN"
RESULT_TAG = "PERFBENCH_RESULT "


class Stopped(Exception):
    pass


def _on_signal(signum, frame):
    raise Stopped(f"signal {signum}")


def _die_with_parent() -> None:
    """In the worker, before exec: be killed when run.py dies, however it
    dies. The JVM then loses its stdin and exits too."""
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def marked_pids(run_id: str) -> list[int]:
    """Processes whose environment carries this run's mark: the worker,
    its JVM and the JVM's Python workers."""
    mark = f"{RUN_MARK}={run_id}".encode()
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if mark in f.read().split(b"\0"):
                    found.append(int(entry))
        except OSError:
            continue  # exited meanwhile, or not ours to read
    return found


def _reap(run_id: str, timeout: float = 20.0) -> list[int]:
    """Kill whatever this run left running; return what still lives."""
    end = time.time() + timeout
    while True:
        pids = marked_pids(run_id)
        if not pids or time.time() > end:
            return pids
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _env(root: str, work: str, run_id: str, trace: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
        ]
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = dict(os.environ)
    env.update({
        RUN_MARK: run_id,
        "PYTHONPATH": os.pathsep.join(
            [root] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        "POPELINES_DRIVER_MEM": f"{max(1, min(4, int(mem_gb // 4)))}g",
        "POPELINES_STREAM_CHECKPOINT_DIR": os.path.join(work, "stream-ckpt"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM of the run, spark-submit's launcher included: no
        # hsperfdata file in the system temp dir, temp files in the run's
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    return env


def _run_worker(args, root: str, deadline: float) -> dict:
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(root, ".perfbench_work", run_id)
    proc = None
    try:
        os.makedirs(work)
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work,
        ]
        proc = subprocess.Popen(
            cmd, cwd=root, env=_env(root, work, run_id, bool(args.trace)),
            stdout=subprocess.PIPE, text=True, start_new_session=True,
            preexec_fn=_die_with_parent,
        )
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        if proc.returncode != 0:
            raise RuntimeError(f"worker exited with {proc.returncode}")
        lines = [ln for ln in out.splitlines() if ln.startswith(RESULT_TAG)]
        if not lines:
            raise RuntimeError("worker printed no result")
        return json.loads(lines[-1][len(RESULT_TAG):])
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish the clean-up
        if proc is not None and proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        left = _reap(run_id)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".perfbench_work"))
        except OSError:
            pass  # a concurrent run still uses it
        if left:
            raise RuntimeError(f"processes still alive after the run: {left}")


def main() -> int:
    signal.signal(signal.SIGTERM, _on_signal)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("popelines_spark/__init__.py", "__spark_entry__.py",
                 "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"run from a popelines_spark checkout: {need} is missing",
                  file=sys.stderr)
            return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    try:
        result = _run_worker(args, root, time.time() + DEADLINE_S)
    except (Stopped, subprocess.TimeoutExpired, RuntimeError) as exc:
        print(f"benchmark run failed: {exc}", file=sys.stderr)
        return 1
    declared = spec["per_layer" if args.trace else "end_to_end"]
    metrics = result["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: metrics[m["name"]] for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
