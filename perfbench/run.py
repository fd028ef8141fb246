"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 15 --trace 0

Run from the repository root. The program under test is the
``adk_noui_vectordb_spark`` package next to this directory, driven through
its public Chroma-style API by one client in a closed loop (each call
waits for the previous reply). Spark runs at ``local[N]`` with N the
number of CPUs this process may use (``SPARK_GRAFT_CPUS``), scratch space
(``SPARK_LOCAL_DIRS``, ``TMPDIR``) under ``.bench_work/`` of the
repository, which is removed at exit.

Human-readable lines describe the run; the last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``; see BENCHMARK.json). Exits non-zero without
a result when the package is missing or set-up fails.
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
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "adk_noui_vectordb_spark"
DRIVER_MEMORY = "2g"
PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 10.0


def _env(work: str) -> dict:
    """Pin the session: every usable CPU, scratch dirs inside the work dir."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
        # no perf data file outside the checkout; C1 only, so a minute-long
        # run measures compiled code rather than a race with the C2 compiler.
        # C1 alone gets a 48 MB code cache by default, which a traced run
        # fills: compilation then stops and method-handle linking fails.
        "JAVA_TOOL_OPTIONS": (
            f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m -Djava.io.tmpdir={tmp}"
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(pinned)
    tempfile.tempdir = None
    return pinned


def _stop(spark) -> None:
    """Stop the session and wait for its JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _adopt_orphans() -> None:
    """Become the subreaper of every process started below this one, so a
    process orphaned there (a Python worker the JVM forked, say) is
    re-parented here rather than to init, and ``_reap`` waits for it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list:
    me = os.getpid()
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(pid))
    return out


def _reap() -> None:
    """Wait until every child (and adopted orphan) has ended: each gets
    ``REAP_GRACE_S`` to exit on its own, then SIGTERM, then SIGKILL."""
    deadline = time.monotonic() + REAP_GRACE_S
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sig = signal.SIGKILL
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through main's clean-up


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)  # names the metrics the result line carries
    sys.path.insert(0, ROOT)
    from perfbench import report, workloads
    from perfbench.calibrate import Calibrator
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    _adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = cal = None
    try:
        pinned = _env(work)
        cal = Calibrator(int(pinned["SPARK_GRAFT_CPUS"]))
        t_start = time.perf_counter()
        from adk_noui_vectordb_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_start
        tracer = Tracer(bool(args.trace), spark)
        run = workloads.Run(spark, tracer, cal, work, args.seed)
        coll, ledger = workloads.WORKLOADS[args.workload](run, args.seconds)
        setup_s = run.t_setup_done - t_start
        store = workloads.store_stats(coll)
        if args.trace:
            time.sleep(0.5)  # let the listener bus settle the last op's stages
            jobs = tracer.job_counts()
            workloads.graph_probe(run, coll, ledger)
            workloads.index_probe(run)
            trace_path = os.path.join(ROOT, ".bench_work", "traces", f"{args.workload}-seed{args.seed}.jsonl")
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            tracer.dump(trace_path)
        else:
            jobs = {}
        lines, metrics = report.build(
            args, run, tracer, jobs, store, workloads.live_bytes(ledger), setup_s, session_s, pinned, cal
        )
    finally:
        try:
            if spark is not None:
                _stop(spark)
            if cal is not None:
                cal.close()
        finally:
            _reap()
            shutil.rmtree(work, ignore_errors=True)

    for line in lines:
        print(line)
    for err in run.errors[:5]:
        print("FAILED " + err, file=sys.stderr)
    names = [x["name"] for x in bench["per_layer" if args.trace else "end_to_end"]]
    out = {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in names}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
