"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload knn-uniform --seed 1 --seconds 16 --trace 0

Run from the root of a checkout of the repository. Inputs are generated
from --seed, the engine runs on local[3] through its public functions
only, every timed call's output is checked, and the last stdout line is
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 runs the traced layer tour instead and
reports the per-layer metrics (the spans go to .perfbench_out/).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# One core fewer than the 4-vCPU host: the driver process, the JVM's GC,
# JIT and shuffle threads and the Arrow feeders get a core of their own
# instead of preempting tasks (at local[4] a 400k-point pass ran 7-10 s
# against 6-6.5 s, and spread wider).
CPUS = 3
DRIVER_MEM = "8g"  # session.py hard-codes -Xms8g; below that the JVM will not start
# untimed passes in set-up: a session's first pass runs about three times
# as long as a warm one, and its second still about a fifth longer
WARM_PASSES = 2


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str):
    from spark_aknn.session import get_spark

    return get_spark(
        "perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it every Python
    worker it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a wedged JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def reap_children(timeout_s: float = 30.0) -> None:
    from perfbench.probe import tree_pids

    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except OSError:
            pass


def setup(wl, work: str):
    """Generate inputs, start the session and run WARM_PASSES passes of
    the workload untimed. A session's first full-size pass runs well above
    later ones whatever it is warmed with (a tiny instance of the pass
    leaves most of the gap), and the second one still above the rest, so
    both are set-up cost. Returns (spark, phase seconds, the failures
    found in each warm-up pass's outputs); the checks are not timed."""
    from perfbench.trace import NullTracer

    t0 = time.perf_counter()
    wl.generate()
    t1 = time.perf_counter()
    spark = start_session(work)
    t2 = time.perf_counter()
    wl.open(spark)
    warm = 0.0
    errs: list[list[str]] = []
    for _ in range(WARM_PASSES):
        t3 = time.perf_counter()
        wl.run_pass(spark, NullTracer())
        warm += time.perf_counter() - t3
        errs.append(wl.check())
    phases = {
        "gen_s": t1 - t0,
        "start_s": t2 - t1,
        "warmup_s": warm,
        "setup_s": t2 - t0 + warm,
    }
    return spark, phases, errs


def timed_run(wl, spark, seconds: float) -> tuple[dict, int, int]:
    """Passes until their summed time reaches ``seconds``, each on a fresh
    draw of the seeded input (the bucketed ANN's work varies with the
    draw); inputs are generated and each pass's output is checked outside
    the timed region."""
    from perfbench.trace import NullTracer

    times: list[float] = []
    failed = 0
    while sum(times) < seconds:
        wl.redraw(len(times) + 1)
        t0 = time.perf_counter()
        wl.run_pass(spark, NullTracer())
        times.append(time.perf_counter() - t0)
        t1 = time.perf_counter()
        errs = wl.check()
        log(f"pass {len(times)}: {times[-1]:.2f} s, check {time.perf_counter() - t1:.2f} s")
        if errs:
            failed += 1
            log(f"check failed: {errs}")
    return {"items_per_s": statistics.median(wl.size / t for t in times)}, len(times), failed


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import spark_aknn  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "tools", "run_scaling.py")):
        print("perfbench: tools/run_scaling.py (calibration burns) is missing", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": os.path.join(work, "tmp"),
            # every JVM, the spark-submit launcher included: temp files in the
            # work dir, no /tmp/hsperfdata entry, and the heap faulted in at
            # session start (set-up) rather than page by page during the
            # timed passes
            "JAVA_TOOL_OPTIONS": (
                f"-XX:-UsePerfData -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_CPUS": str(CPUS),
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "data"))
    spark = None
    try:
        if args.trace:
            from perfbench.layers import traced_run

            result = traced_run(wl, args, work, ROOT)
        else:
            spark, phases, warm_errs = setup(wl, work)
            for errs in filter(None, warm_errs):
                log(f"warm-up pass check failed: {errs}")
            metrics, attempted, failed = timed_run(wl, spark, args.seconds)
            attempted += len(warm_errs)
            failed += sum(map(bool, warm_errs))
            stop_session(spark)
            spark = None
            log(" ".join(f"{k} {v:.2f}" for k, v in phases.items()))
            metrics["setup_s"] = phases["setup_s"]
            units = {"items_per_s": "1/s", "setup_s": "s"}
            result = {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
    finally:
        if spark is not None:
            stop_session(spark)
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
