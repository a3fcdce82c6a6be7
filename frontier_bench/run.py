"""Frontier-engine benchmark: one workload, closed loop, one client.

    python3 frontier_bench/run.py --workload crawl_polite_resume \
        --seed 1 --seconds 5 --trace 0

Run from the repository root. One process drives the engine's public
API on ``local[<cores>]``: after set-up and an untimed warm-up it runs
timed passes back to back until ``--seconds`` have elapsed, checks
every pass, and prints one JSON line with the metrics (README.md lists
them) as its last line of standard output. ``--trace 1`` runs the
traced variant instead and reports the per-layer metrics (tracing.py).
Exits non-zero without a result when the engine package is missing or a
pass is wrong.
"""

from __future__ import annotations

import time

T_PROCESS0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "go_crawler_20251102_011312_url_crawlerv10_twotier_spark"
#: per-run scratch space inside the checkout (removed when the run ends)
WORK_DIR = ".frontier_bench_work"


def log(msg: str) -> None:
    print(f"[frontier_bench] {msg}", file=sys.stderr, flush=True)


def tail(values: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it (the
    11th-largest value); the maximum when there are fewer samples."""
    s = sorted(values)
    return s[-11] if len(s) >= 11 else s[-1]


def jvm_rss_peak_mb(spark) -> float:
    """VmHWM of the driver JVM (which is every executor in local mode)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def _setup_env(work: str, trace: bool) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine from it."""
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # JVM scratch (java.io.tmpdir, perf-data file) stays in the checkout too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, BENCH_DIR, os.environ.get("PYTHONPATH")) if p
    )
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{events} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def end_to_end(passes, setup_s: float, peak_mb: float) -> dict:
    steps = [s for p in passes for s in p.supersteps]
    return {
        "setup_s": (setup_s, "s"),
        "pages_per_s": (statistics.median(p.pages / p.wall_s for p in passes), "1/s"),
        # the sample counts behind the medians and the tail
        "timed_passes": (len(passes), "count"),
        "superstep_p50_s": (statistics.median(steps), "s"),
        "superstep_tail_s": (tail(steps), "s"),
        "superstep_samples": (len(steps), "count"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def measure(args, work: str, workloads) -> tuple[dict, int, list[str]]:
    """Set up, warm up and run the passes. Returns the metrics, the
    number of passes checked, and the traced job groups (trace run only)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="frontier_bench", cores=len(os.sched_getaffinity(0)))
    session_s = time.perf_counter() - t0
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        wl.prepare()
        log(f"session {session_s:.1f}s, prepared at {time.perf_counter() - T_PROCESS0:.1f}s")
        attempted = 0

        def checked(p, check=wl.check):
            nonlocal attempted
            attempted += 1
            err = check(p)
            if err:
                raise workloads.PassFailed(err)
            return p

        p = checked(wl.warm_up())
        log(f"warm-up {p.wall_s:.1f}s supersteps {p.supersteps}")
        if args.trace:
            import tracing

            metrics, groups = tracing.traced_run(spark, wl, checked, session_s)
            return metrics, attempted, groups
        setup_s = time.perf_counter() - T_PROCESS0
        passes = []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < args.seconds:
            passes.append(checked(wl.run_pass()))
            log(f"timed pass {passes[-1].wall_s:.1f}s supersteps {passes[-1].supersteps}")
        return end_to_end(passes, setup_s, jvm_rss_peak_mb(spark)), attempted, []
    finally:
        _stop(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, BENCH_DIR]
    try:
        __import__(PACKAGE)
    except ImportError as exc:
        print(f"engine package not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, WORK_DIR, str(os.getpid()))
    _setup_env(work, bool(args.trace))
    try:
        metrics, attempted, groups = measure(args, work, workloads)
        if groups:
            import tracing

            metrics.update(tracing.event_log_metrics(os.path.join(work, "events"), groups))
    except workloads.PassFailed as exc:
        print(f"{args.workload}: pass failed its check: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(
        json.dumps(
            {
                "correct": True,
                "attempted": attempted,
                "failed": 0,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
