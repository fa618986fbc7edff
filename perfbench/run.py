#!/usr/bin/env python3
"""Lifecycle benchmark of the upgini_spark engine.

    python3 perfbench/run.py --workload transform_tokens --seed 1 --seconds 8 --trace 0

Runs one workload in this fresh process on ``local[nproc]`` with the
engine's default session settings, from the root of a checkout of the
repository. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: process start to the end of the first (cold) pass,
  excluding the generation of uncached inputs;
- ``pass_s``: median wall time of the timed passes. They follow the cold
  pass, its untimed output checks and the workload's warm-up passes, and
  run until ``--seconds`` have passed and at least two were timed;
  standard error gives their number and every pass time;
- ``rows_per_s``: input rows / ``pass_s``;
- ``py_peak_rss_mb``: peak resident memory of this Python driver, where
  collects land.

``--trace 1`` reports per-layer counters instead (see ``layertrace.py``): it
times untraced passes (after the warm-up ones) for half of ``--seconds``,
then traced passes for the other half (at least two of each), and
reports each counter's median over the traced passes.

Every run checks the cold pass's outputs, untimed (``transform_tokens``
keeps none and checks a pass of its own), and compares every pass's
output with the cold pass's at the end; a pass that raises or fails a
check counts in ``failed``.

Scratch files (input cache, Spark local dirs, event logs) stay under
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
MIN_PASSES = 2


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the JVM behind the session's gateway."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def start_session(workload: str, trace: bool, event_dir: str):
    from inputs import local_master, scratch_conf
    from upgini_spark import get_spark

    conf = scratch_conf(WORK)
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
        })
    return get_spark(f"perfbench-{workload}", master=local_master(), extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when its
    stdin closes)."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=120)


class Runner:
    """Times passes of one workload and counts the failed ones."""

    def __init__(self, wl) -> None:
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.outputs: list = []
        self.check_errors: list[str] = []

    def one_pass(self) -> float | None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.outputs.append(self.wl.run())
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        return time.perf_counter() - t0

    def passes(self, seconds: float, pass_fn=None, warmup: int = 0) -> list[float]:
        """Runs ``warmup`` passes untimed, then times passes until
        ``seconds`` have passed and at least ``MIN_PASSES`` ran."""
        pass_fn = pass_fn or self.one_pass
        for _ in range(warmup):
            pass_fn()
        times: list[float] = []
        t_end = time.perf_counter() + seconds
        while len(times) < MIN_PASSES or time.perf_counter() < t_end:
            t = pass_fn()
            if t is not None:
                times.append(t)
            elif self.failed > MIN_PASSES:
                break
        return times

    def check(self) -> None:
        """The untimed output checks, run right after the cold pass. They
        count as one attempted pass, failed if they or the cross-pass
        comparison find an error."""
        self.attempted += 1
        self._collect(lambda: self.wl.check(self.outputs))

    def compare(self) -> None:
        self._collect(lambda: self.wl.compare(self.outputs))
        self.failed += bool(self.check_errors)

    def _collect(self, check) -> None:
        try:
            errors = check()
        except Exception:
            traceback.print_exc()
            errors = ["output check raised"]
        for e in errors:
            print(f"check failed: {e}", file=sys.stderr)
        self.check_errors += errors


def traced_metrics(spark, runner: Runner, seconds: float, event_dir: str) -> dict[str, float]:
    import layertrace as T

    plain = runner.passes(seconds / 2, warmup=runner.wl.warmup)
    tracer = T.Tracer(spark)
    roots: list[tuple[int, dict]] = []

    def traced_pass() -> float | None:
        with tracer.span("pass") as root:
            t = runner.one_pass()
        if t is not None:
            roots.append((root.idx, tracer.ratio_counts(root.idx)))
        return t

    tracer.install()
    try:
        runner.passes(seconds / 2, traced_pass)
    finally:
        tracer.uninstall()
    runner.compare()
    jvm_rss = jvm_peak_rss_mb(spark)
    stop_session(spark)
    groups = T.read_event_log(event_dir)
    per_pass = [T.layer_metrics(tracer.spans, groups, idx, counts) for idx, counts in roots]
    if not per_pass:
        return {}
    metrics = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    untraced = statistics.median(plain)
    traced = metrics.pop("pass_s")
    metrics["trace_overhead_s"] = traced - untraced
    named = sum(metrics[f"{layer}.self_s"] for layer in T.LAYERS)
    metrics["attributed_share"] = named / traced
    metrics["jvm_peak_rss_mb"] = jvm_rss
    return metrics


UNITS = (
    ("rows_per_s", "rows/s"), ("_s", "s"), ("_mb", "MB"), ("_bytes", "bytes"),
    ("jobs", "count"), ("exchanges", "count"), ("_rows", "count"),
)


def unit(name: str) -> str:
    return next((u for suffix, u in UNITS if name.endswith(suffix)), "ratio")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "upgini_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import inputs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.chdir(WORK)
    event_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{os.getpid()}")
    if args.trace:
        os.makedirs(event_dir)

    t0 = time.perf_counter()
    data = inputs.ensure_inputs(WORK, args.workload, args.seed)
    generate_s = time.perf_counter() - t0
    spark = start_session(args.workload, bool(args.trace), event_dir)

    runner = Runner(workloads.WORKLOADS[args.workload](spark, data))
    cold = runner.one_pass()
    setup_s = process_age_s() - generate_s
    t_check = time.perf_counter()
    runner.check()
    check_s = time.perf_counter() - t_check

    if args.trace:
        metrics = traced_metrics(spark, runner, args.seconds, event_dir)
    else:
        times = runner.passes(args.seconds, warmup=runner.wl.warmup)
        runner.compare()
        pass_s = statistics.median(times) if times else float("nan")
        metrics = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "rows_per_s": runner.wl.rows / pass_s,
            "py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }
        print(f"\npass_s is the median of {len(times)} passes; "
              f"pass_times={[round(t, 3) for t in times]} cold_pass_s={cold} "
              f"generate_s={generate_s:.3f} check_s={check_s:.3f}", file=sys.stderr)
        stop_session(spark)

    result = {
        "correct": runner.failed == 0 and cold is not None and bool(metrics),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in sorted(metrics.items())},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
