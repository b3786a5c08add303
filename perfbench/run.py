"""Run one benchmark workload against the feature engine.

    python3 perfbench/run.py --workload feat121_long --seed 1 --seconds 15 --trace 0

Builds the seeded inputs (cached under ``.perfbench/``), starts a Spark
session on ``local[<usable cores>]``, warms up with a few untimed
iterations, then submits one job at a time (a closed loop with one client) until
``--seconds`` have passed, and checks every output.  The last line of
standard output is one JSON object::

    {"correct": true, "attempted": 7, "failed": 0,
     "metrics": {"wall_s": {"value": 2.41, "unit": "s"}, ...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` is a separate run that reports the per-layer metrics: it
times the loop untraced, then again with the Spark event log on and
spans around every call into a layer, then runs the per-layer probes.
The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="toy input sizes, for testing the benchmark")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="check against a deliberately wrong expectation, "
                         "for testing that failures are reported")
    return ap.parse_args(argv)


@dataclass
class Loop:
    walls: list[float] = field(default_factory=list)
    samples: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)


def timed_loop(wl, spark, seconds: float, tr, sampler=None) -> Loop:
    """Iterations back to back until ``seconds`` have passed (at least
    one).  Checks and /proc reads sit outside each iteration's wall."""
    loop = Loop()
    t_end = time.perf_counter() + seconds
    i = 0
    while i == 0 or time.perf_counter() < t_end:
        if sampler is not None:
            sampler.reset()
        try:
            with tr.span("iteration", iteration=i):
                t0 = time.perf_counter()
                wl.iteration(spark, i, tr)
                wall = time.perf_counter() - t0
            errors = wl.after_iteration(i)
        except Exception:   # noqa: BLE001 — a failed job is a result
            errors = [f"iteration {i} raised:\n{traceback.format_exc()}"]
        loop.attempted += 1
        if errors:
            loop.failed += 1
            loop.errors += errors
        else:
            loop.walls.append(wall)
            if sampler is not None:
                loop.samples.append(sampler.read())
        i += 1
    return loop


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _checked(fn, *args) -> list[str]:
    """Errors of a check; a check that raises is one failure."""
    try:
        return fn(*args)
    except Exception:   # noqa: BLE001
        return [f"{fn.__qualname__} raised:\n{traceback.format_exc()}"]


def untraced_run(wl, host: dict, seconds: float) -> tuple:
    from perfbench.host import bigcache_active, start_session
    from perfbench.trace import NullTracer

    t0 = time.perf_counter()
    spark = start_session(host["cores"])
    host["bigcache_preload"] = bigcache_active()
    warm = _checked(wl.warm_up, spark)
    setup_s = time.perf_counter() - t0
    loop = timed_loop(wl, spark, seconds, NullTracer())
    deep = _checked(wl.deep_checks, spark)
    spark.stop()
    wall = _median(loop.walls)
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall,
        "tokens_per_s": wl.tokens / wall if wall else 0.0,
    }
    return metrics, loop, warm + deep


def traced_run(wl, host: dict, seconds: float, tag: str) -> tuple:
    import shutil

    from perfbench.host import bigcache_active, start_session
    from perfbench.procfs import ProcSampler
    from perfbench.trace import NullTracer, Tracer, straggler_ratio, task_metrics

    errors: list[str] = []

    def untraced_loop(spark) -> Loop:
        errors.extend(_checked(wl.warm_up, spark))
        loop = timed_loop(wl, spark, seconds / 3, NullTracer())
        spark.stop()
        return loop

    # trace.overhead_s compares the traced loop with the same loop run
    # untraced after it, in this process.  A first untraced loop warms the
    # JVM, so that neither compared loop runs on a cold JIT.
    t0 = time.perf_counter()
    spark = start_session(host["cores"])
    build_s = time.perf_counter() - t0
    host["bigcache_preload"] = bigcache_active()
    before = untraced_loop(spark)

    log_dir = os.path.join(WORK, "eventlog", tag)
    shutil.rmtree(log_dir, ignore_errors=True)
    spark = start_session(host["cores"], event_log_dir=log_dir)
    tr = Tracer(spark.sparkContext)
    with tr.span("warm_up"):
        errors += _checked(wl.warm_up, spark)
    loop = timed_loop(wl, spark, seconds / 3, tr, ProcSampler())
    probes = wl.probes(spark, tr)
    errors += _checked(wl.deep_checks, spark)
    spark.stop()              # finishes the event log
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tr.dump(os.path.join(WORK, "traces", f"{tag}.json"))
    after = untraced_loop(start_session(host["cores"]))

    tasks = task_metrics(log_dir)
    n = max(1, loop.attempted)
    looped = [t for t in tasks if t["group"].rsplit("#", 1)[-1].isdigit()]
    per_iter: dict[str, list[dict]] = {}
    for t in looped:
        per_iter.setdefault(t["group"].rsplit("#", 1)[-1], []).append(t)
    s = loop.samples
    metrics = {
        "session.build_s": build_s,
        "worker.minor_faults": _median(x.worker_minor_faults for x in s),
        "jvm.minor_faults": _median(x.jvm_minor_faults for x in s),
        "jvm.peak_rss_mb": _median(x.jvm_peak_mb for x in s),
        "worker.peak_rss_mb": _median(x.worker_peak_mb for x in s),
        "worker.count": _median(x.worker_count for x in s),
        "tasks.executor_run_s": sum(t["run_s"] for t in looped) / n,
        "tasks.executor_cpu_s": sum(t["cpu_s"] for t in looped) / n,
        "tasks.jvm_gc_s": sum(t["gc_s"] for t in looped) / n,
        "shuffle.write_bytes": sum(t["shuffle_write"] for t in looped) / n,
        "shuffle.read_bytes": sum(t["shuffle_read"] for t in looped) / n,
        "spill.disk_bytes": sum(t["spill"] for t in looped) / n,
        "tasks.max_over_median_s": _median(
            straggler_ratio(ts) for ts in per_iter.values()),
        "trace.overhead_s": _median(loop.walls) - _median(after.walls),
    }
    metrics.update(probes)
    metrics.update(wl.layer_metrics(tasks, tr))
    for other in (before, after):
        loop.attempted += other.attempted
        loop.failed += other.failed
        loop.errors += other.errors
    return metrics, loop, errors


def report(spec: dict, trace: int, metrics: dict) -> dict:
    """Every metric BENCHMARK.json declares for this mode, with its unit.
    A layer a workload does not exercise reads 0."""
    declared = spec["per_layer" if trace else "end_to_end"]
    names = {m["name"] for m in declared}
    unknown = sorted(set(metrics) - names)
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {unknown}")
    return {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                        "unit": m["unit"]} for m in declared}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import atr_adaptive_laguerre_spark  # noqa: F401 — fail before any work

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from perfbench.host import pin_environment, shutdown_jvm
    from perfbench.inputs import InputCache
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    host = pin_environment(WORK)
    wl = WORKLOADS[args.workload](args.seed, args.smoke, host["cores"], WORK,
                                  corrupt_expected=args.corrupt_expected)
    wl.prepare(InputCache(os.path.join(WORK, "cache")))
    tag = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    try:
        if args.trace:
            metrics, loop, errors = traced_run(wl, host, args.seconds, tag)
        else:
            metrics, loop, errors = untraced_run(wl, host, args.seconds)
    finally:
        shutdown_jvm()

    attempted = loop.attempted + 1        # + the per-run output checks
    failed = loop.failed + (1 if errors else 0)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": report(spec, args.trace, metrics)}
    details = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
               "smoke": args.smoke, "host": host, "tokens": wl.tokens,
               "walls_s": loop.walls, "errors": loop.errors + errors}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump({**details, "result": result}, f, indent=1)
    for e in details["errors"]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print("perfbench " + json.dumps({k: details[k] for k in
                                     ("workload", "seed", "host", "tokens",
                                      "walls_s")}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
