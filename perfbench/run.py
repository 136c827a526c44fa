"""Benchmark of the tsmp_spark engine on seeded inputs.

    python3 perfbench/run.py --workload profile_long --seed 1 --seconds 6 --trace 0

Closed loop: one driver process runs one job at a time on
``local[nproc - 1]``. Set-up (session start, input generation and caching)
runs three times in the same driver; ``setup_s`` is its median. Untimed warm
jobs follow. Then jobs run back to back for ``--seconds`` (at least three),
and the last job's output is checked against a numpy recomputation. Every
job whose output differs from the checked one counts as failed.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it carries the environment, sample counts and workload-specific
figures. See README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (  # noqa: E402
    ROOT,
    SparkStatus,
    Tracer,
    cpu_jiffies,
    descendants_hwm_mb,
    pin_environment,
    spark_conf,
    steal_share,
    tail,
    unstolen_s,
)
from workloads import LAYER_DEFAULTS, WORKLOADS, CheckpointCycle  # noqa: E402

SETUPS = 3
#: untimed jobs before timing: the first pays Janino code generation and
#: Python worker start, the rest let the JIT catch up (in a fresh JVM,
#: rollup_tokens job times fall by about a third over the first ten jobs,
#: half of it by the fourth; more warm jobs would not fit the time a
#: comparison of 48 runs has)
WARM_JOBS = 4


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_spark() -> None:
    """Stop the SparkContext and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "numpy": numpy.__version__, "pyarrow": pyarrow.__version__}


def run(args, tmp_root: str, env: dict) -> dict:
    from tsmp_spark.session import get_spark

    wl = WORKLOADS[args.workload](args.seed, tmp_root)
    conf = spark_conf(tmp_root, ui=bool(args.trace))

    setups, sessions, gens, spark = [], [], [], None
    for _ in range(SETUPS):
        if spark is not None:
            wl.release()
            spark.stop()
        t0, j0 = time.perf_counter(), cpu_jiffies()
        spark = get_spark(app_name=f"tsmp_bench_{wl.name}", extra_conf=conf)
        sessions.append(time.perf_counter() - t0)
        gens.append(wl.setup(spark))
        setups.append({"wall_s": time.perf_counter() - t0, "steal": steal_share(j0, cpu_jiffies())})
    t0 = time.perf_counter()
    for _ in range(WARM_JOBS):
        wl.warm()
    warm_s = time.perf_counter() - t0

    # the traced run alternates untraced and traced jobs, so the tracing
    # overhead is measured under the same conditions
    plain, traced = Tracer(False), Tracer(bool(args.trace))
    runs = {False: [], True: []}
    attempted = raised = 0
    deadline = time.perf_counter() + args.seconds
    # the traced run needs one untraced and one traced job
    min_jobs = max(wl.min_jobs, 2 * args.trace)
    while time.perf_counter() < deadline or attempted < min_jobs:
        tr = traced if args.trace and attempted % 2 else plain
        tr.trace_id = f"it{attempted}"
        spark.sparkContext.setJobGroup(tr.trace_id, wl.name)
        attempted += 1
        try:
            j0 = cpu_jiffies()
            sample = wl.iterate(tr)
            sample["steal"] = steal_share(j0, cpu_jiffies())
            runs[tr.enabled].append(sample)
        except Exception:
            raised += 1
            traceback.print_exc()
    spark.sparkContext.setJobGroup("verify", wl.name)
    rss_mb = descendants_hwm_mb()

    t0 = time.perf_counter()
    reference, errors = wl.verify()
    verify_s = time.perf_counter() - t0
    done = runs[False] + runs[True]
    wrong = sum(bool(errors) or not wl.same_output(s, reference) for s in done)
    failed = raised + wrong
    info = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, **versions(),
        "env": env, "setups": setups, "warm_s": warm_s, "verify_s": verify_s,
        "samples": len(runs[False]),
        "jobs": [{"wall_s": s["job_s"], "steal": s["steal"]} for s in runs[False]],
        "errors": errors[:5],
    }

    if args.trace:
        metrics = dict(LAYER_DEFAULTS)
        metrics.update(wl.layer_metrics(traced, runs[True], int(env["SPARK_GRAFT_CPUS"])))
        metrics["session.get_spark_s"] = statistics.median(sessions)
        metrics["fixtures.generate_s"] = statistics.median(gens)
        metrics.update(SparkStatus(spark).group_metrics(sorted({s["trace"] for s in traced.spans})))
        on = statistics.median(unstolen_s(s["job_s"], s["steal"]) for s in runs[True])
        off = statistics.median(unstolen_s(s["job_s"], s["steal"]) for s in runs[False])
        metrics["trace.job_s_p50"] = on
        metrics["trace.overhead_s"] = on - off
        info["traced_samples"] = len(runs[True])
        if wl.checkpoint_cycle:
            # after the stage metrics: its Spark jobs are not the workload's
            attempted += 1
            traced.trace_id = CheckpointCycle.name
            spark.sparkContext.setJobGroup(CheckpointCycle.name, wl.name)
            try:
                cycle, info["checkpoint_cycle"], cycle_errors = CheckpointCycle(
                    args.seed, tmp_root
                ).measure(spark, traced)
                metrics.update(cycle)
            except Exception:
                traceback.print_exc()
                cycle_errors = ["the checkpoint cycle raised"]
            failed += bool(cycle_errors)
            info["errors"] += cycle_errors[:5]
        traced.dump(os.path.join(ROOT, ".bench_out", f"spans-{wl.name}-seed{args.seed}.json"))
    else:
        times = [unstolen_s(s["job_s"], s["steal"]) for s in runs[False]]
        p50 = statistics.median(times)
        metrics = {
            "setup_s": statistics.median(unstolen_s(s["wall_s"], s["steal"]) for s in setups),
            "job_s_p50": p50,
            "rolled_points_per_s": wl.rolled_points(reference) / p50,
            "tokens_per_s": wl.tokens / p50,
            "peak_rss_mb": rss_mb,
        }
        # not bounded in BENCHMARK.json: each applies to some workloads
        # only, or (the tail) needs more samples than a run collects
        tail_s, tail_pct = tail(times)
        extra = {
            "failed_frac": failed / attempted,
            "job_s_tail": tail_s,
            "wall_setup_s": statistics.median(s["wall_s"] for s in setups),
            "wall_job_s_p50": statistics.median(s["job_s"] for s in runs[False]),
            "steal_share_p50": statistics.median(s["steal"] for s in runs[False]),
        }
        info["job_s_tail_percentile"] = tail_pct
        if wl.windows():
            extra["mp_windows_per_s"] = wl.windows() / p50
        info["metrics"] = {k: {"value": v, "unit": unit_of(k)} for k, v in extra.items()}
    print(json.dumps(info))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }


def unit_of(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_s", "_s_p50", "_tail")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "ratio", "efficiency", "skew", "per_row_out", "share_p50")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    tmp_root = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
    try:
        env = pin_environment(tmp_root)
        try:
            import submit_job  # noqa: F401
            import tsmp_spark  # noqa: F401
        except ImportError as e:
            print(f"the engine is not importable from {ROOT}: {e}", file=sys.stderr)
            return 2
        try:
            result = run(args, tmp_root, env)
        finally:
            stop_spark()
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
        with_parent = os.path.dirname(tmp_root)
        if os.path.isdir(with_parent) and not os.listdir(with_parent):
            os.rmdir(with_parent)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
