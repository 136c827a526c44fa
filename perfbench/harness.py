"""Shared machinery of the benchmark: environment pins, in-memory spans,
Spark status-API stage metrics, process memory and order statistics.

Nothing here imports pyspark at module load: :func:`pin_environment` must
run before the engine is imported, because ``tsmp_spark.session`` reads
its thread pins and core count from the environment at import and call
time.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
import urllib.request
from urllib.parse import urlparse

#: root of the checkout the benchmark runs in (the parent of this directory)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: one BLAS/OpenMP thread per Python worker: Spark supplies the parallelism
THREAD_PINS = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
    "NUMEXPR_NUM_THREADS",
)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(tmp_root: str) -> dict:
    """Pin what the engine reads from the environment, before it is imported.

    - ``SPARK_GRAFT_CPUS``: Spark's task slots, one fewer than the cores
      this process may run on (``nproc``), at least one; ``session.get_spark``
      otherwise assumes 32. The spare core runs the driver, JIT and GC
      threads; with a task on every core, CPU time taken by the hypervisor
      on a shared host stretched job times about twice as much.
    - ``TSMP_SPARK_DRIVER_MEM``: a sixteenth of RAM, 1-4 GiB; the session's
      48g default is larger than many hosts, and the heap is pre-touched.
    - ``SPARK_LOCAL_DIRS``, ``TMPDIR``: shuffle files, block stores and
      Python temp files go under the benchmark's own temp root.
    - the BLAS/OpenMP thread pins, and ``PYTHONPATH`` so Python workers
      import the checkout's ``tsmp_spark``.
    """
    cpus = len(os.sched_getaffinity(0))
    ram_mb = mem_total_mb()
    local_dirs = os.path.join(tmp_root, "spark-local")
    os.makedirs(local_dirs, exist_ok=True)
    python_path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = {
        "SPARK_GRAFT_CPUS": str(max(1, cpus - 1)),
        "TSMP_SPARK_DRIVER_MEM": f"{max(1024, min(4096, ram_mb // 16))}m",
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp_root,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(python_path),
        **{k: "1" for k in THREAD_PINS},
    }
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {"nproc": cpus, "ram_mb": ram_mb, **env}


def spark_conf(tmp_root: str, ui: bool) -> dict[str, str]:
    """``extra_conf`` for ``session.get_spark``. The web UI (and with it the
    status REST API) is on only in the traced run."""
    return {
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        # the whole heap is committed and touched at start, so the JVM's
        # peak RSS does not follow G1's run-to-run heap sizing; no perf-data
        # file in /tmp, so the run writes only inside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp_root} -Xms{os.environ['TSMP_SPARK_DRIVER_MEM']}"
            " -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A span is ``(id, trace, name, parent, start, end)``; spans of one
    iteration share ``trace``. When disabled, :meth:`span` records nothing
    and costs one branch, so the untraced loop runs the same code.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.trace_id: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "trace": self.trace_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def per_trace(self, name: str) -> list[float]:
        """Seconds spent in spans called ``name``, summed per iteration."""
        acc: dict = {}
        for s in self.spans:
            if s["name"] == name and s["end"] is not None:
                acc[s["trace"]] = acc.get(s["trace"], 0.0) + s["end"] - s["start"]
        return list(acc.values())

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SparkStatus:
    """Stage metrics from the driver's status REST API (web UI on localhost)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _settle(self) -> list[dict]:
        """Jobs, once the UI listener has caught up with the last job."""
        deadline = time.monotonic() + 10
        while True:
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.2)

    def group_metrics(self, groups: list[str]) -> dict[str, float]:
        """Per job group (one traced iteration each): sums over its completed
        stages, then the median over groups. ``task_skew`` is max / median
        task run time in the group's heaviest stage."""
        jobs = self._settle()
        stages = {s["stageId"]: s for s in self._get("/stages?status=complete")}
        rows = []
        for g in groups:
            gj = [j for j in jobs if j.get("jobGroup") == g]
            gs = [stages[i] for j in gj for i in j["stageIds"] if i in stages]
            if not gs:
                continue
            heavy = max(gs, key=lambda s: s["executorRunTime"])
            q = self._get(
                f"/stages/{heavy['stageId']}/{heavy['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            rows.append(
                {
                    "spark.jobs": len(gj),
                    "spark.stages": len(gs),
                    "spark.tasks": sum(s["numCompleteTasks"] for s in gs),
                    "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in gs),
                    "spark.shuffle_records": sum(s["shuffleWriteRecords"] for s in gs),
                    "spark.executor_run_s": sum(s["executorRunTime"] for s in gs) / 1e3,
                    "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in gs) / 1e9,
                    "spark.gc_s": sum(s["jvmGcTime"] for s in gs) / 1e3,
                    "spark.task_skew": q[1] / q[0] if q[0] > 0 else 1.0,
                }
            )
        if not rows:
            raise RuntimeError("status API returned no stages for the traced iterations")
        return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def cpu_jiffies() -> tuple[int, int]:
    """``(stolen, wanted)`` jiffies of all CPUs since boot, from
    ``/proc/stat``: time the hypervisor ran something else while this
    machine's CPUs had work, and that plus the time they ran it."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return steal, user + nice + system + irq + softirq + steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two :func:`cpu_jiffies` readings
    that the hypervisor took."""
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def unstolen_s(wall_s: float, steal: float) -> float:
    """Wall seconds less the hypervisor's share ``steal``: about the time
    the work takes when this machine's CPUs run whenever it has work for
    them. On a shared host, wall time follows the neighbours' load."""
    return wall_s * (1.0 - steal)


def descendants_hwm_mb() -> float:
    """Sum of peak resident set (``VmHWM``) over every process descended
    from this one: the driver JVM and its Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb, stack = 0, list(children.get(os.getpid(), []))
    while stack:
        p = stack.pop()
        stack.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, as
    ``(value, percentile)``. Needs more than ten samples; with fewer it is
    the maximum, reported as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def checksum(df) -> tuple[int, int]:
    """Row count and an order-free hash of every column of ``df``, so no
    column can be pruned. Doubles are rounded to 9 decimals first: a sum
    merged in another order may move the last bit, which is not a wrong
    row."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [
        F.round(F.col(f.name), 9) if isinstance(f.dataType, T.DoubleType) else F.col(f.name)
        for f in df.schema.fields
    ]
    h = F.pmod(F.xxhash64(*cols), F.lit(1 << 32))
    r = df.agg(F.count(F.lit(1)).alias("rows"), F.sum(h).alias("h")).collect()[0]
    return int(r["rows"]), int(r["h"] or 0)
