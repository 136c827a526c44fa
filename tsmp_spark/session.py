"""SparkSession factory with the engine's standard configuration.

Defaults follow the scale guidance: task slots and driver heap sized to
the host (affinity mask, /proc/meminfo) unless pinned by environment,
AQE on (runtime re-plan + skew-join), shuffle partitions sized to cores
for local mode, Arrow enabled for every pandas-UDF boundary, UTC session
timezone for oracle comparability.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: one BLAS/FFT thread per task — Spark provides the parallelism; nested
#: numpy threading oversubscribes cores and destroys scaling linearity
_THREAD_PINS = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}
for _k, _v in _THREAD_PINS.items():
    os.environ.setdefault(_k, _v)


def _host_cpus() -> int:
    """Cores this process may run on (its affinity mask, not the host's)."""
    return len(os.sched_getaffinity(0))


def _host_driver_memory() -> str:
    """Half of the host's physical RAM (``MemTotal`` in /proc/meminfo), at
    least 1g: the driver JVM hosts every local-mode task, and the Python
    workers and page cache need the rest."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, kib // 2048)}m"


def get_spark(
    app_name: str = "tsmp_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session. Task slots come from ``cpus``, else
    ``SPARK_GRAFT_CPUS``, else :func:`_host_cpus`; the driver heap from
    ``TSMP_SPARK_DRIVER_MEM``, else :func:`_host_driver_memory`."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _host_cpus())
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory",
                os.environ.get("TSMP_SPARK_DRIVER_MEM") or _host_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in _THREAD_PINS.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
