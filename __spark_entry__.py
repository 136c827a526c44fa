"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline on sf0.001 (SURVEY.md §7.4):
scan → per-series MPX kernel fused with the tier-1 rollup, one Catalyst
plan.

``queries()`` / ``oracle_sql()`` — the query registry
(``tsmp_spark/queries.py``). Every query is checked against a DuckDB
oracle, including the matrix-profile kernels themselves via a brute-force
z-normalized MP written in pure SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# make tsmp_spark importable regardless of the driver's cwd
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from pyspark.sql import functions as F

    from tsmp_spark.operators.matrix_profile import matrix_profile_tier1
    from tsmp_spark.operators.series import events_to_nested

    sf_dir = "/root/testdata/sf0.001"
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    # one-exchange conversion -> Arrow kernel that folds each series'
    # profile into its tier-1 buckets in the same task (see SCALE.md)
    tier1 = matrix_profile_tier1(events_to_nested(events), 8, 8)
    return tier1.select(
        "doc_id",
        F.col("bucket").cast("bigint").alias("bucket"),
        F.round("mp_min", 4).alias("mp_min"),
        F.col("pi_argmin").cast("bigint").alias("pi_argmin"),
        F.round("mp_avg", 4).alias("mp_avg"),
        F.col("n").cast("bigint").alias("n"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from tsmp_spark.queries import QUERIES

    def _utc(fn):
        # timestamp queries (gap-fill, streaming rollup) align buckets via
        # the session tz; the driver's own session may not pin it, and the
        # DuckDB oracles are tz-naive — force UTC per call
        def wrapped(spark, sf_dir):
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir)

        return wrapped

    return {k: _utc(fn) for k, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from tsmp_spark.queries import ORACLES

    return dict(ORACLES)
