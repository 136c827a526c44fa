"""``gap_fill`` and ``retention_expire`` (window forms) against the
spine + join and broadcast-join forms they replaced.

The reference functions below are the replaced implementations, kept
only here as the equivalence oracle. Inputs cover both fill modes, a
non-``doc_id`` key, single-bucket keys, NULL buckets, duplicated
``(key, bucket)`` rows and observed rows whose fill column is NULL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from tsmp_spark.operators import gap_fill, retention_expire


def _gap_fill_join(
    tier: DataFrame,
    key_col: str = "doc_id",
    bucket_col: str = "bucket",
    fill_cols: tuple[str, ...] = ("mp_min", "mp_avg"),
    locf: bool = False,
    interpolate: bool = False,
) -> DataFrame:
    """Per-key [min, max] spine from a groupBy, ``sequence()`` + explode,
    left-joined back to the tier."""
    spine = (
        tier.groupBy(key_col)
        .agg(F.min(bucket_col).alias("_lo"), F.max(bucket_col).alias("_hi"))
        .select(key_col, F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias(bucket_col))
    )
    joined = spine.join(tier, [key_col, bucket_col], "left")
    joined = joined.withColumn("gap_filled", F.col("n").isNull())
    wp = Window.partitionBy(key_col).orderBy(bucket_col).rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.partitionBy(key_col).orderBy(bucket_col).rowsBetween(0, Window.unboundedFollowing)
    if locf:
        for c in fill_cols:
            joined = joined.withColumn(c, F.last(c, ignorenulls=True).over(wp))
    if interpolate:
        b = F.col(bucket_col)
        for c in fill_cols:
            obs_b = F.when(F.col(c).isNotNull(), b)
            pv = F.last(c, ignorenulls=True).over(wp)
            pb = F.last(obs_b, ignorenulls=True).over(wp)
            nv = F.first(c, ignorenulls=True).over(wn)
            nb = F.first(obs_b, ignorenulls=True).over(wn)
            lerp = pv + (nv - pv) * ((b - pb) / (nb - pb))
            joined = joined.withColumn(
                c,
                F.when(F.col(c).isNotNull(), F.col(c)).when(pv.isNotNull() & nv.isNotNull(), lerp),
            )
    return joined


def _retention_broadcast(
    tiers: DataFrame, horizon_buckets: int, bucket_col: str = "bucket", key_col: str = "doc_id"
) -> DataFrame:
    """Per-key latest bucket from a groupBy, broadcast-joined back."""
    latest = tiers.groupBy(key_col).agg(F.max(bucket_col).alias("_latest"))
    return (
        tiers.join(F.broadcast(latest), key_col)
        .filter(F.col(bucket_col) > F.col("_latest") - horizon_buckets)
        .drop("_latest")
    )


def _tier_rows(seed: int, key_type: str) -> list[tuple]:
    """(key, bucket, v, w, n) rows: gapped keys, a single-bucket key, a
    key whose only bucket is NULL, NULL buckets, duplicated (key, bucket)
    rows (identical ``v``, distinct ``w``) and observed rows with NULL ``v``."""
    rng = np.random.default_rng(seed)
    rows = []

    def key(k: int):
        return k if key_type == "bigint" else f"k{k}"

    for k in range(6):
        lo = int(rng.integers(-5, 20))
        buckets = sorted({lo, *(lo + int(d) for d in rng.integers(0, 30, size=6))})
        for b in buckets:
            v = None if rng.random() < 0.2 else round(float(rng.normal()), 9)
            rows.append((key(k), b, v, float(rng.random()), int(rng.integers(1, 9))))
            if rng.random() < 0.25:
                rows.append((key(k), b, v, float(rng.random()), int(rng.integers(1, 9))))
        if rng.random() < 0.5:
            rows.append((key(k), None, 1.5, 0.5, 1))
    rows += [
        (key(100), 7, 2.0, 0.25, 3),  # single bucket
        (key(101), None, 3.0, 0.75, 2),  # only a NULL bucket
        (key(102), 4, None, 0.5, 1),  # single bucket, NULL fill value
        (key(103), 0, 1.0, 0.1, 1),
        (key(103), 0, 1.0, 0.2, 1),  # duplicate at the first bucket
        (key(103), 3, 4.0, 0.3, 1),
        (key(103), 3, 4.0, 0.4, 1),  # duplicate at the last bucket
    ]
    return rows


def _schema(key_col: str, key_type: str) -> str:
    return f"{key_col} {key_type}, bucket bigint, v double, w double, n bigint"


def _frame(spark, seed: int, key_col: str, key_type: str) -> DataFrame:
    return spark.createDataFrame(_tier_rows(seed, key_type), _schema(key_col, key_type))


def _sorted(df: DataFrame) -> pd.DataFrame:
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize(
    "mode,key_col,key_type,seed",
    [
        ("plain", "doc_id", "string", 1),
        ("locf", "doc_id", "string", 2),
        ("interpolate", "doc_id", "string", 3),
        ("locf", "user_id", "bigint", 4),
        ("interpolate", "user_id", "bigint", 5),
    ],
)
def test_gap_fill_matches_spine_join(spark, mode, key_col, key_type, seed):
    t = _frame(spark, seed, key_col, key_type)
    kw = dict(key_col=key_col, fill_cols=("v",), locf=mode == "locf",
              interpolate=mode == "interpolate")
    got, want = gap_fill(t, **kw), _gap_fill_join(t, **kw)
    assert got.columns == want.columns
    g, w = _sorted(got), _sorted(want)
    assert len(g) > len(t.filter(F.col("bucket").isNotNull()).collect())  # gaps were filled
    pd.testing.assert_frame_equal(g, w)


def test_gap_fill_duplicates_generate_gap_once(spark):
    """Duplicated (key, bucket) rows keep every copy, and the gap after
    them is generated once (the descending-range guard)."""
    t = spark.createDataFrame(
        [("a", 0, 1.0, 1), ("a", 0, 1.0, 2), ("a", 3, 4.0, 1)],
        "doc_id string, bucket bigint, v double, n bigint",
    )
    rows = gap_fill(t, fill_cols=("v",), locf=True).collect()
    assert sorted((r.bucket, r.gap_filled) for r in rows) == [
        (0, False), (0, False), (1, True), (2, True), (3, False),
    ]
    assert {r.bucket: r.v for r in rows} == {0: 1.0, 1: 1.0, 2: 1.0, 3: 4.0}


def test_gap_fill_drops_null_keys(spark):
    """A NULL key has no series to fill: its rows are dropped (the
    spine + join form emitted an all-NULL spine for it)."""
    t = spark.createDataFrame(
        [(None, 0, 1.0, 1), (None, 2, 3.0, 1), ("a", 5, 2.0, 1)],
        "doc_id string, bucket bigint, v double, n bigint",
    )
    assert [(r.doc_id, r.bucket) for r in gap_fill(t, fill_cols=("v",)).collect()] == [("a", 5)]


@pytest.mark.parametrize(
    "key_col,key_type,seed,horizon",
    [("doc_id", "string", 6, 4), ("user_id", "bigint", 7, 1), ("doc_id", "string", 8, 40)],
)
def test_retention_matches_broadcast_join(spark, key_col, key_type, seed, horizon):
    t = _frame(spark, seed, key_col, key_type).union(
        spark.createDataFrame([(None, 3, 1.0, 0.5, 1)], _schema(key_col, key_type))
    )
    got = retention_expire(t, horizon, key_col=key_col)
    want = _retention_broadcast(t, horizon, key_col=key_col)
    assert got.columns == want.columns
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))

