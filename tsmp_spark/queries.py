"""Driver-facing query registry: one entry per implemented operator
(SURVEY.md §2), each as a (Spark callable, DuckDB oracle SQL) pair.

The Spark side runs the real engine (numpy kernels inside Arrow UDFs,
Catalyst rollups); the oracle re-derives the same answer with brute-force
ANSI SQL on the same parquet — including a full brute-force z-normalized
matrix profile in SQL, so the kernel itself is oracle-gated, not just the
relational shell.

Conventions shared by BOTH sides (hash-compare safe):
- per-user series from ``events`` ordered by (ts, event_id), pos 0-based
- window W = 8, exclusion zone ez_n = round(W/2) = 4 (pairs |i-j| <= 4
  are trivial matches; stomp.R:86 rounding semantics)
- series shorter than MIN_LEN = W + ez_n + 1 are skipped (no possible
  neighbor)
- floats rounded to 4 decimals in the *final* select on both sides,
  integer outputs cast to bigint
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

W = 8
EZ_N = 4
MIN_LEN = W + EZ_N + 1
BUCKET = 8

# ---------------------------------------------------------------------------
# shared oracle fragments
# ---------------------------------------------------------------------------


def sql_series() -> str:
    return """
s AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS pos,
         value
  FROM events
)"""


def sql_mp_cte(
    w: int = W, ez_n: int = EZ_N, min_len: int = MIN_LEN, series_cte: str | None = None
) -> str:
    """Brute-force z-normalized self-join matrix profile in pure SQL:
    rolling stats + per-diagonal rolling dot products + min over both arc
    endpoints. Exact same semantics as the MPX kernel (validated
    bit-for-bit at 4 decimals). ``series_cte`` overrides the events-derived
    series source with any CTE named ``s(doc_id, pos, value)``."""
    return f"""
{series_cte if series_cte is not None else sql_series()},
len AS (
  SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id HAVING count(*) >= {min_len}
),
st AS (
  SELECT s.doc_id, s.pos,
         avg(value) OVER w AS mu,
         stddev_pop(value) OVER w AS sd,
         count(*) OVER w AS cnt
  FROM s JOIN len USING (doc_id)
  WINDOW w AS (PARTITION BY s.doc_id ORDER BY s.pos
               ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
),
stats AS (SELECT doc_id, pos, mu, sd FROM st WHERE cnt = {w}),
pr AS (
  SELECT a.doc_id, a.pos AS t, b.pos - a.pos AS d, a.value * b.value AS p
  FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.pos > a.pos + {ez_n}
  JOIN len ON len.doc_id = a.doc_id
),
qt AS (
  SELECT doc_id, t AS i, d,
         sum(p) OVER win AS qt,
         count(p) OVER win AS m
  FROM pr
  WINDOW win AS (PARTITION BY doc_id, d ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
),
dists AS (
  SELECT q.doc_id, q.i, q.i + q.d AS j,
         sqrt(greatest(2.0 * {w} * (1.0 - (q.qt - {w} * si.mu * sj.mu)
              / ({w} * si.sd * sj.sd)), 0.0)) AS dist
  FROM qt q
  JOIN stats si ON si.doc_id = q.doc_id AND si.pos = q.i
  JOIN stats sj ON sj.doc_id = q.doc_id AND sj.pos = q.i + q.d
  WHERE q.m = {w} AND si.sd >= 1e-7 * (abs(si.mu) + 1.0)
    AND sj.sd >= 1e-7 * (abs(sj.mu) + 1.0)
),
sides AS (
  SELECT doc_id, i AS pos, j AS nn, dist FROM dists
  UNION ALL
  SELECT doc_id, j AS pos, i AS nn, dist FROM dists
),
mp AS (
  SELECT doc_id, pos, nn AS pi, dist AS mp
  FROM (SELECT doc_id, pos, nn, dist,
               row_number() OVER (PARTITION BY doc_id, pos ORDER BY dist, nn) AS rn
        FROM sides)
  WHERE rn = 1
)"""


# ---------------------------------------------------------------------------
# Spark-side helpers
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.series import events_to_nested

    return events_to_nested(_events(spark, sf_dir))


def _finite_profile(prof: DataFrame) -> DataFrame:
    """Oracle-comparable profile rows: positions with a DEFINED z-norm
    nearest neighbor. Degenerate positions (constant windows, no
    admissible neighbor) carry the reference's Inf/NaN sentinels, which
    the pair-based SQL formulation cannot emit — drop them in the
    oracle-gated projections (no-op on the driver data, where every
    series is non-degenerate; engine users still see the sentinel rows
    from the operators themselves)."""
    return prof.filter(
        F.col("mp").isNotNull()
        & ~F.isnan("mp")
        & (F.col("mp") != float("inf"))
        & (F.col("pi") >= 0)  # mpx emits a finite 2*sqrt(w) sentinel
        # (corr -1, no neighbor found) with pi = -1 on degenerate series
    )


def _profile(spark: SparkSession, sf_dir: str, algorithm: str = "mpx") -> DataFrame:
    from .operators import matrix_profile

    # events-derived series are short; disabling the long-series branch
    # halves the input scan (single union-free plan)
    return _finite_profile(
        matrix_profile(
            _sequences(spark, sf_dir), W, algorithm=algorithm, long_series_threshold=None
        )
    )


def _r4(c):
    return F.round(c, 4)


# ---------------------------------------------------------------------------
# queries — matrix profile family
# ---------------------------------------------------------------------------


def q_mp_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join MP via the MPX diagonal-recurrence kernel."""
    return _profile(spark, sf_dir).select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        _r4("mp").alias("mp_r"),
        F.col("pi").cast("bigint").alias("pi"),
    )


SQL_MP_SELFJOIN = f"""
WITH {sql_mp_cte()}
SELECT doc_id, pos, round(mp, 4) AS mp_r, pi FROM mp
"""


def q_mp_stomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same profile via the independent STOMP (MASS+recurrence) kernel —
    cross-algorithm consistency, oracle-checked."""
    return _profile(spark, sf_dir, algorithm="stomp").select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        _r4("mp").alias("mp_r"),
        F.col("pi").cast("bigint").alias("pi"),
    )


def q_mp_rollup_tier1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import rollup_tier

    t1 = rollup_tier(_profile(spark, sf_dir), BUCKET)
    return t1.select(
        "doc_id",
        F.col("bucket").cast("bigint").alias("bucket"),
        _r4("mp_min").alias("mp_min"),
        F.col("pi_argmin").cast("bigint").alias("pi_argmin"),
        _r4("mp_avg").alias("mp_avg"),
        _r4("mp_max").alias("mp_max"),
        F.col("n").cast("bigint").alias("n"),
    )


SQL_MP_ROLLUP_TIER1 = f"""
WITH {sql_mp_cte()},
t1 AS (
  SELECT doc_id, CAST(floor(pos / {BUCKET}) AS BIGINT) AS bucket,
         min(mp) AS mp_min, avg(mp) AS mp_avg, max(mp) AS mp_max, count(mp) AS n
  FROM mp GROUP BY 1, 2
),
winner AS (
  SELECT doc_id, bucket, pi AS pi_argmin FROM (
    SELECT doc_id, CAST(floor(pos / {BUCKET}) AS BIGINT) AS bucket, pi,
           row_number() OVER (PARTITION BY doc_id, floor(pos / {BUCKET})
                              ORDER BY mp ASC, pos ASC) AS rn
    FROM mp WHERE mp IS NOT NULL
  ) WHERE rn = 1
)
SELECT t1.doc_id, t1.bucket, round(mp_min, 4) AS mp_min, winner.pi_argmin,
       round(mp_avg, 4) AS mp_avg, round(mp_max, 4) AS mp_max, n
FROM t1 JOIN winner ON t1.doc_id = winner.doc_id AND t1.bucket = winner.bucket
"""


def q_mp_rollup_tier2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import rollup_rollup, rollup_tier

    t1 = rollup_tier(_profile(spark, sf_dir), BUCKET)
    t2 = rollup_rollup(t1, 4)
    return t2.select(
        "doc_id",
        F.col("bucket").cast("bigint").alias("bucket"),
        _r4("mp_min").alias("mp_min"),
        _r4("mp_avg").alias("mp_avg"),
        _r4("mp_max").alias("mp_max"),
        F.col("n").cast("bigint").alias("n"),
    )


SQL_MP_ROLLUP_TIER2 = f"""
WITH {sql_mp_cte()},
t1 AS (
  SELECT doc_id, CAST(floor(pos / {BUCKET}) AS BIGINT) AS bucket,
         min(mp) AS mp_min, avg(mp) AS mp_avg, max(mp) AS mp_max, count(mp) AS n
  FROM mp GROUP BY 1, 2
),
t2 AS (
  SELECT doc_id, CAST(floor(bucket / 4) AS BIGINT) AS bucket,
         min(mp_min) AS mp_min,
         sum(mp_avg * n) / sum(n) AS mp_avg,
         max(mp_max) AS mp_max,
         CAST(sum(n) AS BIGINT) AS n
  FROM t1 GROUP BY 1, 2
)
SELECT doc_id, bucket, round(mp_min, 4) AS mp_min, round(mp_avg, 4) AS mp_avg,
       round(mp_max, 4) AS mp_max, n
FROM t2
"""


def q_mp_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import retention_expire, rollup_tier

    t1 = rollup_tier(_profile(spark, sf_dir), BUCKET)
    kept = retention_expire(t1, horizon_buckets=4)
    return kept.select(
        "doc_id",
        F.col("bucket").cast("bigint").alias("bucket"),
        _r4("mp_min").alias("mp_min"),
        F.col("n").cast("bigint").alias("n"),
    )


SQL_MP_RETENTION = f"""
WITH {sql_mp_cte()},
t1 AS (
  SELECT doc_id, CAST(floor(pos / {BUCKET}) AS BIGINT) AS bucket,
         min(mp) AS mp_min, count(mp) AS n
  FROM mp GROUP BY 1, 2
),
latest AS (SELECT doc_id, max(bucket) AS latest FROM t1 GROUP BY doc_id)
SELECT t1.doc_id, t1.bucket, round(t1.mp_min, 4) AS mp_min, t1.n
FROM t1 JOIN latest ON t1.doc_id = latest.doc_id
WHERE t1.bucket > latest.latest - 4
"""


def q_arc_cac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLUSS corrected arc counts, fully relational (no UDF) on top of the
    kernel profile — segmentation's aggregation layer (fluss.R:320-349)."""
    from .operators import arc_count_cac

    cac = arc_count_cac(_profile(spark, sf_dir), W, exclusion_zone=0.1)
    return cac.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        _r4("arc_count").alias("arc_count"),
        _r4("cac").alias("cac"),
    )


SQL_ARC_CAC = f"""
WITH {sql_mp_cte()},
nper AS (SELECT doc_id, max(pos) + 1 AS n FROM mp GROUP BY doc_id),
marks AS (
  SELECT mp.doc_id, least(pos, pi) AS lo, greatest(pos, pi) AS hi
  FROM mp JOIN nper ON mp.doc_id = nper.doc_id
  WHERE pi IS NOT NULL AND pi >= 0 AND pi <= nper.n - 1
),
deltas AS (
  SELECT doc_id, lo AS pos, 1.0 AS d FROM marks
  UNION ALL
  SELECT doc_id, hi AS pos, -1.0 AS d FROM marks
),
per_pos AS (SELECT doc_id, pos, sum(d) AS d FROM deltas GROUP BY 1, 2),
spine AS (
  SELECT mp.doc_id, mp.pos, nper.n, coalesce(per_pos.d, 0.0) AS d
  FROM mp JOIN nper ON mp.doc_id = nper.doc_id
  LEFT JOIN per_pos ON per_pos.doc_id = mp.doc_id AND per_pos.pos = mp.pos
),
cum AS (
  SELECT doc_id, pos, n,
         sum(d) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ac
  FROM spine
),
final AS (
  SELECT doc_id, pos, ac,
         CASE
           WHEN pos < {int(round(W * 0.1 * 10 + 1e-8))} THEN 1.0
           WHEN pos >= n - {int(round(W * 0.1 * 10 + 1e-8))} THEN 1.0
           ELSE coalesce(least(ac / (6.0 * (pos / (n - 1.0)) * (1.0 - pos / (n - 1.0)) * n / 3.0), 1.0), 1.0)
         END AS cac
  FROM cum
)
SELECT doc_id, pos, round(ac, 4) AS arc_count, round(cac, 4) AS cac FROM final
"""


def q_motif_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 motif candidates per series: smallest profile values with
    row_number + deterministic tie-break — the relational top-k form of
    find-motifs.R's argmin loop."""
    prof = _profile(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("mp").asc_nulls_last(), F.col("pos").asc()
    )
    return (
        prof.filter(F.col("mp").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            F.col("rank").cast("bigint").alias("rank"),
            F.col("pos").cast("bigint").alias("pos"),
            F.col("pi").cast("bigint").alias("pi"),
            _r4("mp").alias("mp_r"),
        )
    )


SQL_MOTIF_TOPK = f"""
WITH {sql_mp_cte()},
ranked AS (
  SELECT doc_id, pos, pi, mp,
         row_number() OVER (PARTITION BY doc_id ORDER BY mp ASC, pos ASC) AS rank
  FROM mp WHERE mp IS NOT NULL
)
SELECT doc_id, rank, pos, pi, round(mp, 4) AS mp_r FROM ranked WHERE rank <= 3
"""


def q_discord_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 discords per series: largest profile values (find-discord.R)."""
    prof = _profile(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("mp").desc_nulls_last(), F.col("pos").asc()
    )
    return (
        prof.filter(F.col("mp").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            F.col("rank").cast("bigint").alias("rank"),
            F.col("pos").cast("bigint").alias("pos"),
            _r4("mp").alias("mp_r"),
        )
    )


SQL_DISCORD_TOPK = f"""
WITH {sql_mp_cte()},
ranked AS (
  SELECT doc_id, pos, mp,
         row_number() OVER (PARTITION BY doc_id ORDER BY mp DESC, pos ASC) AS rank
  FROM mp WHERE mp IS NOT NULL
)
SELECT doc_id, rank, pos, round(mp, 4) AS mp_r FROM ranked WHERE rank <= 3
"""

# ---------------------------------------------------------------------------
# queries — relational series operators (Catalyst-native)
# ---------------------------------------------------------------------------


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling mean / population SD / min / max over the subsequence window
    (fast_avg_sd, misc.R:102-133 + movmin/movmax, windowfunc.cpp)."""
    from .functions import rolling_window
    from .operators.series import events_to_long

    s = events_to_long(_events(spark, sf_dir))
    win = rolling_window("doc_id", "pos", W)
    n = F.count("value").over(win)
    return (
        s.select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            _r4(F.sum("value").over(win)).alias("mov_sum"),
            _r4(F.stddev_pop("value").over(win)).alias("mov_sd"),
            _r4(F.min("value").over(win)).alias("mov_min"),
            _r4(F.max("value").over(win)).alias("mov_max"),
            n.alias("cnt"),
        )
        .filter(F.col("cnt") == W)
        .drop("cnt")
    )


SQL_ROLLING_STATS = f"""
WITH {sql_series()},
r AS (
  SELECT doc_id, pos,
         sum(value) OVER w AS mov_sum,
         stddev_pop(value) OVER w AS mov_sd,
         min(value) OVER w AS mov_min,
         max(value) OVER w AS mov_max,
         count(value) OVER w AS cnt
  FROM s
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
)
SELECT doc_id, pos, round(mov_sum, 4) AS mov_sum, round(mov_sd, 4) AS mov_sd,
       round(mov_min, 4) AS mov_min, round(mov_max, 4) AS mov_max
FROM r WHERE cnt = {W}
"""


def q_znorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series z-normalization (math.cpp:132-142) with the engine-wide
    scale-aware low-variance guard (stats.lowvar_threshold) in place of
    the reference's absolute 0.01 cutoff."""
    from .operators.series import events_to_long

    s = events_to_long(_events(spark, sf_dir))
    whole = Window.partitionBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    from .functions import lowvar_threshold_expr

    mu = F.avg("value").over(whole)
    sd = F.stddev_pop("value").over(whole)
    thr = lowvar_threshold_expr(mu)
    z = F.when(sd < thr, F.col("value") - mu).otherwise((F.col("value") - mu) / sd)
    # + 0.0 normalizes IEEE -0.0 (a mean-centered near-constant series
    # rounds to signed zeros; engines disagree on the sign bit's survival)
    return s.select(
        "doc_id", F.col("pos").cast("bigint").alias("pos"),
        (_r4(z) + F.lit(0.0)).alias("znorm"),
    )


SQL_ZNORM = f"""
WITH {sql_series()},
st AS (
  SELECT doc_id, avg(value) AS mu, stddev_pop(value) AS sd FROM s GROUP BY doc_id
)
SELECT s.doc_id, s.pos,
       round(CASE WHEN st.sd < 1e-7 * (abs(st.mu) + 1.0) THEN s.value - st.mu
                  ELSE (s.value - st.mu) / st.sd END, 4) + 0.0 AS znorm
FROM s JOIN st ON s.doc_id = st.doc_id
"""


def q_paa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise Aggregate Approximation, factor 4 (misc.R:463-486)."""
    from .operators.series import events_to_long

    s = events_to_long(_events(spark, sf_dir))
    return (
        s.groupBy("doc_id", F.floor(F.col("pos") / 4).alias("bucket"))
        .agg(_r4(F.avg("value")).alias("paa"), F.count("*").alias("n"))
        .select(
            "doc_id",
            F.col("bucket").cast("bigint").alias("bucket"),
            "paa",
            F.col("n").cast("bigint").alias("n"),
        )
    )


SQL_PAA = f"""
WITH {sql_series()}
SELECT doc_id, CAST(floor(pos / 4) AS BIGINT) AS bucket,
       round(avg(value), 4) AS paa, count(*) AS n
FROM s GROUP BY 1, 2
"""


def q_series_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series scalar features: complexity sqrt(sum(diff^2))
    (misc.R:1007-1022) and zero crossings of the centered series
    (misc.R:950-988)."""
    from .operators.series import events_to_long

    s = events_to_long(_events(spark, sf_dir))
    wseq = Window.partitionBy("doc_id").orderBy("pos")
    whole = Window.partitionBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    centered = F.col("value") - F.avg("value").over(whole)
    d = F.col("value") - F.lag("value").over(wseq)
    prev_c = F.lag(centered).over(wseq)
    crossing = (
        F.when(prev_c.isNull(), 0)
        .when((centered > 0) & (prev_c < 0), 1)
        .when((centered < 0) & (prev_c > 0), 1)
        .otherwise(0)
    )
    per_row = s.select("doc_id", (d * d).alias("dd"), crossing.alias("zc"))
    return per_row.groupBy("doc_id").agg(
        _r4(F.sqrt(F.sum("dd"))).alias("complexity"),
        F.sum("zc").cast("bigint").alias("zero_crossings"),
    )


SQL_SERIES_FEATURES = f"""
WITH {sql_series()},
st AS (SELECT doc_id, avg(value) AS mu FROM s GROUP BY doc_id),
rows_ AS (
  SELECT s.doc_id,
         s.value - lag(s.value) OVER (PARTITION BY s.doc_id ORDER BY s.pos) AS d,
         s.value - st.mu AS c,
         lag(s.value - st.mu) OVER (PARTITION BY s.doc_id ORDER BY s.pos) AS pc
  FROM s JOIN st ON s.doc_id = st.doc_id
)
SELECT doc_id,
       round(sqrt(sum(d * d)), 4) AS complexity,
       CAST(sum(CASE WHEN pc IS NULL THEN 0
                WHEN c > 0 AND pc < 0 THEN 1
                WHEN c < 0 AND pc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
FROM rows_ GROUP BY doc_id
"""


def q_events_rollup_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate over event time (hour buckets) with gap-fill +
    LOCF — the rollup/retention engine shape on the raw stream table."""
    from .operators import gap_fill

    ev = _events(spark, sf_dir)
    hours = ev.select(
        F.col("user_id").cast("string").alias("doc_id"),
        F.floor(F.unix_timestamp("ts") / 3600).alias("bucket"),
        "value",
    )
    t = hours.groupBy("doc_id", "bucket").agg(
        F.sum("value").alias("mp_sum"),
        F.min("value").alias("mp_min"),
        F.count("*").alias("n"),
    )
    filled = gap_fill(t, fill_cols=("mp_sum",), locf=True)
    return filled.select(
        "doc_id",
        F.col("bucket").cast("bigint").alias("bucket"),
        _r4("mp_sum").alias("sum_locf"),
        F.col("gap_filled").cast("int").cast("bigint").alias("gap_filled"),
    )


SQL_EVENTS_ROLLUP_GAPFILL = """
WITH hours AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket, value
  FROM events
),
t AS (
  SELECT doc_id, bucket, sum(value) AS mp_sum, count(*) AS n
  FROM hours GROUP BY 1, 2
),
bounds AS (SELECT doc_id, min(bucket) AS lo, max(bucket) AS hi FROM t GROUP BY doc_id),
spine AS (
  SELECT doc_id, unnest(generate_series(lo, hi)) AS bucket FROM bounds
),
joined AS (
  SELECT spine.doc_id, spine.bucket, t.mp_sum, t.n IS NULL AS gap_filled
  FROM spine LEFT JOIN t ON spine.doc_id = t.doc_id AND spine.bucket = t.bucket
),
locf AS (
  SELECT doc_id, bucket, gap_filled,
         last_value(mp_sum IGNORE NULLS) OVER (
           PARTITION BY doc_id ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_locf
  FROM joined
)
SELECT doc_id, bucket, round(sum_locf, 4) AS sum_locf,
       CAST(gap_filled AS BIGINT) AS gap_filled
FROM locf
"""


def q_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic relational top-k: top-5 users by total event value."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy(F.col("user_id").cast("bigint").alias("user_id")).agg(
        _r4(F.sum("value")).alias("total_value"), F.count("*").alias("n_events")
    )
    w = Window.orderBy(F.col("total_value").desc(), F.col("user_id").asc())
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            "user_id",
            "total_value",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )


SQL_TOPK_USERS = """
WITH agg AS (
  SELECT user_id, round(sum(value), 4) AS total_value, count(*) AS n_events
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT row_number() OVER (ORDER BY total_value DESC, user_id ASC) AS rank,
         user_id, total_value, n_events
  FROM agg
)
SELECT rank, user_id, total_value, n_events FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# queries — joins (AB similarity join, MPdist)
# ---------------------------------------------------------------------------


def _pairs(spark: SparkSession, sf_dir: str, n_pairs: int = 5) -> DataFrame:
    """Deterministic series pairs: (user 2k, user 2k+1) for k < n_pairs."""
    seqs = _sequences(spark, sf_dir)
    a = seqs.select(
        F.col("doc_id").cast("bigint").alias("ida"),
        F.col("doc_id").alias("doc_id_a"),
        F.col("tokens").alias("tokens_a"),
    ).filter((F.col("ida") % 2 == 0) & (F.col("ida") < 2 * n_pairs))
    b = seqs.select(
        F.col("doc_id").cast("bigint").alias("idb"),
        F.col("doc_id").alias("doc_id_b"),
        F.col("tokens").alias("tokens_b"),
    ).filter((F.col("idb") % 2 == 1) & (F.col("idb") < 2 * n_pairs))
    return a.join(b, a.ida + 1 == b.idb).select(
        "doc_id_a", "tokens_a", "doc_id_b", "tokens_b"
    )


def q_ab_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AB similarity join (mpx.cpp:106-252): both-direction profiles for
    the deterministic user pairs, ez = 0."""
    from .operators import matrix_profile_join

    prof = matrix_profile_join(_pairs(spark, sf_dir), W)
    # defined-NN convention (CLAUDE.md): a fully-degenerate partner series
    # leaves positions at the finite 2·sqrt(w) no-neighbor sentinel with
    # pi = -1 — the pair-based oracle cannot emit those, filter them
    return prof.filter(F.col("pi") >= 0).select(
        "doc_id_a",
        "doc_id_b",
        "side",
        F.col("pos").cast("bigint").alias("pos"),
        _r4("mp").alias("mp_r"),
    )


SQL_AB_JOIN = f"""
WITH {sql_series()},
pairsel AS (
  SELECT CAST(a.doc_id AS BIGINT) AS ida, CAST(b.doc_id AS BIGINT) AS idb
  FROM (SELECT DISTINCT doc_id FROM s) a
  JOIN (SELECT DISTINCT doc_id FROM s) b
    ON CAST(a.doc_id AS BIGINT) % 2 = 0 AND CAST(a.doc_id AS BIGINT) < 10
   AND CAST(b.doc_id AS BIGINT) = CAST(a.doc_id AS BIGINT) + 1
),
el AS (SELECT doc_id, pos, value FROM s),
pr AS (
  SELECT p.ida, p.idb, ea.pos AS t, eb.pos - ea.pos AS d, ea.value * eb.value AS prod
  FROM pairsel p
  JOIN el ea ON ea.doc_id = CAST(p.ida AS VARCHAR)
  JOIN el eb ON eb.doc_id = CAST(p.idb AS VARCHAR)
),
qt AS (
  SELECT ida, idb, t AS i, d,
         sum(prod) OVER win AS qt, count(prod) OVER win AS m
  FROM pr
  WINDOW win AS (PARTITION BY ida, idb, d ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
),
sta AS (
  SELECT doc_id, pos,
         avg(value) OVER w AS mu, stddev_pop(value) OVER w AS sd, count(*) OVER w AS cnt
  FROM s
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
),
stats AS (SELECT doc_id, pos, mu, sd FROM sta WHERE cnt = {W}),
dists AS (
  SELECT q.ida, q.idb, q.i, q.i + q.d AS j,
         sqrt(greatest(2.0 * {W} * (1.0 - (q.qt - {W} * si.mu * sj.mu)
              / ({W} * si.sd * sj.sd)), 0.0)) AS dist
  FROM qt q
  JOIN stats si ON si.doc_id = CAST(q.ida AS VARCHAR) AND si.pos = q.i
  JOIN stats sj ON sj.doc_id = CAST(q.idb AS VARCHAR) AND sj.pos = q.i + q.d
  WHERE q.m = {W} AND si.sd >= 1e-7 * (abs(si.mu) + 1.0)
    AND sj.sd >= 1e-7 * (abs(sj.mu) + 1.0)
),
mpa AS (
  SELECT ida, idb, i AS pos, min(dist) AS mp FROM dists GROUP BY 1, 2, 3
),
mpb AS (
  SELECT ida, idb, j AS pos, min(dist) AS mp FROM dists GROUP BY 1, 2, 3
)
SELECT CAST(ida AS VARCHAR) AS doc_id_a, CAST(idb AS VARCHAR) AS doc_id_b,
       'a' AS side, pos, round(mp, 4) AS mp_r FROM mpa
UNION ALL
SELECT CAST(ida AS VARCHAR) AS doc_id_a, CAST(idb AS VARCHAR) AS doc_id_b,
       'b' AS side, pos, round(mp, 4) AS mp_r FROM mpb
"""


def q_mpdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPdist scalar distance per deterministic pair (mpdist.R:125-131):
    k-th smallest of the concatenated AB/BA profiles, k = ceil(0.05·(na+nb))."""
    import numpy as np
    import pandas as pd

    from .mpcore import mpdist as mpdist_kernel
    from .mpcore.stats import fast_avg_sd, lowvar_threshold

    pairs = _pairs(spark, sf_dir)
    schema = "doc_id_a string, doc_id_b string, mpdist double"

    def _has_valid_window(x):
        mu, sd = fast_avg_sd(x, W)
        return bool((sd >= lowvar_threshold(mu)).any())

    def kernel(batches):
        for pdf in batches:
            rows = []
            for da, ta, db, tb in zip(
                pdf["doc_id_a"], pdf["tokens_a"], pdf["doc_id_b"], pdf["tokens_b"]
            ):
                a = np.asarray(ta, dtype=np.float64)
                b = np.asarray(tb, dtype=np.float64)
                if a.shape[0] < W or b.shape[0] < W:
                    continue
                # defined-NN convention: a pair with a fully-degenerate
                # member has no defined z-norm distance anywhere — its
                # MPdist is the all-sentinel 2·sqrt(w), not a distance
                if not (_has_valid_window(a) and _has_valid_window(b)):
                    continue
                if b.shape[0] > a.shape[0]:
                    a, b = b, a
                rows.append(
                    {"doc_id_a": da, "doc_id_b": db, "mpdist": mpdist_kernel(a, b, W)}
                )
            if rows:
                yield pd.DataFrame(rows)

    out = pairs.mapInPandas(kernel, schema)
    return out.select("doc_id_a", "doc_id_b", _r4("mpdist").alias("mpdist"))


SQL_MPDIST = f"""
WITH {sql_series()},
pairsel AS (
  SELECT CAST(a.doc_id AS BIGINT) AS ida, CAST(b.doc_id AS BIGINT) AS idb
  FROM (SELECT DISTINCT doc_id FROM s) a
  JOIN (SELECT DISTINCT doc_id FROM s) b
    ON CAST(a.doc_id AS BIGINT) % 2 = 0 AND CAST(a.doc_id AS BIGINT) < 10
   AND CAST(b.doc_id AS BIGINT) = CAST(a.doc_id AS BIGINT) + 1
),
el AS (SELECT doc_id, pos, value FROM s),
sizes AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
pr AS (
  SELECT p.ida, p.idb, ea.pos AS t, eb.pos - ea.pos AS d, ea.value * eb.value AS prod
  FROM pairsel p
  JOIN el ea ON ea.doc_id = CAST(p.ida AS VARCHAR)
  JOIN el eb ON eb.doc_id = CAST(p.idb AS VARCHAR)
),
qt AS (
  SELECT ida, idb, t AS i, d,
         sum(prod) OVER win AS qt, count(prod) OVER win AS m
  FROM pr
  WINDOW win AS (PARTITION BY ida, idb, d ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
),
sta AS (
  SELECT doc_id, pos,
         avg(value) OVER w AS mu, stddev_pop(value) OVER w AS sd, count(*) OVER w AS cnt
  FROM s
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
),
stats AS (SELECT doc_id, pos, mu, sd FROM sta WHERE cnt = {W}),
dists AS (
  SELECT q.ida, q.idb, q.i, q.i + q.d AS j,
         sqrt(greatest(2.0 * {W} * (1.0 - (q.qt - {W} * si.mu * sj.mu)
              / ({W} * si.sd * sj.sd)), 0.0)) AS dist
  FROM qt q
  JOIN stats si ON si.doc_id = CAST(q.ida AS VARCHAR) AND si.pos = q.i
  JOIN stats sj ON sj.doc_id = CAST(q.idb AS VARCHAR) AND sj.pos = q.i + q.d
  WHERE q.m = {W} AND si.sd >= 1e-7 * (abs(si.mu) + 1.0)
    AND sj.sd >= 1e-7 * (abs(sj.mu) + 1.0)
),
hist AS (
  SELECT ida, idb, i AS pos, min(dist) AS v FROM dists GROUP BY 1, 2, 3
  UNION ALL
  SELECT ida, idb, j AS pos, min(dist) AS v FROM dists GROUP BY 1, 2, 3
),
ranked AS (
  SELECT ida, idb, v,
         row_number() OVER (PARTITION BY ida, idb ORDER BY v ASC) AS rn,
         count(*) OVER (PARTITION BY ida, idb) AS cnt
  FROM hist
),
ksel AS (
  SELECT r.ida, r.idb, r.v, r.rn, r.cnt,
         CAST(ceil(0.05 * (sa.n + sb.n)) AS BIGINT) AS k,
         (sa.n - {W - 1}) + (sb.n - {W - 1}) AS total
  FROM ranked r
  JOIN sizes sa ON sa.doc_id = CAST(r.ida AS VARCHAR)
  JOIN sizes sb ON sb.doc_id = CAST(r.idb AS VARCHAR)
),
-- the kernel ranks over the SENTINEL-PADDED concatenated profiles
-- (mpx_ab fills no-pair positions with 2*sqrt(w)): when k exceeds the
-- defined-pair count but sentinels exist, the k-th smallest IS the
-- sentinel; only when every position is defined (total = cnt) does the
-- k-overflow fall back to the largest defined distance (cal_mp_dist max)
final AS (
  SELECT ida, idb, k, cnt, total,
         max(CASE WHEN rn = least(k, cnt) THEN v END) AS vk
  FROM ksel GROUP BY 1, 2, 3, 4, 5
)
SELECT CAST(ida AS VARCHAR) AS doc_id_a, CAST(idb AS VARCHAR) AS doc_id_b,
       round(CASE WHEN k <= cnt OR total = cnt THEN vk
                  ELSE 2.0 * sqrt({W}.0) END, 4) AS mpdist
FROM final
"""


def q_pmp_multi_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pan-matrix-profile: the (series × window) grid fan-out for windows
    {6, 8} (pmp.R:52-227 re-expressed as embarrassingly parallel tasks)."""
    from .plans import compute

    prof = _finite_profile(compute(_sequences(spark, sf_dir), [6, 8]))
    # guard identical to the per-window kernel: series long enough per w
    return prof.select(
        "doc_id",
        F.col("w").cast("bigint").alias("w"),
        F.col("pos").cast("bigint").alias("pos"),
        _r4("mp").alias("mp_r"),
        F.col("pi").cast("bigint").alias("pi"),
    )


def _sql_mp_for_w(w: int) -> str:
    ez = int(round(w * 0.5 + 1e-8))
    return sql_mp_cte(w, ez, w + ez + 1)


SQL_PMP_MULTI = f"""
WITH {_sql_mp_for_w(6)}
SELECT doc_id, 6 AS w, pos, round(mp, 4) AS mp_r, pi FROM mp
UNION ALL
SELECT doc_id, 8 AS w, pos, mp_r, pi FROM (
  WITH {_sql_mp_for_w(8)}
  SELECT doc_id, pos, round(mp, 4) AS mp_r, pi FROM mp
)
"""

# ---------------------------------------------------------------------------
# queries — training-data pipeline: dedup / text / similarity
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import exact_dedup

    d = exact_dedup(_documents(spark, sf_dir))
    return d.select(
        "content_hash",
        F.col("keep_id").cast("bigint").alias("keep_id"),
        F.col("dup_count").cast("bigint").alias("dup_count"),
    )


SQL_DEDUP_EXACT = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
       min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents
GROUP BY 1
"""

_SQL_SHINGLES = r"""
norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
),
wordlists AS (SELECT doc_id, string_split(t, ' ') AS words FROM norm),
shingles AS (
  SELECT DISTINCT doc_id,
         array_to_string(words[i:i+2], ' ') AS shingle
  FROM wordlists,
       unnest(generate_series(1, greatest(len(words) - 2, 1))) AS g(i)
  WHERE len(array_to_string(words[i:i+2], ' ')) > 0
)"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import ngram_jaccard_pairs

    p = ngram_jaccard_pairs(_documents(spark, sf_dir), threshold=0.1, max_shingle_freq=1000000)
    return p.select(
        F.col("doc_a").cast("bigint").alias("doc_a"),
        F.col("doc_b").cast("bigint").alias("doc_b"),
        _r4("jaccard").alias("jaccard"),
    )


SQL_NGRAM_JACCARD = f"""
WITH {_SQL_SHINGLES},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter) >= 0.1
"""


def q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import minhash_signatures

    sig = minhash_signatures(_documents(spark, sf_dir), num_hashes=8)
    return sig.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.posexplode("sig").alias("hash_idx", "minhash"),
    ).select(
        "doc_id",
        F.col("hash_idx").cast("bigint").alias("hash_idx"),
        F.col("minhash").cast("bigint").alias("minhash"),
    )


def _sql_minhash(num_hashes: int = 8) -> str:
    hash_rows = " UNION ALL ".join(f"SELECT {i} AS hash_idx" for i in range(num_hashes))
    return f"""
{_SQL_SHINGLES},
hashes AS ({hash_rows}),
hashed AS (
  SELECT s.doc_id, h.hash_idx,
         CAST(('0x' || substr(md5('s' || CAST(floor(h.hash_idx / 4) AS INT) || ':' || s.shingle),
                              1 + 8 * (h.hash_idx % 4), 8)) AS BIGINT) AS hv
  FROM shingles s CROSS JOIN hashes h
),
minhash AS (
  SELECT doc_id, hash_idx, min(hv) AS minhash FROM hashed GROUP BY 1, 2
)"""


SQL_MINHASH_SIG = f"""
WITH {_sql_minhash(8)}
SELECT doc_id, hash_idx, minhash FROM minhash
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import minhash_lsh_pairs

    p = minhash_lsh_pairs(
        _documents(spark, sf_dir), num_hashes=8, bands=4, threshold=0.25
    )
    return p.select(
        F.col("doc_a").cast("bigint").alias("doc_a"),
        F.col("doc_b").cast("bigint").alias("doc_b"),
        _r4("est_jaccard").alias("est_jaccard"),
    )


def _sql_minhash_pairs(num_hashes: int = 8, rows_per_band: int = 2) -> str:
    """minhash → banded LSH candidates → agree counts (shared by the
    pair query and the dedup-groups closure)."""
    return f"""
{_sql_minhash(num_hashes)},
banded AS (
  SELECT doc_id, CAST(floor(hash_idx / {rows_per_band}) AS INT) AS band,
         string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY hash_idx) AS key
  FROM minhash GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
agree AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_agree
  FROM cand c
  JOIN minhash ma ON ma.doc_id = c.doc_a
  JOIN minhash mb ON mb.doc_id = c.doc_b AND mb.hash_idx = ma.hash_idx
                 AND mb.minhash = ma.minhash
  GROUP BY 1, 2
)"""


SQL_MINHASH_LSH = f"""
WITH {_sql_minhash_pairs(8, 2)}
SELECT doc_a, doc_b, round(n_agree / 8.0, 4) AS est_jaccard
FROM agree WHERE n_agree / 8.0 >= 0.25
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import simhash64

    s = simhash64(_documents(spark, sf_dir))
    return s.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("simhash_lo").cast("bigint").alias("simhash_lo"),
        F.col("simhash_hi").cast("bigint").alias("simhash_hi"),
    )


def _sql_simhash_half(col: str, seed: int) -> str:
    return f"""
  SELECT w.doc_id, b.bit,
         sum(CASE WHEN (CAST(('0x' || substr(md5('s{seed}:' || w.word), 1, 8)) AS BIGINT) >> b.bit) & 1 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM words w CROSS JOIN bits b
  GROUP BY 1, 2
"""


SQL_SIMHASH = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
),
words AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(t, ' ')) AS word FROM norm
  ) WHERE len(word) > 0
),
bits AS (SELECT unnest(generate_series(0, 31)) AS bit),
lo AS (
  SELECT w.doc_id, b.bit,
         sum(CASE WHEN (CAST(('0x' || substr(md5('s1:' || w.word), 1, 8)) AS BIGINT) >> b.bit) & 1 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM words w CROSS JOIN bits b GROUP BY 1, 2
),
hi AS (
  SELECT w.doc_id, b.bit,
         sum(CASE WHEN (CAST(('0x' || substr(md5('s2:' || w.word), 1, 8)) AS BIGINT) >> b.bit) & 1 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM words w CROSS JOIN bits b GROUP BY 1, 2
)
SELECT l.doc_id,
       CAST(sum(CASE WHEN l.s > 0 THEN CAST(pow(2, l.bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash_lo,
       CAST(sum(CASE WHEN h.s > 0 THEN CAST(pow(2, h.bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash_hi
FROM lo l JOIN hi h ON l.doc_id = h.doc_id AND l.bit = h.bit
GROUP BY l.doc_id
"""


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import quality_features

    qf = quality_features(_documents(spark, sf_dir))
    return qf.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_chars",
        "n_tokens",
        _r4("mean_word_len").alias("mean_word_len"),
        _r4("punct_ratio").alias("punct_ratio"),
        _r4("stopword_ratio").alias("stopword_ratio"),
    )


SQL_QUALITY = r"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
         length(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
         length(text) - length(regexp_replace(text, '[.,;:!?''"]', '', 'g')) AS n_punct,
         len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS n_stop
  FROM documents
)
SELECT doc_id, n_chars, n_tokens,
       round(CAST(n_nonspace AS DOUBLE) / greatest(n_tokens, 1), 4) AS mean_word_len,
       round(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 4) AS punct_ratio,
       round(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 4) AS stopword_ratio
FROM f
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import lang_scores

    ls = lang_scores(_documents(spark, sf_dir))
    return ls.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "lang_pred",
        _r4("lang_score").alias("lang_score"),
    )


SQL_LANG_ID = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents
),
scores AS (
  SELECT doc_id,
         len(list_filter(ws, w -> w IN ('der','die','und','das','ist'))) / CAST(greatest(len(ws), 1) AS DOUBLE) AS s_de,
         len(list_filter(ws, w -> w IN ('the','and','of','to','is'))) / CAST(greatest(len(ws), 1) AS DOUBLE) AS s_en,
         len(list_filter(ws, w -> w IN ('el','la','de','que','es'))) / CAST(greatest(len(ws), 1) AS DOUBLE) AS s_es,
         len(list_filter(ws, w -> w IN ('le','la','et','les','des'))) / CAST(greatest(len(ws), 1) AS DOUBLE) AS s_fr
  FROM words
),
ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
  FROM (
    SELECT doc_id, 'de' AS lang, s_de AS score FROM scores
    UNION ALL SELECT doc_id, 'en', s_en FROM scores
    UNION ALL SELECT doc_id, 'es', s_es FROM scores
    UNION ALL SELECT doc_id, 'fr', s_fr FROM scores
  )
)
SELECT doc_id, lang AS lang_pred, round(score, 4) AS lang_score
FROM ranked WHERE rn = 1
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import bpe_ish_token_count, token_count

    d = _documents(spark, sf_dir)
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        token_count(F.col("text")).cast("bigint").alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).cast("bigint").alias("bpe_tokens"),
    )


SQL_TOKEN_COUNTS = r"""
SELECT doc_id,
       len(string_split_regex(lower(trim(text)), '\s+')) AS ws_tokens,
       len(regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\s])')) AS bpe_tokens
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import doc_fingerprint

    fp = doc_fingerprint(_documents(spark, sf_dir), n=5)
    return fp.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("fingerprint").cast("bigint").alias("fingerprint"),
    )


SQL_FINGERPRINT = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
),
wordlists AS (SELECT doc_id, string_split(t, ' ') AS words FROM norm),
shingles AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+4], ' ') AS shingle
  FROM wordlists,
       unnest(generate_series(1, greatest(len(words) - 4, 1))) AS g(i)
  WHERE len(array_to_string(words[i:i+4], ' ')) > 0
)
SELECT doc_id,
       min(CAST(('0x' || substr(md5('s0:' || shingle), 1, 8)) AS BIGINT)) AS fingerprint
FROM shingles GROUP BY doc_id
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 20 — the exact
    ANN baseline."""
    from .operators import cosine_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    out = cosine_topk(emb, queries, k=5)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("rank").cast("bigint").alias("rank"),
        (_r4("cosine") + F.lit(0.0)).alias("cosine"),  # −0.0 → 0.0
    )


SQL_EMBEDDING_TOPK = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ex AS (
  SELECT vec_id, unnest(v) AS x,
         unnest(generate_series(1, len(v))) AS i
  FROM e
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, sum(q.x * n.x) AS dot
  FROM ex q JOIN ex n ON q.i = n.i AND q.vec_id < 20 AND q.vec_id != n.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.neighbor_id, d.dot / NULLIF(nq.nrm * nn.nrm, 0) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nn ON nn.vec_id = d.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored WHERE cosine IS NOT NULL
)
SELECT query_id, neighbor_id, rank, round(cosine, 4) + 0.0 AS cosine
FROM ranked WHERE rank <= 5
"""


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-3 neighbors (sign-bit random
    hyperplanes, deterministic arithmetic planes)."""
    from .operators import lsh_bucket_topk

    out = lsh_bucket_topk(_embeddings(spark, sf_dir), k=3, n_planes=6, n_tables=2)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("rank").cast("bigint").alias("rank"),
        (_r4("cosine") + F.lit(0.0)).alias("cosine"),  # −0.0 → 0.0
    )


SQL_LSH_ANN = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ex AS (
  SELECT vec_id, unnest(v) AS x,
         unnest(generate_series(1, len(v))) AS i
  FROM e
),
planes AS (SELECT unnest(generate_series(0, 11)) AS p),
proj AS (
  SELECT ex.vec_id, pl.p,
         sum(ex.x * sin(pl.p * 1013904223.0 + (ex.i - 1) * 1664525.0)) AS dot
  FROM ex CROSS JOIN planes pl
  GROUP BY 1, 2
),
buckets AS (
  SELECT vec_id, CAST(floor(p / 6) AS INT) AS tbl,
         CAST(sum(CASE WHEN dot >= 0 THEN CAST(pow(2, p % 6) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY 1, 2
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM buckets a
  JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id != b.vec_id
),
dots AS (
  SELECT c.query_id, c.neighbor_id, sum(q.x * n.x) AS dot
  FROM cand c
  JOIN ex q ON q.vec_id = c.query_id
  JOIN ex n ON n.vec_id = c.neighbor_id AND n.i = q.i
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.neighbor_id, d.dot / NULLIF(nq.nrm * nn.nrm, 0) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nn ON nn.vec_id = d.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored WHERE cosine IS NOT NULL
)
SELECT query_id, neighbor_id, rank, round(cosine, 4) + 0.0 AS cosine
FROM ranked WHERE rank <= 3
"""

# ---------------------------------------------------------------------------
# queries — codec round-trip, streaming, kernel-only (rows-only checks)
# ---------------------------------------------------------------------------


def q_gorilla_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-1 rollup → Gorilla XOR + delta-of-delta pack per series →
    unpack → rows. Oracle-checked against the plain tier-1 SQL, so the
    codec is proven lossless end-to-end."""
    import numpy as np
    import pandas as pd

    from .codecs import pack_rollup, unpack_rollup
    from .operators import rollup_tier

    t1 = rollup_tier(_profile(spark, sf_dir), BUCKET).select("doc_id", "bucket", "mp_min")

    def pack_unpack(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket")
        blob = pack_rollup(
            pdf["bucket"].to_numpy(np.int64), pdf["mp_min"].to_numpy(np.float64)
        )
        buckets, values = unpack_rollup(blob)
        return pd.DataFrame(
            {"doc_id": np.repeat(key[0], len(buckets)), "bucket": buckets, "mp_min": values}
        )

    out = t1.groupBy("doc_id").applyInPandas(
        pack_unpack, "doc_id string, bucket long, mp_min double"
    )
    return out.select("doc_id", "bucket", _r4("mp_min").alias("mp_min"))


SQL_GORILLA_ROUNDTRIP = f"""
WITH {sql_mp_cte()}
SELECT doc_id, CAST(floor(pos / {BUCKET}) AS BIGINT) AS bucket,
       round(min(mp), 4) AS mp_min
FROM mp GROUP BY 1, 2
"""


def q_stompi_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental STOMPi (stompi.R:18-134): bootstrap on a prefix, then
    chunked appends — final profile must equal the batch profile, so it
    shares the brute-force SQL oracle with ``mp_selfjoin``. This is the
    micro-batch form of the Structured Streaming operator
    (tsmp_spark.streaming.stompi_stateful)."""
    import numpy as np
    import pandas as pd

    from .mpcore import stomp, stompi_update

    seqs = _sequences(spark, sf_dir)
    schema = "doc_id string, pos long, mp_r double, pi long"

    def kernel(batches):
        for pdf in batches:
            out = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                a = np.asarray(tokens, dtype=np.float64)
                if a.shape[0] < MIN_LEN:
                    continue
                boot = min(a.shape[0], max(2 * W, MIN_LEN))
                prof = stomp(a[:boot], W)
                for st in range(boot, a.shape[0], 10):
                    prof = stompi_update(prof, a[st : st + 10])
                mp = prof.mp.copy()
                mp[prof.pi < 0] = np.nan
                mp[~np.isfinite(mp)] = np.nan
                out.append(
                    pd.DataFrame(
                        {
                            "doc_id": np.repeat(doc_id, mp.shape[0]),
                            "pos": np.arange(mp.shape[0], dtype=np.int64),
                            "mp_r": np.round(mp, 4),
                            "pi": prof.pi.astype(np.int64),
                        }
                    )[np.isfinite(mp) & (prof.pi >= 0)]
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    n_parts = spark.sparkContext.defaultParallelism
    return seqs.select("doc_id", "tokens").repartition(n_parts).mapInPandas(kernel, schema)


def q_fluss_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLUSS semantic segmentation per series (fluss.R): CAC + greedy
    extraction, the suppression loop unrolled in the oracle SQL."""
    import numpy as np
    import pandas as pd

    from .mpcore import stomp
    from .mpcore.fluss import fluss_cac, fluss_extract

    seqs = _sequences(spark, sf_dir)
    schema = "doc_id string, rank long, segment_pos long, cac_min double"

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                a = np.asarray(tokens, dtype=np.float64)
                if a.shape[0] < MIN_LEN:
                    continue
                prof = stomp(a, W)
                if not np.isfinite(prof.mp).any():
                    continue  # degenerate series: CAC undefined, oracle empty
                cac = fluss_cac(prof, exclusion_zone=0.5)
                # defined-NN convention: positions with no defined
                # neighbor contribute no arcs — their zero arc count is
                # an artifact, not a regime change; treat as CAC 1.0 so
                # extraction never picks inside a degenerate run
                cac[~np.isfinite(prof.mp) | (prof.pi < 0)] = 1.0
                segs = fluss_extract(prof, num_segments=2, exclusion_zone=0.5)
                for rank, s in enumerate(segs):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "rank": rank,
                            "segment_pos": int(s),
                            "cac_min": float(np.round(prof.cac[s], 4)),
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    n_parts = spark.sparkContext.defaultParallelism
    return seqs.select("doc_id", "tokens").repartition(n_parts).mapInPandas(kernel, schema)


def q_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analyze() flagship (analyze.R:44-73): top-3 motifs + top-3 discords
    per series with MASS neighbor re-query — the full discovery pipeline.
    Oracle: the greedy discovery loops (argmin/argmax + neighbor scan +
    ez suppression) unrolled into recursive-CTE SQL by
    :func:`sql_analyze`."""
    from .plans import analyze

    out = analyze(_sequences(spark, sf_dir), W, n_motifs=3, n_discords=3)
    return out.select(
        "doc_id",
        "kind",
        F.col("rank").cast("bigint").alias("rank"),
        F.col("pos").cast("bigint").alias("pos"),
        F.col("pair_pos").cast("bigint").alias("pair_pos"),
        _r4("value").alias("value"),
    )


def sql_analyze(n_motifs: int = 3, n_discords: int = 3) -> str:
    """Brute-force SQL for analyze(): full squared-distance matrix +
    find-motifs.R/find-discord.R greedy loops unrolled per round.

    Each round r is four CTEs: pick (argmin/argmax over the suppressed
    profile, with find-motifs' neighbor-validity walk as a self-join),
    cand (the MASS re-query distance profile, radius- and ez-masked,
    collected into an ordered candidate list), a RECURSIVE greedy scan
    (find-motifs.R:141-143 dead-zone suppression |x−cand| < ez while
    taking up to n_neighbors picks), and the cumulative suppression-center
    accumulator that the next round's pick reads. The squared distances
    mirror mass_v2's exact expression order
    ``2(w − (qt − w·μμ)/(σσ))`` (mass_v2.R:45-59)."""
    w, ez = W, EZ_N
    parts: list[str] = []
    # full-lag squared-distance matrix (the MASS re-query ground truth):
    # unlike the profile CTE's pr (lags > ez only), neighbors may sit at
    # any lag >= 1 — masking near the pair happens per-round below
    parts.append(f"""
prf AS MATERIALIZED (
  SELECT a.doc_id, a.pos AS i, b.pos - a.pos AS dlag, a.value * b.value AS p
  FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.pos > a.pos
  JOIN len ON len.doc_id = a.doc_id
),
qtf AS MATERIALIZED (
  SELECT doc_id, i, dlag, sum(p) OVER winf AS qt, count(p) OVER winf AS m
  FROM prf
  WINDOW winf AS (PARTITION BY doc_id, dlag ORDER BY i
                  ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
),
dh AS MATERIALIZED (
  SELECT q.doc_id, q.i, q.i + q.dlag AS j,
         2.0 * ({w} - (q.qt - {w} * si.mu * sj.mu) / (si.sd * sj.sd)) AS d2
  FROM qtf q
  JOIN stats si ON si.doc_id = q.doc_id AND si.pos = q.i
  JOIN stats sj ON sj.doc_id = q.doc_id AND sj.pos = q.i + q.dlag
  WHERE q.m = {w} AND si.sd >= 1e-7 * (abs(si.mu) + 1.0)
    AND sj.sd >= 1e-7 * (abs(sj.mu) + 1.0)
),
dfull AS MATERIALIZED (
  SELECT doc_id, i AS qi, j AS p, d2 FROM dh
  UNION ALL
  SELECT doc_id, j AS qi, i AS p, d2 FROM dh
),
mcent0 AS (SELECT CAST(NULL AS VARCHAR) AS doc_id, CAST(NULL AS BIGINT) AS c WHERE false),
dcent0 AS (SELECT CAST(NULL AS VARCHAR) AS doc_id, CAST(NULL AS BIGINT) AS c WHERE false)""")

    def greedy(prefix: str, r: int, k: int) -> str:
        # find-motifs.R:131-147: scan candidates by (distance, pos), skip
        # dead ones, dead-zone |x - pick| <= ez-1, stop at k picks
        return f"""
{prefix}g{r}(doc_id, i, picked) AS (
  SELECT doc_id, 0, CAST([] AS BIGINT[]) FROM {prefix}cand{r}
  UNION ALL
  SELECT g.doc_id, g.i + 1,
    CASE
      WHEN len(g.picked) >= {k}
        OR len(list_filter(g.picked, x -> abs(x - c.cands[g.i + 1]) <= {ez - 1})) > 0
      THEN g.picked
      ELSE list_append(g.picked, c.cands[g.i + 1])
    END
  FROM {prefix}g{r} g JOIN {prefix}cand{r} c ON c.doc_id = g.doc_id
  WHERE g.i < len(c.cands)
),
{prefix}neigh{r} AS MATERIALIZED (
  SELECT g.doc_id, g.picked
  FROM {prefix}g{r} g JOIN {prefix}cand{r} c ON c.doc_id = g.doc_id
  WHERE g.i = len(c.cands)
)"""

    for r in range(1, n_motifs + 1):
        parts.append(f"""
mpick{r} AS MATERIALIZED (
  -- min_mp_idx walk (misc.R:539-597): candidates are visited in
  -- (mp, pos) order and POISONED on rejection, so a position whose
  -- neighbor precedes it in that order (mp[pi] < mp[i], or equal with
  -- pi < pos) finds the neighbor already poisoned and is rejected too;
  -- the accepted pick is the first position whose neighbor FOLLOWS it
  SELECT doc_id, pos, pi, mp FROM (
    SELECT m.doc_id, m.pos, m.pi, m.mp,
           row_number() OVER (PARTITION BY m.doc_id ORDER BY m.mp ASC, m.pos ASC) AS rn
    FROM mp m
    JOIN mp mj ON mj.doc_id = m.doc_id AND mj.pos = m.pi
    WHERE (mj.mp > m.mp OR (mj.mp = m.mp AND m.pi > m.pos))
      AND NOT EXISTS (SELECT 1 FROM mcent{r - 1} cc
                      WHERE cc.doc_id = m.doc_id AND abs(m.pos - cc.c) <= {ez})
      AND NOT EXISTS (SELECT 1 FROM mcent{r - 1} cc
                      WHERE cc.doc_id = m.doc_id AND abs(m.pi - cc.c) <= {ez})
  ) WHERE rn = 1
),
mpair{r} AS MATERIALIZED (
  SELECT doc_id, least(pos, pi) AS lo, greatest(pos, pi) AS hi, mp AS md
  FROM mpick{r}
),
mcand{r} AS MATERIALIZED (
  SELECT p.doc_id, list(d.p ORDER BY d.d2 ASC, d.p ASC) AS cands
  FROM mpair{r} p
  JOIN dfull d ON d.doc_id = p.doc_id AND d.qi = p.lo
  WHERE d.d2 <= (p.md * 3.0) * (p.md * 3.0)
    AND abs(d.p - p.lo) > {ez} AND abs(d.p - p.hi) > {ez}
  GROUP BY p.doc_id
),{greedy('m', r, 10)},
mcent{r} AS MATERIALIZED (
  SELECT doc_id, c FROM mcent{r - 1}
  UNION ALL SELECT doc_id, lo AS c FROM mpair{r}
  UNION ALL SELECT doc_id, hi AS c FROM mpair{r}
  UNION ALL SELECT doc_id, unnest(picked) AS c FROM mneigh{r}
)""")

    for r in range(1, n_discords + 1):
        parts.append(f"""
dpick{r} AS MATERIALIZED (
  SELECT doc_id, pos, pi, mp FROM (
    SELECT m.doc_id, m.pos, m.pi, m.mp,
           row_number() OVER (PARTITION BY m.doc_id ORDER BY m.mp DESC, m.pos ASC) AS rn
    FROM mp m
    WHERE NOT EXISTS (SELECT 1 FROM dcent{r - 1} cc
                      WHERE cc.doc_id = m.doc_id AND abs(m.pos - cc.c) <= {ez})
  ) WHERE rn = 1
),
dcand{r} AS MATERIALIZED (
  SELECT p.doc_id, list(d.p ORDER BY d.d2 ASC, d.p ASC) AS cands
  FROM dpick{r} p
  JOIN dfull d ON d.doc_id = p.doc_id AND d.qi = p.pos
  WHERE d.d2 <= (p.mp * 3.0) * (p.mp * 3.0)
    AND abs(d.p - p.pos) > {ez}
  GROUP BY p.doc_id
),{greedy('d', r, 3)},
dcent{r} AS MATERIALIZED (
  SELECT doc_id, c FROM dcent{r - 1}
  UNION ALL SELECT doc_id, pos AS c FROM dpick{r}
  UNION ALL SELECT doc_id, unnest(picked) AS c FROM dneigh{r}
)""")

    selects = []
    for r in range(1, n_motifs + 1):
        selects.append(
            f"""SELECT pr.doc_id, 'motif' AS kind, CAST({r - 1} AS BIGINT) AS rank,
       pr.lo AS pos, pr.hi AS pair_pos, round(mv.mp, 4) AS value
FROM mpair{r} pr JOIN mp mv ON mv.doc_id = pr.doc_id AND mv.pos = pr.lo"""
        )
    for r in range(1, n_discords + 1):
        selects.append(
            f"""SELECT doc_id, 'discord' AS kind, CAST({r - 1} AS BIGINT) AS rank,
       pos, pi AS pair_pos, round(mp, 4) AS value
FROM dpick{r}"""
        )
    body = ",".join(parts)
    # materialize the shared CTEs — DuckDB inlines CTEs per reference, and
    # the round-chained suppression lists reference each other twice per
    # round, which inlines the whole prior-round tree exponentially
    head = sql_mp_cte()
    for name in ("s", "len", "stats", "mp"):
        head = head.replace(f"{name} AS (", f"{name} AS MATERIALIZED (", 1)
    return (
        f"WITH RECURSIVE {head},{body}\n"
        + "\nUNION ALL\n".join(selects)
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # matrix profile family (kernels oracle-gated by brute-force SQL MP)
    "mp_selfjoin": q_mp_selfjoin,
    "mp_stomp": q_mp_stomp,
    "mp_rollup_tier1": q_mp_rollup_tier1,
    "mp_rollup_tier2": q_mp_rollup_tier2,
    "mp_retention": q_mp_retention,
    "arc_cac": q_arc_cac,
    "motif_topk": q_motif_topk,
    "discord_topk": q_discord_topk,
    "ab_join": q_ab_join,
    "mpdist": q_mpdist,
    "pmp_multi_window": q_pmp_multi_window,
    # relational series operators
    "rolling_stats": q_rolling_stats,
    "znorm": q_znorm,
    "paa": q_paa,
    "series_features": q_series_features,
    "events_rollup_gapfill": q_events_rollup_gapfill,
    "topk_users": q_topk_users,
    # training-data pipeline
    "dedup_exact": q_dedup_exact,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_sig": q_minhash_sig,
    "minhash_lsh": q_minhash_lsh,
    "simhash": q_simhash,
    "quality": q_quality,
    "lang_id": q_lang_id,
    "token_counts": q_token_counts,
    "fingerprint": q_fingerprint,
    "embedding_topk": q_embedding_topk,
    "lsh_ann": q_lsh_ann,
    # codec + streaming + discovery (stompi/gorilla oracle-checked too)
    "gorilla_roundtrip": q_gorilla_roundtrip,
    "stompi_stream": q_stompi_stream,
    "fluss_segments": q_fluss_segments,
    "analyze_motifs_discords": q_analyze,
}

ORACLES: dict[str, str] = {
    "mp_selfjoin": SQL_MP_SELFJOIN,
    "mp_stomp": SQL_MP_SELFJOIN,  # independent kernel, same ground truth
    "mp_rollup_tier1": SQL_MP_ROLLUP_TIER1,
    "mp_rollup_tier2": SQL_MP_ROLLUP_TIER2,
    "mp_retention": SQL_MP_RETENTION,
    "arc_cac": SQL_ARC_CAC,
    "motif_topk": SQL_MOTIF_TOPK,
    "discord_topk": SQL_DISCORD_TOPK,
    "ab_join": SQL_AB_JOIN,
    "mpdist": SQL_MPDIST,
    "pmp_multi_window": SQL_PMP_MULTI,
    "rolling_stats": SQL_ROLLING_STATS,
    "znorm": SQL_ZNORM,
    "paa": SQL_PAA,
    "series_features": SQL_SERIES_FEATURES,
    "events_rollup_gapfill": SQL_EVENTS_ROLLUP_GAPFILL,
    "topk_users": SQL_TOPK_USERS,
    "dedup_exact": SQL_DEDUP_EXACT,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "minhash_sig": SQL_MINHASH_SIG,
    "minhash_lsh": SQL_MINHASH_LSH,
    "simhash": SQL_SIMHASH,
    "quality": SQL_QUALITY,
    "lang_id": SQL_LANG_ID,
    "token_counts": SQL_TOKEN_COUNTS,
    "fingerprint": SQL_FINGERPRINT,
    "embedding_topk": SQL_EMBEDDING_TOPK,
    "lsh_ann": SQL_LSH_ANN,
    "gorilla_roundtrip": SQL_GORILLA_ROUNDTRIP,
    "stompi_stream": SQL_MP_SELFJOIN,  # streaming == batch == brute force
    "analyze_motifs_discords": sql_analyze(),
    # fluss_segments: rows-only (non-SQL iterative)
}

# ---------------------------------------------------------------------------
# queries — VALMOD + annotation vectors (appended coverage)
# ---------------------------------------------------------------------------


def q_valmod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALMOD (valmod.R:52-702): per position the best length-normalized
    match over windows [6, 8], ties to the smallest window."""
    import numpy as np
    import pandas as pd

    from .mpcore import valmod as valmod_kernel

    seqs = _sequences(spark, sf_dir)
    schema = "doc_id string, pos long, w long, mp_r double, pi long"

    def kernel(batches):
        for pdf in batches:
            out = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                a = np.asarray(tokens, dtype=np.float64)
                if a.shape[0] < 10:  # w_min + ez_min + 1 = 6 + 3 + 1
                    continue
                r = valmod_kernel(a, 6, 8)
                keep = r.pi >= 0
                idx = np.flatnonzero(keep)
                out.append(
                    pd.DataFrame(
                        {
                            "doc_id": np.repeat(doc_id, idx.shape[0]),
                            "pos": idx.astype(np.int64),
                            "w": r.w[idx].astype(np.int64),
                            "mp_r": np.round(r.mp[idx], 4),
                            "pi": r.pi[idx].astype(np.int64),
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    n_parts = spark.sparkContext.defaultParallelism
    return seqs.select("doc_id", "tokens").repartition(n_parts).mapInPandas(kernel, schema)


def _sql_valmod() -> str:
    blocks = []
    for w in (6, 7, 8):
        ez = int(round(w * 0.5 + 1e-8))
        blocks.append(
            f"""SELECT doc_id, {w} AS w, pos, mp * sqrt(1.0 / {w}) AS norm, pi FROM (
  WITH {sql_mp_cte(w, ez, w + ez + 1)}
  SELECT doc_id, pos, mp, pi FROM mp
)"""
        )
    union = "\nUNION ALL\n".join(blocks)
    return f"""
WITH allw AS (
{union}
),
ranked AS (
  SELECT doc_id, pos, w, norm, pi,
         row_number() OVER (PARTITION BY doc_id, pos ORDER BY norm ASC, w ASC) AS rn
  FROM allw
)
SELECT doc_id, pos, w, round(norm, 4) AS mp_r, pi FROM ranked WHERE rn = 1
"""


SQL_VALMOD = _sql_valmod()


def q_av_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotation vector (complexity) applied to the profile
    (annotations.R:32-67 + av_apply :322): mp' = mp + (1−av)·max(mp)."""
    import numpy as np
    import pandas as pd

    from .mpcore import av_apply, av_complexity, stomp

    seqs = _sequences(spark, sf_dir)
    schema = "doc_id string, pos long, av double, mp_av double"

    def kernel(batches):
        for pdf in batches:
            out = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                a = np.asarray(tokens, dtype=np.float64)
                if a.shape[0] < MIN_LEN:
                    continue
                prof = stomp(a, W)
                av = av_complexity(prof)
                applied = av_apply(prof, av)
                n = av.shape[0]
                out.append(
                    pd.DataFrame(
                        {
                            "doc_id": np.repeat(doc_id, n),
                            "pos": np.arange(n, dtype=np.int64),
                            "av": np.round(av, 4),
                            "mp_av": np.round(applied.mp, 4),
                        }
                    )[np.isfinite(applied.mp)]
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    n_parts = spark.sparkContext.defaultParallelism
    return seqs.select("doc_id", "tokens").repartition(n_parts).mapInPandas(kernel, schema)


SQL_AV_COMPLEXITY = f"""
WITH {sql_mp_cte()},
zstats AS (
  SELECT doc_id, avg(value) AS mu, stddev_pop(value) AS sd
  FROM s JOIN len USING (doc_id) GROUP BY doc_id
),
z AS (
  SELECT s.doc_id, s.pos,
         CASE WHEN zstats.sd < 1e-7 * (abs(zstats.mu) + 1.0) THEN s.value - zstats.mu
              ELSE (s.value - zstats.mu) / zstats.sd END AS zv
  FROM s JOIN zstats ON s.doc_id = zstats.doc_id
),
zd AS (
  SELECT doc_id, pos,
         power(lead(zv) OVER (PARTITION BY doc_id ORDER BY pos) - zv, 2) AS dd
  FROM z
),
cx AS (
  SELECT doc_id, pos,
         sqrt(sum(dd) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN CURRENT ROW AND {W - 2} FOLLOWING)) AS c,
         count(dd) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN CURRENT ROW AND {W - 2} FOLLOWING) AS m
  FROM zd
),
cxv AS (
  -- normalization domain = ALL full windows (annotations.R computes the
  -- av before any profile-definedness filter; a degenerate window still
  -- has a complexity), NOT just pair-CTE-defined positions — the
  -- const_prefix probe shifts min(c) to 0 via its constant windows
  SELECT cx.doc_id, cx.pos, cx.c
  FROM cx JOIN len ON cx.doc_id = len.doc_id
  WHERE cx.m = {W - 1}
),
norm AS (
  SELECT doc_id, min(c) AS cmin, max(c) AS cmax FROM cxv GROUP BY doc_id
),
av AS (
  SELECT cxv.doc_id, cxv.pos,
         CASE WHEN norm.cmax = norm.cmin THEN 0.0
              ELSE (cxv.c - norm.cmin) / (norm.cmax - norm.cmin) END AS av
  FROM cxv JOIN norm ON cxv.doc_id = norm.doc_id
),
mpmax AS (SELECT doc_id, max(mp) AS mmax FROM mp GROUP BY doc_id)
SELECT av.doc_id, av.pos, round(av.av, 4) AS av,
       round(mp.mp + (1.0 - av.av) * mpmax.mmax, 4) AS mp_av
FROM av
JOIN mp ON av.doc_id = mp.doc_id AND av.pos = mp.pos
JOIN mpmax ON av.doc_id = mpmax.doc_id
"""

QUERIES["valmod"] = q_valmod
QUERIES["av_complexity"] = q_av_complexity
ORACLES["valmod"] = SQL_VALMOD
ORACLES["av_complexity"] = SQL_AV_COMPLEXITY

# ---------------------------------------------------------------------------
# queries — multidimensional kernels (mSTOMP, SiMPle) + chains/snippets
# ---------------------------------------------------------------------------

_SQL_2DIM_BASE = f"""
{sql_series()},
len AS (
  SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id HAVING count(*) >= {MIN_LEN}
),
s2 AS (
  SELECT s.doc_id, s.pos, s.value AS v1,
         coalesce(s.value - lag(s.value) OVER (PARTITION BY s.doc_id ORDER BY s.pos), 0.0) AS v2
  FROM s JOIN len USING (doc_id)
),
st AS (
  SELECT doc_id, pos,
         avg(v1) OVER w AS mu1, stddev_pop(v1) OVER w AS sd1,
         avg(v2) OVER w AS mu2, stddev_pop(v2) OVER w AS sd2,
         sum(v1 * v1) OVER w AS ss1, sum(v2 * v2) OVER w AS ss2,
         count(*) OVER w AS cnt
  FROM s2
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
),
stats AS (SELECT * FROM st WHERE cnt = {W}),
pr AS (
  SELECT a.doc_id, a.pos AS t, b.pos - a.pos AS d,
         a.v1 * b.v1 AS p1, a.v2 * b.v2 AS p2
  FROM s2 a JOIN s2 b ON a.doc_id = b.doc_id AND b.pos > a.pos + {EZ_N}
),
qt AS (
  SELECT doc_id, t AS i, d,
         sum(p1) OVER win AS qt1, sum(p2) OVER win AS qt2,
         count(p1) OVER win AS m
  FROM pr
  WINDOW win AS (PARTITION BY doc_id, d ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
)"""


def q_mstomp_2dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mSTOMP (mstomp.R:59-320) over a 2-dim series (value, lag-diff):
    column k = best k-dim profile (sorted squared distances, cumulative
    mean). Oracle re-derives both k-profiles in pure SQL."""
    import numpy as np
    import pandas as pd

    from .mpcore import mstomp as mstomp_kernel

    from pyspark.sql.window import Window as W_

    ev = _events(spark, sf_dir)
    wspec = Window.partitionBy("doc_id").orderBy("pos")
    from .operators.series import events_to_long

    s = events_to_long(ev)
    s2 = s.select(
        "doc_id",
        "pos",
        F.col("value").alias("v1"),
        F.coalesce(F.col("value") - F.lag("value").over(wspec), F.lit(0.0)).alias("v2"),
    )
    nested = (
        s2.groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "v1", "v2"))),
                lambda r: F.array(r["v1"], r["v2"]),
            ).alias("dims")
        )
        .filter(F.size("dims") >= MIN_LEN)
    )

    schema = "doc_id string, pos long, k long, mp_r double"

    def kernel(batches):
        for pdf in batches:
            out = []
            for doc_id, dims in zip(pdf["doc_id"], pdf["dims"]):
                data = np.asarray([np.asarray(x) for x in dims], dtype=np.float64)
                r = mstomp_kernel(data, W)
                for k in (1, 2):
                    col = r.mp[:, k - 1]
                    keep = np.isfinite(col)
                    idx = np.flatnonzero(keep)
                    out.append(
                        pd.DataFrame(
                            {
                                "doc_id": np.repeat(doc_id, idx.shape[0]),
                                "pos": idx.astype(np.int64),
                                "k": np.repeat(np.int64(k), idx.shape[0]),
                                "mp_r": np.round(col[idx], 4),
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    n_parts = spark.sparkContext.defaultParallelism
    return nested.repartition(n_parts).mapInPandas(kernel, schema)


SQL_MSTOMP_2DIM = f"""
WITH {_SQL_2DIM_BASE},
dists AS (
  SELECT q.doc_id, q.i, q.i + q.d AS j,
         2.0 * {W} * (1.0 - (q.qt1 - {W} * si.mu1 * sj.mu1) / ({W} * si.sd1 * sj.sd1)) AS dsq1,
         2.0 * {W} * (1.0 - (q.qt2 - {W} * si.mu2 * sj.mu2) / ({W} * si.sd2 * sj.sd2)) AS dsq2
  FROM qt q
  JOIN stats si ON si.doc_id = q.doc_id AND si.pos = q.i
  JOIN stats sj ON sj.doc_id = q.doc_id AND sj.pos = q.i + q.d
  WHERE q.m = {W} AND si.sd1 >= 1e-7 * (abs(si.mu1) + 1.0)
    AND sj.sd1 >= 1e-7 * (abs(sj.mu1) + 1.0)
    AND si.sd2 >= 1e-7 * (abs(si.mu2) + 1.0)
    AND sj.sd2 >= 1e-7 * (abs(sj.mu2) + 1.0)
),
sides AS (
  SELECT doc_id, i AS pos, dsq1, dsq2 FROM dists
  UNION ALL
  SELECT doc_id, j AS pos, dsq1, dsq2 FROM dists
),
merged AS (
  SELECT doc_id, pos,
         min(least(dsq1, dsq2)) AS k1sq,
         min((dsq1 + dsq2) / 2.0) AS k2sq
  FROM sides GROUP BY doc_id, pos
)
SELECT doc_id, pos, 1 AS k, round(sqrt(greatest(k1sq, 0.0)), 4) AS mp_r FROM merged
UNION ALL
SELECT doc_id, pos, 2 AS k, round(sqrt(greatest(k2sq, 0.0)), 4) AS mp_r FROM merged
"""


def q_simple_2dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SiMPle-Fast (simple.R:29-232): NON-normalized multidim ED summed
    over (value, lag-diff) dims, self-join with exclusion zone."""
    import numpy as np
    import pandas as pd

    from .mpcore import simple_fast

    from .operators.series import events_to_long

    ev = _events(spark, sf_dir)
    wspec = Window.partitionBy("doc_id").orderBy("pos")
    s = events_to_long(ev)
    s2 = s.select(
        "doc_id",
        "pos",
        F.col("value").alias("v1"),
        F.coalesce(F.col("value") - F.lag("value").over(wspec), F.lit(0.0)).alias("v2"),
    )
    nested = (
        s2.groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "v1", "v2"))),
                lambda r: F.array(r["v1"], r["v2"]),
            ).alias("dims")
        )
        .filter(F.size("dims") >= MIN_LEN)
    )

    schema = "doc_id string, pos long, mp_r double"

    def kernel(batches):
        for pdf in batches:
            out = []
            for doc_id, dims in zip(pdf["doc_id"], pdf["dims"]):
                data = np.asarray([np.asarray(x) for x in dims], dtype=np.float64)
                # symmetric variant for the relational oracle; the
                # reference's asymmetric first-row quirk (and its SQUARED
                # mp convention) are golden-tested in mpcore directly
                r = simple_fast(data, W, first_row_quirk=False)
                keep = np.isfinite(r.mp)
                idx = np.flatnonzero(keep)
                out.append(
                    pd.DataFrame(
                        {
                            "doc_id": np.repeat(doc_id, idx.shape[0]),
                            "pos": idx.astype(np.int64),
                            "mp_r": np.round(np.sqrt(r.mp[idx]), 4),
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    n_parts = spark.sparkContext.defaultParallelism
    return nested.repartition(n_parts).mapInPandas(kernel, schema)


SQL_SIMPLE_2DIM = f"""
WITH {_SQL_2DIM_BASE},
dists AS (
  SELECT q.doc_id, q.i, q.i + q.d AS j,
         (si.ss1 + sj.ss1 - 2.0 * q.qt1) + (si.ss2 + sj.ss2 - 2.0 * q.qt2) AS dsq
  FROM qt q
  JOIN stats si ON si.doc_id = q.doc_id AND si.pos = q.i
  JOIN stats sj ON sj.doc_id = q.doc_id AND sj.pos = q.i + q.d
  WHERE q.m = {W}
),
sides AS (
  SELECT doc_id, i AS pos, dsq FROM dists
  UNION ALL
  SELECT doc_id, j AS pos, dsq FROM dists
)
SELECT doc_id, pos, round(sqrt(greatest(min(dsq), 0.0)), 4) AS mp_r
FROM sides GROUP BY doc_id, pos
"""


def q_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series chains (find-chains.R:20-80): follow rpi while the
    backward link agrees. Iterative link-walk — rows-only check."""
    import numpy as np
    import pandas as pd

    from .mpcore import find_chains, stomp

    seqs = _sequences(spark, sf_dir)
    schema = "doc_id string, chain_rank long, link long, pos long"

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                a = np.asarray(tokens, dtype=np.float64)
                if a.shape[0] < MIN_LEN:
                    continue
                r = stomp(a, W)
                chains, best = find_chains(r)
                chains_sorted = sorted(chains, key=lambda c: (-len(c), c[0]))
                for rank, chain in enumerate(chains_sorted[:3]):
                    for link, pos in enumerate(chain):
                        rows.append(
                            {"doc_id": doc_id, "chain_rank": rank, "link": link, "pos": int(pos)}
                        )
            if rows:
                yield pd.DataFrame(rows)

    n_parts = spark.sparkContext.defaultParallelism
    return seqs.select("doc_id", "tokens").repartition(n_parts).mapInPandas(kernel, schema)


def q_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative snippets (find-snippet.R:60-139): greedy min-area
    coverage over mpdist-vect profiles. Series are truncated to a multiple
    of s_size so the kernel's zero-pad branch is a no-op — that keeps the
    oracle free of the pad's zero-variance-window NaN semantics (which
    stay pytest-covered); the mpdist-vect + greedy pipeline itself is
    fully oracle-checked by SQL_SNIPPETS."""
    import numpy as np
    import pandas as pd

    from .mpcore import find_snippets
    from .mpcore.stats import fast_avg_sd, lowvar_threshold

    seqs = _sequences(spark, sf_dir)
    schema = "doc_id string, rank long, snippet_pos long, frac double"

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                a = np.asarray(tokens, dtype=np.float64)
                if a.shape[0] >= 1 and np.std(a) == 0.0:
                    continue  # constant series: snippet distances undefined
                if a.shape[0] < 40:
                    continue
                a = a[: 20 * (a.shape[0] // 20)]
                # engine convention: snippet distances are undefined on a
                # series with ANY degenerate window — skip (oracle okdoc)
                mu8, sd8 = fast_avg_sd(a, 8)
                if (sd8 < lowvar_threshold(mu8)).any():
                    continue
                s = find_snippets(a, s_size=20, n_snippets=2, window_size=8)
                for rank, (pos, frac) in enumerate(zip(s.snippet_idx, s.snippet_frac)):
                    rows.append(
                        {
                            "doc_id": doc_id, "rank": rank,
                            "snippet_pos": int(pos), "frac": float(np.round(frac, 4)),
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    n_parts = spark.sparkContext.defaultParallelism
    return seqs.select("doc_id", "tokens").repartition(n_parts).mapInPandas(kernel, schema)


_SNIP_EPS = 1.4901161193847656e-08  # sqrt(float64 eps), stats.py EPS

SQL_SNIPPETS = f"""
WITH sfull AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS pos,
         value
  FROM events
),
nlen AS MATERIALIZED (
  -- constant series excluded: z-normalized snippet distances are
  -- undefined there (both engines skip, matching the Spark kernel)
  SELECT doc_id, 20 * CAST(floor(count(*) / 20.0) AS BIGINT) AS n20
  FROM sfull GROUP BY doc_id
  HAVING count(*) >= 40 AND stddev_pop(value) > 0
),
s AS MATERIALIZED (
  SELECT f.doc_id, f.pos, f.value
  FROM sfull f JOIN nlen ON nlen.doc_id = f.doc_id
  WHERE f.pos < nlen.n20
),
st AS (
  SELECT doc_id, pos,
         avg(value) OVER w8 AS mu,
         stddev_pop(value) OVER w8 AS sd,
         sum(value * value) OVER w8 AS vv,
         count(*) OVER w8 AS cnt
  FROM s
  WINDOW w8 AS (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
),
stats AS MATERIALIZED (SELECT doc_id, pos, mu, sd, vv FROM st WHERE cnt = 8),
-- all-pairs window dot products via per-diagonal rolling sums
pr AS (
  SELECT a.doc_id, a.pos AS i, b.pos - a.pos AS dlag, a.value * b.value AS p
  FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.pos > a.pos
),
qts AS (
  SELECT doc_id, i, dlag, sum(p) OVER winq AS qt, count(p) OVER winq AS m
  FROM pr
  WINDOW winq AS (PARTITION BY doc_id, dlag ORDER BY i
                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
),
dhs AS (SELECT doc_id, i, i + dlag AS j, qt FROM qts WHERE m = 8),
dots AS MATERIALIZED (
  SELECT doc_id, i AS qi, j AS p, qt FROM dhs
  UNION ALL SELECT doc_id, j AS qi, i AS p, qt FROM dhs
  UNION ALL SELECT doc_id, pos AS qi, pos AS p, vv AS qt FROM stats
),
okdoc AS MATERIALIZED (
  -- engine convention: snippet distances are undefined on a series with
  -- ANY degenerate window (lowvar_threshold) — both engines skip it
  SELECT doc_id FROM stats GROUP BY doc_id
  HAVING min(sd - 1e-7 * (abs(mu) + 1.0)) >= 0
),
cand AS (SELECT doc_id, unnest(range(0, n20 - 20, 20)) AS c
         FROM nlen JOIN okdoc USING (doc_id)),
-- mat[c][j][p]: mass_v2's exact squared-distance expression
matv AS MATERIALIZED (
  SELECT c.doc_id, c.c, d.qi - c.c AS j, d.p,
         2.0 * (8.0 - (d.qt - 8.0 * sq.mu * sp.mu) / (sq.sd * sp.sd)) AS v
  FROM cand c
  JOIN dots d ON d.doc_id = c.doc_id AND d.qi >= c.c AND d.qi <= c.c + 12
  JOIN stats sq ON sq.doc_id = c.doc_id AND sq.pos = d.qi
  JOIN stats sp ON sp.doc_id = c.doc_id AND sp.pos = d.p
),
-- movmin width 13 per query row (mpdist.R:167 slid_min)
leftv AS MATERIALIZED (
  SELECT doc_id, c, j, p,
         min(v) OVER wmin AS lv, count(v) OVER wmin AS wcnt
  FROM matv
  WINDOW wmin AS (PARTITION BY doc_id, c, j ORDER BY p
                  ROWS BETWEEN CURRENT ROW AND 12 FOLLOWING)
),
-- column minima (mpdist.R:160 all_right_histogram)
righth AS MATERIALIZED (
  SELECT doc_id, c, p, min(v) AS rv FROM matv GROUP BY doc_id, c, p
),
offs AS (SELECT doc_id, unnest(range(0, n20 - 19)) AS p FROM nlen),
recreated AS (
  SELECT doc_id, c, p, lv AS val FROM leftv WHERE wcnt = 13
  UNION ALL
  SELECT o.doc_id, r.c, o.p AS p, r.rv AS val
  FROM offs o JOIN righth r
    ON r.doc_id = o.doc_id AND r.p BETWEEN o.p AND o.p + 12
),
-- cal_mp_dist: k-th smallest with k = ceil(0.05 * 2 * 20) = 2
dvec AS MATERIALIZED (
  SELECT doc_id, c, p,
         CASE WHEN val < {_SNIP_EPS} THEN 0.0 ELSE sqrt(val) END AS dv
  FROM (
    SELECT doc_id, c, p, val,
           row_number() OVER (PARTITION BY doc_id, c, p ORDER BY val ASC) AS rn
    FROM recreated
  ) WHERE rn = 2
),
a1 AS (SELECT doc_id, c, sum(dv) AS area FROM dvec GROUP BY doc_id, c),
b1 AS MATERIALIZED (
  SELECT doc_id, c FROM (
    SELECT doc_id, c,
           row_number() OVER (PARTITION BY doc_id ORDER BY area ASC, c ASC) AS rn
    FROM a1
  ) WHERE rn = 1
),
minis AS MATERIALIZED (
  SELECT d.doc_id, d.p, d.dv
  FROM dvec d JOIN b1 ON b1.doc_id = d.doc_id AND b1.c = d.c
),
a2 AS (
  SELECT d.doc_id, d.c, sum(least(d.dv, m.dv)) AS area
  FROM dvec d JOIN minis m ON m.doc_id = d.doc_id AND m.p = d.p
  GROUP BY d.doc_id, d.c
),
b2 AS MATERIALIZED (
  SELECT doc_id, c FROM (
    SELECT doc_id, c,
           row_number() OVER (PARTITION BY doc_id ORDER BY area ASC, c ASC) AS rn
    FROM a2
  ) WHERE rn = 1
),
snip2 AS MATERIALIZED (
  SELECT d.doc_id, d.p, d.dv
  FROM dvec d JOIN b2 ON b2.doc_id = d.doc_id AND b2.c = d.c
),
-- fractions: snippet 0 claims positions where its profile <= the other's
-- (find-snippet.R:118-131 reduces to exactly this two-snippet split)
cmp AS (
  SELECT d1.doc_id,
         sum(CASE WHEN d1.dv <= d2.dv THEN 1 ELSE 0 END) AS n_le,
         sum(CASE WHEN d2.dv < d1.dv THEN 1 ELSE 0 END) AS n_lt,
         count(*) AS plen
  FROM minis d1 JOIN snip2 d2 ON d2.doc_id = d1.doc_id AND d2.p = d1.p
  GROUP BY d1.doc_id
)
SELECT b1.doc_id, CAST(0 AS BIGINT) AS rank, b1.c AS snippet_pos,
       round(cmp.n_le / cmp.plen, 4) AS frac
FROM b1 JOIN cmp ON cmp.doc_id = b1.doc_id
UNION ALL
SELECT b2.doc_id, CAST(1 AS BIGINT) AS rank, b2.c AS snippet_pos,
       round(cmp.n_lt / cmp.plen, 4) AS frac
FROM b2 JOIN cmp ON cmp.doc_id = b2.doc_id
"""

QUERIES["mstomp_2dim"] = q_mstomp_2dim
QUERIES["simple_2dim"] = q_simple_2dim
QUERIES["chains"] = q_chains
QUERIES["snippets"] = q_snippets
ORACLES["mstomp_2dim"] = SQL_MSTOMP_2DIM
ORACLES["simple_2dim"] = SQL_SIMPLE_2DIM
ORACLES["snippets"] = SQL_SNIPPETS

# ---------------------------------------------------------------------------
# queries — subsetting + SDTS + salient
# ---------------------------------------------------------------------------


def q_mp_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-consistent profile subsetting (subset.R:8-45): positions
    [10, 40) with index rebasing; neighbors escaping the slice clamp to
    NULL — oracle re-derives the slice relationally."""
    import numpy as np
    import pandas as pd

    from .mpcore import stomp, subset_profile

    seqs = _sequences(spark, sf_dir)
    schema = "doc_id string, pos long, mp_r double, pi long"

    def kernel(batches):
        for pdf in batches:
            out = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                a = np.asarray(tokens, dtype=np.float64)
                if a.shape[0] < MIN_LEN:
                    continue
                prof = stomp(a, W)
                end = min(40, prof.mp.shape[0])
                if end <= 10:
                    continue
                sub = subset_profile(prof, 10, end)
                mp = sub.mp.copy()
                mp[~np.isfinite(mp)] = np.nan
                pi = sub.pi.astype(np.float64)
                pi[pi < 0] = np.nan
                out.append(
                    pd.DataFrame(
                        {
                            "doc_id": np.repeat(doc_id, mp.shape[0]),
                            "pos": np.arange(mp.shape[0], dtype=np.int64),
                            "mp_r": np.round(mp, 4),
                            "pi": pi,
                        }
                    )[np.isfinite(mp)]
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    n_parts = spark.sparkContext.defaultParallelism
    out = seqs.select("doc_id", "tokens").repartition(n_parts).mapInPandas(kernel, schema)
    return out.select("doc_id", "pos", "mp_r", F.col("pi").cast("bigint").alias("pi"))


SQL_MP_SUBSET = f"""
WITH {sql_mp_cte()}
SELECT doc_id, pos - 10 AS pos, round(mp, 4) AS mp_r,
       CASE WHEN pi >= 10 AND pi < 40 THEN pi - 10 ELSE NULL END AS pi
FROM mp WHERE pos >= 10 AND pos < 40
"""


#: SDTS prefix constants: window, positive label segments (data coords,
#: inclusive), minimum series length to host both segments plus tail
_SDTS_W = 6
_SDTS_SEGS = ((10, 21), (34, 45))
_SDTS_MIN_N = 52


def _sdts_concat_bounds() -> list[tuple[int, int]]:
    """Concat-coordinate (start, end) of each positive segment in the
    Inf-separated concatenation [Inf, seg0, Inf, seg1, ...] — derived
    from ``_SDTS_SEGS`` so the kernel slices and the oracle's cpos
    mapping can never drift from the segment table."""
    bounds, st = [], 1
    for s_, e_ in _SDTS_SEGS:
        ln = e_ - s_ + 1
        bounds.append((st, st + ln - 1))
        st += ln + 1  # +1 for the next Inf separator
    return bounds


def q_sdts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SDTS train, DETERMINISTIC PREFIX (sdts-train.R:48-233 stages
    1-2b + one pinned ``compute_f_meas`` evaluation, misc.R:719-814):
    per series, weak labels mark two fixed positive segments; the
    prefix emits (a) the stage-2a best candidate per segment — argmin
    of the matrix profile of the Inf-separated positive concatenation
    (sdts-train.R:150-176) — and (b) the stage-2b threshold-search
    setup: the candidate's exclusion-masked distance profile bounds
    [a, b] (misc.R:618-621) plus the full F-beta machinery
    (annotation runs, min-separation dedup walk, precision/recall)
    evaluated at the pinned midpoint threshold (a+b)/2. The
    golden-section TAIL is iterative over a piecewise-constant
    objective and not bit-replayable cross-engine (SCALE.md); the full
    search stays pinned by the exact stage-2 goldens in pytest. This
    projection flips the driver row from rows-only to hash-green
    (VERDICT r2 item #3). Float hygiene: profile values rounded to 4,
    distance profiles to 6, in-engine on both sides; the engine-wide
    low-variance guard masks degenerate profile positions (the raw
    reference dist_profile would 0/0 there)."""
    import numpy as np
    import pandas as pd

    from .mpcore import stomp
    from .mpcore.mass import dist_profile
    from .mpcore.sdts import _anno_starts, _dedup_starts, compute_f_meas
    from .mpcore.stats import fast_avg_sd, lowvar_threshold

    seqs = _sequences(spark, sf_dir)
    schema = (
        "doc_id string, seg long, cand_pos long, cand_mp_r double, "
        "a_u long, b_u long, f_r double, pre_r double, "
        "rec_r double, n_anno long"
    )
    w = _SDTS_W
    pos_st = np.array([s for s, _ in _SDTS_SEGS], dtype=np.int64)
    pos_ed = np.array([e for _, e in _SDTS_SEGS], dtype=np.int64)

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                a = np.asarray(tokens, dtype=np.float64)
                n = a.shape[0]
                if n < _SDTS_MIN_N:
                    continue
                label = np.zeros(n, dtype=bool)
                for s_, e_ in zip(pos_st, pos_ed):
                    label[s_ : e_ + 1] = True
                # stage 1 (sdts-train.R:150-160): MP of the Inf-separated
                # concatenation of the positive segments
                parts = []
                for s_, e_ in zip(pos_st, pos_ed):
                    parts.append(np.array([np.inf]))
                    parts.append(a[s_ : e_ + 1])
                pos = np.concatenate(parts)
                mats = stomp(pos, w).mp
                cb = _sdts_concat_bounds()
                seg_st = np.array([b[0] for b in cb], dtype=np.int64)
                seg_ed = np.array([b[1] for b in cb], dtype=np.int64)
                mu_all, sd_all = fast_avg_sd(a, w)
                thr_all = lowvar_threshold(mu_all)
                plen = n - w + 1
                for j in range(2):
                    lo = int(min(seg_st[j], pos.shape[0] - w))
                    hi = int(max(lo, seg_ed[j] - w + 1))
                    temp = np.round(mats[lo : hi + 1], 4)
                    if not np.isfinite(temp).any():
                        continue
                    rlt = int(np.argmin(temp))  # ties: first (R which.min)
                    cand_idx = int(pos_st[j] + rlt)
                    cand_mp = float(temp[rlt])
                    # stage 2b setup (sdts-train.R:211-222): candidate
                    # distance profile, self-zone masked
                    dp = np.sqrt(
                        np.clip(
                            dist_profile(
                                a, a[cand_idx : cand_idx + w], window_size=w
                            ).distance_profile,
                            0.0,
                            None,
                        )
                    )
                    # integer micro-units: 1e-6-quantized distances make
                    # every downstream comparison (midpoint threshold,
                    # annotation bins) exact-integer on BOTH engines —
                    # no decimal-rounding convention can flip them
                    dp = np.rint(dp * 1e6)
                    st_ = max(0, cand_idx - w)
                    ed_ = min(plen - 1, cand_idx + w)
                    dp[st_ : ed_ + 1] = np.inf
                    dp[sd_all < thr_all] = np.inf  # engine-wide guard
                    fin = dp[np.isfinite(dp)]
                    if fin.shape[0] == 0:
                        continue
                    a_u, b_u = int(fin.min()), int(fin.max())
                    th = (a_u + b_u) / 2.0  # half-integer, exact in fp64
                    f, pre, rec = compute_f_meas(
                        label, pos_st, pos_ed, dp, th, w, 1.0
                    )
                    kept = _dedup_starts(
                        _anno_starts((dp - th < 0).astype(np.int64)), w
                    )
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "seg": j,
                            "cand_pos": cand_idx,
                            "cand_mp_r": cand_mp,
                            "a_u": a_u,
                            "b_u": b_u,
                            "f_r": round(float(f), 6),
                            "pre_r": round(float(pre), 6)
                            if np.isfinite(pre)
                            else -1.0,
                            "rec_r": round(float(rec), 6),
                            "n_anno": int(kept.shape[0]),
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    n_parts = spark.sparkContext.defaultParallelism
    return seqs.select("doc_id", "tokens").repartition(n_parts).mapInPandas(kernel, schema)


def _sql_sdts() -> str:
    """Relational twin of :func:`q_sdts`: all-pairs window distances via
    per-diagonal rolling dot products serve BOTH the concatenation MP
    (segment-window pairs, concat-coordinate exclusion zone) and the
    candidate distance profiles; the annotation dedup walk is the
    analyze-style greedy recursive CTE."""
    w = _SDTS_W
    (s0, e0), (s1, e1) = _SDTS_SEGS
    (st0, _), (st1, _) = _sdts_concat_bounds()  # concat coords, shared
    b0_lo, b0_hi = s0, e0 - w + 1  # segment-window bases, data coords
    b1_lo, b1_hi = s1, e1 - w + 1
    bases = ",".join(
        str(b)
        for b in list(range(b0_lo, b0_hi + 1)) + list(range(b1_lo, b1_hi + 1))
    )
    ez_c = 3  # exclusion_zone_size(6, 0.5) in concat coords
    return f"""
WITH RECURSIVE {sql_series()},
len6 AS MATERIALIZED (
  SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id
  HAVING count(*) >= {_SDTS_MIN_N}
),
st6 AS (
  SELECT s.doc_id, s.pos, avg(value) OVER winst AS mu,
         stddev_pop(value) OVER winst AS sd, count(*) OVER winst AS cnt
  FROM s JOIN len6 USING (doc_id)
  WINDOW winst AS (PARTITION BY s.doc_id ORDER BY s.pos
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
),
stats6 AS MATERIALIZED (SELECT doc_id, pos, mu, sd FROM st6 WHERE cnt = {w}),
pr6 AS (
  SELECT a.doc_id, a.pos AS i, b.pos - a.pos AS d, a.value * b.value AS p
  FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.pos > a.pos
  JOIN len6 ON len6.doc_id = a.doc_id
),
qt6 AS (
  SELECT doc_id, i, d, sum(p) OVER win AS qt, count(p) OVER win AS m
  FROM pr6
  WINDOW win AS (PARTITION BY doc_id, d ORDER BY i
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
),
d6 AS MATERIALIZED (
  SELECT q.doc_id, q.i, q.i + q.d AS j,
         sqrt(greatest(2.0 * ({w}.0 - (q.qt - {w}.0 * si.mu * sj.mu)
              / (si.sd * sj.sd)), 0.0)) AS dist
  FROM qt6 q
  JOIN stats6 si ON si.doc_id = q.doc_id AND si.pos = q.i
  JOIN stats6 sj ON sj.doc_id = q.doc_id AND sj.pos = q.i + q.d
  WHERE q.m = {w} AND si.sd >= 1e-7 * (abs(si.mu) + 1.0)
    AND sj.sd >= 1e-7 * (abs(sj.mu) + 1.0)
),
dboth AS MATERIALIZED (
  SELECT doc_id, i, j, dist FROM d6
  UNION ALL SELECT doc_id, j AS i, i AS j, dist FROM d6
),
segw AS (
  SELECT l.doc_id, g.b AS base,
         CASE WHEN g.b <= {b0_hi} THEN 0 ELSE 1 END AS seg,
         CASE WHEN g.b <= {b0_hi} THEN g.b - {s0 - st0}
              ELSE g.b - {s1 - st1} END AS cpos
  FROM len6 l, unnest([{bases}]) AS g(b)
),
cmp AS MATERIALIZED (
  SELECT wa.doc_id, wa.base, wa.seg, round_even(min(dd.dist), 4) AS mpv
  FROM segw wa
  JOIN segw wb ON wb.doc_id = wa.doc_id AND abs(wb.cpos - wa.cpos) > {ez_c}
  JOIN dboth dd ON dd.doc_id = wa.doc_id AND dd.i = wa.base AND dd.j = wb.base
  GROUP BY wa.doc_id, wa.base, wa.seg
),
cand AS MATERIALIZED (
  SELECT doc_id, seg, base AS cand_pos, mpv FROM (
    SELECT doc_id, seg, base, mpv,
           row_number() OVER (PARTITION BY doc_id, seg
                              ORDER BY mpv ASC, base ASC) AS rn
    FROM cmp
  ) WHERE rn = 1
),
dps AS MATERIALIZED (
  SELECT c.doc_id, c.seg, dd.j AS p,
         CAST(round_even(dd.dist * 1000000.0, 0) AS BIGINT) AS dpu
  FROM cand c
  JOIN dboth dd ON dd.doc_id = c.doc_id AND dd.i = c.cand_pos
  WHERE abs(dd.j - c.cand_pos) > {w}
),
bounds AS MATERIALIZED (
  SELECT doc_id, seg, min(dpu) AS au, max(dpu) AS bu
  FROM dps GROUP BY doc_id, seg
),
spine AS (
  SELECT st.doc_id, b.seg, st.pos AS p,
         COALESCE(2 * d.dpu < b.au + b.bu, false) AS bin
  FROM stats6 st
  JOIN bounds b ON b.doc_id = st.doc_id
  LEFT JOIN dps d ON d.doc_id = st.doc_id AND d.seg = b.seg AND d.p = st.pos
),
astarts AS (
  SELECT doc_id, seg, p FROM (
    SELECT doc_id, seg, p, bin,
           lag(bin, 1, false) OVER (PARTITION BY doc_id, seg ORDER BY p) AS pbin
    FROM spine
  ) WHERE bin AND NOT pbin
),
sarr AS MATERIALIZED (
  SELECT doc_id, seg, list(p ORDER BY p) AS arr
  FROM astarts GROUP BY doc_id, seg
),
swalk(doc_id, seg, i, picked) AS (
  SELECT doc_id, seg, 0, CAST([] AS BIGINT[]) FROM sarr
  UNION ALL
  SELECT g.doc_id, g.seg, g.i + 1,
    CASE WHEN len(list_filter(g.picked, x -> abs(x - c.arr[g.i + 1]) <= {w - 1})) > 0
    THEN g.picked ELSE list_append(g.picked, c.arr[g.i + 1]) END
  FROM swalk g JOIN sarr c ON c.doc_id = g.doc_id AND c.seg = g.seg
  WHERE g.i < len(c.arr)
),
kept AS MATERIALIZED (
  SELECT g.doc_id, g.seg, g.picked
  FROM swalk g JOIN sarr c ON c.doc_id = g.doc_id AND c.seg = g.seg
  WHERE g.i = len(c.arr)
),
keptr AS (
  SELECT k.doc_id, k.seg, k.picked[g.i] AS s
  FROM kept k, unnest(generate_series(1, len(k.picked))) AS g(i)
  WHERE len(k.picked) > 0
),
nkept AS MATERIALIZED (
  SELECT doc_id, seg, count(*) AS n_anno FROM keptr GROUP BY doc_id, seg
),
tppre AS (
  SELECT doc_id, seg, count(*) AS n_starts,
         sum(CASE WHEN
               greatest(0, least(p + {w - 1}, {e0}) - greatest(p, {s0}) + 1)
             + greatest(0, least(p + {w - 1}, {e1}) - greatest(p, {s1}) + 1)
             > {0.8 * w!r} THEN 1 ELSE 0 END) AS tp_pre
  FROM astarts GROUP BY doc_id, seg
),
annop AS (
  SELECT DISTINCT a.doc_id, a.seg, sv.pos AS p
  FROM astarts a
  JOIN s sv ON sv.doc_id = a.doc_id
           AND sv.pos BETWEEN a.p AND a.p + {w - 1}
),
tprec AS (
  SELECT doc_id, seg,
         (CASE WHEN sum(CASE WHEN p BETWEEN {s0} AND {e0} THEN 1 ELSE 0 END)
                    > {0.8 * w!r} THEN 1 ELSE 0 END)
       + (CASE WHEN sum(CASE WHEN p BETWEEN {s1} AND {e1} THEN 1 ELSE 0 END)
                    > {0.8 * w!r} THEN 1 ELSE 0 END) AS tp_rec
  FROM annop GROUP BY doc_id, seg
)
SELECT b.doc_id, CAST(b.seg AS BIGINT) AS seg,
       CAST(c.cand_pos AS BIGINT) AS cand_pos, c.mpv AS cand_mp_r,
       CAST(b.au AS BIGINT) AS a_u, CAST(b.bu AS BIGINT) AS b_u,
       round_even(CASE WHEN COALESCE(t.n_starts, 0) > 0
                   AND (CAST(COALESCE(t.tp_pre, 0) AS DOUBLE) / t.n_starts
                        + COALESCE(r.tp_rec, 0) / 2.0) > 0
             THEN 2.0 * (CAST(t.tp_pre AS DOUBLE) / t.n_starts)
                  * (COALESCE(r.tp_rec, 0) / 2.0)
                  / (CAST(t.tp_pre AS DOUBLE) / t.n_starts
                     + COALESCE(r.tp_rec, 0) / 2.0)
             ELSE 0.0 END, 6) AS f_r,
       CASE WHEN COALESCE(t.n_starts, 0) > 0
            THEN round_even(CAST(t.tp_pre AS DOUBLE) / t.n_starts, 6)
            ELSE -1.0 END AS pre_r,
       round_even(COALESCE(r.tp_rec, 0) / 2.0, 6) AS rec_r,
       CAST(COALESCE(k.n_anno, 0) AS BIGINT) AS n_anno
FROM bounds b
JOIN cand c ON c.doc_id = b.doc_id AND c.seg = b.seg
LEFT JOIN tppre t ON t.doc_id = b.doc_id AND t.seg = b.seg
LEFT JOIN tprec r ON r.doc_id = b.doc_id AND r.seg = b.seg
LEFT JOIN nkept k ON k.doc_id = b.doc_id AND k.seg = b.seg
"""


SQL_SDTS = _sql_sdts()


def q_salient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salient subsequences, DETERMINISTIC PREFIX of the MDL search
    (salient.R:44-356 first iteration): the exclusion-deduped candidate
    list (misc.R:816-849 ``get_sorted_idx``) with each candidate's MDL
    hypothesis bit-save (salient.R:165-230), and the first pick (argmax
    save, candidate order on ties). Hash-gated against a relational
    oracle; the FULL iterative search (golden-section-free but
    float-path-dependent) stays pinned by the exact .rda goldens in
    tests/test_reference_goldens.py — this projection makes the driver
    gate stronger than rows-only (VERDICT r2 item #3). Cross-engine
    float hygiene per the k-means convention (CLAUDE.md): mp rounded to
    6 decimals before the candidate argsort, znorm extremes to 9,
    scaled levels to 6 before the n-bit quantization."""
    import numpy as np
    import pandas as pd

    from .mpcore import stomp
    from .mpcore.salient import discrete_norm_pre
    from .mpcore.stats import EPS as _EPS, lowvar_threshold

    seqs = _sequences(spark, sf_dir)
    schema = (
        "doc_id string, rank long, cand_pos long, mp_r double, "
        "save_r double, picked long"
    )
    n_bits, n_cand = 6, 10
    ub = float(n_bits * W)  # uncompressed_bit (salient.R:104)
    mb = n_bits + float(np.log2(W))  # mismatch_bit (salient.R:105)

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                a = np.asarray(tokens, dtype=np.float64)
                if a.shape[0] < MIN_LEN:
                    continue
                prof = stomp(a, W)
                mp4 = np.where(
                    np.isfinite(prof.mp) & (prof.pi >= 0),
                    np.round(prof.mp, 4),
                    np.inf,
                )
                # get_sorted_idx walk (misc.R:816-849) on the rounded mp:
                # visit in (mp, pos) order, keep if >= ez from every kept
                order = np.argsort(mp4, kind="stable")
                kept: list[int] = []
                for c in order:
                    if not np.isfinite(mp4[c]) or len(kept) >= n_cand:
                        break
                    if all(abs(int(c) - k) >= EZ_N for k in kept):
                        kept.append(int(c))
                if not kept:
                    continue
                mx, mn = discrete_norm_pre(a, W)
                mx, mn = round(mx, 9), round(mn, 9)
                if not mx > mn:
                    continue

                def levels(b: int) -> np.ndarray:
                    win = a[b : b + W]
                    mu = win.mean()
                    sd = float(np.std(win))
                    # engine-wide lowvar rule: dividing by a cancellation-
                    # noise sd would make the z extremes engine-dependent
                    z = (win - mu) / sd if sd >= lowvar_threshold(mu) else win - mu
                    scaled = np.round((z - mn) / (mx - mn), 6)
                    return np.rint(scaled * (2.0**n_bits - 1.0) + _EPS) + 1.0

                saves = []
                for c in kept:
                    pair = int(prof.pi[c])
                    nd = int(np.count_nonzero(levels(pair) - levels(c)))
                    saves.append(ub - mb * nd)
                best = int(np.argmax(saves))  # strict >: first max wins
                for r, (c, sv) in enumerate(zip(kept, saves)):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "rank": r,
                            "cand_pos": c,
                            "mp_r": float(mp4[c]),
                            "save_r": round(float(sv), 4),
                            "picked": 1 if r == best else 0,
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    n_parts = spark.sparkContext.defaultParallelism
    return seqs.select("doc_id", "tokens").repartition(n_parts).mapInPandas(kernel, schema)


def _sql_salient() -> str:
    """Relational twin of :func:`q_salient`: candidate walk as the
    analyze-style greedy recursive CTE, discrete_norm levels via
    round_even (R/numpy banker's rounding), MDL save per candidate."""
    import numpy as np

    n_bits, n_cand = 6, 10
    ub = float(n_bits * W)
    mb = n_bits + float(np.log2(W))
    eps = float(np.sqrt(np.finfo(np.float64).eps))
    zexpr = (
        "CASE WHEN st.sd >= 1e-7 * (abs(st.mu) + 1.0) "
        "THEN (s.value - st.mu) / st.sd "
        "ELSE s.value - st.mu END"  # engine-wide lowvar rule (CLAUDE.md)
    )
    head = sql_mp_cte()
    for name in ("s", "len", "stats", "mp"):
        head = head.replace(f"{name} AS (", f"{name} AS MATERIALIZED (", 1)
    return f"""
WITH RECURSIVE {head},
mp4 AS MATERIALIZED (SELECT doc_id, pos, round_even(mp, 4) AS mp4, pi FROM mp),
ext AS MATERIALIZED (
  SELECT st.doc_id,
         round_even(max({zexpr}), 9) AS mx,
         round_even(min({zexpr}), 9) AS mn
  FROM stats st
  JOIN s ON s.doc_id = st.doc_id AND s.pos BETWEEN st.pos AND st.pos + {W - 1}
  GROUP BY st.doc_id
),
lvl AS MATERIALIZED (
  SELECT st.doc_id, st.pos AS base, s.pos - st.pos AS k,
         round_even(round_even((({zexpr}) - e.mn) / (e.mx - e.mn), 6)
                    * {2.0 ** n_bits - 1.0} + {eps!r}, 0) + 1.0 AS lvl
  FROM stats st
  JOIN s ON s.doc_id = st.doc_id AND s.pos BETWEEN st.pos AND st.pos + {W - 1}
  JOIN ext e ON e.doc_id = st.doc_id
  WHERE e.mx > e.mn
),
corder AS MATERIALIZED (
  SELECT doc_id, list(pos ORDER BY mp4 ASC, pos ASC) AS carr
  FROM mp4 GROUP BY doc_id
),
cwalk(doc_id, i, picked) AS (
  SELECT doc_id, 0, CAST([] AS BIGINT[]) FROM corder
  UNION ALL
  SELECT g.doc_id, g.i + 1,
    CASE
      WHEN len(g.picked) >= {n_cand}
        OR len(list_filter(g.picked, x -> abs(x - c.carr[g.i + 1]) <= {EZ_N - 1})) > 0
      THEN g.picked
      ELSE list_append(g.picked, c.carr[g.i + 1])
    END
  FROM cwalk g JOIN corder c ON c.doc_id = g.doc_id
  WHERE g.i < len(c.carr)
),
ckept AS MATERIALIZED (
  SELECT g.doc_id, g.picked
  FROM cwalk g JOIN corder c ON c.doc_id = g.doc_id
  WHERE g.i = len(c.carr) AND len(g.picked) > 0
),
candr AS (
  SELECT c.doc_id, g.i AS rnk, c.picked[g.i] AS cpos
  FROM ckept c, unnest(generate_series(1, len(c.picked))) AS g(i)
),
sv AS MATERIALIZED (
  SELECT cr.doc_id, cr.rnk, cr.cpos,
         {ub!r} - {mb!r} * sum(CASE WHEN la.lvl <> lb.lvl THEN 1 ELSE 0 END) AS save,
         any_value(m6.mp4) AS mp4
  FROM candr cr
  JOIN mp4 m6 ON m6.doc_id = cr.doc_id AND m6.pos = cr.cpos
  JOIN lvl la ON la.doc_id = cr.doc_id AND la.base = cr.cpos
  JOIN lvl lb ON lb.doc_id = cr.doc_id AND lb.base = m6.pi AND lb.k = la.k
  GROUP BY cr.doc_id, cr.rnk, cr.cpos
),
pick AS (
  SELECT doc_id, rnk,
         row_number() OVER (PARTITION BY doc_id ORDER BY save DESC, rnk ASC) AS pr
  FROM sv
)
SELECT sv.doc_id, CAST(sv.rnk - 1 AS BIGINT) AS rank,
       CAST(sv.cpos AS BIGINT) AS cand_pos,
       sv.mp4 AS mp_r, round_even(sv.save, 4) AS save_r,
       CAST(CASE WHEN p.pr = 1 THEN 1 ELSE 0 END AS BIGINT) AS picked
FROM sv JOIN pick p ON p.doc_id = sv.doc_id AND p.rnk = sv.rnk
"""


SQL_SALIENT = _sql_salient()


QUERIES["mp_subset"] = q_mp_subset
QUERIES["sdts"] = q_sdts
QUERIES["salient"] = q_salient
ORACLES["mp_subset"] = SQL_MP_SUBSET
ORACLES["salient"] = SQL_SALIENT
ORACLES["sdts"] = SQL_SDTS

def q_floss_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked FLOSS driver (fluss.R:66-137): bootstrap profile, then
    stompi_update + online CAC per chunk with history trimming, split
    extraction with update-or-append. Oracle: :func:`sql_floss_chunked`
    replays the whole streaming state machine relationally — each
    chunk-state profile entry is the argmin over the pairs whose windows
    COEXISTED in the sliding buffer (tie-broken by merge order), the
    one-sided Kumaraswamy CAC is closed-form, and the per-slab split
    extraction is a recursive CTE over the slab sequence."""
    import numpy as np
    import pandas as pd

    from .mpcore import floss, stomp

    seqs = _sequences(spark, sf_dir)
    schema = "doc_id string, split_rank long, split_pos long, cac_value double"

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                a = np.asarray(tokens, dtype=np.float64)
                if a.shape[0] < 3 * W or np.std(a) == 0.0:
                    continue  # constant series: CAC undefined (oracle skips too)
                boot = a.shape[0] // 2
                prof = stomp(a[:boot], W)
                segments: list[int] = []
                seg_vals: list[float] = []
                for st in range(boot, a.shape[0], 10):
                    prof, segments, seg_vals = floss(
                        prof, a[st : st + 10], data_window=boot,
                        threshold=1.0, segments=segments, seg_vals=seg_vals,
                    )
                for rank, (s, v) in enumerate(zip(segments, seg_vals)):
                    rows.append(
                        {
                            "doc_id": doc_id, "split_rank": rank,
                            "split_pos": int(s), "cac_value": round(float(v), 4),
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    n_parts = spark.sparkContext.defaultParallelism
    return seqs.select("doc_id", "tokens").repartition(n_parts).mapInPandas(kernel, schema)


def sql_floss_chunked() -> str:
    """Relational replay of the chunked FLOSS state machine.

    The streaming profile is never materialized: at each stompi_update
    event the buffer-position's (mp, pi) equals the argmin over the pairs
    whose windows COEXISTED in the sliding buffer — pair (p, q) is
    admitted iff the earlier window was still buffered when the later
    one's last point arrived (stompi.R's one-sided merge + trim), with
    the merge-order tie-break (distance, merge event, index). The
    one-sided Kumaraswamy CAC (fluss.R:385-453), the cac_final slice
    bookkeeping (mid/pad, Python-slice clipping included), and the
    per-slab threshold extraction (fluss.R:163-230 update-or-append,
    via a recursive CTE over slabs) are all closed-form. Validated
    against the kernel doc-by-doc at sf0.001 and sf0.01."""
    w, ez = W, EZ_N
    ku_a, ku_b, kmode = 1.939274, 1.698150, 0.6311142
    head = sql_mp_cte(w=w, ez_n=ez, min_len=3 * w)
    # constant series excluded on both sides (CAC undefined there)
    head = head.replace(
        f"HAVING count(*) >= {3 * w}",
        f"HAVING count(*) >= {3 * w} AND stddev_pop(value) > 0",
        1,
    )
    for name in ("s", "len", "stats", "dists"):
        head = head.replace(f"{name} AS (", f"{name} AS MATERIALIZED (", 1)
    return f"""
WITH RECURSIVE {head},
params AS MATERIALIZED (
  SELECT doc_id, n, n // 2 AS boot, least((n // 2) // 2, 50) AS cs FROM len
),
slabs AS (
  SELECT doc_id, n, boot, cs, sl AS s,
         boot + 10 * sl AS sst,
         least(boot + 10 * (sl + 1), n) AS sse
  FROM (SELECT *, unnest(range(0, CAST(ceil((n - boot) / 10.0) AS BIGINT))) AS sl
        FROM params)
),
ev0 AS (
  SELECT doc_id, n, boot, cs, s, sst, sse, j,
         sst + j * cs AS est,
         CASE WHEN j < (sse - sst) // cs THEN sst + (j + 1) * cs
              ELSE sse END AS eend
  FROM (SELECT *, unnest(range(0, (sse - sst) // cs
             + CASE WHEN (sse - sst) % cs > 0 THEN 1 ELSE 0 END)) AS j
        FROM slabs)
),
evs AS MATERIALIZED (
  SELECT doc_id, n, boot, cs, s, sst, sse, est, eend, eend - est AS L,
         eend - boot AS b, boot - {w} + 1 AS cac_size,
         row_number() OVER (PARTITION BY doc_id ORDER BY est) AS e
  FROM ev0
),
-- pair admission: when did the pair's later window arrive, and was the
-- earlier one still in the pre-trim buffer then?
pairev AS MATERIALIZED (
  SELECT d.doc_id, d.i AS l, d.j AS m, d.dist,
         CASE WHEN d.j <= par.boot - {w} THEN 1 ELSE ev.e END AS avail_from,
         (d.j <= par.boot - {w}) AS bootpair
  FROM dists d
  JOIN params par ON par.doc_id = d.doc_id
  LEFT JOIN evs ev ON ev.doc_id = d.doc_id
       AND ev.est <= d.j + {w} - 1 AND d.j + {w} - 1 < ev.eend
  WHERE d.j <= par.boot - {w} OR d.i >= ev.est - par.boot
),
dboth AS MATERIALIZED (
  SELECT doc_id, l AS p, m AS q, dist, avail_from, m AS et FROM pairev
  UNION ALL
  SELECT doc_id, m AS p, l AS q, dist, avail_from,
         CASE WHEN bootpair THEN l ELSE m END AS et
  FROM pairev
),
pib AS MATERIALIZED (
  SELECT doc_id, e, i_rel, q - b AS qrel FROM (
    SELECT ev.doc_id, ev.e, db.p - ev.b AS i_rel, db.q, ev.b,
           row_number() OVER (PARTITION BY ev.doc_id, ev.e, db.p
                              ORDER BY db.dist ASC, db.et ASC, db.q ASC) AS rn
    FROM evs ev
    JOIN dboth db ON db.doc_id = ev.doc_id
         AND db.p >= ev.b AND db.p <= ev.b + ev.cac_size - {ez} - 2
         AND db.q <= ev.eend - {w}
         AND db.avail_from <= ev.e
  ) WHERE rn = 1
),
posrows AS (
  SELECT doc_id, e, cac_size,
         unnest(range(0, greatest(cac_size - {ez} - 1, 0))) AS i_rel
  FROM evs
),
arcents AS (
  -- a row with NO admissible pair contributes no arcs: the kernel's
  -- trim rebases its -1 no-neighbor sentinel out of the [0, cac_size]
  -- keep-range at the first history trim (stompi), so in the trimmed
  -- steady state neighborless (degenerate) rows never reach the
  -- histogram — INNER join, not a COALESCE-to-0 phantom half-arc
  SELECT pr.doc_id, pr.e,
         least(pr.i_rel + 1, pb.qrel + 1) AS lo,
         greatest(pr.i_rel + 1, pb.qrel + 1) AS hi
  FROM posrows pr
  JOIN pib pb ON pb.doc_id = pr.doc_id AND pb.e = pr.e
       AND pb.i_rel = pr.i_rel
  WHERE pb.qrel + 1 BETWEEN 0 AND pr.cac_size
),
deltas AS (
  SELECT doc_id, e, lo - 1 AS idx, sum(1.0) AS dv
  FROM arcents WHERE lo >= 1 GROUP BY doc_id, e, lo
  UNION ALL
  SELECT doc_id, e, hi - 1 AS idx, sum(-1.0) AS dv
  FROM arcents WHERE hi >= 1 GROUP BY doc_id, e, hi
),
grid AS (
  SELECT doc_id, e, cac_size, unnest(range(0, cac_size)) AS idx FROM evs
),
accum AS (
  SELECT g.doc_id, g.e, g.idx, g.cac_size,
         sum(COALESCE(ds.d, 0.0)) OVER (PARTITION BY g.doc_id, g.e ORDER BY g.idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ac
  FROM grid g
  LEFT JOIN (SELECT doc_id, e, idx, sum(dv) AS d FROM deltas
             GROUP BY doc_id, e, idx) ds
    ON ds.doc_id = g.doc_id AND ds.e = g.e AND ds.idx = g.idx
),
cacrows AS MATERIALIZED (
  SELECT doc_id, e, idx,
    CASE WHEN idx < {ez} THEN 1.0
         WHEN ideal IS NULL OR ideal <= 0 THEN 1.0
         WHEN isnan(ac / ideal) OR isinf(ac / ideal) OR ac / ideal < 0 THEN 1.0
         ELSE least(ac / ideal, 1.0) END AS v
  FROM (SELECT *,
          {ku_a} * {ku_b} * pow(idx / (cac_size - 1.0), {ku_a} - 1.0)
          * pow(1.0 - pow(idx / (cac_size - 1.0), {ku_a}), {ku_b} - 1.0)
          * cac_size / 4.035477 AS ideal
        FROM accum)
),
evx AS (
  SELECT *, CAST(round(cac_size * {kmode}) AS BIGINT) - L // 2 - 1 AS mid
  FROM evs
),
evy AS (
  SELECT *,
    CASE WHEN mid >= 0 THEN least(mid, cac_size)
         ELSE greatest(cac_size + mid, 0) END AS lo_idx,
    least(greatest(mid + L, 0), cac_size) AS hi_idx
  FROM evx
),
evz AS MATERIALIZED (
  SELECT *, greatest(hi_idx - lo_idx, 0) AS act_len,
    COALESCE(sum(greatest(hi_idx - lo_idx, 0)) OVER (PARTITION BY doc_id
         ORDER BY e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS cum_before
  FROM evy
),
pads AS MATERIALIZED (
  SELECT doc_id,
    greatest(CAST(round(boot * ({kmode} - 1.0) - L / 2.0 + boot
                        - {w} * {kmode}) AS BIGINT) + (eend - boot), 0) AS pad
  FROM evz WHERE e = 1
),
slicerows AS MATERIALIZED (
  SELECT c.doc_id, z.e, p.pad + z.cum_before + (c.idx - z.lo_idx) AS g,
         c.v AS val
  FROM cacrows c
  JOIN evz z ON z.doc_id = c.doc_id AND z.e = c.e
       AND c.idx >= z.lo_idx AND c.idx < z.hi_idx
  JOIN pads p ON p.doc_id = c.doc_id
),
slabinfo AS MATERIALIZED (
  SELECT doc_id, s, sse - boot AS off, sse, max(e) AS last_e
  FROM evz GROUP BY doc_id, s, sse, boot
),
minpick AS MATERIALIZED (
  SELECT doc_id, s, g, val FROM (
    SELECT si.doc_id, si.s, sr.g, sr.val,
           row_number() OVER (PARTITION BY si.doc_id, si.s
                              ORDER BY sr.val ASC, sr.g ASC) AS rn
    FROM slabinfo si
    JOIN slicerows sr ON sr.doc_id = si.doc_id AND sr.e <= si.last_e
         AND sr.g >= si.off
    WHERE sr.val <= 1.0
  ) WHERE rn = 1
),
nslabs AS MATERIALIZED (SELECT doc_id, max(s) AS smax FROM slabinfo GROUP BY doc_id),
-- fluss.R:163-230 per-slab extraction, ez = round(w * ez*10) = 40
seg AS (
  SELECT p.doc_id, CAST(-1 AS BIGINT) AS s,
         CAST([] AS BIGINT[]) AS idxs, CAST([] AS DOUBLE[]) AS vals
  FROM params p
  UNION ALL
  SELECT sg.doc_id, sg.s + 1,
    CASE WHEN mp.g IS NULL THEN sg.idxs
         WHEN len(sg.idxs) = 0 THEN list_append(sg.idxs, mp.g)
         WHEN mp.g > sg.idxs[-1] AND mp.g < sg.idxs[-1] + 40
              AND mp.val < sg.vals[-1]
           THEN list_append(sg.idxs[1:len(sg.idxs) - 1], mp.g)
         WHEN mp.g > sg.idxs[-1] AND mp.g >= sg.idxs[-1] + 40
           THEN list_append(sg.idxs, mp.g)
         ELSE sg.idxs END,
    CASE WHEN mp.g IS NULL THEN sg.vals
         WHEN len(sg.vals) = 0 THEN list_append(sg.vals, mp.val)
         WHEN mp.g > sg.idxs[-1] AND mp.g < sg.idxs[-1] + 40
              AND mp.val < sg.vals[-1]
           THEN list_append(sg.vals[1:len(sg.vals) - 1], mp.val)
         WHEN mp.g > sg.idxs[-1] AND mp.g >= sg.idxs[-1] + 40
           THEN list_append(sg.vals, mp.val)
         ELSE sg.vals END
  FROM seg sg
  JOIN nslabs ns ON ns.doc_id = sg.doc_id AND sg.s < ns.smax
  LEFT JOIN minpick mp ON mp.doc_id = sg.doc_id AND mp.s = sg.s + 1
)
SELECT sg.doc_id,
       CAST(unnest(range(0, len(sg.idxs))) AS BIGINT) AS split_rank,
       CAST(unnest(sg.idxs) AS BIGINT) AS split_pos,
       round(unnest(sg.vals), 4) AS cac_value
FROM seg sg JOIN nslabs ns ON ns.doc_id = sg.doc_id AND sg.s = ns.smax
WHERE len(sg.idxs) > 0
"""


QUERIES["floss_chunked"] = q_floss_chunked
ORACLES["floss_chunked"] = sql_floss_chunked()


# ---------------------------------------------------------------------------
# fluss_segments oracle — greedy extraction unrolled in SQL
# ---------------------------------------------------------------------------

def _sql_fluss_segments() -> str:
    """FLUSS segmentation (fluss.R:254-349) as pure SQL: CAC from the
    brute-force MP's pi column (arc counts are integer-exact — cac uses
    only pi, never mp), then the num_segments=2 greedy argmin loop
    UNROLLED: pick1 = argmin(cac) where cac < 1 (ties → smallest pos, like
    np.argmin); pick2 = argmin outside pick1's asymmetric suppression zone
    [s1-ez, s1+ez-1). Matches q_fluss_segments (stomp ez=0.5, fluss
    exclusion_zone=0.5 → edge/suppression zone = rint(w*0.5) = 4)."""
    ez = int(round(W * 0.5 + 1e-8))  # cac edge zone AND extraction zone
    return f"""
WITH {sql_mp_cte()},
-- profile length from the SERIES length (n - w + 1), NOT max(defined
-- pos)+1: trailing degenerate (no-pair) windows are absent from mp but
-- the kernel's beta ideal curve and edge zones use the full length
nper AS (SELECT doc_id, n - {W - 1} AS n FROM len),
marks AS (
  SELECT mp.doc_id, least(pos, pi) AS lo, greatest(pos, pi) AS hi
  FROM mp JOIN nper ON mp.doc_id = nper.doc_id
  WHERE pi IS NOT NULL AND pi >= 0 AND pi <= nper.n - 1
),
deltas AS (
  SELECT doc_id, lo AS pos, 1.0 AS d FROM marks
  UNION ALL
  SELECT doc_id, hi AS pos, -1.0 AS d FROM marks
),
per_pos AS (SELECT doc_id, pos, sum(d) AS d FROM deltas GROUP BY 1, 2),
spine AS (
  SELECT mp.doc_id, mp.pos, nper.n, coalesce(per_pos.d, 0.0) AS d
  FROM mp JOIN nper ON mp.doc_id = nper.doc_id
  LEFT JOIN per_pos ON per_pos.doc_id = mp.doc_id AND per_pos.pos = mp.pos
),
cum AS (
  SELECT doc_id, pos, n,
         sum(d) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ac
  FROM spine
),
cac AS (
  SELECT doc_id, pos,
         CASE
           WHEN pos < {ez} THEN 1.0
           WHEN pos >= n - {ez} THEN 1.0
           ELSE coalesce(least(ac / (6.0 * (pos / (n - 1.0)) * (1.0 - pos / (n - 1.0)) * n / 3.0), 1.0), 1.0)
         END AS cac
  FROM cum
),
p1 AS (
  SELECT doc_id, pos AS s1, cac AS c1
  FROM (SELECT doc_id, pos, cac,
               row_number() OVER (PARTITION BY doc_id ORDER BY cac, pos) AS rn
        FROM cac) t
  WHERE rn = 1 AND cac < 1.0
),
p2 AS (
  SELECT doc_id, pos AS s2, cac AS c2
  FROM (SELECT c.doc_id, c.pos, c.cac,
               row_number() OVER (PARTITION BY c.doc_id ORDER BY c.cac, c.pos) AS rn
        FROM cac c JOIN p1 ON c.doc_id = p1.doc_id
        WHERE c.pos < p1.s1 - {ez} OR c.pos >= p1.s1 + {ez - 1}) t
  WHERE rn = 1 AND cac < 1.0
)
SELECT doc_id, 0 AS rank, s1 AS segment_pos, round(c1, 4) AS cac_min FROM p1
UNION ALL
SELECT doc_id, 1 AS rank, s2 AS segment_pos, round(c2, 4) AS cac_min FROM p2
"""


SQL_FLUSS_SEGMENTS = _sql_fluss_segments()
ORACLES["fluss_segments"] = SQL_FLUSS_SEGMENTS


# ---------------------------------------------------------------------------
# chains oracle — recursive CTE over right-profile links
# ---------------------------------------------------------------------------

def _sql_chains() -> str:
    """Time-series chains (find-chains.R:20-80) in pure SQL. Left/right
    profiles come from the brute-force pairwise distances (``sides``):
    rpi = argmin dist over nn > pos, lpi = argmin over nn < pos (ties →
    smallest nn, matching the kernel's first-encounter update). A link
    j → rpi[j] is an edge iff lpi[rpi[j]] == j; that condition makes links
    one-to-one, so chains are vertex-disjoint increasing paths — walked
    with WITH RECURSIVE from the heads (positions that are no edge's
    target). Keep chains with length > 2; rank by (-length, head), top 3."""
    return f"""
WITH RECURSIVE {sql_mp_cte()},
right_p AS (
  SELECT doc_id, pos, nn AS rpi
  FROM (SELECT doc_id, pos, nn, row_number() OVER
          (PARTITION BY doc_id, pos ORDER BY dist, nn) AS rn
        FROM sides WHERE nn > pos) t
  WHERE rn = 1
),
left_p AS (
  SELECT doc_id, pos, nn AS lpi
  FROM (SELECT doc_id, pos, nn, row_number() OVER
          (PARTITION BY doc_id, pos ORDER BY dist, nn) AS rn
        FROM sides WHERE nn < pos) t
  WHERE rn = 1
),
edges AS (
  SELECT r.doc_id, r.pos AS j, r.rpi AS k
  FROM right_p r JOIN left_p l ON l.doc_id = r.doc_id AND l.pos = r.rpi
  WHERE l.lpi = r.pos
),
heads AS (
  SELECT DISTINCT s.doc_id, s.pos
  FROM sides s
  WHERE NOT EXISTS (SELECT 1 FROM edges e
                    WHERE e.doc_id = s.doc_id AND e.k = s.pos)
),
walk AS (
  SELECT doc_id, pos AS head, 0 AS link, pos FROM heads
  UNION ALL
  SELECT w.doc_id, w.head, w.link + 1, e.k
  FROM walk w JOIN edges e ON e.doc_id = w.doc_id AND e.j = w.pos
),
lens AS (
  SELECT doc_id, head, count(*) AS len FROM walk GROUP BY 1, 2
),
ranked AS (
  SELECT doc_id, head, row_number() OVER
    (PARTITION BY doc_id ORDER BY len DESC, head) AS rn
  FROM lens WHERE len > 2
)
SELECT w.doc_id, r.rn - 1 AS chain_rank, w.link, w.pos
FROM walk w JOIN ranked r ON r.doc_id = w.doc_id AND r.head = w.head
WHERE r.rn <= 3
"""


SQL_CHAINS = _sql_chains()
ORACLES["chains"] = SQL_CHAINS


# ---------------------------------------------------------------------------
# streaming continuous aggregate — real Structured Streaming, oracle-checked
# ---------------------------------------------------------------------------

def q_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous tier aggregate maintained by an actual Structured
    Streaming query (streaming.rollup_stream): events replayed through a
    file stream (availableNow), update-mode memory sink, last emission per
    bucket. Must equal the plain GROUP BY date_trunc rollup — the oracle.
    """
    import uuid

    from .streaming import rollup_stream

    name = "roll_sink_" + uuid.uuid4().hex[:8]
    # the ntz -> timestamp cast and date_format both use the session tz;
    # bucket alignment must match DuckDB's tz-naive date_trunc, so pin UTC
    # (the driver's own session may not have it set)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props map<string,string>"
        )
        # FileStreamSource needs a directory: stream the sf dir, filtered
        # to the events table file
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        # watermarks require TIMESTAMP (tz-aware); session tz is pinned UTC
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = rollup_stream(stream, bucket_duration="1 hour", watermark="4 hours")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"""
        SELECT doc_id,
               date_format(bucket_start, 'yyyy-MM-dd HH:mm:ss') AS bucket_start,
               round(v_min, 4) AS v_min, round(v_avg, 4) AS v_avg,
               round(v_max, 4) AS v_max, n
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id, bucket_start ORDER BY n DESC) AS rn
          FROM {name}) WHERE rn = 1
        """
    )


SQL_ROLLUP_STREAM = """
SELECT CAST(user_id AS VARCHAR) AS doc_id,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
       round(min(value), 4) AS v_min,
       round(avg(value), 4) AS v_avg,
       round(max(value), 4) AS v_max,
       count(value) AS n
FROM events
GROUP BY 1, 2
"""

QUERIES["rollup_stream"] = q_rollup_stream
ORACLES["rollup_stream"] = SQL_ROLLUP_STREAM


def q_mp_rollup_tier1_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-1 straight from the nested profile arrays (shuffle-free JVM
    bucket aggregation) — must equal the explode->groupBy tier exactly,
    so it shares SQL_MP_ROLLUP_TIER1."""
    from .operators import rollup_tier_nested
    from .operators.matrix_profile import matrix_profile_nested

    nested = matrix_profile_nested(
        _sequences(spark, sf_dir), W, long_series_threshold=None
    )
    t1 = rollup_tier_nested(nested, BUCKET).filter(
        F.col("mp_min").isNotNull()
        & ~F.isnan("mp_min")
        & (F.col("mp_min") != float("inf"))
    )
    return t1.select(
        "doc_id",
        F.col("bucket").cast("bigint").alias("bucket"),
        _r4("mp_min").alias("mp_min"),
        F.col("pi_argmin").cast("bigint").alias("pi_argmin"),
        _r4("mp_avg").alias("mp_avg"),
        _r4("mp_max").alias("mp_max"),
        F.col("n").cast("bigint").alias("n"),
    )


QUERIES["mp_rollup_tier1_nested"] = q_mp_rollup_tier1_nested
ORACLES["mp_rollup_tier1_nested"] = SQL_MP_ROLLUP_TIER1


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing over the documents table: payload
    = UTF-8 bytes of the text (deterministic stand-in for an image blob —
    the container ships no decoders, operators/multimodal.py stubs decode),
    through the Arrow binary transfer + mapInPandas feature extractor.
    The geometry contract (n_bytes through Arrow, side = floor(sqrt(n)))
    is oracle-checked; the histogram features are pytest-gated."""
    from .operators.multimodal import extract_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.create_map(F.lit("lang"), F.col("lang")).alias("meta"),
    )
    feats = extract_features(media, feat_dim=16)
    return feats.select(
        "media_id",
        "kind",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        "n_bytes",
    )


SQL_MULTIMODAL = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       'image' AS kind,
       greatest(CAST(floor(sqrt(octet_length(encode(text)))) AS BIGINT), 1) AS width,
       greatest(CAST(floor(sqrt(octet_length(encode(text)))) AS BIGINT), 1) AS height,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""

QUERIES["multimodal_features"] = q_multimodal_features
ORACLES["multimodal_features"] = SQL_MULTIMODAL


def q_av_zerocrossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-crossing annotation vector (annotations.R:1-30): znormed
    series, per-window sign-change counts, 0-1 normalized per series."""
    import numpy as np
    import pandas as pd

    from .mpcore import av_zerocrossing, stomp

    seqs = _sequences(spark, sf_dir)
    schema = "doc_id string, pos long, av double"

    def kernel(batches):
        for pdf in batches:
            out = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                a = np.asarray(tokens, dtype=np.float64)
                if a.shape[0] < MIN_LEN:
                    continue
                prof = stomp(a, W)
                prof.data = a
                av = av_zerocrossing(prof)
                out.append(
                    pd.DataFrame(
                        {
                            "doc_id": np.repeat(doc_id, av.shape[0]),
                            "pos": np.arange(av.shape[0], dtype=np.int64),
                            "av": np.round(av, 4),
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    n_parts = spark.sparkContext.defaultParallelism
    return seqs.select("doc_id", "tokens").repartition(n_parts).mapInPandas(kernel, schema)


SQL_AV_ZEROCROSSING = f"""
WITH {sql_series()},
len AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id HAVING count(*) >= {MIN_LEN}),
st AS (SELECT doc_id, avg(value) AS mu, stddev_pop(value) AS sd FROM s GROUP BY doc_id),
z AS (
  SELECT s.doc_id, s.pos,
         CASE WHEN st.sd >= 1e-7 * (abs(st.mu) + 1.0) THEN (s.value - st.mu) / st.sd
              ELSE s.value - st.mu END AS z
  FROM s JOIN st ON s.doc_id = st.doc_id JOIN len ON s.doc_id = len.doc_id
),
nz AS (SELECT doc_id, pos, z, z < 0 AS neg FROM z WHERE z <> 0),
flags AS (
  SELECT doc_id, pos AS curr,
         lag(pos) OVER w AS prev,
         CASE WHEN neg <> lag(neg) OVER w THEN 1 ELSE 0 END AS flip
  FROM nz WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
spine AS (
  SELECT l.doc_id, i.pos AS i
  FROM len l JOIN (SELECT DISTINCT doc_id, pos FROM s) i ON i.doc_id = l.doc_id
  WHERE i.pos <= l.n - {W}
),
counts AS (
  SELECT sp.doc_id, sp.i AS pos, coalesce(sum(f.flip), 0) AS c
  FROM spine sp
  LEFT JOIN flags f ON f.doc_id = sp.doc_id
       AND f.curr BETWEEN sp.i AND sp.i + {W - 1}
       AND f.prev >= sp.i
  GROUP BY 1, 2
),
mm AS (SELECT doc_id, min(c) AS lo, max(c) AS hi FROM counts GROUP BY doc_id)
SELECT counts.doc_id, counts.pos,
       round(CASE WHEN mm.hi > mm.lo
                  THEN (counts.c - mm.lo) / (mm.hi - mm.lo)
                  ELSE 0.0 END, 4) AS av
FROM counts JOIN mm ON counts.doc_id = mm.doc_id
"""

QUERIES["av_zerocrossing"] = q_av_zerocrossing
ORACLES["av_zerocrossing"] = SQL_AV_ZEROCROSSING


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors (coarse quantizer + inverted-file
    candidate join + exact re-rank) — the second scale-path ANN variant
    alongside LSH."""
    from .operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = ivf_topk(emb, k=5, n_clusters=8, nprobe=2)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("rank").cast("bigint").alias("rank"),
        (_r4("cosine") + F.lit(0.0)).alias("cosine"),  # −0.0 → 0.0
    )


SQL_IVF_ANN = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ex AS (
  SELECT vec_id, unnest(v) AS x,
         unnest(generate_series(1, len(v))) AS i
  FROM e
),
cl AS (SELECT unnest(generate_series(0, 7)) AS p),
scores AS (
  SELECT ex.vec_id, cl.p,
         sum(ex.x * sin(cl.p * 2654435761.0 + (ex.i - 1) * 40503.0)) AS score
  FROM ex CROSS JOIN cl
  GROUP BY 1, 2
),
assign AS (
  SELECT vec_id, p AS cluster FROM (
    SELECT vec_id, p, row_number() OVER (PARTITION BY vec_id
           ORDER BY score DESC, p ASC) AS rn
    FROM scores) WHERE rn <= 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.vec_id != b.vec_id
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT c.query_id, c.neighbor_id, sum(q.x * n.x) AS dot
  FROM cand c
  JOIN ex q ON q.vec_id = c.query_id
  JOIN ex n ON n.vec_id = c.neighbor_id AND n.i = q.i
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.neighbor_id, d.dot / NULLIF(nq.nrm * nn.nrm, 0) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nn ON nn.vec_id = d.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored WHERE cosine IS NOT NULL
)
SELECT query_id, neighbor_id, rank, round(cosine, 4) + 0.0 AS cosine
FROM ranked WHERE rank <= 5
"""

QUERIES["ivf_ann"] = q_ivf_ann
ORACLES["ivf_ann"] = SQL_IVF_ANN


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold — the
    embedding leg of the dedup family. Explicit ``use_lsh=False`` here:
    the oracle needs the exact pair set (the operator's default is the
    LSH bounded-shuffle scale path with the same columns)."""
    from .operators.similarity import cosine_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = cosine_neardup_pairs(emb, threshold=0.3, use_lsh=False)
    return out.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        (_r4("cosine") + F.lit(0.0)).alias("cosine"),  # −0.0 → 0.0
    )


SQL_EMBEDDING_NEARDUP = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ex AS (
  SELECT vec_id, unnest(v) AS x,
         unnest(generate_series(1, len(v))) AS i
  FROM e
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT d.id_a, d.id_b, round(d.dot / NULLIF(na.nrm * nb.nrm, 0), 4) + 0.0 AS cosine
FROM dots d
JOIN norms na ON na.vec_id = d.id_a
JOIN norms nb ON nb.vec_id = d.id_b
WHERE d.dot / NULLIF(na.nrm * nb.nrm, 0) >= 0.3
"""

QUERIES["embedding_neardup"] = q_embedding_neardup
ORACLES["embedding_neardup"] = SQL_EMBEDDING_NEARDUP


def q_embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: train split
    (vec_id % 17 != 0) vs benchmark split (vec_id % 17 == 0), every pair
    with cosine >= 0.35 — the embedding leg beside the exact 13-gram and
    MinHash decontamination gates (catches paraphrased contamination no
    n-gram method sees). Benchmark side broadcast (bounded by contract),
    corpus side map-only; raw-double threshold, r4 cosine emitted."""
    from .operators.similarity import cosine_cross_decontamination

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = cosine_cross_decontamination(
        emb.where(F.col("vec_id") % 17 != 0),
        emb.where(F.col("vec_id") % 17 == 0),
        threshold=0.35,
    )
    return out.select(
        F.col("train_id").cast("bigint").alias("train_id"),
        F.col("bench_id").cast("bigint").alias("bench_id"),
        (_r4("cosine") + F.lit(0.0)).alias("cosine"),
    )


SQL_EMBEDDING_DECONTAMINATION = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ex AS (
  SELECT vec_id, unnest(v) AS x,
         unnest(generate_series(1, len(v))) AS i
  FROM e
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS train_id, b.vec_id AS bench_id, sum(a.x * b.x) AS dot
  FROM ex a JOIN ex b ON a.i = b.i
   AND a.vec_id % 17 != 0 AND b.vec_id % 17 = 0
  GROUP BY 1, 2
)
SELECT d.train_id, d.bench_id,
       round(d.dot / NULLIF(na.nrm * nb.nrm, 0), 4) + 0.0 AS cosine
FROM dots d
JOIN norms na ON na.vec_id = d.train_id
JOIN norms nb ON nb.vec_id = d.bench_id
WHERE d.dot / NULLIF(na.nrm * nb.nrm, 0) >= 0.35
"""

QUERIES["embedding_decontamination"] = q_embedding_decontamination
ORACLES["embedding_decontamination"] = SQL_EMBEDDING_DECONTAMINATION


def q_mp_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join MP computed through the DISTRIBUTED long-series path —
    every series forced through the diagonal-chunk fan-out + exact
    max-correlation merge (long_series_threshold below all lengths).
    Distances must equal the brute-force SQL MP; pi is excluded because
    at exact distance ties the merge may pick a different (equally
    correct) neighbor than the sequential kernel — the same benign
    degeneracy as the reference's parallel mpx (mpx.cpp:278-309)."""
    from .operators import matrix_profile

    prof = _finite_profile(
        matrix_profile(
            _sequences(spark, sf_dir), W, long_series_threshold=16, n_chunks=4
        )
    )
    return prof.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        _r4("mp").alias("mp_r"),
    )


SQL_MP_CHUNKED = f"""
WITH {sql_mp_cte()}
SELECT doc_id, pos, round(mp, 4) AS mp_r FROM mp
"""

QUERIES["mp_chunked"] = q_mp_chunked
ORACLES["mp_chunked"] = SQL_MP_CHUNKED


def q_mp_chunked_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME distributed long-series path as q_mp_chunked but with the
    tokens flowing through the SIDE-CHANNEL BLOCK STORE instead of a
    broadcast join-back — the 10⁸-token data path (series written once as
    (doc_id, block_id, block) parquet rows, chunk tasks read via pyarrow
    doc-filtered scans; zero token broadcast in the plan, pinned in
    tests/test_spark_operators.py). Same brute-force SQL oracle: the
    store path is bit-exact vs the broadcast path by construction."""
    from .operators import matrix_profile
    from .operators.cache import temp_dir

    # read lazily by the chunk tasks: removed by release_caches() after
    # the caller's action
    store = temp_dir("tsmp_mp_store_") + "/blocks"
    prof = _finite_profile(
        matrix_profile(
            _sequences(spark, sf_dir), W, long_series_threshold=16,
            n_chunks=4, series_store=store,
        )
    )
    return prof.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        _r4("mp").alias("mp_r"),
    )


QUERIES["mp_chunked_store"] = q_mp_chunked_store
ORACLES["mp_chunked_store"] = SQL_MP_CHUNKED

# ---------------------------------------------------------------------------
# queries — training-data pipeline round 2: repetition quality,
# decontamination, near-dup groups (connected components)
# ---------------------------------------------------------------------------


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (duplicate/top word and n-gram
    fractions) — per-row higher-order expressions, zero shuffle."""
    from .operators import repetition_stats

    r = repetition_stats(
        _documents(spark, sf_dir),
        parallelism=spark.sparkContext.defaultParallelism,
    )
    return r.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _r4("dup_word_frac").alias("dup_word_frac"),
        _r4("dup_2gram_frac").alias("dup_2gram_frac"),
        _r4("dup_3gram_frac").alias("dup_3gram_frac"),
        _r4("top_word_frac").alias("top_word_frac"),
        _r4("top_2gram_frac").alias("top_2gram_frac"),
    )


SQL_REPETITION = r"""
WITH wl AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, w,
         list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' ')) AS g2,
         list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) AS g3
  FROM wl
)
SELECT doc_id,
  round(CASE WHEN len(w) > 0 THEN (len(w) - len(list_distinct(w))) / CAST(len(w) AS DOUBLE) ELSE 0.0 END, 4) AS dup_word_frac,
  round(CASE WHEN len(g2) > 0 THEN (len(g2) - len(list_distinct(g2))) / CAST(len(g2) AS DOUBLE) ELSE 0.0 END, 4) AS dup_2gram_frac,
  round(CASE WHEN len(g3) > 0 THEN (len(g3) - len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE) ELSE 0.0 END, 4) AS dup_3gram_frac,
  round(CASE WHEN len(w) > 0 THEN list_max(list_transform(list_distinct(w), x -> len(list_filter(w, y -> y = x)))) / CAST(len(w) AS DOUBLE) ELSE 0.0 END, 4) AS top_word_frac,
  round(CASE WHEN len(g2) > 0 THEN list_max(list_transform(list_distinct(g2), x -> len(list_filter(g2, y -> y = x)))) / CAST(len(g2) AS DOUBLE) ELSE 0.0 END, 4) AS top_2gram_frac
FROM grams
"""

QUERIES["repetition"] = q_repetition
ORACLES["repetition"] = SQL_REPETITION


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-style n-gram overlap): every 17th
    document plays the eval set; n=6 word-gram hits per (doc, bench)."""
    from .operators import decontaminate

    docs = _documents(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    d = decontaminate(docs, bench, n=6, min_hits=1)
    return d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("bench_id").cast("bigint").alias("bench_id"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
    )


SQL_DECONTAMINATION = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
),
wl AS (SELECT doc_id, string_split(t, ' ') AS words FROM norm),
dsh AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+5], ' ') AS shingle
  FROM wl, unnest(generate_series(1, greatest(len(words) - 5, 1))) AS g(i)
  WHERE len(array_to_string(words[i:i+5], ' ')) > 0
),
bsh AS (SELECT doc_id AS bench_id, shingle FROM dsh WHERE doc_id % 17 = 0)
SELECT d.doc_id, b.bench_id, count(*) AS n_hits
FROM dsh d JOIN bsh b ON b.shingle = d.shingle
GROUP BY 1, 2
"""

QUERIES["decontamination"] = q_decontamination
ORACLES["decontamination"] = SQL_DECONTAMINATION


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: MinHash-LSH pairs closed into connected components
    (alternating large-star/small-star), each doc keeping the component
    minimum. Oracle closes the same pair set with a recursive-CTE
    transitive closure."""
    from .operators import dedup_groups

    g = dedup_groups(
        _documents(spark, sf_dir), num_hashes=8, bands=4, threshold=0.25
    )
    return g.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("keep_id").cast("bigint").alias("keep_id"),
        F.col("is_dup").alias("is_dup"),
    )


SQL_DEDUP_GROUPS = f"""
WITH RECURSIVE {_sql_minhash_pairs(8, 2)},
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM agree WHERE n_agree / 8.0 >= 0.25
),
edges2 AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach AS (
  SELECT u AS n, u AS r FROM edges2
  UNION
  SELECT e.v AS n, reach.r FROM reach JOIN edges2 e ON e.u = reach.n
),
comp AS (SELECT n, min(r) AS component FROM reach GROUP BY n)
SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS keep_id,
       COALESCE(c.component, d.doc_id) <> d.doc_id AS is_dup
FROM documents d LEFT JOIN comp c ON c.n = d.doc_id
"""

QUERIES["dedup_groups"] = q_dedup_groups
ORACLES["dedup_groups"] = SQL_DEDUP_GROUPS


# ---------------------------------------------------------------------------
# queries — training-set assembly: tokenize, pack, mix, vocab, entropy, PII
# (operators/tokens.py + text.pii_scrub; the input_hint table derived
# deterministically from documents via the md5 hash tokenizer)
# ---------------------------------------------------------------------------

#: shared tokenizer CTE — MUST mirror operators.tokens.hash_token /
#: tokenize_documents exactly (normalize → split → drop empties → md5 id)
SQL_TOKC = r"""
tokc AS (
  SELECT doc_id, source,
         list_transform(
           list_filter(
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
             w -> w <> ''),
           w -> CAST(CAST(('0x' || substr(md5('tok:' || w), 1, 7)) AS BIGINT) % 32768 AS INT)
         ) AS tokens
  FROM documents
)"""


def _tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import tokenize_documents

    return tokenize_documents(
        _documents(spark, sf_dir),
        parallelism=spark.sparkContext.defaultParallelism,
    )


def q_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash tokenizer: documents → input_hint token table,
    exploded per token position so the oracle checks the full id stream
    (the north-rule token-array equality invariant, element by element)."""
    return _tokenized(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.posexplode("tokens").alias("pos", "token"),
    ).select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("token").cast("bigint").alias("token"),
    )


SQL_TOKENIZE = f"""
WITH {SQL_TOKC}
SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, CAST(tokens[i] AS BIGINT) AS token
FROM tokc, unnest(generate_series(1, len(tokens))) AS g(i)
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length training-sequence packing (seq_len=64) over the
    tokenized table: per-source doc_id-ordered concatenation cut every
    64 tokens; exploded per token so packed-array equality is the gate."""
    from .operators import pack_sequences

    packed = pack_sequences(_tokenized(spark, sf_dir), seq_len=64)
    return packed.select(
        "source",
        F.col("seq_idx").cast("bigint").alias("seq_idx"),
        F.posexplode("tokens").alias("pos", "token"),
    ).select(
        "source",
        "seq_idx",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("token").cast("bigint").alias("token"),
    )


SQL_PACK_SEQUENCES = f"""
WITH {SQL_TOKC},
docs AS (SELECT doc_id, source, tokens, len(tokens) AS n_tok FROM tokc WHERE len(tokens) > 0),
st AS (
  SELECT *, CAST(COALESCE(sum(n_tok) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
  FROM docs
)
SELECT source,
       CAST((strt + i - 1) // 64 AS BIGINT) AS seq_idx,
       CAST((strt + i - 1) % 64 AS BIGINT) AS pos,
       CAST(tokens[i] AS BIGINT) AS token
FROM st, unnest(generate_series(1, n_tok)) AS g(i)
"""

#: mixture rates for the driver query (down/zero/up/fractional-up cases)
MIX_RATES = {"src0": 2.5, "src1": 0.25, "src2": 0.0, "src3": 1.75}


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mix sampling: per-source rates realized as
    md5-uniform keep/epoch-copy decisions (no RNG, reproducible across
    engines and retries)."""
    from .operators import source_mixture

    m = source_mixture(_documents(spark, sf_dir), MIX_RATES)
    return m.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        _r4("rate").alias("rate"),
        F.col("epoch").cast("bigint").alias("epoch"),
    )


SQL_SOURCE_MIX = """
WITH scored AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.25
                     WHEN 'src2' THEN 0.0 WHEN 'src3' THEN 1.75
                     ELSE 1.0 END AS rate,
         CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           / 4294967296.0 AS u
  FROM documents
),
copies AS (
  SELECT doc_id, source, rate,
         CAST(floor(rate) + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END AS BIGINT) AS n_copies
  FROM scored
)
SELECT doc_id, source, round(rate, 4) AS rate, CAST(e.epoch AS BIGINT) AS epoch
FROM copies, unnest(generate_series(0, n_copies - 1)) AS e(epoch)
WHERE n_copies > 0
"""


def q_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics: term + document frequency, top-200 by
    (tf desc, token) — the vocab-health check of a training pipeline."""
    from .operators import token_vocab_stats

    v = token_vocab_stats(_tokenized(spark, sf_dir), top_k=200)
    return v.select(
        F.col("token").cast("bigint").alias("token"),
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df").cast("bigint").alias("df"),
        F.col("rank").cast("bigint").alias("rank"),
    )


SQL_TOKEN_VOCAB = f"""
WITH {SQL_TOKC},
flat AS (
  SELECT doc_id, tokens[i] AS token
  FROM tokc, unnest(generate_series(1, len(tokens))) AS g(i)
),
stats AS (SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df FROM flat GROUP BY 1),
ranked AS (
  SELECT CAST(token AS BIGINT) AS token, tf, df,
         CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT) AS rank
  FROM stats
)
SELECT token, tf, df, rank FROM ranked WHERE rank <= 200
"""


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram entropy / distinct share / top-token share —
    computed WITHOUT exploding (single sorted-run array aggregate)."""
    from .operators import token_entropy

    e = token_entropy(
        _tokenized(spark, sf_dir),
        parallelism=spark.sparkContext.defaultParallelism,
    )
    return e.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        _r4("entropy").alias("entropy"),
        _r4("top_token_frac").alias("top_token_frac"),
    )


SQL_TOKEN_ENTROPY = f"""
WITH {SQL_TOKC},
flat AS (
  SELECT doc_id, tokens[i] AS token
  FROM tokc, unnest(generate_series(1, len(tokens))) AS g(i)
),
cnt AS (SELECT doc_id, token, count(*) AS c FROM flat GROUP BY 1, 2),
agg AS (
  SELECT doc_id, sum(c) AS n, count(*) AS k, max(c) AS best,
         sum(c * ln(c)) AS sumn
  FROM cnt GROUP BY 1
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tok, CAST(k AS BIGINT) AS n_distinct,
       round(ln(n) - sumn / n, 4) AS entropy,
       round(CAST(best AS DOUBLE) / n, 4) AS top_token_frac
FROM agg
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection/redaction signals: match counts per class + length
    of the placeholder-redacted text (portable regex subset)."""
    from .operators import pii_scrub

    p = pii_scrub(
        _documents(spark, sf_dir),
        parallelism=spark.sparkContext.defaultParallelism,
    )
    return p


SQL_PII_SCRUB = r"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '\+?\d{3}[- .]\d{3}[- .]\d{4}')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
  CAST(length(
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\+?\d{3}[- .]\d{3}[- .]\d{4}', '<PHONE>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g')
  ) AS BIGINT) AS clean_len
FROM documents
"""

QUERIES["tokenize"] = q_tokenize
QUERIES["pack_sequences"] = q_pack_sequences
QUERIES["source_mix"] = q_source_mix
QUERIES["token_vocab"] = q_token_vocab
QUERIES["token_entropy"] = q_token_entropy
QUERIES["pii_scrub"] = q_pii_scrub
ORACLES["tokenize"] = SQL_TOKENIZE
ORACLES["pack_sequences"] = SQL_PACK_SEQUENCES
ORACLES["source_mix"] = SQL_SOURCE_MIX
ORACLES["token_vocab"] = SQL_TOKEN_VOCAB
ORACLES["token_entropy"] = SQL_TOKEN_ENTROPY
ORACLES["pii_scrub"] = SQL_PII_SCRUB


def q_pack_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EOS-terminated packing with document-span metadata: tokenizer
    appends the separator id (32768) per doc, packing emits the
    (doc_id, pos, len) occupancy of every packed sequence — the
    attention-mask-reset map a trainer consumes."""
    from .operators import pack_sequences, tokenize_documents

    tok = tokenize_documents(
        _documents(spark, sf_dir),
        append_eos=32768,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    packed = pack_sequences(tok, seq_len=64, with_spans=True)
    return packed.select(
        "source",
        F.col("seq_idx").cast("bigint").alias("seq_idx"),
        F.posexplode("doc_spans").alias("span_idx", "sp"),
    ).select(
        "source",
        "seq_idx",
        F.col("span_idx").cast("bigint").alias("span_idx"),
        F.col("sp.doc_id").cast("bigint").alias("doc_id"),
        F.col("sp.pos").cast("bigint").alias("pos"),
        F.col("sp.len").cast("bigint").alias("len"),
    )


SQL_PACK_SPANS = f"""
WITH {SQL_TOKC},
eos AS (SELECT doc_id, source, list_append(tokens, 32768) AS tokens FROM tokc),
docs AS (SELECT doc_id, source, len(tokens) AS n_tok FROM eos),
st AS (
  SELECT *, CAST(COALESCE(sum(n_tok) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
  FROM docs
),
spans AS (
  SELECT source, s AS seq_idx, doc_id,
         greatest(strt - s * 64, 0) AS pos,
         least((s + 1) * 64, strt + n_tok) - greatest(s * 64, strt) AS len
  FROM st, unnest(generate_series(strt // 64, (strt + n_tok - 1) // 64)) AS g(s)
)
SELECT source, CAST(seq_idx AS BIGINT) AS seq_idx,
       CAST(row_number() OVER (PARTITION BY source, seq_idx ORDER BY pos) - 1 AS BIGINT) AS span_idx,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(pos AS BIGINT) AS pos,
       CAST(len AS BIGINT) AS len
FROM spans
"""

QUERIES["pack_spans"] = q_pack_spans
ORACLES["pack_spans"] = SQL_PACK_SPANS


def q_ivf_kmeans_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN with a TRAINED coarse quantizer: 2 spherical-Lloyd
    k-means iterations (deterministic sin-grid init, rounded codebook)
    then the inverted-file candidate join + exact cosine re-rank. The
    oracle replays both Lloyd iterations in SQL."""
    from .operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = ivf_topk(emb, k=5, n_clusters=8, nprobe=2, kmeans_iters=2)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("rank").cast("bigint").alias("rank"),
        (_r4("cosine") + F.lit(0.0)).alias("cosine"),  # −0.0 → 0.0
    )


def _sql_kmeans_codebook() -> str:
    """Shared Lloyd-replay CTE chain (2 spherical iterations, 8 clusters,
    sin-grid init, means r9 / normalized centroids r6 — bit-identical to
    :func:`operators.similarity.kmeans_centroids` by the in-engine
    rounding convention): yields ``ex`` (per-dim rows), ``c2`` (trained
    codebook) for the ivf_kmeans_ann and semantic_dedup oracles."""
    return """e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ex AS (
  SELECT vec_id, unnest(v) AS x,
         unnest(generate_series(1, len(v))) AS i
  FROM e
),
cl AS (SELECT unnest(generate_series(0, 7)) AS p),
-- Lloyd iteration 1: assign to sin-grid init, recompute centroids
s0 AS (
  SELECT ex.vec_id, cl.p,
         sum(ex.x * sin(cl.p * 2654435761.0 + (ex.i - 1) * 40503.0)) AS score
  FROM ex CROSS JOIN cl
  GROUP BY 1, 2
),
a0 AS (
  SELECT vec_id, p AS cluster FROM (
    SELECT vec_id, p, row_number() OVER (PARTITION BY vec_id
           ORDER BY score DESC, p ASC) AS rn
    FROM s0) WHERE rn = 1
),
m1 AS (
  SELECT a0.cluster, ex.i AS dim, round(avg(ex.x), 9) AS m
  FROM a0 JOIN ex ON ex.vec_id = a0.vec_id
  GROUP BY 1, 2
),
n1 AS (SELECT cluster, sqrt(sum(m * m)) AS nrm FROM m1 GROUP BY 1),
c1 AS (
  SELECT m1.cluster, m1.dim, round(m1.m / n1.nrm, 6) AS c
  FROM m1 JOIN n1 USING (cluster) WHERE n1.nrm > 0
),
-- Lloyd iteration 2
s1 AS (
  SELECT ex.vec_id, c1.cluster AS p, sum(ex.x * c1.c) AS score
  FROM ex JOIN c1 ON c1.dim = ex.i
  GROUP BY 1, 2
),
a1 AS (
  SELECT vec_id, p AS cluster FROM (
    SELECT vec_id, p, row_number() OVER (PARTITION BY vec_id
           ORDER BY score DESC, p ASC) AS rn
    FROM s1) WHERE rn = 1
),
m2 AS (
  SELECT a1.cluster, ex.i AS dim, round(avg(ex.x), 9) AS m
  FROM a1 JOIN ex ON ex.vec_id = a1.vec_id
  GROUP BY 1, 2
),
n2 AS (SELECT cluster, sqrt(sum(m * m)) AS nrm FROM m2 GROUP BY 1),
c2 AS (
  SELECT m2.cluster, m2.dim, round(m2.m / n2.nrm, 6) AS c
  FROM m2 JOIN n2 USING (cluster) WHERE n2.nrm > 0
)"""


SQL_IVF_KMEANS_ANN = f"""
WITH {_sql_kmeans_codebook()},
-- final nprobe=2 assignment with the trained codebook
s2 AS (
  SELECT ex.vec_id, c2.cluster AS p, sum(ex.x * c2.c) AS score
  FROM ex JOIN c2 ON c2.dim = ex.i
  GROUP BY 1, 2
),
assign AS (
  SELECT vec_id, p AS cluster FROM (
    SELECT vec_id, p, row_number() OVER (PARTITION BY vec_id
           ORDER BY score DESC, p ASC) AS rn
    FROM s2) WHERE rn <= 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.vec_id != b.vec_id
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT c.query_id, c.neighbor_id, sum(q.x * n.x) AS dot
  FROM cand c
  JOIN ex q ON q.vec_id = c.query_id
  JOIN ex n ON n.vec_id = c.neighbor_id AND n.i = q.i
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.neighbor_id, d.dot / NULLIF(nq.nrm * nn.nrm, 0) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nn ON nn.vec_id = d.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored WHERE cosine IS NOT NULL
)
SELECT query_id, neighbor_id, rank, round(cosine, 4) + 0.0 AS cosine
FROM ranked WHERE rank <= 5
"""

QUERIES["ivf_kmeans_ann"] = q_ivf_kmeans_ann
ORACLES["ivf_kmeans_ann"] = SQL_IVF_KMEANS_ANN


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): trained k-means
    clusters + within-cluster cosine pruning, keep-lowest-id exemplar.
    The oracle replays the Lloyd iterations, the nprobe=1 assignment,
    and the r6 threshold decision in SQL."""
    from .operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # 0.35 sits inside the stock embeddings' within-cluster cosine
    # support (max ~0.49, p99 ~0.33) so BOTH keep and drop paths are
    # exercised at every SF; the operator default (0.8) is the
    # paper-calibrated setting for real embedding spaces
    out = semantic_dedup(emb, threshold=0.35, n_clusters=8, kmeans_iters=2)
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("cluster").cast("bigint").alias("cluster"),
        F.col("is_dup").cast("bigint").alias("is_dup"),
        F.col("dup_of").cast("bigint").alias("dup_of"),
    )


SQL_SEMANTIC_DEDUP = f"""
WITH {_sql_kmeans_codebook()},
-- nprobe=1 assignment with the trained codebook
s2 AS (
  SELECT ex.vec_id, c2.cluster AS p, sum(ex.x * c2.c) AS score
  FROM ex JOIN c2 ON c2.dim = ex.i
  GROUP BY 1, 2
),
assign AS (
  SELECT vec_id, p AS cluster FROM (
    SELECT vec_id, p, row_number() OVER (PARTITION BY vec_id
           ORDER BY score DESC, p ASC) AS rn
    FROM s2) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS xid, b.vec_id AS yid
  FROM assign a JOIN assign b
    ON a.cluster = b.cluster AND b.vec_id < a.vec_id
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT p.xid, p.yid, sum(xq.x * yq.x) AS dot
  FROM pairs p
  JOIN ex xq ON xq.vec_id = p.xid
  JOIN ex yq ON yq.vec_id = p.yid AND yq.i = xq.i
  GROUP BY 1, 2
),
-- round BEFORE the threshold compare (both engines) so unordered float
-- summation cannot flip a keep/drop decision
cos6 AS (
  SELECT d.xid, d.yid,
         round(d.dot / NULLIF(nx.nrm * ny.nrm, 0), 6) AS c6
  FROM dots d
  JOIN norms nx ON nx.vec_id = d.xid
  JOIN norms ny ON ny.vec_id = d.yid
),
hits AS (SELECT xid, min(yid) AS dup_of FROM cos6 WHERE c6 >= 0.35 GROUP BY xid)
SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
       CAST(CASE WHEN h.dup_of IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_dup,
       CAST(h.dup_of AS BIGINT) AS dup_of
FROM assign a LEFT JOIN hits h ON h.xid = a.vec_id
"""

QUERIES["semantic_dedup"] = q_semantic_dedup
ORACLES["semantic_dedup"] = SQL_SEMANTIC_DEDUP


def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact shared token substrings (>= 8 tokens):
    k-gram anchor equi-join + diagonal islands merge — the
    substring-level dedup primitive over the tokenized table."""
    from .operators.dedup import shared_substring_spans

    s = shared_substring_spans(
        _tokenized(spark, sf_dir),
        min_len=8,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    return s.select(
        F.col("doc_a").cast("bigint").alias("doc_a"),
        F.col("doc_b").cast("bigint").alias("doc_b"),
        F.col("pos_a").cast("bigint").alias("pos_a"),
        F.col("pos_b").cast("bigint").alias("pos_b"),
        F.col("length").cast("bigint").alias("length"),
    )


#: shared substring-span pipeline (detection AND rewrite oracles use it)
_SQL_SUBSTR_CTES = """grams AS (
  SELECT doc_id, i - 1 AS pos, md5(array_to_string(tokens[i:i+7], ',')) AS anchor
  FROM tokc, unnest(generate_series(1, len(tokens) - 7)) AS g(i)
  WHERE len(tokens) >= 8
),
freq AS (SELECT anchor FROM grams GROUP BY anchor HAVING count(*) <= 1000),
g2 AS (SELECT grams.* FROM grams JOIN freq USING (anchor)),
hits AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b
  FROM g2 a JOIN g2 b ON a.anchor = b.anchor AND a.doc_id < b.doc_id
),
isl AS (
  SELECT *, pos_a - row_number() OVER (
      PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS island
  FROM hits
)"""

SQL_SUBSTRING_SPANS = f"""
WITH {SQL_TOKC},
{_SQL_SUBSTR_CTES}
SELECT doc_a, doc_b,
       CAST(min(pos_a) AS BIGINT) AS pos_a,
       CAST(min(pos_b) AS BIGINT) AS pos_b,
       CAST(max(pos_a) - min(pos_a) + 8 AS BIGINT) AS length
FROM isl
GROUP BY doc_a, doc_b, pos_a - pos_b, island
"""

QUERIES["substring_spans"] = q_substring_spans
ORACLES["substring_spans"] = SQL_SUBSTRING_SPANS


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution KL divergence vs the corpus blend —
    the training-mix drift detector."""
    from .operators.tokens import source_token_divergence

    d = source_token_divergence(_tokenized(spark, sf_dir))
    return d.select(
        "source",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        _r4("kl_vs_corpus").alias("kl_vs_corpus"),
    )


SQL_SOURCE_DIVERGENCE = f"""
WITH {SQL_TOKC},
flat AS (
  SELECT source, tokens[i] AS token
  FROM tokc, unnest(generate_series(1, len(tokens))) AS g(i)
),
st AS (SELECT source, token, count(*) AS c FROM flat GROUP BY 1, 2),
totals AS (SELECT source, sum(c) AS n_src FROM st GROUP BY 1),
corpus AS (SELECT token, sum(c) AS c_all FROM st GROUP BY 1),
grand AS (SELECT CAST(sum(c) AS DOUBLE) AS n_all FROM st)
SELECT st.source,
       CAST(max(t.n_src) AS BIGINT) AS n_tok,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(sum((st.c / t.n_src) * ln((st.c / t.n_src) / (co.c_all / g.n_all))), 4)
         AS kl_vs_corpus
FROM st
JOIN totals t USING (source)
JOIN corpus co USING (token)
CROSS JOIN grand g
GROUP BY st.source
"""

QUERIES["source_divergence"] = q_source_divergence
ORACLES["source_divergence"] = SQL_SOURCE_DIVERGENCE


def q_token_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed sequences → binary training-shard blobs (int32-LE stream +
    sequence index) → decode → token rows. Gated by the SAME oracle as
    pack_sequences, so the codec is proven lossless end-to-end."""
    from .operators.tokens import pack_sequences, shard_blobs, unshard_blobs

    packed = pack_sequences(_tokenized(spark, sf_dir), seq_len=64)
    rt = unshard_blobs(shard_blobs(packed))
    return rt.select(
        "source",
        F.col("seq_idx").cast("bigint").alias("seq_idx"),
        F.posexplode("tokens").alias("pos", "token"),
    ).select(
        "source",
        "seq_idx",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("token").cast("bigint").alias("token"),
    )


QUERIES["token_shard_roundtrip"] = q_token_shard_roundtrip
ORACLES["token_shard_roundtrip"] = SQL_PACK_SEQUENCES


def q_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup APPLIED: detect shared >=8-token runs, cut
    each from the higher doc_id, keep the lower; the rewritten corpus is
    gated token-by-token."""
    from .operators.dedup import remove_substring_spans, shared_substring_spans

    tok = _tokenized(spark, sf_dir)
    spans = shared_substring_spans(tok, min_len=8)
    rw = remove_substring_spans(tok, spans)
    return rw.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_removed").cast("bigint").alias("n_removed"),
        F.posexplode_outer("tokens").alias("pos", "token"),
    ).select(
        "doc_id",
        "n_removed",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("token").cast("bigint").alias("token"),
    )


SQL_DEDUP_REWRITE = f"""
WITH {SQL_TOKC},
{_SQL_SUBSTR_CTES},
spans AS (
  SELECT doc_b, min(pos_b) AS s, max(pos_a) - min(pos_a) + 8 + min(pos_b) AS e
  FROM isl GROUP BY doc_a, doc_b, pos_a - pos_b, island
),
pos AS (
  SELECT doc_id, i - 1 AS p, tokens[i] AS token
  FROM tokc, unnest(generate_series(1, len(tokens))) AS g(i)
),
kept AS (
  SELECT pos.doc_id, pos.p, pos.token
  FROM pos
  WHERE NOT EXISTS (
    SELECT 1 FROM spans WHERE spans.doc_b = pos.doc_id
                          AND pos.p >= spans.s AND pos.p < spans.e)
),
removed AS (
  SELECT t.doc_id,
         len(t.tokens) - COALESCE(k.n, 0) AS n_removed
  FROM tokc t
  LEFT JOIN (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1) k USING (doc_id)
)
SELECT r.doc_id, CAST(r.n_removed AS BIGINT) AS n_removed,
       CASE WHEN k.p IS NULL THEN NULL
            ELSE CAST(row_number() OVER (PARTITION BY r.doc_id ORDER BY k.p) - 1 AS BIGINT)
       END AS pos,
       CAST(k.token AS BIGINT) AS token
FROM removed r LEFT JOIN kept k ON k.doc_id = r.doc_id
"""

QUERIES["dedup_rewrite"] = q_dedup_rewrite
ORACLES["dedup_rewrite"] = SQL_DEDUP_REWRITE


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP data pipeline, end-to-end in one plan: exact dedup ->
    quality gate -> benchmark decontamination -> mixture downsampling ->
    hash tokenize + EOS -> fixed-length packing. The oracle replays the
    whole chain; the gate is the final packed token stream element by
    element — if any stage drops/keeps a different doc, every downstream
    sequence shifts and the hash catches it."""
    from .operators import (
        decontaminate,
        exact_dedup,
        pack_sequences,
        quality_score,
        source_mixture,
        tokenize_documents,
    )

    docs = _documents(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    d1 = docs.join(keep, "doc_id")
    q = quality_score(d1).filter(F.col("quality") >= 0.95).select("doc_id")
    d2 = d1.join(q, "doc_id")
    bench = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    contaminated = (
        decontaminate(d2, bench, n=6, min_hits=1)
        .filter(F.col("doc_id") != F.col("bench_id"))
        .select("doc_id")
        .distinct()
    )
    d3 = d2.join(contaminated, "doc_id", "left_anti")
    kept = source_mixture(d3, {"src0": 0.5, "src1": 0.25}, default_rate=1.0).select(
        "doc_id"
    )
    d4 = d3.join(kept.distinct(), "doc_id")
    packed = pack_sequences(
        tokenize_documents(d4, append_eos=32768, parallelism=par), seq_len=64
    )
    return packed.select(
        "source",
        F.col("seq_idx").cast("bigint").alias("seq_idx"),
        F.posexplode("tokens").alias("pos", "token"),
    ).select(
        "source",
        "seq_idx",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("token").cast("bigint").alias("token"),
    )


SQL_PIPELINE_E2E = r"""
WITH h AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch
  FROM documents
),
keep AS (SELECT min(doc_id) AS doc_id FROM h GROUP BY ch),
d1 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
qf AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
         length(text) - length(regexp_replace(text, '[.,;:!?''"]', '', 'g')) AS n_punct,
         len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS n_stop
  FROM d1
),
d2 AS (
  SELECT d1.* FROM d1 JOIN qf USING (doc_id)
  WHERE qf.n_tokens BETWEEN 5 AND 100000
    AND CAST(qf.n_punct AS DOUBLE) / greatest(qf.n_chars, 1) <= 0.2
    AND CAST(qf.n_stop AS DOUBLE) / greatest(qf.n_tokens, 1) >= 0.01
),
norm2 AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM d2
),
wl2 AS (SELECT doc_id, string_split(t, ' ') AS words FROM norm2),
dsh AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+5], ' ') AS shingle
  FROM wl2, unnest(generate_series(1, greatest(len(words) - 5, 1))) AS g(i)
  WHERE len(array_to_string(words[i:i+5], ' ')) > 0
),
normb AS (
  SELECT doc_id AS bench_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents WHERE doc_id % 17 = 0
),
wlb AS (SELECT bench_id, string_split(t, ' ') AS words FROM normb),
bsh AS (
  SELECT DISTINCT bench_id, array_to_string(words[i:i+5], ' ') AS shingle
  FROM wlb, unnest(generate_series(1, greatest(len(words) - 5, 1))) AS g(i)
  WHERE len(array_to_string(words[i:i+5], ' ')) > 0
),
contaminated AS (
  SELECT DISTINCT d.doc_id
  FROM dsh d JOIN bsh b ON b.shingle = d.shingle AND d.doc_id <> b.bench_id
),
d3 AS (
  SELECT * FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
d4 AS (
  SELECT * FROM d3
  WHERE CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25 ELSE 1.0 END >= 1.0
     OR CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          / 4294967296.0
        < CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25 ELSE 1.0 END
),
tokc AS (
  SELECT doc_id, source,
         list_append(
           list_transform(
             list_filter(
               string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
               w -> w <> ''),
             w -> CAST(CAST(('0x' || substr(md5('tok:' || w), 1, 7)) AS BIGINT) % 32768 AS INT)
           ), 32768) AS tokens
  FROM d4
),
docs_t AS (SELECT doc_id, source, tokens, len(tokens) AS n_tok FROM tokc WHERE len(tokens) > 0),
st AS (
  SELECT *, CAST(COALESCE(sum(n_tok) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
  FROM docs_t
)
SELECT source,
       CAST((strt + i - 1) // 64 AS BIGINT) AS seq_idx,
       CAST((strt + i - 1) % 64 AS BIGINT) AS pos,
       CAST(tokens[i] AS BIGINT) AS token
FROM st, unnest(generate_series(1, n_tok)) AS g(i)
"""

QUERIES["pipeline_e2e"] = q_pipeline_e2e
ORACLES["pipeline_e2e"] = SQL_PIPELINE_E2E


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair PMI over the tokenized corpus (collocation / BPE
    merge-candidate ranking), min_count=5, top-100."""
    from .operators.tokens import token_pmi_bigrams

    p = token_pmi_bigrams(_tokenized(spark, sf_dir), min_count=5, top_k=100)
    return p.select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        F.col("c_ab").cast("bigint").alias("c_ab"),
        _r4("pmi").alias("pmi"),
        F.col("rank").cast("bigint").alias("rank"),
    )


SQL_TOKEN_PMI = f"""
WITH {SQL_TOKC},
flat AS (
  SELECT doc_id, i AS p, tokens[i] AS token
  FROM tokc, unnest(generate_series(1, len(tokens))) AS g(i)
),
uni AS (SELECT token AS t, count(*) AS c FROM flat GROUP BY 1),
bg AS (
  SELECT f1.token AS a, f2.token AS b, count(*) AS c_ab
  FROM flat f1 JOIN flat f2 ON f2.doc_id = f1.doc_id AND f2.p = f1.p + 1
  GROUP BY 1, 2 HAVING count(*) >= 5
),
n1 AS (SELECT CAST(sum(c) AS DOUBLE) AS n1 FROM uni),
n2 AS (SELECT CAST(sum(greatest(len(tokens) - 1, 0)) AS DOUBLE) AS n2 FROM tokc),
pmi AS (
  SELECT bg.a, bg.b, bg.c_ab,
         ln((bg.c_ab / n2.n2) / ((ua.c / n1.n1) * (ub.c / n1.n1))) AS pmi
  FROM bg
  JOIN uni ua ON ua.t = bg.a
  JOIN uni ub ON ub.t = bg.b
  CROSS JOIN n1 CROSS JOIN n2
),
ranked AS (
  SELECT a, b, c_ab, pmi,
         row_number() OVER (ORDER BY pmi DESC, a ASC, b ASC) AS rank
  FROM pmi
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(c_ab AS BIGINT) AS c_ab, round(pmi, 4) AS pmi,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 100
"""

QUERIES["token_pmi"] = q_token_pmi
ORACLES["token_pmi"] = SQL_TOKEN_PMI


def q_mp_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star composition, literally: z-normalized matrix
    profile computed PER TOKENIZED TRAINING SEQUENCE (token ids as the
    series), MPX kernel vs the brute-force SQL MP over the exact same
    md5 token streams."""
    from .operators import matrix_profile

    tok = _tokenized(spark, sf_dir).filter(F.col("n_tok") >= MIN_LEN)
    seqs = tok.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.transform(F.col("tokens"), lambda t: t.cast("double")).alias("tokens"),
    )
    prof = matrix_profile(seqs, W, long_series_threshold=None)
    # short token docs can have mid-profile positions with NO admissible
    # neighbor (every |i-j| <= ez): the kernel emits NaN/-1 there
    # (reference Inf semantics); the oracle's pair-based formulation has
    # no row to emit, so the comparison is over positions WITH a neighbor
    return prof.filter(F.col("mp").isNotNull() & ~F.isnan("mp")).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("pos").cast("bigint").alias("pos"),
        _r4("mp").alias("mp_r"),
        F.col("pi").cast("bigint").alias("pi"),
    )


#: composed from SQL_TOKC so the tokenizer convention lives in ONE place
_SQL_TOKEN_SERIES = f"""{SQL_TOKC},
s AS (
  SELECT doc_id, i - 1 AS pos, CAST(tokens[i] AS DOUBLE) AS value
  FROM tokc, unnest(generate_series(1, len(tokens))) AS g(i)
)"""

SQL_MP_TOKENS = f"""
WITH {sql_mp_cte(series_cte=_SQL_TOKEN_SERIES)}
SELECT CAST(doc_id AS BIGINT) AS doc_id, pos, round(mp, 4) AS mp_r, pi FROM mp
"""

QUERIES["mp_tokens"] = q_mp_tokens
ORACLES["mp_tokens"] = SQL_MP_TOKENS


def q_mp_packed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE north-star chain in one oracle-gated plan:
    tokenize -> pack into fixed-length training sequences -> z-normalized
    matrix profile PER PACKED SEQUENCE -> tier-1 continuous aggregate
    (min/argmin/avg/max per bucket). Profiles as continuous-aggregate
    columns over the training corpus, downsampled through a retention
    tier — replayed end-to-end in SQL."""
    from .operators import matrix_profile, pack_sequences, rollup_tier

    packed = pack_sequences(_tokenized(spark, sf_dir), seq_len=64)
    seqs = packed.filter(F.col("n_tok") >= MIN_LEN).select(
        F.concat_ws(":", "source", F.col("seq_idx").cast("string")).alias("doc_id"),
        F.transform(F.col("tokens"), lambda t: t.cast("double")).alias("tokens"),
    )
    prof = matrix_profile(seqs, W, long_series_threshold=None).filter(
        F.col("mp").isNotNull() & ~F.isnan("mp")
    )
    t1 = rollup_tier(prof, BUCKET)
    return t1.select(
        "doc_id",
        F.col("bucket").cast("bigint").alias("bucket"),
        _r4("mp_min").alias("mp_min"),
        F.col("pi_argmin").cast("bigint").alias("pi_argmin"),
        _r4("mp_avg").alias("mp_avg"),
        _r4("mp_max").alias("mp_max"),
        F.col("n").cast("bigint").alias("n"),
    )


_SQL_PACKED_SERIES = f"""{SQL_TOKC},
docs_t AS (SELECT doc_id, source, tokens, len(tokens) AS n_tok FROM tokc WHERE len(tokens) > 0),
stq AS (
  SELECT *, CAST(COALESCE(sum(n_tok) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS strt
  FROM docs_t
),
s AS (
  SELECT source || ':' || CAST((strt + i - 1) // 64 AS VARCHAR) AS doc_id,
         (strt + i - 1) % 64 AS pos,
         CAST(tokens[i] AS DOUBLE) AS value
  FROM stq, unnest(generate_series(1, n_tok)) AS g(i)
)"""

SQL_MP_PACKED_ROLLUP = f"""
WITH {sql_mp_cte(series_cte=_SQL_PACKED_SERIES)},
t1 AS (
  SELECT doc_id, CAST(floor(pos / {BUCKET}) AS BIGINT) AS bucket,
         min(mp) AS mp_min, avg(mp) AS mp_avg, max(mp) AS mp_max, count(mp) AS n
  FROM mp GROUP BY 1, 2
),
winner AS (
  SELECT doc_id, bucket, pi AS pi_argmin FROM (
    SELECT doc_id, CAST(floor(pos / {BUCKET}) AS BIGINT) AS bucket, pi,
           row_number() OVER (PARTITION BY doc_id, floor(pos / {BUCKET})
                              ORDER BY mp ASC, pos ASC) AS rn
    FROM mp WHERE mp IS NOT NULL
  ) WHERE rn = 1
)
SELECT t1.doc_id, t1.bucket, round(mp_min, 4) AS mp_min, winner.pi_argmin,
       round(mp_avg, 4) AS mp_avg, round(mp_max, 4) AS mp_max, n
FROM t1 JOIN winner ON t1.doc_id = winner.doc_id AND t1.bucket = winner.bucket
"""

QUERIES["mp_packed_rollup"] = q_mp_packed_rollup
ORACLES["mp_packed_rollup"] = SQL_MP_PACKED_ROLLUP


def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: every 13th doc plays the target domain;
    log importance ratio of hashed unigram+bigram bag features under
    add-one-smoothed target vs raw models, ranked on the rounded weight."""
    from .operators.text import dsir_weights

    docs = _documents(spark, sf_dir)
    target = docs.filter(F.col("doc_id") % 13 == 0)
    w = dsir_weights(docs, target, n_buckets=4096, ngram=2)
    ranked = w.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        _r4("logw").alias("logw"),
    ).withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc(_r4("logw")), F.asc("doc_id")))
        .cast("bigint"),
    )
    return ranked


SQL_DSIR = r"""
WITH wl AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
  FROM documents
),
grams AS (
  SELECT doc_id, words[i] AS g FROM wl, unnest(generate_series(1, len(words))) AS u(i)
  UNION ALL
  SELECT doc_id, array_to_string(words[i:i+1], ' ') AS g
  FROM wl, unnest(generate_series(1, len(words) - 1)) AS u(i)
  WHERE len(words) >= 2
),
feat AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5('dsir:' || g), 1, 7)) AS BIGINT) % 4096 AS INT) AS bucket
  FROM grams
),
fc AS (SELECT doc_id, bucket, count(*) AS c FROM feat GROUP BY 1, 2),
tb AS (SELECT bucket, count(*) AS ct FROM feat WHERE doc_id % 13 = 0 GROUP BY 1),
rb AS (SELECT bucket, sum(c) AS cr FROM fc GROUP BY 1),
nt AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM feat WHERE doc_id % 13 = 0),
nr AS (SELECT CAST(count(*) AS DOUBLE) AS nr FROM feat),
llr AS (
  SELECT rb.bucket,
         ln((COALESCE(tb.ct, 0) + 1) / (nt.nt + 4096))
           - ln((COALESCE(rb.cr, 0) + 1) / (nr.nr + 4096)) AS llr
  FROM rb LEFT JOIN tb USING (bucket) CROSS JOIN nt CROSS JOIN nr
),
w AS (
  SELECT fc.doc_id, sum(fc.c * llr.llr) AS logw
  FROM fc JOIN llr USING (bucket)
  GROUP BY 1
)
SELECT doc_id, round(logw, 4) AS logw,
       CAST(row_number() OVER (ORDER BY round(logw, 4) DESC, doc_id ASC) AS BIGINT) AS rank
FROM w
"""

QUERIES["dsir"] = q_dsir
ORACLES["dsir"] = SQL_DSIR


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality scoring: interpolated bigram LM trained on the
    corpus, per-doc mean NLL + perplexity."""
    from .operators.tokens import lm_perplexity

    p = lm_perplexity(_tokenized(spark, sf_dir), lambda_bigram=0.7)
    return p.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_scored").cast("bigint").alias("n_scored"),
        _r4("nll").alias("nll"),
        _r4("ppl").alias("ppl"),
    )


SQL_LM_PERPLEXITY = f"""
WITH {SQL_TOKC},
pairs AS (
  SELECT doc_id,
         CASE WHEN i > 1 THEN tokens[i - 1] END AS prev,
         tokens[i] AS cur
  FROM tokc, unnest(generate_series(1, len(tokens))) AS g(i)
),
uni AS (SELECT cur, count(*) AS c1 FROM pairs GROUP BY 1),
bi AS (
  SELECT prev, cur, count(*) AS c2 FROM pairs WHERE prev IS NOT NULL GROUP BY 1, 2
),
ctx AS (SELECT prev, sum(c2) AS cctx FROM bi GROUP BY 1),
n1 AS (SELECT CAST(sum(c1) AS DOUBLE) AS n1 FROM uni),
scored AS (
  SELECT p.doc_id,
         CASE WHEN p.prev IS NULL
              THEN -ln((u.c1 + 1) / (n1.n1 + 32768))
              ELSE -ln(0.7 * ((COALESCE(b.c2, 0) + 1) / (COALESCE(cx.cctx, 0) + 32768))
                       + (1.0 - 0.7) * ((u.c1 + 1) / (n1.n1 + 32768)))
         END AS nll_tok
  FROM pairs p
  JOIN uni u ON u.cur = p.cur
  LEFT JOIN bi b ON b.prev = p.prev AND b.cur = p.cur
  LEFT JOIN ctx cx ON cx.prev = p.prev
  CROSS JOIN n1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
       round(avg(nll_tok), 4) AS nll, round(exp(avg(nll_tok)), 4) AS ppl
FROM scored GROUP BY doc_id
"""

QUERIES["lm_perplexity"] = q_lm_perplexity
ORACLES["lm_perplexity"] = SQL_LM_PERPLEXITY


def q_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram LM scoring (d=3/4 ⇒ every
    probability one exact integer rational; nll = ln(den)−ln(num) over
    identical bigint operands on both engines)."""
    from .operators.tokens import kn_perplexity

    p = kn_perplexity(_tokenized(spark, sf_dir))
    return p.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_scored").cast("bigint").alias("n_scored"),
        _r4("nll").alias("nll"),
        _r4("ppl").alias("ppl"),
    )


SQL_KN_PERPLEXITY = f"""
WITH {SQL_TOKC},
pairs AS (
  SELECT doc_id,
         CASE WHEN i > 1 THEN tokens[i - 1] END AS prev,
         tokens[i] AS cur
  FROM tokc, unnest(generate_series(1, len(tokens))) AS g(i)
),
bi AS (
  SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
  FROM pairs WHERE prev IS NOT NULL GROUP BY 1, 2
),
ctx AS (
  SELECT prev, CAST(sum(c2) AS BIGINT) AS cctx,
         CAST(count(*) AS BIGINT) AS n1p
  FROM bi GROUP BY 1
),
ncw AS (SELECT cur, CAST(count(*) AS BIGINT) AS ncw FROM bi GROUP BY 1),
btot AS (SELECT CAST(count(*) AS BIGINT) AS b FROM bi),
scored AS (
  SELECT p.doc_id,
         ln(CAST(CASE WHEN p.prev IS NULL THEN bt.b + 32768
                      ELSE 4 * cx.cctx * bt.b END AS DOUBLE))
         - ln(CAST(CASE WHEN p.prev IS NULL THEN COALESCE(nc.ncw, 0) + 1
                        ELSE greatest(4 * b.c2 - 3, 0) * bt.b
                             + 3 * cx.n1p * nc.ncw END AS DOUBLE))
           AS nll_tok
  FROM pairs p
  LEFT JOIN bi b ON b.prev = p.prev AND b.cur = p.cur
  LEFT JOIN ctx cx ON cx.prev = p.prev
  LEFT JOIN ncw nc ON nc.cur = p.cur
  CROSS JOIN btot bt
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
       round(avg(nll_tok), 4) AS nll, round(exp(avg(nll_tok)), 4) AS ppl
FROM scored GROUP BY doc_id
"""

QUERIES["kn_perplexity"] = q_kn_perplexity
ORACLES["kn_perplexity"] = SQL_KN_PERPLEXITY


def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-1 global shuffle of the packed sequences:
    md5 order key per sequence, globally ranked."""
    from .operators.tokens import pack_sequences, training_order

    packed = pack_sequences(_tokenized(spark, sf_dir), seq_len=64)
    o = training_order(packed, epoch=1)
    return o.select(
        "source",
        F.col("seq_idx").cast("bigint").alias("seq_idx"),
        F.col("order_key").cast("bigint").alias("order_key"),
    ).withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy("order_key", "source", "seq_idx"))
        .cast("bigint"),
    )


SQL_TRAINING_ORDER = f"""
WITH {SQL_TOKC},
docs_t AS (SELECT source, len(tokens) AS n_tok FROM tokc WHERE len(tokens) > 0),
tot AS (SELECT source, sum(n_tok) AS total FROM docs_t GROUP BY 1),
seqs AS (
  SELECT source, g.seq_idx
  FROM tot, unnest(generate_series(0, CAST(ceil(total / 64.0) AS BIGINT) - 1)) AS g(seq_idx)
),
keyed AS (
  SELECT source, seq_idx,
         CAST(('0x' || substr(md5('epoch1:' || source || ':0:' || CAST(seq_idx AS VARCHAR)), 1, 15)) AS BIGINT) AS order_key
  FROM seqs
)
SELECT source, CAST(seq_idx AS BIGINT) AS seq_idx, order_key,
       CAST(row_number() OVER (ORDER BY order_key, source, seq_idx) AS BIGINT) AS rank
FROM keyed
"""

QUERIES["training_order"] = q_training_order
ORACLES["training_order"] = SQL_TRAINING_ORDER


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking (chunk_len=32, stride=24) of
    the tokenized docs — the retrieval/finetuning counterpart of
    packing; gated per token."""
    from .operators.tokens import chunk_documents

    c = chunk_documents(_tokenized(spark, sf_dir), chunk_len=32, stride=24)
    return c.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("chunk_start").cast("bigint").alias("chunk_start"),
        F.posexplode("tokens").alias("pos", "token"),
    ).select(
        "doc_id",
        "chunk_idx",
        "chunk_start",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("token").cast("bigint").alias("token"),
    )


SQL_CHUNK_DOCUMENTS = f"""
WITH {SQL_TOKC},
docs AS (SELECT doc_id, tokens, len(tokens) AS n FROM tokc WHERE len(tokens) > 0),
chunks AS (
  SELECT doc_id, tokens, n, g.ci AS chunk_idx, g.ci * 24 AS chunk_start
  FROM docs, unnest(generate_series(0,
      CAST(floor((greatest(n - 32, 0) + 23) / 24) AS BIGINT))) AS g(ci)
),
sliced AS (
  SELECT doc_id, chunk_idx, chunk_start,
         tokens[chunk_start + 1 : least(chunk_start + 32, n)] AS chunk
  FROM chunks
  WHERE chunk_start < n
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_start AS BIGINT) AS chunk_start,
       CAST(i - 1 AS BIGINT) AS pos, CAST(chunk[i] AS BIGINT) AS token
FROM sliced, unnest(generate_series(1, len(chunk))) AS g(i)
"""

QUERIES["chunk_documents"] = q_chunk_documents
ORACLES["chunk_documents"] = SQL_CHUNK_DOCUMENTS


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line + document cleaning (Raffel et al. 2020 §2.2) over a
    deterministically derived multi-line corpus: consecutive document
    triples become 3-line pages, with terminal punctuation / javascript /
    lorem-ipsum / code-brace / blocklist structure planted by doc_id
    arithmetic (identical strings on both engines) so every rule class
    is exercised by the hash gate."""
    from .operators.text import c4_line_filters

    d = _documents(spark, sf_dir)
    member = F.col("doc_id") % 3
    suffix = (
        F.when(member == 0, F.lit(" alpha beta gamma delta."))
        .when(member == 1, F.lit(" epsilon zeta"))
        .otherwise(F.lit(" javascript tail."))
    )
    extra = (
        F.when(F.col("doc_id") % 57 == 0, F.lit(" lorem ipsum."))
        .when(F.col("doc_id") % 57 == 1, F.lit(" brace { token."))
        .when(F.col("doc_id") % 57 == 3, F.lit(" badword here."))
        .otherwise(F.lit(""))
    )
    lines = d.select(
        F.floor(F.col("doc_id") / 3).alias("gid"),
        F.col("doc_id").alias("doc_id"),
        F.concat(F.col("text"), suffix, extra).alias("line"),
    )
    pages = lines.groupBy("gid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text")
    )
    out = c4_line_filters(pages, id_col="gid", min_kept_lines=1)
    return out.select(
        F.col("gid").cast("bigint").alias("doc_id"),
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.col("keep").cast("int").alias("keep"),
        F.col("clean_text"),
    )


SQL_C4_FILTERS = r"""
WITH lines AS (
  SELECT doc_id // 3 AS gid, doc_id,
         text ||
         CASE doc_id % 3 WHEN 0 THEN ' alpha beta gamma delta.'
                         WHEN 1 THEN ' epsilon zeta'
                         ELSE ' javascript tail.' END ||
         CASE doc_id % 57 WHEN 0 THEN ' lorem ipsum.'
                          WHEN 1 THEN ' brace { token.'
                          WHEN 3 THEN ' badword here.'
                          ELSE '' END AS line
  FROM documents
),
pages AS (
  SELECT gid, string_agg(line, chr(10) ORDER BY doc_id) AS text
  FROM lines GROUP BY gid
),
f AS (
  SELECT gid,
         string_split(text, chr(10)) AS ls,
         list_filter(string_split(text, chr(10)),
           l -> len(string_split_regex(trim(l), '\s+')) >= 5
                AND regexp_matches(trim(l), '[.!?"]$')
                AND NOT contains(lower(l), 'javascript')) AS kept
  FROM pages
)
SELECT CAST(gid AS BIGINT) AS doc_id,
       CAST(len(ls) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       CAST(len(kept) >= 1
        AND NOT contains(lower(array_to_string(kept, chr(10))), 'lorem ipsum')
        AND NOT contains(array_to_string(kept, chr(10)), '{')
        AND NOT regexp_matches(lower(array_to_string(kept, chr(10))),
                               '\b(badword|blockedterm)\b') AS INT) AS keep,
       array_to_string(kept, chr(10)) AS clean_text
FROM f
"""

QUERIES["c4_filters"] = q_c4_filters
ORACLES["c4_filters"] = SQL_C4_FILTERS


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules quality filtering (Rae et al. 2021 A1.1) over a corpus
    with every rule class planted by doc_id arithmetic: bullet walls
    (member 0), ellipsis endings (1), symbol spam (2), non-alphabetic
    word runs (3), untouched docs (4, exercises the word-count bounds),
    stop-word boosters (5), and a 2000-char mega-word that breaks the
    mean-word-length bound (6). Every sub-decision is an integer column
    — no float ratio ever reaches the hash."""
    from .operators.text import gopher_quality_filters

    d = _documents(spark, sf_dir)
    member = F.col("doc_id") % 7
    b10 = "".join(f"\n- b{i}" for i in range(10))
    extra = (
        F.when(member == 0, F.lit(b10))
        .when(member == 1, F.lit("\nwell maybe...\nor not..."))
        .when(member == 2, F.lit(" ## ## ## ## ## ##"))
        .when(member == 3, F.lit(" 11 22 33 44 55 66 77 88 99 00"))
        .when(member == 5, F.lit(" that have with be"))
        .when(member == 6, F.concat(F.lit(" "), F.repeat(F.lit("x"), 2000)))
        .otherwise(F.lit(""))
    )
    docs = d.select("doc_id", F.concat(F.col("text"), extra).alias("text"))
    out = gopher_quality_filters(docs, min_words=40, max_words=120)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_words"),
        F.col("n_chars"),
        F.col("n_alpha"),
        F.col("n_stop"),
        F.col("n_sym"),
        F.col("n_lines"),
        F.col("n_bullet"),
        F.col("n_ellipsis"),
        F.col("keep"),
    )


SQL_GOPHER_QUALITY = r"""
WITH planted AS (
  SELECT doc_id,
         text ||
         CASE doc_id % 7
           WHEN 0 THEN replace('|- b0|- b1|- b2|- b3|- b4|- b5|- b6|- b7|- b8|- b9', '|', chr(10))
           WHEN 1 THEN replace('|well maybe...|or not...', '|', chr(10))
           WHEN 2 THEN ' ## ## ## ## ## ##'
           WHEN 3 THEN ' 11 22 33 44 55 66 77 88 99 00'
           WHEN 5 THEN ' that have with be'
           WHEN 6 THEN ' ' || repeat('x', 2000)
           ELSE '' END AS text
  FROM documents
),
feat AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\s+') AS words,
         string_split(text, chr(10)) AS lines,
         len(text) - len(replace(text, '#', '')) AS hash_cnt,
         (len(text) - len(replace(text, '...', ''))) // 3 AS ell_cnt
  FROM planted
),
agg AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS n_chars,
         CAST(len(list_filter(words, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
         CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                              s -> list_contains(words, s))) AS BIGINT) AS n_stop,
         CAST(hash_cnt + ell_cnt AS BIGINT) AS n_sym,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines, l -> starts_with(l, '- '))) AS BIGINT) AS n_bullet,
         CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS BIGINT) AS n_ellipsis
  FROM feat
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       n_words, n_chars, n_alpha, n_stop, n_sym, n_lines, n_bullet, n_ellipsis,
       CAST(n_words >= 40 AND n_words <= 120
        AND 3 * n_words <= n_chars AND n_chars <= 10 * n_words
        AND 10 * n_sym < n_words
        AND 10 * n_bullet < 9 * n_lines
        AND 10 * n_ellipsis < 3 * n_lines
        AND 5 * n_alpha >= 4 * n_words
        AND n_stop >= 2 AS INT) AS keep
FROM agg
"""

QUERIES["gopher_quality"] = q_gopher_quality
ORACLES["gopher_quality"] = SQL_GOPHER_QUALITY


#: fixed keyword queries for the BM25 driver gate — drawn from the synthetic
#: corpus vocabulary so tf/df/dl all discriminate.
_BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (0, "spark table scan"),
    (1, "customer query join fast"),
    (2, "window agg group"),
)


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval top-10 per query (Lucene idf form), ranked
    on the r4-rounded score with doc-id tie-break."""
    from .operators.text import bm25_topk

    q = spark.createDataFrame(
        list(_BM25_QUERIES), schema="query_id long, query_text string"
    )
    out = bm25_topk(_documents(spark, sf_dir), q, k=10)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("bm25"),
        F.col("rank").cast("bigint").alias("rank"),
    )


SQL_BM25 = r"""
WITH q(query_id, query_text) AS (
  VALUES (0, 'spark table scan'), (1, 'customer query join fast'), (2, 'window agg group')
),
wl AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words FROM documents),
toks AS (
  SELECT doc_id, len(words) AS dl, words[i] AS term
  FROM wl, unnest(generate_series(1, len(words))) AS u(i)
  WHERE length(words[i]) > 0
),
tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
qw AS (SELECT query_id, string_split_regex(lower(trim(query_text)), '\s+') AS words FROM q),
qt AS (
  SELECT DISTINCT query_id, words[i] AS term
  FROM qw, unnest(generate_series(1, len(words))) AS u(i)
  WHERE length(words[i]) > 0
),
qdist AS (SELECT DISTINCT term FROM qt),
g AS (
  SELECT tf.*, count(*) OVER (PARTITION BY tf.term) AS df
  FROM tf JOIN qdist USING (term)
),
st AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(len(string_split_regex(lower(trim(text)), '\s+'))) AS DOUBLE)
           / count(*) AS avgdl
  FROM documents
),
sc AS (
  SELECT qt.query_id, g.doc_id,
         sum(ln(1.0 + (st.n_docs - g.df + 0.5) / (g.df + 0.5))
             * g.tf * 2.2 / (g.tf + 1.2 * (0.25 + 0.75 * g.dl / st.avgdl))) AS score
  FROM g JOIN qt ON qt.term = g.term CROSS JOIN st
  GROUP BY 1, 2
)
SELECT query_id, doc_id, round(score, 4) AS bm25, rank FROM (
  SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY round(score, 4) DESC, doc_id ASC) AS BIGINT) AS rank
  FROM sc
) WHERE rank <= 10
"""

QUERIES["bm25"] = q_bm25
ORACLES["bm25"] = SQL_BM25


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (CCNet/FineWeb step) over
    the derived multi-line pages, with a shared boilerplate paragraph
    planted every 11th source doc so cross-document duplicate cutting is
    exercised (first occurrence survives, later ones are cut)."""
    from .operators.dedup import paragraph_dedup

    d = _documents(spark, sf_dir)
    line = F.when(
        F.col("doc_id") % 11 == 0, F.lit("Shared boilerplate notice paragraph.")
    ).otherwise(F.col("text"))
    lines = d.select(
        F.floor(F.col("doc_id") / 3).alias("gid"),
        F.col("doc_id"),
        line.alias("line"),
    )
    pages = lines.groupBy("gid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text")
    )
    out = paragraph_dedup(pages, id_col="gid")
    return out.select(
        F.col("gid").cast("bigint").alias("doc_id"),
        F.col("n_paras").cast("bigint").alias("n_paras"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.col("clean_text"),
    )


SQL_PARAGRAPH_DEDUP = r"""
WITH lines AS (
  SELECT doc_id // 3 AS gid, doc_id,
         CASE WHEN doc_id % 11 = 0 THEN 'Shared boilerplate notice paragraph.'
              ELSE text END AS line
  FROM documents
),
pages AS (
  SELECT gid, string_agg(line, chr(10) ORDER BY doc_id) AS text
  FROM lines GROUP BY gid
),
paras AS (
  SELECT gid, i - 1 AS pos, ps[i] AS para
  FROM (SELECT gid, string_split(text, chr(10)) AS ps FROM pages),
       unnest(generate_series(1, len(ps))) AS u(i)
),
nz AS (
  SELECT *, md5(regexp_replace(lower(trim(para)), '\s+', ' ', 'g')) AS k
  FROM paras WHERE length(trim(para)) > 0
),
kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY k ORDER BY gid, pos) AS rn FROM nz
  ) WHERE rn = 1
),
agg AS (
  SELECT gid, count(*) AS n_kept,
         string_agg(para, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY gid
),
tot AS (SELECT gid, count(*) AS n_paras FROM nz GROUP BY gid)
SELECT CAST(p.gid AS BIGINT) AS doc_id,
       CAST(COALESCE(t.n_paras, 0) AS BIGINT) AS n_paras,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(a.clean_text, '') AS clean_text
FROM pages p LEFT JOIN tot t ON t.gid = p.gid LEFT JOIN agg a ON a.gid = p.gid
"""

QUERIES["paragraph_dedup"] = q_paragraph_dedup
ORACLES["paragraph_dedup"] = SQL_PARAGRAPH_DEDUP


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64-d -> 16-d (the ANN dimensionality-reduction
    front end), emitted tall (vec_id, dim, value) for the value hash."""
    from .operators.similarity import random_projection

    emb = _embeddings(spark, sf_dir).filter(F.size("embedding") > 0)
    p = random_projection(emb, out_dim=16)
    return p.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.posexplode("projection").alias("dim", "value"),
    ).select("vec_id", F.col("dim").cast("bigint").alias("dim"), "value")


SQL_RANDOM_PROJECTION = r"""
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE len(embedding) > 0),
proj AS (
  SELECT vec_id, j AS dim,
         round(sum(embedding[i + 1] * sin((j + 10007) * 1013904223.0 + i * 1664525.0))
               * 0.25, 6) + 0.0 AS value
  FROM e,
       unnest(generate_series(0, 15)) AS gj(j),
       unnest(generate_series(0, len(embedding) - 1)) AS gi(i)
  GROUP BY 1, 2
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(dim AS BIGINT) AS dim, value FROM proj
"""

QUERIES["random_projection"] = q_random_projection
ORACLES["random_projection"] = SQL_RANDOM_PROJECTION


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization train+encode (Jegou et al. 2011): one
    deterministic L2-Lloyd iteration per contiguous subspace (m=4,
    k=16, sin-grid r9 init, r9 means), then every vector encoded as its
    per-subspace argmin code. The oracle replays the iteration and the
    assignment objective (x.c - |c|^2/2) in SQL."""
    from .operators.similarity import pq_codebooks, pq_encode

    emb = _embeddings(spark, sf_dir).filter(F.size("embedding") > 0)
    cb = pq_codebooks(emb, m=4, k=16, n_iter=1)
    out = pq_encode(emb, cb)
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("sub").cast("bigint").alias("sub"),
        F.col("code").cast("bigint").alias("code"),
        F.col("score"),
    )


def _sql_pq_chain(sx: str, pfx: str) -> str:
    """The PQ Lloyd-replay CTE chain (k=16 codes, m=4 subspaces, sin-grid
    r9 init, r9 means, argmax of ``x.c - |c|^2/2`` with lower-code ties)
    parameterized by the tall subspace source CTE ``{sx}(vec_id, sub, j,
    x)`` and a CTE-name prefix — shared by the pq_encode / pq_adc_topk
    oracles (raw vectors) and the ivf_pq oracle (coarse residuals).
    Yields ``{pfx}m1`` (trained centroids), ``{pfx}csq1``, ``{pfx}enc``."""
    return f"""{pfx}init AS (
  SELECT s.sub, c.code, g.j,
         round(sin((s.sub * 16 + c.code) * 1779033703.0 + g.j * 40503.0), 9) AS c
  FROM (SELECT DISTINCT sub FROM {sx}) s
  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS code) c
  CROSS JOIN (SELECT DISTINCT j FROM {sx}) g
),
{pfx}csq0 AS (SELECT sub, code, sum(c * c) AS csq FROM {pfx}init GROUP BY 1, 2),
{pfx}s0 AS (
  SELECT t.vec_id, t.sub, i.code, sum(t.x * i.c) AS dot
  FROM {sx} t JOIN {pfx}init i ON i.sub = t.sub AND i.j = t.j
  GROUP BY 1, 2, 3
),
{pfx}a0 AS (
  SELECT vec_id, sub, code FROM (
    SELECT s0.vec_id, s0.sub, s0.code,
           row_number() OVER (PARTITION BY s0.vec_id, s0.sub
                              ORDER BY s0.dot - c.csq / 2 DESC, s0.code ASC) AS rn
    FROM {pfx}s0 s0 JOIN {pfx}csq0 c ON c.sub = s0.sub AND c.code = s0.code
  ) WHERE rn = 1
),
{pfx}m1 AS (
  SELECT a0.sub, a0.code, t.j, round(avg(t.x), 9) AS c
  FROM {pfx}a0 a0 JOIN {sx} t ON t.vec_id = a0.vec_id AND t.sub = a0.sub
  GROUP BY 1, 2, 3
),
{pfx}csq1 AS (SELECT sub, code, sum(c * c) AS csq FROM {pfx}m1 GROUP BY 1, 2),
{pfx}s1 AS (
  SELECT t.vec_id, t.sub, m.code, sum(t.x * m.c) AS dot
  FROM {sx} t JOIN {pfx}m1 m ON m.sub = t.sub AND m.j = t.j
  GROUP BY 1, 2, 3
),
{pfx}enc AS (
  SELECT vec_id, sub, code, score FROM (
    SELECT s1.vec_id, s1.sub, s1.code, s1.dot - c.csq / 2 AS score,
           row_number() OVER (PARTITION BY s1.vec_id, s1.sub
                              ORDER BY s1.dot - c.csq / 2 DESC, s1.code ASC) AS rn
    FROM {pfx}s1 s1 JOIN {pfx}csq1 c ON c.sub = s1.sub AND c.code = s1.code
  ) WHERE rn = 1
)"""


_SQL_PQ_CODEBOOK = """e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE len(embedding) > 0
),
sx AS (
  SELECT vec_id, CAST((i - 1) // (len(v) // 4) AS INT) AS sub,
         CAST((i - 1) % (len(v) // 4) AS INT) AS j, x
  FROM (SELECT vec_id, v, unnest(v) AS x,
               unnest(generate_series(1, len(v))) AS i FROM e)
  WHERE (i - 1) // (len(v) // 4) < 4
),
""" + _sql_pq_chain("sx", "")


SQL_PQ_ENCODE = f"""
WITH {_SQL_PQ_CODEBOOK}
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(sub AS BIGINT) AS sub,
       CAST(code AS BIGINT) AS code, round(score, 4) + 0.0 AS score
FROM enc
"""

QUERIES["pq_encode"] = q_pq_encode
ORACLES["pq_encode"] = SQL_PQ_ENCODE


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-5 ANN: raw query vectors against the
    PQ-coded database via a broadcast (query x m.k) distance table; the
    oracle rebuilds the codes and the ADC sum in SQL."""
    from .operators.similarity import pq_adc_topk

    emb = _embeddings(spark, sf_dir).filter(F.size("embedding") > 0)
    out = pq_adc_topk(emb, F.col("vec_id") % 50 == 0, k_neighbors=5)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("rank"),
        F.col("adc"),
    )


SQL_PQ_ADC_TOPK = f"""
WITH {_SQL_PQ_CODEBOOK},
qs AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id % 50 = 0),
qsq AS (
  SELECT query_id, sum(x * x) AS qsq
  FROM (SELECT query_id, unnest(v) AS x FROM qs) GROUP BY 1
),
qsx AS (
  SELECT query_id, CAST((i - 1) // (len(v) // 4) AS INT) AS sub,
         CAST((i - 1) % (len(v) // 4) AS INT) AS j, x
  FROM (SELECT query_id, v, unnest(v) AS x,
               unnest(generate_series(1, len(v))) AS i FROM qs)
  WHERE (i - 1) // (len(v) // 4) < 4
),
lut AS (
  SELECT q.query_id, m.sub, m.code,
         c.csq - 2 * sum(q.x * m.c) AS part
  FROM qsx q JOIN m1 m ON m.sub = q.sub AND m.j = q.j
  JOIN csq1 c ON c.sub = m.sub AND c.code = m.code
  GROUP BY q.query_id, m.sub, m.code, c.csq
),
scored AS (
  SELECT l.query_id, enc.vec_id AS neighbor_id,
         any_value(q.qsq) + sum(l.part) AS adc
  FROM enc JOIN lut l ON l.sub = enc.sub AND l.code = enc.code
  JOIN qsq q ON q.query_id = l.query_id
  WHERE enc.vec_id != l.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rank AS BIGINT) AS rank, round(adc, 4) + 0.0 AS adc
FROM ranked WHERE rank <= 5
"""

QUERIES["pq_adc_topk"] = q_pq_adc_topk
ORACLES["pq_adc_topk"] = SQL_PQ_ADC_TOPK


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dup pairs (Manku et al. 2007): banded
    4x16-bit candidate join + bit_count(xor) verification on the Spark
    side; the oracle recomputes the signatures and brute-forces all
    pairs (the oracle may be O(n^2) — the engine may not). The stock
    corpus's small shared vocabulary correlates signatures, so the
    d<=3 ball is naturally non-empty (18 pairs at sf0.01)."""
    from .operators.dedup import simhash_neardup_pairs

    out = simhash_neardup_pairs(_documents(spark, sf_dir), max_hamming=3)
    return out.select(
        F.col("doc_a").cast("bigint").alias("doc_a"),
        F.col("doc_b").cast("bigint").alias("doc_b"),
        F.col("hamming").cast("bigint").alias("hamming"),
    )


SQL_SIMHASH_NEARDUP = f"""
WITH sig AS MATERIALIZED (
{SQL_SIMHASH}
)
SELECT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b,
       CAST(bit_count(xor(a.simhash_lo, b.simhash_lo))
          + bit_count(xor(a.simhash_hi, b.simhash_hi)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash_lo, b.simhash_lo))
    + bit_count(xor(a.simhash_hi, b.simhash_hi)) <= 3
"""

QUERIES["simhash_neardup"] = q_simhash_neardup
ORACLES["simhash_neardup"] = SQL_SIMHASH_NEARDUP


def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (Jegou et al. 2011 §IV) — the full warehouse ANN
    composition: L2-k-means coarse quantizer (= the PQ Lloyd chain with
    m=1: 16 cells), ONE product quantizer trained on the coarse
    residuals, per-(query, probed-cell) asymmetric distance tables,
    nprobe=2. The oracle replays the entire chain — coarse Lloyd,
    residuals, residual-PQ Lloyd, and the ADC sum — through the same
    parameterized SQL chain, twice."""
    from .operators.similarity import ivf_pq_topk

    emb = _embeddings(spark, sf_dir).filter(F.size("embedding") > 0)
    out = ivf_pq_topk(emb, F.col("vec_id") % 50 == 0, k_neighbors=5)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("rank"),
        F.col("adc"),
    )


SQL_IVF_PQ_TOPK = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE len(embedding) > 0
),
ex AS MATERIALIZED (
  SELECT vec_id, unnest(v) AS x,
         unnest(generate_series(1, len(v))) AS i
  FROM e
),
-- coarse L2 k-means = the PQ chain with ONE subspace (m=1, 16 cells)
csx AS (SELECT vec_id, CAST(0 AS INT) AS sub, CAST(i - 1 AS INT) AS j, x FROM ex),
{_sql_pq_chain("csx", "c")},
home AS (SELECT vec_id, code AS cluster FROM cenc),
-- coarse residuals (tall)
rx AS MATERIALIZED (
  SELECT ex.vec_id, h.cluster, ex.i, ex.x - m.c AS x
  FROM ex JOIN home h USING (vec_id)
  JOIN cm1 m ON m.sub = 0 AND m.code = h.cluster AND m.j = ex.i - 1
),
dims AS (SELECT vec_id, max(i) AS n FROM ex GROUP BY 1),
psx AS MATERIALIZED (
  SELECT rx.vec_id, CAST((rx.i - 1) // (d.n // 4) AS INT) AS sub,
         CAST((rx.i - 1) % (d.n // 4) AS INT) AS j, rx.x
  FROM rx JOIN dims d USING (vec_id)
  WHERE (rx.i - 1) // (d.n // 4) < 4
),
{_sql_pq_chain("psx", "p")},
-- queries: nprobe=2 probed cells by the trained-coarse objective
qprob AS (
  SELECT vec_id AS query_id, code AS cluster FROM (
    SELECT s1.vec_id, s1.code,
           row_number() OVER (PARTITION BY s1.vec_id
                              ORDER BY s1.dot - c.csq / 2 DESC, s1.code ASC) AS rn
    FROM cs1 s1 JOIN ccsq1 c ON c.sub = s1.sub AND c.code = s1.code
    WHERE s1.vec_id % 50 = 0
  ) WHERE rn <= 2
),
qres AS MATERIALIZED (
  SELECT qp.query_id, qp.cluster, ex.i, ex.x - m.c AS x
  FROM qprob qp JOIN ex ON ex.vec_id = qp.query_id
  JOIN cm1 m ON m.sub = 0 AND m.code = qp.cluster AND m.j = ex.i - 1
),
qsq AS (SELECT query_id, cluster, sum(x * x) AS qsq FROM qres GROUP BY 1, 2),
qsx AS (
  SELECT qres.query_id, qres.cluster,
         CAST((qres.i - 1) // (d.n // 4) AS INT) AS sub,
         CAST((qres.i - 1) % (d.n // 4) AS INT) AS j, qres.x
  FROM qres JOIN dims d ON d.vec_id = qres.query_id
  WHERE (qres.i - 1) // (d.n // 4) < 4
),
lut AS (
  SELECT q.query_id, q.cluster, m.sub, m.code,
         c.csq - 2 * sum(q.x * m.c) AS part
  FROM qsx q JOIN pm1 m ON m.sub = q.sub AND m.j = q.j
  JOIN pcsq1 c ON c.sub = m.sub AND c.code = m.code
  GROUP BY q.query_id, q.cluster, m.sub, m.code, c.csq
),
scored AS (
  SELECT l.query_id, penc.vec_id AS neighbor_id,
         any_value(s.qsq) + sum(l.part) AS adc
  FROM penc
  JOIN home h ON h.vec_id = penc.vec_id
  JOIN lut l ON l.cluster = h.cluster AND l.sub = penc.sub AND l.code = penc.code
  JOIN qsq s ON s.query_id = l.query_id AND s.cluster = l.cluster
  WHERE penc.vec_id != l.query_id
  GROUP BY 1, 2
),
final AS (
  SELECT query_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rank AS BIGINT) AS rank, round(adc, 4) + 0.0 AS adc
FROM final WHERE rank <= 5
"""

QUERIES["ivf_pq_topk"] = q_ivf_pq_topk
ORACLES["ivf_pq_topk"] = SQL_IVF_PQ_TOPK


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: a 6-hour per-user timestamp grid against the latest
    event at-or-before each grid point. The Spark side is the
    union+keyed-window formulation (ONE exchange, no range join); the
    oracle is DuckDB's NATIVE ASOF LEFT JOIN — an independent
    implementation of the operator, not a replay of ours."""
    from .operators.rollup import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.unix_timestamp("ts").alias("sec"),
        "value",
    )
    right = ev.groupBy("user_id", "sec").agg(F.max("value").alias("value"))
    rng = ev.groupBy("user_id").agg(
        (F.ceil(F.min("sec") / 21600.0).cast("bigint") * 21600).alias("lo"),
        F.max("sec").alias("hi"),
    )
    left = rng.filter(F.col("lo") <= F.col("hi")).select(
        "user_id", F.explode(F.sequence("lo", "hi", F.lit(21600))).alias("sec")
    )
    out = asof_join(left, right, on="sec", by=("user_id",), right_cols=("value",))
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("sec").cast("bigint").alias("sec"),
        F.col("sec_right").cast("bigint").alias("sec_right"),
        F.col("value_right"),
    )


SQL_ASOF_JOIN = r"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events
),
r AS (SELECT user_id, sec, max(value) AS value FROM ev GROUP BY 1, 2),
rng AS (
  SELECT user_id, CAST(ceil(min(sec) / 21600.0) AS BIGINT) * 21600 AS lo,
         max(sec) AS hi
  FROM ev GROUP BY 1
),
l AS (
  SELECT user_id, unnest(generate_series(lo, hi, 21600)) AS sec
  FROM rng WHERE lo <= hi
)
SELECT CAST(l.user_id AS BIGINT) AS user_id, CAST(l.sec AS BIGINT) AS sec,
       CAST(r.sec AS BIGINT) AS sec_right, r.value AS value_right
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.sec >= r.sec
"""

QUERIES["asof_join"] = q_asof_join
ORACLES["asof_join"] = SQL_ASOF_JOIN


def q_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014) of each user's event
    series into 6-hour buckets: the four shape-preserving points
    (first/last/min/max, with positions) per bucket — one combinable
    groupBy, the rollup engine's visualization-grade downsample."""
    from .operators.rollup import m4_downsample

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id"), F.unix_timestamp("ts").alias("sec"), F.col("value")
    )
    out = m4_downsample(ev, 21600, key_col="user_id", pos_col="sec")
    cols = [
        "first_pos", "first_value", "last_pos", "last_value",
        "min_pos", "min_value", "max_pos", "max_value",
    ]
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        *[
            F.col(c).cast("bigint").alias(c) if c.endswith("_pos") else F.col(c)
            for c in cols
        ],
        F.col("n").cast("bigint").alias("n"),
    )


SQL_M4_DOWNSAMPLE = r"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events
),
b AS (SELECT user_id, sec // 21600 AS bucket, sec, value FROM ev),
agg AS (
  SELECT user_id, bucket,
         min(struct_pack(p := sec, v := value)) AS fst,
         max(struct_pack(p := sec, v := value)) AS lst,
         min(struct_pack(v := value, p := sec)) AS mn,
         max(struct_pack(v := value, p := sec)) AS mx,
         count(*) AS n
  FROM b GROUP BY 1, 2
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(fst.p AS BIGINT) AS first_pos, fst.v AS first_value,
       CAST(lst.p AS BIGINT) AS last_pos, lst.v AS last_value,
       CAST(mn.p AS BIGINT) AS min_pos, mn.v AS min_value,
       CAST(mx.p AS BIGINT) AS max_pos, mx.v AS max_value,
       CAST(n AS BIGINT) AS n
FROM agg
"""

QUERIES["m4_downsample"] = q_m4_downsample
ORACLES["m4_downsample"] = SQL_M4_DOWNSAMPLE


def q_rollup_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-bucket p50/p95 continuous-aggregate columns over each
    user's event series (6-hour buckets), r6-rounded on both engines
    (the interpolation arithmetic is the SQL-standard percentile_cont
    on both; rounding absorbs summation-order ulp)."""
    from .operators.rollup import rollup_percentiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id"), F.unix_timestamp("ts").alias("sec"), F.col("value")
    )
    out = rollup_percentiles(ev, 21600, key_col="user_id", pos_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        (F.round("p50", 6) + F.lit(0.0)).alias("p50"),
        (F.round("p95", 6) + F.lit(0.0)).alias("p95"),
        F.col("n").cast("bigint").alias("n"),
    )


SQL_ROLLUP_PERCENTILES = r"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events
),
b AS (SELECT user_id, sec // 21600 AS bucket, value FROM ev)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(bucket AS BIGINT) AS bucket,
       round(quantile_cont(value, 0.5), 6) + 0.0 AS p50,
       round(quantile_cont(value, 0.95), 6) + 0.0 AS p95,
       CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY 1, 2
"""

QUERIES["rollup_percentiles"] = q_rollup_percentiles
ORACLES["rollup_percentiles"] = SQL_ROLLUP_PERCENTILES


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization of the event stream (2-hour gap):
    per (user, session) start/end/count/duration — lag+cumsum window
    plus a groupBy whose keys extend the window's partitioning, so the
    whole operator is ONE exchange (plan-pinned)."""
    from .operators.rollup import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id"), F.unix_timestamp("ts").alias("sec")
    )
    out = sessionize(ev, 7200, key_col="user_id", ts_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("session_idx").cast("bigint").alias("session_idx"),
        F.col("session_start").cast("bigint").alias("session_start"),
        F.col("session_end").cast("bigint").alias("session_end"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("duration").cast("bigint").alias("duration"),
    )


SQL_SESSIONIZE = r"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
),
flagged AS (
  SELECT user_id, sec,
         CASE WHEN lag(sec) OVER w IS NULL
                OR sec - lag(sec) OVER w > 7200 THEN 1 ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec)
),
idx AS (
  SELECT user_id, sec,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY sec
                          ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
  FROM flagged
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(session_idx AS BIGINT) AS session_idx,
       CAST(min(sec) AS BIGINT) AS session_start,
       CAST(max(sec) AS BIGINT) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(sec) - min(sec) AS BIGINT) AS duration
FROM idx GROUP BY 1, 2
"""

QUERIES["sessionize"] = q_sessionize
ORACLES["sessionize"] = SQL_SESSIONIZE


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over the event stream: daily cohorts by
    first activity, distinct-user counts per (cohort, age-in-days),
    retention rate r6 (an exact integer ratio — no summation order)."""
    from .operators.rollup import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id"), F.unix_timestamp("ts").alias("sec")
    )
    out = cohort_retention(ev, 86400, key_col="user_id", ts_col="sec")
    return out.select(
        F.col("cohort").cast("bigint").alias("cohort"),
        F.col("age").cast("bigint").alias("age"),
        F.col("active_users").cast("bigint").alias("active_users"),
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        F.col("retention"),
    )


SQL_COHORT_RETENTION = r"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
),
acts AS (SELECT DISTINCT user_id, sec // 86400 AS b FROM ev),
first AS (SELECT user_id, min(b) AS cohort FROM acts GROUP BY 1),
cells AS (
  SELECT f.cohort, a.b - f.cohort AS age, count(DISTINCT a.user_id) AS active_users
  FROM acts a JOIN first f USING (user_id)
  GROUP BY 1, 2
),
sizes AS (SELECT cohort, count(DISTINCT user_id) AS cohort_size FROM first GROUP BY 1)
SELECT CAST(c.cohort AS BIGINT) AS cohort, CAST(c.age AS BIGINT) AS age,
       CAST(c.active_users AS BIGINT) AS active_users,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       round(c.active_users / s.cohort_size, 6) AS retention
FROM cells c JOIN sizes s USING (cohort)
"""

QUERIES["cohort_retention"] = q_cohort_retention
ORACLES["cohort_retention"] = SQL_COHORT_RETENTION


def q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style counter increase/rate per (user, 6h bucket) with
    reset handling, over a synthetic monotonic-with-resets counter
    derived from the events (cumulative |value| per user, reset to the
    sample value every 16th event by event_id)."""
    from pyspark.sql.window import Window as W

    from .operators.rollup import counter_rate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"),
        F.abs("value").alias("av"), "event_id",
    )
    wseq = W.partitionBy("user_id").orderBy("sec", "event_id")
    grp = F.sum((F.col("event_id") % 16 == 0).cast("int")).over(wseq)
    counter = ev.withColumn("_g", grp).withColumn(
        "value",
        F.round(F.sum("av").over(
            W.partitionBy("user_id", "_g").orderBy("sec", "event_id")
            .rowsBetween(W.unboundedPreceding, 0)
        ), 6),
    )
    out = counter_rate(counter, 21600, key_col="user_id", ts_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        (F.col("increase") + F.lit(0.0)).alias("increase"),
        (F.col("rate") + F.lit(0.0)).alias("rate"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
    )


SQL_COUNTER_RATE = r"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         abs(value) AS av, event_id
  FROM events
),
g AS (
  SELECT *, sum(CASE WHEN event_id % 16 = 0 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY sec, event_id) AS grp
  FROM ev
),
counter AS (
  SELECT user_id, sec,
         round(sum(av) OVER (PARTITION BY user_id, grp ORDER BY sec, event_id
                             ROWS UNBOUNDED PRECEDING), 6) AS v
  FROM g
),
inc AS (
  SELECT user_id, sec // 21600 AS bucket,
         CASE WHEN lag(v) OVER w IS NULL THEN 0.0
              WHEN v >= lag(v) OVER w THEN v - lag(v) OVER w
              ELSE v END AS i
  FROM counter WINDOW w AS (PARTITION BY user_id ORDER BY sec, v)
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(bucket AS BIGINT) AS bucket,
       round(sum(i), 6) + 0.0 AS increase,
       round(sum(i), 6) / 21600 + 0.0 AS rate,
       CAST(count(*) AS BIGINT) AS n_samples
FROM inc GROUP BY 1, 2
"""

QUERIES["counter_rate"] = q_counter_rate
ORACLES["counter_rate"] = SQL_COUNTER_RATE


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's event value per 6h bucket
    (LOCF clipped to the point's own bucket — the documented contract)."""
    from .operators.rollup import time_weighted_avg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = time_weighted_avg(ev, 21600, key_col="user_id", ts_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        (F.col("twa") + F.lit(0.0)).alias("twa"),
        (F.col("covered") + F.lit(0.0)).alias("covered"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
    )


SQL_TIME_WEIGHTED_AVG = r"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events
),
led AS (
  SELECT user_id, sec, value,
         lead(sec) OVER (PARTITION BY user_id ORDER BY sec, value) AS nxt
  FROM ev
),
dt AS (
  SELECT user_id, sec // 21600 AS bucket, value,
         CAST(least(coalesce(nxt, (sec // 21600 + 1) * 21600),
                    (sec // 21600 + 1) * 21600) - sec AS DOUBLE) AS d
  FROM led
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(bucket AS BIGINT) AS bucket,
       round(sum(value * d) / nullif(sum(d), 0.0), 6) + 0.0 AS twa,
       round(sum(d), 6) + 0.0 AS covered,
       CAST(count(*) AS BIGINT) AS n_samples
FROM dt GROUP BY 1, 2
"""

QUERIES["time_weighted_avg"] = q_time_weighted_avg
ORACLES["time_weighted_avg"] = SQL_TIME_WEIGHTED_AVG


def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user autocorrelation at lags 1-3 over the event values in
    observation order (r6 both engines; -0.0 normalized)."""
    from .operators.rollup import acf

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = acf(ev, lags=(1, 2, 3), key_col="user_id", ts_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        (F.col("acf_1") + F.lit(0.0)).alias("acf_1"),
        (F.col("acf_2") + F.lit(0.0)).alias("acf_2"),
        (F.col("acf_3") + F.lit(0.0)).alias("acf_3"),
        F.col("n").cast("bigint").alias("n"),
    )


SQL_ACF = r"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events
),
led AS (
  SELECT user_id, value,
         lead(value, 1) OVER w AS l1,
         lead(value, 2) OVER w AS l2,
         lead(value, 3) OVER w AS l3
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, value)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       round((count(l1) * sum(CASE WHEN l1 IS NOT NULL THEN value END * l1)
              - sum(CASE WHEN l1 IS NOT NULL THEN value END) * sum(l1))
             / nullif(sqrt(greatest(count(l1) * sum(CASE WHEN l1 IS NOT NULL THEN value END * CASE WHEN l1 IS NOT NULL THEN value END) - sum(CASE WHEN l1 IS NOT NULL THEN value END) ^ 2, 0.0))
                    * sqrt(greatest(count(l1) * sum(l1 * l1) - sum(l1) ^ 2, 0.0)), 0.0), 6) + 0.0 AS acf_1,
       round((count(l2) * sum(CASE WHEN l2 IS NOT NULL THEN value END * l2)
              - sum(CASE WHEN l2 IS NOT NULL THEN value END) * sum(l2))
             / nullif(sqrt(greatest(count(l2) * sum(CASE WHEN l2 IS NOT NULL THEN value END * CASE WHEN l2 IS NOT NULL THEN value END) - sum(CASE WHEN l2 IS NOT NULL THEN value END) ^ 2, 0.0))
                    * sqrt(greatest(count(l2) * sum(l2 * l2) - sum(l2) ^ 2, 0.0)), 0.0), 6) + 0.0 AS acf_2,
       round((count(l3) * sum(CASE WHEN l3 IS NOT NULL THEN value END * l3)
              - sum(CASE WHEN l3 IS NOT NULL THEN value END) * sum(l3))
             / nullif(sqrt(greatest(count(l3) * sum(CASE WHEN l3 IS NOT NULL THEN value END * CASE WHEN l3 IS NOT NULL THEN value END) - sum(CASE WHEN l3 IS NOT NULL THEN value END) ^ 2, 0.0))
                    * sqrt(greatest(count(l3) * sum(l3 * l3) - sum(l3) ^ 2, 0.0)), 0.0), 6) + 0.0 AS acf_3,
       CAST(count(*) AS BIGINT) AS n
FROM led GROUP BY 1
"""

QUERIES["acf"] = q_acf
ORACLES["acf"] = SQL_ACF


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (alpha=0.2) of each user's event values; the oracle replays
    the closed form — sum of alpha(1-alpha)^(i-j) weights — against the
    kernel's recurrence (drift ~1e-14, r6-absorbed)."""
    from .operators.rollup import ewma_smooth

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = ewma_smooth(ev, alpha=0.2, key_col="user_id", ts_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("sec").cast("bigint").alias("sec"),
        (F.col("ewma") + F.lit(0.0)).alias("ewma"),
    )


SQL_EWMA = r"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events
),
idx AS (
  SELECT user_id, sec, value,
         row_number() OVER (PARTITION BY user_id ORDER BY sec, value) - 1 AS i
  FROM ev
),
sm AS (
  SELECT a.user_id, a.i, a.sec,
         round_even(sum(CASE WHEN b.i = 0 THEN pow(0.8, a.i) * b.value
                        ELSE 0.2 * pow(0.8, a.i - b.i) * b.value END), 6) + 0.0 AS ewma
  FROM idx a JOIN idx b ON b.user_id = a.user_id AND b.i <= a.i
  GROUP BY 1, 2, 3
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(sec AS BIGINT) AS sec, ewma
FROM sm
"""

QUERIES["ewma"] = q_ewma
ORACLES["ewma"] = SQL_EWMA


def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Low-frequency DFT power spectrum (k=1..8, n^2-normalized) of each
    user's event series; the oracle computes the naive trig sums in SQL
    against the kernel's rfft (drift ~1e-12 relative, r6-absorbed)."""
    from .operators.rollup import periodogram

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = periodogram(ev, k_max=8, key_col="user_id", ts_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("k").cast("bigint").alias("k"),
        (F.col("power") + F.lit(0.0)).alias("power"),
    )


SQL_PERIODOGRAM = r"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events
),
idx AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY sec, value) - 1 AS i,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM ev
),
ks AS (SELECT unnest(generate_series(1, 8)) AS k),
spec AS (
  SELECT idx.user_id, ks.k, any_value(idx.n) AS n,
         sum(idx.value * cos(2 * pi() * ks.k * idx.i / idx.n)) AS re,
         sum(idx.value * sin(2 * pi() * ks.k * idx.i / idx.n)) AS im
  FROM idx JOIN ks ON ks.k <= idx.n // 2
  GROUP BY 1, 2
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(k AS BIGINT) AS k,
       round_even((re * re + im * im) / (CAST(n AS DOUBLE) * n), 6) + 0.0 AS power
FROM spec
"""

QUERIES["periodogram"] = q_periodogram
ORACLES["periodogram"] = SQL_PERIODOGRAM


def q_rollup_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, 6h bucket) least-squares value trend, explicit normal
    equations with x recentered to the bucket origin (cancellation-safe
    at epoch magnitudes), NULLIF'd denominator, r6 both engines."""
    from .operators.rollup import rollup_trend

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = rollup_trend(ev, 21600, key_col="user_id", pos_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("slope"),
        F.col("intercept"),
        F.col("n").cast("bigint").alias("n"),
    )


SQL_ROLLUP_TREND = r"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events
),
b AS (
  SELECT user_id, sec // 21600 AS bucket,
         CAST(sec - (sec // 21600) * 21600 AS DOUBLE) AS x,
         CAST(value AS DOUBLE) AS y
  FROM ev
),
agg AS (
  SELECT user_id, bucket, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM b GROUP BY 1, 2
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(bucket AS BIGINT) AS bucket,
       round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0), 6) + 0.0 AS slope,
       round((sy - ((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0)) * sx) / n, 6) + 0.0 AS intercept,
       CAST(n AS BIGINT) AS n
FROM agg
"""

QUERIES["rollup_trend"] = q_rollup_trend
ORACLES["rollup_trend"] = SQL_ROLLUP_TREND


def q_rollup_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bin value histogram per (user, 6h bucket) over [-5, 5) —
    integer-only mergeable distribution columns."""
    from .operators.rollup import rollup_histogram

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = rollup_histogram(ev, 21600, lo=-5.0, hi=5.0, n_bins=16,
                           key_col="user_id", pos_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("bin").cast("bigint").alias("bin"),
        F.col("cnt").cast("bigint").alias("cnt"),
    )


SQL_ROLLUP_HISTOGRAM = r"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events
),
b AS (
  SELECT user_id, sec // 21600 AS bucket,
         least(greatest(CAST(floor((CAST(value AS DOUBLE) - (-5.0)) / 0.625) AS BIGINT), 0), 15) AS bin
  FROM ev
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS cnt
FROM b GROUP BY 1, 2, 3
"""

QUERIES["rollup_histogram"] = q_rollup_histogram
ORACLES["rollup_histogram"] = SQL_ROLLUP_HISTOGRAM


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plumbing (every_n=10 over the stub
    splitter): the oracle replays the sampling SCHEDULE — frame count
    and per-frame byte lengths, a pure function of the payload length —
    since DuckDB cannot slice blobs; frame BYTES equality is pytest-
    gated (test_multimodal)."""
    from .operators.multimodal import frame_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    frames = frame_sample(media, every_n=10)
    return frames.select(
        "media_id",
        F.col("frame_no").cast("bigint").alias("frame_no"),
        F.length("frame_bytes").cast("bigint").alias("frame_len"),
    )


SQL_FRAME_SAMPLE = r"""
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         octet_length(encode(text)) AS len,
         greatest(octet_length(encode(text)) // 32, 1) AS chunk
  FROM documents
),
frames AS (
  SELECT media_id, CAST(i AS BIGINT) AS frame_no,
         least(chunk, len - i * chunk * 10) AS frame_len
  FROM m, unnest(generate_series(0, CAST(ceil(len / (chunk * 10.0)) AS BIGINT) - 1)) AS u(i)
)
SELECT media_id, frame_no, CAST(frame_len AS BIGINT) AS frame_len FROM frames
"""

QUERIES["frame_sample"] = q_frame_sample
ORACLES["frame_sample"] = SQL_FRAME_SAMPLE


def q_duplication_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplication rate (RefinedWeb corpus-health metric)
    over word 3-gram shingles, with every 9th doc replaced by a shared
    boilerplate text so the metric has planted mass at 1.0."""
    from .operators.dedup import duplication_rate

    d = _documents(spark, sf_dir)
    docs = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 9 == 0, F.lit("repeated boilerplate text occurs in many documents"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = duplication_rate(docs, n=3)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_duplicated").cast("bigint").alias("n_duplicated"),
        F.col("dup_rate"),
    )


SQL_DUPLICATION_RATE = r"""
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 0
              THEN 'repeated boilerplate text occurs in many documents'
              ELSE text END AS text
  FROM documents
),
norm AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
  FROM src
),
sh AS (
  SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i + 1], w[i + 2]) AS shingle
  FROM norm, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS u(i)
  WHERE length(concat_ws(' ', w[i], w[i + 1], w[i + 2])) > 0
),
freq AS (SELECT shingle, count(DISTINCT doc_id) AS docs FROM sh GROUP BY 1),
per_doc AS (
  SELECT sh.doc_id, count(*) AS n_shingles,
         sum(CASE WHEN f.docs > 1 THEN 1 ELSE 0 END) AS n_duplicated
  FROM sh JOIN freq f USING (shingle)
  GROUP BY 1
)
SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(p.n_duplicated, 0) AS BIGINT) AS n_duplicated,
       round(COALESCE(p.n_duplicated, 0) / nullif(CAST(COALESCE(p.n_shingles, 0) AS DOUBLE), 0.0), 6) AS dup_rate
FROM src s LEFT JOIN per_doc p ON p.doc_id = s.doc_id
"""

QUERIES["duplication_rate"] = q_duplication_rate
ORACLES["duplication_rate"] = SQL_DUPLICATION_RATE


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (statsmodels
    seasonal_decompose's moving-average method) per event_type over
    hourly buckets with a daily period: per-phase detrended sums in
    EXACT integer 48-nano units (one r9 fp rounding at the bucket mean,
    then bigint arithmetic end-to-end — no r6 lattice boundary for the
    hash; seasonal index = d48_sum/(nb·48e9), centered)."""
    from .operators.rollup import seasonal_decompose

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = seasonal_decompose(
        ev, period=24, bucket_sec=3600, key_col="event_type", ts_col="sec"
    )
    return out.select(
        "event_type",
        F.col("phase").cast("bigint").alias("phase"),
        F.col("nb").cast("bigint").alias("nb"),
        F.col("d48_sum").cast("bigint").alias("d48_sum"),
    )


SQL_SEASONAL_DECOMPOSE = r"""
WITH b AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
         CAST(round(round(avg(value), 9) * 1e9) AS BIGINT) AS bu
  FROM events GROUP BY 1, 2
),
tr AS (
  SELECT key, bucket, bu,
         CASE WHEN count(bu) OVER w = 25
              THEN 2 * sum(bu) OVER w
                   - lag(bu, 12) OVER wo - lead(bu, 12) OVER wo END AS tnum
  FROM b
  WINDOW w AS (PARTITION BY key ORDER BY bucket
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING),
         wo AS (PARTITION BY key ORDER BY bucket)
)
SELECT key AS event_type, CAST(bucket % 24 AS BIGINT) AS phase,
       CAST(count(48 * bu - tnum) AS BIGINT) AS nb,
       CAST(sum(48 * bu - tnum) AS BIGINT) AS d48_sum
FROM tr GROUP BY 1, 2
"""

QUERIES["seasonal_decompose"] = q_seasonal_decompose
ORACLES["seasonal_decompose"] = SQL_SEASONAL_DECOMPOSE


def q_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between the hourly click and error value series
    at lags 0-6 ("do errors follow clicks?"): bucket means r9, explicit
    ANSI-safe co-moment correlation over buckets where both sides are
    present, r6. On inputs lacking either type the whole series is
    empty and every lag row is (lag, NULL, 0) on both engines."""
    from .operators.rollup import ccf

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = ccf(ev, "click", "error", lags=(0, 1, 2, 3, 4, 5, 6), ts_col="sec")
    return out.select(
        F.col("lag").cast("bigint").alias("lag"),
        (F.col("ccf") + F.lit(0.0)).alias("ccf"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
    )


def _ccf_oracle_sql(lags: tuple[int, ...]) -> str:
    leads = ",\n         ".join(
        f"lead(b, {k}) OVER (ORDER BY bucket) AS b{k}" for k in lags
    )
    pairs = ",\n         ".join(
        f"CASE WHEN a IS NOT NULL AND b{k} IS NOT NULL THEN a END AS x{k},\n"
        f"         CASE WHEN a IS NOT NULL AND b{k} IS NOT NULL THEN b{k} END AS y{k}"
        for k in lags
    )
    aggs = ",\n       ".join(
        f"round((count(y{k}) * sum(x{k} * y{k}) - sum(x{k}) * sum(y{k}))\n"
        f"             / nullif(sqrt(greatest(count(y{k}) * sum(x{k} * x{k}) - sum(x{k}) ^ 2, 0.0))\n"
        f"                    * sqrt(greatest(count(y{k}) * sum(y{k} * y{k}) - sum(y{k}) ^ 2, 0.0)), 0.0), 6) + 0.0 AS r{k},\n"
        f"       CAST(count(y{k}) AS BIGINT) AS n{k}"
        for k in lags
    )
    unpivot = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS lag, r{k} AS ccf, n{k} AS n_pairs FROM c"
        for k in lags
    )
    return f"""
WITH b AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
         round(avg(CASE WHEN event_type = 'click' THEN value END), 9) AS a,
         round(avg(CASE WHEN event_type = 'error' THEN value END), 9) AS b
  FROM events WHERE event_type IN ('click', 'error') GROUP BY 1
),
led AS (
  SELECT a,
         {leads}
  FROM b
),
pairs AS (
  SELECT {pairs}
  FROM led
),
c AS (
  SELECT {aggs}
  FROM pairs
)
{unpivot}
"""


SQL_CCF = _ccf_oracle_sql((0, 1, 2, 3, 4, 5, 6))

QUERIES["ccf"] = q_ccf
ORACLES["ccf"] = SQL_CCF


def q_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB downsampling (Steinarsson 2013 / TimescaleDB lttb) of each
    user's event series to 20 points; series with n <= 20 pass through.
    Integer-x triangle areas in identical operand order both engines,
    y bucket means r9 (np.round half-even = DuckDB round_even), argmax
    ties to the lowest index. Formulation validated numpy-vs-CTE before
    the oracle was written."""
    from .operators.rollup import lttb_downsample

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = lttb_downsample(ev, k=20, key_col="user_id", ts_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("sec").cast("bigint").alias("sec"),
        (F.col("value") + F.lit(0.0)).alias("value"),
    )


def _lttb_oracle_sql(k: int) -> str:
    area = (
        "list_transform(c.cands, e -> abs((p.sx - c.anx) * (e.y - p.sy)"
        " - (p.sx - e.x) * (c.ayn - p.sy)))"
    )
    sel = f"c.cands[list_position({area}, list_aggregate({area}, 'max'))]"
    return f"""
WITH RECURSIVE ev AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value AS y
  FROM events
),
idx AS (
  SELECT key, sec, y,
         row_number() OVER (PARTITION BY key ORDER BY sec, y) - 1 AS i,
         count(*) OVER (PARTITION BY key) AS n
  FROM ev
),
small AS (SELECT key, CAST(i AS BIGINT) AS rank, sec, y FROM idx WHERE n <= {k}),
big AS MATERIALIZED (SELECT * FROM idx WHERE n > {k}),
inner_p AS MATERIALIZED (
  SELECT key, sec, y, i, (i - 1) * {k - 2} // (n - 2) AS b
  FROM big WHERE i >= 1 AND i <= n - 2
),
bavg AS (
  SELECT key, b, CAST(sum(sec) AS DOUBLE) / count(*) AS ax,
         round_even(avg(y), 9) AS ay
  FROM inner_p GROUP BY 1, 2
),
lastp AS (SELECT key, sec AS lx, y AS ly FROM big WHERE i = n - 1),
firstp AS (SELECT key, sec AS fx, y AS fy FROM big WHERE i = 0),
bcand AS MATERIALIZED (
  SELECT p.key, p.b,
         list(struct_pack(i := p.i, x := p.sec, y := p.y) ORDER BY p.i) AS cands,
         coalesce(nx.ax, l.lx) AS anx, coalesce(nx.ay, l.ly) AS ayn
  FROM inner_p p
  LEFT JOIN bavg nx ON nx.key = p.key AND nx.b = p.b + 1
  JOIN lastp l ON l.key = p.key
  GROUP BY p.key, p.b, nx.ax, nx.ay, l.lx, l.ly
),
pick(key, b, sx, sy) AS (
  SELECT key, -1, CAST(fx AS DOUBLE), fy FROM firstp
  UNION ALL
  SELECT p.key, p.b + 1, CAST({sel}.x AS DOUBLE), {sel}.y
  FROM pick p JOIN bcand c ON c.key = p.key AND c.b = p.b + 1
),
sel AS (
  SELECT key, CAST(b + 1 AS BIGINT) AS rank, CAST(sx AS BIGINT) AS sec, sy AS y
  FROM pick WHERE b >= 0
  UNION ALL
  SELECT key, CAST(0 AS BIGINT) AS rank, fx, fy FROM firstp
  UNION ALL
  SELECT key, CAST({k - 1} AS BIGINT) AS rank, lx, ly FROM lastp
)
SELECT CAST(key AS BIGINT) AS user_id, rank, sec, y + 0.0 AS value FROM sel
UNION ALL
SELECT CAST(key AS BIGINT) AS user_id, rank, sec, y + 0.0 AS value FROM small
"""


SQL_LTTB = _lttb_oracle_sql(20)

QUERIES["lttb"] = q_lttb
ORACLES["lttb"] = SQL_LTTB


def q_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic discretization (Lin et al. 2003) of each user's
    event-value series: z-normalize (r9 mean, RECENTERED two-pass r9
    sd), PAA into 16 index segments, map to a 4-symbol alphabet via the
    standard-normal breakpoints. Low-variance series (engine-wide
    lowvar rule) emit NULL symbols. Integer-only output."""
    from .operators.series import sax_symbols

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    # pos must be unique per key for the index map: tie-break equal
    # timestamps by value (both engines sort (sec, value))
    out = sax_symbols(ev, w=16, a=4, key_col="user_id", pos_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("seg").cast("bigint").alias("seg"),
        F.col("symbol").cast("bigint").alias("symbol"),
        F.col("npts").cast("bigint").alias("npts"),
    )


SQL_SAX = r"""
WITH ev AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value AS v
  FROM events
),
idx AS (
  SELECT key, v,
         row_number() OVER (PARTITION BY key ORDER BY sec, v) - 1 AS i,
         count(*) OVER (PARTITION BY key) AS n,
         round(avg(v) OVER (PARTITION BY key), 9) AS mu
  FROM ev
),
stats AS (
  SELECT key, round(sqrt(sum((v - mu) * (v - mu)) / count(v)), 9) AS sd,
         max(mu) AS mu
  FROM idx GROUP BY key
),
paa AS (
  SELECT key, i * 16 // n AS seg, round(avg(v), 9) AS pr, count(v) AS npts
  FROM idx GROUP BY 1, 2
)
SELECT CAST(p.key AS BIGINT) AS user_id, CAST(p.seg AS BIGINT) AS seg,
       CASE WHEN s.sd >= 1e-7 * (abs(s.mu) + 1.0) THEN
         CAST(((p.pr - s.mu) / s.sd > -0.6744897501960817)::INT
            + ((p.pr - s.mu) / s.sd > 0.0)::INT
            + ((p.pr - s.mu) / s.sd > 0.6744897501960817)::INT AS BIGINT)
       END AS symbol,
       CAST(p.npts AS BIGINT) AS npts
FROM paa p JOIN stats s ON s.key = p.key
"""

QUERIES["sax"] = q_sax
ORACLES["sax"] = SQL_SAX


def q_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill with LINEAR INTERPOLATION (the TimescaleDB interpolate
    gapfill function) over each user's hourly bucket means: missing
    buckets get the lerp between the surrounding observed buckets. On
    r9 bucket means the fill is bit-identical cross-engine (exact
    integer fraction, fixed operand order) — no output rounding."""
    from .operators.rollup import gap_fill

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = (
        ev.select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 3600).alias("bucket"),
            "value",
        )
        .groupBy("user_id", "bucket")
        .agg(F.round(F.avg("value"), 9).alias("v"), F.count("*").alias("n"))
    )
    filled = gap_fill(t, key_col="user_id", fill_cols=("v",), interpolate=True)
    return filled.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        (F.col("v") + F.lit(0.0)).alias("v_interp"),
        F.col("gap_filled").cast("int").cast("bigint").alias("gap_filled"),
    )


SQL_GAPFILL_INTERPOLATE = r"""
WITH t AS (
  SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
         round(avg(value), 9) AS v, count(*) AS n
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM t GROUP BY 1),
spine AS (SELECT user_id, unnest(generate_series(lo, hi)) AS bucket FROM bounds),
joined AS (
  SELECT spine.user_id, spine.bucket, t.v, t.n IS NULL AS gap_filled
  FROM spine LEFT JOIN t ON spine.user_id = t.user_id AND spine.bucket = t.bucket
),
ctx AS (
  SELECT user_id, bucket, v, gap_filled,
         last_value(v IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
           OVER wp AS pb,
         first_value(v IGNORE NULLS) OVER wn AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
           OVER wn AS nb
  FROM joined
  WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY user_id ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT CAST(user_id AS BIGINT) AS user_id, bucket,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL
            THEN pv + (nv - pv) * (CAST(bucket - pb AS DOUBLE)
                                   / CAST(nb - pb AS DOUBLE))
       END + 0.0 AS v_interp,
       CAST(gap_filled AS BIGINT) AS gap_filled
FROM ctx
"""

QUERIES["gapfill_interpolate"] = q_gapfill_interpolate
ORACLES["gapfill_interpolate"] = SQL_GAPFILL_INTERPOLATE


def q_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel/MAD robust outlier counts per (user, 6h bucket):
    |v - median| > 3*1.4826*MAD. Median/MAD r9 (both engines type-7
    interpolation), after which the threshold comparison is
    IEEE-identical — no further rounding."""
    from .operators.rollup import hampel_outliers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = hampel_outliers(ev, bucket_sec=21600, key_col="user_id", ts_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        (F.col("med") + F.lit(0.0)).alias("med"),
        (F.col("mad") + F.lit(0.0)).alias("mad"),
        F.col("n").cast("bigint").alias("n"),
        F.col("n_outliers").cast("bigint").alias("n_outliers"),
    )


SQL_HAMPEL_OUTLIERS = r"""
WITH b AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket, value
  FROM events
),
med AS (
  SELECT user_id, bucket, round(quantile_cont(value, 0.5), 9) AS med
  FROM b GROUP BY 1, 2
),
d AS (
  SELECT b.user_id, b.bucket, b.value, m.med
  FROM b JOIN med m ON m.user_id = b.user_id AND m.bucket = b.bucket
),
mad AS (
  SELECT user_id, bucket, round(quantile_cont(abs(value - med), 0.5), 9) AS mad
  FROM d GROUP BY 1, 2
)
SELECT CAST(d.user_id AS BIGINT) AS user_id, CAST(d.bucket AS BIGINT) AS bucket,
       max(d.med) + 0.0 AS med, max(mad.mad) + 0.0 AS mad,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN abs(d.value - d.med) > 3.0 * 1.4826 * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM d JOIN mad ON mad.user_id = d.user_id AND mad.bucket = d.bucket
GROUP BY 1, 2
"""

QUERIES["hampel_outliers"] = q_hampel_outliers
ORACLES["hampel_outliers"] = SQL_HAMPEL_OUTLIERS


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per 6h bucket by exact count (heavy hitters),
    deterministic tie-break (count DESC, type ASC). Integer-only."""
    from .operators.rollup import heavy_hitters

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec")
    )
    out = heavy_hitters(ev, top=3, bucket_sec=21600, ts_col="sec")
    return out.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("rank").cast("bigint").alias("rank"),
        "event_type",
        F.col("cnt").cast("bigint").alias("cnt"),
    )


SQL_HEAVY_HITTERS = r"""
WITH c AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket, event_type,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT bucket, event_type, cnt,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY cnt DESC, event_type ASC) AS rank
  FROM c
)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(rank AS BIGINT) AS rank,
       event_type, CAST(cnt AS BIGINT) AS cnt
FROM r WHERE rank <= 3
"""

QUERIES["heavy_hitters"] = q_heavy_hitters
ORACLES["heavy_hitters"] = SQL_HEAVY_HITTERS


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per (user, 6h bucket): median pairwise
    slope + median residual intercept, x recentered to the bucket
    origin. Both medians are the LOWER median (an actual multiset
    member, DuckDB quantile_disc) so no rounding is needed; pair
    slopes / residuals are exact-operand IEEE on both engines."""
    from .operators.rollup import theil_sen_trend

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = theil_sen_trend(ev, bucket_sec=21600, key_col="user_id", ts_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        (F.col("slope") + F.lit(0.0)).alias("slope"),
        (F.col("intercept") + F.lit(0.0)).alias("intercept"),
        F.col("n").cast("bigint").alias("n"),
    )


SQL_THEIL_SEN = r"""
WITH rows_ AS (
  SELECT user_id AS key,
         CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
         CAST(CAST(floor(epoch(ts)) AS BIGINT)
              - (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600
              AS DOUBLE) AS x,
         value AS v
  FROM events
),
sl AS (
  SELECT a.key, a.bucket,
         quantile_disc((b.v - a.v) / (b.x - a.x), 0.5) AS slope
  FROM rows_ a JOIN rows_ b
    ON b.key = a.key AND b.bucket = a.bucket AND a.x < b.x
  GROUP BY 1, 2
),
ic AS (
  SELECT r.key, r.bucket,
         quantile_disc(r.v - s.slope * r.x, 0.5) AS intercept
  FROM rows_ r LEFT JOIN sl s ON s.key = r.key AND s.bucket = r.bucket
  GROUP BY 1, 2
)
SELECT CAST(n.key AS BIGINT) AS user_id, CAST(n.bucket AS BIGINT) AS bucket,
       s.slope + 0.0 AS slope, ic.intercept + 0.0 AS intercept,
       CAST(n.n AS BIGINT) AS n
FROM (SELECT key, bucket, count(*) AS n FROM rows_ GROUP BY 1, 2) n
JOIN ic ON ic.key = n.key AND ic.bucket = n.bucket
LEFT JOIN sl s ON s.key = n.key AND s.bucket = n.bucket
"""

QUERIES["theil_sen"] = q_theil_sen
ORACLES["theil_sen"] = SQL_THEIL_SEN


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift per user series (target 50, slack 5,
    threshold 500): exact integer micro-unit prefix sums, emitted as
    per-point cusum levels + alarm flag. No rounding anywhere — every
    float output divides identical integers by the same constant on
    both engines."""
    from .operators.rollup import cusum_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = cusum_drift(
        ev, target=50.0, slack=5.0, threshold=500.0, key_col="user_id", ts_col="sec"
    )
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("sec").cast("bigint").alias("sec"),
        "cusum_pos",
        "cusum_neg",
        "alarm",
    )


SQL_CUSUM = r"""
WITH rows_ AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(round(value * 1000000) AS BIGINT) AS vu
  FROM events
),
rsum AS (
  SELECT key, sec, vu,
         sum(vu - 55000000) OVER w AS r_pos,
         sum(45000000 - vu) OVER w AS r_neg
  FROM rows_
  WINDOW w AS (PARTITION BY key ORDER BY sec, vu
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
r AS (
  SELECT key, sec, r_pos, r_neg,
         min(r_pos) OVER w AS m_pos,
         min(r_neg) OVER w AS m_neg
  FROM rsum
  WINDOW w AS (PARTITION BY key ORDER BY sec, vu
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT key AS user_id, sec,
       (r_pos - least(0, m_pos)) / 1000000 AS cusum_pos,
       (r_neg - least(0, m_neg)) / 1000000 AS cusum_neg,
       (r_pos - least(0, m_pos) > 500000000
        OR r_neg - least(0, m_neg) > 500000000) AS alarm
FROM r
"""

QUERIES["cusum"] = q_cusum
ORACLES["cusum"] = SQL_CUSUM


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per (user, 6h bucket): integer-exact S
    over all C(n,2) time-ordered pairs, tie-corrected Var(S),
    continuity-corrected z, tau-a. No rounding — z/tau are single
    identical float expressions over identical integers."""
    from .operators.rollup import mann_kendall

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = mann_kendall(ev, bucket_sec=21600, key_col="user_id", ts_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        "n",
        "s",
        "var_s",
        "z",
        "tau",
    )


SQL_MANN_KENDALL = r"""
WITH rows_ AS (
  SELECT user_id AS key,
         CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(round(value * 1000000) AS BIGINT) AS vu,
         event_id AS rid
  FROM events
),
s_agg AS (
  SELECT a.key, a.bucket,
         CAST(sum(sign(CAST(b.vu - a.vu AS DOUBLE))) AS BIGINT) AS s
  FROM rows_ a JOIN rows_ b
    ON b.key = a.key AND b.bucket = a.bucket
   AND (a.sec < b.sec OR (a.sec = b.sec AND (a.vu < b.vu
        OR (a.vu = b.vu AND a.rid < b.rid))))
  GROUP BY 1, 2
),
ties AS (
  SELECT key, bucket, sum(t * (t - 1) * (2 * t + 5)) AS tie_sum
  FROM (SELECT key, bucket, vu, count(*) AS t FROM rows_ GROUP BY 1, 2, 3)
  GROUP BY 1, 2
),
n_agg AS (
  SELECT key, bucket, count(*) AS n FROM rows_ GROUP BY 1, 2
)
SELECT n_agg.key AS user_id, CAST(n_agg.bucket AS BIGINT) AS bucket,
       CAST(n AS BIGINT) AS n,
       CAST(coalesce(s, 0) AS BIGINT) AS s,
       (n * (n - 1) * (2 * n + 5) - tie_sum) / 18.0 AS var_s,
       CASE WHEN (n * (n - 1) * (2 * n + 5) - tie_sum) / 18.0 > 0 THEN
         (coalesce(s, 0) - CAST(sign(CAST(coalesce(s, 0) AS DOUBLE)) AS BIGINT))
         / sqrt((n * (n - 1) * (2 * n + 5) - tie_sum) / 18.0)
       END AS z,
       CASE WHEN n >= 2 THEN coalesce(s, 0) / (n * (n - 1) / 2.0) END AS tau
FROM n_agg
JOIN ties ON ties.key = n_agg.key AND ties.bucket = n_agg.bucket
LEFT JOIN s_agg ON s_agg.key = n_agg.key AND s_agg.bucket = n_agg.bucket
"""

QUERIES["mann_kendall"] = q_mann_kendall
ORACLES["mann_kendall"] = SQL_MANN_KENDALL


def q_theil_sen_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bounded Theil-Sen (30min sub-bucket mean cells, <=12 grid
    rows per 6h bucket however hot the bucket): the pair join runs over
    the bounded tier grid, never raw rows — the scale-safe variant of
    q_theil_sen. Cell means divide identical integers on both engines;
    downstream is the shared exact lower-median machinery."""
    from .operators.rollup import theil_sen_trend

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = theil_sen_trend(ev, bucket_sec=21600, key_col="user_id",
                          ts_col="sec", grid_sec=1800)
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        (F.col("slope") + F.lit(0.0)).alias("slope"),
        (F.col("intercept") + F.lit(0.0)).alias("intercept"),
        F.col("n").cast("bigint").alias("n"),
    )


SQL_THEIL_SEN_GRID = r"""
WITH base AS (
  SELECT user_id AS key,
         CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
         (CAST(floor(epoch(ts)) AS BIGINT)
          - (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600) // 1800 AS g,
         CAST(round(value * 1000000) AS BIGINT) AS vu
  FROM events
),
cells AS (
  SELECT key, bucket, g, CAST(sum(vu) AS BIGINT) AS su,
         CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY 1, 2, 3
),
rows_ AS (
  SELECT key, bucket, CAST(g * 1800 AS DOUBLE) AS x,
         su / (c * 1000000.0) AS v
  FROM cells
),
sl AS (
  SELECT a.key, a.bucket,
         quantile_disc((b.v - a.v) / (b.x - a.x), 0.5) AS slope
  FROM rows_ a JOIN rows_ b
    ON b.key = a.key AND b.bucket = a.bucket AND a.x < b.x
  GROUP BY 1, 2
),
ic AS (
  SELECT r.key, r.bucket,
         quantile_disc(r.v - s.slope * r.x, 0.5) AS intercept
  FROM rows_ r LEFT JOIN sl s ON s.key = r.key AND s.bucket = r.bucket
  GROUP BY 1, 2
)
SELECT CAST(n.key AS BIGINT) AS user_id, CAST(n.bucket AS BIGINT) AS bucket,
       s.slope + 0.0 AS slope, ic.intercept + 0.0 AS intercept,
       CAST(n.n AS BIGINT) AS n
FROM (SELECT key, bucket, count(*) AS n FROM rows_ GROUP BY 1, 2) n
JOIN ic ON ic.key = n.key AND ic.bucket = n.bucket
LEFT JOIN sl s ON s.key = n.key AND s.bucket = n.bucket
"""

QUERIES["theil_sen_grid"] = q_theil_sen_grid
ORACLES["theil_sen_grid"] = SQL_THEIL_SEN_GRID


def q_mann_kendall_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bounded Mann-Kendall (30min sub-bucket cells, <=12 grid
    rows per 6h bucket): MK over the rounded micro-unit mean series on
    the bounded tier grid — the scale-safe variant of q_mann_kendall.
    Rounded means are exact integers (both engines round half-away on
    the same double), so every sign test and tie group stays exact."""
    from .operators.rollup import mann_kendall

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = mann_kendall(ev, bucket_sec=21600, key_col="user_id",
                       ts_col="sec", grid_sec=1800)
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        "n",
        "s",
        "var_s",
        "z",
        "tau",
    )


SQL_MANN_KENDALL_GRID = r"""
WITH base AS (
  SELECT user_id AS key,
         CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
         (CAST(floor(epoch(ts)) AS BIGINT)
          - (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600) // 1800 AS g,
         CAST(round(value * 1000000) AS BIGINT) AS vu_raw
  FROM events
),
cells AS (
  SELECT key, bucket, g, CAST(sum(vu_raw) AS BIGINT) AS su,
         CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY 1, 2, 3
),
rows_ AS (
  SELECT key, bucket, g AS sec,
         CAST(round(su / c) AS BIGINT) AS vu, g AS rid
  FROM cells
),
s_agg AS (
  SELECT a.key, a.bucket,
         CAST(sum(sign(CAST(b.vu - a.vu AS DOUBLE))) AS BIGINT) AS s
  FROM rows_ a JOIN rows_ b
    ON b.key = a.key AND b.bucket = a.bucket
   AND (a.sec < b.sec OR (a.sec = b.sec AND (a.vu < b.vu
        OR (a.vu = b.vu AND a.rid < b.rid))))
  GROUP BY 1, 2
),
ties AS (
  SELECT key, bucket, sum(t * (t - 1) * (2 * t + 5)) AS tie_sum
  FROM (SELECT key, bucket, vu, count(*) AS t FROM rows_ GROUP BY 1, 2, 3)
  GROUP BY 1, 2
),
n_agg AS (
  SELECT key, bucket, count(*) AS n FROM rows_ GROUP BY 1, 2
)
SELECT n_agg.key AS user_id, CAST(n_agg.bucket AS BIGINT) AS bucket,
       CAST(n AS BIGINT) AS n,
       CAST(coalesce(s, 0) AS BIGINT) AS s,
       (n * (n - 1) * (2 * n + 5) - tie_sum) / 18.0 AS var_s,
       CASE WHEN (n * (n - 1) * (2 * n + 5) - tie_sum) / 18.0 > 0 THEN
         (coalesce(s, 0) - CAST(sign(CAST(coalesce(s, 0) AS DOUBLE)) AS BIGINT))
         / sqrt((n * (n - 1) * (2 * n + 5) - tie_sum) / 18.0)
       END AS z,
       CASE WHEN n >= 2 THEN coalesce(s, 0) / (n * (n - 1) / 2.0) END AS tau
FROM n_agg
JOIN ties ON ties.key = n_agg.key AND ties.bucket = n_agg.bucket
LEFT JOIN s_agg ON s_agg.key = n_agg.key AND s_agg.bucket = n_agg.bucket
"""

QUERIES["mann_kendall_grid"] = q_mann_kendall_grid
ORACLES["mann_kendall_grid"] = SQL_MANN_KENDALL_GRID


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog daily-distinct-users rollup: md5-derived registers
    (integer), exact integer Z = sum 2^(24-reg), and the Flajolet
    estimate with linear-counting small-range correction as ONE r6-
    rounded float expression over identical integers on both engines."""
    from .operators.sketch import hll_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    return hll_rollup(ev, bucket_sec=86400, item_col="user_id", ts_col="sec")


SQL_HLL_DISTINCT = r"""
WITH rows_ AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS bucket,
         CAST(('0x' || substr(md5('s0:' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM events
),
reg AS (
  SELECT bucket, CAST(h % 512 AS INT) AS idx,
         max(CAST(round(log2(((h // 512) | 8388608)
                             & -((h // 512) | 8388608))) AS INT) + 1) AS reg
  FROM rows_ GROUP BY 1, 2
),
agg AS (
  SELECT bucket,
         CAST(512 - count(*) AS BIGINT) AS zeros,
         sum(CAST(1 AS BIGINT) << (24 - reg)) AS z_present
  FROM reg GROUP BY 1
),
z AS (
  SELECT bucket, zeros,
         CAST(z_present + zeros * (CAST(1 AS BIGINT) << 24) AS BIGINT) AS z_int
  FROM agg
)
SELECT bucket, zeros, z_int,
       round(CASE WHEN 0.7213 / (1.0 + 1.079 / 512.0) * 262144.0 * 16777216.0
                       / z_int <= 1280.0 AND zeros > 0
                  THEN 512.0 * ln(512.0 / zeros)
                  ELSE 0.7213 / (1.0 + 1.079 / 512.0) * 262144.0 * 16777216.0
                       / z_int END, 6) AS est
FROM z
"""

QUERIES["hll_distinct"] = q_hll_distinct
ORACLES["hll_distinct"] = SQL_HLL_DISTINCT


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch event-type frequencies per 6h bucket: d=4 md5
    hash rows x w=256 counters, estimate = min over rows, emitted next
    to the exact count (est >= cnt always). Integer-only output."""
    from .operators.sketch import cms_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec")
    )
    return cms_counts(ev, bucket_sec=21600, item_col="event_type", ts_col="sec")


SQL_CMS_COUNTS = r"""
WITH hashed AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
         CAST(event_type AS VARCHAR) AS item,
         CAST(('0x' || substr(md5('s0:' || CAST(event_type AS VARCHAR)), 1, 8))
              AS BIGINT) % 256 AS c0,
         CAST(('0x' || substr(md5('s0:' || CAST(event_type AS VARCHAR)), 9, 8))
              AS BIGINT) % 256 AS c1,
         CAST(('0x' || substr(md5('s0:' || CAST(event_type AS VARCHAR)), 17, 8))
              AS BIGINT) % 256 AS c2,
         CAST(('0x' || substr(md5('s0:' || CAST(event_type AS VARCHAR)), 25, 8))
              AS BIGINT) % 256 AS c3
  FROM events
),
cells AS (
  SELECT bucket, r, c, count(*) AS cell_cnt FROM (
    SELECT bucket, 0 AS r, c0 AS c FROM hashed
    UNION ALL SELECT bucket, 1, c1 FROM hashed
    UNION ALL SELECT bucket, 2, c2 FROM hashed
    UNION ALL SELECT bucket, 3, c3 FROM hashed
  ) GROUP BY 1, 2, 3
),
probes AS (
  SELECT bucket, item, c0, c1, c2, c3, count(*) AS cnt
  FROM hashed GROUP BY 1, 2, 3, 4, 5, 6
),
probes_long AS (
  SELECT bucket, item, cnt, 0 AS r, c0 AS c FROM probes
  UNION ALL SELECT bucket, item, cnt, 1, c1 FROM probes
  UNION ALL SELECT bucket, item, cnt, 2, c2 FROM probes
  UNION ALL SELECT bucket, item, cnt, 3, c3 FROM probes
)
SELECT p.bucket, p.item, min(cells.cell_cnt) AS est, p.cnt
FROM probes_long p
JOIN cells ON cells.bucket = p.bucket AND cells.r = p.r AND cells.c = p.c
GROUP BY p.bucket, p.item, p.cnt
"""

QUERIES["cms_counts"] = q_cms_counts
ORACLES["cms_counts"] = SQL_CMS_COUNTS


def q_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL histogram_quantile(0.95) over the 16-bin [-5,5) value
    histogram per (user, 6h bucket): cumulative-bin lerp with exactly
    representable width 0.625 — fixed-operand-order float over exact
    integers, NO rounding."""
    from .operators.rollup import histogram_quantile, rollup_histogram

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    hist = rollup_histogram(ev, 21600, lo=-5.0, hi=5.0, n_bins=16,
                            key_col="user_id", pos_col="sec")
    out = histogram_quantile(hist, q=0.95, lo=-5.0, hi=5.0, n_bins=16,
                             key_col="user_id")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        "total",
        F.col("qbin").cast("bigint").alias("qbin"),
        "qvalue",
    )


SQL_HISTOGRAM_QUANTILE = r"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events
),
b AS (
  SELECT user_id, sec // 21600 AS bucket,
         least(greatest(CAST(floor((CAST(value AS DOUBLE) - (-5.0)) / 0.625) AS BIGINT), 0), 15) AS bin
  FROM ev
),
h AS (
  SELECT user_id, bucket, bin, count(*) AS cnt FROM b GROUP BY 1, 2, 3
),
c AS (
  SELECT user_id, bucket, bin, cnt,
         sum(cnt) OVER (PARTITION BY user_id, bucket ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY user_id, bucket) AS total
  FROM h
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(total AS BIGINT) AS total, CAST(bin AS BIGINT) AS qbin,
       (-5.0) + bin * 0.625 + (0.95 * total - (cum - cnt)) / cnt * 0.625 AS qvalue
FROM c
WHERE cum >= 0.95 * total AND (cum - cnt) < 0.95 * total
"""

QUERIES["histogram_quantile"] = q_histogram_quantile
ORACLES["histogram_quantile"] = SQL_HISTOGRAM_QUANTILE


def q_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uptime-style interval merge per user: event intervals
    [sec, sec + 3600 + floor(|value|*600)) coalesced whenever they
    overlap or touch. Integer-only output."""
    from .operators.rollup import interval_coalesce

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sec = F.unix_timestamp("ts").cast("long")
    iv = ev.select(
        F.col("user_id").alias("user_id"),
        sec.alias("start"),
        (sec + 3600 + F.floor(F.abs(F.col("value")) * 600).cast("long"))
        .alias("end"),
    )
    return interval_coalesce(iv, key_col="user_id", start_col="start",
                             end_col="end")


SQL_INTERVAL_COALESCE = r"""
WITH iv AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 3600
           + CAST(floor(abs(value) * 600) AS BIGINT) AS e
  FROM events
),
m AS (
  SELECT key, s, e,
         max(e) OVER (PARTITION BY key ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM iv
),
isl AS (
  SELECT key, s, e,
         sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
           OVER (PARTITION BY key ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
)
SELECT key AS user_id, CAST(island AS BIGINT) AS island,
       min(s) AS start, max(e) AS "end", CAST(count(*) AS BIGINT) AS n_merged
FROM isl GROUP BY 1, 2
"""

QUERIES["interval_coalesce"] = q_interval_coalesce
ORACLES["interval_coalesce"] = SQL_INTERVAL_COALESCE


def q_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24h-of-hourly-buckets aggregates per user (PromQL
    avg_over_time shape): integer micro-unit bucket sums so sliding
    window sums are order-independent on both engines (DuckDB's segment
    tree vs Spark's running accumulation); avg/min/max divide the same
    integers."""
    from .operators.rollup import sliding_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    return sliding_rollup(ev, bucket_sec=3600, trail_buckets=24,
                          key_col="user_id", ts_col="sec")


SQL_SLIDING_ROLLUP = r"""
WITH tier AS (
  SELECT user_id AS key,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket,
         sum(CAST(round(value * 1000000) AS BIGINT)) AS sum_u,
         count(*) AS cnt,
         min(CAST(round(value * 1000000) AS BIGINT)) AS min_u,
         max(CAST(round(value * 1000000) AS BIGINT)) AS max_u
  FROM events GROUP BY 1, 2
)
SELECT key AS user_id, bucket,
       CAST(sum(cnt) OVER w AS BIGINT) AS trail_cnt,
       sum(sum_u) OVER w / 1000000 AS trail_sum,
       CAST(sum(sum_u) OVER w AS DOUBLE)
         / CAST(sum(cnt) OVER w * 1000000 AS DOUBLE) AS trail_avg,
       min(min_u) OVER w / 1000000 AS trail_min,
       max(max_u) OVER w / 1000000 AS trail_max
FROM tier
WINDOW w AS (PARTITION BY key ORDER BY bucket
             RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
"""

QUERIES["sliding_rollup"] = q_sliding_rollup
ORACLES["sliding_rollup"] = SQL_SLIDING_ROLLUP


def q_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL distinct-users maintained by an actual Structured
    Streaming query (streaming.hll_stream): events replayed through a
    file stream, final register snapshot per daily bucket. Registers are
    commutative, so the final snapshot must equal the BATCH sketch —
    gated by the same SQL register chain as hll_distinct."""
    import uuid

    from .streaming.sketch import hll_stream

    name = "hll_sink_" + uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props map<string,string>"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("user_id", F.unix_timestamp("ts").alias("sec"))
    )
    out = hll_stream(stream, bucket_sec=86400, item_col="user_id", ts_col="sec")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"""
        SELECT bucket, zeros, z_int, est FROM (
          SELECT *, row_number() OVER (
            PARTITION BY bucket ORDER BY n_seen DESC) AS rn
          FROM {name}) WHERE rn = 1
        """
    )


QUERIES["hll_stream"] = q_hll_stream
ORACLES["hll_stream"] = SQL_HLL_DISTINCT


def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge table (8 rounds, top-200 words) learned from the
    documents corpus — pair counts are integers, pair picks use a total
    order (count DESC, lexicographic), and the greedy merge is the same
    relational run-parity chain on both engines."""
    from .operators.tokens import bpe_learn

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_learn(docs, n_merges=8, max_words=200)


def _bpe_oracle_sql(n_merges: int = 8, max_words: int = 200) -> str:
    """Generated DuckDB replay of bpe_learn: k chained rounds, each CTE
    MATERIALIZED (round-chained CTEs referencing the previous round
    twice inline exponentially otherwise — the analyze/floss lesson)."""
    parts = [
        f"""WITH words AS MATERIALIZED (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
    FROM documents
  ) WHERE regexp_matches(w, '^[a-z]+$')
  GROUP BY w ORDER BY freq DESC, w LIMIT {max_words}
),
s0 AS MATERIALIZED (
  SELECT w, freq, pos,
         CASE WHEN pos <= length(w) THEN substr(w, pos, 1) ELSE '</w>' END AS sym
  FROM (SELECT w, freq, unnest(generate_series(1, length(w) + 1)) AS pos FROM words)
)"""
    ]
    for r in range(1, n_merges + 1):
        prev = f"s{r - 1}"
        parts.append(
            f""",
bp{r} AS MATERIALIZED (
  SELECT {r} AS merge_round, sym AS a, nxt AS b, cnt FROM (
    SELECT sym, nxt, sum(freq) AS cnt,
           row_number() OVER (ORDER BY sum(freq) DESC, sym, nxt) AS rn
    FROM (SELECT freq, sym, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
          FROM {prev})
    WHERE nxt IS NOT NULL GROUP BY sym, nxt
  ) WHERE rn = 1
),
s{r} AS MATERIALIZED (
  SELECT w, freq, row_number() OVER (PARTITION BY w ORDER BY pos) AS pos, sym FROM (
    SELECT w, freq, pos,
           CASE WHEN taken THEN sym || nxt ELSE sym END AS sym,
           lag(taken) OVER (PARTITION BY w ORDER BY pos) AS consumed
    FROM (
      SELECT w, freq, pos, sym, nxt, m, grp,
             CASE WHEN m THEN (row_number() OVER (PARTITION BY w, grp, m ORDER BY pos) % 2 = 1)
                  ELSE FALSE END AS taken
      FROM (
        SELECT t.w, t.freq, t.pos, t.sym, t.nxt,
               (t.sym = bp.a AND t.nxt = bp.b) AS m,
               sum(CASE WHEN t.sym = bp.a AND t.nxt = bp.b THEN 0 ELSE 1 END)
                 OVER (PARTITION BY t.w ORDER BY t.pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM (SELECT w, freq, pos, sym,
                     lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
              FROM {prev}) t
        CROSS JOIN bp{r} bp
      )
    )
  ) WHERE NOT coalesce(consumed, FALSE)
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT merge_round, a, b, cnt FROM bp{r}" for r in range(1, n_merges + 1)
    )
    parts.append(
        f"""
SELECT CAST(merge_round AS INT) AS merge_round, a AS left_sym, b AS right_sym,
       CAST(cnt AS BIGINT) AS pair_count
FROM ({union})"""
    )
    return "".join(parts)


QUERIES["bpe_learn"] = q_bpe_learn
ORACLES["bpe_learn"] = _bpe_oracle_sql()


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency head after BPE encoding: merges selected
    from the top-200 training words (the bpe_learn chain) but applied to
    EVERY distinct corpus word; top-40 tokens by (count DESC, token).
    All integers/strings — exact cross-engine hash."""
    from .operators.tokens import bpe_encode

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_encode(docs, n_merges=8, max_words=200, top_k=40)


def _bpe_encode_oracle_sql(
    n_merges: int = 8, max_words: int = 200, top_k: int = 40
) -> str:
    """Generated DuckDB replay of bpe_encode: the bpe_learn round chain
    with (a) a trainflag instead of a LIMIT — pair counts filter on it,
    the greedy merge applies to ALL words — and (b) LEFT JOIN on the
    per-round best pair so an exhausted pair supply passes the state
    through unchanged (the engine breaks its loop at that point)."""
    parts = [
        f"""WITH words AS MATERIALIZED (
  SELECT w, freq,
         row_number() OVER (ORDER BY freq DESC, w) <= {max_words} AS trainflag
  FROM (
    SELECT w, count(*) AS freq FROM (
      SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents
    ) WHERE regexp_matches(w, '^[a-z]+$')
    GROUP BY w
  )
),
s0 AS MATERIALIZED (
  SELECT w, freq, trainflag, pos,
         CASE WHEN pos <= length(w) THEN substr(w, pos, 1) ELSE '</w>' END AS sym
  FROM (SELECT w, freq, trainflag, unnest(generate_series(1, length(w) + 1)) AS pos FROM words)
)"""
    ]
    for r in range(1, n_merges + 1):
        prev = f"s{r - 1}"
        parts.append(
            f""",
bp{r} AS MATERIALIZED (
  SELECT sym AS a, nxt AS b FROM (
    SELECT sym, nxt,
           row_number() OVER (ORDER BY sum(freq) DESC, sym, nxt) AS rn
    FROM (SELECT freq, sym, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
          FROM {prev} WHERE trainflag)
    WHERE nxt IS NOT NULL GROUP BY sym, nxt
  ) WHERE rn = 1
),
s{r} AS MATERIALIZED (
  SELECT w, freq, trainflag, row_number() OVER (PARTITION BY w ORDER BY pos) AS pos, sym FROM (
    SELECT w, freq, trainflag, pos,
           CASE WHEN taken THEN sym || nxt ELSE sym END AS sym,
           lag(taken) OVER (PARTITION BY w ORDER BY pos) AS consumed
    FROM (
      SELECT w, freq, trainflag, pos, sym, nxt, m, grp,
             CASE WHEN m THEN (row_number() OVER (PARTITION BY w, grp, m ORDER BY pos) % 2 = 1)
                  ELSE FALSE END AS taken
      FROM (
        SELECT t.w, t.freq, t.trainflag, t.pos, t.sym, t.nxt,
               (bp.a IS NOT NULL AND t.sym = bp.a AND t.nxt = bp.b) AS m,
               sum(CASE WHEN bp.a IS NOT NULL AND t.sym = bp.a AND t.nxt = bp.b THEN 0 ELSE 1 END)
                 OVER (PARTITION BY t.w ORDER BY t.pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM (SELECT w, freq, trainflag, pos, sym,
                     lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
              FROM {prev}) t
        LEFT JOIN bp{r} bp ON TRUE
      )
    )
  ) WHERE NOT coalesce(consumed, FALSE)
)"""
        )
    parts.append(
        f"""
SELECT CAST(rank AS INT) AS rank, token, cnt FROM (
  SELECT sym AS token, CAST(sum(freq) AS BIGINT) AS cnt,
         row_number() OVER (ORDER BY sum(freq) DESC, sym) AS rank
  FROM s{n_merges} GROUP BY sym
) WHERE rank <= {top_k}"""
    )
    return "".join(parts)


QUERIES["bpe_encode"] = q_bpe_encode
ORACLES["bpe_encode"] = _bpe_encode_oracle_sql()


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign click events to coalesced 2h purchase windows per user:
    the bucketized containment join (grain 1h). The oracle's join is
    DuckDB's NAIVE range join — an independent formulation that gates
    the bucketization as lossless. Integer-only."""
    from .operators.rollup import interval_coalesce, interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sec = F.unix_timestamp("ts").cast("long")
    piv = ev.where(F.col("event_type") == "purchase").select(
        "user_id", sec.alias("start"), (sec + 7200).alias("end")
    )
    merged = interval_coalesce(piv, key_col="user_id")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", sec.alias("sec")
    )
    return interval_join(clicks, merged, grain_sec=3600, key_col="user_id",
                         ts_col="sec")


SQL_INTERVAL_JOIN = r"""
WITH piv AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS e
  FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT key, s, e,
         max(e) OVER (PARTITION BY key ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM piv
),
isl AS (
  SELECT key, s, e,
         sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
           OVER (PARTITION BY key ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
),
merged AS (
  SELECT key, CAST(island AS BIGINT) AS island, min(s) AS s, max(e) AS e
  FROM isl GROUP BY 1, 2
),
clicks AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events WHERE event_type = 'click'
)
SELECT c.key AS user_id, c.t AS sec, m.island, m.s, m.e
FROM clicks c
JOIN merged m ON m.key = c.key AND c.t >= m.s AND c.t < m.e
"""

QUERIES["interval_join"] = q_interval_join
ORACLES["interval_join"] = SQL_INTERVAL_JOIN


def q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt level+trend smoothing per user series (alpha 0.5, beta 0.25
    — exactly representable, so the recursive-CTE oracle replays the
    identical IEEE chain step for step)."""
    from .operators.rollup import holt_smooth

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    return holt_smooth(ev, alpha=0.5, beta=0.25, key_col="user_id",
                       ts_col="sec")


SQL_HOLT = r"""
WITH RECURSIVE base AS MATERIALIZED (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT), value) AS i
  FROM events
),
rec AS (
  SELECT b1.key, b1.i, b1.sec, b1.v, b1.v AS l, b2.v - b1.v AS b
  FROM base b1 JOIN base b2 ON b2.key = b1.key AND b2.i = 2
  WHERE b1.i = 1
  UNION ALL
  SELECT nb.key, nb.i, nb.sec, nb.v,
         0.5 * nb.v + 0.5 * (r.l + r.b) AS l,
         0.25 * ((0.5 * nb.v + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b AS b
  FROM rec r JOIN base nb ON nb.key = r.key AND nb.i = r.i + 1
)
SELECT key AS user_id, sec,
       l + 0.0 AS level, b + 0.0 AS trend,
       (l + b) + 0.0 AS forecast
FROM rec
"""

QUERIES["holt"] = q_holt
ORACLES["holt"] = SQL_HOLT


def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typical-week heatmap per event type: (dow, hour) cell counts,
    micro-unit-exact mean value, share of the series' events. Integer
    epoch arithmetic only — no timezone/locale functions."""
    from .operators.rollup import seasonality_profile

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec"), "value"
    )
    return seasonality_profile(ev, key_col="event_type", ts_col="sec")


SQL_SEASONALITY_PROFILE = r"""
WITH rows_ AS (
  SELECT event_type AS key,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 3) % 7 AS INT) AS dow,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS INT) AS hour,
         CAST(round(value * 1000000) AS BIGINT) AS vu
  FROM events
),
cells AS (
  SELECT key, dow, hour, count(*) AS cnt, sum(vu) AS sum_u
  FROM rows_ GROUP BY 1, 2, 3
),
totals AS (
  SELECT key, sum(cnt) AS total FROM cells GROUP BY 1
)
SELECT c.key AS event_type, c.dow, c.hour,
       CAST(c.cnt AS BIGINT) AS cnt,
       CAST(c.sum_u AS DOUBLE) / CAST(c.cnt * 1000000 AS DOUBLE) AS mean_value,
       CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE) AS share
FROM cells c JOIN totals t ON t.key = c.key
"""

QUERIES["seasonality_profile"] = q_seasonality_profile
ORACLES["seasonality_profile"] = SQL_SEASONALITY_PROFILE


def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-seasonal anomalies per event type (threshold 2.5):
    leave-one-out cell baseline, integer cross-multiplied flag —
    no float comparison can flip per engine."""
    from .operators.rollup import seasonal_anomaly

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec"), "value"
    )
    return seasonal_anomaly(ev, threshold=2.5, key_col="event_type",
                            ts_col="sec")


SQL_SEASONAL_ANOMALY = r"""
WITH rows_ AS (
  SELECT event_type AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 3) % 7 AS INT) AS dow,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS INT) AS hour,
         CAST(round(value * 1000000) AS BIGINT) AS vu
  FROM events
),
cells AS (
  SELECT key, dow, hour, count(*) AS cnt, sum(vu) AS sum_u
  FROM rows_ GROUP BY 1, 2, 3
)
SELECT r.key AS event_type, r.sec, r.dow, r.hour,
       CAST(c.cnt AS BIGINT) AS cell_cnt,
       CASE WHEN c.cnt - 1 > 0 THEN
         CAST(c.sum_u - r.vu AS DOUBLE) / CAST((c.cnt - 1) * 1000000 AS DOUBLE)
       END AS loo_mean,
       CASE WHEN c.cnt - 1 > 0 THEN
         r.vu / 1000000.0
           - CAST(c.sum_u - r.vu AS DOUBLE) / CAST((c.cnt - 1) * 1000000 AS DOUBLE)
       END AS deviation,
       CASE WHEN c.cnt - 1 > 0 THEN
         abs(r.vu * (c.cnt - 1) - (c.sum_u - r.vu)) > 2500000 * (c.cnt - 1)
       ELSE FALSE END AS anomaly
FROM rows_ r
JOIN cells c ON c.key = r.key AND c.dow = r.dow AND c.hour = r.hour
"""

QUERIES["seasonal_anomaly"] = q_seasonal_anomaly
ORACLES["seasonal_anomaly"] = SQL_SEASONAL_ANOMALY


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup → click → purchase funnel within 7 days of the first
    signup: greedy first-occurrence chain, integer min-aggregates only."""
    from .operators.rollup import funnel_steps

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "event_type"
    )
    return funnel_steps(ev, ["signup", "click", "purchase"],
                        window_sec=604800, key_col="user_id", ts_col="sec")


SQL_FUNNEL = r"""
WITH rows_ AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type AS etype
  FROM events
),
s1 AS (
  SELECT key, min(sec) AS t1 FROM rows_ WHERE etype = 'signup' GROUP BY 1
),
s2 AS (
  SELECT r.key, min(r.sec) AS t2
  FROM rows_ r JOIN s1 ON s1.key = r.key
  WHERE r.etype = 'click' AND r.sec >= s1.t1 AND r.sec <= s1.t1 + 604800
  GROUP BY 1
),
s3 AS (
  SELECT r.key, min(r.sec) AS t3
  FROM rows_ r JOIN s1 ON s1.key = r.key JOIN s2 ON s2.key = r.key
  WHERE r.etype = 'purchase' AND r.sec >= s2.t2 AND r.sec <= s1.t1 + 604800
  GROUP BY 1
)
SELECT s1.key AS user_id, s1.t1, s2.t2, s3.t3,
       CAST(1 + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS steps_reached
FROM s1
LEFT JOIN s2 ON s2.key = s1.key
LEFT JOIN s3 ON s3.key = s1.key
"""

QUERIES["funnel"] = q_funnel
ORACLES["funnel"] = SQL_FUNNEL


def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join probe: which lineitem part keys MAYBE
    belong to the small-parts build side (p_size < 8)? m=4096 bits, k=4
    md5 hashes; the exact membership flag rides along so hit=1/actual=0
    rows are the measured false positives. Integer-only output."""
    from .operators.sketch import bloom_probe_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_partkey")
    pt = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .where(F.col("p_size") < 8)
        .select("p_partkey")
    )
    return bloom_probe_stats(li, pt, "l_partkey", "p_partkey")


SQL_BLOOM_PROBE = r"""
WITH build_keys AS (
  SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS bitem
  FROM part WHERE p_size < 8
),
build_pos AS (
  SELECT DISTINCT pos FROM (
    SELECT CAST(('0x' || substr(md5('s0:' || bitem), 1, 8)) AS BIGINT) % 4096 AS pos FROM build_keys
    UNION ALL SELECT CAST(('0x' || substr(md5('s0:' || bitem), 9, 8)) AS BIGINT) % 4096 FROM build_keys
    UNION ALL SELECT CAST(('0x' || substr(md5('s0:' || bitem), 17, 8)) AS BIGINT) % 4096 FROM build_keys
    UNION ALL SELECT CAST(('0x' || substr(md5('s0:' || bitem), 25, 8)) AS BIGINT) % 4096 FROM build_keys
  )
),
probe_items AS (
  SELECT CAST(l_partkey AS VARCHAR) AS item, count(*) AS probes
  FROM lineitem GROUP BY 1
),
probe_long AS (
  SELECT item, probes, CAST(('0x' || substr(md5('s0:' || item), 1, 8)) AS BIGINT) % 4096 AS pos FROM probe_items
  UNION ALL SELECT item, probes, CAST(('0x' || substr(md5('s0:' || item), 9, 8)) AS BIGINT) % 4096 FROM probe_items
  UNION ALL SELECT item, probes, CAST(('0x' || substr(md5('s0:' || item), 17, 8)) AS BIGINT) % 4096 FROM probe_items
  UNION ALL SELECT item, probes, CAST(('0x' || substr(md5('s0:' || item), 25, 8)) AS BIGINT) % 4096 FROM probe_items
),
hits AS (
  SELECT p.item, p.probes,
         CASE WHEN sum(CASE WHEN bp.pos IS NULL THEN 0 ELSE 1 END) = 4
              THEN 1 ELSE 0 END AS hit
  FROM probe_long p LEFT JOIN build_pos bp ON bp.pos = p.pos
  GROUP BY 1, 2
)
SELECT h.item, CAST(h.probes AS BIGINT) AS probes, CAST(h.hit AS INT) AS hit,
       CAST(CASE WHEN b.bitem IS NULL THEN 0 ELSE 1 END AS INT) AS actual
FROM hits h LEFT JOIN build_keys b ON b.bitem = h.item
"""

QUERIES["bloom_probe"] = q_bloom_probe
ORACLES["bloom_probe"] = SQL_BLOOM_PROBE


def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive seasonal smoothing per user series (alpha
    0.5 / beta 0.25 / gamma 0.5 — all dyadic, so the recursive-CTE
    oracle carrying the 24-phase seasonal state as a DOUBLE list
    replays the identical IEEE chain step for step; output unrounded)."""
    from .operators.rollup import holt_winters

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    return holt_winters(ev, alpha=0.5, beta=0.25, gamma=0.5, period=24,
                        key_col="user_id", ts_col="sec")


def _hw_sql() -> str:
    # the level expression is re-inlined wherever the kernel reads it —
    # identical operand order is the whole bit-exactness contract
    sp = "r.s[nb.ph + 1]"
    L = f"0.5 * (nb.v - {sp}) + 0.5 * (r.l + r.b)"
    B = f"0.25 * (({L}) - r.l) + 0.75 * r.b"
    S = f"0.5 * (nb.v - ({L})) + 0.5 * {sp}"
    return f"""
WITH RECURSIVE base AS MATERIALIZED (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(value AS DOUBLE) AS v,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS INT) AS ph,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT), value) AS i
  FROM events
),
rec AS (
  SELECT b1.key, b1.i, b1.sec, b1.v AS v,
         b1.v AS l, b2.v - b1.v AS b, CAST(0.0 AS DOUBLE) AS se,
         list_transform(range(24), x -> CAST(0.0 AS DOUBLE)) AS s
  FROM base b1 JOIN base b2 ON b2.key = b1.key AND b2.i = 2
  WHERE b1.i = 1
  UNION ALL
  SELECT nb.key, nb.i, nb.sec, nb.v,
         {L} AS l,
         {B} AS b,
         {S} AS se,
         r.s[1:nb.ph] || [CAST({S} AS DOUBLE)] || r.s[nb.ph + 2:] AS s
  FROM rec r JOIN base nb ON nb.key = r.key AND nb.i = r.i + 1
)
SELECT key AS user_id, sec,
       l + 0.0 AS level, b + 0.0 AS trend, se + 0.0 AS seasonal
FROM rec
"""


SQL_HOLT_WINTERS = _hw_sql()

QUERIES["holt_winters"] = q_holt_winters
ORACLES["holt_winters"] = SQL_HOLT_WINTERS


def _media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.create_map(F.lit("lang"), F.col("lang")).alias("meta"),
    )


def q_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash per media payload (aHash, 8x8 cells over
    the decoded grid) as four 16-bit bands — bits decided by the exact
    integer comparison cell_sum*(h*w) > total*cell_count, replayed by
    the oracle from the payload bytes via one hex()+substr walk."""
    from .operators.multimodal import perceptual_hash

    return perceptual_hash(_media_from_documents(spark, sf_dir))


_SQL_PHASH_CHAIN = r"""
WITH g AS MATERIALIZED (
  SELECT CAST(doc_id AS VARCHAR) AS media_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n,
         greatest(CAST(floor(sqrt(octet_length(encode(text)))) AS BIGINT), 1) AS s
  FROM documents
),
px AS (
  SELECT media_id, s, n, hx, unnest(range(s*s)) AS pos FROM g
),
pb AS (
  SELECT media_id,
         CASE WHEN n = 0 THEN 0
              ELSE CAST(('0x' || substr(hx, CAST(2*pos+1 AS INT), 2)) AS INT) END AS b,
         ((pos // s) * 8) // s AS cr, ((pos % s) * 8) // s AS ccol
  FROM px
),
cells AS (
  SELECT media_id, cr * 8 + ccol AS cell, sum(b) AS cs, count(*) AS cnt
  FROM pb GROUP BY 1, 2
),
tot AS (
  SELECT media_id, sum(b) AS ts, count(*) AS np FROM pb GROUP BY 1
),
bits AS (
  SELECT c.media_id, c.cell,
         CASE WHEN c.cs * t.np > t.ts * c.cnt THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN tot t ON t.media_id = c.media_id
),
ph AS MATERIALIZED (
  SELECT media_id,
         CAST(sum(CASE WHEN cell < 16 THEN bit << cell ELSE 0 END) AS INT) AS b0,
         CAST(sum(CASE WHEN cell >= 16 AND cell < 32 THEN bit << (cell - 16) ELSE 0 END) AS INT) AS b1,
         CAST(sum(CASE WHEN cell >= 32 AND cell < 48 THEN bit << (cell - 32) ELSE 0 END) AS INT) AS b2,
         CAST(sum(CASE WHEN cell >= 48 THEN bit << (cell - 48) ELSE 0 END) AS INT) AS b3
  FROM bits GROUP BY 1
)
"""

SQL_PHASH = _SQL_PHASH_CHAIN + "SELECT media_id, b0, b1, b2, b3 FROM ph"

QUERIES["phash"] = q_phash
ORACLES["phash"] = SQL_PHASH


def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate media pairs (Hamming <= 3 over the
    64-bit aHash): banded pigeonhole equi-join on the engine side vs the
    oracle's independent brute-force O(n^2) pair scan — the banding is
    gated as LOSSLESS, the same contract as simhash_neardup."""
    from .operators.multimodal import phash_neardup_pairs

    return phash_neardup_pairs(_media_from_documents(spark, sf_dir),
                               max_hamming=3)


SQL_PHASH_NEARDUP = _SQL_PHASH_CHAIN + r"""
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS INT)
         AS hamming
FROM ph a JOIN ph b ON a.media_id < b.media_id
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
"""

QUERIES["phash_neardup"] = q_phash_neardup
ORACLES["phash_neardup"] = SQL_PHASH_NEARDUP


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF keywords per document (smoothed sklearn idf),
    ranked on the r6-rounded score with term tie-break."""
    from .operators.text import tfidf_topk_terms

    out = tfidf_topk_terms(_documents(spark, sf_dir), k=5)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "term", "tf", "df", "score", "rank",
    )


SQL_TFIDF = r"""
WITH wl AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
  FROM documents
),
toks AS (
  SELECT doc_id, words[i] AS term
  FROM wl, unnest(generate_series(1, len(words))) AS u(i)
  WHERE length(words[i]) > 0
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
),
df AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY 1
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         round(tf.tf * (ln(CAST(n.n_docs + 1 AS DOUBLE)
                           / CAST(df.df + 1 AS DOUBLE)) + 1.0), 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, df, score,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, term, tf, df, score, rank
FROM ranked WHERE rank <= 5
"""

QUERIES["tfidf"] = q_tfidf
ORACLES["tfidf"] = SQL_TFIDF


def q_hll_rerollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL retention-tier merge: hourly tier-1 registers merged
    register-wise-max into daily buckets WITHOUT re-reading raw rows.
    The oracle recomputes daily registers straight from the raw events
    (the hll_distinct chain at 86400) — max-associativity makes
    merge==recompute an exact integer identity, so the two paths must
    hash-match."""
    from .operators.sketch import hll_rerollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    return hll_rerollup(ev, fine_sec=3600, coarse_sec=86400,
                        item_col="user_id", ts_col="sec")


QUERIES["hll_rerollup"] = q_hll_rerollup
ORACLES["hll_rerollup"] = SQL_HLL_DISTINCT


def q_cms_rerollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS retention-tier merge: hourly counter cells summed into 6h
    buckets (tier k+1 reads tier k only), then the frequency query runs
    against the merged counters. Oracle = the plain 6h cms_counts chain:
    sum-associativity makes merge==recompute exact."""
    from .operators.sketch import cms_rerollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec")
    )
    return cms_rerollup(ev, fine_sec=3600, coarse_sec=21600,
                        item_col="event_type", ts_col="sec")


QUERIES["cms_rerollup"] = q_cms_rerollup
ORACLES["cms_rerollup"] = SQL_CMS_COUNTS


def q_count_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-sketch event-type frequencies per 6h bucket (Charikar et
    al. 2002): d=4 md5 rows x w=256 ±1-SIGNED counters, estimate = the
    LOWER MEDIAN of the four signed reads — unbiased where count-min
    only over-counts. Integer-only, exact count alongside."""
    from .operators.sketch import count_sketch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec")
    )
    return count_sketch(ev, bucket_sec=21600, item_col="event_type", ts_col="sec")


SQL_COUNT_SKETCH = r"""
WITH hashed AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
         CAST(event_type AS VARCHAR) AS item,
         CAST(('0x' || substr(md5('s2:' || CAST(event_type AS VARCHAR)), 1, 8))
              AS BIGINT) % 256 AS k0,
         CAST(('0x' || substr(md5('s2:' || CAST(event_type AS VARCHAR)), 9, 8))
              AS BIGINT) % 256 AS k1,
         CAST(('0x' || substr(md5('s2:' || CAST(event_type AS VARCHAR)), 17, 8))
              AS BIGINT) % 256 AS k2,
         CAST(('0x' || substr(md5('s2:' || CAST(event_type AS VARCHAR)), 25, 8))
              AS BIGINT) % 256 AS k3,
         CAST(('0x' || substr(md5('s3:' || CAST(event_type AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 * 2 - 1 AS g0,
         CAST(('0x' || substr(md5('s3:' || CAST(event_type AS VARCHAR)), 9, 8))
              AS BIGINT) % 2 * 2 - 1 AS g1,
         CAST(('0x' || substr(md5('s3:' || CAST(event_type AS VARCHAR)), 17, 8))
              AS BIGINT) % 2 * 2 - 1 AS g2,
         CAST(('0x' || substr(md5('s3:' || CAST(event_type AS VARCHAR)), 25, 8))
              AS BIGINT) % 2 * 2 - 1 AS g3
  FROM events
),
cells AS (
  SELECT bucket, r, c, CAST(sum(g) AS BIGINT) AS cell FROM (
    SELECT bucket, 0 AS r, k0 AS c, g0 AS g FROM hashed
    UNION ALL SELECT bucket, 1, k1, g1 FROM hashed
    UNION ALL SELECT bucket, 2, k2, g2 FROM hashed
    UNION ALL SELECT bucket, 3, k3, g3 FROM hashed
  ) GROUP BY 1, 2, 3
),
probes AS (
  SELECT bucket, item, k0, k1, k2, k3, g0, g1, g2, g3,
         CAST(count(*) AS BIGINT) AS cnt
  FROM hashed GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10
),
probes_long AS (
  SELECT bucket, item, cnt, 0 AS r, k0 AS c, g0 AS g FROM probes
  UNION ALL SELECT bucket, item, cnt, 1, k1, g1 FROM probes
  UNION ALL SELECT bucket, item, cnt, 2, k2, g2 FROM probes
  UNION ALL SELECT bucket, item, cnt, 3, k3, g3 FROM probes
),
reads AS (
  SELECT p.bucket, p.item, p.cnt, p.g * cells.cell AS v
  FROM probes_long p
  JOIN cells ON cells.bucket = p.bucket AND cells.r = p.r AND cells.c = p.c
)
SELECT bucket, item, CAST(v AS BIGINT) AS est, cnt FROM (
  SELECT bucket, item, cnt, v,
         row_number() OVER (PARTITION BY bucket, item ORDER BY v) AS rn
  FROM reads
) WHERE rn = 2
"""

QUERIES["count_sketch"] = q_count_sketch
ORACLES["count_sketch"] = SQL_COUNT_SKETCH


def q_cs_rerollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-sketch retention-tier merge: hourly signed cells summed
    into 6h buckets, estimates answered against the MERGED counters —
    counter linearity makes merged == rebuilt-at-coarse an exact
    integer identity, so the oracle is the direct coarse recompute."""
    from .operators.sketch import cs_rerollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec")
    )
    return cs_rerollup(ev, fine_sec=3600, coarse_sec=21600,
                       item_col="event_type", ts_col="sec")


QUERIES["cs_rerollup"] = q_cs_rerollup
ORACLES["cs_rerollup"] = SQL_COUNT_SKETCH


def q_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alert (SRE workbook multiwindow
    pattern): per key, error-budget burn over the trailing 6h AND 72h
    windows, alert iff both exceed burn 1 at budget 1/5. The error bit
    is event_id % 5 == 0 (arithmetic, so every dataset exercises it);
    burn > thr is a cross-multiplied integer comparison — no float
    ratio is ever formed."""
    from .operators.rollup import slo_burn

    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("sec")
    )
    out = slo_burn(
        ev,
        (F.col("event_id") % 5 == 0),
        short_sec=21600,
        long_sec=259200,
        budget_num=1,
        budget_den=5,
        burn_num=1,
        burn_den=1,
        key_col="user_id",
        sec_col="sec",
    )
    return out.select(
        F.col("key").cast("bigint").alias("key"),
        "n_err_short", "n_tot_short", "n_err_long", "n_tot_long", "alert",
    )


SQL_SLO_BURN = r"""
WITH base AS (
  SELECT user_id AS key,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS err
  FROM events
),
mx AS (SELECT max(sec) AS mx FROM base),
agg AS (
  SELECT key,
         CAST(sum(CASE WHEN sec > mx - 21600 THEN err ELSE 0 END) AS BIGINT) AS n_err_short,
         CAST(sum(CASE WHEN sec > mx - 21600 THEN 1 ELSE 0 END) AS BIGINT) AS n_tot_short,
         CAST(sum(CASE WHEN sec > mx - 259200 THEN err ELSE 0 END) AS BIGINT) AS n_err_long,
         CAST(sum(CASE WHEN sec > mx - 259200 THEN 1 ELSE 0 END) AS BIGINT) AS n_tot_long
  FROM base, mx GROUP BY key
)
SELECT CAST(key AS BIGINT) AS key,
       n_err_short, n_tot_short, n_err_long, n_tot_long,
       CAST(n_tot_short > 0 AND n_tot_long > 0
        AND 5 * n_err_short > n_tot_short
        AND 5 * n_err_long > n_tot_long AS INT) AS alert
FROM agg
"""

QUERIES["slo_burn"] = q_slo_burn
ORACLES["slo_burn"] = SQL_SLO_BURN


def q_histogram_rerollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram retention-tier merge: hourly 16-bin counts summed into
    6h buckets without re-reading raw rows; oracle recomputes at 6h
    directly (exact integer identity)."""
    from .operators.rollup import histogram_rerollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = histogram_rerollup(ev, 3600, 21600, lo=-5.0, hi=5.0, n_bins=16,
                             key_col="user_id", pos_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("bin").cast("bigint").alias("bin"),
        F.col("cnt").cast("bigint").alias("cnt"),
    )


QUERIES["histogram_rerollup"] = q_histogram_rerollup
ORACLES["histogram_rerollup"] = SQL_ROLLUP_HISTOGRAM


def q_hashed_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing bag-of-words vectors (dim=64, signed counts) —
    integer-exact long form, the vocabulary-free vectorizer front end
    for the ANN family."""
    from .operators.text import hashed_bow_vectors

    out = hashed_bow_vectors(_documents(spark, sf_dir), dim=64)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "dim", "value"
    )


SQL_HASHED_BOW = r"""
WITH wl AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
  FROM documents
),
toks AS (
  SELECT doc_id, words[i] AS term
  FROM wl, unnest(generate_series(1, len(words))) AS u(i)
  WHERE length(words[i]) > 0
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('s2:' || term), 1, 8)) AS BIGINT) AS h
  FROM toks
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(h % 64 AS INT) AS dim,
       CAST(sum(1 - 2 * ((h // 64) % 2)) AS BIGINT) AS value
FROM hashed GROUP BY 1, 2
"""

QUERIES["hashed_bow"] = q_hashed_bow
ORACLES["hashed_bow"] = SQL_HASHED_BOW


def q_spectral_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-Residual saliency map per user series over 6h bucket
    means (Ren et al. 2019) — emitted as a spectrum-style map, r4
    round_even (sum-order drift absorbed, numpy-modeled first)."""
    from .operators.rollup import spectral_residual

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    return spectral_residual(ev, bucket_sec=21600, key_col="user_id",
                             ts_col="sec",
                             parallelism=spark.sparkContext.defaultParallelism)


SQL_SPECTRAL_RESIDUAL = r"""
WITH rows_ AS (
  SELECT user_id AS key,
         CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
         CAST(round(value * 1000000) AS BIGINT) AS vu
  FROM events
),
cells AS MATERIALIZED (
  SELECT key, bucket, sum(vu) AS su, count(*) AS c FROM rows_ GROUP BY 1, 2
),
series AS MATERIALIZED (
  SELECT key, bucket,
         CAST(su AS DOUBLE) / CAST(c * 1000000 AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY key ORDER BY bucket) - 1 AS j,
         count(*) OVER (PARTITION BY key) AS n
  FROM cells
),
ok AS MATERIALIZED (
  SELECT key FROM series GROUP BY key
  HAVING count(*) >= 4 AND min(v) < max(v)
),
s2 AS MATERIALIZED (
  SELECT s.* FROM series s JOIN ok USING (key)
),
dft AS MATERIALIZED (
  SELECT a.key, a.j AS k, any_value(a.n) AS n,
         sum(b.v * cos(2 * pi() * ((a.j * b.j) % a.n) / a.n)) AS re,
         -sum(b.v * sin(2 * pi() * ((a.j * b.j) % a.n) / a.n)) AS im
  FROM s2 a JOIN s2 b ON b.key = a.key
  GROUP BY 1, 2
),
ampt AS MATERIALIZED (
  SELECT key, k, n, re, im, sqrt(re * re + im * im) AS amp FROM dft
),
okk AS MATERIALIZED (
  SELECT key FROM ampt GROUP BY key HAVING min(amp) > 0
),
la AS MATERIALIZED (
  SELECT a.key, a.k, a.n, a.re, a.im, a.amp, ln(a.amp) AS l
  FROM ampt a JOIN okk USING (key)
),
ma AS MATERIALIZED (
  SELECT key, k, n, re, im, amp, l,
         lag(l) OVER w AS lm, lead(l) OVER w AS lp
  FROM la WINDOW w AS (PARTITION BY key ORDER BY k)
),
f2 AS MATERIALIZED (
  SELECT key, k, n,
         re * (exp(l - CASE WHEN lm IS NULL THEN (l + lp) / 2
                            WHEN lp IS NULL THEN (lm + l) / 2
                            ELSE (lm + l + lp) / 3 END) / amp) AS re2,
         im * (exp(l - CASE WHEN lm IS NULL THEN (l + lp) / 2
                            WHEN lp IS NULL THEN (lm + l) / 2
                            ELSE (lm + l + lp) / 3 END) / amp) AS im2
  FROM ma
),
ifft AS (
  SELECT f.key, s.bucket, any_value(f.n) AS n,
         sum(f.re2 * cos(2 * pi() * ((f.k * s.j) % f.n) / f.n)
             - f.im2 * sin(2 * pi() * ((f.k * s.j) % f.n) / f.n)) AS sr,
         sum(f.re2 * sin(2 * pi() * ((f.k * s.j) % f.n) / f.n)
             + f.im2 * cos(2 * pi() * ((f.k * s.j) % f.n) / f.n)) AS si
  FROM f2 f JOIN s2 s ON s.key = f.key
  GROUP BY 1, 2
)
SELECT key AS user_id, bucket,
       round_even(sqrt(sr * sr + si * si) / n, 4) + 0.0 AS salience
FROM ifft
"""

QUERIES["spectral_residual"] = q_spectral_residual
ORACLES["spectral_residual"] = SQL_SPECTRAL_RESIDUAL


def q_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CMS counter build maintained by a real Structured
    Streaming query: events replayed through a file stream, final
    nonzero counter cells per daily bucket. Counters are commutative
    sums, so the final snapshot must equal the BATCH cells chain for
    any arrival order."""
    import uuid

    from .streaming.sketch import cms_stream

    name = "cms_sink_" + uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props map<string,string>"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_type", F.unix_timestamp("ts").alias("sec"))
    )
    out = cms_stream(stream, bucket_sec=86400, item_col="event_type",
                     ts_col="sec")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"""
        SELECT bucket, r, c, cell_cnt FROM (
          SELECT *, row_number() OVER (
            PARTITION BY bucket, r, c ORDER BY n_seen DESC) AS rn
          FROM {name}) WHERE rn = 1
        """
    )


SQL_CMS_STREAM = r"""
WITH hashed AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS bucket,
         CAST(('0x' || substr(md5('s0:' || CAST(event_type AS VARCHAR)), 1, 8))
              AS BIGINT) % 256 AS c0,
         CAST(('0x' || substr(md5('s0:' || CAST(event_type AS VARCHAR)), 9, 8))
              AS BIGINT) % 256 AS c1,
         CAST(('0x' || substr(md5('s0:' || CAST(event_type AS VARCHAR)), 17, 8))
              AS BIGINT) % 256 AS c2,
         CAST(('0x' || substr(md5('s0:' || CAST(event_type AS VARCHAR)), 25, 8))
              AS BIGINT) % 256 AS c3
  FROM events
)
SELECT bucket, CAST(r AS INT) AS r, CAST(c AS INT) AS c,
       CAST(count(*) AS BIGINT) AS cell_cnt
FROM (
  SELECT bucket, 0 AS r, c0 AS c FROM hashed
  UNION ALL SELECT bucket, 1, c1 FROM hashed
  UNION ALL SELECT bucket, 2, c2 FROM hashed
  UNION ALL SELECT bucket, 3, c3 FROM hashed
) GROUP BY 1, 2, 3
"""

QUERIES["cms_stream"] = q_cms_stream
ORACLES["cms_stream"] = SQL_CMS_STREAM


def q_haar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized Haar wavelet decomposition per user series over
    hourly micro-unit bucket sums — integer-exact multi-resolution
    coefficients (each level is a coarser retention tier)."""
    from .operators.rollup import haar_transform

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    return haar_transform(ev, bucket_sec=3600, key_col="user_id",
                          ts_col="sec")


SQL_HAAR = r"""
WITH RECURSIVE cells AS (
  SELECT user_id AS key,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket,
         sum(CAST(round(value * 1000000) AS BIGINT)) AS su
  FROM events GROUP BY 1, 2
),
base AS MATERIALIZED (
  SELECT key, list(su ORDER BY bucket) AS all_vals, count(*) AS n
  FROM cells GROUP BY key HAVING count(*) >= 2
),
tr AS MATERIALIZED (
  SELECT key, all_vals[1:CAST(pow(2, floor(log2(n))) AS BIGINT)] AS vals
  FROM base
),
rec AS (
  SELECT key, 0 AS level, vals FROM tr
  UNION ALL
  SELECT key, level + 1,
         list_transform(range(CAST(len(vals) / 2 AS BIGINT)),
                        i -> vals[2*i+1] + vals[2*i+2])
  FROM rec WHERE len(vals) > 1
),
details AS (
  SELECT key, CAST(level + 1 AS INT) AS level,
         unnest(range(CAST(len(vals) / 2 AS BIGINT))) AS idx,
         unnest(list_transform(range(CAST(len(vals) / 2 AS BIGINT)),
                               i -> vals[2*i+1] - vals[2*i+2])) AS coef,
         0 AS is_approx
  FROM rec WHERE len(vals) > 1
),
approx AS (
  SELECT r.key, CAST(b.lvl AS INT) AS level, CAST(0 AS BIGINT) AS idx,
         r.vals[1] AS coef, 1 AS is_approx
  FROM rec r
  JOIN (SELECT key, max(level) AS lvl FROM rec GROUP BY key) b
    ON b.key = r.key AND b.lvl = r.level
)
SELECT key AS user_id, level, CAST(idx AS BIGINT) AS idx,
       CAST(coef AS BIGINT) AS coef, CAST(is_approx AS INT) AS is_approx
FROM details
UNION ALL
SELECT key AS user_id, level, idx, CAST(coef AS BIGINT), CAST(is_approx AS INT)
FROM approx
"""

QUERIES["haar"] = q_haar
ORACLES["haar"] = SQL_HAAR


def q_fuzzy_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 vocabulary pairs (SymSpell symmetric-delete
    candidates, levenshtein-verified) — typo clustering over the
    part-name vocabulary (the documents vocabulary is a fixed 30-word
    list with no ed-1 pairs; part names carry real near-words like
    red/rod, cold/old, so the gate exercises actual hits)."""
    from .operators.text import fuzzy_vocab_pairs

    parts = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_name").alias("text")
    )
    return fuzzy_vocab_pairs(parts)


SQL_FUZZY_VOCAB = r"""
WITH wl AS (
  SELECT string_split_regex(lower(trim(p_name)), '\s+') AS words FROM part
),
toks AS (
  SELECT words[i] AS word
  FROM wl, unnest(generate_series(1, len(words))) AS u(i)
  WHERE regexp_full_match(words[i], '[a-z0-9]+')
    AND length(words[i]) BETWEEN 3 AND 24
),
vocab AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1
),
variants AS MATERIALIZED (
  SELECT word, cnt,
         CASE WHEN i = 0 THEN word
              ELSE substr(word, 1, i - 1) || substr(word, i + 1) END AS variant
  FROM vocab, unnest(generate_series(0, length(word))) AS u(i)
)
SELECT DISTINCT a.word AS word_a, b.word AS word_b,
       a.cnt AS cnt_a, b.cnt AS cnt_b,
       CAST(levenshtein(a.word, b.word) AS INT) AS dist
FROM variants a JOIN variants b ON b.variant = a.variant
WHERE a.word < b.word AND levenshtein(a.word, b.word) <= 1
"""

QUERIES["fuzzy_vocab"] = q_fuzzy_vocab
ORACLES["fuzzy_vocab"] = SQL_FUZZY_VOCAB


def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order layout keys over (user_id, hourly bucket) —
    the 2-D file-clustering key, exact integer bit-interleave shared
    verbatim with the oracle."""
    from .operators.rollup import zorder_key

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "user_id",
        F.floor(F.unix_timestamp("ts").cast("long") / 3600)
        .cast("long")
        .alias("bucket"),
    )
    out = zorder_key(ev, "user_id", "bucket", bits=16)
    return out.select("event_id", "user_id", "bucket", "zkey")


def _zorder_sql() -> str:
    from .operators.rollup import zorder_expr

    expr = zorder_expr("(CAST(user_id AS BIGINT) & 65535)",
                       "(bucket & 65535)", 16)
    return f"""
WITH ev AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket
  FROM events
)
SELECT event_id, user_id, bucket, CAST({expr} AS BIGINT) AS zkey FROM ev
"""


SQL_ZORDER = _zorder_sql()

QUERIES["zorder"] = q_zorder
ORACLES["zorder"] = SQL_ZORDER


def q_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket rate-limiter replay (capacity 5, refill 1/s) per
    user — integer-only sequential state, recursive-CTE-replayed
    exactly."""
    from .operators.rollup import rate_limit_replay

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "event_id"
    )
    return rate_limit_replay(ev, capacity=5, refill_per_sec=1,
                             key_col="user_id", ts_col="sec")


SQL_RATE_LIMIT = r"""
WITH RECURSIVE base AS MATERIALIZED (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
           AS i
  FROM events
),
rec AS (
  SELECT key, i, sec, event_id,
         CAST(1 AS INT) AS allowed, CAST(4 AS BIGINT) AS tokens
  FROM base WHERE i = 1
  UNION ALL
  SELECT nb.key, nb.i, nb.sec, nb.event_id,
         CASE WHEN least(5, r.tokens + (nb.sec - r.sec) * 1) >= 1
              THEN CAST(1 AS INT) ELSE CAST(0 AS INT) END,
         CASE WHEN least(5, r.tokens + (nb.sec - r.sec) * 1) >= 1
              THEN least(5, r.tokens + (nb.sec - r.sec) * 1) - 1
              ELSE least(5, r.tokens + (nb.sec - r.sec) * 1) END
  FROM rec r JOIN base nb ON nb.key = r.key AND nb.i = r.i + 1
)
SELECT key AS user_id, sec, event_id, allowed, tokens AS tokens_after
FROM rec
"""

QUERIES["rate_limit"] = q_rate_limit
ORACLES["rate_limit"] = SQL_RATE_LIMIT


def q_attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution pairs (purchase within 1h of the
    click, per user) computed by a REAL watermarked stream-stream inner
    join — pure JVM, append mode — and gated by the plain relational
    pair join in SQL."""
    import uuid

    from .streaming.joins import attribute_stream

    name = "attr_sink_" + uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def read_events() -> DataFrame:
        return (
            spark.readStream.schema(
                "event_id long, ts timestamp_ntz, user_id long, "
                "event_type string, value double, props map<string,string>"
            )
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    clicks = read_events().where(F.col("event_type") == "click")
    purchases = read_events().where(F.col("event_type") == "purchase")
    out = attribute_stream(clicks, purchases, window_sec=3600)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"SELECT user_id, click_id, purchase_id, lag_sec FROM {name}"
    )


SQL_ATTRIBUTION = r"""
WITH c AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       CAST(p.sec - c.sec AS BIGINT) AS lag_sec
FROM c JOIN p ON p.user_id = c.user_id
WHERE p.sec >= c.sec AND p.sec <= c.sec + 3600
"""

QUERIES["attribution_stream"] = q_attribution_stream
ORACLES["attribution_stream"] = SQL_ATTRIBUTION


def q_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day from merged HLL registers
    (register explode to target buckets — no range join, no re-read of
    raw rows); oracle recomputes each window from raw events."""
    from .operators.sketch import hll_sliding_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    return hll_sliding_rollup(ev, bucket_sec=86400, window_buckets=7,
                              item_col="user_id", ts_col="sec")


SQL_HLL_SLIDING = r"""
WITH rows_ AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS bucket,
         CAST(('0x' || substr(md5('s0:' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM events
),
buckets AS (SELECT DISTINCT bucket FROM rows_),
reg AS (
  SELECT b.bucket AS bucket, CAST(r.h % 512 AS INT) AS idx,
         max(CAST(round(log2(((r.h // 512) | 8388608)
                             & -((r.h // 512) | 8388608))) AS INT) + 1) AS reg
  FROM rows_ r JOIN buckets b
    ON r.bucket BETWEEN b.bucket - 6 AND b.bucket
  GROUP BY 1, 2
),
agg AS (
  SELECT bucket,
         CAST(512 - count(*) AS BIGINT) AS zeros,
         sum(CAST(1 AS BIGINT) << (24 - reg)) AS z_present
  FROM reg GROUP BY 1
),
z AS (
  SELECT bucket, zeros,
         CAST(z_present + zeros * (CAST(1 AS BIGINT) << 24) AS BIGINT) AS z_int
  FROM agg
)
SELECT bucket, zeros, z_int,
       round(CASE WHEN 0.7213 / (1.0 + 1.079 / 512.0) * 262144.0 * 16777216.0
                       / z_int <= 1280.0 AND zeros > 0
                  THEN 512.0 * ln(512.0 / zeros)
                  ELSE 0.7213 / (1.0 + 1.079 / 512.0) * 262144.0 * 16777216.0
                       / z_int END, 6) AS est
FROM z
"""

QUERIES["hll_sliding"] = q_hll_sliding
ORACLES["hll_sliding"] = SQL_HLL_SLIDING


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced source sampling (T=2, sample_frac=0.5):
    corpus-derived √n quotas, integer keep decision on the doc's md5
    uniform. Audit view — every doc with its kept flag."""
    from .operators.tokens import temperature_sample

    out = temperature_sample(_documents(spark, sf_dir), sample_frac=0.5)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source", "n_source", "r_int", "kept",
    )


SQL_TEMPERATURE_MIX = r"""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_source FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_source) AS DOUBLE) AS n_total,
         round(sum(sqrt(CAST(n_source AS DOUBLE))), 9) AS w_total
  FROM counts
),
rates AS (
  SELECT source, n_source,
         CAST(round(least(1.0, 0.5 * t.n_total * sqrt(CAST(n_source AS DOUBLE))
                          / (t.w_total * CAST(n_source AS DOUBLE)))
                    * 1000000) AS BIGINT) AS r_int
  FROM counts, tot t
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source, r.n_source, r.r_int,
       CAST(CASE WHEN CAST(('0x' || substr(md5('s3:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % 1000000 < r.r_int
                 THEN 1 ELSE 0 END AS INT) AS kept
FROM documents d JOIN rates r USING (source)
"""

QUERIES["temperature_mix"] = q_temperature_mix
ORACLES["temperature_mix"] = SQL_TEMPERATURE_MIX


def q_tier2_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles served ENTIRELY from merged tiers: hourly 16-bin
    histograms merged into daily buckets (histogram_rerollup), then
    histogram_quantile(0.95) over the merged bins — the query path a
    tiered store actually uses for old data. Oracle recomputes the
    daily histogram from raw and lerps: bin merge is an exact integer
    identity, so the tiered path must match the raw path bit for bit."""
    from .operators.rollup import histogram_quantile, histogram_rerollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    hist2 = histogram_rerollup(ev, 3600, 86400, lo=-5.0, hi=5.0, n_bins=16,
                               key_col="user_id", pos_col="sec")
    out = histogram_quantile(hist2, q=0.95, lo=-5.0, hi=5.0, n_bins=16,
                             key_col="user_id")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        "total",
        F.col("qbin").cast("bigint").alias("qbin"),
        "qvalue",
    )


SQL_TIER2_QUANTILE = SQL_HISTOGRAM_QUANTILE.replace("21600", "86400")

QUERIES["tier2_quantile"] = q_tier2_quantile
ORACLES["tier2_quantile"] = SQL_TIER2_QUANTILE


def q_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline change-point per user series (binary-segmentation SSE
    split over 6h micro-unit bucket sums) — zero-rounding deterministic
    objective, smaller-k tie-break."""
    from .operators.rollup import change_point

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    return change_point(ev, bucket_sec=21600, min_seg=2,
                        key_col="user_id", ts_col="sec")


SQL_CHANGE_POINT = r"""
WITH cells AS (
  SELECT user_id AS key,
         CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
         sum(CAST(round(value * 1000000) AS BIGINT)) AS su
  FROM events GROUP BY 1, 2
),
pre AS (
  SELECT key, bucket,
         row_number() OVER w AS j,
         sum(su) OVER (PARTITION BY key ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
         count(*) OVER (PARTITION BY key) AS n,
         sum(su) OVER (PARTITION BY key) AS t
  FROM cells WINDOW w AS (PARTITION BY key ORDER BY bucket)
),
cand AS (
  SELECT key, bucket, j AS k, n,
         CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(j AS DOUBLE)
           + CAST(t - s AS DOUBLE) * CAST(t - s AS DOUBLE)
             / CAST(n - j AS DOUBLE) AS obj,
         CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(j AS DOUBLE)
           + CAST(t - s AS DOUBLE) * CAST(t - s AS DOUBLE)
             / CAST(n - j AS DOUBLE)
           - CAST(t AS DOUBLE) * CAST(t AS DOUBLE) / CAST(n AS DOUBLE) AS gain
  FROM pre WHERE j >= 2 AND j <= n - 2
),
best AS (
  SELECT key, k, n, gain,
         row_number() OVER (PARTITION BY key ORDER BY obj DESC, k ASC) AS rn
  FROM cand
)
SELECT b.key AS user_id, b.k, b.n, p.bucket AS split_bucket, b.gain
FROM best b JOIN pre p ON p.key = b.key AND p.j = b.k + 1
WHERE b.rn = 1
"""

QUERIES["change_point"] = q_change_point
ORACLES["change_point"] = SQL_CHANGE_POINT


def q_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical grouping-sets aggregation via Spark's NATIVE
    rollup(): (event_type, day) counts + micro-unit value sums with
    subtotal and grand-total rows — the OLAP totals surface, gated
    against DuckDB's GROUP BY ROLLUP. GROUPING() flags disambiguate
    real NULL keys from subtotal NULLs (integer-only output)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.floor(F.unix_timestamp("ts").cast("long") / 86400)
        .cast("long")
        .alias("day"),
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("vu"),
    )
    return (
        ev.rollup("event_type", "day")
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.sum("vu").alias("sum_u"),
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
        )
        .select("event_type", "day", "cnt", "sum_u", "g_type", "g_day")
    )


SQL_ROLLUP_CUBE = r"""
SELECT event_type,
       CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_u,
       CAST(CASE WHEN GROUPING(event_type) THEN 1 ELSE 0 END AS INT) AS g_type,
       CAST(CASE WHEN GROUPING(CAST(floor(epoch(ts)) AS BIGINT) // 86400)
                 THEN 1 ELSE 0 END AS INT) AS g_day
FROM events
GROUP BY ROLLUP (event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400)
"""

QUERIES["rollup_cube"] = q_rollup_cube
ORACLES["rollup_cube"] = SQL_ROLLUP_CUBE


def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion per (user, 2h-gap session): signup → click →
    purchase within one visit — integer min-aggregates over the shared
    session-assignment stage."""
    from .operators.rollup import session_funnel

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "event_type",
        "event_id",
    )
    return session_funnel(ev, ["signup", "click", "purchase"], gap=7200,
                          key_col="user_id", ts_col="sec",
                          tie_col="event_id")


SQL_SESSION_FUNNEL = r"""
WITH rows_ AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         event_type AS etype, event_id AS eid
  FROM events
),
assigned AS (
  SELECT key, sec, etype,
         CAST(sum(CASE WHEN prev IS NULL OR sec - prev > 7200
                       THEN 1 ELSE 0 END)
                OVER (PARTITION BY key ORDER BY sec, eid
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
              AS BIGINT) AS session_idx
  FROM (
    SELECT key, sec, etype, eid,
           lag(sec) OVER (PARTITION BY key ORDER BY sec, eid) AS prev
    FROM rows_
  )
),
s1 AS (
  SELECT key, session_idx, min(sec) AS t1
  FROM assigned WHERE etype = 'signup' GROUP BY 1, 2
),
s2 AS (
  SELECT a.key, a.session_idx, min(a.sec) AS t2
  FROM assigned a JOIN s1 ON s1.key = a.key AND s1.session_idx = a.session_idx
  WHERE a.etype = 'click' AND a.sec >= s1.t1
  GROUP BY 1, 2
),
s3 AS (
  SELECT a.key, a.session_idx, min(a.sec) AS t3
  FROM assigned a
  JOIN s2 ON s2.key = a.key AND s2.session_idx = a.session_idx
  WHERE a.etype = 'purchase' AND a.sec >= s2.t2
  GROUP BY 1, 2
)
SELECT s1.key AS user_id, s1.session_idx, s1.t1, s2.t2, s3.t3,
       CAST(1 + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS steps_reached
FROM s1
LEFT JOIN s2 ON s2.key = s1.key AND s2.session_idx = s1.session_idx
LEFT JOIN s3 ON s3.key = s1.key AND s3.session_idx = s1.session_idx
"""

QUERIES["session_funnel"] = q_session_funnel
ORACLES["session_funnel"] = SQL_SESSION_FUNNEL


#: consensus-motif doc-length floor (tokens) — long enough to make the
#: cross-series radius meaningful, small enough that the O(n_a·n_b) SQL
#: replay stays cheap at sf0.01
CONSENSUS_MIN = 50


def q_consensus_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consensus motif across tokenized docs (Ostinato-lite, after
    stumpy's ostinato): over the 4 smallest qualifying docs, each
    position's RADIUS is the max over the other docs of its min
    z-normalized cross-distance; the per-doc consensus is the argmin
    radius. Pair profiles come from the AB-join kernel; each pair min
    rounds r4 BEFORE the max (both engines then max identical values)
    and ranks tie-break on (radius, pos / doc) — no float argmin."""
    from .operators import matrix_profile_join
    from pyspark.sql.window import Window

    tok = _tokenized(spark, sf_dir).filter(F.col("n_tok") >= CONSENSUS_MIN)
    k4 = (
        tok.select(F.col("doc_id").cast("bigint").alias("doc_id"), "tokens")
        .orderBy("doc_id")
        .limit(4)
        .select(
            F.col("doc_id"),
            F.transform(F.col("tokens"), lambda t: t.cast("double")).alias(
                "tokens"
            ),
        )
    )
    ids = [r.doc_id for r in k4.select("doc_id").collect()]  # k-bounded
    if len(ids) < 2:
        return spark.createDataFrame(
            [], "doc_id bigint, pos bigint, radius double, rank int"
        )
    a = k4.select(
        F.col("doc_id").cast("string").alias("doc_id_a"),
        F.col("tokens").alias("tokens_a"),
    )
    b = k4.select(
        F.col("doc_id").cast("string").alias("doc_id_b"),
        F.col("tokens").alias("tokens_b"),
    )
    # UNORDERED pairs: the AB kernel emits BOTH sides ('a' = profile of
    # doc_a vs doc_b, 'b' = the reverse), so a < b halves the kernel
    # work vs ordered pairs (review finding)
    pairs = a.crossJoin(F.broadcast(b)).filter(
        F.col("doc_id_a") < F.col("doc_id_b")
    )
    prof = matrix_profile_join(pairs, W)
    both_sides = prof.filter(F.col("pi") >= 0).select(
        F.when(F.col("side") == "a", F.col("doc_id_a"))
        .otherwise(F.col("doc_id_b"))
        .cast("bigint")
        .alias("doc_id"),
        F.col("pos").cast("bigint").alias("pos"),
        _r4("mp").alias("md"),
    )
    radius = (
        both_sides
        .groupBy("doc_id", "pos")
        .agg(F.max("md").alias("radius"), F.count("*").alias("nb"))
        .filter(F.col("nb") == len(ids) - 1)
    )
    wdoc = Window.partitionBy("doc_id").orderBy(
        F.col("radius").asc(), F.col("pos").asc()
    )
    best = radius.withColumn("rn", F.row_number().over(wdoc)).filter(
        F.col("rn") == 1
    )
    wall = Window.orderBy(F.col("radius").asc(), F.col("doc_id").asc())
    return best.select(
        "doc_id", "pos", "radius",
        F.row_number().over(wall).cast("int").alias("rank"),
    )


SQL_CONSENSUS_MOTIF = f"""
WITH {_SQL_TOKEN_SERIES},
lens AS (
  SELECT doc_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= {CONSENSUS_MIN}
),
k4 AS (
  SELECT doc_id FROM lens ORDER BY CAST(doc_id AS BIGINT) LIMIT 4
),
kn AS (SELECT count(*) AS k FROM k4),
el AS (SELECT s.* FROM s JOIN k4 USING (doc_id)),
st AS (
  SELECT el.doc_id, el.pos,
         avg(value) OVER w AS mu,
         stddev_pop(value) OVER w AS sd,
         count(*) OVER w AS cnt
  FROM el
  WINDOW w AS (PARTITION BY el.doc_id ORDER BY el.pos
               ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
),
stats AS (
  SELECT doc_id, pos, mu, sd FROM st
  WHERE cnt = {W} AND sd >= 1e-7 * (abs(mu) + 1.0)
),
pr AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, a.pos AS t,
         b.pos - a.pos AS d, a.value * b.value AS p
  FROM el a JOIN el b ON a.doc_id <> b.doc_id
),
qt AS (
  SELECT ida, idb, t AS i, d,
         sum(p) OVER win AS qt,
         count(p) OVER win AS m
  FROM pr
  WINDOW win AS (PARTITION BY ida, idb, d ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
),
dists AS (
  SELECT q.ida, q.idb, q.i,
         sqrt(greatest(2.0 * {W} * (1.0 - (q.qt - {W} * si.mu * sj.mu)
              / ({W} * si.sd * sj.sd)), 0.0)) AS dist
  FROM qt q
  JOIN stats si ON si.doc_id = q.ida AND si.pos = q.i
  JOIN stats sj ON sj.doc_id = q.idb AND sj.pos = q.i + q.d
  WHERE q.m = {W}
),
mind AS (
  SELECT ida, idb, i, round(min(dist), 4) AS md
  FROM dists GROUP BY 1, 2, 3
),
radius AS (
  SELECT ida AS doc_id, i AS pos, max(md) AS radius, count(*) AS nb
  FROM mind GROUP BY 1, 2
),
rad AS (
  SELECT r.* FROM radius r, kn WHERE r.nb = kn.k - 1
),
best AS (
  SELECT doc_id, pos, radius,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY radius, pos) AS rn
  FROM rad
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(pos AS BIGINT) AS pos, radius,
       CAST(row_number() OVER (ORDER BY radius, CAST(doc_id AS BIGINT))
            AS INT) AS rank
FROM best WHERE rn = 1
"""

QUERIES["consensus_motif"] = q_consensus_motif
ORACLES["consensus_motif"] = SQL_CONSENSUS_MOTIF


def q_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate contamination matrix over the
    n-gram-Jaccard pairs (threshold 0.1) — duplicate-pair counts per
    unordered source pair."""
    from .operators.dedup import source_contamination

    return source_contamination(_documents(spark, sf_dir), threshold=0.1)


SQL_SOURCE_CONTAMINATION = f"""
WITH {_SQL_SHINGLES},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(i.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.inter) >= 0.1
),
tagged AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS dup_pairs
FROM tagged GROUP BY 1, 2
"""

QUERIES["source_contamination"] = q_source_contamination
ORACLES["source_contamination"] = SQL_SOURCE_CONTAMINATION


def q_subsequence_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-example subsequence search across the WHOLE tokenized
    corpus (the MASS-as-a-service flagship): the query is the first W
    tokens of the smallest qualifying doc (derived identically on both
    engines — no literals shipped), z-normalized distance to every
    admissible window of every doc, global top-20 ranked on the
    r4-rounded distance with (doc, pos) tie-break."""
    import numpy as np
    import pandas as pd

    from .mpcore.stats import lowvar_threshold
    from pyspark.sql.window import Window

    tok = _tokenized(spark, sf_dir).filter(F.col("n_tok") >= CONSENSUS_MIN)
    seqs = tok.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.transform(F.col("tokens"), lambda t: t.cast("double")).alias("tokens"),
    )
    qrow = seqs.orderBy("doc_id").limit(1).collect()
    if not qrow:
        return spark.createDataFrame(
            [], "doc_id bigint, pos bigint, dist_r double, rank int"
        )
    q = np.asarray(qrow[0].tokens[:W], dtype=np.float64)
    qmu = float(q.mean())
    qsd = float(q.std())
    if qsd < lowvar_threshold(qmu):
        return spark.createDataFrame(
            [], "doc_id bigint, pos bigint, dist_r double, rank int"
        )
    schema = "doc_id long, pos long, dist double"

    def kernel(batches):
        for pdf in batches:
            out = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                v = np.asarray(tokens, dtype=np.float64)
                if v.shape[0] < W:
                    continue
                win = np.lib.stride_tricks.sliding_window_view(v, W)
                mu = win.mean(axis=1)
                sd = win.std(axis=1)
                dot = win @ q
                ok = sd >= lowvar_threshold(mu)
                dp = np.where(
                    ok,
                    2.0 * W * (1.0 - (dot - W * mu * qmu) / (W * sd * qsd)),
                    np.nan,
                )
                dist = np.sqrt(np.maximum(dp, 0.0))
                pos = np.nonzero(ok)[0]
                if pos.size:
                    out.append(
                        pd.DataFrame(
                            {
                                "doc_id": np.repeat(doc_id, pos.size),
                                "pos": pos.astype(np.int64),
                                "dist": dist[pos],
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    n_parts = spark.sparkContext.defaultParallelism
    prof = seqs.repartition(n_parts).mapInPandas(kernel, schema)
    ranked = prof.select(
        "doc_id", "pos", _r4("dist").alias("dist_r")
    ).withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("dist_r").asc(), F.col("doc_id").asc(),
                             F.col("pos").asc()))
        .cast("int"),
    )
    return ranked.filter(F.col("rank") <= 20).select(
        "doc_id", F.col("pos").cast("bigint").alias("pos"), "dist_r", "rank"
    )


SQL_SUBSEQUENCE_SEARCH = f"""
WITH {_SQL_TOKEN_SERIES},
lens AS (
  SELECT doc_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= {CONSENSUS_MIN}
),
qdoc AS (SELECT doc_id FROM lens ORDER BY CAST(doc_id AS BIGINT) LIMIT 1),
q AS (
  SELECT s.pos AS i, s.value AS qv FROM s JOIN qdoc USING (doc_id)
  WHERE s.pos < {W}
),
qstats AS (SELECT avg(qv) AS mu, stddev_pop(qv) AS sd FROM q),
el AS (SELECT s.* FROM s JOIN lens USING (doc_id)),
st AS (
  SELECT el.doc_id, el.pos,
         avg(value) OVER w AS mu,
         stddev_pop(value) OVER w AS sd,
         count(*) OVER w AS cnt
  FROM el
  WINDOW w AS (PARTITION BY el.doc_id ORDER BY el.pos
               ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
),
stats AS (
  SELECT doc_id, pos, mu, sd FROM st
  WHERE cnt = {W} AND sd >= 1e-7 * (abs(mu) + 1.0)
),
dots AS (
  SELECT el.doc_id, el.pos - q.i AS j, sum(el.value * q.qv) AS dot,
         count(*) AS m
  FROM el JOIN q ON el.pos - q.i >= 0
  GROUP BY 1, 2
),
dists AS (
  SELECT d.doc_id, d.j,
         sqrt(greatest(2.0 * {W} * (1.0 - (d.dot - {W} * t.mu * qs.mu)
              / ({W} * t.sd * qs.sd)), 0.0)) AS dist
  FROM dots d
  JOIN stats t ON t.doc_id = d.doc_id AND t.pos = d.j
  CROSS JOIN qstats qs
  WHERE d.m = {W} AND qs.sd >= 1e-7 * (abs(qs.mu) + 1.0)
),
ranked AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(j AS BIGINT) AS pos,
         round(dist, 4) AS dist_r,
         CAST(row_number() OVER (ORDER BY round(dist, 4),
                                 CAST(doc_id AS BIGINT), j) AS INT) AS rank
  FROM dists
)
SELECT doc_id, pos, dist_r, rank FROM ranked WHERE rank <= 20
"""

QUERIES["subsequence_search"] = q_subsequence_search
ORACLES["subsequence_search"] = SQL_SUBSEQUENCE_SEARCH


def q_behavior_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 consecutive event-type trigrams across all user streams
    (behavioral n-gram census) — total (ts, event_id) order, integer
    counts, deterministic (cnt DESC, gram ASC) rank."""
    from .operators.rollup import behavior_ngrams

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "event_type",
        "event_id",
    )
    return behavior_ngrams(ev, n=3, top_k=25, key_col="user_id",
                           ts_col="sec")


SQL_BEHAVIOR_NGRAMS = r"""
WITH rows_ AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         event_id AS tie, event_type AS e0
  FROM events
),
leads AS (
  SELECT e0,
         lead(e0, 1) OVER w AS e1,
         lead(e0, 2) OVER w AS e2
  FROM rows_ WINDOW w AS (PARTITION BY key ORDER BY sec, tie)
),
counted AS (
  SELECT e0 || '>' || e1 || '>' || e2 AS gram,
         CAST(count(*) AS BIGINT) AS cnt
  FROM leads
  WHERE e0 IS NOT NULL AND e1 IS NOT NULL AND e2 IS NOT NULL
  GROUP BY 1
),
ranked AS (
  SELECT gram, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, gram ASC) AS INT) AS rank
  FROM counted
)
SELECT gram, cnt, rank FROM ranked WHERE rank <= 25
"""

QUERIES["behavior_ngrams"] = q_behavior_ngrams
ORACLES["behavior_ngrams"] = SQL_BEHAVIOR_NGRAMS


def q_weighted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted z-normalized distance profiles corpus-wide — the
    mass_weighted kernel (FFT convolution form, mass-pre-w.R:37-91 /
    mass_weighted.R:45-72) gated by the exact three-sum relational
    expansion (A−2μB+sumw·μ²)/σ² − 2(C−sumwy·μ)/σ + sumwy2. Weights
    ramp 1..W (exact integers); query = first W tokens of the smallest
    qualifying doc. Measured FFT-vs-exact drift ≤ 2.4e-12 absolute on
    token magnitudes — the r4 gate has 7 orders of margin."""
    import numpy as np
    import pandas as pd

    from .mpcore.mass import mass_pre_weighted, mass_weighted
    from .mpcore.stats import lowvar_threshold

    tok = _tokenized(spark, sf_dir).filter(F.col("n_tok") >= CONSENSUS_MIN)
    seqs = tok.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.transform(F.col("tokens"), lambda t: t.cast("double")).alias("tokens"),
    )
    qrow = seqs.orderBy("doc_id").limit(1).collect()
    empty_schema = "doc_id bigint, pos bigint, wdp_r double"
    if not qrow:
        return spark.createDataFrame([], empty_schema)
    q = np.asarray(qrow[0].tokens[:W], dtype=np.float64)
    qmu, qsd = float(q.mean()), float(q.std())
    if qsd < lowvar_threshold(qmu):
        return spark.createDataFrame([], empty_schema)
    wt = np.arange(1, W + 1, dtype=np.float64)
    schema = "doc_id long, pos long, wdp double"

    def kernel(batches):
        for pdf in batches:
            out = []
            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                v = np.asarray(tokens, dtype=np.float64)
                if v.shape[0] < W:
                    continue
                pre = mass_pre_weighted(v, W, wt)
                dp, _ = mass_weighted(pre, q, qmu, qsd)
                ok = (
                    np.isfinite(dp)
                    & (pre.data_sd >= lowvar_threshold(pre.data_mean))
                )
                pos = np.nonzero(ok)[0]
                if pos.size:
                    out.append(
                        pd.DataFrame(
                            {
                                "doc_id": np.repeat(doc_id, pos.size),
                                "pos": pos.astype(np.int64),
                                "wdp": dp[pos],
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    n_parts = spark.sparkContext.defaultParallelism
    prof = seqs.repartition(n_parts).mapInPandas(kernel, schema)
    return prof.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        (_r4("wdp") + F.lit(0.0)).alias("wdp_r"),
    )


SQL_WEIGHTED_SEARCH = f"""
WITH {_SQL_TOKEN_SERIES},
lens AS (
  SELECT doc_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= {CONSENSUS_MIN}
),
qdoc AS (SELECT doc_id FROM lens ORDER BY CAST(doc_id AS BIGINT) LIMIT 1),
q AS (
  SELECT s.pos AS i, s.value AS qv, s.pos + 1.0 AS wt
  FROM s JOIN qdoc USING (doc_id) WHERE s.pos < {W}
),
qstats AS (SELECT avg(qv) AS mu, stddev_pop(qv) AS sd FROM q),
qz AS (
  SELECT q.i, q.wt, (q.qv - qs.mu) / qs.sd AS z
  FROM q CROSS JOIN qstats qs
  WHERE qs.sd >= 1e-7 * (abs(qs.mu) + 1.0)
),
qagg AS (
  SELECT sum(wt) AS sumw, sum(wt * z) AS sumwy, sum(wt * z * z) AS sumwy2
  FROM qz
),
el AS (SELECT s.* FROM s JOIN lens USING (doc_id)),
st AS (
  SELECT el.doc_id, el.pos,
         avg(value) OVER w AS mu,
         stddev_pop(value) OVER w AS sd,
         count(*) OVER w AS cnt
  FROM el
  WINDOW w AS (PARTITION BY el.doc_id ORDER BY el.pos
               ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
),
stats AS (
  SELECT doc_id, pos, mu, sd FROM st
  WHERE cnt = {W} AND sd >= 1e-7 * (abs(mu) + 1.0)
),
sums AS (
  SELECT el.doc_id, el.pos - z.i AS j,
         sum(z.wt * el.value * el.value) AS a,
         sum(z.wt * el.value) AS b,
         sum(z.wt * z.z * el.value) AS c,
         count(*) AS m
  FROM el JOIN qz z ON el.pos - z.i >= 0
  GROUP BY 1, 2
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id, CAST(u.j AS BIGINT) AS pos,
       round((u.a - 2.0 * t.mu * u.b + g.sumw * t.mu * t.mu) / (t.sd * t.sd)
             - 2.0 * (u.c - g.sumwy * t.mu) / t.sd + g.sumwy2, 4) + 0.0 AS wdp_r
FROM sums u
JOIN stats t ON t.doc_id = u.doc_id AND t.pos = u.j
CROSS JOIN qagg g
WHERE u.m = {W}
"""

QUERIES["weighted_search"] = q_weighted_search
ORACLES["weighted_search"] = SQL_WEIGHTED_SEARCH


def q_interval_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downtime gaps per user: the complement of the coalesced coverage
    islands — integer-only lead over the single-exchange coalesce."""
    from .operators.rollup import interval_gaps

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sec = F.unix_timestamp("ts").cast("long")
    iv = ev.select(
        "user_id",
        sec.alias("start"),
        (sec + 3600 + F.floor(F.abs(F.col("value")) * 600).cast("long"))
        .alias("end"),
    )
    return interval_gaps(iv, key_col="user_id")


SQL_INTERVAL_GAPS = r"""
WITH iv AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 3600
           + CAST(floor(abs(value) * 600) AS BIGINT) AS e
  FROM events
),
m AS (
  SELECT key, s, e,
         max(e) OVER (PARTITION BY key ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM iv
),
isl AS (
  SELECT key, s, e,
         sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
           OVER (PARTITION BY key ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
),
islands AS (
  SELECT key, CAST(island AS BIGINT) AS island,
         min(s) AS start, max(e) AS end_
  FROM isl GROUP BY 1, 2
),
gaps AS (
  SELECT key, island, end_,
         lead(start) OVER (PARTITION BY key ORDER BY island) AS next_start
  FROM islands
)
SELECT key AS user_id, island AS gap_after_island,
       end_ AS gap_start, next_start AS gap_end,
       next_start - end_ AS duration
FROM gaps WHERE next_start IS NOT NULL
"""

QUERIES["interval_gaps"] = q_interval_gaps
ORACLES["interval_gaps"] = SQL_INTERVAL_GAPS


def q_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (MinHash-LSH) decontamination: near-dup pairs between the
    train split (doc_id % 17 != 0) and the benchmark split (doc_id % 17
    == 0) at est_jaccard >= 0.25 — the approximate companion of the
    exact 13-gram decontamination gate."""
    from .operators.dedup import minhash_cross_pairs

    docs = _documents(spark, sf_dir)
    train = docs.where(F.col("doc_id") % 17 != 0)
    bench = docs.where(F.col("doc_id") % 17 == 0)
    out = minhash_cross_pairs(train, bench, num_hashes=8, bands=4,
                              threshold=0.25)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("bench_id").cast("bigint").alias("bench_id"),
        "n_agree",
        _r4("est_jaccard").alias("est_jaccard"),
    )


SQL_FUZZY_DECONTAMINATION = f"""
WITH {_sql_minhash(8)},
banded AS (
  SELECT doc_id, CAST(floor(hash_idx / 2) AS INT) AS band,
         string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY hash_idx) AS key
  FROM minhash GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS bench_id
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
  WHERE CAST(a.doc_id AS BIGINT) % 17 <> 0
    AND CAST(b.doc_id AS BIGINT) % 17 = 0
),
agree AS (
  SELECT c.doc_id, c.bench_id, CAST(count(*) AS BIGINT) AS n_agree
  FROM cand c
  JOIN minhash ma ON ma.doc_id = c.doc_id
  JOIN minhash mb ON mb.doc_id = c.bench_id AND mb.hash_idx = ma.hash_idx
                 AND mb.minhash = ma.minhash
  GROUP BY 1, 2
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(bench_id AS BIGINT) AS bench_id,
       n_agree, round(n_agree / 8.0, 4) AS est_jaccard
FROM agree WHERE n_agree / 8.0 >= 0.25
"""

QUERIES["fuzzy_decontamination"] = q_fuzzy_decontamination
ORACLES["fuzzy_decontamination"] = SQL_FUZZY_DECONTAMINATION


def q_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily A/B purchase-conversion z-test (arms = user_id % 2):
    integer counts, identical-float z², integer-decided significance."""
    from .operators.rollup import ab_conversion_ztest

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "event_type"
    )
    return ab_conversion_ztest(ev, bucket_sec=86400,
                               convert_type="purchase",
                               key_col="user_id", ts_col="sec")


SQL_AB_ZTEST = r"""
WITH rows_ AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS bucket,
         CAST(user_id % 2 AS INT) AS arm, user_id AS key,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events
),
per_user AS (
  SELECT bucket, arm, key, max(conv) AS converted
  FROM rows_ GROUP BY 1, 2, 3
),
per_bucket AS (
  SELECT bucket,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS c1
  FROM per_user GROUP BY 1
),
calc AS (
  SELECT bucket, n0, c0, n1, c1,
         CAST(c0 AS DOUBLE) * CAST(n1 AS DOUBLE)
           - CAST(c1 AS DOUBLE) * CAST(n0 AS DOUBLE) AS num,
         CAST(n0 + n1 AS DOUBLE) AS tot,
         CAST(c0 + c1 AS DOUBLE) AS conv,
         CAST(n0 + n1 - c0 - c1 AS DOUBLE) AS miss,
         CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)
           * CAST(c0 + c1 AS DOUBLE)
           * CAST(n0 + n1 - c0 - c1 AS DOUBLE) AS den
  FROM per_bucket
)
SELECT bucket, n0, c0, n1, c1,
       CASE WHEN n0 > 0 AND n1 > 0 AND conv > 0 AND miss > 0
            THEN round(sign(num) * sqrt(num * num * tot / den), 6)
            END AS z,
       CAST(CASE WHEN n0 > 0 AND n1 > 0 AND conv > 0 AND miss > 0
                      AND num * num * tot / den > 3.8416
                 THEN 1 ELSE 0 END AS INT) AS significant
FROM calc
"""

QUERIES["ab_ztest"] = q_ab_ztest
ORACLES["ab_ztest"] = SQL_AB_ZTEST


def q_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival curve over user lifetimes (days active span), ages
    0..30 — exact integer counts + identical-float fraction."""
    from .operators.rollup import retention_curve

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    return retention_curve(ev, bucket_sec=86400, max_age=30,
                           key_col="user_id", ts_col="sec")


SQL_RETENTION_CURVE = r"""
WITH lives AS (
  SELECT user_id AS key,
         max(CAST(floor(epoch(ts)) AS BIGINT) // 86400)
           - min(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS lifetime
  FROM events GROUP BY 1
),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM lives),
ages AS (
  SELECT unnest(range(least(lifetime, 30) + 1)) AS age FROM lives
),
curve AS (
  SELECT age, CAST(count(*) AS BIGINT) AS surviving FROM ages GROUP BY 1
)
SELECT CAST(c.age AS BIGINT) AS age, c.surviving, t.n_users,
       CAST(c.surviving AS DOUBLE) / CAST(t.n_users AS DOUBLE) AS fraction
FROM curve c CROSS JOIN total t
"""

QUERIES["retention_curve"] = q_retention_curve
ORACLES["retention_curve"] = SQL_RETENTION_CURVE


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type Markov transition matrix (counts + exact-ratio
    probabilities) over totally-ordered user streams."""
    from .operators.rollup import markov_transitions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "event_type",
        "event_id",
    )
    return markov_transitions(ev, key_col="user_id", ts_col="sec")


SQL_MARKOV_TRANSITIONS = r"""
WITH rows_ AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         event_id AS tie, event_type AS src
  FROM events
),
leads AS (
  SELECT src, lead(src) OVER (PARTITION BY key ORDER BY sec, tie) AS dst
  FROM rows_
),
counts AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
  FROM leads WHERE dst IS NOT NULL GROUP BY 1, 2
)
SELECT src, dst, cnt,
       CAST(sum(cnt) OVER (PARTITION BY src) AS BIGINT) AS row_total,
       CAST(cnt AS DOUBLE)
         / CAST(sum(cnt) OVER (PARTITION BY src) AS DOUBLE) AS prob
FROM counts
"""

QUERIES["markov_transitions"] = q_markov_transitions
ORACLES["markov_transitions"] = SQL_MARKOV_TRANSITIONS


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event burstiness per user (Goh–Barabási B) from exact
    integer gap moments."""
    from .operators.rollup import burstiness

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "event_id"
    )
    return burstiness(ev, key_col="user_id", ts_col="sec")


SQL_BURSTINESS = r"""
WITH rows_ AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         event_id AS tie
  FROM events
),
gaps AS (
  SELECT key, sec - lag(sec) OVER (PARTITION BY key ORDER BY sec, tie) AS gap
  FROM rows_
),
agg AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(gap) AS BIGINT) AS s1,
         CAST(sum(gap * gap) AS BIGINT) AS s2
  FROM gaps WHERE gap IS NOT NULL GROUP BY 1 HAVING count(*) >= 2
)
SELECT key AS user_id, n, s1, s2,
       CASE WHEN sqrt(greatest((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0.0))
                 + CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) > 0
            THEN (sqrt(greatest((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0.0))
                  - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 / (sqrt(greatest((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0.0))
                  + CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
            END AS burstiness
FROM agg
"""

QUERIES["burstiness"] = q_burstiness
ORACLES["burstiness"] = SQL_BURSTINESS


def q_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending event types per hour: exponentially-decayed counts as
    EXACT scaled integers (dyadic half-life, 16-bucket horizon), top-5
    per bucket with deterministic ties."""
    from .operators.rollup import decayed_topk

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec")
    )
    return decayed_topk(ev, bucket_sec=3600, horizon=16, top_k=5,
                        item_col="event_type", ts_col="sec")


SQL_DECAYED_TOPK = r"""
WITH counts AS (
  SELECT event_type AS item,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket,
         CAST(count(*) AS BIGINT) AS a
  FROM events GROUP BY 1, 2
),
observed AS (SELECT DISTINCT bucket FROM counts),
contrib AS (
  SELECT item, bucket + off AS bucket,
         a * (CAST(1 AS BIGINT) << CAST(15 - off AS INT)) AS w
  FROM counts, unnest(range(16)) AS u(off)
),
decayed AS (
  SELECT c.bucket, c.item, CAST(sum(c.w) AS BIGINT) AS decayed_scaled
  FROM contrib c JOIN observed o ON o.bucket = c.bucket
  GROUP BY 1, 2
),
ranked AS (
  SELECT bucket, item, decayed_scaled,
         CAST(row_number() OVER (PARTITION BY bucket
                                 ORDER BY decayed_scaled DESC, item ASC)
              AS INT) AS rank
  FROM decayed
)
SELECT bucket, item, decayed_scaled, rank FROM ranked WHERE rank <= 5
"""

QUERIES["decayed_topk"] = q_decayed_topk
ORACLES["decayed_topk"] = SQL_DECAYED_TOPK


def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU + stickiness per day — exact trailing distincts via
    the explode-merge pattern (no range join)."""
    from .operators.rollup import active_users

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    return active_users(ev, bucket_sec=86400, key_col="user_id",
                        ts_col="sec")


SQL_ACTIVE_USERS = r"""
WITH ud AS (
  SELECT DISTINCT user_id AS u,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
),
observed AS (SELECT DISTINCT day FROM ud),
contrib AS (
  SELECT u, off, day + off AS day FROM ud, unnest(range(30)) AS t(off)
),
agg AS (
  SELECT c.day,
         CAST(count(DISTINCT CASE WHEN c.off = 0 THEN c.u END) AS BIGINT) AS dau,
         CAST(count(DISTINCT CASE WHEN c.off < 7 THEN c.u END) AS BIGINT) AS wau,
         CAST(count(DISTINCT c.u) AS BIGINT) AS mau
  FROM contrib c JOIN observed o ON o.day = c.day
  GROUP BY 1
)
SELECT day, dau, wau, mau,
       CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) AS stickiness
FROM agg
"""

QUERIES["active_users"] = q_active_users
ORACLES["active_users"] = SQL_ACTIVE_USERS


def q_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state entropy of the event-type Markov chain (bits, r6) —
    how predictable the next action is from each state."""
    from .operators.rollup import behavior_entropy

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "event_type",
        "event_id",
    )
    return behavior_entropy(ev, key_col="user_id", ts_col="sec")


SQL_BEHAVIOR_ENTROPY = r"""
WITH rows_ AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         event_id AS tie, event_type AS src
  FROM events
),
leads AS (
  SELECT src, lead(src) OVER (PARTITION BY key ORDER BY sec, tie) AS dst
  FROM rows_
),
counts AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
  FROM leads WHERE dst IS NOT NULL GROUP BY 1, 2
),
probs AS (
  SELECT src, cnt,
         CAST(cnt AS DOUBLE)
           / CAST(sum(cnt) OVER (PARTITION BY src) AS DOUBLE) AS p
  FROM counts
)
SELECT src, round(sum(-(p * log2(p))), 6) AS entropy_bits,
       CAST(sum(cnt) AS BIGINT) AS n_transitions
FROM probs GROUP BY 1
"""

QUERIES["behavior_entropy"] = q_behavior_entropy
ORACLES["behavior_entropy"] = SQL_BEHAVIOR_ENTROPY


def q_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event-count inequality — exact
    integer numerator/denominator, one float division."""
    from .operators.rollup import activity_gini

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id")
    return activity_gini(ev, key_col="user_id")


SQL_ACTIVITY_GINI = r"""
WITH counts AS (
  SELECT user_id AS u, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
ranked AS (
  SELECT u, x,
         CAST(row_number() OVER (ORDER BY x ASC, u ASC) AS BIGINT) AS i
  FROM counts
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(x) AS BIGINT) AS total_events
  FROM ranked
)
SELECT t.n_users, t.total_events,
       CAST(sum((2 * r.i - t.n_users - 1) * r.x) AS DOUBLE)
         / (CAST(t.n_users AS DOUBLE) * CAST(t.total_events AS DOUBLE))
         AS gini
FROM ranked r CROSS JOIN tot t
GROUP BY t.n_users, t.total_events
"""

QUERIES["activity_gini"] = q_activity_gini
ORACLES["activity_gini"] = SQL_ACTIVITY_GINI


def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion-latency distribution: full-funnel
    users' t3−t1 bucketed into 6h bins over the 7-day window — the
    funnel chain composed with the histogram rollup, integer-only."""
    from .operators.rollup import funnel_steps

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "event_type"
    )
    fun = funnel_steps(ev, ["signup", "click", "purchase"],
                       window_sec=604800, key_col="user_id", ts_col="sec")
    lat = fun.filter(F.col("t3").isNotNull()).select(
        ((F.col("t3") - F.col("t1")) / 21600).cast("bigint").alias("bin")
    )
    return (
        lat.groupBy("bin")
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


SQL_FUNNEL_LATENCY = r"""
WITH rows_ AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type AS etype
  FROM events
),
s1 AS (
  SELECT key, min(sec) AS t1 FROM rows_ WHERE etype = 'signup' GROUP BY 1
),
s2 AS (
  SELECT r.key, min(r.sec) AS t2
  FROM rows_ r JOIN s1 ON s1.key = r.key
  WHERE r.etype = 'click' AND r.sec >= s1.t1 AND r.sec <= s1.t1 + 604800
  GROUP BY 1
),
s3 AS (
  SELECT r.key, min(r.sec) AS t3
  FROM rows_ r JOIN s1 ON s1.key = r.key JOIN s2 ON s2.key = r.key
  WHERE r.etype = 'purchase' AND r.sec >= s2.t2 AND r.sec <= s1.t1 + 604800
  GROUP BY 1
)
SELECT (s3.t3 - s1.t1) // 21600 AS bin, CAST(count(*) AS BIGINT) AS n_users
FROM s1 JOIN s3 ON s3.key = s1.key
GROUP BY 1
"""

QUERIES["funnel_latency"] = q_funnel_latency
ORACLES["funnel_latency"] = SQL_FUNNEL_LATENCY


def q_mpdist_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPdist 2-medoid clustering of tokenized docs (the MPdist paper's
    headline use case): full pairwise MPdist matrix over the 8 smallest
    qualifying docs, medoid1 = min total distance (integer r4-unit
    sums — float sum order cannot flip the pick), medoid2 = farthest
    from medoid1, every doc assigned to its nearer medoid (ties →
    medoid1; all comparisons on identical r4 doubles)."""
    import numpy as np
    import pandas as pd

    from .mpcore import mpdist as mpdist_kernel
    from .mpcore.stats import fast_avg_sd, lowvar_threshold
    from pyspark.sql.window import Window

    tok = _tokenized(spark, sf_dir).filter(F.col("n_tok") >= CONSENSUS_MIN)
    k8 = (
        tok.select(F.col("doc_id").cast("bigint").alias("doc_id"), "tokens")
        .orderBy("doc_id")
        .limit(8)
        .select(
            "doc_id",
            F.transform(F.col("tokens"), lambda t: t.cast("double")).alias(
                "tokens"
            ),
        )
    )
    a = k8.select(F.col("doc_id").alias("ida"), F.col("tokens").alias("ta"))
    b = k8.select(F.col("doc_id").alias("idb"), F.col("tokens").alias("tb"))
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("ida") < F.col("idb"))
    schema = "ida long, idb long, mpdist double"

    def kernel(batches):
        for pdf in batches:
            rows = []
            for ida, ta, idb, tb in zip(
                pdf["ida"], pdf["ta"], pdf["idb"], pdf["tb"]
            ):
                x = np.asarray(ta, dtype=np.float64)
                y = np.asarray(tb, dtype=np.float64)
                if x.shape[0] < W or y.shape[0] < W:
                    continue

                def ok(v):
                    mu, sd = fast_avg_sd(v, W)
                    return bool((sd >= lowvar_threshold(mu)).any())

                if not (ok(x) and ok(y)):
                    continue
                if y.shape[0] > x.shape[0]:
                    x, y = y, x
                rows.append(
                    {"ida": ida, "idb": idb,
                     "mpdist": mpdist_kernel(x, y, W)}
                )
            if rows:
                yield pd.DataFrame(rows)

    from .operators.cache import pin

    # the 28-pair kernel lineage branches ~10x below (sym/sums/m1/m2/
    # joins) — pin it once or every branch re-runs the mpdist kernel
    # (the CLAUDE.md Arrow-UDF branching rule; review finding)
    mpd = pin(
        pairs.mapInPandas(kernel, schema).select(
            "ida", "idb", _r4("mpdist").alias("d")
        )
    )
    sym = mpd.select("ida", "idb", "d").union(
        mpd.select(F.col("idb").alias("ida"), F.col("ida").alias("idb"), "d")
    )
    # integer r4-unit totals: float sum order cannot flip the medoid
    sums = sym.groupBy("ida").agg(
        F.sum(F.round(F.col("d") * 10000).cast("bigint")).alias("tot")
    )
    m1 = sums.orderBy(F.col("tot").asc(), F.col("ida").asc()).limit(1).select(
        F.col("ida").alias("medoid1")
    )
    m2 = (
        sym.join(F.broadcast(m1), sym.idb == F.col("medoid1"))
        .orderBy(F.col("d").desc(), F.col("ida").asc())
        .limit(1)
        .select(F.col("ida").alias("medoid2"))
    )
    docs8 = k8.select(F.col("doc_id").alias("doc"))
    d1 = sym.select(F.col("ida").alias("doc"), F.col("idb").alias("m"),
                    F.col("d").alias("dist"))
    base = docs8.crossJoin(F.broadcast(m1)).crossJoin(F.broadcast(m2))
    out = (
        base.join(
            d1.withColumnRenamed("dist", "d1"),
            (base.doc == d1.doc) & (F.col("m") == F.col("medoid1")),
            "left",
        )
        .drop(d1.doc)
        .drop("m")
    )
    d2s = sym.select(F.col("ida").alias("doc2"), F.col("idb").alias("m2j"),
                     F.col("d").alias("d2"))
    out = out.join(
        d2s,
        (out.doc == F.col("doc2")) & (F.col("m2j") == F.col("medoid2")),
        "left",
    ).drop("doc2", "m2j")
    dd1 = F.coalesce(F.col("d1"), F.lit(0.0))
    dd2 = F.coalesce(F.col("d2"), F.lit(0.0))
    return out.select(
        F.col("doc").alias("doc_id"),
        F.when(dd1 <= dd2, F.col("medoid1")).otherwise(F.col("medoid2"))
        .alias("medoid"),
        F.when(dd1 <= dd2, dd1).otherwise(dd2).alias("mpdist_r"),
    )


SQL_MPDIST_CLUSTER = f"""
WITH {_SQL_TOKEN_SERIES},
lens AS (
  SELECT doc_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= {CONSENSUS_MIN}
),
k8 AS (
  SELECT doc_id FROM lens ORDER BY CAST(doc_id AS BIGINT) LIMIT 8
),
pairsel AS (
  SELECT CAST(a.doc_id AS BIGINT) AS ida, CAST(b.doc_id AS BIGINT) AS idb
  FROM k8 a JOIN k8 b
    ON CAST(a.doc_id AS BIGINT) < CAST(b.doc_id AS BIGINT)
),
el AS (SELECT s.doc_id, s.pos, s.value FROM s JOIN k8 USING (doc_id)),
sizes AS (SELECT doc_id, count(*) AS n FROM el GROUP BY doc_id),
pr AS (
  SELECT p.ida, p.idb, ea.pos AS t, eb.pos - ea.pos AS d,
         ea.value * eb.value AS prod
  FROM pairsel p
  JOIN el ea ON CAST(ea.doc_id AS BIGINT) = p.ida
  JOIN el eb ON CAST(eb.doc_id AS BIGINT) = p.idb
),
qt AS (
  SELECT ida, idb, t AS i, d,
         sum(prod) OVER win AS qt, count(prod) OVER win AS m
  FROM pr
  WINDOW win AS (PARTITION BY ida, idb, d ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
),
sta AS (
  SELECT doc_id, pos,
         avg(value) OVER w AS mu, stddev_pop(value) OVER w AS sd,
         count(*) OVER w AS cnt
  FROM el
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
),
stats AS (SELECT doc_id, pos, mu, sd FROM sta WHERE cnt = {W}),
dists AS (
  SELECT q.ida, q.idb, q.i, q.i + q.d AS j,
         sqrt(greatest(2.0 * {W} * (1.0 - (q.qt - {W} * si.mu * sj.mu)
              / ({W} * si.sd * sj.sd)), 0.0)) AS dist
  FROM qt q
  JOIN stats si ON CAST(si.doc_id AS BIGINT) = q.ida AND si.pos = q.i
  JOIN stats sj ON CAST(sj.doc_id AS BIGINT) = q.idb AND sj.pos = q.i + q.d
  WHERE q.m = {W} AND si.sd >= 1e-7 * (abs(si.mu) + 1.0)
    AND sj.sd >= 1e-7 * (abs(sj.mu) + 1.0)
),
hist AS (
  SELECT ida, idb, i AS pos, min(dist) AS v FROM dists GROUP BY 1, 2, 3
  UNION ALL
  SELECT ida, idb, j AS pos, min(dist) AS v FROM dists GROUP BY 1, 2, 3
),
ranked AS (
  SELECT ida, idb, v,
         row_number() OVER (PARTITION BY ida, idb ORDER BY v ASC) AS rn,
         count(*) OVER (PARTITION BY ida, idb) AS cnt
  FROM hist
),
ksel AS (
  SELECT r.ida, r.idb, r.v, r.rn, r.cnt,
         CAST(ceil(0.05 * (sa.n + sb.n)) AS BIGINT) AS k,
         (sa.n - {W - 1}) + (sb.n - {W - 1}) AS total
  FROM ranked r
  JOIN sizes sa ON CAST(sa.doc_id AS BIGINT) = r.ida
  JOIN sizes sb ON CAST(sb.doc_id AS BIGINT) = r.idb
),
final AS (
  SELECT ida, idb, k, cnt, total,
         max(CASE WHEN rn = least(k, cnt) THEN v END) AS vk
  FROM ksel GROUP BY 1, 2, 3, 4, 5
),
mpd AS MATERIALIZED (
  SELECT ida, idb,
         round(CASE WHEN k <= cnt OR total = cnt THEN vk
                    ELSE 2.0 * sqrt({W}.0) END, 4) AS d
  FROM final
),
sym AS MATERIALIZED (
  SELECT ida, idb, d FROM mpd
  UNION ALL SELECT idb, ida, d FROM mpd
),
sums AS (
  SELECT ida, sum(CAST(round(d * 10000) AS BIGINT)) AS tot
  FROM sym GROUP BY 1
),
m1 AS (SELECT ida AS medoid1 FROM sums ORDER BY tot ASC, ida ASC LIMIT 1),
m2 AS (
  SELECT s2.ida AS medoid2
  FROM sym s2 JOIN m1 ON s2.idb = m1.medoid1
  ORDER BY s2.d DESC, s2.ida ASC LIMIT 1
),
docs8 AS (SELECT CAST(doc_id AS BIGINT) AS doc FROM k8),
dm AS (
  SELECT d8.doc, m1.medoid1, m2.medoid2,
         coalesce((SELECT d FROM sym
                   WHERE sym.ida = d8.doc AND sym.idb = m1.medoid1), 0.0) AS d1,
         coalesce((SELECT d FROM sym
                   WHERE sym.ida = d8.doc AND sym.idb = m2.medoid2), 0.0) AS d2
  FROM docs8 d8 CROSS JOIN m1 CROSS JOIN m2
)
SELECT doc AS doc_id,
       CASE WHEN d1 <= d2 THEN medoid1 ELSE medoid2 END AS medoid,
       CASE WHEN d1 <= d2 THEN d1 ELSE d2 END AS mpdist_r
FROM dm
"""

QUERIES["mpdist_cluster"] = q_mpdist_cluster
ORACLES["mpdist_cluster"] = SQL_MPDIST_CLUSTER


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape pricing summary over lineitem's business columns
    (the classic OLAP gate): per (returnflag, linestatus) sums/avgs
    with the ship-date predicate pushed to the scan. Money carried as
    EXACT cents/1e-4/1e-6 integer units (the micro-unit convention —
    double sums are order-dependent, integer sums are not); averages
    are identical float ratios of exact integers."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    qty = F.round(F.col("l_quantity")).cast("bigint")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_c = F.round(F.col("l_discount") * 100).cast("bigint")
    tax_c = F.round(F.col("l_tax") * 100).cast("bigint")
    disc_price_u = price_c * (F.lit(100) - disc_c)          # 1e-4 units
    charge_u = disc_price_u * (F.lit(100) + tax_c)          # 1e-6 units
    agg = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("bigint").alias("sum_qty"),
            F.sum(price_c).cast("bigint").alias("sum_base_price_c"),
            F.sum(disc_price_u).cast("bigint").alias("sum_disc_price_u"),
            F.sum(charge_u).cast("bigint").alias("sum_charge_u"),
            F.sum(disc_c).cast("bigint").alias("sum_disc_c"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )
    n = F.col("count_order").cast("double")
    return agg.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price_c",
        "sum_disc_price_u", "sum_charge_u", "count_order",
        (F.col("sum_qty").cast("double") / n).alias("avg_qty"),
        (F.col("sum_base_price_c").cast("double") / n).alias("avg_price_c"),
        (F.col("sum_disc_c").cast("double") / n).alias("avg_disc_c"),
    )


SQL_PRICING_SUMMARY = r"""
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity) AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(round(l_discount * 100) AS BIGINT) AS disc_c,
         CAST(round(l_tax * 100) AS BIGINT) AS tax_c
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
),
agg AS (
  SELECT l_returnflag, l_linestatus,
         CAST(sum(qty) AS BIGINT) AS sum_qty,
         CAST(sum(price_c) AS BIGINT) AS sum_base_price_c,
         CAST(sum(price_c * (100 - disc_c)) AS BIGINT) AS sum_disc_price_u,
         CAST(sum(price_c * (100 - disc_c) * (100 + tax_c)) AS BIGINT)
           AS sum_charge_u,
         CAST(sum(disc_c) AS BIGINT) AS sum_disc_c,
         CAST(count(*) AS BIGINT) AS count_order
  FROM li GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price_c,
       sum_disc_price_u, sum_charge_u, count_order,
       CAST(sum_qty AS DOUBLE) / CAST(count_order AS DOUBLE) AS avg_qty,
       CAST(sum_base_price_c AS DOUBLE) / CAST(count_order AS DOUBLE)
         AS avg_price_c,
       CAST(sum_disc_c AS DOUBLE) / CAST(count_order AS DOUBLE) AS avg_disc_c
FROM agg
"""

QUERIES["pricing_summary"] = q_pricing_summary
ORACLES["pricing_summary"] = SQL_PRICING_SUMMARY


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shape shipping priority: customer(BUILDING) ⋈ orders
    (before 1995-03-15) ⋈ lineitem (shipped after) — top-10 orders by
    integer-exact revenue (1e-4 units), ties on (orderdate, orderkey).
    The filtered dimension sides broadcast; lineitem never shuffles
    for the joins (only for its own groupBy)."""
    from pyspark.sql.window import Window

    cutoff = F.lit("1995-03-15").cast("timestamp")
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_shipdate") > cutoff)
        .select(
            "l_orderkey",
            (
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
            ).alias("rev_u"),
        )
    )
    joined = li.join(
        F.broadcast(orders.join(F.broadcast(cust),
                                orders.o_custkey == cust.c_custkey)),
        li.l_orderkey == F.col("o_orderkey"),
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum("rev_u").cast("bigint").alias("revenue_u")
    )
    w = Window.orderBy(
        F.col("revenue_u").desc(), F.col("o_orderdate").asc(),
        F.col("l_orderkey").asc(),
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.unix_timestamp("o_orderdate").cast("bigint").alias("orderdate_sec"),
            "revenue_u",
            "rank",
        )
    )


SQL_SHIPPING_PRIORITY = r"""
WITH agg AS (
  SELECT l.l_orderkey, o.o_orderdate,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
              AS BIGINT) AS revenue_u
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
    AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
  GROUP BY 1, 2
),
ranked AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_sec,
         revenue_u,
         CAST(row_number() OVER (ORDER BY revenue_u DESC, o_orderdate ASC,
                                 l_orderkey ASC) AS INT) AS rank
  FROM agg
)
SELECT o_orderkey, orderdate_sec, revenue_u, rank FROM ranked WHERE rank <= 10
"""

QUERIES["shipping_priority"] = q_shipping_priority
ORACLES["shipping_priority"] = SQL_SHIPPING_PRIORITY


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shape large-volume orders: orders whose total lineitem
    quantity exceeds a threshold (aggregate → HAVING semi-join back to
    the fact rows), top-20 by (qty DESC, orderkey ASC). Integer-exact
    quantities."""
    from pyspark.sql.window import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", F.round(F.col("l_quantity")).cast("bigint").alias("qty")
    )
    totals = li.groupBy("l_orderkey").agg(
        F.sum("qty").cast("bigint").alias("total_qty"),
        F.count("*").cast("bigint").alias("n_lines"),
    ).filter(F.col("total_qty") > 150)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey",
        F.unix_timestamp("o_orderdate").cast("bigint").alias("orderdate_sec"),
    )
    joined = totals.join(orders, totals.l_orderkey == orders.o_orderkey)
    w = Window.orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 20)
        .select("o_orderkey", "o_custkey", "orderdate_sec", "total_qty",
                "n_lines", "rank")
    )


SQL_LARGE_ORDERS = r"""
WITH totals AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY 1 HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 150
),
ranked AS (
  SELECT o.o_orderkey, o.o_custkey,
         CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS orderdate_sec,
         t.total_qty, t.n_lines,
         CAST(row_number() OVER (ORDER BY t.total_qty DESC, o.o_orderkey ASC)
              AS INT) AS rank
  FROM totals t JOIN orders o ON o.o_orderkey = t.l_orderkey
)
SELECT o_orderkey, o_custkey, orderdate_sec, total_qty, n_lines, rank
FROM ranked WHERE rank <= 20
"""

QUERIES["large_orders"] = q_large_orders
ORACLES["large_orders"] = SQL_LARGE_ORDERS


def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-wins compaction (the upsert/SCD-1 primitive of the
    table layer): one row per (user, event_type) stream key carrying
    the latest value by (ts, event_id) — the MERGE-on-read collapse a
    tiered store runs at compaction time. Integer tie-total order."""
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("sec"),
        "event_id", F.round(F.col("value") * 1_000_000).cast("bigint")
        .alias("vu"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("sec").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type",
                F.col("sec").alias("latest_sec"),
                F.col("event_id").alias("latest_event_id"),
                F.col("vu").alias("latest_vu"))
    )


SQL_LATEST_SNAPSHOT = r"""
SELECT user_id, event_type,
       sec AS latest_sec, event_id AS latest_event_id, vu AS latest_vu
FROM (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         event_id, CAST(round(value * 1000000) AS BIGINT) AS vu,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
                                     event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""

QUERIES["latest_snapshot"] = q_latest_snapshot
ORACLES["latest_snapshot"] = SQL_LATEST_SNAPSHOT


def q_upsert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming latest-wins compaction maintained by a real stateful
    stream; final snapshot per key gated by the batch latest_snapshot
    SQL — max over a total (ts, id) order is commutative, so
    stream==batch holds for any arrival order."""
    import uuid

    from .streaming.dedup import upsert_stream

    name = "ups_sink_" + uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props map<string,string>"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select(
            "user_id", "event_type",
            F.unix_timestamp("ts").alias("sec"), "event_id",
            F.round(F.col("value") * 1_000_000).cast("bigint").alias("vu"),
        )
    )
    q = (
        upsert_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"""
        SELECT user_id, event_type, latest_sec, latest_event_id, latest_vu
        FROM (SELECT *, row_number() OVER (
                PARTITION BY user_id, event_type ORDER BY n_seen DESC) AS rn
              FROM {name}) WHERE rn = 1
        """
    )


QUERIES["upsert_stream"] = q_upsert_stream
ORACLES["upsert_stream"] = SQL_LATEST_SNAPSHOT


def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL join-cardinality estimate for orders.o_custkey ⋈
    customer.c_custkey: per-side distincts, register-max union, and the
    inclusion-exclusion intersection — the CBO sizing question answered
    from two 512-register sketches."""
    from .operators.sketch import hll_overlap_estimate

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return hll_overlap_estimate(orders, cust, "o_custkey", "c_custkey")


SQL_JOIN_CARDINALITY = r"""
WITH keys AS (
  SELECT 0 AS bucket, CAST(o_custkey AS VARCHAR) AS kv FROM orders
  UNION ALL SELECT 1, CAST(c_custkey AS VARCHAR) FROM customer
),
rows_ AS (
  SELECT bucket,
         CAST(('0x' || substr(md5('s0:' || kv), 1, 8)) AS BIGINT) AS h
  FROM keys
),
reg AS (
  SELECT bucket, CAST(h % 512 AS INT) AS idx,
         max(CAST(round(log2(((h // 512) | 8388608)
                             & -((h // 512) | 8388608))) AS INT) + 1) AS reg
  FROM rows_ GROUP BY 1, 2
),
reg3 AS (
  SELECT bucket, idx, reg FROM reg
  UNION ALL
  SELECT 2 AS bucket, idx, max(reg) FROM reg GROUP BY 2, idx
),
agg AS (
  SELECT bucket,
         CAST(512 - count(*) AS BIGINT) AS zeros,
         sum(CAST(1 AS BIGINT) << (24 - reg)) AS z_present
  FROM reg3 GROUP BY 1
),
z AS (
  SELECT bucket, zeros,
         CAST(z_present + zeros * (CAST(1 AS BIGINT) << 24) AS BIGINT) AS z_int
  FROM agg
),
ests AS (
  SELECT bucket,
         round(CASE WHEN 0.7213 / (1.0 + 1.079 / 512.0) * 262144.0 * 16777216.0
                         / z_int <= 1280.0 AND zeros > 0
                    THEN 512.0 * ln(512.0 / zeros)
                    ELSE 0.7213 / (1.0 + 1.079 / 512.0) * 262144.0 * 16777216.0
                         / z_int END, 6) AS est
  FROM z
)
SELECT max(CASE WHEN bucket = 0 THEN est END) AS est_left,
       max(CASE WHEN bucket = 1 THEN est END) AS est_right,
       max(CASE WHEN bucket = 2 THEN est END) AS est_union,
       greatest(round(max(CASE WHEN bucket = 0 THEN est END)
                      + max(CASE WHEN bucket = 1 THEN est END)
                      - max(CASE WHEN bucket = 2 THEN est END), 6), 0.0)
         AS est_intersection
FROM ests
"""

QUERIES["join_cardinality"] = q_join_cardinality
ORACLES["join_cardinality"] = SQL_JOIN_CARDINALITY


def q_tier_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental tier refresh: history (first 20 days) tier merged
    with a late delta batch (the rest) — the oracle recomputes the tier
    from ALL rows, gating merge==recompute exactly."""
    from .operators.rollup import tier_incremental_refresh

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    split = F.floor(F.col("sec") / 86400) < 19740  # epoch-day split point
    return tier_incremental_refresh(
        ev.where(split), ev.where(~split), bucket_sec=21600,
        key_col="user_id", ts_col="sec",
    )


SQL_TIER_REFRESH = r"""
SELECT user_id,
       CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_u,
       CAST(min(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS min_u,
       CAST(max(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS max_u
FROM events GROUP BY 1, 2
"""

QUERIES["tier_refresh"] = q_tier_refresh
ORACLES["tier_refresh"] = SQL_TIER_REFRESH


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sample (k=50, weight = token
    count): longer docs proportionally more likely, RNG-free md5
    uniforms, r6 sort key with id tie-break."""
    from .operators.tokens import weighted_sample_topk

    tok = _tokenized(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "n_tok"
    )
    return weighted_sample_topk(tok, k=50, id_col="doc_id",
                                weight_expr="n_tok")


SQL_WEIGHTED_SAMPLE = f"""
WITH {SQL_TOKC},
rows_ AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(tokens) AS BIGINT) AS weight
  FROM tokc WHERE len(tokens) > 0
),
keyed AS (
  SELECT doc_id, weight,
         round(ln((CAST(('0x' || substr(md5('s4:' || CAST(doc_id AS VARCHAR)),
                                        1, 8)) AS BIGINT) % 16777216 + 1)
                  / 16777216.0) / CAST(weight AS DOUBLE), 6) AS skey
  FROM rows_
),
ranked AS (
  SELECT doc_id, weight, skey,
         CAST(row_number() OVER (ORDER BY skey DESC, doc_id ASC) AS INT)
           AS rank
  FROM keyed
)
SELECT doc_id, weight, skey, rank FROM ranked WHERE rank <= 50
"""

QUERIES["weighted_sample"] = q_weighted_sample
ORACLES["weighted_sample"] = SQL_WEIGHTED_SAMPLE


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split assignment per doc (integer
    per-mille decision on the md5 uniform — growth-stable)."""
    from .operators.tokens import dataset_split

    out = dataset_split(_documents(spark, sf_dir))
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source", "split"
    )


SQL_DATASET_SPLIT = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CASE WHEN CAST(('0x' || substr(md5('s5:' || CAST(doc_id AS VARCHAR)),
                                      1, 8)) AS BIGINT) % 1000 < 800
            THEN 'train'
            WHEN CAST(('0x' || substr(md5('s5:' || CAST(doc_id AS VARCHAR)),
                                      1, 8)) AS BIGINT) % 1000 < 900
            THEN 'val' ELSE 'test' END AS split
FROM documents
"""

QUERIES["dataset_split"] = q_dataset_split
ORACLES["dataset_split"] = SQL_DATASET_SPLIT


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user counts: a user is NEW on their
    first-seen day, RETURNING after — integer-only, one min-groupBy +
    one conditional count."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.floor(F.unix_timestamp("ts").cast("long") / 86400)
        .cast("long")
        .alias("day"),
    )
    ud = ev.distinct()
    first = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    tagged = ud.join(first, "user_id")
    return tagged.groupBy("day").agg(
        F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
        .cast("bigint")
        .alias("new_users"),
        F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
        .cast("bigint")
        .alias("returning_users"),
    )


SQL_NEW_VS_RETURNING = r"""
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
),
first AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
SELECT ud.day,
       CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS new_users,
       CAST(sum(CASE WHEN ud.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS returning_users
FROM ud JOIN first f ON f.user_id = ud.user_id
GROUP BY 1
"""

QUERIES["new_vs_returning"] = q_new_vs_returning
ORACLES["new_vs_returning"] = SQL_NEW_VS_RETURNING


def q_topk_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user top-2 event types plus an 'other' rollup row — the
    standard reporting shape (dashboards can't show 50 categories);
    integer counts, deterministic (cnt DESC, type ASC) rank."""
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type"
    )
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type").asc()
    )
    ranked = counts.withColumn("rn", F.row_number().over(w))
    top = ranked.filter(F.col("rn") <= 2).select(
        "user_id", F.col("event_type").alias("bucket"), "cnt",
        F.col("rn").cast("int").alias("rank"),
    )
    other = (
        ranked.filter(F.col("rn") > 2)
        .groupBy("user_id")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .select("user_id", F.lit("other").alias("bucket"), "cnt",
                F.lit(3).cast("int").alias("rank"))
    )
    return top.unionByName(other)


SQL_TOPK_WITH_OTHER = r"""
WITH counts AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT user_id, event_type, cnt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, event_type ASC) AS rn
  FROM counts
)
SELECT user_id, event_type AS bucket, cnt, CAST(rn AS INT) AS rank
FROM ranked WHERE rn <= 2
UNION ALL
SELECT user_id, 'other' AS bucket, CAST(sum(cnt) AS BIGINT) AS cnt,
       CAST(3 AS INT) AS rank
FROM ranked WHERE rn > 2 GROUP BY 1
"""

QUERIES["topk_with_other"] = q_topk_with_other
ORACLES["topk_with_other"] = SQL_TOPK_WITH_OTHER


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profiler over the warehouse's integer key columns
    (lineitem/orders): per column — rows, nulls, distincts, min, max.
    The schema-on-read health check a tiered store runs on ingest;
    integer-exact throughout."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cols = [
        ("lineitem", li, "l_orderkey"),
        ("lineitem", li, "l_partkey"),
        ("lineitem", li, "l_suppkey"),
        ("orders", od, "o_orderkey"),
        ("orders", od, "o_custkey"),
    ]
    parts = []
    for tname, df, c in cols:
        parts.append(
            df.agg(
                F.lit(tname).alias("table_name"),
                F.lit(c).alias("column_name"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_nulls"),
                F.countDistinct(c).cast("bigint").alias("n_distinct"),
                F.min(c).cast("bigint").alias("min_v"),
                F.max(c).cast("bigint").alias("max_v"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


SQL_TABLE_PROFILE = r"""
SELECT 'lineitem' AS table_name, 'l_orderkey' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
       CAST(min(l_orderkey) AS BIGINT) AS min_v, CAST(max(l_orderkey) AS BIGINT) AS max_v
FROM lineitem
UNION ALL
SELECT 'lineitem', 'l_partkey', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT l_partkey) AS BIGINT),
       CAST(min(l_partkey) AS BIGINT), CAST(max(l_partkey) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem', 'l_suppkey', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT l_suppkey) AS BIGINT),
       CAST(min(l_suppkey) AS BIGINT), CAST(max(l_suppkey) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'orders', 'o_orderkey', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_orderkey) AS BIGINT),
       CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders', 'o_custkey', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT),
       CAST(min(o_custkey) AS BIGINT), CAST(max(o_custkey) AS BIGINT)
FROM orders
"""

QUERIES["table_profile"] = q_table_profile
ORACLES["table_profile"] = SQL_TABLE_PROFILE


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals (the classic
    numeric-forgery screen): observed first-digit counts next to the
    expected Benford share log10(1 + 1/d) — counts integer, shares one
    identical float expression, deviation r6."""
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_totalprice") > 0
    )
    digit = F.substring(
        F.regexp_replace(
            F.format_number(F.col("o_totalprice"), 10), r"[0.,]", ""
        ), 1, 1
    ).cast("int")
    counts = od.select(digit.alias("d")).groupBy("d").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    tot = counts.agg(F.sum("cnt").cast("bigint").alias("total"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "d",
        "cnt",
        "total",
        F.round(
            F.col("cnt").cast("double") / F.col("total").cast("double")
            - F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d").cast("double")),
            6,
        ).alias("deviation"),
    )


SQL_BENFORD = r"""
WITH digits AS (
  SELECT CAST(substr(regexp_replace(format('{:.10f}', o_totalprice),
                                    '[0.,]', '', 'g'), 1, 1) AS INT) AS d
  FROM orders WHERE o_totalprice > 0
),
counts AS (SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM digits GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts)
SELECT c.d, c.cnt, t.total,
       round(CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE)
             - log10(1.0 + 1.0 / CAST(c.d AS DOUBLE)), 6) AS deviation
FROM counts c CROSS JOIN tot t
"""

QUERIES["benford_audit"] = q_benford_audit
ORACLES["benford_audit"] = SQL_BENFORD


def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the warehouse: orphan FK
    counts (anti-join) and PK-duplicate counts per declared
    relationship — the constraint checks a lakehouse can't enforce on
    write and must audit on read. Integer-only."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pt = spark.read.parquet(f"{sf_dir}/part.parquet")

    def orphans(name, child, fk, parent, pk):
        return child.join(
            parent.select(F.col(pk).alias("_pk")),
            child[fk] == F.col("_pk"),
            "left_anti",
        ).agg(
            F.lit(name).alias("check_name"),
            F.count("*").cast("bigint").alias("violations"),
        )

    def dup_pk(name, df, cols):
        return (
            df.groupBy(*cols)
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") > 1)
            .agg(
                F.lit(name).alias("check_name"),
                F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
                .cast("bigint")
                .alias("violations"),
            )
        )

    checks = [
        orphans("fk_lineitem_order", li, "l_orderkey", od, "o_orderkey"),
        orphans("fk_lineitem_part", li, "l_partkey", pt, "p_partkey"),
        orphans("fk_orders_customer", od, "o_custkey", cu, "c_custkey"),
        dup_pk("pk_orders", od, ["o_orderkey"]),
        dup_pk("pk_lineitem", li, ["l_orderkey", "l_linenumber"]),
        dup_pk("pk_customer", cu, ["c_custkey"]),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


SQL_INTEGRITY_AUDIT = r"""
SELECT 'fk_lineitem_order' AS check_name, CAST(count(*) AS BIGINT) AS violations
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'fk_lineitem_part', CAST(count(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
UNION ALL
SELECT 'fk_orders_customer', CAST(count(*) AS BIGINT)
FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'pk_orders', CAST(coalesce(sum(c - 1), 0) AS BIGINT)
FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
UNION ALL
SELECT 'pk_lineitem', CAST(coalesce(sum(c - 1), 0) AS BIGINT)
FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber
      HAVING count(*) > 1)
UNION ALL
SELECT 'pk_customer', CAST(coalesce(sum(c - 1), 0) AS BIGINT)
FROM (SELECT count(*) AS c FROM customer GROUP BY c_custkey HAVING count(*) > 1)
"""

QUERIES["integrity_audit"] = q_integrity_audit
ORACLES["integrity_audit"] = SQL_INTEGRITY_AUDIT


def q_mp_tier1_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel-FUSED tier-1: matrix profile + first rollup tier in ONE
    map pass (matrix_profile_tier1) — per-bucket partials computed
    inside the kernel task, then ONE hash(doc_id) exchange of tier-1 rows
    that every higher tier reuses. Must hash-match the
    relational rollup_tier chain's oracle exactly (same fold order,
    same tie-breaks) — the map-side pre-aggregation that makes the
    north-star rolled chain kernel-dominated at scale."""
    from .operators.matrix_profile import matrix_profile_tier1

    t1 = matrix_profile_tier1(_sequences(spark, sf_dir), W, BUCKET)
    return t1.select(
        "doc_id",
        F.col("bucket").cast("bigint").alias("bucket"),
        _r4("mp_min").alias("mp_min"),
        F.col("pi_argmin").cast("bigint").alias("pi_argmin"),
        _r4("mp_avg").alias("mp_avg"),
        _r4("mp_max").alias("mp_max"),
        F.col("n").cast("bigint").alias("n"),
    )


QUERIES["mp_tier1_fused"] = q_mp_tier1_fused
ORACLES["mp_tier1_fused"] = SQL_MP_ROLLUP_TIER1


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k theta sketch daily-distinct-users rollup: the k=64
    smallest distinct md5 hashes per bucket, (k-1)/U_(k) estimate (exact
    below k) — the mergeable distinct sketch that, unlike HLL, also
    supports direct set operations (see kmv_overlap)."""
    from .operators.sketch import kmv_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    return kmv_distinct(ev, bucket_sec=86400, item_col="user_id", ts_col="sec")


SQL_KMV_DISTINCT = r"""
WITH rows_ AS (
  SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS bucket,
         CAST(('0x' || substr(md5('s0:' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM events
),
rn_ AS (
  SELECT bucket, h,
         row_number() OVER (PARTITION BY bucket ORDER BY h) AS rn
  FROM rows_
),
agg AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_kept,
         max(CASE WHEN rn = 64 THEN h END) AS h_k
  FROM rn_ WHERE rn <= 64 GROUP BY 1
)
SELECT bucket, n_kept,
       CAST(coalesce(h_k, 4294967296) AS BIGINT) AS h_k,
       CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
            ELSE 270582939648.0 / CAST(h_k AS DOUBLE) END AS est
FROM agg
"""

QUERIES["kmv_distinct"] = q_kmv_distinct
ORACLES["kmv_distinct"] = SQL_KMV_DISTINCT


def q_kmv_rerollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV retention-tier merge: hourly tier-1 kept sets merged into
    daily buckets by union-distinct + re-take-bottom-k, never touching
    raw rows again — EXACT identity with recomputing at the coarse
    grain (pytest-pinned), the KMV analogue of hll_rerollup."""
    from .operators.sketch import kmv_rerollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    return kmv_rerollup(
        ev, fine_sec=3600, coarse_sec=86400, item_col="user_id", ts_col="sec"
    )


SQL_KMV_REROLLUP = r"""
WITH rows_ AS (
  SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket,
         CAST(('0x' || substr(md5('s0:' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM events
),
fine AS (
  SELECT bucket, h,
         row_number() OVER (PARTITION BY bucket ORDER BY h) AS rn
  FROM rows_
),
merged AS (
  SELECT DISTINCT bucket // 24 AS bucket, h FROM fine WHERE rn <= 64
),
rn2 AS (
  SELECT bucket, h,
         row_number() OVER (PARTITION BY bucket ORDER BY h) AS rn
  FROM merged
),
agg AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_kept,
         max(CASE WHEN rn = 64 THEN h END) AS h_k
  FROM rn2 WHERE rn <= 64 GROUP BY 1
)
SELECT bucket, n_kept,
       CAST(coalesce(h_k, 4294967296) AS BIGINT) AS h_k,
       CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
            ELSE 270582939648.0 / CAST(h_k AS DOUBLE) END AS est
FROM agg
"""

QUERIES["kmv_rerollup"] = q_kmv_rerollup
ORACLES["kmv_rerollup"] = SQL_KMV_REROLLUP


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set operations: distinct-user overlap between the
    'click' and 'purchase' event populations from two k=64 KMV kept
    sets — direct intersection estimate below theta = min(theta_a,
    theta_b) (DataSketches theta union/intersection), exact when a side
    never filled its sketch."""
    from .operators.sketch import kmv_overlap

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.filter(F.col("event_type") == "click").select("user_id")
    right = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return kmv_overlap(left, right, "user_id", "user_id")


SQL_KMV_OVERLAP = r"""
WITH ka AS (
  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
    SELECT DISTINCT CAST(('0x' || substr(md5('s0:' || CAST(user_id AS VARCHAR)),
                                         1, 8)) AS BIGINT) AS h
    FROM events WHERE event_type = 'click')
),
kb AS (
  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
    SELECT DISTINCT CAST(('0x' || substr(md5('s0:' || CAST(user_id AS VARCHAR)),
                                         1, 8)) AS BIGINT) AS h
    FROM events WHERE event_type = 'purchase')
),
sa AS (
  SELECT CAST(count(*) AS BIGINT) AS n_a,
         CAST(coalesce(max(CASE WHEN rn = 64 THEN h END), 4294967296)
              AS BIGINT) AS theta_a
  FROM ka WHERE rn <= 64
),
sb AS (
  SELECT CAST(count(*) AS BIGINT) AS n_b,
         CAST(coalesce(max(CASE WHEN rn = 64 THEN h END), 4294967296)
              AS BIGINT) AS theta_b
  FROM kb WHERE rn <= 64
),
st AS (
  SELECT n_a, n_b, theta_a, theta_b, least(theta_a, theta_b) AS theta_h
  FROM sa CROSS JOIN sb
),
com AS (
  SELECT CAST(count(*) AS BIGINT) AS n_common
  FROM ka JOIN kb USING (h) CROSS JOIN st
  WHERE ka.rn <= 64 AND kb.rn <= 64 AND h < st.theta_h
),
fin AS (
  SELECT st.*, com.n_common,
         CASE WHEN n_a < 64 THEN CAST(n_a AS DOUBLE)
              ELSE 270582939648.0 / CAST(theta_a AS DOUBLE) END AS est_a,
         CASE WHEN n_b < 64 THEN CAST(n_b AS DOUBLE)
              ELSE 270582939648.0 / CAST(theta_b AS DOUBLE) END AS est_b,
         CAST(n_common AS DOUBLE) * 4294967296.0
           / CAST(theta_h AS DOUBLE) AS est_i
  FROM st CROSS JOIN com
)
SELECT n_a, n_b, CAST(theta_h AS BIGINT) AS theta_h, n_common,
       est_a, est_b, est_i AS est_intersection,
       est_a + est_b - est_i AS est_union,
       CASE WHEN est_a + est_b - est_i > 0
            THEN est_i / (est_a + est_b - est_i) END AS jaccard_est
FROM fin
"""

QUERIES["kmv_overlap"] = q_kmv_overlap
ORACLES["kmv_overlap"] = SQL_KMV_OVERLAP


def q_kmv_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch A-NOT-B: distinct-user set differences between the
    even-event and third-event populations (arithmetic splits so every
    dataset exercises both anti-joins) from two k=64 KMV kept sets —
    ONE sampled count below theta per direction, where HLL would stack
    three estimator errors through inclusion-exclusion."""
    from .operators.sketch import kmv_difference

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.filter(F.col("event_id") % 2 == 0).select("user_id")
    right = ev.filter(F.col("event_id") % 3 == 0).select("user_id")
    return kmv_difference(left, right, "user_id", "user_id")


SQL_KMV_DIFFERENCE = r"""
WITH ka AS (
  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
    SELECT DISTINCT CAST(('0x' || substr(md5('s0:' || CAST(user_id AS VARCHAR)),
                                         1, 8)) AS BIGINT) AS h
    FROM events WHERE event_id % 2 = 0)
),
kb AS (
  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
    SELECT DISTINCT CAST(('0x' || substr(md5('s0:' || CAST(user_id AS VARCHAR)),
                                         1, 8)) AS BIGINT) AS h
    FROM events WHERE event_id % 3 = 0)
),
sa AS (
  SELECT CAST(count(*) AS BIGINT) AS n_a,
         CAST(coalesce(max(CASE WHEN rn = 64 THEN h END), 4294967296)
              AS BIGINT) AS theta_a
  FROM ka WHERE rn <= 64
),
sb AS (
  SELECT CAST(count(*) AS BIGINT) AS n_b,
         CAST(coalesce(max(CASE WHEN rn = 64 THEN h END), 4294967296)
              AS BIGINT) AS theta_b
  FROM kb WHERE rn <= 64
),
st AS (
  SELECT n_a, n_b, least(theta_a, theta_b) AS theta_h
  FROM sa CROSS JOIN sb
),
ao AS (
  SELECT CAST(count(*) AS BIGINT) AS n_a_only
  FROM ka CROSS JOIN st
  WHERE ka.rn <= 64 AND ka.h < st.theta_h
    AND NOT EXISTS (SELECT 1 FROM kb WHERE kb.rn <= 64 AND kb.h = ka.h)
),
bo AS (
  SELECT CAST(count(*) AS BIGINT) AS n_b_only
  FROM kb CROSS JOIN st
  WHERE kb.rn <= 64 AND kb.h < st.theta_h
    AND NOT EXISTS (SELECT 1 FROM ka WHERE ka.rn <= 64 AND ka.h = kb.h)
)
SELECT n_a, n_b, CAST(theta_h AS BIGINT) AS theta_h, n_a_only, n_b_only,
       CAST(n_a_only AS DOUBLE) * (4294967296.0 / CAST(theta_h AS DOUBLE))
         AS est_a_not_b,
       CAST(n_b_only AS DOUBLE) * (4294967296.0 / CAST(theta_h AS DOUBLE))
         AS est_b_not_a
FROM st CROSS JOIN ao CROSS JOIN bo
"""

QUERIES["kmv_difference"] = q_kmv_difference
ORACLES["kmv_difference"] = SQL_KMV_DIFFERENCE


def q_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball SCD2 dimension build from the event change stream: per
    user, a new version opens only when event_type CHANGES under the
    total (ts, event_id) order; half-open validity intervals, NULL
    valid_to marks the current row. Output bounded by change count."""
    from .operators.rollup import scd2_build

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "event_id",
        F.unix_timestamp("ts").alias("sec"),
    )
    out = scd2_build(ev)
    return out.select(
        F.col("key").cast("bigint").alias("key"),
        "version", "attr", "valid_from", "valid_to", "is_current",
    )


SQL_SCD2_DIMENSION = r"""
WITH base AS (
  SELECT user_id AS key, CAST(event_type AS VARCHAR) AS attr,
         CAST(floor(epoch(ts)) AS BIGINT) AS t, CAST(event_id AS BIGINT) AS i
  FROM events
),
marked AS (
  SELECT key, attr, t, i,
         lag(attr) OVER (PARTITION BY key ORDER BY t, i) AS prev_attr
  FROM base
),
changes AS (
  SELECT key, attr, t, i FROM marked
  WHERE prev_attr IS NULL OR attr <> prev_attr
)
SELECT CAST(key AS BIGINT) AS key,
       CAST(row_number() OVER w AS BIGINT) AS version, attr,
       t AS valid_from,
       lead(t) OVER w AS valid_to,
       CAST(lead(t) OVER w IS NULL AS INT) AS is_current
FROM changes
WINDOW w AS (PARTITION BY key ORDER BY t, i)
"""

QUERIES["scd2_dimension"] = q_scd2_dimension
ORACLES["scd2_dimension"] = SQL_SCD2_DIMENSION


def q_realtime_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time continuous aggregate: hourly OHLC-style stats answered
    from the materialized tier for closed buckets UNION the raw open
    tail — together exactly the direct full-grain aggregate, with src
    marking which path produced each row."""
    from .operators.rollup import realtime_rollup

    ev = _events(spark, sf_dir).select(
        "event_type", "value", F.unix_timestamp("ts").alias("sec")
    )
    return realtime_rollup(ev, bucket_sec=3600)


SQL_REALTIME_ROLLUP = r"""
WITH base AS (
  SELECT CAST(event_type AS VARCHAR) AS key,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS v
  FROM events
),
thr AS (
  SELECT CAST(max(sec) // 3600 * 3600 AS BIGINT) AS thr FROM base
)
SELECT key, CAST(sec // 3600 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(v) AS BIGINT) AS sum_centi,
       CAST(min(v) AS BIGINT) AS vmin,
       CAST(max(v) AS BIGINT) AS vmax,
       CASE WHEN sec // 3600 < thr // 3600 THEN 'tier' ELSE 'raw' END AS src
FROM base, thr
GROUP BY key, sec // 3600, CASE WHEN sec // 3600 < thr // 3600 THEN 'tier' ELSE 'raw' END
"""

QUERIES["realtime_rollup"] = q_realtime_rollup
ORACLES["realtime_rollup"] = SQL_REALTIME_ROLLUP


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics over a CDC change stream: ops derived by
    event_id arithmetic (every 10th change is a DELETE), final snapshot
    keeps the last change per key under the total (ts, id) order and
    DROPS keys whose last change deleted them."""
    from .operators.rollup import cdc_apply

    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "value",
        F.when(F.col("event_id") % 10 == 9, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.unix_timestamp("ts").alias("sec"),
    )
    out = cdc_apply(ev)
    return out.select(
        F.col("key").cast("bigint").alias("key"),
        "value_centi", "n_ops", "last_ts",
    )


SQL_CDC_APPLY = r"""
WITH base AS (
  SELECT user_id AS key,
         CASE WHEN event_id % 10 = 9 THEN 'D' ELSE 'U' END AS op,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(event_id AS BIGINT) AS i,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS v
  FROM events
),
stats AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_ops FROM base GROUP BY key
),
last AS (
  SELECT key, v AS value_centi, t AS last_ts FROM (
    SELECT key, op, v, t,
           row_number() OVER (PARTITION BY key ORDER BY t DESC, i DESC) AS rn
    FROM base
  ) WHERE rn = 1 AND op <> 'D'
)
SELECT CAST(l.key AS BIGINT) AS key, l.value_centi, s.n_ops, l.last_ts
FROM last l JOIN stats s ON l.key = s.key
"""

QUERIES["cdc_apply"] = q_cdc_apply
ORACLES["cdc_apply"] = SQL_CDC_APPLY


def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption mask planning: RNG-free deterministic span
    picks (salted md5 start/length draws per token position), merged by
    the interval-coalesce island walk — the SAME mask plan on every
    replay and engine. Integer-only layout stats per doc."""
    from .operators.tokens import span_corruption_plan

    return span_corruption_plan(_documents(spark, sf_dir))


SQL_SPAN_CORRUPTION = r"""
WITH words AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
),
pos AS (
  SELECT doc_id, n_tokens, CAST(i AS BIGINT) AS p
  FROM words, unnest(generate_series(0, n_tokens - 1)) AS g(i)
),
starts AS (
  SELECT doc_id, n_tokens, p AS s,
         least(
           p + 1 + CAST(('0x' || substr(md5(
             's1:' || CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR)),
             9, 8)) AS BIGINT) % 3,
           n_tokens - 1) AS e
  FROM pos
  WHERE CAST(('0x' || substr(md5(
          's1:' || CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR)),
          1, 8)) AS BIGINT) % 7 = 0
),
pm AS (
  SELECT doc_id, n_tokens, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM starts
),
isl AS (
  SELECT doc_id, n_tokens, s, e,
         sum(CASE WHEN prev_max IS NULL OR s > prev_max + 1
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s) AS island
  FROM pm
),
gi AS (
  SELECT doc_id, n_tokens, island, min(s) AS is_, max(e) AS ie
  FROM isl GROUP BY 1, 2, 3
),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(ie - is_ + 1) AS BIGINT) AS n_masked,
         CAST(sum(is_) AS BIGINT) AS sum_starts
  FROM gi GROUP BY 1
)
SELECT w.doc_id, w.n_tokens,
       COALESCE(p.n_spans, 0) AS n_spans,
       COALESCE(p.n_masked, 0) AS n_masked,
       COALESCE(p.sum_starts, 0) AS sum_starts,
       CAST(COALESCE(p.n_masked, 0) * 1000 // w.n_tokens AS BIGINT)
         AS mask_rate_milli
FROM words w LEFT JOIN per p USING (doc_id)
"""

QUERIES["span_corruption"] = q_span_corruption
ORACLES["span_corruption"] = SQL_SPAN_CORRUPTION


def q_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein distribution drift between every event-type pair
    on the shared 16-bin [-5,5) value grid: integer cross-multiplied
    CDF differences, ONE final fixed-shape double."""
    from .operators.rollup import emd_1d_pairs

    ev = _events(spark, sf_dir).select("event_type", "value")
    return emd_1d_pairs(ev)


SQL_EMD_DRIFT = r"""
WITH h AS (
  SELECT CAST(event_type AS VARCHAR) AS key,
         CAST(least(greatest(floor((CAST(value AS DOUBLE) - (-5.0)) / 0.625),
                             0), 15) AS INT) AS bin,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
keys AS (SELECT DISTINCT key FROM h),
grid AS (
  SELECT k.key, CAST(i AS INT) AS bin
  FROM keys k, unnest(generate_series(0, 15)) AS g(i)
),
dense AS (
  SELECT g.key, g.bin, COALESCE(h.cnt, 0) AS cnt,
         CAST(sum(COALESCE(h.cnt, 0)) OVER (PARTITION BY g.key ORDER BY g.bin)
              AS BIGINT) AS cum
  FROM grid g LEFT JOIN h ON h.key = g.key AND h.bin = g.bin
),
totals AS (SELECT key, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY key),
pairs AS (
  SELECT a.key AS key_a, b.key AS key_b, ta.n AS n_a, tb.n AS n_b,
         CAST(sum(abs(a.cum * tb.n - b.cum * ta.n)) AS BIGINT) AS sum_abs
  FROM dense a
  JOIN dense b ON a.bin = b.bin AND a.key < b.key
  JOIN totals ta ON ta.key = a.key
  JOIN totals tb ON tb.key = b.key
  GROUP BY 1, 2, 3, 4
)
SELECT key_a, key_b, n_a, n_b, sum_abs,
       CAST(sum_abs AS DOUBLE) * 0.625 / CAST(n_a * n_b AS DOUBLE) AS emd
FROM pairs
"""

QUERIES["emd_drift"] = q_emd_drift
ORACLES["emd_drift"] = SQL_EMD_DRIFT


def q_rollup_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate freshness / SLA monitor per event_type over
    15-minute buckets: present vs expected buckets in [first bucket of
    key, global max bucket], gap-fill debt, staleness lag, and a
    completeness ratio (one raw double quotient of exact integers)."""
    from .operators.rollup import rollup_freshness

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec")
    )
    return rollup_freshness(
        ev, bucket_sec=900, key_col="event_type", ts_col="sec"
    )


SQL_ROLLUP_FRESHNESS = r"""
WITH kb AS (
  SELECT DISTINCT event_type AS key,
         CAST(floor(epoch(ts)) AS BIGINT) // 900 AS bucket
  FROM events
),
pk AS (
  SELECT key, CAST(count(*) AS BIGINT) AS present,
         min(bucket) AS first_bucket, max(bucket) AS last_bucket
  FROM kb GROUP BY 1
),
g AS (SELECT max(bucket) AS global_max FROM kb)
SELECT key AS event_type, present,
       CAST(first_bucket AS BIGINT) AS first_bucket,
       CAST(last_bucket AS BIGINT) AS last_bucket,
       CAST(global_max AS BIGINT) AS global_max,
       CAST(global_max - first_bucket + 1 AS BIGINT) AS expected,
       CAST(global_max - first_bucket + 1 - present AS BIGINT) AS missing,
       CAST(global_max - last_bucket AS BIGINT) AS lag_buckets,
       CAST(present AS DOUBLE)
         / CAST(global_max - first_bucket + 1 AS DOUBLE) AS completeness
FROM pk CROSS JOIN g
"""

QUERIES["rollup_freshness"] = q_rollup_freshness
ORACLES["rollup_freshness"] = SQL_ROLLUP_FRESHNESS


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: BM25 (lexical leg)
    + hashed-BOW cosine (vector leg), rrf = 1/(60+r_lex) + 1/(60+r_cos)
    with missing legs contributing 0, top-10 per query with doc-id
    tie-break. Both leg rankings are deterministic cross-engine (r4-
    rounded BM25; cosine = exact-int dot / sqrt of exact-int norms)."""
    from .operators.text import rrf_hybrid_topk

    q = spark.createDataFrame(
        list(_BM25_QUERIES), schema="query_id long, query_text string"
    )
    return rrf_hybrid_topk(_documents(spark, sf_dir), q, k=10, k_leg=50)


SQL_RRF_FUSION = r"""
WITH q(query_id, query_text) AS (
  VALUES (0, 'spark table scan'), (1, 'customer query join fast'), (2, 'window agg group')
),
wl AS MATERIALIZED (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
  FROM documents
),
toks AS MATERIALIZED (
  SELECT doc_id, len(words) AS dl, words[i] AS term
  FROM wl, unnest(generate_series(1, len(words))) AS u(i)
  WHERE length(words[i]) > 0
),
tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
qw AS (SELECT query_id, string_split_regex(lower(trim(query_text)), '\s+') AS words FROM q),
qt AS (
  SELECT DISTINCT query_id, words[i] AS term
  FROM qw, unnest(generate_series(1, len(words))) AS u(i)
  WHERE length(words[i]) > 0
),
qdist AS (SELECT DISTINCT term FROM qt),
gdf AS (
  SELECT tf.*, count(*) OVER (PARTITION BY tf.term) AS df
  FROM tf JOIN qdist USING (term)
),
stt AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(len(string_split_regex(lower(trim(text)), '\s+'))) AS DOUBLE)
           / count(*) AS avgdl
  FROM documents
),
sc AS (
  SELECT qt.query_id, gdf.doc_id,
         sum(ln(1.0 + (stt.n_docs - gdf.df + 0.5) / (gdf.df + 0.5))
             * gdf.tf * 2.2 / (gdf.tf + 1.2 * (0.25 + 0.75 * gdf.dl / stt.avgdl))) AS score
  FROM gdf JOIN qt ON qt.term = gdf.term CROSS JOIN stt
  GROUP BY 1, 2
),
lex AS (
  SELECT query_id, doc_id, rank_bm25 FROM (
    SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY round(score, 4) DESC, doc_id ASC)
                AS BIGINT) AS rank_bm25
    FROM sc
  ) WHERE rank_bm25 <= 50
),
dh AS MATERIALIZED (
  SELECT doc_id,
         CAST(('0x' || substr(md5('s2:' || term), 1, 8)) AS BIGINT) AS h
  FROM toks
),
comp AS MATERIALIZED (
  SELECT doc_id, CAST(h % 64 AS INT) AS dim,
         CAST(sum(1 - 2 * ((h // 64) % 2)) AS BIGINT) AS value
  FROM dh GROUP BY 1, 2
),
qh AS (
  SELECT query_id, CAST(('0x' || substr(md5('s2:' || term), 1, 8)) AS BIGINT) AS h
  FROM (
    SELECT query_id, words[i] AS term
    FROM qw, unnest(generate_series(1, len(words))) AS u(i)
    WHERE length(words[i]) > 0
  )
),
qcomp AS MATERIALIZED (
  SELECT query_id, CAST(h % 64 AS INT) AS dim,
         CAST(sum(1 - 2 * ((h // 64) % 2)) AS BIGINT) AS value
  FROM qh GROUP BY 1, 2
),
dn AS (SELECT doc_id, CAST(sum(value * value) AS BIGINT) AS norm_d FROM comp GROUP BY 1),
qn AS (SELECT query_id, CAST(sum(value * value) AS BIGINT) AS norm_q FROM qcomp GROUP BY 1),
dots AS (
  SELECT qc.query_id, c.doc_id, CAST(sum(c.value * qc.value) AS BIGINT) AS dot
  FROM comp c JOIN qcomp qc USING (dim) GROUP BY 1, 2
),
cosv AS (
  SELECT query_id, doc_id,
         CAST(dot AS DOUBLE) / sqrt(CAST(norm_q * norm_d AS DOUBLE)) AS cosine
  FROM dots JOIN dn USING (doc_id) JOIN qn USING (query_id)
  WHERE norm_d > 0 AND norm_q > 0
),
vec AS (
  SELECT query_id, doc_id, rank_cos FROM (
    SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, doc_id ASC)
                AS BIGINT) AS rank_cos
    FROM cosv
  ) WHERE rank_cos <= 50
),
fused AS (
  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         coalesce(l.doc_id, v.doc_id) AS doc_id,
         l.rank_bm25, v.rank_cos,
         coalesce(1.0 / (60 + l.rank_bm25), 0.0)
           + coalesce(1.0 / (60 + v.rank_cos), 0.0) AS rrf
  FROM lex l FULL OUTER JOIN vec v
    ON l.query_id = v.query_id AND l.doc_id = v.doc_id
)
SELECT query_id, doc_id, rank_bm25, rank_cos, rrf, rank FROM (
  SELECT query_id, doc_id,
         CAST(rank_bm25 AS BIGINT) AS rank_bm25,
         CAST(rank_cos AS BIGINT) AS rank_cos, rrf,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rank
  FROM fused
) WHERE rank <= 10
"""

QUERIES["rrf_fusion"] = q_rrf_fusion
ORACLES["rrf_fusion"] = SQL_RRF_FUSION


def q_rollup_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable moments-sketch column per (event_type, day): mean /
    variance / skewness / excess kurtosis from EXACT decimal power sums
    of centi-unit values (Gan et al. 2018 moments sketch). One
    combinable groupBy; every float is a fixed-shape expression over
    exact integers — no rounding step."""
    from .operators.rollup import rollup_moments

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec"), "value"
    )
    return rollup_moments(ev, 86400, key_col="event_type")


_SQL_MOMENT_FINISH = r"""
fin2 AS (
  SELECT event_type, bucket, n, s1 / nD AS mean, nD, s1, s2, s3, s4
  FROM fin1
), fin3 AS (
  SELECT event_type, bucket, n, mean,
         s2 / nD - mean * mean AS m2r,
         s3 / nD - 3.0 * mean * (s2 / nD) + 2.0 * mean * mean * mean AS m3,
         s4 / nD - 4.0 * mean * (s3 / nD)
                 + 6.0 * mean * mean * (s2 / nD)
                 - 3.0 * mean * mean * mean * mean AS m4
  FROM fin2
), fin4 AS (
  SELECT event_type, bucket, n, mean, m3, m4, greatest(m2r, 0.0) AS m2c
  FROM fin3
)
SELECT event_type, bucket, n,
       mean / 100.0 AS mean_v,
       m2c / 10000.0 AS var_v,
       m3 / nullif(m2c * sqrt(m2c), 0.0) AS skewness,
       m4 / nullif(m2c * m2c, 0.0) - 3.0 AS kurtosis_ex
FROM fin4
"""

SQL_ROLLUP_MOMENTS = r"""
WITH ev AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket,
         CAST(round(value * 100) AS BIGINT) AS cu
  FROM events
), sums AS (
  SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(cu AS HUGEINT)) AS s1,
         sum(CAST(cu AS HUGEINT) * cu) AS s2,
         sum(CAST(cu AS HUGEINT) * cu * cu) AS s3,
         sum((CAST(cu AS HUGEINT) * cu) * (CAST(cu AS HUGEINT) * cu)) AS s4
  FROM ev GROUP BY event_type, bucket
), fin1 AS (
  SELECT event_type, bucket, n, CAST(n AS DOUBLE) AS nD,
         CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
         CAST(s3 AS DOUBLE) AS s3, CAST(s4 AS DOUBLE) AS s4
  FROM sums
), """ + _SQL_MOMENT_FINISH

QUERIES["rollup_moments"] = q_rollup_moments
ORACLES["rollup_moments"] = SQL_ROLLUP_MOMENTS


def q_moments_rerollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-tier merge of the moments sketch: hourly power sums
    summed into daily (tier k+1 reads tier k only), finished
    identically. Gated against the direct daily recompute — decimal
    sums are associative, so merge==recompute is exact and the oracle
    IS the coarse-grain chain."""
    from .operators.rollup import moments_rerollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec"), "value"
    )
    return moments_rerollup(ev, 3600, 86400, key_col="event_type")


QUERIES["moments_rerollup"] = q_moments_rerollup
ORACLES["moments_rerollup"] = SQL_ROLLUP_MOMENTS


_BIGRAMS_EXPR = (
    "CASE WHEN size(tokens) >= 2 THEN "
    "zip_with(slice(tokens, 1, size(tokens)-1), slice(tokens, 2, size(tokens)-1), "
    "(a, b) -> a * 32768 + b) ELSE array() END"
)

_SQL_BIGRAMS = """
bigr AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(tokens) - 1),
                        i -> tokens[i] * 32768 + tokens[i + 1]) AS tokens
  FROM tokc
)"""

_SQL_OLS_FINISH = r"""
pts AS (
  SELECT CAST(round(ln(CAST(xv AS DOUBLE)) * 1000000000) AS BIGINT) AS x,
         CAST(round(ln(CAST(yv AS DOUBLE)) * 1000000000) AS BIGINT) AS y
  FROM raw_pts
), sums AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM pts
), abc AS (
  SELECT CAST(n AS BIGINT) AS n_points,
         CAST(n * sxy - sx * sy AS DOUBLE) AS a,
         CAST(n * sxx - sx * sx AS DOUBLE) AS b,
         CAST(n * syy - sy * sy AS DOUBLE) AS c,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         CAST(n AS DOUBLE) AS nd
  FROM sums
), sl AS (
  SELECT n_points, a / nullif(b, 0.0) AS slope, a, b, c, sxd, syd, nd
  FROM abc
)
SELECT n_points, slope,
       (syd - slope * sxd) / nd / 1000000000.0 AS intercept,
       (a * a) / nullif(b * c, 0.0) AS r2
FROM sl
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent over the corpus BIGRAM vocabulary (bigrams
    because the synthetic word vocabulary is tiny): ln(tf) ~ ln(rank)
    OLS with exact-integer micro-unit points — the per-snapshot corpus
    health metric."""
    from .operators.tokens import zipf_fit

    t = _tokenized(spark, sf_dir).select(
        "doc_id", F.expr(_BIGRAMS_EXPR).alias("tokens")
    )
    return zipf_fit(t)


SQL_ZIPF_FIT = f"""
WITH {SQL_TOKC}, {_SQL_BIGRAMS},
flat AS (
  SELECT tokens[i] AS token
  FROM bigr, unnest(generate_series(1, len(tokens))) AS g(i)
),
vocab AS (SELECT token, count(*) AS tf FROM flat GROUP BY 1),
raw_pts AS (
  SELECT row_number() OVER (ORDER BY tf DESC, token) AS xv, tf AS yv
  FROM vocab
), {_SQL_OLS_FINISH}
"""

QUERIES["zipf_fit"] = q_zipf_fit
ORACLES["zipf_fit"] = SQL_ZIPF_FIT


def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth exponent over bigram types at
    8-doc bucket milestones: ln(cum distinct types) ~ ln(cum tokens)
    OLS, exact-integer micro-unit points. beta ~ 1 flags a
    misconfigured tokenizer / pure-noise corpus."""
    from .operators.tokens import heaps_fit

    t = _tokenized(spark, sf_dir).select(
        "doc_id", F.expr(_BIGRAMS_EXPR).alias("tokens")
    )
    return heaps_fit(t, bucket=8)


SQL_HEAPS_FIT = f"""
WITH {SQL_TOKC}, {_SQL_BIGRAMS},
flat AS (
  SELECT doc_id, tokens[i] AS token
  FROM bigr, unnest(generate_series(1, len(tokens))) AS g(i)
),
pbt AS (
  SELECT CAST(doc_id // 8 AS BIGINT) AS b, sum(len(tokens)) AS n_tok
  FROM bigr GROUP BY 1
),
fseen AS (SELECT token, min(doc_id) AS first_doc FROM flat GROUP BY 1),
pbn AS (
  SELECT CAST(first_doc // 8 AS BIGINT) AS b, count(*) AS new_types
  FROM fseen GROUP BY 1
),
growth AS (
  SELECT pbt.b,
         sum(pbt.n_tok) OVER (ORDER BY pbt.b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
         sum(coalesce(pbn.new_types, 0)) OVER (ORDER BY pbt.b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_types
  FROM pbt LEFT JOIN pbn ON pbt.b = pbn.b
),
raw_pts AS (
  SELECT cum_tokens AS xv, cum_types AS yv FROM growth
  WHERE cum_tokens >= 1 AND cum_types >= 1
), {_SQL_OLS_FINISH}
"""

QUERIES["heaps_fit"] = q_heaps_fit
ORACLES["heaps_fit"] = SQL_HEAPS_FIT


def _q_hdr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec"), "value"
    )


def q_hdr_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-bucket (HdrHistogram / Prometheus-native-histogram)
    value sketch per (event_type, day): mergeable relative-error
    quantile state with log-FREE exact-integer indexing (octave = bit
    length of the centi-unit value, sub-bucket = top 5 mantissa bits).
    ONE combinable groupBy; ≤ ~3% midpoint error by construction."""
    from .operators.sketch import hdr_rollup

    return hdr_rollup(_q_hdr_events(spark, sf_dir), 86400)


# m = |idx|; the mid/est expressions are pure integer shifts mirrored
# from sketch._hdr_estimate — the only float is the final exact
# int→double conversion ÷ 100.0.
def _sql_hdr_est(col: str) -> str:
    m = f"abs({col})"
    sh = f"({m} // 32 - 5)"
    mid = (
        f"CASE WHEN {m} < 32 THEN {m} "
        f"ELSE ((({m} % 32) << {sh}) + (({m} % 32 + 1) << {sh}) - 1) >> 1 END"
    )
    return (
        f"CAST(CASE WHEN {col} < 0 THEN -({mid}) ELSE ({mid}) END AS DOUBLE)"
        f" / 100.0"
    )


_SQL_HDR_BASE = """
ev AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / {bucket_sec}) AS BIGINT) AS bucket,
         CAST(round(value * 100) AS BIGINT) AS cu
  FROM events
), ix AS (
  SELECT key, bucket,
         CASE WHEN cu = 0 THEN 0
              WHEN cu < 0 THEN -(CASE WHEN abs(cu) < 32 THEN abs(cu)
                   ELSE length(bin(abs(cu))) * 32
                        + (abs(cu) >> (length(bin(abs(cu))) - 5)) END)
              ELSE (CASE WHEN abs(cu) < 32 THEN abs(cu)
                   ELSE length(bin(abs(cu))) * 32
                        + (abs(cu) >> (length(bin(abs(cu))) - 5)) END)
         END AS idx
  FROM ev
), g AS (
  SELECT key, bucket, idx, CAST(count(*) AS BIGINT) AS cnt
  FROM ix GROUP BY 1, 2, 3
)"""

SQL_HDR_ROLLUP = (
    "WITH "
    + _SQL_HDR_BASE.format(bucket_sec=86400)
    + f"\nSELECT key, bucket, idx, cnt, {_sql_hdr_est('idx')} AS est_v FROM g"
)

QUERIES["hdr_rollup"] = q_hdr_rollup
ORACLES["hdr_rollup"] = SQL_HDR_ROLLUP


def q_hdr_rerollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-tier merge of the HDR sketch: hourly (idx, cnt) rows
    summed into daily — tier k+1 reads tier k only; integer counts add
    associatively so merge == recompute EXACTLY and the oracle is the
    direct daily recompute."""
    from .operators.sketch import hdr_rerollup

    return hdr_rerollup(_q_hdr_events(spark, sf_dir), 3600, 86400)


QUERIES["hdr_rerollup"] = q_hdr_rerollup
ORACLES["hdr_rerollup"] = SQL_HDR_ROLLUP


def q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 per (event_type, day) read off the HDR sketch:
    cumulative counts in index order, EXACT integer ranks
    ((n+1) div 2, (9n+9) div 10, (99n+99) div 100 — no float literal
    ever meets a row count). The window + final groupBy run over
    bounded sketch rows; idx is unique per partition so the cumsum
    needs no tie-break."""
    from .operators.sketch import hdr_quantiles

    return hdr_quantiles(_q_hdr_events(spark, sf_dir), 86400)


SQL_HDR_QUANTILES = (
    "WITH "
    + _SQL_HDR_BASE.format(bucket_sec=86400)
    + f""",
cum AS (
  SELECT key, bucket, idx,
         sum(cnt) OVER (PARTITION BY key, bucket ORDER BY idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY key, bucket) AS n
  FROM g
), picks AS (
  SELECT key, bucket, CAST(max(n) AS BIGINT) AS n,
         min(CASE WHEN cum >= (n + 1) // 2 THEN idx END) AS i50,
         min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN idx END) AS i90,
         min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN idx END) AS i99
  FROM cum GROUP BY 1, 2
)
SELECT key, bucket, n, {_sql_hdr_est('i50')} AS p50_est,
       {_sql_hdr_est('i90')} AS p90_est, {_sql_hdr_est('i99')} AS p99_est
FROM picks"""
)

QUERIES["hdr_quantiles"] = q_hdr_quantiles
ORACLES["hdr_quantiles"] = SQL_HDR_QUANTILES


def q_hdr_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HDR sketch maintained by an actual Structured
    Streaming query (streaming.hdr_stream): events replayed through a
    file stream, final sparse (idx, cnt) snapshot per (event_type,
    day). Counts are commutative, so the final snapshot must equal the
    BATCH sketch — gated by the same bin/shift index chain as
    hdr_rollup."""
    import uuid

    from .operators.sketch import _hdr_estimate
    from .streaming.sketch import hdr_stream

    name = "hdr_sink_" + uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props map<string,string>"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_type", F.unix_timestamp("ts").alias("sec"), "value")
    )
    out = hdr_stream(stream, bucket_sec=86400)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"""
        SELECT key, bucket, idx, cnt FROM (
          SELECT *, row_number() OVER (
            PARTITION BY key, bucket, idx ORDER BY n_seen DESC) AS rn
          FROM {name}) WHERE rn = 1
        """
    ).select("key", "bucket", "idx", "cnt", _hdr_estimate("idx").alias("est_v"))


QUERIES["hdr_stream"] = q_hdr_stream
ORACLES["hdr_stream"] = SQL_HDR_ROLLUP


def q_asap_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASAP smoothing (Rong & Bailis VLDB 2017) per event_type at
    hourly buckets: fixed candidate grid (1..32), roughness argmin
    subject to kurtosis preservation, every statistic a fixed-shape
    double over EXACT decimal power sums — the deterministic
    dashboard-downsample next to LTTB/M4/PAA."""
    from .operators.rollup import asap_smooth

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec"), "value"
    )
    return asap_smooth(ev, 3600)


SQL_ASAP_SMOOTH = r"""
WITH sums AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
         sum(CAST(round(value * 100) AS BIGINT)) AS scu
  FROM events GROUP BY 1, 2
), whole AS (
  SELECT key, bucket, CAST((scu - (scu % 100)) // 100 AS BIGINT) AS s
  FROM sums
), spine AS (
  SELECT key, unnest(generate_series(lo, hi)) AS bucket
  FROM (SELECT key, min(bucket) AS lo, max(bucket) AS hi
        FROM whole GROUP BY 1)
), dense AS (
  SELECT sp.key, sp.bucket, coalesce(w.s, 0) AS s
  FROM spine sp LEFT JOIN whole w
    ON sp.key = w.key AND sp.bucket = w.bucket
), grid AS (
  SELECT key, bucket, row_number() OVER pk AS rn,
         sum(s) OVER (pk ROWS BETWEEN 0 PRECEDING AND CURRENT ROW) AS m1,
         sum(s) OVER (pk ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS m2,
         sum(s) OVER (pk ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m4,
         sum(s) OVER (pk ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS m8,
         sum(s) OVER (pk ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS m16,
         sum(s) OVER (pk ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS m32
  FROM dense WINDOW pk AS (PARTITION BY key ORDER BY bucket)
), stacked AS MATERIALIZED (
  SELECT key, bucket, rn, CAST(cw.w AS BIGINT) AS w,
         CASE cw.w WHEN 1 THEN m1 WHEN 2 THEN m2 WHEN 4 THEN m4
                   WHEN 8 THEN m8 WHEN 16 THEN m16 ELSE m32 END AS msum
  FROM grid CROSS JOIN (VALUES (1), (2), (4), (8), (16), (32)) cw(w)
  WHERE rn >= cw.w
), rws AS (
  SELECT key, w, bucket, msum,
         msum - lag(msum) OVER (PARTITION BY key, w ORDER BY bucket) AS d,
         (sum(msum) OVER pw - (sum(msum) OVER pw % count(*) OVER pw))
           // count(*) OVER pw AS q
  FROM stacked WINDOW pw AS (PARTITION BY key, w)
), stats AS (
  SELECT key, w, CAST(count(*) AS BIGINT) AS n,
         CAST(count(d) AS BIGINT) AS nd,
         sum(d) AS sd1, sum(d * d) AS sd2,
         sum((msum - q) * (msum - q)) AS c2,
         sum(((msum - q) * (msum - q)) * ((msum - q) * (msum - q))) AS c4
  FROM rws GROUP BY 1, 2
), scored AS MATERIALIZED (
  SELECT key, w,
         (CAST(nd AS DOUBLE) * CAST(sd2 AS DOUBLE)
          - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE))
         / nullif(CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)
                  * CAST(w AS DOUBLE) * CAST(w AS DOUBLE), 0.0) AS r,
         CAST(n AS DOUBLE) * CAST(c4 AS DOUBLE)
         / nullif(CAST(c2 AS DOUBLE) * CAST(c2 AS DOUBLE), 0.0) AS kurt
  FROM stats
), ranked AS (
  SELECT key, w AS w_star,
         row_number() OVER (PARTITION BY key ORDER BY
           CASE WHEN r IS NULL THEN 1 ELSE 0 END, r, w) AS rk
  FROM scored sc
  WHERE coalesce(
    kurt >= (SELECT kurt FROM scored b WHERE b.key = sc.key AND b.w = 1),
    TRUE)
)
SELECT st.key, st.bucket, st.w,
       CAST(st.msum AS DOUBLE) / CAST(st.w AS DOUBLE) AS smoothed
FROM stacked st
JOIN ranked rkd ON st.key = rkd.key AND st.w = rkd.w_star AND rkd.rk = 1
"""

QUERIES["asap_smooth"] = q_asap_smooth
ORACLES["asap_smooth"] = SQL_ASAP_SMOOTH


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. SIGMOD 2003 / MOSS):
    rightmost-min of each 4-window over positional 5-gram hashes via
    the lag/lead interval rule — the LOCAL near-dup detector (any
    shared run of window+n-1 words yields a shared fingerprint)."""
    from .operators.dedup import winnow_fingerprints

    return winnow_fingerprints(_documents(spark, sf_dir), parallelism=8)


_SQL_WINNOW_FP = r"""
norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
), wordlists AS (SELECT doc_id, string_split(t, ' ') AS words FROM norm),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS j,
         array_to_string(words[i:i+4], ' ') AS gram
  FROM wordlists,
       unnest(generate_series(1, greatest(len(words) - 4, 1))) AS g(i)
  WHERE len(array_to_string(words[i:i+4], ' ')) > 0
), hashed AS (
  SELECT doc_id, j,
         CAST(('0x' || substr(md5('s0:' || gram), 1, 8)) AS BIGINT) AS h
  FROM grams
), ctx AS (
  SELECT doc_id, j, h,
         lag(h, 1)  OVER pj AS l1, lag(h, 2)  OVER pj AS l2,
         lag(h, 3)  OVER pj AS l3,
         lead(h, 1) OVER pj AS r1, lead(h, 2) OVER pj AS r2,
         lead(h, 3) OVER pj AS r3,
         count(*) OVER (PARTITION BY doc_id) AS ng,
         row_number() OVER (PARTITION BY doc_id ORDER BY h ASC, j DESC)
           AS rn_min
  FROM hashed WINDOW pj AS (PARTITION BY doc_id ORDER BY j)
), dist AS (
  SELECT doc_id, j, h, ng, rn_min,
         CASE WHEN l1 < h THEN 1 WHEN l2 < h THEN 2 WHEN l3 < h THEN 3
              ELSE 4 END AS dl,
         CASE WHEN r1 <= h THEN 1 WHEN r2 <= h THEN 2 WHEN r3 <= h THEN 3
              ELSE 4 END AS dr
  FROM ctx
), sel AS (
  SELECT doc_id, j, h FROM dist
  WHERE CASE WHEN ng >= 4
             THEN greatest(1, j - 3, j - dl + 1)
                  <= least(j, ng - 3, j + dr - 4)
             ELSE rn_min = 1 END
)"""

SQL_WINNOW_FINGERPRINTS = (
    "WITH " + _SQL_WINNOW_FP + "\nSELECT doc_id, j AS pos, h AS fp FROM sel"
)

QUERIES["winnow_fingerprints"] = q_winnow_fingerprints
ORACLES["winnow_fingerprints"] = SQL_WINNOW_FINGERPRINTS


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS overlap report: doc pairs sharing >= 2 winnowing
    fingerprints, hot fingerprints capped at 64 docs (the shingle/band
    hot-key convention)."""
    from .operators.dedup import winnow_overlap_pairs

    return winnow_overlap_pairs(_documents(spark, sf_dir), parallelism=8)


SQL_WINNOW_OVERLAP = (
    "WITH " + _SQL_WINNOW_FP + r""",
fps AS (SELECT DISTINCT doc_id, h AS fp FROM sel),
freq AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 64
),
kept AS (SELECT fps.doc_id, fps.fp FROM fps JOIN freq USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_fp
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2"""
)

QUERIES["winnow_overlap"] = q_winnow_overlap
ORACLES["winnow_overlap"] = SQL_WINNOW_OVERLAP


def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries k=8 heavy-hitter summary per 6h bucket: exact
    (bucket,item) counts, theta = 9th-largest count, keep est=cnt-theta
    where positive — the k-bounded MERGEABLE top-item summary a
    retention tier stores (exact top-N is not mergeable; CMS cannot
    enumerate its heavy items)."""
    from .operators.sketch import mg_summary

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    return mg_summary(ev, bucket_sec=21600, item_col="user_id", ts_col="sec", k=8)


SQL_MG_HEAVY_HITTERS = r"""
WITH counts AS MATERIALIZED (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
         CAST(user_id AS BIGINT) AS item,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
ranked AS MATERIALIZED (
  SELECT bucket, item, cnt,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY cnt DESC, item ASC) AS rnk,
         CAST(sum(cnt) OVER (PARTITION BY bucket) AS BIGINT) AS n
  FROM counts
),
theta_ AS (
  SELECT bucket,
         CAST(coalesce(max(CASE WHEN rnk = 9 THEN cnt END), 0) AS BIGINT)
           AS theta
  FROM ranked GROUP BY 1
)
SELECT r.bucket, r.item, CAST(r.cnt - t.theta AS BIGINT) AS est,
       t.theta AS theta, r.n
FROM ranked r JOIN theta_ t USING (bucket)
WHERE r.cnt > t.theta
"""

QUERIES["mg_heavy_hitters"] = q_mg_heavy_hitters
ORACLES["mg_heavy_hitters"] = SQL_MG_HEAVY_HITTERS


def q_mg_rerollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries RETENTION-TIER merge: 6h tier-1 summaries merged into
    daily buckets by summing surviving counters + one more
    (k+1)-th-largest subtraction (Agarwal et al. PODS 2012 §2.1) — a
    lossy merge that provably keeps est in
    [true - n/(k+1), true] over the coarse total; n carries the exact
    coarse total as tier metadata."""
    from .operators.sketch import mg_rerollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    return mg_rerollup(
        ev, fine_sec=21600, coarse_sec=86400,
        item_col="user_id", ts_col="sec", k=8,
    )


SQL_MG_REROLLUP = r"""
WITH counts AS MATERIALIZED (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
         CAST(user_id AS BIGINT) AS item,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
ranked1 AS MATERIALIZED (
  SELECT bucket, item, cnt,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY cnt DESC, item ASC) AS rnk
  FROM counts
),
theta1 AS (
  SELECT bucket,
         CAST(coalesce(max(CASE WHEN rnk = 9 THEN cnt END), 0) AS BIGINT)
           AS theta
  FROM ranked1 GROUP BY 1
),
fine AS (
  SELECT r.bucket, r.item, CAST(r.cnt - t.theta AS BIGINT) AS est
  FROM ranked1 r JOIN theta1 t USING (bucket)
  WHERE r.cnt > t.theta
),
merged AS MATERIALIZED (
  SELECT bucket // 4 AS bucket, item, CAST(sum(est) AS BIGINT) AS cnt
  FROM fine GROUP BY 1, 2
),
ns AS (
  SELECT bucket // 4 AS bucket, CAST(sum(cnt) AS BIGINT) AS n_total
  FROM counts GROUP BY 1
),
ranked2 AS MATERIALIZED (
  SELECT bucket, item, cnt,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY cnt DESC, item ASC) AS rnk
  FROM merged
),
theta2 AS (
  SELECT bucket,
         CAST(coalesce(max(CASE WHEN rnk = 9 THEN cnt END), 0) AS BIGINT)
           AS theta
  FROM ranked2 GROUP BY 1
)
SELECT r.bucket, r.item, CAST(r.cnt - t.theta AS BIGINT) AS est,
       t.theta AS theta, ns.n_total AS n
FROM ranked2 r JOIN theta2 t USING (bucket) JOIN ns USING (bucket)
WHERE r.cnt > t.theta
"""

QUERIES["mg_rerollup"] = q_mg_rerollup
ORACLES["mg_rerollup"] = SQL_MG_REROLLUP


def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick/OHLC continuous aggregate per (event_type, 6h bucket):
    open/close picked by the TOTAL order (ts, event_id), high/low
    extrema, volume in exact centi-units — the TimescaleDB
    candlestick_agg shape with mergeable ordering metadata."""
    from .operators.rollup import ohlc

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value",
        F.unix_timestamp("ts").alias("sec"),
    )
    return ohlc(ev, bucket=21600)


SQL_OHLC = r"""
WITH rows_ AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(event_id AS BIGINT) AS i,
         CAST(value AS DOUBLE) AS v,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS v_centi
  FROM events
),
ord AS (
  SELECT *,
         row_number() OVER (PARTITION BY key, bucket ORDER BY t, i) AS rn_a,
         row_number() OVER (PARTITION BY key, bucket
                            ORDER BY t DESC, i DESC) AS rn_d
  FROM rows_
)
SELECT key, bucket,
       max(CASE WHEN rn_a = 1 THEN v END) AS open,
       max(v) AS high,
       min(v) AS low,
       max(CASE WHEN rn_d = 1 THEN v END) AS close,
       CAST(sum(v_centi) AS BIGINT) AS vol_centi,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(t) AS BIGINT) AS first_ts,
       CAST(max(CASE WHEN rn_a = 1 THEN i END) AS BIGINT) AS first_id,
       CAST(max(t) AS BIGINT) AS last_ts,
       CAST(max(CASE WHEN rn_d = 1 THEN i END) AS BIGINT) AS last_id
FROM ord GROUP BY 1, 2
"""

QUERIES["ohlc"] = q_ohlc
ORACLES["ohlc"] = SQL_OHLC


def q_ohlc_rerollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC retention-tier merge: 6h candles merged into daily ones
    reading tier-1 only — open/close re-picked by the carried
    (first_ts,first_id)/(last_ts,last_id) metadata, extrema of extrema,
    volume summed. merge == recompute EXACT, so the oracle is the
    DIRECT daily recompute."""
    from .operators.rollup import ohlc_rerollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value",
        F.unix_timestamp("ts").alias("sec"),
    )
    return ohlc_rerollup(ev, fine_sec=21600, coarse_sec=86400)


SQL_OHLC_REROLLUP = SQL_OHLC.replace("// 21600", "// 86400")

QUERIES["ohlc_rerollup"] = q_ohlc_rerollup
ORACLES["ohlc_rerollup"] = SQL_OHLC_REROLLUP


def q_state_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state per (user, 6h bucket, state): each event is a state
    change holding until the user's next event, runs SPLIT exactly at
    bucket boundaries — integer seconds, the TimescaleDB state_agg
    shape."""
    from .operators.rollup import state_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "user_id",
        F.unix_timestamp("ts").alias("sec"),
    )
    return state_agg(ev, bucket=21600)


SQL_STATE_AGG = r"""
WITH rows_ AS (
  SELECT CAST(user_id AS BIGINT) AS key,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(event_id AS BIGINT) AS i,
         event_type AS state
  FROM events
),
runs AS (
  SELECT key, state, t,
         lead(t) OVER (PARTITION BY key ORDER BY t, i) AS next_t
  FROM rows_
),
span AS (
  SELECT key, state, t, next_t,
         unnest(generate_series(t // 21600, (next_t - 1) // 21600)) AS bucket
  FROM runs WHERE next_t > t
)
SELECT key, bucket, state,
       CAST(sum(least(next_t, (bucket + 1) * 21600)
                - greatest(t, bucket * 21600)) AS BIGINT) AS dur_sec
FROM span GROUP BY 1, 2, 3
"""

QUERIES["state_agg"] = q_state_agg
ORACLES["state_agg"] = SQL_STATE_AGG


def q_state_rerollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state retention-tier merge: 6h durations summed into
    daily buckets reading tier-1 only — fine boundaries nest inside
    coarse, so merge == recompute EXACT and the oracle is the DIRECT
    daily recompute."""
    from .operators.rollup import state_rerollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "user_id",
        F.unix_timestamp("ts").alias("sec"),
    )
    return state_rerollup(ev, fine_sec=21600, coarse_sec=86400)


SQL_STATE_REROLLUP = SQL_STATE_AGG.replace("21600", "86400")

QUERIES["state_agg_rerollup"] = q_state_rerollup
ORACLES["state_agg_rerollup"] = SQL_STATE_REROLLUP


def q_heartbeat_uptime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat liveness aggregate (TimescaleDB heartbeat_agg shape):
    each event asserts its user live for 2h; assertions coalesce into
    islands, split exactly at 6h bucket boundaries — per-(user, bucket)
    uptime seconds + live islands touched. Integer-only."""
    from .operators.rollup import heartbeat_uptime

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    return heartbeat_uptime(ev, ttl_sec=7200, bucket=21600)


SQL_HEARTBEAT_UPTIME = r"""
WITH hb AS (
  SELECT CAST(user_id AS BIGINT) AS key,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS e
  FROM events
),
flag AS (
  SELECT key, s, e,
         CASE WHEN max(e) OVER (PARTITION BY key ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
                   OR s > max(e) OVER (PARTITION BY key ORDER BY s, e
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM hb
),
isl AS (
  SELECT key, s, e,
         sum(brk) OVER (PARTITION BY key ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS island
  FROM flag
),
merged AS (
  SELECT key, island, min(s) AS s, max(e) AS e FROM isl GROUP BY 1, 2
),
span AS (
  SELECT key, s, e,
         unnest(generate_series(s // 21600, (e - 1) // 21600)) AS bucket
  FROM merged
)
SELECT key, bucket,
       CAST(sum(least(e, (bucket + 1) * 21600)
                - greatest(s, bucket * 21600)) AS BIGINT) AS uptime_sec,
       CAST(count(*) AS BIGINT) AS n_islands
FROM span GROUP BY 1, 2
"""

QUERIES["heartbeat_uptime"] = q_heartbeat_uptime
ORACLES["heartbeat_uptime"] = SQL_HEARTBEAT_UPTIME


def q_ohlc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC candles maintained by an actual Structured
    Streaming query (streaming.rollup.ohlc_stream): events replayed
    through a file stream, final snapshot per (event_type, 6h bucket).
    The candle fold is commutative-mergeable (total-order open/close
    metadata + max/min/sums), so the drained snapshot must equal the
    BATCH candle — gated by the same SQL as the batch `ohlc` oracle."""
    import uuid

    from .streaming.rollup import ohlc_stream

    name = "ohlc_sink_" + uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props map<string,string>"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "event_type", "value",
                F.unix_timestamp("ts").alias("sec"))
    )
    out = ohlc_stream(stream, bucket_sec=21600)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"""
        SELECT key, bucket, open, high, low, close, vol_centi, n,
               first_ts, first_id, last_ts, last_id
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY key, bucket ORDER BY n_seen DESC) AS rn
          FROM {name}) WHERE rn = 1
        """
    )


QUERIES["ohlc_stream"] = q_ohlc_stream
ORACLES["ohlc_stream"] = SQL_OHLC


DTW_T = 48
DTW_R = 6
DTW_SENT = 1 << 40


def q_dtw_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Sakoe-Chiba-banded DTW distance matrix over the 6
    smallest qualifying tokenized docs (UCR-suite companion distance to
    the matrix profile). L1 integer step cost over token ids makes the
    DP sum EXACT — the hash gate compares raw BIGINTs with no rounding
    convention; the oracle replays the identical anti-diagonal
    recurrence as a recursive CTE (formulation numpy/DuckDB-validated
    before the SQL was written, per the house rule)."""
    from .operators import dtw_pairs

    return dtw_pairs(
        _tokenized(spark, sf_dir), trunc=DTW_T, band=DTW_R, k_docs=6
    )


SQL_DTW_PAIRS = f"""
WITH RECURSIVE {_SQL_TOKEN_SERIES},
lens AS (
  SELECT doc_id FROM s GROUP BY 1 HAVING count(*) >= {DTW_T}
),
ksel AS (
  SELECT CAST(doc_id AS BIGINT) AS id FROM lens
  ORDER BY CAST(doc_id AS BIGINT) LIMIT 6
),
lists AS (
  SELECT CAST(s.doc_id AS BIGINT) AS id,
         list(CAST(value AS BIGINT) ORDER BY pos) AS la
  FROM s JOIN ksel ON CAST(s.doc_id AS BIGINT) = ksel.id
  WHERE pos < {DTW_T} GROUP BY 1
),
pairsel AS (
  SELECT a.id AS ida, b.id AS idb, a.la AS la, b.la AS lb
  FROM lists a JOIN lists b ON a.id < b.id
),
-- anti-diagonal banded DTW: cell (i,j) on diagonal e=i+j depends only
-- on diagonals e-1 (cur) and e-2 (prev); each iteration is one
-- elementwise list rebuild, sentinel-padded outside the band. SQL list
-- position i (1-based) holds dp(i-1, e-(i-1)).
diag AS (
  SELECT ida, idb, 0 AS e,
         list_transform(range(1, {DTW_T} + 1),
                        i -> CAST({DTW_SENT} AS BIGINT)) AS prev,
         list_transform(range(1, {DTW_T} + 1), i ->
           CASE WHEN i = 1 THEN abs(la[1] - lb[1])
                ELSE CAST({DTW_SENT} AS BIGINT) END) AS cur,
         la, lb
  FROM pairsel
  UNION ALL
  SELECT ida, idb, e + 1,
         cur AS prev,
         list_transform(range(1, {DTW_T} + 1), i ->
           CASE WHEN e + 1 - (i - 1) BETWEEN 0 AND {DTW_T} - 1
                 AND abs(2 * (i - 1) - (e + 1)) <= {DTW_R}
           THEN abs(la[i] - lb[e + 1 - (i - 1) + 1])
                + least(CASE WHEN i >= 2 THEN cur[i - 1]
                        ELSE CAST({DTW_SENT} AS BIGINT) END,
                        cur[i],
                        CASE WHEN i >= 2 THEN prev[i - 1]
                        ELSE CAST({DTW_SENT} AS BIGINT) END)
           ELSE CAST({DTW_SENT} AS BIGINT) END) AS cur,
         la, lb
  FROM diag WHERE e < 2 * {DTW_T} - 2
)
SELECT ida, idb, cur[{DTW_T}] AS dtw
FROM diag WHERE e = 2 * {DTW_T} - 2
"""

QUERIES["dtw_pairs"] = q_dtw_pairs
ORACLES["dtw_pairs"] = SQL_DTW_PAIRS


#: LB_Keogh search geometry: window/query length, Sakoe-Chiba radius,
#: candidate budget, final top-k.
LBK_T = 16
LBK_R = 3
LBK_K = 32
LBK_TOP = 10


def q_dtw_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCR-suite LB_Keogh cascade: the integer envelope lower bound
    scores every window of every tokenized doc, the 32 best-bounded
    candidates pay exact banded DTW, top-10 re-ranked — the classic
    'filter pushdown for similarity search'. Query = first 16 tokens
    of the smallest qualifying doc, derived in-engine on both sides."""
    from .operators.series import dtw_search

    return dtw_search(
        _tokenized(spark, sf_dir),
        t=LBK_T, band=LBK_R, min_query_len=DTW_T, k_cand=LBK_K, topk=LBK_TOP,
    )


SQL_DTW_SEARCH = f"""
WITH RECURSIVE {_SQL_TOKEN_SERIES},
qsel AS (
  SELECT CAST(doc_id AS BIGINT) AS qid FROM s
  GROUP BY 1 HAVING count(*) >= {DTW_T}
  ORDER BY 1 LIMIT 1
),
q AS (
  SELECT s.pos AS j, CAST(s.value AS BIGINT) AS qv
  FROM s JOIN qsel ON CAST(s.doc_id AS BIGINT) = qsel.qid
  WHERE s.pos < {LBK_T}
),
env AS (
  SELECT a.j, max(b.qv) AS u, min(b.qv) AS l
  FROM q a JOIN q b ON abs(a.j - b.j) <= {LBK_R}
  GROUP BY a.j
),
lbt AS (
  SELECT CAST(s.doc_id AS BIGINT) AS id, s.pos - e.j AS pos0,
         greatest(CAST(s.value AS BIGINT) - e.u,
                  e.l - CAST(s.value AS BIGINT), 0) AS c
  FROM s JOIN env e ON s.pos >= e.j
),
lb AS (
  SELECT id, CAST(pos0 AS BIGINT) AS pos0, CAST(sum(c) AS BIGINT) AS lb
  FROM lbt GROUP BY 1, 2 HAVING count(*) = {LBK_T}
),
surv AS (
  SELECT id, pos0, lb FROM lb ORDER BY lb, id, pos0 LIMIT {LBK_K}
),
ql AS (SELECT list(qv ORDER BY j) AS la FROM q),
wl AS (
  SELECT sv.id, sv.pos0, sv.lb,
         list(CAST(s.value AS BIGINT) ORDER BY s.pos) AS lw
  FROM surv sv
  JOIN s ON CAST(s.doc_id AS BIGINT) = sv.id
        AND s.pos BETWEEN sv.pos0 AND sv.pos0 + {LBK_T} - 1
  GROUP BY 1, 2, 3
),
pairsel2 AS (SELECT id, pos0, lb, la, lw FROM wl, ql),
sdiag AS (
  SELECT id, pos0, lb, 0 AS e,
         list_transform(range(1, {LBK_T} + 1),
                        i -> CAST({DTW_SENT} AS BIGINT)) AS prev,
         list_transform(range(1, {LBK_T} + 1), i ->
           CASE WHEN i = 1 THEN abs(la[1] - lw[1])
                ELSE CAST({DTW_SENT} AS BIGINT) END) AS cur,
         la, lw
  FROM pairsel2
  UNION ALL
  SELECT id, pos0, lb, e + 1,
         cur AS prev,
         list_transform(range(1, {LBK_T} + 1), i ->
           CASE WHEN e + 1 - (i - 1) BETWEEN 0 AND {LBK_T} - 1
                 AND abs(2 * (i - 1) - (e + 1)) <= {LBK_R}
           THEN abs(la[i] - lw[e + 1 - (i - 1) + 1])
                + least(CASE WHEN i >= 2 THEN cur[i - 1]
                        ELSE CAST({DTW_SENT} AS BIGINT) END,
                        cur[i],
                        CASE WHEN i >= 2 THEN prev[i - 1]
                        ELSE CAST({DTW_SENT} AS BIGINT) END)
           ELSE CAST({DTW_SENT} AS BIGINT) END) AS cur,
         la, lw
  FROM sdiag WHERE e < 2 * {LBK_T} - 2
),
fin2 AS (
  SELECT id, pos0, lb, cur[{LBK_T}] AS dtw
  FROM sdiag WHERE e = 2 * {LBK_T} - 2
)
SELECT id AS doc_id, pos0 AS pos, lb, CAST(dtw AS BIGINT) AS dtw,
       CAST(rn AS INT) AS rank
FROM (
  SELECT id, pos0, lb, dtw,
         row_number() OVER (ORDER BY dtw, id, pos0) AS rn
  FROM fin2
) WHERE rn <= {LBK_TOP}
"""

QUERIES["dtw_search"] = q_dtw_search
ORACLES["dtw_search"] = SQL_DTW_SEARCH


def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war F2 (self-join size) sketch per 6h bucket over
    user_id: 64 ±1 md5-signed integer counters, 4 groups of 16, lower
    median of group sums-of-squares — integer-exact until ONE dyadic
    ÷16, with the exact F2 emitted beside the estimate so the sketch
    error is measured, not assumed."""
    from .operators import ams_f2

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    return ams_f2(ev, bucket_sec=21600, item_col="user_id", ts_col="sec")


def _ams_sql_sign(j: int) -> str:
    half = "h0" if j < 32 else "h1"
    return f"(1 - 2 * (({half} // {1 << (j % 32)}) % 2))"


_AMS_HASHED = r"""
hashed AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // {fine} AS bucket,
         CAST(('0x' || substr(md5('f2:' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h0,
         CAST(('0x' || substr(md5('f2:' || CAST(user_id AS VARCHAR)), 9, 8))
              AS BIGINT) AS h1,
         CAST(user_id AS VARCHAR) AS item
  FROM events
)"""

_AMS_COUNTER_SUMS = ",\n         ".join(
    f"CAST(sum({_ams_sql_sign(j)}) AS BIGINT) AS c{j}" for j in range(64)
)
_AMS_GROUP_SUMS = ",\n         ".join(
    "(" + " + ".join(f"c{j} * c{j}" for j in range(g * 16, (g + 1) * 16)) + f") AS g{g}"
    for g in range(4)
)

SQL_AMS_F2 = f"""
WITH {_AMS_HASHED.format(fine=21600)},
counters AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n,
         {_AMS_COUNTER_SUMS}
  FROM hashed GROUP BY bucket
),
grouped AS (
  SELECT bucket, n,
         {_AMS_GROUP_SUMS}
  FROM counters
),
est AS (
  SELECT bucket, n,
         CAST(list_sort([g0, g1, g2, g3])[2] AS BIGINT) AS est_x16
  FROM grouped
),
exact AS (
  SELECT bucket, CAST(sum(cnt * cnt) AS BIGINT) AS f2_exact FROM (
    SELECT bucket, item, count(*) AS cnt FROM hashed GROUP BY 1, 2
  ) GROUP BY bucket
)
SELECT e.bucket, e.est_x16,
       CAST(e.est_x16 AS DOUBLE) / 16 AS est,
       x.f2_exact, e.n
FROM est e JOIN exact x ON e.bucket = x.bucket
"""

QUERIES["ams_f2"] = q_ams_f2
ORACLES["ams_f2"] = SQL_AMS_F2


def q_dgim_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DGIM exponential-histogram sliding-window bit counting (Datar,
    Gionis, Indyk & Motwani, SICOMP 2002) in CLOSED FORM: the bucket
    multiset after c ones is the unique Σ d_i·2^i, d_i∈{1,2}
    representation of c, so both engines derive the ENTIRE O(log² N)
    sketch state — sizes and timestamps — relationally from (c, ranked
    one-positions), no state machine. bit = event_id % 3 == 0 so every
    dataset (incl. the single-event-type adversarial set) exercises it;
    est2 is the doubled-integer estimate (2·est, exact in bigints),
    `exact` is the true windowed count (the ≤50% error bound is a pytest
    property, not a hashed float)."""
    from .operators.sketch import dgim_estimate

    e = _events(spark, sf_dir)
    out = dgim_estimate(
        e, (F.col("event_id") % 3 == 0), window_sizes=(8, 32, 128, 512)
    )
    return out.select(
        F.col("key").cast("bigint").alias("key"),
        F.col("n_window").cast("bigint").alias("n_window"),
        F.col("n_buckets"),
        F.col("est2"),
        F.col("exact"),
    )


SQL_DGIM_SLIDING = r"""
WITH RECURSIVE base AS (
  SELECT user_id AS key,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
         CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS bit
  FROM events
),
totals AS (
  SELECT key, CAST(max(pos) AS BIGINT) AS n_pos,
         CAST(sum(bit) AS BIGINT) AS c_ones
  FROM base GROUP BY key
),
lv AS (
  SELECT key, 0 AS i, c_ones AS rem, CAST(1 AS BIGINT) AS sz,
         CASE WHEN c_ones = 0 THEN 0
              WHEN c_ones % 2 = 1 THEN 1 ELSE 2 END AS d
  FROM totals
  UNION ALL
  SELECT key, i + 1, (rem - d) // 2 AS rem, sz * 2 AS sz,
         CASE WHEN (rem - d) // 2 = 0 THEN 0
              WHEN ((rem - d) // 2) % 2 = 1 THEN 1 ELSE 2 END AS d
  FROM lv
  WHERE i < 30 AND (rem - d) // 2 > 0
),
buckets AS (
  SELECT key, sz AS size, cp,
         row_number() OVER (PARTITION BY key ORDER BY sz, cp) AS bseq
  FROM lv, unnest([0, 1]) AS t(cp)
  WHERE d > 0 AND cp < d
),
heads AS (
  SELECT key, size,
         CAST(sum(size) OVER (PARTITION BY key ORDER BY bseq)
              - size + 1 AS BIGINT) AS head_rank
  FROM buckets
),
ranked AS (
  SELECT key, pos,
         row_number() OVER (PARTITION BY key ORDER BY pos DESC) AS rnk
  FROM base WHERE bit = 1
),
placed AS (
  SELECT h.key, h.size, r.pos
  FROM heads h JOIN ranked r ON h.key = r.key AND h.head_rank = r.rnk
),
wins AS (SELECT CAST(n AS BIGINT) AS n_window FROM unnest([8, 32, 128, 512]) AS w(n)),
inw AS (
  SELECT p.key, w.n_window,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(2 * sum(p.size) - max(p.size) AS BIGINT) AS est2
  FROM placed p
  JOIN totals t ON p.key = t.key
  CROSS JOIN wins w
  WHERE p.pos >= t.n_pos - w.n_window + 1
  GROUP BY p.key, w.n_window
),
ex AS (
  SELECT b.key, w.n_window, CAST(sum(b.bit) AS BIGINT) AS exact
  FROM base b
  JOIN totals t ON b.key = t.key
  CROSS JOIN wins w
  WHERE b.pos >= t.n_pos - w.n_window + 1
  GROUP BY b.key, w.n_window
)
SELECT CAST(e.key AS BIGINT) AS key, e.n_window,
       COALESCE(i.n_buckets, 0) AS n_buckets,
       COALESCE(i.est2, 0) AS est2,
       e.exact
FROM ex e LEFT JOIN inw i ON e.key = i.key AND e.n_window = i.n_window
"""

QUERIES["dgim_sliding"] = q_dgim_sliding
ORACLES["dgim_sliding"] = SQL_DGIM_SLIDING


def q_dgim_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME DGIM sketch maintained by an actual Structured Streaming
    query running the textbook sequential state machine
    (streaming.sketch.dgim_stream) — the final per-key snapshot must
    equal the batch CLOSED FORM, which is exactly what the oracle
    computes. Stream state = the O(log² N) bucket list per key."""
    import uuid

    from .streaming.sketch import dgim_stream

    name = "dgim_sink_" + uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props map<string,string>"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select(
            F.col("user_id").alias("key"),
            F.col("ts").cast("timestamp").alias("ts"),
            "event_id",
            (F.col("event_id") % 3 == 0).cast("int").alias("bit"),
        )
    )
    out = dgim_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"""
        SELECT key, n_window, n_buckets, est2 FROM (
          SELECT *, row_number() OVER (
            PARTITION BY key, n_window ORDER BY n_pos DESC) AS rn
          FROM {name}) WHERE rn = 1
        """
    )


#: the batch closed form minus the `exact` column — what the stream can
#: answer from its O(log² N) state alone.
SQL_DGIM_STREAM = SQL_DGIM_SLIDING.replace(
    """SELECT CAST(e.key AS BIGINT) AS key, e.n_window,
       COALESCE(i.n_buckets, 0) AS n_buckets,
       COALESCE(i.est2, 0) AS est2,
       e.exact
FROM ex e LEFT JOIN inw i ON e.key = i.key AND e.n_window = i.n_window""",
    """SELECT CAST(t.key AS BIGINT) AS key, w.n_window,
       COALESCE(i.n_buckets, 0) AS n_buckets,
       COALESCE(i.est2, 0) AS est2
FROM totals t CROSS JOIN wins w
LEFT JOIN inw i ON t.key = i.key AND w.n_window = i.n_window""",
)
assert "e.exact" not in SQL_DGIM_STREAM

QUERIES["dgim_stream"] = q_dgim_stream
ORACLES["dgim_stream"] = SQL_DGIM_STREAM


def q_ams_rerollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS retention-tier merge: 6h counters summed element-wise into
    daily buckets READING TIER-1 ONLY. Counters are linear in the
    multiset, so merge == recompute EXACTLY — the oracle is the direct
    daily recompute (the hll/state rerollup identity convention)."""
    from .operators import ams_rerollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    return ams_rerollup(
        ev, fine_sec=21600, coarse_sec=86400, item_col="user_id", ts_col="sec"
    )


SQL_AMS_REROLLUP = f"""
WITH {_AMS_HASHED.format(fine=86400)},
counters AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n,
         {_AMS_COUNTER_SUMS}
  FROM hashed GROUP BY bucket
),
grouped AS (
  SELECT bucket, n,
         {_AMS_GROUP_SUMS}
  FROM counters
)
SELECT bucket,
       CAST(list_sort([g0, g1, g2, g3])[2] AS BIGINT) AS est_x16,
       n
FROM grouped
"""

QUERIES["ams_rerollup"] = q_ams_rerollup
ORACLES["ams_rerollup"] = SQL_AMS_REROLLUP


SDT_DEV = 200  # compDev in centi-units (±2.0 value units)


def q_sdt_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Swinging-door-trimming lossy compression per (event_type, 6h
    window) — the historian compDev step beside the lossless Gorilla
    codec. One centi-unit quantization, then every door decision is a
    cross-multiplied integer rational: the kept point set is EXACT and
    the oracle replays the identical walk in a recursive CTE
    (numpy/DuckDB model validated before the SQL, per the house
    rule)."""
    from .operators import sdt_compress

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value",
        F.unix_timestamp("ts").alias("sec"),
    )
    return sdt_compress(ev, bucket=21600, dev_centi=SDT_DEV)


SQL_SDT_COMPRESS = f"""
WITH RECURSIVE dedup AS (
  SELECT key, bucket, t, v FROM (
    SELECT event_type AS key,
           CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
           CAST(floor(epoch(ts)) AS BIGINT) AS t,
           CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS v,
           row_number() OVER (
             PARTITION BY event_type,
                          CAST(floor(epoch(ts)) AS BIGINT)
             ORDER BY CAST(event_id AS BIGINT) DESC) AS r
    FROM events
  ) WHERE r = 1
),
pts AS (
  SELECT key, bucket, t, v,
         row_number() OVER (PARTITION BY key, bucket ORDER BY t) AS rn,
         count(*) OVER (PARTITION BY key, bucket) AS n
  FROM dedup
),
walk AS (
  SELECT key, bucket, rn, n, t AS at, v AS av, t AS pt, v AS pv,
         TRUE AS fresh,
         CAST(0 AS BIGINT) AS smax_n, CAST(1 AS BIGINT) AS smax_d,
         CAST(0 AS BIGINT) AS smin_n, CAST(1 AS BIGINT) AS smin_d,
         [t] AS stored
  FROM pts WHERE rn = 1
  UNION ALL
  SELECT w.key, w.bucket, p.rn, w.n,
         CASE WHEN crossed THEN w.pt ELSE w.at END,
         CASE WHEN crossed THEN w.pv ELSE w.av END,
         p.t, p.v,
         FALSE,
         CASE WHEN crossed THEN p.v + {SDT_DEV} - w.pv ELSE new_smax_n END,
         CASE WHEN crossed THEN p.t - w.pt ELSE new_smax_d END,
         CASE WHEN crossed THEN p.v - {SDT_DEV} - w.pv ELSE new_smin_n END,
         CASE WHEN crossed THEN p.t - w.pt ELSE new_smin_d END,
         CASE WHEN crossed THEN list_append(w.stored, w.pt) ELSE w.stored END
  FROM walk w
  JOIN pts p ON p.key = w.key AND p.bucket = w.bucket AND p.rn = w.rn + 1,
  LATERAL (
    SELECT p.t - w.at AS dt,
           p.v + {SDT_DEV} - w.av AS up_n,
           p.v - {SDT_DEV} - w.av AS dn_n
  ) c1,
  LATERAL (
    SELECT CASE WHEN w.fresh OR c1.up_n * w.smax_d < w.smax_n * c1.dt
                THEN c1.up_n ELSE w.smax_n END AS new_smax_n,
           CASE WHEN w.fresh OR c1.up_n * w.smax_d < w.smax_n * c1.dt
                THEN c1.dt ELSE w.smax_d END AS new_smax_d,
           CASE WHEN w.fresh OR c1.dn_n * w.smin_d > w.smin_n * c1.dt
                THEN c1.dn_n ELSE w.smin_n END AS new_smin_n,
           CASE WHEN w.fresh OR c1.dn_n * w.smin_d > w.smin_n * c1.dt
                THEN c1.dt ELSE w.smin_d END AS new_smin_d
  ) c2,
  LATERAL (
    SELECT new_smin_n * new_smax_d > new_smax_n * new_smin_d AS crossed
  ) c3
),
fin AS (
  SELECT key, bucket,
         CASE WHEN pt <> stored[-1] THEN list_append(stored, pt)
              ELSE stored END AS stored
  FROM walk WHERE rn = n
),
kept AS (
  SELECT key, bucket, unnest(stored) AS t FROM fin
)
SELECT k.key, k.bucket, k.t, d.v AS v_centi
FROM kept k JOIN dedup d ON d.key = k.key AND d.bucket = k.bucket AND d.t = k.t
"""

QUERIES["sdt_compress"] = q_sdt_compress
ORACLES["sdt_compress"] = SQL_SDT_COMPRESS


def q_sdt_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-fidelity audit of the swinging-door kept set: every
    raw point lerp-reconstructed from its bracketing kept points, the
    error kept as the INTEGER rational |v·dt − lerp_num| (centi·sec
    units — the division that would make the error a float never
    happens; the reported max is one floor division to milli-centi
    units), plus the 2·dev bound checked cross-multiplied per point.
    Composes two operators (sdt_compress + the audit) in one plan:
    the brackets come from last/first IGNORE NULLS windows over the
    same (key, bucket) exchange the kernel used."""
    from pyspark.sql import Window

    from .operators import sdt_compress

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value",
        F.unix_timestamp("ts").alias("sec"),
    )
    kept = sdt_compress(ev, bucket=21600, dev_centi=SDT_DEV).select(
        "key", "bucket", "t", F.lit(1).alias("is_kept")
    )
    wdd = Window.partitionBy("key", "t").orderBy(F.col("i").desc())
    dedup = (
        ev.select(
            F.col("event_type").alias("key"),
            F.col("sec").cast("long").alias("t"),
            # the sdt_compress quantization expression, verbatim
            F.round(F.col("value").cast("double") * 100).cast("bigint").alias("v"),
            F.col("event_id").cast("long").alias("i"),
        )
        .withColumn("r", F.row_number().over(wdd))
        .where(F.col("r") == 1)
        .select(
            "key", F.floor(F.col("t") / 21600).cast("long").alias("bucket"),
            F.col("t").cast("long").alias("t"), "v",
        )
    )
    marked = dedup.join(kept, ["key", "bucket", "t"], "left").withColumn(
        "is_kept", F.coalesce("is_kept", F.lit(0))
    )
    wb = (
        Window.partitionBy("key", "bucket")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("key", "bucket")
        .orderBy("t")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    kt = F.when(F.col("is_kept") == 1, F.col("t"))
    kv = F.when(F.col("is_kept") == 1, F.col("v"))
    br = marked.select(
        "key", "bucket", "t", "v", "is_kept",
        F.last(kt, ignorenulls=True).over(wb).alias("t0"),
        F.last(kv, ignorenulls=True).over(wb).alias("v0"),
        F.first(kt, ignorenulls=True).over(wf).alias("t1"),
        F.first(kv, ignorenulls=True).over(wf).alias("v1"),
    )
    errs = br.select(
        "key", "bucket", "is_kept",
        F.when(F.col("is_kept") == 1, F.lit(0).cast("bigint"))
        .otherwise(
            F.abs(
                F.col("v") * (F.col("t1") - F.col("t0"))
                - (
                    F.col("v0") * (F.col("t1") - F.col("t0"))
                    + (F.col("v1") - F.col("v0")) * (F.col("t") - F.col("t0"))
                )
            )
        )
        .alias("err_scaled"),
        F.when(F.col("is_kept") == 1, F.lit(1).cast("bigint"))
        .otherwise(F.col("t1") - F.col("t0"))
        .alias("dt"),
    )
    return errs.groupBy("key", "bucket").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.sum("is_kept").cast("bigint").alias("n_kept"),
        F.max(F.expr("err_scaled * 1000 div dt")).cast("bigint").alias("max_err_milli"),
        F.min(
            F.when(F.col("err_scaled") <= 2 * SDT_DEV * F.col("dt"), 1).otherwise(0)
        )
        .cast("int")
        .alias("bound_ok"),
    )


_SDT_KEPT_BODY = SQL_SDT_COMPRESS.rsplit("SELECT k.key", 1)[0].rstrip()
assert _SDT_KEPT_BODY.endswith(")")

SQL_SDT_ERROR_AUDIT = f"""{_SDT_KEPT_BODY},
marked AS (
  SELECT d.key, d.bucket, d.t, d.v,
         CASE WHEN k.t IS NOT NULL THEN 1 ELSE 0 END AS is_kept
  FROM dedup d LEFT JOIN kept k
    ON k.key = d.key AND k.bucket = d.bucket AND k.t = d.t
),
br AS (
  SELECT key, bucket, t, v, is_kept,
         last_value(CASE WHEN is_kept = 1 THEN t END IGNORE NULLS) OVER wb AS t0,
         last_value(CASE WHEN is_kept = 1 THEN v END IGNORE NULLS) OVER wb AS v0,
         first_value(CASE WHEN is_kept = 1 THEN t END IGNORE NULLS) OVER wf AS t1,
         first_value(CASE WHEN is_kept = 1 THEN v END IGNORE NULLS) OVER wf AS v1
  FROM marked
  WINDOW wb AS (PARTITION BY key, bucket ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY key, bucket ORDER BY t
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
errs AS (
  SELECT key, bucket, is_kept,
         CASE WHEN is_kept = 1 THEN CAST(0 AS BIGINT)
              ELSE abs(v * (t1 - t0)
                       - (v0 * (t1 - t0) + (v1 - v0) * (t - t0))) END AS err_scaled,
         CASE WHEN is_kept = 1 THEN CAST(1 AS BIGINT)
              ELSE t1 - t0 END AS dt
  FROM br
)
SELECT key, bucket,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(is_kept) AS BIGINT) AS n_kept,
       CAST(max(err_scaled * 1000 // dt) AS BIGINT) AS max_err_milli,
       CAST(min(CASE WHEN err_scaled <= 2 * {SDT_DEV} * dt
                     THEN 1 ELSE 0 END) AS INT) AS bound_ok
FROM errs GROUP BY 1, 2
"""

QUERIES["sdt_error_audit"] = q_sdt_error_audit
ORACLES["sdt_error_audit"] = SQL_SDT_ERROR_AUDIT


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival over user lifetimes with
    right-censoring (hour-grain lifetimes; churn = last event ≥ 6h
    before study end — the corpus spans ~30 days, so hour grain gives
    a real curve at every SF). The product limit replays as INTEGER
    floor-division micro-units — no float rounding convention
    anywhere."""
    from .operators import kaplan_meier

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    return kaplan_meier(ev, grain_sec=3600, churn_sec=21600)


SQL_KAPLAN_MEIER = r"""
WITH RECURSIVE per_user AS (
  SELECT user_id,
         min(CAST(floor(epoch(ts)) AS BIGINT)) AS first_t,
         max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_t
  FROM events GROUP BY 1
),
study AS (
  SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS study_end FROM events
),
users AS (
  SELECT CAST((last_t - first_t) // 3600 AS BIGINT) AS d,
         CASE WHEN study_end - last_t >= 21600 THEN 1 ELSE 0 END
           AS churned
  FROM per_user, study
),
per_d AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_at_d,
         CAST(sum(churned) AS BIGINT) AS e_at_d
  FROM users GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM users),
steps AS (
  SELECT d AS t_age,
         CAST(tot - coalesce(CAST(sum(n_at_d) OVER (
             ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS BIGINT), 0) AS BIGINT) AS n_risk,
         e_at_d AS n_event
  FROM per_d, tot
),
ev AS (
  SELECT t_age, n_risk, n_event,
         row_number() OVER (ORDER BY t_age) AS rn
  FROM steps WHERE n_event > 0
),
walk AS (
  SELECT rn, t_age, n_risk, n_event,
         (CAST(1000000000 AS BIGINT) * (n_risk - n_event)) // n_risk AS s
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.rn, e.t_age, e.n_risk, e.n_event,
         (w.s * (e.n_risk - e.n_event)) // e.n_risk
  FROM walk w JOIN ev e ON e.rn = w.rn + 1
)
SELECT t_age, n_risk, n_event, CAST(s AS BIGINT) AS surv_x1e9,
       CAST(s AS DOUBLE) / 1e9 AS survival
FROM walk
"""

QUERIES["kaplan_meier"] = q_kaplan_meier
ORACLES["kaplan_meier"] = SQL_KAPLAN_MEIER


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over orders: recency/frequency/
    monetary quintiles (5 = best) with exact-cent amounts and
    total-order ntile tie-breaks — integer-only output."""
    from .operators import rfm_segments

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey",
        F.unix_timestamp("o_orderdate").alias("o_orderdate"),
        "o_totalprice",
    )
    return rfm_segments(orders)


SQL_RFM_SEGMENTS = r"""
WITH per_c AS (
  SELECT o_custkey AS custkey,
         max(CAST(floor(epoch(o_orderdate)) AS BIGINT)) AS last_t,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT))
              AS BIGINT) AS monetary_cents
  FROM orders GROUP BY 1
),
endt AS (
  SELECT max(CAST(floor(epoch(o_orderdate)) AS BIGINT)) AS end_t FROM orders
),
base AS (
  SELECT custkey,
         CAST((end_t - last_t) // 86400 AS BIGINT) AS recency_days,
         frequency, monetary_cents
  FROM per_c, endt
)
SELECT custkey, recency_days, frequency, monetary_cents,
       CAST(ntile(5) OVER (ORDER BY recency_days DESC, custkey) AS BIGINT) AS r,
       CAST(ntile(5) OVER (ORDER BY frequency ASC, custkey) AS BIGINT) AS f,
       CAST(ntile(5) OVER (ORDER BY monetary_cents ASC, custkey) AS BIGINT) AS m,
       CAST(ntile(5) OVER (ORDER BY recency_days DESC, custkey) * 100
            + ntile(5) OVER (ORDER BY frequency ASC, custkey) * 10
            + ntile(5) OVER (ORDER BY monetary_cents ASC, custkey)
            AS BIGINT) AS rfm_code
FROM base
"""

QUERIES["rfm_segments"] = q_rfm_segments
ORACLES["rfm_segments"] = SQL_RFM_SEGMENTS


def q_aamp_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AAMP — NON-normalized Euclidean matrix profile per tokenized doc
    (Akbarinia & Cloez 2019): which VALUES repeat, not which shapes.
    Over integer token ids the squared window distance is an exact
    integer, so profile AND index hash bit-for-bit with no float
    convention and no low-variance guard (nothing is normalized)."""
    import pandas as pd

    from .mpcore.aamp import AAMP_SENT, aamp

    tok = _tokenized(spark, sf_dir).filter(F.col("n_tok") >= MIN_LEN)

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                mp2, pi = aamp(np.asarray(toks, dtype=np.int64), W, EZ_N)
                for pos in range(len(mp2)):
                    if mp2[pos] != AAMP_SENT:
                        out.append(
                            {
                                "doc_id": int(doc_id),
                                "pos": pos,
                                "mp2": int(mp2[pos]),
                                "pi": int(pi[pos]),
                            }
                        )
            if out:
                yield pd.DataFrame(out)

    seqs = tok.select(F.col("doc_id").cast("bigint").alias("doc_id"), "tokens")
    return seqs.mapInPandas(
        kernel, "doc_id long, pos long, mp2 long, pi long"
    )


SQL_AAMP_TOKENS = f"""
WITH {_SQL_TOKEN_SERIES},
lens AS (
  SELECT doc_id, count(*) AS n FROM s GROUP BY 1
  HAVING count(*) >= {MIN_LEN}
),
el AS (
  SELECT s.doc_id, pos, CAST(value AS BIGINT) AS v
  FROM s JOIN lens USING (doc_id)
),
pr AS (
  SELECT a.doc_id, a.pos AS t, b.pos - a.pos AS d,
         (a.v - b.v) * (a.v - b.v) AS sq
  FROM el a JOIN el b ON a.doc_id = b.doc_id AND b.pos > a.pos + {EZ_N}
),
qt AS (
  SELECT doc_id, t AS i, d,
         CAST(sum(sq) OVER win AS BIGINT) AS sqd,
         count(*) OVER win AS m
  FROM pr
  WINDOW win AS (PARTITION BY doc_id, d ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
),
sides AS (
  SELECT doc_id, i AS pos, i + d AS nn, sqd FROM qt WHERE m = {W}
  UNION ALL
  SELECT doc_id, i + d AS pos, i AS nn, sqd FROM qt WHERE m = {W}
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(pos AS BIGINT) AS pos,
       sqd AS mp2, CAST(nn AS BIGINT) AS pi
FROM (SELECT doc_id, pos, nn, sqd,
             row_number() OVER (PARTITION BY doc_id, pos
                                ORDER BY sqd, nn) AS rn
      FROM sides)
WHERE rn = 1
"""

QUERIES["aamp_tokens"] = q_aamp_tokens
ORACLES["aamp_tokens"] = SQL_AAMP_TOKENS


def q_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per (event_type, 6h bucket): ±1 sweep
    over the house synthetic intervals [sec, sec+3600+floor(|v|·600))
    with the total (t, delta, id) order — half-open semantics, integer
    exact."""
    from .operators import concurrency_peak

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sec = F.unix_timestamp("ts").cast("long")
    iv = ev.select(
        F.col("event_type").alias("key"),
        sec.alias("start"),
        (sec + 3600 + F.floor(F.abs(F.col("value")) * 600).cast("long"))
        .alias("end"),
        F.col("event_id").alias("iid"),
    )
    return concurrency_peak(iv, bucket_sec=21600)


SQL_CONCURRENCY_PEAK = r"""
WITH iv AS (
  SELECT event_type AS key, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 3600
           + CAST(floor(abs(value) * 600) AS BIGINT) AS e,
         CAST(event_id AS BIGINT) AS iid
  FROM events
),
changes AS (
  SELECT key, s AS t, CAST(1 AS BIGINT) AS delta, iid FROM iv
  UNION ALL
  SELECT key, e AS t, CAST(-1 AS BIGINT) AS delta, iid FROM iv
),
swept AS (
  SELECT key, t,
         CAST(sum(delta) OVER (PARTITION BY key
                               ORDER BY t, delta, iid) AS BIGINT) AS conc
  FROM changes
)
SELECT key, t // 21600 AS bucket,
       CAST(max(conc) AS BIGINT) AS peak,
       CAST(count(*) AS BIGINT) AS n_changes
FROM swept GROUP BY 1, 2
"""

QUERIES["concurrency_peak"] = q_concurrency_peak
ORACLES["concurrency_peak"] = SQL_CONCURRENCY_PEAK


PR_ITERS = 3


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the symmetrized customer–supplier trade
    graph (edge weight = lineitem count via orders): 3 unrolled power
    iterations of the INTEGER micro-unit recurrence — bit-exact on
    both engines, no float anywhere (the kaplan_meier convention)."""
    from .operators import pagerank

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .agg(F.count("*").cast("long").alias("w"))
    )
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
    )
    return pagerank(edges, iters=PR_ITERS)


def _pr_sql() -> str:
    tele = "(CAST(1000000000 AS BIGINT) * 15 // 100)"
    iters = []
    for k in range(1, PR_ITERS + 1):
        prev = f"r{k-1}"
        iters.append(f"""
r{k} AS MATERIALIZED (
  SELECT nd.node,
         CAST({tele} // nn.n + coalesce(c.s, 0) AS BIGINT) AS r
  FROM nodes nd CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum((85 * p.r * e.w) // (100 * o.W)) AS BIGINT) AS s
    FROM edges e
    JOIN {prev} p ON p.node = e.src
    JOIN outw o ON o.src = e.src
    GROUP BY 1
  ) c ON c.node = nd.node
)""")
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS a,
         's' || CAST(l_suppkey AS VARCHAR) AS b,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
edges AS MATERIALIZED (
  SELECT a AS src, b AS dst, w FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst, w FROM pairs
),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
outw AS MATERIALIZED (
  SELECT src, CAST(sum(w) AS BIGINT) AS W FROM edges GROUP BY 1
),
r0 AS MATERIALIZED (
  SELECT node, CAST(CAST(1000000000 AS BIGINT) // nn.n AS BIGINT) AS r
  FROM nodes CROSS JOIN nn
),{",".join(iters)}
SELECT node, r AS pr_x1e9 FROM r{PR_ITERS}
"""


SQL_PAGERANK = _pr_sql()

QUERIES["pagerank"] = q_pagerank
ORACLES["pagerank"] = SQL_PAGERANK


def q_sdt_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming swinging-door trimming through an actual Structured
    Streaming query (streaming.rollup.sdt_stream): events replayed via
    a file stream, kept points appended as doors close. The walk is
    order-dependent with O(1) state under the ordered-ingest contract,
    so the drained output equals the BATCH kept set minus each open
    window's pending trailing point — the oracle is the batch SDT SQL
    with trailing rows removed."""
    import uuid

    from .streaming.rollup import sdt_stream

    name = "sdt_sink_" + uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props map<string,string>"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "event_type", "value",
                F.unix_timestamp("ts").alias("sec"))
    )
    out = sdt_stream(stream, bucket_sec=21600, dev_centi=SDT_DEV)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(f"SELECT key, bucket, t, v_centi FROM {name}")


SQL_SDT_STREAM = f"""
WITH base AS MATERIALIZED ({SQL_SDT_COMPRESS}),
flagged AS (
  SELECT key, bucket, t, v_centi,
         max(t) OVER (PARTITION BY key, bucket) AS mt,
         min(t) OVER (PARTITION BY key, bucket) AS mint
  FROM base
)
-- the stream emits the FIRST kept point immediately and every
-- door-closed point; only the pending trailing point is absent —
-- unless the group is a singleton, where trailing == first and the
-- first-point emission already covered it
SELECT key, bucket, t, v_centi FROM flagged WHERE t <> mt OR t = mint
"""

QUERIES["sdt_stream"] = q_sdt_stream
ORACLES["sdt_stream"] = SQL_SDT_STREAM


def q_ams_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming AMS F2 sketch through a real Structured Streaming
    query: counters are LINEAR integer folds, so the drained last
    snapshot per bucket equals the batch sketch for any arrival order —
    gated by the same counter-chain SQL as the batch `ams_f2`."""
    import uuid

    from .streaming.sketch import ams_stream

    name = "ams_sink_" + uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props map<string,string>"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("user_id", F.unix_timestamp("ts").alias("sec"))
    )
    out = ams_stream(stream, bucket_sec=21600)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"""
        SELECT bucket, est_x16, n_seen AS n
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY bucket ORDER BY n_seen DESC) AS rn
          FROM {name}) WHERE rn = 1
        """
    )


SQL_AMS_STREAM = f"""
WITH {_AMS_HASHED.format(fine=21600)},
counters AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n,
         {_AMS_COUNTER_SUMS}
  FROM hashed GROUP BY bucket
),
grouped AS (
  SELECT bucket, n,
         {_AMS_GROUP_SUMS}
  FROM counters
)
SELECT bucket,
       CAST(list_sort([g0, g1, g2, g3])[2] AS BIGINT) AS est_x16,
       n
FROM grouped
"""

QUERIES["ams_stream"] = q_ams_stream
ORACLES["ams_stream"] = SQL_AMS_STREAM


def q_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shape local-supplier volume: lineitem ⋈ orders ⋈
    customer ⋈ supplier ⋈ nation ⋈ region (ASIA), LOCAL suppliers only
    (c_nationkey = s_nationkey), revenue per nation in integer-exact
    1e-4 units. Every dimension side broadcasts — the fact table
    shuffles exactly once, for its own nation groupBy."""
    region = (
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_nationkey").alias("cn"), "n_name")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", F.col("s_nationkey").alias("sn")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        "l_suppkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).alias("rev_u"),
    )
    oc = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    j = (
        li.join(F.broadcast(oc), li.l_orderkey == oc.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("cn") == F.col("sn"))
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum("rev_u").cast("bigint").alias("revenue_u"),
        F.count("*").cast("bigint").alias("n_items"),
    )


SQL_REGIONAL_VOLUME = r"""
SELECT n_name AS nation,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_u,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey AND r_name = 'ASIA'
GROUP BY 1
"""

QUERIES["regional_volume"] = q_regional_volume
ORACLES["regional_volume"] = SQL_REGIONAL_VOLUME


def q_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning audit over ingestion-order granules of 512
    events: per-granule integer min/max, the skip decision for
    value ∈ [100, 200], and actual-match counts — n_rows − n_match on
    kept granules IS the measured false-keep cost of the layout."""
    from .operators import zonemap_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "value"
    )
    return zonemap_stats(
        ev, granule_rows=512, lo_centi=10000, hi_centi=20000
    )


SQL_ZONEMAP_PRUNE = r"""
WITH g AS (
  SELECT (CAST(event_id AS BIGINT) - ((CAST(event_id AS BIGINT) % 512 + 512) % 512)) // 512 AS granule,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vc
  FROM events
)
SELECT granule,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(vc) AS BIGINT) AS vmin_centi,
       CAST(max(vc) AS BIGINT) AS vmax_centi,
       CAST(sum(CASE WHEN vc >= 10000 AND vc <= 20000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_match,
       CAST(CASE WHEN max(vc) < 10000 OR min(vc) > 20000 THEN 1 ELSE 0 END
            AS BIGINT) AS skippable
FROM g GROUP BY 1
"""

QUERIES["zonemap_prune"] = q_zonemap_prune
ORACLES["zonemap_prune"] = SQL_ZONEMAP_PRUNE


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed-mean continuous aggregate per (event_type, 6h
    bucket): count-based trimming over the TOTAL (value, id) order —
    no interpolation, integer-exact kept mass, ONE shuffle (the window
    exchange reused by the groupBy)."""
    from .operators import trimmed_mean

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value",
        F.unix_timestamp("ts").alias("sec"),
    )
    return trimmed_mean(ev, bucket_sec=21600, trim_pct=10)


SQL_TRIMMED_MEAN = r"""
WITH rows_ AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts)) AS BIGINT) // 21600 AS bucket,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vc,
         CAST(event_id AS BIGINT) AS i
  FROM events
),
ranked AS (
  SELECT key, bucket, vc,
         row_number() OVER (PARTITION BY key, bucket
                            ORDER BY vc ASC, i ASC) AS ra,
         row_number() OVER (PARTITION BY key, bucket
                            ORDER BY vc DESC, i DESC) AS rd,
         count(*) OVER (PARTITION BY key, bucket) AS n
  FROM rows_
),
agg AS (
  SELECT key, bucket,
         CAST(max(n) AS BIGINT) AS n,
         CAST(sum(CASE WHEN ra > (n * 10) // 100 AND rd > (n * 10) // 100
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN ra > (n * 10) // 100 AND rd > (n * 10) // 100
                       THEN vc ELSE 0 END) AS BIGINT) AS sum_kept_centi
  FROM ranked GROUP BY 1, 2
)
SELECT key, bucket, n, n_kept, sum_kept_centi,
       CASE WHEN n_kept > 0
            THEN CAST(sum_kept_centi AS DOUBLE) / n_kept END AS mean_centi
FROM agg
"""

QUERIES["trimmed_mean"] = q_trimmed_mean
ORACLES["trimmed_mean"] = SQL_TRIMMED_MEAN


def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast per user over daily event
    counts: dyadic α=0.5 separate smoothing of demand size and
    inter-demand interval — raw unrounded doubles gate bit-exact (the
    holt convention); oracle replays the recurrence step-for-step."""
    from .operators import croston_forecast

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    return croston_forecast(ev, day_sec=86400)


SQL_CROSTON = r"""
WITH RECURSIVE daily AS (
  SELECT CAST(user_id AS BIGINT) AS key,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(count(*) AS BIGINT) AS z
  FROM events GROUP BY 1, 2
),
dem AS (
  SELECT key, day, z,
         row_number() OVER (PARTITION BY key ORDER BY day) AS rn,
         count(*) OVER (PARTITION BY key) AS n
  FROM daily
),
walk AS (
  SELECT key, rn, n, day AS prev_day,
         CAST(z AS DOUBLE) AS z_hat,
         CAST(NULL AS DOUBLE) AS q_hat
  FROM dem WHERE rn = 1
  UNION ALL
  SELECT w.key, d.rn, w.n, d.day,
         w.z_hat + CAST(0.5 AS DOUBLE)
                   * (CAST(d.z AS DOUBLE) - w.z_hat),
         CASE WHEN w.q_hat IS NULL
              THEN CAST(d.day - w.prev_day AS DOUBLE)
              ELSE w.q_hat + CAST(0.5 AS DOUBLE)
                   * (CAST(d.day - w.prev_day AS DOUBLE) - w.q_hat)
         END
  FROM walk w JOIN dem d ON d.key = w.key AND d.rn = w.rn + 1
)
SELECT key, CAST(n AS BIGINT) AS n_demands, z_hat, q_hat,
       CASE WHEN q_hat IS NOT NULL THEN z_hat / q_hat END AS forecast
FROM walk WHERE rn = n
"""

QUERIES["croston"] = q_croston
ORACLES["croston"] = SQL_CROSTON


def q_alarm_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hysteresis alarm transitions per event_type (ON ≥ 200, OFF ≤
    100): the two-threshold state machine as ONE last(ignorenulls)
    window — integer centi comparisons, transitions only."""
    from .operators import alarm_transitions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value",
        F.unix_timestamp("ts").alias("sec"),
    )
    return alarm_transitions(ev, hi_centi=20000, lo_centi=10000)


SQL_ALARM_TRANSITIONS = r"""
WITH rows_ AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(event_id AS BIGINT) AS i,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vc
  FROM events
),
st AS (
  SELECT key, t, i, vc,
         coalesce(last_value(
           CASE WHEN vc >= 20000 THEN 1 WHEN vc <= 10000 THEN 0 END
           IGNORE NULLS) OVER (
             PARTITION BY key ORDER BY t, i
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
           AS state
  FROM rows_
),
tr AS (
  SELECT key, t, i, vc, CAST(state AS BIGINT) AS state,
         CAST(coalesce(lag(state) OVER (PARTITION BY key ORDER BY t, i), 0)
              AS BIGINT) AS prev_state
  FROM st
)
SELECT key, t, i AS event_id, vc, state
FROM tr WHERE state <> prev_state
"""

QUERIES["alarm_transitions"] = q_alarm_transitions
ORACLES["alarm_transitions"] = SQL_ALARM_TRANSITIONS


def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pairwise lift over order lines (pairs co-occurring
    in ≥ 3 orders): exact integer support quadruple + lift as one
    fixed-order expression — basket-key self-join fan-out, never
    |items|²."""
    from .operators import basket_lift

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    return basket_lift(li, min_pair_support=3)


SQL_BASKET_LIFT = r"""
WITH base AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS it FROM lineitem
),
nb AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_baskets FROM base),
support AS (
  SELECT it, CAST(count(*) AS BIGINT) AS s FROM base GROUP BY 1
),
pairs AS (
  SELECT a.it AS ia, b.it AS ib, CAST(count(*) AS BIGINT) AS pair_n
  FROM base a JOIN base b ON a.o = b.o AND a.it < b.it
  GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT p.ia AS item_a, p.ib AS item_b, p.pair_n,
       sa.s AS a_n, sb.s AS b_n, nb.n_baskets,
       CAST(p.pair_n * nb.n_baskets AS DOUBLE) / (sa.s * sb.s) AS lift
FROM pairs p
JOIN support sa ON sa.it = p.ia
JOIN support sb ON sb.it = p.ib
CROSS JOIN nb
"""

QUERIES["basket_lift"] = q_basket_lift
ORACLES["basket_lift"] = SQL_BASKET_LIFT


COMPACT_TARGET = 8192


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg rewrite_data_files-style compaction plan: per-source
    first-fit-decreasing bin packing of document byte sizes into
    8 KiB output bins — pure integer greedy over a total order, exact
    on both engines."""
    from .operators import compaction_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("source").alias("grp"),
        F.col("doc_id").cast("long").alias("file_id"),
        F.octet_length("text").cast("long").alias("size"),
    )
    return compaction_plan(docs, target_bytes=COMPACT_TARGET)


SQL_COMPACTION_PLAN = f"""
WITH RECURSIVE items AS (
  SELECT source AS grp, CAST(doc_id AS BIGINT) AS id,
         CAST(strlen(text) AS BIGINT) AS sz
  FROM documents
),
ordered AS (
  SELECT grp, id, sz,
         row_number() OVER (PARTITION BY grp ORDER BY sz DESC, id) AS rn,
         count(*) OVER (PARTITION BY grp) AS n
  FROM items
),
walk AS (
  SELECT grp, rn, n, id, sz, CAST(1 AS BIGINT) AS bin_id, [sz] AS loads
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT w.grp, o.rn, w.n, o.id, o.sz,
         CASE WHEN len(fits) > 0 THEN CAST(fits[1] AS BIGINT)
              ELSE CAST(len(w.loads) + 1 AS BIGINT) END,
         CASE WHEN len(fits) > 0
              THEN list_transform(range(1, len(w.loads) + 1),
                     i -> CASE WHEN i = fits[1] THEN w.loads[i] + o.sz
                               ELSE w.loads[i] END)
              ELSE list_append(w.loads, o.sz) END
  FROM walk w
  JOIN ordered o ON o.grp = w.grp AND o.rn = w.rn + 1,
  LATERAL (
    SELECT list_filter(range(1, len(w.loads) + 1),
                       i -> w.loads[i] + o.sz <= {COMPACT_TARGET}) AS fits
  ) c
)
SELECT grp, id AS file_id, sz AS size, bin_id FROM walk
"""

QUERIES["compaction_plan"] = q_compaction_plan
ORACLES["compaction_plan"] = SQL_COMPACTION_PLAN


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-20-docs-per-source deterministic sample: salted md5 order
    key, one WindowGroupLimit-bounded keyed window — the shuffle moves
    O(strata · k), never the corpus."""
    from .operators import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    out = stratified_sample(docs, k_per_stratum=20)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "source"
    )


SQL_STRATIFIED_SAMPLE = r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('strat1:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 20
"""

QUERIES["stratified_sample"] = q_stratified_sample
ORACLES["stratified_sample"] = SQL_STRATIFIED_SAMPLE


def q_mp_left_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left/right matrix profile (stomp.R:196-210): each window's nearest
    neighbor restricted to strictly EARLIER (left) or strictly LATER
    (right) positions. The left profile is the online-novelty primitive
    (a high left-MP window has never been seen before — the streaming
    discord of Yeh et al. 2016 §V) and the right profile drives chain
    discovery; their elementwise min is the ordinary profile (pinned in
    pytest). Long format (doc_id, pos, side, mp_r, pi), sides without an
    admissible neighbor omitted (pair-based SQL cannot emit them).

    Plan: ONE kernel scan — the six nested arrays explode once
    (arrays_zip + posexplode) and ``stack`` unpivots the L/R pair
    JVM-side below the filter; no Arrow-lineage branching."""
    from .operators.matrix_profile import _explode_nested, matrix_profile_nested

    nested = matrix_profile_nested(
        _sequences(spark, sf_dir), W, algorithm="stomp", long_series_threshold=None
    )
    lr = _explode_nested(nested).selectExpr(
        "doc_id",
        "CAST(pos AS BIGINT) AS pos",
        "stack(2, 'L', lmp, lpi, 'R', rmp, rpi) AS (side, mp_raw, pi_raw)",
    )
    return lr.filter(
        F.col("pi_raw").isNotNull()
        & (F.col("pi_raw") >= 0)
        & F.col("mp_raw").isNotNull()
        & ~F.isnan("mp_raw")
    ).select(
        "doc_id",
        "pos",
        "side",
        _r4("mp_raw").alias("mp_r"),
        F.col("pi_raw").cast("bigint").alias("pi"),
    )


SQL_MP_LEFT_RIGHT = f"""
WITH {sql_mp_cte()},
lr AS (
  SELECT doc_id, i AS pos, 'R' AS side, j AS nn, dist FROM dists
  UNION ALL
  SELECT doc_id, j AS pos, 'L' AS side, i AS nn, dist FROM dists
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos, side,
       round(dist, 4) AS mp_r, CAST(nn AS BIGINT) AS pi
FROM (SELECT doc_id, pos, side, nn, dist,
             row_number() OVER (PARTITION BY doc_id, pos, side
                                ORDER BY dist, nn) AS rn
      FROM lr)
WHERE rn = 1
"""

QUERIES["mp_left_right"] = q_mp_left_right
ORACLES["mp_left_right"] = SQL_MP_LEFT_RIGHT


def q_contrast_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrast profile (Yeh et al., ICDM 2022) over the deterministic
    user pairs: CP(i) = clip((MP_AB(i) - MP_AA(i)) / (2*sqrt(w)), 0, 1)
    — subsequences of A conserved in A but absent from B. One kernel
    pass computes both profiles; see operators.contrast_profile."""
    from .operators import contrast_profile

    cp = contrast_profile(_pairs(spark, sf_dir), W)
    return cp.select(
        "doc_id_a",
        "doc_id_b",
        F.col("pos").cast("bigint").alias("pos"),
        _r4("mp_aa").alias("mp_aa_r"),
        _r4("mp_ab").alias("mp_ab_r"),
        _r4("cp").alias("cp_r"),
    )


SQL_CONTRAST_PROFILE = f"""
WITH {sql_mp_cte()},
pairsel AS (
  SELECT CAST(a.doc_id AS BIGINT) AS ida, CAST(b.doc_id AS BIGINT) AS idb
  FROM (SELECT DISTINCT doc_id FROM len) a
  JOIN (SELECT DISTINCT doc_id FROM len) b
    ON CAST(a.doc_id AS BIGINT) % 2 = 0 AND CAST(a.doc_id AS BIGINT) < 10
   AND CAST(b.doc_id AS BIGINT) = CAST(a.doc_id AS BIGINT) + 1
),
abpr AS (
  SELECT p.ida, p.idb, ea.pos AS t, eb.pos - ea.pos AS d,
         ea.value * eb.value AS prod
  FROM pairsel p
  JOIN s ea ON ea.doc_id = CAST(p.ida AS VARCHAR)
  JOIN s eb ON eb.doc_id = CAST(p.idb AS VARCHAR)
),
abqt AS (
  SELECT ida, idb, t AS i, d,
         sum(prod) OVER win AS qt, count(prod) OVER win AS m
  FROM abpr
  WINDOW win AS (PARTITION BY ida, idb, d ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)
),
abdists AS (
  SELECT q.ida, q.idb, q.i,
         sqrt(greatest(2.0 * {W} * (1.0 - (q.qt - {W} * si.mu * sj.mu)
              / ({W} * si.sd * sj.sd)), 0.0)) AS dist
  FROM abqt q
  JOIN stats si ON si.doc_id = CAST(q.ida AS VARCHAR) AND si.pos = q.i
  JOIN stats sj ON sj.doc_id = CAST(q.idb AS VARCHAR) AND sj.pos = q.i + q.d
  WHERE q.m = {W} AND si.sd >= 1e-7 * (abs(si.mu) + 1.0)
    AND sj.sd >= 1e-7 * (abs(sj.mu) + 1.0)
),
mpab AS (
  SELECT ida, idb, i AS pos, min(dist) AS mp_ab FROM abdists GROUP BY 1, 2, 3
)
SELECT CAST(x.ida AS VARCHAR) AS doc_id_a, CAST(x.idb AS VARCHAR) AS doc_id_b,
       CAST(x.pos AS BIGINT) AS pos,
       round(mp.mp, 4) AS mp_aa_r, round(x.mp_ab, 4) AS mp_ab_r,
       round(least(greatest((x.mp_ab - mp.mp) / (2.0 * sqrt({W}.0)), 0.0), 1.0),
             4) AS cp_r
FROM mpab x
JOIN mp ON mp.doc_id = CAST(x.ida AS VARCHAR) AND mp.pos = x.pos
"""

QUERIES["contrast_profile"] = q_contrast_profile
ORACLES["contrast_profile"] = SQL_CONTRAST_PROFILE


def q_k_motiflets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best 3-motiflet per series (Schäfer & Leser, PVLDB 2022): the set
    of 3 non-overlapping windows minimizing the max pairwise z-norm
    distance (extent) — radius-free motif sets, anchored greedy
    candidate generation. The oracle replays both greedy picks and the
    extent argmin relationally over the brute pair-distance table."""
    from .operators import k_motiflets_op

    out = k_motiflets_op(_sequences(spark, sf_dir), W, k=3)
    return out.select(
        "doc_id",
        F.col("anchor").cast("bigint").alias("anchor"),
        F.element_at("members", 2).cast("bigint").alias("m1"),
        F.element_at("members", 3).cast("bigint").alias("m2"),
        _r4("extent").alias("extent_r"),
    )


SQL_K_MOTIFLETS = f"""
WITH {sql_mp_cte()},
dall AS (
  SELECT doc_id, i, j, dist FROM dists
  UNION ALL
  SELECT doc_id, j AS i, i AS j, dist FROM dists
),
n1 AS (
  SELECT doc_id, i AS anchor, j AS m1, dist AS d1 FROM (
    SELECT doc_id, i, j, dist,
           row_number() OVER (PARTITION BY doc_id, i ORDER BY dist, j) AS rn
    FROM dall
  ) WHERE rn = 1
),
n2 AS (
  SELECT doc_id, anchor, m1, d1, m2, d2 FROM (
    SELECT d.doc_id, n1.anchor, n1.m1, n1.d1, d.j AS m2, d.dist AS d2,
           row_number() OVER (PARTITION BY d.doc_id, n1.anchor
                              ORDER BY d.dist, d.j) AS rn
    FROM dall d
    JOIN n1 ON d.doc_id = n1.doc_id AND d.i = n1.anchor
    WHERE abs(d.j - n1.m1) > {EZ_N}
  ) WHERE rn = 1
),
ext AS (
  SELECT n2.doc_id, n2.anchor, n2.m1, n2.m2,
         greatest(n2.d1, n2.d2, dp.dist) AS extent
  FROM n2
  JOIN dall dp ON dp.doc_id = n2.doc_id AND dp.i = n2.m1 AND dp.j = n2.m2
)
SELECT doc_id, CAST(anchor AS BIGINT) AS anchor, CAST(m1 AS BIGINT) AS m1,
       CAST(m2 AS BIGINT) AS m2, round(extent, 4) AS extent_r
FROM (
  SELECT doc_id, anchor, m1, m2, extent,
         row_number() OVER (PARTITION BY doc_id ORDER BY extent, anchor) AS rn
  FROM ext
) WHERE rn = 1
"""

QUERIES["k_motiflets"] = q_k_motiflets
ORACLES["k_motiflets"] = SQL_K_MOTIFLETS


def q_mp_topk_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN matrix profile (k=3): every window's 3 nearest z-normalized
    neighbors with deterministic (dist, nn) rank order — the
    multi-neighbor column the classic 1-NN profile throws away."""
    from .operators import matrix_profile_topk

    out = matrix_profile_topk(_sequences(spark, sf_dir), W, k=3)
    return out.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("nn").cast("bigint").alias("nn"),
        _r4("dist").alias("dist_r"),
    )


SQL_MP_TOPK_NN = f"""
WITH {sql_mp_cte()},
dall AS (
  SELECT doc_id, i, j, dist FROM dists
  UNION ALL
  SELECT doc_id, j AS i, i AS j, dist FROM dists
)
SELECT doc_id, CAST(i AS BIGINT) AS pos, CAST(rn AS BIGINT) AS rank,
       CAST(j AS BIGINT) AS nn, round(dist, 4) AS dist_r
FROM (
  SELECT doc_id, i, j, dist,
         row_number() OVER (PARTITION BY doc_id, i ORDER BY dist, j) AS rn
  FROM dall
) WHERE rn <= 3
"""

QUERIES["mp_topk_nn"] = q_mp_topk_nn
ORACLES["mp_topk_nn"] = SQL_MP_TOPK_NN


#: fixed phrase workload for the phrase-search query (same literals feed
#: the Spark side and the oracle's VALUES table); query 2 has a repeated
#: term — the slot-distinctness edge case
PHRASES = {
    0: "table scan",
    1: "join order",
    2: "batch batch",
    3: "rep rep rep",  # overlapping-anchor storm on the adversarial set
    4: "中文 文本",  # non-ASCII terms, whitespace-delimited CJK probe
}


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a positional inverted index (Manning et
    al. IIR §2.4.2): consecutive-position postings AND, overlap-counting,
    ranked per query by match count."""
    from .operators import phrase_search

    docs = _documents(spark, sf_dir)
    phrases = spark.createDataFrame(
        [(k, v) for k, v in PHRASES.items()], "query_id long, phrase_text string"
    )
    return phrase_search(docs, phrases)


_PHRASE_VALUES = ", ".join(f"({k}, '{v}')" for k, v in PHRASES.items())

SQL_PHRASE_SEARCH = rf"""
WITH q(query_id, phrase_text) AS (VALUES {_PHRASE_VALUES}),
wl AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS words
  FROM documents
),
toks AS (
  SELECT doc_id, i - 1 AS pos, words[i] AS term
  FROM wl, unnest(generate_series(1, len(words))) AS u(i)
  WHERE length(words[i]) > 0
),
pw AS (
  SELECT CAST(query_id AS BIGINT) AS query_id,
         string_split_regex(lower(trim(phrase_text)), '\s+') AS words
  FROM q
),
slots AS (
  SELECT query_id, i - 1 AS slot, words[i] AS term
  FROM pw, unnest(generate_series(1, len(words))) AS u(i)
  WHERE length(words[i]) > 0
),
sk AS (
  SELECT s.*, k FROM slots s
  JOIN (SELECT query_id, count(*) AS k FROM slots GROUP BY 1) USING (query_id)
),
hits AS (
  SELECT sk.query_id, t.doc_id, t.pos - sk.slot AS anchor, sk.k
  FROM toks t JOIN sk ON t.term = sk.term
  WHERE t.pos - sk.slot >= 0
),
occ AS (
  SELECT query_id, doc_id, anchor
  FROM hits GROUP BY 1, 2, 3 HAVING count(*) = max(k)
),
per_doc AS (
  SELECT query_id, doc_id,
         CAST(count(*) AS BIGINT) AS n_matches,
         CAST(min(anchor) AS BIGINT) AS first_pos
  FROM occ GROUP BY 1, 2
)
SELECT query_id, doc_id, n_matches, first_pos,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY n_matches DESC, doc_id ASC) AS BIGINT)
         AS rank
FROM per_doc
"""

QUERIES["phrase_search"] = q_phrase_search
ORACLES["phrase_search"] = SQL_PHRASE_SEARCH


def q_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via Spark's NATIVE ``session_window``
    state (streaming.sessions.sessionize_stream), gated against the
    BATCH sessionize oracle: the event stream is replayed through a
    file source followed by one per-user SENTINEL event placed beyond
    ``watermark + gap`` of everything real, so the advancing watermark
    finalizes every real session (append mode emits each exactly once)
    while the sentinel sessions themselves can never finalize — the
    drained sink is exactly the batch split, sentinel-free by
    construction, and ``session_idx`` is recovered as the per-user
    start-order rank."""
    import shutil
    import tempfile
    import uuid

    from .streaming.sessions import sessionize_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    )
    # sentinel horizon: gap (2h) + watermark delay (4h) + 1h margin
    max_ts = ev.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    sentinel_sec = int(max_ts) + 7 * 3600
    sentinels = (
        ev.select("user_id")
        .distinct()
        .withColumn("ts", F.timestamp_seconds(F.lit(sentinel_sec)))
    )
    base = tempfile.mkdtemp(prefix="sess_replay_")
    name = "sess_sink_" + uuid.uuid4().hex[:8]
    try:
        ev.coalesce(1).write.mode("overwrite").parquet(f"{base}/d0")
        sentinels.coalesce(1).write.mode("overwrite").parquet(f"{base}/d1")

        stream = spark.readStream.schema("user_id long, ts timestamp").option(
            "pathGlobFilter", "*.parquet"
        ).parquet(f"{base}/d*")
        out = sessionize_stream(stream, gap="2 hours", watermark="4 hours")
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{base}/ckpt")
            .start()
        )
        q.awaitTermination(300)
        q.stop()
    finally:
        # the memory sink holds the drained sessions; nothing reads base
        shutil.rmtree(base, ignore_errors=True)
    snap = spark.table(name)
    wnd = Window.partitionBy("user_id").orderBy("session_start")
    return snap.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        (F.row_number().over(wnd) - 1).cast("bigint").alias("session_idx"),
        F.unix_timestamp("session_start").cast("bigint").alias("session_start"),
        F.unix_timestamp("session_end").cast("bigint").alias("session_end"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("duration").cast("bigint").alias("duration"),
    )


QUERIES["sessions_stream"] = q_sessions_stream
ORACLES["sessions_stream"] = SQL_SESSIONIZE  # stream==batch, same ground truth


def q_sigma_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative 3-round 3σ clipping per event type: every clip decision
    an exact cross-multiplied integer comparison — Spark and DuckDB drop
    the identical point set."""
    from .operators.rollup import sigma_clip

    return sigma_clip(_events(spark, sf_dir), rounds=3, k_sigma=3)


SQL_SIGMA_CLIP = r"""
WITH base AS (
  SELECT event_type AS key, CAST(round(value * 100) AS BIGINT) AS cu
  FROM events
),
s1 AS MATERIALIZED (
  SELECT key, CAST(count(*) AS HUGEINT) AS n,
         sum(CAST(cu AS HUGEINT)) AS s1, sum(CAST(cu AS HUGEINT) * cu) AS s2
  FROM base GROUP BY key
),
k1 AS MATERIALIZED (
  SELECT b.key, b.cu FROM base b JOIN s1 ON s1.key = b.key
  WHERE (s1.n * b.cu - s1.s1) * (s1.n * b.cu - s1.s1) * (s1.n - 1)
        <= 9 * s1.n * (s1.n * s1.s2 - s1.s1 * s1.s1)
),
s2 AS MATERIALIZED (
  SELECT key, CAST(count(*) AS HUGEINT) AS n,
         sum(CAST(cu AS HUGEINT)) AS s1, sum(CAST(cu AS HUGEINT) * cu) AS s2
  FROM k1 GROUP BY key
),
k2 AS MATERIALIZED (
  SELECT b.key, b.cu FROM k1 b JOIN s2 ON s2.key = b.key
  WHERE (s2.n * b.cu - s2.s1) * (s2.n * b.cu - s2.s1) * (s2.n - 1)
        <= 9 * s2.n * (s2.n * s2.s2 - s2.s1 * s2.s1)
),
s3 AS MATERIALIZED (
  SELECT key, CAST(count(*) AS HUGEINT) AS n,
         sum(CAST(cu AS HUGEINT)) AS s1, sum(CAST(cu AS HUGEINT) * cu) AS s2
  FROM k2 GROUP BY key
),
k3 AS MATERIALIZED (
  SELECT b.key, b.cu FROM k2 b JOIN s3 ON s3.key = b.key
  WHERE (s3.n * b.cu - s3.s1) * (s3.n * b.cu - s3.s1) * (s3.n - 1)
        <= 9 * s3.n * (s3.n * s3.s2 - s3.s1 * s3.s1)
),
raw AS (SELECT key, CAST(count(*) AS BIGINT) AS n_raw FROM base GROUP BY key),
fin AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(cu) AS BIGINT) AS sum_kept_centi
  FROM k3 GROUP BY key
)
SELECT r.key, r.n_raw, f.n_kept,
       CAST(r.n_raw - f.n_kept AS BIGINT) AS n_clipped, f.sum_kept_centi,
       CAST(f.sum_kept_centi AS DOUBLE) / CAST(f.n_kept AS DOUBLE)
         AS mean_kept
FROM raw r JOIN fin f ON f.key = r.key
"""

QUERIES["sigma_clip"] = q_sigma_clip
ORACLES["sigma_clip"] = SQL_SIGMA_CLIP


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient over the
    co-ordered-parts graph (parts sharing an order are adjacent):
    degree-ordered wedge join, exact integer counting, one final
    bigint division per node."""
    from .operators import triangle_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    op = li.distinct()
    a = op.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return triangle_stats(edges).select(
        F.col("node").cast("bigint").alias("node"),
        F.col("deg").cast("bigint").alias("deg"),
        F.col("tri").cast("bigint").alias("tri"),
        F.col("lcc").alias("lcc"),
    )


SQL_TRIANGLES = r"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
canon AS (
  SELECT DISTINCT a.p AS a, b.p AS b
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS node FROM canon UNION ALL SELECT b AS node FROM canon
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (da.deg, c.a) < (db.deg, c.b) THEN c.a ELSE c.b END AS u,
         CASE WHEN (da.deg, c.a) < (db.deg, c.b) THEN c.b ELSE c.a END AS v,
         CASE WHEN (da.deg, c.a) < (db.deg, c.b) THEN db.deg ELSE da.deg END AS dv
  FROM canon c
  JOIN deg da ON da.node = c.a
  JOIN deg db ON db.node = c.b
),
tris AS (
  SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
  FROM oriented e1
  JOIN oriented e2 ON e1.u = e2.u
   AND (e1.dv, e1.v) < (e2.dv, e2.v)
  JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v
),
corner AS (
  SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
    SELECT n1 AS node FROM tris UNION ALL SELECT n2 FROM tris
    UNION ALL SELECT n3 FROM tris
  ) GROUP BY node
)
SELECT d.node, d.deg, COALESCE(c.tri, 0) AS tri,
       CAST(2 * COALESCE(c.tri, 0) AS DOUBLE)
         / NULLIF(CAST(d.deg * (d.deg - 1) AS DOUBLE), 0.0) AS lcc
FROM deg d LEFT JOIN corner c ON c.node = d.node
"""

QUERIES["triangles"] = q_triangles
ORACLES["triangles"] = SQL_TRIANGLES


def q_spc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western Electric control-chart rule violations per event type:
    exact cross-multiplied sigma-zone decisions, rolling-run rules over
    the total (ts, event_id) order."""
    from .operators.rollup import spc_rules

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
        "value",
    )
    return spc_rules(ev)


SQL_SPC_RULES = r"""
WITH base AS (
  SELECT event_type AS key, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         event_id AS i, CAST(round(value * 100) AS BIGINT) AS cu
  FROM events
),
st AS (
  SELECT key, CAST(count(*) AS HUGEINT) AS n,
         sum(CAST(cu AS HUGEINT)) AS s1, sum(CAST(cu AS HUGEINT) * cu) AS s2
  FROM base GROUP BY key
),
flagged AS (
  SELECT b.key, b.t, b.i,
         CASE WHEN st.n * b.cu - st.s1 > 0 THEN 1
              WHEN st.n * b.cu - st.s1 < 0 THEN -1 ELSE 0 END AS side,
         CASE WHEN (st.n * b.cu - st.s1) * (st.n * b.cu - st.s1)
                   > 9 * (st.n * st.s2 - st.s1 * st.s1) THEN 1 ELSE 0 END AS b3,
         CASE WHEN (st.n * b.cu - st.s1) * (st.n * b.cu - st.s1)
                   > 4 * (st.n * st.s2 - st.s1 * st.s1)
               AND st.n * b.cu - st.s1 > 0 THEN 1 ELSE 0 END AS b2p,
         CASE WHEN (st.n * b.cu - st.s1) * (st.n * b.cu - st.s1)
                   > 4 * (st.n * st.s2 - st.s1 * st.s1)
               AND st.n * b.cu - st.s1 < 0 THEN 1 ELSE 0 END AS b2m,
         CASE WHEN (st.n * b.cu - st.s1) * (st.n * b.cu - st.s1)
                   > (st.n * st.s2 - st.s1 * st.s1)
               AND st.n * b.cu - st.s1 > 0 THEN 1 ELSE 0 END AS b1p,
         CASE WHEN (st.n * b.cu - st.s1) * (st.n * b.cu - st.s1)
                   > (st.n * st.s2 - st.s1 * st.s1)
               AND st.n * b.cu - st.s1 < 0 THEN 1 ELSE 0 END AS b1m
  FROM base b JOIN st ON st.key = b.key
),
viol AS (
  SELECT key, b3 AS v1,
         CASE WHEN row_number() OVER w >= 3
               AND (sum(b2p) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2
                 OR sum(b2m) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2)
              THEN 1 ELSE 0 END AS v2,
         CASE WHEN row_number() OVER w >= 5
               AND (sum(b1p) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) >= 4
                 OR sum(b1m) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) >= 4)
              THEN 1 ELSE 0 END AS v3,
         CASE WHEN row_number() OVER w >= 8
               AND (sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)
                      OVER (w ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 8
                 OR sum(CASE WHEN side = -1 THEN 1 ELSE 0 END)
                      OVER (w ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 8)
              THEN 1 ELSE 0 END AS v4
  FROM flagged
  WINDOW w AS (PARTITION BY key ORDER BY t, i)
)
SELECT key, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(v1) AS BIGINT) AS v1, CAST(sum(v2) AS BIGINT) AS v2,
       CAST(sum(v3) AS BIGINT) AS v3, CAST(sum(v4) AS BIGINT) AS v4
FROM viol GROUP BY key
"""

QUERIES["spc_rules"] = q_spc_rules
ORACLES["spc_rules"] = SQL_SPC_RULES


def q_rdp_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-budgeted vertical-distance RDP simplification per
    (event_type, day): exact integer chord-deviation argmax, three
    level-synchronous split rounds — kept point set identical on both
    engines."""
    from .operators.rollup import rdp_simplify

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
        "value",
    )
    return rdp_simplify(ev, eps_centi=50, max_depth=3, bucket=86400)


def _rdp_round(prev_seg: str, r: int) -> str:
    """One RDP level: per active segment, the (|dev| DESC, t ASC) argmax
    interior point; split where it deviates beyond eps·dt."""
    return f"""
sp{r} AS MATERIALIZED (
  SELECT key, bucket, lot, lov, hit, hiv, t, v FROM (
    SELECT s.key, s.bucket, s.lot, s.lov, s.hit, s.hiv, p.t, p.v,
           abs(p.v * (s.hit - s.lot)
               - (s.lov * (s.hit - p.t) + s.hiv * (p.t - s.lot))) AS ad,
           row_number() OVER (
             PARTITION BY s.key, s.bucket, s.lot, s.hit
             ORDER BY abs(p.v * (s.hit - s.lot)
                 - (s.lov * (s.hit - p.t) + s.hiv * (p.t - s.lot))) DESC,
                 p.t ASC) AS rn
    FROM {prev_seg} s
    JOIN base p ON p.key = s.key AND p.bucket = s.bucket
               AND p.t > s.lot AND p.t < s.hit
  ) WHERE rn = 1 AND ad > 50 * (hit - lot)
),
seg{r} AS MATERIALIZED (
  SELECT key, bucket, lot, lov, t AS hit, v AS hiv FROM sp{r}
  UNION ALL
  SELECT key, bucket, t AS lot, v AS lov, hit, hiv FROM sp{r}
)"""


SQL_RDP_SIMPLIFY = (
    r"""
WITH base AS MATERIALIZED (
  SELECT key, bucket, t, v FROM (
    SELECT event_type AS key,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket,
           CAST(floor(epoch(ts)) AS BIGINT) AS t,
           CAST(round(value * 100) AS BIGINT) AS v,
           row_number() OVER (
             PARTITION BY event_type, CAST(floor(epoch(ts)) AS BIGINT)
             ORDER BY event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
),
ends AS (
  SELECT key, bucket,
         min_by(t, t) AS lot, min_by(v, t) AS lov,
         max_by(t, t) AS hit, max_by(v, t) AS hiv,
         CAST(count(*) AS BIGINT) AS npts
  FROM base GROUP BY key, bucket
),
seg0 AS (
  SELECT key, bucket, lot, lov, hit, hiv FROM ends WHERE npts >= 2
),"""
    + _rdp_round("seg0", 1)
    + ","
    + _rdp_round("seg1", 2)
    + ","
    + _rdp_round("seg2", 3)
    + r"""
SELECT DISTINCT key, bucket, t, v_centi FROM (
  SELECT key, bucket, lot AS t, lov AS v_centi FROM ends
  UNION ALL
  SELECT key, bucket, hit AS t, hiv AS v_centi FROM ends
  UNION ALL SELECT key, bucket, t, v AS v_centi FROM sp1
  UNION ALL SELECT key, bucket, t, v AS v_centi FROM sp2
  UNION ALL SELECT key, bucket, t, v AS v_centi FROM sp3
)
"""
)

QUERIES["rdp_simplify"] = q_rdp_simplify
ORACLES["rdp_simplify"] = SQL_RDP_SIMPLIFY


def q_ar2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule-Walker AR(2) fit + 3-step forecast per user series: r9-rounded
    mean and autocorrelation ratios make the phi/forecast chain bit-equal
    across engines; constant and too-short series NULL out."""
    from .operators.rollup import ar2_forecast

    ev = _events(spark, sf_dir).select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    out = ar2_forecast(ev, key_col="user_id", ts_col="sec")
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "n",
        "phi1",
        "phi2",
        "fc1",
        "fc2",
        "fc3",
    )


SQL_AR2_FORECAST = r"""
WITH ev AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         value AS v
  FROM events
),
cent AS (
  SELECT key, sec, v,
         round(avg(v) OVER (PARTITION BY key), 9) AS mr
  FROM ev
),
led AS (
  SELECT key, mr, v, v - mr AS u,
         lead(v - mr, 1) OVER w AS u1,
         lead(v - mr, 2) OVER w AS u2,
         row_number() OVER (PARTITION BY key ORDER BY sec DESC, v DESC) AS rn
  FROM cent WINDOW w AS (PARTITION BY key ORDER BY sec ASC, v ASC)
),
agg AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n, max(mr) AS mr,
         sum(u * u) AS c0, sum(u * u1) AS c1, sum(u * u2) AS c2,
         max(CASE WHEN rn = 1 THEN v END) AS yl,
         max(CASE WHEN rn = 2 THEN v END) AS yp
  FROM led GROUP BY key
),
rr AS (
  SELECT *, round(c1 / nullif(c0, 0.0), 9) AS r1,
            round(c2 / nullif(c0, 0.0), 9) AS r2
  FROM agg
),
p AS (
  SELECT *,
         (r1 * (1.0 - r2)) / nullif(1.0 - r1 * r1, 0.0) AS phi1,
         (r2 - r1 * r1) / nullif(1.0 - r1 * r1, 0.0) AS phi2
  FROM rr
),
s1 AS (SELECT *, mr + phi1 * (yl - mr) + phi2 * (yp - mr) AS f1 FROM p),
s2 AS (SELECT *, mr + phi1 * (f1 - mr) + phi2 * (yl - mr) AS f2 FROM s1),
s3 AS (SELECT *, mr + phi1 * (f2 - mr) + phi2 * (f1 - mr) AS f3 FROM s2)
SELECT CAST(key AS BIGINT) AS user_id, n,
       round(phi1, 6) + 0.0 AS phi1, round(phi2, 6) + 0.0 AS phi2,
       round(f1, 6) + 0.0 AS fc1, round(f2, 6) + 0.0 AS fc2,
       round(f3, 6) + 0.0 AS fc3
FROM s3
"""

QUERIES["ar2_forecast"] = q_ar2_forecast
ORACLES["ar2_forecast"] = SQL_AR2_FORECAST


def q_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece maximal-munch encoding with a corpus-derived vocab
    (top-160 substrings len 2-4 + all single chars): top-40 piece
    frequencies. All integers/strings — exact cross-engine hash."""
    from .operators.tokens import wordpiece_encode

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return wordpiece_encode(
        docs, vocab_size=160, max_piece_len=4, max_word_len=16, top_k=40
    )


SQL_WORDPIECE = r"""
WITH RECURSIVE words AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
    FROM documents
  ) WHERE regexp_matches(w, '^[a-z]+$') AND length(w) <= 16
  GROUP BY w
),
cand AS MATERIALIZED (
  -- every (word, 0-based pos, piece length) candidate with its substring
  SELECT w, freq, p0, L, substr(w, p0 + 1, L) AS sub, p0 > 0 AS cont
  FROM (
    SELECT w, freq, p0, unnest(generate_series(1, 4)) AS L
    FROM (SELECT w, freq, unnest(generate_series(0, length(w) - 1)) AS p0
          FROM words)
  ) WHERE p0 + L <= length(w)
),
counts AS MATERIALIZED (
  SELECT sub AS form, cont, L AS flen, CAST(sum(freq) AS BIGINT) AS cnt
  FROM cand GROUP BY 1, 2, 3
),
vocab AS MATERIALIZED (
  SELECT form, cont, flen FROM (
    SELECT form, cont, flen,
           row_number() OVER (ORDER BY cnt DESC, cont, form) AS rn
    FROM counts WHERE flen >= 2
  ) WHERE rn <= 160
  UNION ALL
  SELECT form, cont, flen FROM counts WHERE flen = 1
),
munch AS MATERIALIZED (
  -- longest vocab match at each position (single chars always match)
  SELECT c.w, c.p0, max(c.L) AS len
  FROM cand c
  JOIN vocab v ON v.form = c.sub AND v.cont = c.cont AND v.flen = c.L
  GROUP BY c.w, c.p0
),
wk AS (
  SELECT w, 0 AS pos FROM words
  UNION ALL
  SELECT wk.w, wk.pos + m.len
  FROM wk JOIN munch m ON m.w = wk.w AND m.p0 = wk.pos
  WHERE wk.pos + m.len < length(wk.w)
),
enc AS (
  SELECT CASE WHEN wk.pos > 0 THEN '##' || substr(wk.w, wk.pos + 1, m.len)
              ELSE substr(wk.w, wk.pos + 1, m.len) END AS piece,
         wo.freq
  FROM wk
  JOIN munch m ON m.w = wk.w AND m.p0 = wk.pos
  JOIN words wo ON wo.w = wk.w
)
SELECT CAST(rank AS INT) AS rank, piece, cnt FROM (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt,
         row_number() OVER (ORDER BY sum(freq) DESC, piece) AS rank
  FROM enc GROUP BY piece
) WHERE rank <= 40
"""

QUERIES["wordpiece"] = q_wordpiece
ORACLES["wordpiece"] = SQL_WORDPIECE


def q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) L2 fit per (event_type, day)
    over hourly last values, via the PAVA minimax closed form — every
    candidate mean is one IEEE division of integer centi sums, so the
    fit is bit-identical cross-engine."""
    from .operators.rollup import isotonic_fit

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
        "value",
    )
    return isotonic_fit(ev, bucket=86400, grain=3600)


SQL_ISOTONIC = r"""
WITH rowsx AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         event_id AS i,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
pts AS MATERIALIZED (
  SELECT key, bucket, hr, v FROM (
    SELECT *, row_number() OVER (
      PARTITION BY key, bucket, hr ORDER BY t DESC, i DESC) AS rn
    FROM rowsx
  ) WHERE rn = 1
),
pos AS MATERIALIZED (
  SELECT key, bucket, hr, v,
         row_number() OVER (PARTITION BY key, bucket ORDER BY hr) AS rn,
         CAST(sum(v) OVER (PARTITION BY key, bucket ORDER BY hr)
              AS BIGINT) AS s
  FROM pts
),
pairs AS MATERIALIZED (
  SELECT a.key, a.bucket, a.rn AS j, b.rn AS k,
         CAST(b.s - a.s + a.v AS DOUBLE) / (b.rn - a.rn + 1) AS m
  FROM pos a
  JOIN pos b ON b.key = a.key AND b.bucket = a.bucket AND b.rn >= a.rn
),
inner_min AS MATERIALIZED (
  SELECT p.key, p.bucket, p.j, i.rn AS irn, min(p.m) AS mn
  FROM pairs p
  JOIN pos i ON i.key = p.key AND i.bucket = p.bucket
            AND i.rn BETWEEN p.j AND p.k
  GROUP BY 1, 2, 3, 4
),
fit AS (
  SELECT key, bucket, irn, max(mn) AS yhat
  FROM inner_min GROUP BY 1, 2, 3
)
SELECT p.key, p.bucket, p.hr, p.v AS v_centi, f.yhat
FROM pos p
JOIN fit f ON f.key = p.key AND f.bucket = p.bucket AND f.irn = p.rn
"""

QUERIES["isotonic"] = q_isotonic
ORACLES["isotonic"] = SQL_ISOTONIC


def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest ROC-AUC per embedding class on the squared-norm
    score (integer micro-units): midranks in exact half-units, AUC is
    one IEEE division of exact bigints."""
    from .operators.similarity import roc_auc_by_label

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return roc_auc_by_label(emb)


SQL_ROC_AUC = r"""
WITH ex AS (
  SELECT vec_id, CAST(label AS INT) AS label, unnest(
    list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
  FROM embeddings
),
scored AS (
  SELECT vec_id, label,
         CAST(round(sum(x * x) * 1000000.0) AS BIGINT) AS u
  FROM ex GROUP BY vec_id, label
),
gl AS (
  SELECT u, label, CAST(count(*) AS BIGINT) AS cnt
  FROM scored GROUP BY u, label
),
gt AS (
  SELECT u, CAST(sum(cnt) AS BIGINT) AS cntt FROM gl GROUP BY u
),
gtb AS (
  SELECT u, cntt,
         CAST(coalesce(sum(cntt) OVER (ORDER BY u
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS before
  FROM gt
),
per AS (
  SELECT label, CAST(sum(cnt) AS BIGINT) AS n1,
         CAST(sum(cnt * (2 * before + cntt + 1)) AS BIGINT) AS r1_2
  FROM gl JOIN gtb USING (u) GROUP BY label
),
tot AS (SELECT CAST(sum(n1) AS BIGINT) AS n FROM per)
SELECT label, n1, CAST(n - n1 AS BIGINT) AS n0,
       CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE)
         / nullif(CAST(2 * n1 * (n - n1) AS DOUBLE), 0.0) + 0.0 AS auc
FROM per, tot
"""

QUERIES["roc_auc"] = q_roc_auc
ORACLES["roc_auc"] = SQL_ROC_AUC


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE for a linear probe over embeddings:
    micro-unit confidences, exact integer gap sums, every output a
    single IEEE division of bigints."""
    from .operators.similarity import calibration_bins

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return calibration_bins(emb, n_bins=10)


SQL_CALIBRATION = r"""
WITH rowsx AS (
  SELECT CAST(round(least(greatest((CAST(embedding[1] AS DOUBLE) + 0.4) / 0.8,
                                   0.0), 1.0) * 1000000.0) AS BIGINT) AS cu,
         CAST((CAST(embedding[2] AS DOUBLE) > 0)
              = (CAST(label AS INT) = 1) AS BIGINT) AS ok
  FROM embeddings
),
binned AS (
  SELECT least(CAST(floor(cu * 10 / 1000000.0) AS INT), 9) AS bin, cu, ok
  FROM rowsx
),
g AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ok) AS BIGINT) AS n_correct,
         CAST(sum(cu) AS BIGINT) AS cu_sum
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total,
         CAST(sum(abs(1000000 * n_correct - cu_sum)) AS BIGINT) AS gap_sum
  FROM g
)
SELECT bin, n, n_correct,
       CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE) + 0.0 AS acc,
       CAST(cu_sum AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) + 0.0 AS conf_avg,
       CAST(gap_sum AS DOUBLE) / (1000000.0 * CAST(n_total AS DOUBLE)) + 0.0 AS ece
FROM g, tot
"""

QUERIES["calibration"] = q_calibration
ORACLES["calibration"] = SQL_CALIBRATION


def q_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase salted aggregation (north rule: explicit
    salted-repartition handling of source-key skew): phase 1 on
    (source, pmod(xxhash64(doc_id), 16)), phase 2 merges the ≤16
    algebraic partials per source; must equal the plain GROUP BY."""
    from .operators.series import salted_groupby_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return salted_groupby_stats(docs, salt_buckets=16)


SQL_SALTED_SKEW_AGG = r"""
SELECT source AS key,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars_sum,
       CAST(min(n_chars) AS BIGINT) AS chars_min,
       CAST(max(n_chars) AS BIGINT) AS chars_max,
       CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         + 0.0 AS chars_avg
FROM documents
GROUP BY source
"""

QUERIES["salted_skew_agg"] = q_salted_skew_agg
ORACLES["salted_skew_agg"] = SQL_SALTED_SKEW_AGG


def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin seasonal-naive backtest with MASE per event_type:
    hourly micro-unit bucket sums on the dense spine, last-24h test
    window, all error sums exact bigints, MASE one IEEE division."""
    from .operators.rollup import forecast_backtest

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return forecast_backtest(ev, bucket_sec=3600, season=24, horizon=24)


SQL_FORECAST_BACKTEST = r"""
WITH sums AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
         CAST(sum(CAST(round(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT))
              AS BIGINT) AS s
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY 1, 2
),
rng AS (
  SELECT key, min(bucket) AS lo, max(bucket) AS bmax FROM sums GROUP BY key
),
spine AS (
  SELECT r.key, r.bmax, gs.bucket
  FROM rng r, unnest(generate_series(r.lo, r.bmax)) AS gs(bucket)
),
dense AS (
  SELECT sp.key, sp.bucket, sp.bmax, COALESCE(su.s, 0) AS v
  FROM spine sp
  LEFT JOIN sums su ON su.key = sp.key AND su.bucket = sp.bucket
),
lagged AS (
  SELECT key, bucket, bmax, v,
         lag(v, 24) OVER (PARTITION BY key ORDER BY bucket) AS f_sn,
         lag(v, 1)  OVER (PARTITION BY key ORDER BY bucket) AS f_n1
  FROM dense
),
g AS (
  SELECT key,
    CAST(count(CASE WHEN bucket > bmax - 24 AND f_sn IS NOT NULL
                    THEN 1 END) AS BIGINT) AS n_test,
    CAST(COALESCE(sum(CASE WHEN bucket > bmax - 24 AND f_sn IS NOT NULL
                           THEN abs(v - f_sn) END), 0) AS BIGINT) AS e_sum_u,
    CAST(count(CASE WHEN bucket <= bmax - 24 AND f_n1 IS NOT NULL
                    THEN 1 END) AS BIGINT) AS n_train,
    CAST(COALESCE(sum(CASE WHEN bucket <= bmax - 24 AND f_n1 IS NOT NULL
                           THEN abs(v - f_n1) END), 0) AS BIGINT) AS d_sum_u
  FROM lagged GROUP BY key
)
SELECT key, n_test, n_train, e_sum_u, d_sum_u,
       CAST(e_sum_u * n_train AS DOUBLE)
         / NULLIF(CAST(d_sum_u * n_test AS DOUBLE), 0.0) + 0.0 AS mase
FROM g
"""

QUERIES["forecast_backtest"] = q_forecast_backtest
ORACLES["forecast_backtest"] = SQL_FORECAST_BACKTEST


def q_allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allan variance of the per-30min event rate per event_type at
    averaging tiers m ∈ {1,2,4,8}: block sums are exact bigint
    retention-tier rollups, avar is one IEEE division."""
    from .operators.rollup import allan_variance

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return allan_variance(ev, bucket_sec=1800, taus=(1, 2, 4, 8))


SQL_ALLAN_VARIANCE = r"""
WITH counts AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / 1800) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
rng AS (
  SELECT key, min(bucket) AS lo, max(bucket) AS hi FROM counts GROUP BY key
),
spine AS (
  SELECT r.key, r.lo, gs.bucket
  FROM rng r, unnest(generate_series(r.lo, r.hi)) AS gs(bucket)
),
dense AS (
  SELECT sp.key, sp.lo, sp.bucket, COALESCE(cn.c, 0) AS v
  FROM spine sp LEFT JOIN counts cn
    ON cn.key = sp.key AND cn.bucket = sp.bucket
),
blocks AS (
  SELECT key, m, CAST(floor((bucket - lo) / m) AS BIGINT) AS j,
         CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS nb
  FROM dense, unnest([1, 2, 4, 8]) AS t(m)
  GROUP BY 1, 2, 3
  HAVING count(*) = m
),
d AS (
  SELECT key, m, s,
         s - lag(s, 1) OVER (PARTITION BY key, m ORDER BY j) AS ds
  FROM blocks
),
g AS (
  SELECT key, m, CAST(count(*) AS BIGINT) AS m_blocks,
         CAST(COALESCE(sum(ds * ds), 0) AS BIGINT) AS ss
  FROM d GROUP BY 1, 2
)
SELECT key, CAST(m AS INT) AS m, m_blocks, ss,
       CAST(ss AS DOUBLE)
         / NULLIF(CAST(2 * (m_blocks - 1) * m * m AS DOUBLE), 0.0) + 0.0 AS avar
FROM g
"""

QUERIES["allan_variance"] = q_allan_variance
ORACLES["allan_variance"] = SQL_ALLAN_VARIANCE


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-synchronous k-core peel (k=3, 4 rounds) over the
    co-ordered-parts graph: pure integer degree counting, every round's
    simultaneous removal replayed exactly by the unrolled oracle."""
    from .operators import kcore_peel

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    op = li.distinct()
    a = op.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = op.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    out = kcore_peel(edges, k=3, rounds=4)
    return out.select(
        F.col("node").cast("bigint").alias("node"),
        "removed_round",
        "final_deg",
    )


def _kcore_oracle_sql(k: int = 3, rounds: int = 4) -> str:
    """Unrolled round-chained MATERIALIZED CTEs (each round's edge set
    references the previous twice — per CLAUDE.md DuckDB inlines CTEs
    by reference, so MATERIALIZED everywhere)."""
    parts = [
        r"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(a.p, b.p) AS a, greatest(a.p, b.p) AS b
  FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p
),
nodes AS MATERIALIZED (
  SELECT DISTINCT node
  FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
),
alive0 AS MATERIALIZED (SELECT node FROM nodes)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
deg{r} AS MATERIALIZED (
  SELECT node, count(*) AS c
  FROM (SELECT a AS node FROM e{r - 1} UNION ALL SELECT b FROM e{r - 1})
  GROUP BY 1
),
weak{r} AS MATERIALIZED (
  SELECT al.node FROM alive{r - 1} al
  LEFT JOIN deg{r} d ON d.node = al.node
  WHERE COALESCE(d.c, 0) < {k}
),
alive{r} AS MATERIALIZED (
  SELECT al.node FROM alive{r - 1} al
  LEFT JOIN weak{r} w ON w.node = al.node
  WHERE w.node IS NULL
),
e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{r - 1} e
  LEFT JOIN weak{r} wa ON wa.node = e.a
  LEFT JOIN weak{r} wb ON wb.node = e.b
  WHERE wa.node IS NULL AND wb.node IS NULL
)"""
        )
    removed_union = " UNION ALL ".join(
        f"SELECT node, {r} AS removed_round FROM weak{r}"
        for r in range(1, rounds + 1)
    )
    parts.append(
        f""",
removed AS MATERIALIZED ({removed_union}),
fdeg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS fd
  FROM (SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds})
  GROUP BY 1
)
SELECT CAST(n.node AS BIGINT) AS node,
       CAST(r.removed_round AS INT) AS removed_round,
       CASE WHEN r.removed_round IS NULL
            THEN CAST(COALESCE(f.fd, 0) AS BIGINT) END AS final_deg
FROM nodes n
LEFT JOIN removed r ON r.node = n.node
LEFT JOIN fdeg f ON f.node = n.node"""
    )
    return "".join(parts)


SQL_KCORE = _kcore_oracle_sql(k=3, rounds=4)

QUERIES["kcore"] = q_kcore
ORACLES["kcore"] = SQL_KCORE


def q_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified top-4 from each query's exact top-12 cosine pool
    (λ=0.5 dyadic): greedy rounds replayed by the unrolled oracle,
    scores bit-identical through the pinned carried-norm cosine."""
    from .operators import mmr_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 4)
    out = mmr_topk(emb, queries, k=4, pool=12)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("sel_round").cast("int").alias("sel_round"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        (F.round(F.col("score"), 4) + F.lit(0.0)).alias("score"),
    )


def _mmr_oracle_sql(k: int = 4, pool: int = 12, n_queries: int = 4) -> str:
    """Greedy MMR rounds unrolled as MATERIALIZED CTEs (each references
    the previous round's remainder and selected set — per CLAUDE.md
    DuckDB inlines by reference, so MATERIALIZED throughout)."""
    head = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ex AS MATERIALIZED (
  SELECT vec_id, unnest(v) AS x, unnest(generate_series(1, len(v))) AS i
  FROM e
),
norms AS MATERIALIZED (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id
),
qdots AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, sum(q.x * n.x) AS dot
  FROM ex q JOIN ex n ON q.i = n.i
   AND q.vec_id < {n_queries} AND q.vec_id != n.vec_id
  GROUP BY 1, 2
),
qscored AS (
  SELECT d.query_id, d.neighbor_id,
         d.dot / NULLIF(nq.nrm * nn.nrm, 0) AS cosine
  FROM qdots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nn ON nn.vec_id = d.neighbor_id
),
cand AS MATERIALIZED (
  SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM qscored WHERE cosine IS NOT NULL
  ) WHERE rank <= {pool}
),
cids AS MATERIALIZED (SELECT DISTINCT neighbor_id AS cid FROM cand),
cex AS MATERIALIZED (
  SELECT ex.vec_id, ex.x, ex.i FROM ex JOIN cids ON cids.cid = ex.vec_id
),
pdots AS MATERIALIZED (
  SELECT a.vec_id AS a, b.vec_id AS b, sum(a.x * b.x) AS dot
  FROM cex a JOIN cex b ON a.i = b.i AND a.vec_id != b.vec_id
  GROUP BY 1, 2
),
pairsim AS MATERIALIZED (
  SELECT c1.query_id, c1.neighbor_id AS a, c2.neighbor_id AS b,
         pd.dot / NULLIF(na.nrm * nb.nrm, 0) AS sim
  FROM cand c1
  JOIN cand c2 ON c2.query_id = c1.query_id
              AND c2.neighbor_id != c1.neighbor_id
  JOIN pdots pd ON pd.a = c1.neighbor_id AND pd.b = c2.neighbor_id
  JOIN norms na ON na.vec_id = c1.neighbor_id
  JOIN norms nb ON nb.vec_id = c2.neighbor_id
),
selall1 AS MATERIALIZED (
  SELECT query_id, 1 AS sel_round, neighbor_id, cosine AS score
  FROM cand WHERE rank = 1
),
rem1 AS MATERIALIZED (
  SELECT query_id, neighbor_id, cosine FROM cand WHERE rank > 1
)"""
    parts = [head]
    for t in range(2, k + 1):
        parts.append(
            f""",
ms{t} AS MATERIALIZED (
  SELECT r.query_id, r.neighbor_id, max(r.cosine) AS cosine,
         max(p.sim) AS maxsim
  FROM rem{t - 1} r
  JOIN pairsim p ON p.query_id = r.query_id AND p.a = r.neighbor_id
  JOIN selall{t - 1} s ON s.query_id = r.query_id AND s.neighbor_id = p.b
  GROUP BY 1, 2
),
pick{t} AS MATERIALIZED (
  SELECT query_id, {t} AS sel_round, neighbor_id, score FROM (
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id ASC) AS rn
    FROM (SELECT query_id, neighbor_id,
                 0.5 * cosine - 0.5 * maxsim AS score FROM ms{t})
  ) WHERE rn = 1
),
selall{t} AS MATERIALIZED (
  SELECT * FROM selall{t - 1} UNION ALL SELECT * FROM pick{t}
),
rem{t} AS MATERIALIZED (
  SELECT r.query_id, r.neighbor_id, r.cosine FROM rem{t - 1} r
  LEFT JOIN pick{t} p ON p.query_id = r.query_id
                     AND p.neighbor_id = r.neighbor_id
  WHERE p.neighbor_id IS NULL
)"""
        )
    parts.append(
        f"""
SELECT query_id, CAST(sel_round AS INT) AS sel_round, neighbor_id,
       round(score, 4) + 0.0 AS score
FROM selall{k}"""
    )
    return "".join(parts)


SQL_MMR = _mmr_oracle_sql(k=4, pool=12, n_queries=4)

QUERIES["mmr"] = q_mmr
ORACLES["mmr"] = SQL_MMR


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter agreement-pattern linkage over nation-blocked
    customer pairs: exact-rational u-probabilities, fixed-order
    ln-of-bigint score per pattern."""
    from .operators import fellegi_sunter_blocks

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = fellegi_sunter_blocks(cust)
    return out.select(
        "g_seg",
        "g_digit",
        "g_bal",
        "n_pairs",
        (F.round(F.col("score"), 6) + F.lit(0.0)).alias("score"),
    )


SQL_RECORD_LINKAGE = r"""
WITH c AS MATERIALIZED (
  SELECT c_custkey AS id, c_nationkey AS blk, c_mktsegment AS seg,
         substr(c_name, length(c_name), 1) AS digit,
         CAST(floor(CAST(round(CAST(c_acctbal AS DOUBLE) * 100.0) AS BIGINT)
                    / 100000.0) AS BIGINT) AS bal
  FROM customer
),
ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
useg AS (
  SELECT CAST(COALESCE(sum(cnt * (cnt - 1)), 0) AS BIGINT) AS u_seg
  FROM (SELECT CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY seg)
),
udig AS (
  SELECT CAST(COALESCE(sum(cnt * (cnt - 1)), 0) AS BIGINT) AS u_digit
  FROM (SELECT CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY digit)
),
ubal AS (
  SELECT CAST(COALESCE(sum(cnt * (cnt - 1)), 0) AS BIGINT) AS u_bal
  FROM (SELECT CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY bal)
),
stats AS (
  SELECT CAST(n * (n - 1) AS BIGINT) AS u_den, u_seg, u_digit, u_bal
  FROM ntot, useg, udig, ubal
),
patterns AS (
  SELECT CAST(a.seg = b.seg AS INT) AS g_seg,
         CAST(a.digit = b.digit AS INT) AS g_digit,
         CAST(a.bal = b.bal AS INT) AS g_bal,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id
  GROUP BY 1, 2, 3
)
SELECT g_seg, g_digit, g_bal, n_pairs,
       round(
         (CASE WHEN u_seg = 0 OR u_den - u_seg = 0 THEN 0.0
               WHEN g_seg = 1
               THEN ln(CAST(9 * u_den AS DOUBLE)) - ln(CAST(10 * u_seg AS DOUBLE))
               ELSE ln(CAST(u_den AS DOUBLE))
                    - ln(CAST(10 * (u_den - u_seg) AS DOUBLE)) END)
         + (CASE WHEN u_digit = 0 OR u_den - u_digit = 0 THEN 0.0
               WHEN g_digit = 1
               THEN ln(CAST(9 * u_den AS DOUBLE)) - ln(CAST(10 * u_digit AS DOUBLE))
               ELSE ln(CAST(u_den AS DOUBLE))
                    - ln(CAST(10 * (u_den - u_digit) AS DOUBLE)) END)
         + (CASE WHEN u_bal = 0 OR u_den - u_bal = 0 THEN 0.0
               WHEN g_bal = 1
               THEN ln(CAST(9 * u_den AS DOUBLE)) - ln(CAST(10 * u_bal AS DOUBLE))
               ELSE ln(CAST(u_den AS DOUBLE))
                    - ln(CAST(10 * (u_den - u_bal) AS DOUBLE)) END)
         + 0.0, 6) + 0.0 AS score
FROM patterns, stats
"""

QUERIES["record_linkage"] = q_record_linkage
ORACLES["record_linkage"] = SQL_RECORD_LINKAGE


LCSS_T = 40


def q_lcss_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise LCS similarity over the 6 smallest qualifying tokenized
    docs: all-integer DP (exact bigint), sim one IEEE division; the
    oracle replays the identical recurrence anti-diagonally with the
    0-boundary (no sentinel — max semantics make 0 neutral)."""
    from .operators import lcss_pairs

    return lcss_pairs(_tokenized(spark, sf_dir), trunc=LCSS_T, k_docs=6)


SQL_LCSS_PAIRS = f"""
WITH RECURSIVE {{token_series}},
lens AS (
  SELECT doc_id FROM s GROUP BY 1 HAVING count(*) >= {LCSS_T}
),
ksel AS (
  SELECT CAST(doc_id AS BIGINT) AS id FROM lens
  ORDER BY CAST(doc_id AS BIGINT) LIMIT 6
),
lists AS (
  SELECT CAST(s.doc_id AS BIGINT) AS id,
         list(CAST(value AS BIGINT) ORDER BY pos) AS la
  FROM s JOIN ksel ON CAST(s.doc_id AS BIGINT) = ksel.id
  WHERE pos < {LCSS_T} GROUP BY 1
),
pairsel AS (
  SELECT a.id AS ida, b.id AS idb, a.la AS la, b.la AS lb
  FROM lists a JOIN lists b ON a.id < b.id
),
-- anti-diagonal LCS: position i (1-based) on diagonal e holds
-- dp(i-1, e-(i-1)); out-of-range cells store 0, which IS the LCS
-- boundary condition (max semantics make 0 neutral, so unlike the DTW
-- min recurrence no sentinel is needed)
diag AS (
  SELECT ida, idb, 0 AS e,
         list_transform(range(1, {LCSS_T} + 1),
                        i -> CAST(0 AS BIGINT)) AS prev,
         list_transform(range(1, {LCSS_T} + 1), i ->
           CASE WHEN i = 1
           THEN CAST(CASE WHEN la[1] = lb[1] THEN 1 ELSE 0 END AS BIGINT)
           ELSE CAST(0 AS BIGINT) END) AS cur,
         la, lb
  FROM pairsel
  UNION ALL
  SELECT ida, idb, e + 1,
         cur AS prev,
         list_transform(range(1, {LCSS_T} + 1), i ->
           CASE WHEN e + 1 - (i - 1) BETWEEN 0 AND {LCSS_T} - 1
           THEN greatest(
                  CASE WHEN i >= 2 THEN cur[i - 1] ELSE CAST(0 AS BIGINT) END,
                  cur[i],
                  CASE WHEN i >= 2 THEN prev[i - 1] ELSE CAST(0 AS BIGINT) END
                    + CAST(CASE WHEN la[i] = lb[e + 1 - (i - 1) + 1]
                           THEN 1 ELSE 0 END AS BIGINT))
           ELSE CAST(0 AS BIGINT) END) AS cur,
         la, lb
  FROM diag WHERE e < 2 * {LCSS_T} - 2
)
SELECT ida, idb, cur[{LCSS_T}] AS lcs,
       CAST(cur[{LCSS_T}] AS DOUBLE) / CAST({LCSS_T} AS DOUBLE) + 0.0 AS sim
FROM diag WHERE e = 2 * {LCSS_T} - 2
""".replace("{token_series}", _SQL_TOKEN_SERIES)

QUERIES["lcss_pairs"] = q_lcss_pairs
ORACLES["lcss_pairs"] = SQL_LCSS_PAIRS


def q_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RBO@10 (p=9/10) between cosine top-10 and inner-product top-10
    per query: matched items fold to exact-integer prefix weights, the
    numerator is one order-free bigint sum, rbo one IEEE division."""
    from .operators import rbo_rankings

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8)
    return rbo_rankings(emb, queries)


def _rbo_weights_sql() -> str:
    from .operators.similarity import RBO_WEIGHTS

    return "[" + ", ".join(str(w) for w in RBO_WEIGHTS) + "]"


SQL_RBO = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ex AS MATERIALIZED (
  SELECT vec_id, unnest(v) AS x, unnest(generate_series(1, len(v))) AS i
  FROM e
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
dots AS MATERIALIZED (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, sum(q.x * n.x) AS dot
  FROM ex q JOIN ex n ON q.i = n.i AND q.vec_id < 8 AND q.vec_id != n.vec_id
  GROUP BY 1, 2
),
a AS (
  SELECT query_id, neighbor_id, rank_a FROM (
    SELECT d.query_id, d.neighbor_id,
           row_number() OVER (
             PARTITION BY d.query_id
             ORDER BY d.dot / NULLIF(nq.nrm * nn.nrm, 0) DESC,
                      d.neighbor_id ASC) AS rank_a
    FROM dots d
    JOIN norms nq ON nq.vec_id = d.query_id
    JOIN norms nn ON nn.vec_id = d.neighbor_id
    WHERE d.dot / NULLIF(nq.nrm * nn.nrm, 0) IS NOT NULL
  ) WHERE rank_a <= {{D}}
),
b AS (
  SELECT query_id, neighbor_id, rank_b FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot DESC, neighbor_id ASC) AS rank_b
    FROM dots
  ) WHERE rank_b <= {{D}}
)
SELECT a.query_id AS query_id,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(sum(({{W}})[greatest(a.rank_a, b.rank_b)]) AS BIGINT) AS num_sum,
       CAST(sum(({{W}})[greatest(a.rank_a, b.rank_b)]) AS DOUBLE)
         / CAST({{DEN}} AS DOUBLE) + 0.0 AS rbo
FROM a JOIN b ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
GROUP BY 1
"""


def _finalize_rbo_sql() -> str:
    from .operators.similarity import RBO_DEN, RBO_DEPTH

    return (
        SQL_RBO.replace("{D}", str(RBO_DEPTH))
        .replace("{W}", _rbo_weights_sql())
        .replace("{DEN}", str(RBO_DEN))
    )


QUERIES["rbo"] = q_rbo
ORACLES["rbo"] = _finalize_rbo_sql()


def q_presence_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presence-bitmap continuous aggregate: hourly 60-slot activity
    masks per event_type (tier 1) merged into 4-hour non-empty-bucket
    masks (tier 2, derived purely from tier 1) — all bitwise-integer,
    raw-bigint hash gate."""
    from .operators.sketch import presence_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.unix_timestamp("ts").alias("sec")
    )
    return presence_rollup(
        ev, bucket_sec=3600, slots=60, factor=4, key_col="event_type"
    )


SQL_PRESENCE_ROLLUP = r"""
WITH f AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
t1 AS (
  SELECT key, sec // 3600 AS bucket,
         CAST(bit_or(CAST(1 AS BIGINT) << CAST((sec % 3600) // 60 AS INT))
              AS BIGINT) AS mask
  FROM f GROUP BY 1, 2
),
t2 AS (
  SELECT key, bucket // 4 AS bucket,
         CAST(bit_or(CAST(1 AS BIGINT) << CAST(bucket % 4 AS INT))
              AS BIGINT) AS mask
  FROM t1 GROUP BY 1, 2
)
SELECT key, CAST(1 AS INT) AS tier, bucket, mask,
       CAST(bit_count(mask) AS INT) AS n_active
FROM t1
UNION ALL
SELECT key, CAST(2 AS INT) AS tier, bucket, mask,
       CAST(bit_count(mask) AS INT) AS n_active
FROM t2
"""

QUERIES["presence_rollup"] = q_presence_rollup
ORACLES["presence_rollup"] = SQL_PRESENCE_ROLLUP


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: top-3 most-similar DIFFERENT-label vectors
    per query (the contrastive-training negatives recipe) — carried-norm
    cosines, deterministic tie-break."""
    from .operators import hard_negatives

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 16)
    out = hard_negatives(emb, queries, k=3)
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("rank").cast("bigint").alias("rank"),
        (F.round(F.col("cosine"), 4) + F.lit(0.0)).alias("cosine"),
    )


SQL_HARD_NEGATIVES = """
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ex AS (
  SELECT vec_id, unnest(v) AS x, unnest(generate_series(1, len(v))) AS i
  FROM e
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, sum(q.x * n.x) AS dot
  FROM ex q JOIN ex n ON q.i = n.i AND q.vec_id < 16 AND q.vec_id != n.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         d.dot / NULLIF(nq.nrm * nn.nrm, 0) AS cosine
  FROM dots d
  JOIN e eq ON eq.vec_id = d.query_id
  JOIN e en ON en.vec_id = d.neighbor_id
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nn ON nn.vec_id = d.neighbor_id
  WHERE eq.label != en.label
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored WHERE cosine IS NOT NULL
)
SELECT query_id, neighbor_id, rank, round(cosine, 4) + 0.0 AS cosine
FROM ranked WHERE rank <= 3
"""

QUERIES["hard_negatives"] = q_hard_negatives
ORACLES["hard_negatives"] = SQL_HARD_NEGATIVES


def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn label generation for retention-model training: per active
    (user, day), 1 iff no event in the next 7 days; right-censored tail
    days are NULL unless the observable gap already proves churn."""
    from .operators.rollup import churn_labels

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return churn_labels(ev, horizon_days=7)


SQL_CHURN_LABELS = r"""
WITH daily AS (
  SELECT user_id AS key,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
g AS (SELECT max(day) AS gmax FROM daily),
led AS (
  SELECT key, day, n_events,
         lead(day, 1) OVER (PARTITION BY key ORDER BY day) AS next_day
  FROM daily
)
SELECT key, day, n_events,
       CASE WHEN next_day IS NOT NULL THEN CAST(next_day - day > 7 AS INT)
            WHEN gmax - day > 7 THEN 1
            ELSE CAST(NULL AS INT) END AS churned
FROM led, g
"""

QUERIES["churn_labels"] = q_churn_labels
ORACLES["churn_labels"] = SQL_CHURN_LABELS


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup: Rabin-style word-3-gram
    boundaries (hash % 16 == 0), duplicated chunks across the corpus —
    boundaries move with content, all-integer decisions."""
    from .operators import cdc_chunks

    return cdc_chunks(_documents(spark, sf_dir), w=3, modulus=16)


SQL_CDC_CHUNKS = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
),
wl AS (SELECT doc_id, string_split(t, ' ') AS words FROM norm),
wx AS (
  SELECT doc_id, i - 1 AS pos, words[i] AS word
  FROM wl, unnest(generate_series(1, len(words))) AS g(i)
  WHERE words[i] <> ''
),
grams AS (
  SELECT doc_id, pos, word,
         CASE WHEN pos >= 2 THEN
           lag(word, 2) OVER win || ' ' || lag(word, 1) OVER win || ' ' || word
         END AS gram
  FROM wx WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
b AS (
  SELECT doc_id, pos, word,
         CASE WHEN pos >= 2 AND
              CAST(('0x' || substr(md5('s0:cdc:' || gram), 1, 8)) AS BIGINT)
                % 16 = 0
         THEN 1 ELSE 0 END AS boundary
  FROM grams
),
cid AS (
  SELECT doc_id, pos, word,
         CAST(COALESCE(sum(boundary) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS chunk_idx
  FROM b
),
chunks AS (
  SELECT doc_id, chunk_idx, CAST(count(*) AS BIGINT) AS n_words,
         md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_hash
  FROM cid GROUP BY 1, 2
)
SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(max(n_words) AS BIGINT) AS n_words
FROM chunks GROUP BY 1 HAVING count(*) >= 2
"""

QUERIES["cdc_chunks"] = q_cdc_chunks
ORACLES["cdc_chunks"] = SQL_CDC_CHUNKS


def q_freq_of_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency-of-frequencies over the tokenized corpus:
    N_c type counts plus the adjusted count (c+1)N_{c+1}/N_c — the
    KN-discount diagnostic, hapax row at c=1."""
    from .operators import freq_of_freqs

    return freq_of_freqs(_tokenized(spark, sf_dir))


SQL_FREQ_OF_FREQS = f"""
WITH {_SQL_TOKEN_SERIES},
counts AS (
  SELECT CAST(value AS BIGINT) AS token, CAST(count(*) AS BIGINT) AS c
  FROM s GROUP BY 1
),
nof AS (
  SELECT c, CAST(count(*) AS BIGINT) AS n_types FROM counts GROUP BY 1
)
SELECT a.c AS c, a.n_types AS n_types,
       CAST((a.c + 1) * b.n_types AS DOUBLE) / CAST(a.n_types AS DOUBLE)
         + 0.0 AS c_star
FROM nof a LEFT JOIN nof b ON b.c = a.c + 1
"""

QUERIES["freq_of_freqs"] = q_freq_of_freqs
ORACLES["freq_of_freqs"] = SQL_FREQ_OF_FREQS


def q_minhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: MinHash estimated Jaccard vs exact shingle
    Jaccard on the id-bounded doc slice — error carried as exact
    integer cross-products, measured not modeled."""
    from .operators import minhash_accuracy_audit

    return minhash_accuracy_audit(
        _documents(spark, sf_dir), n=3, num_hashes=8, max_doc_id=12
    )


SQL_MINHASH_AUDIT = f"""
WITH {_sql_minhash(8)},
est AS (
  SELECT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b,
         CAST(sum(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END)
              AS BIGINT) AS est_matches
  FROM minhash a JOIN minhash b ON a.hash_idx = b.hash_idx
   AND CAST(a.doc_id AS BIGINT) < CAST(b.doc_id AS BIGINT)
  WHERE CAST(a.doc_id AS BIGINT) < 12 AND CAST(b.doc_id AS BIGINT) < 12
  GROUP BY 1, 2
),
sizes AS (
  SELECT CAST(doc_id AS BIGINT) AS id, CAST(count(*) AS BIGINT) AS sz
  FROM shingles WHERE CAST(doc_id AS BIGINT) < 12 GROUP BY 1
),
inter AS (
  SELECT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b,
         CAST(count(*) AS BIGINT) AS inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle
   AND CAST(a.doc_id AS BIGINT) < CAST(b.doc_id AS BIGINT)
  WHERE CAST(a.doc_id AS BIGINT) < 12 AND CAST(b.doc_id AS BIGINT) < 12
  GROUP BY 1, 2
)
SELECT e.doc_a AS doc_a, e.doc_b AS doc_b, e.est_matches AS est_matches,
       CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter,
       CAST(sa.sz + sb.sz - COALESCE(i.inter, 0) AS BIGINT) AS uni,
       CAST(e.est_matches AS DOUBLE) / 8.0 + 0.0 AS est_jaccard,
       CAST(COALESCE(i.inter, 0) AS DOUBLE)
         / NULLIF(CAST(sa.sz + sb.sz - COALESCE(i.inter, 0) AS DOUBLE), 0.0)
         + 0.0 AS exact_jaccard,
       CAST(abs(e.est_matches * (sa.sz + sb.sz - COALESCE(i.inter, 0))
                - 8 * COALESCE(i.inter, 0)) AS DOUBLE)
         / NULLIF(CAST(8 * (sa.sz + sb.sz - COALESCE(i.inter, 0)) AS DOUBLE),
                  0.0) + 0.0 AS abs_err
FROM est e
JOIN sizes sa ON sa.id = e.doc_a
JOIN sizes sb ON sb.id = e.doc_b
LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
"""

QUERIES["minhash_audit"] = q_minhash_audit
ORACLES["minhash_audit"] = SQL_MINHASH_AUDIT


def q_presence_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming presence bitmap maintained by an actual Structured
    Streaming query: events replayed through a file stream, final mask
    snapshot per (event_type, hour). bit_or commutes and is idempotent,
    so the final snapshot must equal the BATCH tier-1 mask — gated by
    the same SQL as presence_rollup's tier 1."""
    import uuid

    from .streaming.sketch import presence_stream

    name = "presence_sink_" + uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props map<string,string>"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_type", F.unix_timestamp("ts").alias("sec"))
    )
    out = presence_stream(stream, bucket_sec=3600, slots=60)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"""
        SELECT key, bucket, mask, n_active FROM (
          SELECT *, row_number() OVER (
            PARTITION BY key, bucket ORDER BY n_seen DESC) AS rn
          FROM {name}) WHERE rn = 1
        """
    )


SQL_PRESENCE_STREAM = r"""
SELECT event_type AS key,
       epochsec // 3600 AS bucket,
       CAST(bit_or(CAST(1 AS BIGINT) << CAST((epochsec % 3600) // 60 AS INT))
            AS BIGINT) AS mask,
       CAST(bit_count(bit_or(CAST(1 AS BIGINT)
                             << CAST((epochsec % 3600) // 60 AS INT)))
            AS INT) AS n_active
FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS epochsec
      FROM events)
GROUP BY 1, 2
"""

QUERIES["presence_stream"] = q_presence_stream
ORACLES["presence_stream"] = SQL_PRESENCE_STREAM


def q_apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex per (event_type, 6h bucket): exact centi-unit satisfaction
    tiers, half-weight folded into (2*sat + tol)/(2n) — one division of
    exact bigints."""
    from .operators.rollup import apdex_scores

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return apdex_scores(ev, threshold_centi=5000, bucket_sec=21600)


SQL_APDEX = r"""
WITH rowsx AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / 21600) AS BIGINT) AS bucket,
         CAST(round(CAST(value AS DOUBLE) * 100.0) AS BIGINT) AS vu
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
),
g AS (
  SELECT key, bucket, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN vu <= 5000 THEN 1 ELSE 0 END) AS BIGINT)
           AS satisfied,
         CAST(sum(CASE WHEN vu > 5000 AND vu <= 20000 THEN 1 ELSE 0 END)
              AS BIGINT) AS tolerating
  FROM rowsx GROUP BY 1, 2
)
SELECT key, bucket, n, satisfied, tolerating,
       CAST(2 * satisfied + tolerating AS DOUBLE) / CAST(2 * n AS DOUBLE)
         + 0.0 AS apdex
FROM g
"""

QUERIES["apdex"] = q_apdex
ORACLES["apdex"] = SQL_APDEX


def q_mi_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell PMI between event type and hour-of-day: every value a
    fixed-order difference of ln-of-exact-bigints — no float sum ever."""
    from .operators.rollup import mi_contingency

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = mi_contingency(ev)
    # ln differs by 1 ulp between JVM Math.log and libm on some exact-
    # bigint arguments (measured: one cell in 120 at sf0.01) — r6-round
    # the ln difference for the hash gate, the kn_perplexity convention.
    return out.withColumn("pmi", F.round(F.col("pmi"), 6) + F.lit(0.0))


SQL_MI_CONTINGENCY = r"""
WITH cells AS (
  SELECT event_type AS key,
         CAST((CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24) AS INT) AS hour,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
mk AS (SELECT key, CAST(sum(c) AS BIGINT) AS c_key FROM cells GROUP BY 1),
mh AS (SELECT hour, CAST(sum(c) AS BIGINT) AS c_hour FROM cells GROUP BY 1),
nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cells)
SELECT cells.key AS key, cells.hour AS hour, c, c_key, c_hour, n_total,
       round(ln(CAST(c * n_total AS DOUBLE))
             - ln(CAST(c_key * c_hour AS DOUBLE)) + 0.0, 6) + 0.0 AS pmi
FROM cells
JOIN mk ON mk.key = cells.key
JOIN mh ON mh.hour = cells.hour
CROSS JOIN nt
"""

QUERIES["mi_contingency"] = q_mi_contingency
ORACLES["mi_contingency"] = SQL_MI_CONTINGENCY


def q_hdr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR sketch-accuracy audit: estimated vs exact nearest-rank centi
    percentiles per (event_type, day), realized relative error gated."""
    from .operators.sketch import hdr_accuracy_audit

    return hdr_accuracy_audit(_q_hdr_events(spark, sf_dir), 86400)


SQL_HDR_AUDIT = (
    "WITH "
    + _SQL_HDR_BASE.format(bucket_sec=86400)
    + f""",
cum AS (
  SELECT key, bucket, idx,
         sum(cnt) OVER (PARTITION BY key, bucket ORDER BY idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY key, bucket) AS n
  FROM g
), picks AS (
  SELECT key, bucket, CAST(max(n) AS BIGINT) AS n,
         min(CASE WHEN cum >= (n + 1) // 2 THEN idx END) AS i50,
         min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN idx END) AS i90,
         min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN idx END) AS i99
  FROM cum GROUP BY 1, 2
), ests AS (
  SELECT key, bucket, n, {_sql_hdr_est('i50')} AS p50_est,
         {_sql_hdr_est('i90')} AS p90_est, {_sql_hdr_est('i99')} AS p99_est
  FROM picks
), r AS (
  SELECT key, bucket, cu,
         row_number() OVER (PARTITION BY key, bucket ORDER BY cu) AS rn,
         count(*) OVER (PARTITION BY key, bucket) AS nn
  FROM ev
), exact AS (
  SELECT key, bucket,
         CAST(min(CASE WHEN rn = (nn + 1) // 2 THEN cu END) AS BIGINT)
           AS p50_c,
         CAST(min(CASE WHEN rn = (nn * 9 + 9) // 10 THEN cu END) AS BIGINT)
           AS p90_c,
         CAST(min(CASE WHEN rn = (nn * 99 + 99) // 100 THEN cu END) AS BIGINT)
           AS p99_c
  FROM r GROUP BY 1, 2
)
SELECT e.key AS key, e.bucket AS bucket, e.n AS n,
       x.p50_c AS p50_c, e.p50_est AS p50_est,
       abs(e.p50_est - CAST(x.p50_c AS DOUBLE) / 100.0)
         / NULLIF(abs(CAST(x.p50_c AS DOUBLE) / 100.0), 0.0) + 0.0 AS rel50,
       x.p90_c AS p90_c, e.p90_est AS p90_est,
       abs(e.p90_est - CAST(x.p90_c AS DOUBLE) / 100.0)
         / NULLIF(abs(CAST(x.p90_c AS DOUBLE) / 100.0), 0.0) + 0.0 AS rel90,
       x.p99_c AS p99_c, e.p99_est AS p99_est,
       abs(e.p99_est - CAST(x.p99_c AS DOUBLE) / 100.0)
         / NULLIF(abs(CAST(x.p99_c AS DOUBLE) / 100.0), 0.0) + 0.0 AS rel99
FROM ests e JOIN exact x ON x.key = e.key AND x.bucket = e.bucket"""
)

QUERIES["hdr_audit"] = q_hdr_audit
ORACLES["hdr_audit"] = SQL_HDR_AUDIT


def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the exact cosine ranking against same-label binary
    relevance: integer discount weights make DCG/IDCG order-free bigint
    sums, nDCG one IEEE division."""
    from .operators import ndcg_at_k

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 16)
    return ndcg_at_k(emb, queries)


def _ndcg_consts_sql() -> tuple[str, str]:
    from .operators.similarity import NDCG_PREFIX, NDCG_W

    return (
        "[" + ", ".join(str(w) for w in NDCG_W) + "]",
        "[" + ", ".join(str(p) for p in NDCG_PREFIX) + "]",
    )


def _finalize_ndcg_sql() -> str:
    w, p = _ndcg_consts_sql()
    return """
WITH e AS MATERIALIZED (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ex AS MATERIALIZED (
  SELECT vec_id, unnest(v) AS x, unnest(generate_series(1, len(v))) AS i
  FROM e
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, sum(q.x * n.x) AS dot
  FROM ex q JOIN ex n ON q.i = n.i AND q.vec_id < 16 AND q.vec_id != n.vec_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT d.query_id, d.neighbor_id,
           row_number() OVER (
             PARTITION BY d.query_id
             ORDER BY d.dot / NULLIF(nq.nrm * nn.nrm, 0) DESC,
                      d.neighbor_id ASC) AS rank
    FROM dots d
    JOIN norms nq ON nq.vec_id = d.query_id
    JOIN norms nn ON nn.vec_id = d.neighbor_id
    WHERE d.dot / NULLIF(nq.nrm * nn.nrm, 0) IS NOT NULL
  ) WHERE rank <= 10
),
census AS (SELECT label AS lbl_q, CAST(count(*) AS BIGINT) AS n_label
           FROM embeddings GROUP BY 1),
g AS (
  SELECT r.query_id, eq.label AS lbl_q,
         CAST(count(*) AS BIGINT) AS n_retrieved,
         CAST(sum(CASE WHEN en.label = eq.label THEN 1 ELSE 0 END)
              AS BIGINT) AS n_relevant_at_k,
         CAST(sum(CASE WHEN en.label = eq.label
                  THEN ({W})[CAST(r.rank AS INT)] ELSE 0 END)
              AS BIGINT) AS dcg_num
  FROM ranked r
  JOIN e eq ON eq.vec_id = r.query_id
  JOIN e en ON en.vec_id = r.neighbor_id
  GROUP BY 1, 2
)
SELECT g.query_id AS query_id, n_retrieved, n_relevant_at_k, dcg_num,
       CAST(CASE WHEN least(c.n_label - 1, 10) > 0
            THEN ({P})[CAST(least(c.n_label - 1, 10) AS INT)] END
            AS BIGINT) AS idcg_num,
       CAST(dcg_num AS DOUBLE)
         / NULLIF(CAST(CASE WHEN least(c.n_label - 1, 10) > 0
                       THEN ({P})[CAST(least(c.n_label - 1, 10) AS INT)] END
                       AS DOUBLE), 0.0) + 0.0 AS ndcg
FROM g JOIN census c ON c.lbl_q = g.lbl_q
""".replace("{W}", w).replace("{P}", p)


QUERIES["ndcg"] = q_ndcg
ORACLES["ndcg"] = _finalize_ndcg_sql()


def q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR / precision@10 / recall@10 per query under same-label binary
    relevance — exact integer counts, one division per metric."""
    from .operators import retrieval_metrics

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 16)
    return retrieval_metrics(emb, queries)


SQL_RETRIEVAL_METRICS = """
WITH e AS MATERIALIZED (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ex AS MATERIALIZED (
  SELECT vec_id, unnest(v) AS x, unnest(generate_series(1, len(v))) AS i
  FROM e
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, sum(q.x * n.x) AS dot
  FROM ex q JOIN ex n ON q.i = n.i AND q.vec_id < 16 AND q.vec_id != n.vec_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT d.query_id, d.neighbor_id,
           row_number() OVER (
             PARTITION BY d.query_id
             ORDER BY d.dot / NULLIF(nq.nrm * nn.nrm, 0) DESC,
                      d.neighbor_id ASC) AS rank
    FROM dots d
    JOIN norms nq ON nq.vec_id = d.query_id
    JOIN norms nn ON nn.vec_id = d.neighbor_id
    WHERE d.dot / NULLIF(nq.nrm * nn.nrm, 0) IS NOT NULL
  ) WHERE rank <= 10
),
census AS (SELECT label AS lbl_q, CAST(count(*) AS BIGINT) AS n_label
           FROM embeddings GROUP BY 1),
g AS (
  SELECT r.query_id, eq.label AS lbl_q,
         CAST(min(CASE WHEN en.label = eq.label THEN r.rank END) AS BIGINT)
           AS first_rel_rank,
         CAST(sum(CASE WHEN en.label = eq.label THEN 1 ELSE 0 END)
              AS BIGINT) AS n_relevant_at_k
  FROM ranked r
  JOIN e eq ON eq.vec_id = r.query_id
  JOIN e en ON en.vec_id = r.neighbor_id
  GROUP BY 1, 2
)
SELECT g.query_id AS query_id, first_rel_rank,
       1.0 / CAST(first_rel_rank AS DOUBLE) + 0.0 AS rr,
       n_relevant_at_k,
       CAST(c.n_label - 1 AS BIGINT) AS n_relevant,
       CAST(n_relevant_at_k AS DOUBLE) / 10.0 + 0.0 AS precision_at_k,
       CAST(n_relevant_at_k AS DOUBLE)
         / NULLIF(CAST(c.n_label - 1 AS DOUBLE), 0.0) + 0.0 AS recall_at_k
FROM g JOIN census c ON c.lbl_q = g.lbl_q
"""

QUERIES["retrieval_metrics"] = q_retrieval_metrics
ORACLES["retrieval_metrics"] = SQL_RETRIEVAL_METRICS


def q_order_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-vs-event-time order audit per event_type: exact-integer
    Spearman footrule between the (ts,id) and (id) total orders,
    normalized by its floor(n^2/2) maximum."""
    from .operators.rollup import order_integrity_audit

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return order_integrity_audit(ev)


SQL_ORDER_INTEGRITY = r"""
WITH r AS (
  SELECT event_type AS key,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id)
              - row_number() OVER (PARTITION BY event_type
                                   ORDER BY event_id) AS BIGINT) AS d
  FROM events
),
g AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(abs(d)) AS BIGINT) AS footrule
  FROM r GROUP BY 1
)
SELECT key, n, footrule,
       CAST(footrule AS DOUBLE)
         / NULLIF(CAST(CASE WHEN n >= 2 THEN (n * n) // 2 END AS DOUBLE), 0.0)
         + 0.0 AS disorder
FROM g
"""

QUERIES["order_integrity"] = q_order_integrity
ORACLES["order_integrity"] = SQL_ORDER_INTEGRITY


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between orders and a deterministically-mutated next
    version (every 7th key's price bumped one cent, every 11th deleted,
    every 13th mirrored as a new negative key): null-safe raw-value
    comparison, pure integer op decisions."""
    from .operators.rollup import snapshot_diff

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    a = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice").cast("double") * F.lit(100.0))
        .cast("bigint")
        .alias("price_c"),
        "o_orderstatus",
    )
    b = a.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("price_c") + 1
        ).otherwise(F.col("price_c")).alias("price_c"),
        "o_orderstatus",
    )
    inserts = a.filter(F.col("o_orderkey") % 13 == 0).select(
        (-F.col("o_orderkey")).alias("o_orderkey"), "price_c", "o_orderstatus"
    )
    b = b.unionByName(inserts)
    return snapshot_diff(
        a, b, "o_orderkey", ("price_c", "o_orderstatus")
    ).select(F.col("key").cast("bigint").alias("key"), "op")


SQL_SNAPSHOT_DIFF = r"""
WITH a AS (
  SELECT o_orderkey AS key,
         CAST(round(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT)
           AS price_c,
         o_orderstatus AS st
  FROM orders
),
b AS (
  SELECT key,
         CASE WHEN key % 7 = 0 THEN price_c + 1 ELSE price_c END AS price_c,
         st
  FROM a WHERE key % 11 != 0
  UNION ALL
  SELECT -key AS key, price_c, st FROM a WHERE key % 13 = 0
)
SELECT COALESCE(a.key, b.key) AS key,
       CASE WHEN a.key IS NULL THEN 'insert'
            WHEN b.key IS NULL THEN 'delete'
            WHEN NOT (a.price_c IS NOT DISTINCT FROM b.price_c)
              OR NOT (a.st IS NOT DISTINCT FROM b.st) THEN 'update'
       END AS op
FROM a FULL OUTER JOIN b ON b.key = a.key
WHERE (CASE WHEN a.key IS NULL THEN 'insert'
            WHEN b.key IS NULL THEN 'delete'
            WHEN NOT (a.price_c IS NOT DISTINCT FROM b.price_c)
              OR NOT (a.st IS NOT DISTINCT FROM b.st) THEN 'update'
       END) IS NOT NULL
"""

QUERIES["snapshot_diff"] = q_snapshot_diff
ORACLES["snapshot_diff"] = SQL_SNAPSHOT_DIFF


def q_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical watermark-delay audit per event_type: running-max
    lateness in exact seconds, nearest-rank p50/p95, fraction beyond
    a 60 s bound."""
    from .operators.rollup import watermark_audit

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return watermark_audit(ev)


SQL_WATERMARK_AUDIT = r"""
WITH rowsx AS (
  SELECT event_type AS key, event_id AS id,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
late AS (
  SELECT key, id,
         CAST(max(sec) OVER (PARTITION BY key ORDER BY id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - sec
              AS BIGINT) AS late
  FROM rowsx
),
r AS (
  SELECT key, late,
         row_number() OVER (PARTITION BY key ORDER BY late, id) AS rn,
         count(*) OVER (PARTITION BY key) AS nn
  FROM late
),
g AS (
  SELECT key, CAST(max(nn) AS BIGINT) AS n,
         CAST(min(CASE WHEN rn = (nn + 1) // 2 THEN late END) AS BIGINT)
           AS p50_late,
         CAST(min(CASE WHEN rn = (nn * 19 + 19) // 20 THEN late END)
              AS BIGINT) AS p95_late,
         CAST(max(late) AS BIGINT) AS max_late,
         CAST(sum(CASE WHEN late > 60 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_over_60s
  FROM r GROUP BY 1
)
SELECT key, n, p50_late, p95_late, max_late, n_over_60s,
       CAST(n_over_60s AS DOUBLE) / CAST(n AS DOUBLE) + 0.0 AS frac_over_60s
FROM g
"""

QUERIES["watermark_audit"] = q_watermark_audit
ORACLES["watermark_audit"] = SQL_WATERMARK_AUDIT


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding matrix stats (whitening prep): r9 mean,
    recentered two-pass r9 sd, exact min/max, width-bounded shuffles."""
    from .operators import embedding_stats

    return embedding_stats(_embeddings(spark, sf_dir))


SQL_EMBEDDING_STATS = r"""
WITH ex AS (
  SELECT i AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
),
mu AS (
  SELECT dim, CAST(count(*) AS BIGINT) AS n, round(avg(x), 9) AS mu,
         min(x) AS vmin, max(x) AS vmax
  FROM ex GROUP BY 1
),
second AS (
  SELECT ex.dim AS dim,
         round(sqrt(sum((x - mu.mu) * (x - mu.mu)) / count(*)), 9) AS sd
  FROM ex JOIN mu ON mu.dim = ex.dim GROUP BY 1
)
SELECT CAST(mu.dim AS INT) AS dim, n, mu.mu AS mu, second.sd AS sd,
       vmin, vmax
FROM mu JOIN second ON second.dim = mu.dim
"""

QUERIES["embedding_stats"] = q_embedding_stats
ORACLES["embedding_stats"] = SQL_EMBEDDING_STATS


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall audit: LSH-bucketed top-10 vs exact cosine top-10 per
    query — exact integer hit counts, one division."""
    from .operators import ann_recall_audit

    return ann_recall_audit(
        _embeddings(spark, sf_dir), max_query_id=16, k=10, n_planes=6, n_tables=2
    )


SQL_ANN_RECALL = """
WITH e AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ex AS MATERIALIZED (
  SELECT vec_id, unnest(v) AS x, unnest(generate_series(1, len(v))) AS i
  FROM e
),
norms AS MATERIALIZED (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id
),
planes AS (SELECT unnest(generate_series(0, 11)) AS p),
proj AS (
  SELECT ex.vec_id, pl.p,
         sum(ex.x * sin(pl.p * 1013904223.0 + (ex.i - 1) * 1664525.0)) AS dot
  FROM ex CROSS JOIN planes pl
  GROUP BY 1, 2
),
buckets AS (
  SELECT vec_id, CAST(floor(p / 6) AS INT) AS tbl,
         CAST(sum(CASE WHEN dot >= 0
                  THEN CAST(pow(2, p % 6) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM buckets a
  JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
               AND a.vec_id != b.vec_id
),
cdots AS (
  SELECT c.query_id, c.neighbor_id, sum(q.x * n.x) AS dot
  FROM cand c
  JOIN ex q ON q.vec_id = c.query_id
  JOIN ex n ON n.vec_id = c.neighbor_id AND n.i = q.i
  GROUP BY 1, 2
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT d.query_id, d.neighbor_id,
           row_number() OVER (PARTITION BY d.query_id
             ORDER BY d.dot / NULLIF(nq.nrm * nn.nrm, 0) DESC,
                      d.neighbor_id ASC) AS rank
    FROM cdots d
    JOIN norms nq ON nq.vec_id = d.query_id
    JOIN norms nn ON nn.vec_id = d.neighbor_id
    WHERE d.dot / NULLIF(nq.nrm * nn.nrm, 0) IS NOT NULL
  ) WHERE rank <= 10
),
qdots AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, sum(q.x * n.x) AS dot
  FROM ex q JOIN ex n ON q.i = n.i AND q.vec_id < 16 AND q.vec_id != n.vec_id
  GROUP BY 1, 2
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT d.query_id, d.neighbor_id,
           row_number() OVER (PARTITION BY d.query_id
             ORDER BY d.dot / NULLIF(nq.nrm * nn.nrm, 0) DESC,
                      d.neighbor_id ASC) AS rank
    FROM qdots d
    JOIN norms nq ON nq.vec_id = d.query_id
    JOIN norms nn ON nn.vec_id = d.neighbor_id
    WHERE d.dot / NULLIF(nq.nrm * nn.nrm, 0) IS NOT NULL
  ) WHERE rank <= 10
),
ecnt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         FROM exact GROUP BY 1),
acnt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_approx
         FROM approx WHERE query_id < 16 GROUP BY 1),
hits AS (
  SELECT x.query_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM exact x JOIN approx a ON a.query_id = x.query_id
           AND a.neighbor_id = x.neighbor_id
  GROUP BY 1
)
SELECT e1.query_id AS query_id, n_exact,
       CAST(COALESCE(a1.n_approx, 0) AS BIGINT) AS n_approx,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE)
         + 0.0 AS recall
FROM ecnt e1
LEFT JOIN acnt a1 ON a1.query_id = e1.query_id
LEFT JOIN hits h ON h.query_id = e1.query_id
"""

QUERIES["ann_recall"] = q_ann_recall
ORACLES["ann_recall"] = SQL_ANN_RECALL


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift between every
    event-type pair: sup-norm CDF gap over the pooled centi-quantized
    value points, integer cross-multiplied, smallest-location argmax,
    ONE final division."""
    from .operators.rollup import ks_2samp_pairs

    ev = _events(spark, sf_dir).select("event_type", "value")
    return ks_2samp_pairs(ev)


SQL_KS_DRIFT = r"""
WITH h AS (
  SELECT CAST(event_type AS VARCHAR) AS key,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vc,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
vals AS (SELECT DISTINCT vc FROM h),
keys AS (SELECT DISTINCT key FROM h),
grid AS (SELECT k.key, v.vc FROM keys k, vals v),
dense AS (
  SELECT g.key, g.vc,
         CAST(sum(COALESCE(h.cnt, 0)) OVER (PARTITION BY g.key ORDER BY g.vc)
              AS BIGINT) AS cum
  FROM grid g LEFT JOIN h ON h.key = g.key AND h.vc = g.vc
),
totals AS (SELECT key, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY key),
gaps AS (
  SELECT a.key AS key_a, b.key AS key_b, ta.n AS n_a, tb.n AS n_b, a.vc,
         CAST(abs(a.cum * tb.n - b.cum * ta.n) AS BIGINT) AS gap
  FROM dense a
  JOIN dense b ON a.vc = b.vc AND a.key < b.key
  JOIN totals ta ON ta.key = a.key
  JOIN totals tb ON tb.key = b.key
),
top AS (
  SELECT key_a, key_b, n_a, n_b, CAST(max(gap) AS BIGINT) AS d_num
  FROM gaps GROUP BY 1, 2, 3, 4
),
at AS (
  SELECT g.key_a, g.key_b, CAST(min(g.vc) AS BIGINT) AS at_centi
  FROM gaps g JOIN top t ON t.key_a = g.key_a AND t.key_b = g.key_b
  WHERE g.gap = t.d_num
  GROUP BY 1, 2
)
SELECT t.key_a, t.key_b, t.n_a, t.n_b, t.d_num, a.at_centi,
       CAST(t.d_num AS DOUBLE) / CAST(t.n_a * t.n_b AS DOUBLE) + 0.0 AS ks
FROM top t JOIN at a ON a.key_a = t.key_a AND a.key_b = t.key_b
"""

QUERIES["ks_drift"] = q_ks_drift
ORACLES["ks_drift"] = SQL_KS_DRIFT


def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item–item collaborative filtering over the customer–supplier
    co-purchase bipartite graph: supplier pairs sharing ≥ 2 customers
    with neighborhood Jaccard + cosine — exact integer common-neighbor
    counts, one fixed-shape division/sqrt each."""
    from .operators.rollup import item_cf_similarity

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    baskets = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("o"), F.col("l_suppkey").alias("it")
    )
    return item_cf_similarity(baskets, min_cn=2).select(
        F.col("item_a").cast("bigint").alias("item_a"),
        F.col("item_b").cast("bigint").alias("item_b"),
        "cn", "deg_a", "deg_b", "jaccard", "cosine",
    )


SQL_ITEM_CF = r"""
WITH base AS (
  SELECT DISTINCT o.o_custkey AS o, l.l_suppkey AS it
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
deg AS (SELECT it, CAST(count(*) AS BIGINT) AS deg FROM base GROUP BY it),
pairs AS (
  SELECT a.it AS ia, b.it AS ib, CAST(count(*) AS BIGINT) AS cn
  FROM base a JOIN base b ON a.o = b.o AND a.it < b.it
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT CAST(p.ia AS BIGINT) AS item_a, CAST(p.ib AS BIGINT) AS item_b,
       p.cn, da.deg AS deg_a, db.deg AS deg_b,
       CAST(p.cn AS DOUBLE)
         / CAST(da.deg + db.deg - p.cn AS DOUBLE) + 0.0 AS jaccard,
       CAST(p.cn AS DOUBLE)
         / sqrt(CAST(da.deg * db.deg AS DOUBLE)) + 0.0 AS cosine
FROM pairs p
JOIN deg da ON da.it = p.ia
JOIN deg db ON db.it = p.ib
"""

QUERIES["item_cf"] = q_item_cf
ORACLES["item_cf"] = SQL_ITEM_CF


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + FK grade per document: three exact integer
    counts (words / sentence runs / vowel-group syllables) and two
    fixed-shape float expressions, zero-exchange map-only plan."""
    from .operators.text import readability_scores

    return readability_scores(_documents(spark, sf_dir))


SQL_READABILITY = r"""
WITH c AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                              w -> len(w) > 0)) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sents,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syll
  FROM documents
)
SELECT doc_id, n_words, n_sents, n_syll,
       CAST(206.835 AS DOUBLE)
         - CAST(1.015 AS DOUBLE)
           * (CAST(n_words AS DOUBLE) / nullif(CAST(n_sents AS DOUBLE), 0.0))
         - CAST(84.6 AS DOUBLE)
           * (CAST(n_syll AS DOUBLE) / nullif(CAST(n_words AS DOUBLE), 0.0))
         AS flesch,
       CAST(0.39 AS DOUBLE)
         * (CAST(n_words AS DOUBLE) / nullif(CAST(n_sents AS DOUBLE), 0.0))
         + CAST(11.8 AS DOUBLE)
           * (CAST(n_syll AS DOUBLE) / nullif(CAST(n_words AS DOUBLE), 0.0))
         - CAST(15.59 AS DOUBLE)
         AS fk_grade
FROM c
"""

QUERIES["readability"] = q_readability
ORACLES["readability"] = SQL_READABILITY


def q_filter_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the Gopher and C4 keep decisions on a
    corpus with all four confusion cells planted by doc_id arithmetic
    (terminal-punct tails on evens, stopword-rich unterminated tails on
    %5==1 odds, symbol spam on %3==0): exact-integer confusion cells +
    ONE bigint division for kappa, per-cell emission."""
    from .operators.similarity import rater_agreement
    from .operators.text import c4_line_filters, gopher_quality_filters

    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit(" that have with be good words indeed."),
            )
            .when(
                F.col("doc_id") % 5 == 1,
                F.lit(" and of to be that have no stop"),
            )
            .otherwise(F.lit(" no full stop here")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit(" ## ## ## ## ## ## ## ## ## ##"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    ga = gopher_quality_filters(docs).select(
        "doc_id", F.col("keep").alias("ga")
    )
    cb = c4_line_filters(docs, min_kept_lines=1).select(
        "doc_id", F.col("keep").cast("int").alias("cb")
    )
    return rater_agreement(ga.join(cb, "doc_id"), "ga", "cb")


SQL_FILTER_KAPPA = r"""
WITH planted AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 2 = 0 THEN ' that have with be good words indeed.'
              WHEN doc_id % 5 = 1 THEN ' and of to be that have no stop'
              ELSE ' no full stop here' END ||
         CASE WHEN doc_id % 3 = 0 THEN ' ## ## ## ## ## ## ## ## ## ##'
              ELSE '' END AS text
  FROM documents
),
feat AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\s+') AS words,
         string_split(text, chr(10)) AS lines,
         len(text) - len(replace(text, '#', '')) AS hash_cnt,
         (len(text) - len(replace(text, '...', ''))) // 3 AS ell_cnt
  FROM planted
),
agg AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS n_chars,
         CAST(len(list_filter(words, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
         CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                              s -> list_contains(words, s))) AS BIGINT) AS n_stop,
         CAST(hash_cnt + ell_cnt AS BIGINT) AS n_sym,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines, l -> starts_with(l, '- '))) AS BIGINT) AS n_bullet,
         CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS BIGINT) AS n_ellipsis
  FROM feat
),
g AS (
  SELECT doc_id,
         CAST(n_words >= 50 AND n_words <= 100000
          AND 3 * n_words <= n_chars AND n_chars <= 10 * n_words
          AND 10 * n_sym < n_words
          AND 10 * n_bullet < 9 * n_lines
          AND 10 * n_ellipsis < 3 * n_lines
          AND 5 * n_alpha >= 4 * n_words
          AND n_stop >= 2 AS INT) AS ga
  FROM agg
),
cf AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)),
           l -> len(string_split_regex(trim(l), '\s+')) >= 5
                AND regexp_matches(trim(l), '[.!?"]$')
                AND NOT contains(lower(l), 'javascript')) AS kept
  FROM planted
),
c AS (
  SELECT doc_id,
         CAST(len(kept) >= 1
          AND NOT contains(lower(array_to_string(kept, chr(10))), 'lorem ipsum')
          AND NOT contains(array_to_string(kept, chr(10)), '{')
          AND NOT regexp_matches(lower(array_to_string(kept, chr(10))),
                                 '\b(badword|blockedterm)\b') AS INT) AS cb
  FROM cf
),
lab AS (
  SELECT CAST(g.ga AS VARCHAR) AS a, CAST(c.cb AS VARCHAR) AS b
  FROM g JOIN c USING (doc_id)
),
cells AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM lab GROUP BY 1, 2
),
ra AS (SELECT a, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY a),
cbm AS (SELECT b, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY b),
pe AS (
  SELECT CAST(sum(ra.r * cbm.c) AS BIGINT) AS pe_num
  FROM ra JOIN cbm ON ra.a = cbm.b
),
scal AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS agree_n
  FROM cells
)
SELECT cells.a AS label_a, cells.b AS label_b, cells.n,
       s.n_total, s.agree_n, p.pe_num,
       CAST(s.n_total * s.agree_n - p.pe_num AS DOUBLE)
         / nullif(CAST(s.n_total * s.n_total - p.pe_num AS DOUBLE), 0.0)
         + 0.0 AS kappa
FROM cells CROSS JOIN scal s CROSS JOIN pe p
"""

QUERIES["filter_kappa"] = q_filter_kappa
ORACLES["filter_kappa"] = SQL_FILTER_KAPPA


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility + bytes-per-token audit: exact
    integer corpus totals and milli-unit floor-division ratios, one
    combinable groupBy."""
    from .operators.text import tokenizer_fertility

    return tokenizer_fertility(_documents(spark, sf_dir))


SQL_TOKENIZER_FERTILITY = r"""
WITH per AS (
  SELECT source,
         CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                              w -> len(w) > 0)) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(lower(text),
                                     '([a-z]+|[0-9]+|[^a-z0-9\s])')) AS BIGINT)
           AS tk,
         CAST(strlen(text) AS BIGINT) AS by
  FROM documents
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(w) AS BIGINT) AS n_words,
         CAST(sum(tk) AS BIGINT) AS n_tokens,
         CAST(sum(by) AS BIGINT) AS n_bytes
  FROM per GROUP BY source
)
SELECT source, n_docs, n_words, n_tokens, n_bytes,
       CASE WHEN n_words > 0
            THEN CAST((1000 * n_tokens) // n_words AS BIGINT) END
         AS fertility_milli,
       CASE WHEN n_tokens > 0
            THEN CAST((1000 * n_bytes) // n_tokens AS BIGINT) END
         AS bytes_per_token_milli
FROM agg
"""

QUERIES["tokenizer_fertility"] = q_tokenizer_fertility
ORACLES["tokenizer_fertility"] = SQL_TOKENIZER_FERTILITY


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (3 rounds) over the
    customer–supplier trade graph: most-frequent neighbor label with
    smallest-label ties, exact integer counts, per-round
    localCheckpoint; unrolled-round oracle."""
    from .operators.graph import label_propagation

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return label_propagation(edges, rounds=3)


def _lpa_sql(rounds: int = 3) -> str:
    steps = []
    for k in range(1, rounds + 1):
        prev = f"l{k-1}"
        steps.append(f"""
c{k} AS (
  SELECT ad.node, l.label, CAST(count(*) AS BIGINT) AS c
  FROM adj ad JOIN {prev} l ON l.node = ad.nbr
  GROUP BY 1, 2
),
l{k} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label ASC) AS rn
    FROM c{k}
  ) WHERE rn = 1
)""")
    last = f"l{rounds}"
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
adj AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM pairs
  UNION
  SELECT b AS node, a AS nbr FROM pairs
),
l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM adj),
{','.join(steps)},
sz AS (
  SELECT label, CAST(count(*) AS BIGINT) AS community_size
  FROM {last} GROUP BY label
)
SELECT t.node, t.label, sz.community_size
FROM {last} t JOIN sz USING (label)
"""


SQL_LABEL_PROPAGATION = _lpa_sql(3)

QUERIES["label_propagation"] = q_label_propagation
ORACLES["label_propagation"] = SQL_LABEL_PROPAGATION


def q_simple8b_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event timestamps → simple8b-packed delta blob
    (Anh & Moffat 2010; the InfluxDB/TSM timestamp codec) → unpack →
    rows. Oracle is the plain ordered-seconds SQL, so the codec is
    proven lossless end-to-end (the gorilla_roundtrip contract for the
    WORD-aligned integer scheme)."""
    import numpy as np
    import pandas as pd

    from .codecs.simple8b import pack_sorted_seconds, unpack_sorted_seconds

    ev = _events(spark, sf_dir).select(
        "user_id", F.unix_timestamp("ts").cast("long").alias("sec")
    )

    def pack_unpack(key, pdf: pd.DataFrame) -> pd.DataFrame:
        secs = np.sort(pdf["sec"].to_numpy(np.int64))
        out = unpack_sorted_seconds(pack_sorted_seconds(secs))
        return pd.DataFrame(
            {
                "user_id": np.repeat(key[0], len(out)),
                "idx": np.arange(len(out), dtype=np.int64),
                "sec": out,
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        pack_unpack, "user_id long, idx long, sec long"
    )


SQL_SIMPLE8B_ROUNDTRIP = r"""
SELECT user_id,
       CAST(row_number() OVER (PARTITION BY user_id
                               ORDER BY epoch(ts), event_id) - 1
            AS BIGINT) AS idx,
       -- floor, not CAST: Spark's unix_timestamp truncates sub-second
       -- timestamps while DuckDB's BIGINT cast rounds them
       CAST(floor(epoch(ts)) AS BIGINT) AS sec
FROM events
"""

QUERIES["simple8b_roundtrip"] = q_simple8b_roundtrip
ORACLES["simple8b_roundtrip"] = SQL_SIMPLE8B_ROUNDTRIP


def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection per near-dup group: most
    characters wins, smallest-id ties — one WindowGroupLimit top-1 +
    one combinable groupBy riding the dedup_groups component table."""
    from .operators.dedup import canonical_docs

    return canonical_docs(
        _documents(spark, sf_dir), num_hashes=8, bands=4, threshold=0.25
    )


SQL_CANONICAL_DOCS = f"""
WITH RECURSIVE {_sql_minhash_pairs(8, 2)},
pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM agree WHERE n_agree / 8.0 >= 0.25
),
edges2 AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach AS (
  SELECT u AS n, u AS r FROM edges2
  UNION
  SELECT e.v AS n, reach.r FROM reach JOIN edges2 e ON e.u = reach.n
),
comp AS (SELECT n, min(r) AS component FROM reach GROUP BY n),
memb AS MATERIALIZED (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS keep_id,
         CAST(d.n_chars AS BIGINT) AS nc
  FROM documents d LEFT JOIN comp c ON c.n = d.doc_id
),
best AS (
  SELECT keep_id AS group_id, doc_id AS canonical_id, nc AS chars_kept
  FROM (
    SELECT doc_id, keep_id, nc,
           row_number() OVER (PARTITION BY keep_id
                              ORDER BY nc DESC, doc_id ASC) AS rn
    FROM memb
  ) WHERE rn = 1
),
stats AS (
  SELECT keep_id, CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(nc) AS BIGINT) AS total_chars
  FROM memb GROUP BY keep_id
)
SELECT CAST(b.group_id AS BIGINT) AS group_id,
       CAST(b.canonical_id AS BIGINT) AS canonical_id,
       s.n_members, b.chars_kept, s.total_chars,
       CAST(s.n_members - 1 AS BIGINT) AS n_dropped
FROM best b JOIN stats s ON s.keep_id = b.group_id
WHERE s.n_members >= 2
"""

QUERIES["canonical_docs"] = q_canonical_docs
ORACLES["canonical_docs"] = SQL_CANONICAL_DOCS


def q_cep_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP negation pattern per user: click → purchase within one hour
    with NO error strictly between (ClickHouse sequenceMatch / Flink
    notFollowedBy shape) — packed-integer total order, two look-ahead
    windows sharing one exchange, all-integer decisions."""
    from .operators.rollup import cep_pattern_match

    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.unix_timestamp("ts").cast("long").alias("sec"),
    )
    return cep_pattern_match(
        ev, "click", "purchase", "error", window_sec=3600
    )


SQL_CEP_MATCH = r"""
WITH base AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         event_type AS etype,
         CAST(floor(epoch(ts)) AS BIGINT) * 16777216 + event_id AS sk
  FROM events
),
look AS (
  SELECT key, sec, etype, sk,
         min(CASE WHEN etype = 'purchase' THEN sk END)
           OVER (PARTITION BY key ORDER BY sk
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS next_b,
         min(CASE WHEN etype = 'error' THEN sk END)
           OVER (PARTITION BY key ORDER BY sk
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS next_c
  FROM base
),
a AS (
  SELECT key, sec, sk, next_b,
         CAST(next_b IS NOT NULL
          AND next_b // 16777216 - sec <= 3600
          AND (next_c IS NULL OR next_c > next_b) AS INT) AS hit
  FROM look WHERE etype = 'click'
),
agg AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_a,
         CAST(sum(hit) AS BIGINT) AS n_matches,
         min(CASE WHEN hit = 1 THEN sk END) AS first_sk
  FROM a GROUP BY key
)
SELECT agg.key, agg.n_a, agg.n_matches,
       CAST(agg.n_matches > 0 AS INT) AS matched,
       CAST(f.sec AS BIGINT) AS first_a_sec,
       CAST(f.next_b // 16777216 AS BIGINT) AS first_b_sec
FROM agg
LEFT JOIN a f ON f.key = agg.key AND f.sk = agg.first_sk
"""

QUERIES["cep_match"] = q_cep_match
ORACLES["cep_match"] = SQL_CEP_MATCH


def q_hrw_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) consistent shard assignment of user keys at
    N=8 and N=9 with the per-key moved flag: packed integer argmax over
    inline md5 weights, map-only zero-exchange (after the distinct)."""
    from .operators.catalog import hrw_shard_assign

    keys = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("key")
    ).distinct()
    return hrw_shard_assign(keys, n_shards=8, n_shards_after=9)


def _hrw_sql(n_before: int, n_after: int) -> str:
    def packed(n: int) -> str:
        terms = ", ".join(
            "CAST(('0x' || substr(md5('s0:hrw" + str(s) + ":' || key), 1, 8)) "
            f"AS BIGINT) * 64 + {s}"
            for s in range(n)
        )
        return f"greatest({terms}) % 64"

    return f"""
WITH keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events)
SELECT key,
       CAST({packed(n_before)} AS INT) AS shard,
       CAST({packed(n_after)} AS INT) AS shard_after,
       CAST(({packed(n_before)}) <> ({packed(n_after)}) AS INT) AS moved
FROM keys
"""


SQL_HRW_SHARDS = _hrw_sql(8, 9)

QUERIES["hrw_shards"] = q_hrw_shards
ORACLES["hrw_shards"] = SQL_HRW_SHARDS


def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-frequency discretization of event values into 4
    bins: integer nearest-rank centi edges over the bounded
    distinct-value sketch, pure-integer bin assignment, per-bin
    summary."""
    from .operators.rollup import quantile_discretize

    return quantile_discretize(
        _events(spark, sf_dir).select("value"), n_bins=4
    )


SQL_QUANTILE_BINS = r"""
WITH vals AS (
  SELECT CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vc FROM events
),
hist AS (SELECT vc, CAST(count(*) AS BIGINT) AS cnt FROM vals GROUP BY vc),
dense AS (
  SELECT vc, CAST(sum(cnt) OVER (ORDER BY vc) AS BIGINT) AS cum FROM hist
),
total AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
edges AS (
  SELECT
    min(CASE WHEN d.cum >= (1 * t.n + 3) // 4 THEN d.vc END) AS e1,
    min(CASE WHEN d.cum >= (2 * t.n + 3) // 4 THEN d.vc END) AS e2,
    min(CASE WHEN d.cum >= (3 * t.n + 3) // 4 THEN d.vc END) AS e3
  FROM dense d CROSS JOIN total t
)
SELECT CAST(CAST(vc > e1 AS INT) + CAST(vc > e2 AS INT)
            + CAST(vc > e3 AS INT) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(vc) AS BIGINT) AS lo_vc,
       CAST(max(vc) AS BIGINT) AS hi_vc,
       e1, e2, e3
FROM vals CROSS JOIN edges
GROUP BY 1, e1, e2, e3
"""

QUERIES["quantile_bins"] = q_quantile_bins
ORACLES["quantile_bins"] = SQL_QUANTILE_BINS


def q_bag_of_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-patterns word histogram per user series (Lin & Li):
    length-8 sliding windows, per-window z-norm (fixed-order
    expressions — no rounding convention needed), PAA-4 → 4-symbol SAX
    word, numerosity reduction, (key, word) counts."""
    from .operators.series import bag_of_patterns

    ev = _events(spark, sf_dir).select(
        "user_id", F.unix_timestamp("ts").cast("long").alias("sec"), "value"
    )
    return bag_of_patterns(
        ev, window=8, w=4, a=4,
        key_col="user_id", pos_col="sec", value_col="value",
    ).select(
        F.col("key").cast("bigint").alias("user_id"), "word", "cnt"
    )


def _bop_sql(window: int = 8, w: int = 4, a: int = 4) -> str:
    seg = window // w
    leads = ",\n         ".join(
        f"lead(v, {j}) OVER win AS c{j}" for j in range(window)
    )
    tot = " + ".join(f"c{j}" for j in range(window))
    mu = f"(({tot}) / CAST({window} AS DOUBLE))"
    # sd must inline mu (an alias is not referenceable in its own
    # SELECT); numerically identical — same value, same expression tree
    var2 = " + ".join(f"(c{j} - {mu}) * (c{j} - {mu})" for j in range(window))
    bps = {4: (-0.6744897501960817, 0.0, 0.6744897501960817)}[a]
    syms = []
    for s in range(w):
        pseg = " + ".join(f"c{s * seg + j}" for j in range(seg))
        z = f"((({pseg}) / CAST({seg} AS DOUBLE)) - mu) / sd"
        sym = " + ".join(f"CAST(({z}) > {bp!r} AS INT)" for bp in bps)
        syms.append(f"CAST({sym} AS BIGINT) * {a ** (w - 1 - s)}")
    word = " + ".join(syms)
    return f"""
WITH ev AS (
  SELECT user_id AS key, CAST(floor(epoch(ts)) AS BIGINT) AS pos,
         CAST(value AS DOUBLE) AS v
  FROM events
),
led AS (
  SELECT key, pos, v,
         {leads}
  FROM ev WINDOW win AS (PARTITION BY key ORDER BY pos, v)
),
m AS (
  SELECT *, {mu} AS mu,
         sqrt(({var2}) / CAST({window} AS DOUBLE)) AS sd
  FROM led
),
kept AS (
  SELECT key, pos, v,
         CASE WHEN c{window - 1} IS NOT NULL
                   AND sd >= 1e-7 * (abs(mu) + 1.0)
              THEN {word} END AS word
  FROM m
),
red AS (
  SELECT key, pos, v, word,
         lag(word) OVER (PARTITION BY key ORDER BY pos, v) AS prev
  FROM kept WHERE word IS NOT NULL
)
SELECT CAST(key AS BIGINT) AS user_id, CAST(word AS BIGINT) AS word,
       CAST(count(*) AS BIGINT) AS cnt
FROM red
WHERE prev IS NULL OR word <> prev
GROUP BY 1, 2
"""


SQL_BAG_OF_PATTERNS = _bop_sql(8, 4, 4)

QUERIES["bag_of_patterns"] = q_bag_of_patterns
ORACLES["bag_of_patterns"] = SQL_BAG_OF_PATTERNS


def q_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%) robust aggregate per event type: nearest-rank
    integer clamp bounds over the (value, id) total order, all-integer
    clamp/sum/count, one final mean division."""
    from .operators.rollup import winsorized_stats

    return winsorized_stats(_events(spark, sf_dir), pct=5)


SQL_WINSORIZED = r"""
WITH base AS (
  SELECT CAST(event_type AS VARCHAR) AS key,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vc,
         event_id AS id
  FROM events
),
ranked AS (
  SELECT key, vc,
         row_number() OVER (PARTITION BY key ORDER BY vc, id) AS rk,
         count(*) OVER (PARTITION BY key) AS n
  FROM base
),
bounds AS (
  SELECT key, CAST(max(n) AS BIGINT) AS n,
         CAST(min(CASE WHEN rk >= (5 * n) // 100 + 1
                       THEN vc END) AS BIGINT) AS lo_centi,
         CAST(min(CASE WHEN rk >= n - (5 * n) // 100
                       THEN vc END) AS BIGINT) AS hi_centi
  FROM ranked GROUP BY key
)
SELECT r.key,
       CAST(count(*) AS BIGINT) AS n,
       b.lo_centi, b.hi_centi,
       CAST(sum(CASE WHEN r.vc < b.lo_centi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped_lo,
       CAST(sum(CASE WHEN r.vc > b.hi_centi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped_hi,
       CAST(sum(least(greatest(r.vc, b.lo_centi), b.hi_centi)) AS BIGINT)
         AS winsorized_sum_centi,
       CAST(sum(least(greatest(r.vc, b.lo_centi), b.hi_centi)) AS DOUBLE)
         / (100.0 * CAST(count(*) AS DOUBLE)) + 0.0 AS winsorized_mean
FROM ranked r JOIN bounds b USING (key)
GROUP BY r.key, b.lo_centi, b.hi_centi
"""

QUERIES["winsorized"] = q_winsorized
ORACLES["winsorized"] = SQL_WINSORIZED


def q_trigram_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pg_trgm-style fuzzy string matching over part names: character
    trigram sets, candidate pairs from a trigram-keyed equi-join with a
    hot-trigram cap (800 keys), exact set Jaccard/cosine — the trigram
    role-swap of the item_cf operator (baskets = trigrams, items =
    names), ≥ 8 shared trigrams."""
    from .operators.rollup import item_cf_similarity

    parts = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", F.lower(F.col("p_name")).alias("nm")
    ).filter(F.length("nm") >= 3)
    tri = parts.select(
        F.col("p_partkey").alias("it"),
        F.explode(
            F.expr("transform(sequence(1, length(nm) - 2), "
                   "i -> substring(nm, i, 3))")
        ).alias("o"),
    ).distinct()
    return item_cf_similarity(
        tri, min_cn=8, max_basket_size=800, basket_col="o", item_col="it"
    ).select(
        F.col("item_a").cast("bigint").alias("item_a"),
        F.col("item_b").cast("bigint").alias("item_b"),
        "cn", "deg_a", "deg_b", "jaccard", "cosine",
    )


SQL_TRIGRAM_SIMILARITY = r"""
WITH parts AS (
  SELECT p_partkey, lower(p_name) AS nm FROM part WHERE len(lower(p_name)) >= 3
),
tri AS (
  SELECT DISTINCT p_partkey AS it, substr(nm, CAST(i AS INT), 3) AS o
  FROM parts, unnest(generate_series(1, len(nm) - 2)) AS g(i)
),
deg AS (SELECT it, CAST(count(*) AS BIGINT) AS deg FROM tri GROUP BY it),
sizes AS (SELECT o, count(*) AS sz FROM tri GROUP BY o),
gen AS (
  SELECT t.o, t.it FROM tri t JOIN sizes s ON s.o = t.o WHERE s.sz <= 800
),
pairs AS (
  SELECT a.it AS ia, b.it AS ib, CAST(count(*) AS BIGINT) AS cn
  FROM gen a JOIN gen b ON a.o = b.o AND a.it < b.it
  GROUP BY 1, 2
  HAVING count(*) >= 8
)
SELECT CAST(p.ia AS BIGINT) AS item_a, CAST(p.ib AS BIGINT) AS item_b,
       p.cn, da.deg AS deg_a, db.deg AS deg_b,
       CAST(p.cn AS DOUBLE)
         / CAST(da.deg + db.deg - p.cn AS DOUBLE) + 0.0 AS jaccard,
       CAST(p.cn AS DOUBLE)
         / sqrt(CAST(da.deg * db.deg AS DOUBLE)) + 0.0 AS cosine
FROM pairs p
JOIN deg da ON da.it = p.ia
JOIN deg db ON db.it = p.ib
"""

QUERIES["trigram_similarity"] = q_trigram_similarity
ORACLES["trigram_similarity"] = SQL_TRIGRAM_SIMILARITY


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (Broder 1997): pairs where either
    direction's |A∩B|/|A| reaches 0.5, gated by the cross-multiplied
    integer rule — catches quote-inclusion pairs Jaccard misses."""
    from .operators.dedup import containment_pairs

    return containment_pairs(
        _documents(spark, sf_dir),
        threshold_milli=500,
        max_shingle_freq=1000000,
    )


SQL_CONTAINMENT = f"""
WITH {_SQL_SHINGLES},
sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter,
       sa.n_sh AS na, sb.n_sh AS nb,
       CAST(i.inter AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) + 0.0
         AS containment_a,
       CAST(i.inter AS DOUBLE) / CAST(sb.n_sh AS DOUBLE) + 0.0
         AS containment_b
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE 1000 * i.inter >= 500 * sa.n_sh OR 1000 * i.inter >= 500 * sb.n_sh
"""

QUERIES["containment"] = q_containment
ORACLES["containment"] = SQL_CONTAINMENT


def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rho between every event-type pair's
    hourly bucket-sum series: doubled midranks as exact integers, five
    bigint sums, ONE fixed-shape rho expression."""
    from .operators.rollup import spearman_pairs

    return spearman_pairs(_events(spark, sf_dir))


SQL_SPEARMAN = r"""
WITH t1 AS (
  SELECT CAST(event_type AS VARCHAR) AS key,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
         CAST(sum(CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT))
              AS BIGINT) AS s
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.key AS key_a, b.key AS key_b, a.bucket,
         a.s AS x, b.s AS y
  FROM t1 a JOIN t1 b ON a.bucket = b.bucket AND a.key < b.key
),
ranked AS (
  SELECT key_a, key_b,
         CAST(2 * rank() OVER (PARTITION BY key_a, key_b ORDER BY x)
              + count(*) OVER (PARTITION BY key_a, key_b, x) - 1
              AS BIGINT) AS dx,
         CAST(2 * rank() OVER (PARTITION BY key_a, key_b ORDER BY y)
              + count(*) OVER (PARTITION BY key_a, key_b, y) - 1
              AS BIGINT) AS dy
  FROM pairs
),
agg AS (
  SELECT key_a, key_b,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dx) AS BIGINT) AS sx,
         CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy
  FROM ranked GROUP BY 1, 2
)
SELECT key_a, key_b, n, sx, sy, sxx, syy, sxy,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / nullif(sqrt(greatest(CAST(n * sxx - sx * sx AS DOUBLE), 0.0)
                       * greatest(CAST(n * syy - sy * sy AS DOUBLE), 0.0)),
                  0.0)
         + 0.0 AS rho
FROM agg
"""

QUERIES["spearman"] = q_spearman
ORACLES["spearman"] = SQL_SPEARMAN


def q_cep_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP negation pattern through a real Structured
    Streaming drain: per-key open-A state machine over the packed-sk
    order; the last snapshot per key equals the batch operator, so the
    batch oracle gates the stream directly."""
    import uuid

    from .streaming.cep import cep_stream

    name = "cep_sink_" + uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props map<string,string>"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select(
            "user_id", "event_id", "event_type",
            F.unix_timestamp("ts").cast("long").alias("sec"),
        )
    )
    out = cep_stream(stream, "click", "purchase", "error", window_sec=3600)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"""
        SELECT key, n_a, n_matches, matched, first_a_sec, first_b_sec
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY key ORDER BY n_seen DESC) AS rn
          FROM {name}) WHERE rn = 1
        """
    )


QUERIES["cep_stream"] = q_cep_stream
ORACLES["cep_stream"] = SQL_CEP_MATCH


def q_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-first curriculum staging with equal token budgets over
    the tokenized corpus: exact exclusive token prefix in the
    (n_tok, doc_id) total order via the two-level bounded-sketch
    decomposition, pure-integer stage assignment."""
    from .operators.tokens import curriculum_stages

    return curriculum_stages(_tokenized(spark, sf_dir), n_stages=4)


SQL_CURRICULUM = f"""
WITH {SQL_TOKC},
docs AS (
  -- tokens IS NOT NULL mirrors the operator's guard: Spark's
  -- F.size(NULL) = -1 would shift every stage boundary, so null-array
  -- rows are dropped on BOTH engines
  SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tok FROM tokc
  WHERE tokens IS NOT NULL
),
total AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM docs),
pre AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(sum(n_tok) OVER (
           ORDER BY n_tok, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS cum_excl
  FROM docs
)
SELECT p.doc_id, p.n_tok, p.cum_excl,
       CAST(CASE WHEN t.total > 0
                 THEN least(3, (p.cum_excl * 4) // t.total)
                 ELSE 0 END AS INT) AS stage
FROM pre p CROSS JOIN total t
"""

QUERIES["curriculum"] = q_curriculum
ORACLES["curriculum"] = SQL_CURRICULUM


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scores over the corpus: stopword-delimited phrase
    runs via the sessionize cumsum, exact integer freq/degree per
    word, score = one division."""
    from .operators.text import rake_word_scores

    return rake_word_scores(_documents(spark, sf_dir))


SQL_RAKE_KEYWORDS = r"""
WITH ws AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS a
  FROM documents
),
toks AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, a[CAST(i AS INT) + 1] AS w
  FROM ws, unnest(generate_series(0, len(a) - 1)) AS g(i)
),
marked AS (
  SELECT doc_id, pos, w,
         CASE WHEN NOT regexp_matches(w, '^[a-z]+$')
                   OR w IN ('the','a','an','and','or','of','to','in','is','it')
              THEN 1 ELSE 0 END AS d
  FROM toks
),
ph AS (
  SELECT doc_id, pos, w, d,
         sum(d) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS phrase_id
  FROM marked
),
content AS (SELECT doc_id, phrase_id, w FROM ph WHERE d = 0),
plen AS (
  SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS plen
  FROM content GROUP BY 1, 2
),
occ AS (
  SELECT c.w, p.plen
  FROM content c JOIN plen p USING (doc_id, phrase_id)
)
SELECT w AS word,
       CAST(count(*) AS BIGINT) AS freq,
       CAST(sum(plen) AS BIGINT) AS degree,
       CAST(sum(plen) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.0 AS score
FROM occ GROUP BY w
"""

QUERIES["rake_keywords"] = q_rake_keywords
ORACLES["rake_keywords"] = SQL_RAKE_KEYWORDS


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer–supplier trade graph
    (Newman 2002): Pearson of endpoint degrees over symmetric edge
    ends — five exact bigint sums, one fixed-shape expression."""
    from .operators.graph import degree_assortativity

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return degree_assortativity(edges)


SQL_ASSORTATIVITY = r"""
WITH pairs AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs
  ) GROUP BY node
),
ends AS (
  SELECT a AS u, b AS v FROM pairs
  UNION ALL
  SELECT b AS u, a AS v FROM pairs
),
rows_ AS (
  SELECT du.deg AS j, dv.deg AS k
  FROM ends e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_ends,
         CAST(sum(j) AS BIGINT) AS sj, CAST(sum(k) AS BIGINT) AS sk,
         CAST(sum(j * j) AS BIGINT) AS sjj,
         CAST(sum(k * k) AS BIGINT) AS skk,
         CAST(sum(j * k) AS BIGINT) AS sjk
  FROM rows_
)
SELECT n_ends, sj, sk, sjj, skk, sjk,
       CAST(n_ends * sjk - sj * sk AS DOUBLE)
         / nullif(sqrt(greatest(CAST(n_ends * sjj - sj * sj AS DOUBLE), 0.0)
                       * greatest(CAST(n_ends * skk - sk * sk AS DOUBLE), 0.0)),
                  0.0)
         + 0.0 AS assortativity
FROM agg
"""

QUERIES["assortativity"] = q_assortativity
ORACLES["assortativity"] = SQL_ASSORTATIVITY


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard over the kaplan_meier censored
    lifetimes: integer micro-unit hazard increments and an exact
    integer cumsum — the additive survival companion."""
    from .operators.rollup import nelson_aalen

    ev = _events(spark, sf_dir).select(
        "user_id", F.unix_timestamp("ts").cast("long").alias("sec")
    )
    return nelson_aalen(ev)


SQL_NELSON_AALEN = r"""
WITH per_user AS (
  SELECT user_id,
         min(CAST(floor(epoch(ts)) AS BIGINT)) AS first_t,
         max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_t
  FROM events GROUP BY 1
),
study AS (
  SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS study_end FROM events
),
users AS (
  SELECT CAST((last_t - first_t) // 3600 AS BIGINT) AS d,
         CASE WHEN study_end - last_t >= 21600 THEN 1 ELSE 0 END AS churned
  FROM per_user, study
),
per_d AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_at_d,
         CAST(sum(churned) AS BIGINT) AS e_at_d
  FROM users GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM users),
steps AS (
  SELECT d AS t_age,
         CAST(tot - coalesce(CAST(sum(n_at_d) OVER (
             ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS BIGINT), 0) AS BIGINT) AS n_risk,
         e_at_d AS n_event
  FROM per_d, tot
),
ev AS (
  SELECT t_age, n_risk, n_event,
         CAST((1000000000 * n_event) // n_risk AS BIGINT) AS h_x1e9
  FROM steps WHERE n_event > 0
)
SELECT t_age, n_risk, n_event, h_x1e9,
       CAST(sum(h_x1e9) OVER (
         ORDER BY t_age ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cumhaz_x1e9
FROM ev
"""

QUERIES["nelson_aalen"] = q_nelson_aalen
ORACLES["nelson_aalen"] = SQL_NELSON_AALEN


def q_hilbert_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout keys over (user_id, hourly bucket) — the
    locality-superior space-filling companion to zorder; the per-level
    integer bit walk is generated from one Python loop for both
    engines."""
    from .operators.rollup import hilbert_key

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "user_id",
        F.floor(F.unix_timestamp("ts").cast("long") / 3600)
        .cast("long")
        .alias("bucket"),
    )
    out = hilbert_key(ev, "user_id", "bucket", bits=16)
    return out.select("event_id", "user_id", "bucket", "hkey")


def _hilbert_oracle_sql(bits: int = 16) -> str:
    from .operators.rollup import hilbert_sql_layers

    layers = hilbert_sql_layers("user_id", "bucket", bits)
    return f"""
WITH base AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket
  FROM events
),
{layers}
SELECT event_id, user_id, bucket, CAST(hd AS BIGINT) AS hkey FROM h0
"""


SQL_HILBERT_ORDER = _hilbert_oracle_sql(16)

QUERIES["hilbert_order"] = q_hilbert_order
ORACLES["hilbert_order"] = SQL_HILBERT_ORDER


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity + l-diversity release audit over the customer
    quasi-identifier (nation, market segment) with account balance as
    the sensitive attribute: exact class sizes, exact distinct counts,
    integer violation flags, table minima broadcast."""
    from .operators.rollup import k_anonymity_audit

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = k_anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment"], "c_acctbal", k=5, l=3
    )
    return out.select(
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        "c_mktsegment", "class_size", "l_distinct",
        "violates_k", "violates_l",
        "k_min", "l_min", "n_k_violations", "n_l_violations",
    )


SQL_K_ANONYMITY = r"""
WITH cls AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(*) AS BIGINT) AS class_size,
         CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct
  FROM customer GROUP BY 1, 2
),
flagged AS (
  SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
         class_size, l_distinct,
         CAST(class_size < 5 AS INT) AS violates_k,
         CAST(l_distinct < 3 AS INT) AS violates_l
  FROM cls
),
overall AS (
  SELECT CAST(min(class_size) AS BIGINT) AS k_min,
         CAST(min(l_distinct) AS BIGINT) AS l_min,
         CAST(sum(violates_k) AS BIGINT) AS n_k_violations,
         CAST(sum(violates_l) AS BIGINT) AS n_l_violations
  FROM flagged
)
SELECT f.*, o.k_min, o.l_min, o.n_k_violations, o.n_l_violations
FROM flagged f CROSS JOIN overall o
"""

QUERIES["k_anonymity"] = q_k_anonymity
ORACLES["k_anonymity"] = SQL_K_ANONYMITY


def q_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt changepoint test per event type over hourly bucket
    sums: the U statistic as an exact integer prefix sum of global
    rank weights (antisymmetry identity), integer max + smallest-
    bucket argmax."""
    from .operators.rollup import pettitt_test

    return pettitt_test(_events(spark, sf_dir))


SQL_PETTITT = r"""
WITH t1 AS (
  SELECT CAST(event_type AS VARCHAR) AS key,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
         CAST(sum(CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT))
              AS BIGINT) AS s
  FROM events GROUP BY 1, 2
),
wrows AS (
  SELECT key, bucket,
         CAST(2 * rank() OVER (PARTITION BY key ORDER BY s)
              + count(*) OVER (PARTITION BY key, s)
              - 2 - count(*) OVER (PARTITION BY key) AS BIGINT) AS w,
         CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n
  FROM t1
),
cum AS (
  SELECT key, bucket, n,
         CAST(sum(w) OVER (PARTITION BY key ORDER BY bucket
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS u,
         row_number() OVER (PARTITION BY key ORDER BY bucket) AS t
  FROM wrows
),
cand AS (SELECT * FROM cum WHERE t < n AND n >= 2),
kmax AS (
  SELECT key, n, CAST(max(abs(u)) AS BIGINT) AS k_stat
  FROM cand GROUP BY 1, 2
)
SELECT c.key, c.n, k.k_stat,
       CAST(min_by(c.u, c.bucket) AS BIGINT) AS u_at_cp,
       CAST(min(c.bucket) AS BIGINT) AS cp_bucket
FROM cand c JOIN kmax k ON k.key = c.key AND abs(c.u) = k.k_stat
GROUP BY c.key, c.n, k.k_stat
"""

QUERIES["pettitt"] = q_pettitt
ORACLES["pettitt"] = SQL_PETTITT


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis k-group rank test over event-type value
    distributions: doubled-midrank integers from the bounded value
    histogram, per-group H contributions with one division each."""
    from .operators.rollup import kruskal_wallis

    return kruskal_wallis(_events(spark, sf_dir))


SQL_KRUSKAL_WALLIS = r"""
WITH base AS (
  SELECT CAST(event_type AS VARCHAR) AS key,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vc
  FROM events
),
hg AS (
  SELECT key, vc, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY 1, 2
),
ha AS (SELECT vc, CAST(sum(cnt) AS BIGINT) AS cnt_all FROM hg GROUP BY vc),
ranked AS (
  SELECT vc, cnt_all,
         CAST(COALESCE(sum(cnt_all) OVER (
           ORDER BY vc ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS less
  FROM ha
),
drv AS (
  SELECT vc, cnt_all, CAST(2 * less + cnt_all + 1 AS BIGINT) AS dr
  FROM ranked
),
tot AS (SELECT CAST(sum(cnt_all) AS BIGINT) AS n_total FROM ha),
bb AS (
  SELECT CAST(sum(cnt_all * (dr - (n_total + 1)) * (dr - (n_total + 1)))
              AS BIGINT) AS b
  FROM drv CROSS JOIN tot
),
grp AS (
  SELECT hg.key, CAST(sum(hg.cnt) AS BIGINT) AS n,
         CAST(sum(hg.cnt * d.dr) AS BIGINT) AS r2
  FROM hg JOIN drv d ON d.vc = hg.vc
  GROUP BY hg.key
)
SELECT g.key, g.n, g.r2,
       CAST(g.r2 - g.n * (t.n_total + 1) AS DOUBLE)
         * CAST(g.r2 - g.n * (t.n_total + 1) AS DOUBLE) AS a,
       b.b, t.n_total,
       CAST(t.n_total - 1 AS DOUBLE)
         * (CAST(g.r2 - g.n * (t.n_total + 1) AS DOUBLE)
            * CAST(g.r2 - g.n * (t.n_total + 1) AS DOUBLE))
         / nullif(CAST(g.n * b.b AS DOUBLE), 0.0)
         + 0.0 AS h_contrib
FROM grp g CROSS JOIN tot t CROSS JOIN bb b
"""

QUERIES["kruskal_wallis"] = q_kruskal_wallis
ORACLES["kruskal_wallis"] = SQL_KRUSKAL_WALLIS


def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per vector over the trained spherical
    k-means clusters: r6-rounded dots/norms (the kmeans convention),
    fixed-shape distances and silhouette gating raw."""
    from .operators.similarity import cluster_silhouette

    return cluster_silhouette(_embeddings(spark, sf_dir))


SQL_SILHOUETTE = f"""
WITH {_sql_kmeans_codebook()},
xsq AS (
  SELECT vec_id, round(sum(x * x), 6) AS xsq FROM ex GROUP BY vec_id
),
scores AS (
  SELECT ex.vec_id, c2.cluster,
         round(sum(ex.x * c2.c), 6) AS dot
  FROM ex JOIN c2 ON c2.dim = ex.i
  GROUP BY 1, 2
),
ranked AS (
  SELECT s.vec_id, s.cluster,
         sqrt(greatest(x.xsq - 2.0 * s.dot + 1.0, 0.0)) AS dist,
         row_number() OVER (PARTITION BY s.vec_id
                            ORDER BY s.dot DESC, s.cluster ASC) AS rn
  FROM scores s JOIN xsq x USING (vec_id)
),
own AS (
  SELECT vec_id, cluster, dist AS a_dist FROM ranked WHERE rn = 1
),
nxt AS (SELECT vec_id, dist AS b_dist FROM ranked WHERE rn = 2)
SELECT o.vec_id, o.cluster, o.a_dist, n.b_dist,
       (n.b_dist - o.a_dist)
         / nullif(greatest(o.a_dist, n.b_dist), 0.0) + 0.0 AS sil
FROM own o JOIN nxt n USING (vec_id)
"""

QUERIES["silhouette"] = q_silhouette
ORACLES["silhouette"] = SQL_SILHOUETTE


def q_rate_limit_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming token-bucket rate limiter through a real drain: the
    same integer recurrence as the batch replay with O(1) two-integer
    state per key — gated by the batch recursive-CTE oracle
    row-for-row (append-mode decisions are immutable)."""
    import uuid

    from .streaming.rollup import rate_limit_stream

    name = "rate_sink_" + uuid.uuid4().hex[:8]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props map<string,string>"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select(
            "user_id", "event_id",
            F.unix_timestamp("ts").cast("long").alias("sec"),
        )
    )
    out = rate_limit_stream(stream, capacity=5, refill_per_sec=1)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        f"SELECT key AS user_id, sec, event_id, allowed, tokens_after "
        f"FROM {name}"
    )


QUERIES["rate_limit_stream"] = q_rate_limit_stream
ORACLES["rate_limit_stream"] = SQL_RATE_LIMIT


def q_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot-fence outlier audit per event type: nearest-rank
    integer quartiles, 1.5·IQR fences as half-centi integer
    cross-multiplications — zero float anywhere."""
    from .operators.rollup import tukey_fences

    return tukey_fences(_events(spark, sf_dir))


SQL_TUKEY_FENCES = r"""
WITH base AS (
  SELECT CAST(event_type AS VARCHAR) AS key,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vc,
         event_id AS id
  FROM events
),
ranked AS (
  SELECT key, vc,
         row_number() OVER (PARTITION BY key ORDER BY vc, id) AS rk,
         count(*) OVER (PARTITION BY key) AS n
  FROM base
),
qs AS (
  SELECT key, CAST(max(n) AS BIGINT) AS n,
         CAST(min(CASE WHEN rk >= (n + 3) // 4 THEN vc END) AS BIGINT)
           AS q1_centi,
         CAST(min(CASE WHEN rk >= (3 * n + 3) // 4 THEN vc END) AS BIGINT)
           AS q3_centi
  FROM ranked GROUP BY key
)
SELECT r.key,
       CAST(count(*) AS BIGINT) AS n,
       q.q1_centi, q.q3_centi,
       CAST(5 * q.q1_centi - 3 * q.q3_centi AS BIGINT) AS fence_lo_x2,
       CAST(5 * q.q3_centi - 3 * q.q1_centi AS BIGINT) AS fence_hi_x2,
       CAST(sum(CASE WHEN 2 * r.vc < 5 * q.q1_centi - 3 * q.q3_centi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_out_lo,
       CAST(sum(CASE WHEN 2 * r.vc > 5 * q.q3_centi - 3 * q.q1_centi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_out_hi
FROM ranked r JOIN qs q USING (key)
GROUP BY r.key, q.q1_centi, q.q3_centi
"""

QUERIES["tukey_fences"] = q_tukey_fences
ORACLES["tukey_fences"] = SQL_TUKEY_FENCES


def q_anon_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Samarati-style generalization ladder to k-anonymity (k=5): each
    customer takes the FIRST rung whose equivalence class reaches k —
    (nation, segment) → (region, segment) → (region) → (*) — pure
    integer class sizes, rung choice a CASE over three counts."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_regionkey"
    )
    base = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select(
        "c_custkey",
        F.col("c_nationkey").cast("bigint").alias("nat"),
        F.col("n_regionkey").cast("bigint").alias("reg"),
        F.col("c_mktsegment").alias("seg"),
    )
    from pyspark.sql.window import Window

    k = 5
    c0 = F.count("*").over(Window.partitionBy("nat", "seg"))
    c1 = F.count("*").over(Window.partitionBy("reg", "seg"))
    c2 = F.count("*").over(Window.partitionBy("reg"))
    sized = base.select(
        "c_custkey", "nat", "reg", "seg",
        c0.cast("bigint").alias("n0"),
        c1.cast("bigint").alias("n1"),
        c2.cast("bigint").alias("n2"),
    )
    rung = (
        F.when(F.col("n0") >= k, F.lit(0))
        .when(F.col("n1") >= k, F.lit(1))
        .when(F.col("n2") >= k, F.lit(2))
        .otherwise(F.lit(3))
    )
    size_at = (
        F.when(F.col("n0") >= k, F.col("n0"))
        .when(F.col("n1") >= k, F.col("n1"))
        .when(F.col("n2") >= k, F.col("n2"))
        .otherwise(F.lit(None).cast("bigint"))
    )
    return sized.select(
        "c_custkey", "nat", "reg", "seg",
        rung.cast("int").alias("rung"),
        size_at.cast("bigint").alias("class_size"),
    )


SQL_ANON_LADDER = r"""
WITH base AS (
  SELECT c.c_custkey, CAST(c.c_nationkey AS BIGINT) AS nat,
         CAST(n.n_regionkey AS BIGINT) AS reg, c.c_mktsegment AS seg
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
),
sized AS (
  SELECT c_custkey, nat, reg, seg,
         CAST(count(*) OVER (PARTITION BY nat, seg) AS BIGINT) AS n0,
         CAST(count(*) OVER (PARTITION BY reg, seg) AS BIGINT) AS n1,
         CAST(count(*) OVER (PARTITION BY reg) AS BIGINT) AS n2
  FROM base
)
SELECT c_custkey, nat, reg, seg,
       CAST(CASE WHEN n0 >= 5 THEN 0 WHEN n1 >= 5 THEN 1
                 WHEN n2 >= 5 THEN 2 ELSE 3 END AS INT) AS rung,
       CAST(CASE WHEN n0 >= 5 THEN n0 WHEN n1 >= 5 THEN n1
                 WHEN n2 >= 5 THEN n2 END AS BIGINT) AS class_size
FROM sized
"""

QUERIES["anon_ladder"] = q_anon_ladder
ORACLES["anon_ladder"] = SQL_ANON_LADDER


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out OOV audit: train/val/test words vs the TRAIN-split
    vocabulary (the dataset_split md5 per-mille rule) — per split,
    exact token totals, OOV token count, distinct OOV types, and the
    milli-unit floor-division OOV rate. The tokenizer-coverage eval
    every vocab build needs."""
    from .operators.text import _words
    from .operators.tokens import dataset_split

    docs = _documents(spark, sf_dir)
    split = dataset_split(docs).select("doc_id", "split")
    toks = (
        docs.select("doc_id", F.explode(_words(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
        .join(split, "doc_id")
    )
    train_vocab = (
        toks.filter(F.col("split") == "train").select("w").distinct()
        .withColumn("in_train", F.lit(1))
    )
    tagged = toks.join(train_vocab, "w", "left")
    agg = tagged.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("in_train").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_oov"),
        F.countDistinct(
            F.when(F.col("in_train").isNull(), F.col("w"))
        ).cast("bigint").alias("n_oov_types"),
    )
    return agg.select(
        "split", "n_tokens", "n_oov", "n_oov_types",
        F.when(
            F.col("n_tokens") > 0,
            F.expr("(1000 * n_oov) div n_tokens").cast("bigint"),
        ).alias("oov_milli"),
    )


SQL_OOV_RATE = r"""
WITH toks AS (
  SELECT d.doc_id, w,
         CASE WHEN CAST(('0x' || substr(md5('s5:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 1000 < 800 THEN 'train'
              WHEN CAST(('0x' || substr(md5('s5:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 1000 < 900 THEN 'val'
              ELSE 'test' END AS split
  FROM documents d,
       unnest(list_filter(string_split_regex(trim(lower(d.text)), '\s+'),
                          x -> len(x) > 0)) AS u(w)
),
tv AS (SELECT DISTINCT w FROM toks WHERE split = 'train'),
tagged AS (
  SELECT t.split, t.w, CASE WHEN tv.w IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN tv ON tv.w = t.w
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       CAST(count(DISTINCT CASE WHEN oov = 1 THEN w END) AS BIGINT)
         AS n_oov_types,
       CASE WHEN count(*) > 0
            THEN CAST((1000 * sum(oov)) // count(*) AS BIGINT) END
         AS oov_milli
FROM tagged GROUP BY split
"""

QUERIES["oov_rate"] = q_oov_rate
ORACLES["oov_rate"] = SQL_OOV_RATE


def q_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori frequent triples (support ≥ 2) over order baskets:
    level-wise join+prune candidate generation from frequent pairs,
    exact integer supports with all three face supports."""
    from .operators.rollup import apriori_triples

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    return apriori_triples(li, min_support=2).select(
        F.col("item_a").cast("bigint").alias("item_a"),
        F.col("item_b").cast("bigint").alias("item_b"),
        F.col("item_c").cast("bigint").alias("item_c"),
        "support", "sup_ab", "sup_ac", "sup_bc",
    )


SQL_APRIORI = r"""
WITH base AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS it FROM lineitem
),
l1 AS (
  SELECT it, CAST(count(*) AS BIGINT) AS s1 FROM base GROUP BY it
  HAVING count(*) >= 2
),
b1 AS (SELECT b.o, b.it FROM base b JOIN l1 ON l1.it = b.it),
l2 AS (
  SELECT a.it AS ia, b.it AS ib, CAST(count(*) AS BIGINT) AS s2
  FROM b1 a JOIN b1 b ON a.o = b.o AND a.it < b.it
  GROUP BY 1, 2 HAVING count(*) >= 2
),
cand AS (
  SELECT p1.ia, p1.ib, p2.ib AS ic,
         p1.s2 AS sab, p2.s2 AS sac, f.s2 AS sbc
  FROM l2 p1
  JOIN l2 p2 ON p2.ia = p1.ia AND p1.ib < p2.ib
  JOIN l2 f ON f.ia = p1.ib AND f.ib = p2.ib
),
citems AS (
  SELECT DISTINCT it FROM (
    SELECT ia AS it FROM cand UNION ALL SELECT ib FROM cand
    UNION ALL SELECT ic FROM cand)
),
bc AS (SELECT b.o, b.it FROM base b JOIN citems c ON c.it = b.it),
sup3 AS (
  SELECT t1.it AS ia, t2.it AS ib, t3.it AS ic,
         CAST(count(*) AS BIGINT) AS support
  FROM bc t1
  JOIN bc t2 ON t1.o = t2.o AND t1.it < t2.it
  JOIN bc t3 ON t1.o = t3.o AND t2.it < t3.it
  JOIN cand ON cand.ia = t1.it AND cand.ib = t2.it AND cand.ic = t3.it
  GROUP BY 1, 2, 3 HAVING count(*) >= 2
)
SELECT CAST(s.ia AS BIGINT) AS item_a, CAST(s.ib AS BIGINT) AS item_b,
       CAST(s.ic AS BIGINT) AS item_c, s.support,
       c.sab AS sup_ab, c.sac AS sup_ac, c.sbc AS sup_bc
FROM sup3 s JOIN cand c ON c.ia = s.ia AND c.ib = s.ib AND c.ic = s.ic
"""

QUERIES["apriori"] = q_apriori
ORACLES["apriori"] = SQL_APRIORI


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B arm means: pre-period covariate sums
    at the integer time midpoint, pooled θ from exact bigint moment
    sums, fixed-shape adjusted means + variance-reduction ratio."""
    from .operators.rollup import cuped_adjustment

    return cuped_adjustment(_events(spark, sf_dir))


SQL_CUPED = r"""
WITH base AS (
  SELECT user_id AS key,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vc,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
span AS (SELECT (min(sec) + max(sec)) // 2 AS mid FROM base),
per_user AS (
  SELECT key,
         CAST(sum(CASE WHEN sec < mid THEN vc ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN sec >= mid THEN vc ELSE 0 END) AS BIGINT) AS y,
         CAST(key % 2 AS INT) AS arm
  FROM base CROSS JOIN span GROUP BY key
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM per_user
),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(x) AS BIGINT) AS ax, CAST(sum(y) AS BIGINT) AS ay
  FROM per_user GROUP BY arm
)
SELECT a.arm, a.n_users, a.ax AS sx, a.ay AS sy,
       CAST(g.n * g.sxy - g.sx * g.sy AS BIGINT) AS theta_num,
       CAST(g.n * g.sxx - g.sx * g.sx AS BIGINT) AS theta_den,
       CAST(a.ay AS DOUBLE) / (100.0 * CAST(a.n_users AS DOUBLE)) + 0.0
         AS raw_mean,
       CAST(a.ay AS DOUBLE) / (100.0 * CAST(a.n_users AS DOUBLE))
         - (CAST(g.n * g.sxy - g.sx * g.sy AS BIGINT)
            / nullif(CAST(CAST(g.n * g.sxx - g.sx * g.sx AS BIGINT)
                          AS DOUBLE), 0.0))
           * (CAST(a.ax AS DOUBLE) / CAST(a.n_users AS DOUBLE)
              - CAST(g.sx AS DOUBLE) / CAST(g.n AS DOUBLE)) / 100.0
         + 0.0 AS adj_mean,
       (CAST(CAST(g.n * g.sxy - g.sx * g.sy AS BIGINT) AS DOUBLE)
        * CAST(CAST(g.n * g.sxy - g.sx * g.sy AS BIGINT) AS DOUBLE))
         / nullif(CAST(CAST(g.n * g.sxx - g.sx * g.sx AS BIGINT) AS DOUBLE)
                  * CAST(CAST(g.n * g.syy - g.sy * g.sy AS BIGINT) AS DOUBLE),
                  0.0)
         + 0.0 AS var_reduction
FROM arms a CROSS JOIN g
"""

QUERIES["cuped"] = q_cuped
ORACLES["cuped"] = SQL_CUPED


def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level bloom-index pruning audit per ingestion granule: the
    equality companion to zonemap_prune — per (granule, probe key),
    skip decision + exact match count, false keeps measured."""
    from .operators.rollup import bloom_index_prune

    return bloom_index_prune(_events(spark, sf_dir))


def _bloom_prune_sql(
    probe_keys=(7, 99991), granule_rows=512, m_bits=1024, k_hashes=4
) -> str:
    def pos_expr(val: str, r: int) -> str:
        return (
            f"CAST(('0x' || substr(md5('s{r // 4}:' || {val}), "
            f"{1 + 8 * (r % 4)}, 8)) AS BIGINT) % {m_bits}"
        )

    key_pos = ", ".join(
        pos_expr("CAST(key AS VARCHAR)", r) for r in range(k_hashes)
    )
    # one probe-position expression per key, used by the want_ CTEs —
    # built exactly once so operator and oracle can't drift apart
    probe_pos = {
        pk: ", ".join(pos_expr(f"'{pk}'", r) for r in range(k_hashes))
        for pk in probe_keys
    }
    blocks = []
    for pk in probe_keys:
        blocks.append(f"""
SELECT s.granule, CAST({pk} AS BIGINT) AS probe_key, s.n_rows,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit_positions,
       CAST(COALESCE(h.n_hit, 0) = (SELECT count(*) FROM want_{pk}) AS INT)
         AS maybe_present,
       CAST(COALESCE(m.n_match, 0) AS BIGINT) AS n_match,
       CAST(COALESCE(h.n_hit, 0) = (SELECT count(*) FROM want_{pk})
            AND COALESCE(m.n_match, 0) = 0 AS INT) AS false_keep
FROM sizes s
LEFT JOIN (
  SELECT gp.granule, count(DISTINCT gp.pos) AS n_hit
  FROM gpos gp JOIN want_{pk} w ON w.pos = gp.pos
  GROUP BY gp.granule
) h ON h.granule = s.granule
LEFT JOIN (
  SELECT granule, count(*) AS n_match FROM g WHERE key = {pk}
  GROUP BY granule
) m ON m.granule = s.granule""")
    wants = ",\n".join(
        f"want_{pk} AS (SELECT DISTINCT pos FROM "
        f"(SELECT unnest([{probe_pos[pk]}]) AS pos))"
        for pk in probe_keys
    )
    return f"""
WITH g AS (
  SELECT (event_id - event_id % {granule_rows}) // {granule_rows} AS granule,
         CAST(user_id AS BIGINT) AS key
  FROM events
),
gpos AS (
  SELECT DISTINCT granule, pos
  FROM g, unnest([{key_pos}]) AS u(pos)
),
sizes AS (
  SELECT granule, CAST(count(*) AS BIGINT) AS n_rows FROM g GROUP BY granule
),
{wants}
{" UNION ALL ".join(blocks)}
"""


SQL_BLOOM_PRUNE = _bloom_prune_sql()

QUERIES["bloom_prune"] = q_bloom_prune
ORACLES["bloom_prune"] = SQL_BLOOM_PRUNE


def q_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between every event-type pair's hourly bucket-sum
    series: exact integer concordant/discordant/tie pair counts over
    the bounded bucket grid, one fixed-shape tau expression."""
    from .operators.rollup import kendall_pairs

    return kendall_pairs(_events(spark, sf_dir))


SQL_KENDALL = r"""
WITH t1 AS (
  SELECT CAST(event_type AS VARCHAR) AS key,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
         CAST(sum(CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT))
              AS BIGINT) AS s
  FROM events GROUP BY 1, 2
),
rows_ AS (
  SELECT a.key AS key_a, b.key AS key_b, a.bucket,
         a.s AS x, b.s AS y
  FROM t1 a JOIN t1 b ON a.bucket = b.bucket AND a.key < b.key
),
pp AS (
  SELECT r1.key_a, r1.key_b,
         r1.x - r2.x AS dx, r1.y - r2.y AS dy
  FROM rows_ r1
  JOIN rows_ r2 ON r1.key_a = r2.key_a AND r1.key_b = r2.key_b
              AND r1.bucket < r2.bucket
),
agg AS (
  SELECT key_a, key_b,
         CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS tx,
         CAST(sum(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS ty
  FROM pp GROUP BY 1, 2
)
SELECT key_a, key_b, n0, c, d, tx, ty,
       CAST(c - d AS DOUBLE)
         / nullif(sqrt(greatest(CAST((c + d + ty) * (c + d + tx) AS DOUBLE),
                                0.0)),
                  0.0)
         + 0.0 AS tau_b
FROM agg
"""

QUERIES["kendall"] = q_kendall
ORACLES["kendall"] = SQL_KENDALL


def q_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-row quantile normalization per event type: doubled
    midranks from the bounded value histogram, micro-unit rank/(n+1)
    positions — pure integer, no global row window."""
    from .operators.rollup import quantile_transform

    return quantile_transform(_events(spark, sf_dir))


SQL_QUANTILE_TRANSFORM = r"""
WITH base AS (
  SELECT CAST(event_type AS VARCHAR) AS key,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vc,
         event_id
  FROM events
),
hg AS (
  SELECT key, vc, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY 1, 2
),
ranked AS (
  SELECT key, vc,
         CAST(2 * COALESCE(sum(cnt) OVER (
             PARTITION BY key ORDER BY vc
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS BIGINT) AS dr,
         CAST(sum(cnt) OVER (PARTITION BY key) AS BIGINT) AS n
  FROM hg
)
SELECT b.key, b.event_id, b.vc, r.dr, r.n,
       CAST((1000000 * r.dr) // (2 * (r.n + 1)) AS BIGINT) AS q_micro
FROM base b JOIN ranked r ON r.key = b.key AND r.vc = b.vc
"""

QUERIES["quantile_transform"] = q_quantile_transform
ORACLES["quantile_transform"] = SQL_QUANTILE_TRANSFORM


def q_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soundex phonetic blocking of the corpus vocabulary: per word its
    code + corpus count, plus per-code block sizes — the classic
    record-linkage blocking key next to the SymSpell ed-1 variants."""
    from pyspark.sql.window import Window

    from .operators.text import _words, soundex_code

    vocab = (
        _documents(spark, sf_dir)
        .select(F.explode(_words(F.col("text"))).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    coded = vocab.withColumn("code", soundex_code(F.col("w")))
    wb = Window.partitionBy("code")
    return coded.select(
        F.col("w").alias("word"), "cnt", "code",
        F.count("*").over(wb).cast("bigint").alias("block_types"),
        F.sum("cnt").over(wb).cast("bigint").alias("block_tokens"),
    )


SQL_SOUNDEX_BLOCKING = r"""
WITH vocab AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt
  FROM documents,
       unnest(string_split_regex(trim(lower(text)), '\s+')) AS u(w)
  WHERE regexp_matches(w, '^[a-z]+$')
  GROUP BY w
),
coded AS (
  SELECT w, cnt,
         CASE WHEN len(regexp_replace(lower(w), '[^a-z]', '', 'g')) > 0 THEN
           upper(substr(w, 1, 1)) ||
           rpad(substr(
             regexp_replace(
               substr(
                 regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(
                   translate(w, 'abcdefghijklmnopqrstuvwxyz',
                             '01230120022455012623010202'),
                 '0{2,}', '0', 'g'), '1{2,}', '1', 'g'), '2{2,}', '2', 'g'),
                 '3{2,}', '3', 'g'), '4{2,}', '4', 'g'), '5{2,}', '5', 'g'),
                 '6{2,}', '6', 'g'),
               2, 1000000),
             '0', '', 'g'),
           1, 3), 3, '0')
         END AS code
  FROM vocab
)
SELECT w AS word, cnt, code,
       CAST(count(*) OVER (PARTITION BY code) AS BIGINT) AS block_types,
       CAST(sum(cnt) OVER (PARTITION BY code) AS BIGINT) AS block_tokens
FROM coded
"""

QUERIES["soundex_blocking"] = q_soundex_blocking
ORACLES["soundex_blocking"] = SQL_SOUNDEX_BLOCKING


def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purity + Gini per trained k-means cluster against the real
    embedding labels: r6-dot assignment, exact integer label counts,
    one division per statistic."""
    from .operators.similarity import cluster_purity

    return cluster_purity(_embeddings(spark, sf_dir))


SQL_CLUSTER_PURITY = f"""
WITH {_sql_kmeans_codebook()},
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
scores AS (
  SELECT ex.vec_id, c2.cluster, round(sum(ex.x * c2.c), 6) AS dot
  FROM ex JOIN c2 ON c2.dim = ex.i
  GROUP BY 1, 2
),
assigned AS (
  SELECT s.vec_id, l.label, s.cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dot DESC, cluster ASC) AS rn
    FROM scores) s JOIN lab l ON l.vec_id = s.vec_id
  WHERE s.rn = 1
),
clab AS (
  SELECT cluster, label, CAST(count(*) AS BIGINT) AS cnt
  FROM assigned GROUP BY 1, 2
),
per AS (
  SELECT cluster, CAST(sum(cnt) AS BIGINT) AS n,
         CAST(max(cnt) AS BIGINT) AS majority_cnt,
         CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq
  FROM clab GROUP BY cluster
),
maj AS (
  SELECT clab.cluster, CAST(min(clab.label) AS BIGINT) AS majority_label
  FROM clab JOIN per ON per.cluster = clab.cluster
               AND clab.cnt = per.majority_cnt
  GROUP BY clab.cluster
)
SELECT p.cluster, p.n, m.majority_label, p.majority_cnt, p.sum_sq,
       CAST(p.majority_cnt AS DOUBLE) / CAST(p.n AS DOUBLE) + 0.0 AS purity,
       1.0 - CAST(p.sum_sq AS DOUBLE) / CAST(p.n * p.n AS DOUBLE) + 0.0
         AS gini
FROM per p JOIN maj m ON m.cluster = p.cluster
"""

QUERIES["cluster_purity"] = q_cluster_purity
ORACLES["cluster_purity"] = SQL_CLUSTER_PURITY


# ---------------------------------------------------------------------------
# Driver-artifact rotation (round 4).
#
# CORRECTNESS_r01..r03 all snapshotted the SAME first-50 registry entries
# while the registry grew 32 -> 72 -> 170: the driver takes ``queries()`` in
# dict insertion order and caps its per-round sweep.  Rotate so every query
# that has never had a driver-verified correctness row leads the registry and
# the 50 already covered by CORRECTNESS_r0{1,2,3}.json trail.  verify_local.py
# still sweeps all entries regardless of order; see README.md "Driver
# correctness coverage by round".
_DRIVER_COVERED_R123 = frozenset({
    'mp_selfjoin', 'mp_stomp', 'mp_rollup_tier1', 'mp_rollup_tier2',
    'mp_retention', 'arc_cac', 'motif_topk', 'discord_topk', 'ab_join',
    'mpdist', 'pmp_multi_window', 'rolling_stats', 'znorm', 'paa',
    'series_features', 'events_rollup_gapfill', 'topk_users', 'dedup_exact',
    'ngram_jaccard', 'minhash_sig', 'minhash_lsh', 'simhash', 'quality',
    'lang_id', 'token_counts', 'fingerprint', 'embedding_topk', 'lsh_ann',
    'gorilla_roundtrip', 'stompi_stream', 'fluss_segments',
    'analyze_motifs_discords', 'valmod', 'av_complexity', 'mstomp_2dim',
    'simple_2dim', 'chains', 'snippets', 'mp_subset', 'sdts', 'salient',
    'floss_chunked', 'rollup_stream', 'mp_rollup_tier1_nested',
    'multimodal_features', 'av_zerocrossing', 'ivf_ann', 'embedding_neardup',
    'mp_chunked', 'repetition',
})

# Round 4's driver sweep covered these 50 first-time names
# (CORRECTNESS_r04.json); round 5 rotates them to the back too so the
# ~207 still-never-covered queries lead the registry.
_DRIVER_COVERED_R4 = frozenset({
    'acf', 'asof_join', 'bm25', 'c4_filters', 'ccf', 'chunk_documents',
    'cohort_retention', 'counter_rate', 'decontamination', 'dedup_groups',
    'dedup_rewrite', 'dsir', 'duplication_rate', 'ewma', 'frame_sample',
    'gopher_quality', 'ivf_kmeans_ann', 'ivf_pq_topk', 'kn_perplexity',
    'lm_perplexity', 'lttb', 'm4_downsample', 'mp_packed_rollup',
    'mp_tokens', 'pack_sequences', 'pack_spans', 'paragraph_dedup',
    'periodogram', 'pii_scrub', 'pipeline_e2e', 'pq_adc_topk', 'pq_encode',
    'random_projection', 'rollup_histogram', 'rollup_percentiles',
    'rollup_trend', 'seasonal_decompose', 'semantic_dedup', 'sessionize',
    'simhash_neardup', 'source_divergence', 'source_mix', 'substring_spans',
    'time_weighted_avg', 'token_entropy', 'token_pmi',
    'token_shard_roundtrip', 'token_vocab', 'tokenize', 'training_order',
})

_DRIVER_COVERED = _DRIVER_COVERED_R123 | _DRIVER_COVERED_R4


def _rotate_registry() -> None:
    global QUERIES, ORACLES
    fresh = [k for k in QUERIES if k not in _DRIVER_COVERED]
    stale = [k for k in QUERIES if k in _DRIVER_COVERED]
    order = fresh + stale
    QUERIES = {k: QUERIES[k] for k in order}
    ORACLES = {k: ORACLES[k] for k in order if k in ORACLES}


_rotate_registry()
