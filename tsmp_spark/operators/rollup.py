"""Tier rollups, gap-fill, and retention — the continuous-aggregate layer.

Pure Catalyst (no Python in the hot path): tier-0 is the full-resolution
profile table from ``matrix_profile``; tier k downsamples by bucketing
``pos`` (or event time) and aggregating with min/argmin/avg/max/count —
PAA semantics (tsmp misc.R:463-486) extended with the index-carrying
argmin the profile needs. Gap-fill materializes missing buckets by
exploding ``sequence(bucket, lead(bucket) - 1)`` per observed row, with
optional LOCF or interpolation. Retention expires buckets older than a
per-key horizon. Both are windows partitioned by the key, so on a tier
hash-partitioned by ``doc_id`` (``nested_to_long``,
``matrix_profile_tier1``) they add no exchange.

Everything here is expressible in ANSI SQL — each operator has a DuckDB
oracle in ``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def rollup_tier(
    profile: DataFrame,
    bucket: int,
    value_col: str = "mp",
    index_col: str = "pi",
    pos_col: str = "pos",
    key_col: str = "doc_id",
) -> DataFrame:
    """Tier rollup of an exploded profile/series table.

    Emits per ``(key, pos div bucket)``: ``mp_min``, ``pi_argmin`` (the
    profile index at the bucket's minimum — deterministic tie-break on
    smallest pos), ``mp_avg``, ``mp_max``, ``n``.

    argmin is expressed with ``min_by``-free deterministic semantics:
    ``min(struct(value, pos, index))`` — struct ordering gives
    (min value, then smallest pos), so ties are stable across engines.
    """
    b = F.floor(F.col(pos_col) / bucket).alias("bucket")
    v = F.col(value_col)
    winner = F.min(F.when(v.isNotNull(), F.struct(v, F.col(pos_col), F.col(index_col))))
    return (
        profile.groupBy(F.col(key_col), b)
        .agg(
            F.min(v).alias("mp_min"),
            winner.getField(index_col).alias("pi_argmin"),
            F.avg(v).alias("mp_avg"),
            F.max(v).alias("mp_max"),
            F.count(v).alias("n"),
        )
    )


def rollup_rollup(tier: DataFrame, factor: int) -> DataFrame:
    """Re-rollup a tier into a coarser one (tier-k → tier-k+1) without
    touching tier-0: mins of mins, weighted avg of avgs, sum of counts.
    This is the map-side-combinable shape — at 100 TB each tier reads only
    the previous tier, never raw data."""
    b = F.floor(F.col("bucket") / factor).alias("bucket")
    winner = F.min(
        F.when(F.col("mp_min").isNotNull(), F.struct("mp_min", "bucket", "pi_argmin"))
    )
    return (
        tier.groupBy("doc_id", b)
        .agg(
            F.min("mp_min").alias("mp_min"),
            winner.getField("pi_argmin").alias("pi_argmin"),
            (F.sum(F.col("mp_avg") * F.col("n")) / F.sum("n")).alias("mp_avg"),
            F.max("mp_max").alias("mp_max"),
            F.sum("n").alias("n"),
        )
    )


def gap_fill(
    tier: DataFrame,
    key_col: str = "doc_id",
    bucket_col: str = "bucket",
    fill_cols: tuple[str, ...] = ("mp_min", "mp_avg"),
    locf: bool = False,
    interpolate: bool = False,
) -> DataFrame:
    """Materialize missing buckets per key over each key's [min, max] bucket
    range. Each observed row explodes ``sequence(bucket, next - 1)``, where
    ``next`` is ``lead(bucket)`` over ``PARTITION BY key ORDER BY bucket``:
    the row itself plus the gap up to the next observation, whose non-key
    columns are NULL (``gap_filled`` marks them). One window, no groupBy
    and no join, so a tier already hash-partitioned by the key adds no
    exchange. Rows with a NULL key or bucket are dropped; a duplicated
    ``(key, bucket)`` keeps every copy and its gap is generated once.

    ``locf=True`` fills value columns with the last observation carried
    forward (``last(..., ignorenulls)`` over an unbounded-preceding
    window); ``interpolate=True`` fills them with the linear interpolation
    between the surrounding observed buckets (the TimescaleDB
    ``interpolate`` gapfill function) — gaps before the first / after the
    last observation stay NULL (there is nothing to interpolate toward;
    within the [min, max] spine that only happens when a fill column is
    NULL on its own observed rows). The fraction ``(b-pb)/(nb-pb)`` is
    exact integer arithmetic and the expression order is fixed, so on
    r9-rounded inputs the fill is cross-engine IEEE-identical. Both fills
    reuse the spine's window partitioning."""
    if locf and interpolate:
        raise ValueError("gap_fill: locf and interpolate are exclusive")
    b = F.col(bucket_col)
    by_bucket = Window.partitionBy(key_col).orderBy(bucket_col)
    # duplicates give next == bucket: greatest() keeps the range ascending
    last = F.greatest(F.coalesce(F.lead(b).over(by_bucket) - 1, b), b)
    spine = (
        tier.filter(F.col(key_col).isNotNull() & b.isNotNull())
        .withColumn("_last", last)
        .withColumn("_b", F.explode(F.sequence(b, F.col("_last"))))
    )
    observed = F.col("_b") == b
    rest = [c for c in tier.columns if c not in (key_col, bucket_col)]
    filled = spine.select(
        key_col,
        F.col("_b").alias(bucket_col),
        *[F.when(observed, F.col(c)).alias(c) for c in rest],
        (~observed).alias("gap_filled"),
    )
    upto = by_bucket.rowsBetween(Window.unboundedPreceding, 0)
    if locf:
        for c in fill_cols:
            filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(upto))
    if interpolate:
        onward = by_bucket.rowsBetween(0, Window.unboundedFollowing)
        for c in fill_cols:
            obs_b = F.when(F.col(c).isNotNull(), b)
            pv = F.last(c, ignorenulls=True).over(upto)
            pb = F.last(obs_b, ignorenulls=True).over(upto)
            nv = F.first(c, ignorenulls=True).over(onward)
            nb = F.first(obs_b, ignorenulls=True).over(onward)
            lerp = pv + (nv - pv) * ((b - pb) / (nb - pb))
            filled = filled.withColumn(
                c,
                F.when(F.col(c).isNotNull(), F.col(c)).when(
                    pv.isNotNull() & nv.isNotNull(), lerp
                ),
            )
    return filled


def retention_expire(
    tiers: DataFrame,
    horizon_buckets: int,
    bucket_col: str = "bucket",
    key_col: str = "doc_id",
) -> DataFrame:
    """Retention: keep only the trailing ``horizon_buckets`` buckets per
    key (per-key horizons, not a global timestamp). The latest bucket is
    ``max(bucket) OVER (PARTITION BY key)`` — no per-key table is built or
    broadcast, and a tier already hash-partitioned by the key adds no
    exchange. Rows with a NULL key or bucket are dropped."""
    latest = F.max(bucket_col).over(Window.partitionBy(key_col))
    rest = [c for c in tiers.columns if c != key_col]
    return (
        tiers.filter(F.col(key_col).isNotNull())
        .withColumn("_latest", latest)
        .filter(F.col(bucket_col) > F.col("_latest") - horizon_buckets)
        .select(key_col, *rest)
    )


def arc_count_cac(
    profile: DataFrame,
    window_size: int,
    exclusion_zone: float = 0.5,
    key_col: str = "doc_id",
) -> DataFrame:
    """FLUSS corrected arc counts as *pure relational SQL* — no UDF.

    fluss.R:320-349 re-expressed: explode each (pos, pi) arc into a +1 at
    min(pos, pi) and a -1 at max(pos, pi), sum per position, cumulative-sum
    with a window, normalize by the ideal beta(2,2) parabola, clamp to 1,
    force the edge exclusion zone (ez·10 window fractions) to 1.

    Single scan of ``profile``: each row explodes to its spine entry
    (pos, 0) plus — when the neighbor index is a valid in-range position —
    its two arc deltas (lo, +1) / (hi, -1), so the input lineage (typically
    an Arrow-UDF matrix-profile plan) is evaluated exactly once. Arcs whose
    neighbor index falls beyond the profile length are skipped entirely
    (matching ``mpcore.arc_counts``); the per-key max position that gates
    them is a pre-explode window, which also supplies ``_n`` downstream.
    Shuffle budget: ONE exchange on key — the max-pos window, the explode
    (partitioning-preserving), and the range-frame cumulative sum all share
    it; there is no groupBy.
    """
    ez_n = int(round(window_size * exclusion_zone * 10 + 1e-8))

    w_key = Window.partitionBy(key_col)
    w_cum = (
        Window.partitionBy(key_col)
        .orderBy("p")
        .rangeBetween(Window.unboundedPreceding, 0)
    )

    pos_entry = F.struct(
        F.col("pos").alias("p"), F.lit(0.0).alias("delta"), F.lit(1).alias("spine")
    )
    arc_lo = F.struct(
        F.least(F.col("pos"), F.col("pi")).alias("p"),
        F.lit(1.0).alias("delta"),
        F.lit(0).alias("spine"),
    )
    arc_hi = F.struct(
        F.greatest(F.col("pos"), F.col("pi")).alias("p"),
        F.lit(-1.0).alias("delta"),
        F.lit(0).alias("spine"),
    )
    entries = F.when(
        F.col("pi").isNotNull()
        & (F.col("pi") >= 0)
        & (F.col("pi") <= F.col("_maxpos")),
        F.array(pos_entry, arc_lo, arc_hi),
    ).otherwise(F.array(pos_entry))

    exploded = (
        profile.withColumn("_maxpos", F.max("pos").over(w_key))
        .select(key_col, "_maxpos", F.explode(entries).alias("e"))
        .select(
            key_col,
            (F.col("_maxpos") + 1).alias("_n"),
            F.col("e.p").alias("p"),
            F.col("e.delta").alias("delta"),
            F.col("e.spine").alias("spine"),
        )
    )
    # range frame: every entry at the same position sees the same running
    # total, so the spine row carries the full per-position aggregate
    ac = F.sum("delta").over(w_cum)
    spine = exploded.withColumn("arc_count", ac).filter(F.col("spine") == 1)

    x = F.col("p") / (F.col("_n") - 1)
    ideal = F.lit(6.0) * x * (1.0 - x) * F.col("_n") / F.lit(3.0)
    cac_raw = F.least(F.col("arc_count") / ideal, F.lit(1.0))
    cac = (
        F.when(F.col("p") < ez_n, 1.0)
        .when(F.col("p") >= F.col("_n") - ez_n, 1.0)
        .otherwise(F.coalesce(cac_raw, F.lit(1.0)))
    )
    return spine.select(
        key_col, F.col("p").alias("pos"), "arc_count", cac.alias("cac")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: tuple[str, ...] = ("user_id",),
    right_cols: tuple[str, ...] = ("value",),
    tolerance=None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join — for every left row, the latest right row with
    ``right.on <= left.on`` within the same ``by`` key (``backward``;
    ``forward`` mirrors with >=), the staple time-series operator Spark
    has no native form of (TimescaleDB/kdb LAST/ASOF; the reference's
    domain, not its API — cited for semantics: DuckDB ASOF JOIN, which
    the oracle uses as an independent implementation).

    Scale shape: NOT a range join (an interval-overlap join explodes at
    warehouse scale and Catalyst falls back to BNLJ) — both sides are
    UNIONED, tagged, and carried through ONE keyed window
    (``last(ignorenulls)`` over (key) ordered by (ts, side)): a single
    Exchange on the ``by`` key, linear work, no candidate blow-up. Skewed
    keys hit the window sort; pre-split hot keys with
    :func:`series.salted_repartition` and merge if needed.

    Equal timestamps match (right sorts before left at the same ``on``).
    CONTRACT: ``right`` must be unique per (by, on) — with duplicates the
    carried pick is tie-ordered only by the window sort and engines may
    disagree; aggregate first. ``tolerance`` (same units as ``on``)
    voids matches older than ``left.on - tolerance``.

    Output: all left columns + ``{on}_right`` + the requested right
    columns (nulled where no match — left-join semantics).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    keys = list(by)
    lstruct = F.struct(*[F.col(c) for c in left.columns]).alias("_l")
    rtypes = dict(zip(right.schema.names, [f.dataType for f in right.schema.fields]))
    l2 = left.select(
        *[F.col(c) for c in keys],
        F.col(on).alias("_ts"),
        F.lit(1).alias("_is_left"),
        lstruct,
        F.lit(None).cast(rtypes[on]).alias("_r_ts"),
        *[F.lit(None).cast(rtypes[c]).alias(f"_r_{c}") for c in right_cols],
    )
    r2 = right.select(
        *[F.col(c) for c in keys],
        F.col(on).alias("_ts"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(l2.schema["_l"].dataType).alias("_l"),
        F.col(on).alias("_r_ts"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    )
    asc = direction == "backward"
    order = [
        F.col("_ts").asc() if asc else F.col("_ts").desc(),
        F.col("_is_left").asc(),
    ]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l2.unionByName(r2).select(
        "*",
        F.last("_r_ts", ignorenulls=True).over(w).alias("_m_ts"),
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_m_{c}")
            for c in right_cols
        ],
    )
    out = carried.filter(F.col("_is_left") == 1)
    if tolerance is not None:
        gap = (
            (F.col("_ts") - F.col("_m_ts"))
            if asc
            else (F.col("_m_ts") - F.col("_ts"))
        )
        ok = F.col("_m_ts").isNotNull() & (gap <= tolerance)
        out = out.select(
            "_l",
            F.when(ok, F.col("_m_ts")).alias("_m_ts"),
            *[F.when(ok, F.col(f"_m_{c}")).alias(f"_m_{c}") for c in right_cols],
        )
    return out.select(
        F.col("_l.*"),
        F.col("_m_ts").alias(f"{on}_right"),
        *[F.col(f"_m_{c}").alias(c + "_right") for c in right_cols],
    )


def m4_downsample(
    long_df: DataFrame,
    bucket: int,
    key_col: str = "doc_id",
    pos_col: str = "pos",
    value_col: str = "value",
) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per (series, bucket)
    keep exactly the four shape-preserving points — first, last, min,
    max, each with its position — the standard visualization/rollup
    downsample (error-free line rendering at pixel resolution).

    One combinable groupBy (map-side partial agg; the same single
    shuffle as :func:`rollup_tier`). Ties are deterministic struct
    orderings on (value, pos): an equal MINIMUM takes the earlier
    position, an equal MAXIMUM the later one (max over (value, pos));
    first/last order by (pos, value).
    """
    k, p, v = F.col(key_col), F.col(pos_col), F.col(value_col)
    rows = long_df.select(
        k.alias("key"), F.floor(p / bucket).cast("long").alias("bucket"),
        p.alias("pos"), v.alias("value"),
    )
    vp = F.struct("value", "pos")
    pv = F.struct("pos", "value")
    agg = rows.groupBy("key", "bucket").agg(
        F.min(pv).alias("_first"),
        F.max(pv).alias("_last"),
        F.min(vp).alias("_min"),
        F.max(vp).alias("_max"),
        F.count("*").alias("n"),
    )
    return agg.select(
        F.col("key").alias(key_col),
        "bucket",
        F.col("_first.pos").alias("first_pos"),
        F.col("_first.value").alias("first_value"),
        F.col("_last.pos").alias("last_pos"),
        F.col("_last.value").alias("last_value"),
        F.col("_min.pos").alias("min_pos"),
        F.col("_min.value").alias("min_value"),
        F.col("_max.pos").alias("max_pos"),
        F.col("_max.value").alias("max_value"),
        "n",
    )


def rollup_percentiles(
    long_df: DataFrame,
    bucket: int,
    quantiles: tuple[float, ...] = (0.5, 0.95),
    key_col: str = "doc_id",
    pos_col: str = "pos",
    value_col: str = "value",
) -> DataFrame:
    """Exact per-bucket percentiles (linear interpolation — the
    SQL-standard ``percentile_cont`` both Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` implement) as continuous-aggregate
    columns: ``p50, p95, ...`` per (series, bucket).

    One shuffle (groupBy). Exact percentiles hold the bucket's values;
    at warehouse scale keep ``bucket`` sized so a bucket's points fit a
    task (they do by construction — buckets are the DOWNSAMPLE unit),
    or swap in a mergeable sketch and give up oracle replay.
    """
    k, p, v = F.col(key_col), F.col(pos_col), F.col(value_col)
    rows = long_df.select(
        k.alias("key"), F.floor(p / bucket).cast("long").alias("bucket"),
        v.alias("value"),
    )
    names = [f"p{int(round(q * 100))}" for q in quantiles]
    if len(set(names)) != len(names):
        raise ValueError(f"quantile labels collide at integer percent: {names}")
    aggs = [
        F.percentile("value", F.lit(q)).alias(n)
        for q, n in zip(quantiles, names)
    ]
    return rows.groupBy("key", "bucket").agg(
        *aggs, F.count("*").alias("n")
    ).withColumnRenamed("key", key_col)


def session_assign(
    events: DataFrame,
    gap: int,
    key_col: str = "user_id",
    ts_col: str = "sec",
    tie_col: str | None = None,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Per-EVENT session assignment — the shared lag+cumsum stage of
    ``sessionize`` and ``session_funnel``: returns the input rows as
    (key, ts, [extras...], session_idx) with the 0-based session index
    per key. One key-hash exchange; downstream groupBys whose keys
    extend (key) or (key, session_idx) reuse it."""
    k, t = F.col(key_col), F.col(ts_col)
    order = [F.col("ts").asc()] + ([F.col("_tie").asc()] if tie_col else [])
    w = Window.partitionBy("key").orderBy(*order)
    sel = [k.alias("key"), t.alias("ts")]
    if tie_col:
        sel.append(F.col(tie_col).alias("_tie"))
    for c in extra_cols or []:
        sel.append(F.col(c))
    flagged = events.select(*sel).withColumn(
        "_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.col("ts") - F.lag("ts").over(w)) > gap),
            1,
        ).otherwise(0),
    )
    return flagged.withColumn(
        "session_idx", F.sum("_new").over(w).cast("long") - 1
    )


def sessionize(
    events: DataFrame,
    gap: int,
    key_col: str = "user_id",
    ts_col: str = "sec",
    tie_col: str | None = None,
) -> DataFrame:
    """Inactivity-gap sessionization: within each key, a new session
    starts whenever the gap to the previous event EXCEEDS ``gap`` (ts
    units). Returns one row per session: (key, session_idx 0-based in
    time order, session_start, session_end, n_events, duration).

    Scale shape: ONE exchange — the lag/cumsum window hash-partitions
    by the key, and the per-session groupBy's keys EXTEND that
    partitioning prefix, so it reuses the exchange
    (ClusteredDistribution subset rule, plan-pinned — the same
    single-shuffle pattern as pack_sequences' cumsum+reassembly).
    Ordering ties on ``ts`` break by ``tie_col`` (pass the event id for
    full determinism; the session SPLIT is tie-insensitive since equal
    timestamps have gap 0).
    """
    with_idx = session_assign(events, gap, key_col, ts_col, tie_col)
    return (
        with_idx.groupBy("key", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("key").alias(key_col),
            "session_idx",
            "session_start",
            "session_end",
            "n_events",
            (F.col("session_end") - F.col("session_start")).alias("duration"),
        )
    )


def cohort_retention(
    events: DataFrame,
    bucket: int,
    key_col: str = "user_id",
    ts_col: str = "sec",
) -> DataFrame:
    """Cohort retention matrix: users cohort by their FIRST-activity
    bucket; cell (cohort, age) counts distinct users active ``age``
    buckets after their cohort, plus the retention rate vs the cohort
    size. The classic warehouse activity analysis, engine-shaped:
    the first-activity groupBy and the (user, bucket) dedup both
    partial-aggregate map-side; the user-keyed join shuffles once on
    the key (broadcast the cohort side when users << events).
    """
    k, t = F.col(key_col), F.col(ts_col)
    acts = events.select(
        k.alias("key"), F.floor(t / bucket).cast("long").alias("b")
    ).distinct()
    first = acts.groupBy("key").agg(F.min("b").alias("cohort"))
    cells = (
        acts.join(first, "key")
        .groupBy("cohort", (F.col("b") - F.col("cohort")).alias("age"))
        .agg(F.countDistinct("key").alias("active_users"))
    )
    sizes = first.groupBy("cohort").agg(F.countDistinct("key").alias("cohort_size"))
    return cells.join(sizes, "cohort").select(
        "cohort",
        "age",
        "active_users",
        "cohort_size",
        F.round(F.col("active_users") / F.col("cohort_size"), 6).alias("retention"),
    )


def counter_rate(
    events: DataFrame,
    bucket: int,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Monotonic-counter increase per (key, bucket) with RESET handling
    (the PromQL/TimescaleDB ``rate``/``increase`` semantics): each
    sample contributes ``max(v - lag(v), 0)`` — a drop means the counter
    reset, and the post-reset value is the observed increase (PromQL's
    convention) — attributed to the bucket where the increase is
    OBSERVED. ``rate`` divides by the bucket length.

    One exchange: the lag window partitions by key and the (key, bucket)
    groupBy extends that prefix (exchange reuse). Ties on ``ts`` order
    by value (deterministic; counters rarely tie). Sums round r6.
    """
    k, t, v = F.col(key_col), F.col(ts_col), F.col(value_col)
    w = Window.partitionBy("key").orderBy(F.col("ts").asc(), F.col("v").asc())
    prev = F.lag("v").over(w)
    inc = (
        F.when(prev.isNull(), 0.0)
        .when(F.col("v") >= prev, F.col("v") - prev)
        .otherwise(F.col("v"))  # reset: the restarted counter's value IS the increase
    )
    rows = (
        events.select(k.alias("key"), t.alias("ts"), v.cast("double").alias("v"))
        .withColumn("_inc", inc)
        .groupBy("key", F.floor(F.col("ts") / bucket).cast("long").alias("bucket"))
        .agg(
            F.round(F.sum("_inc"), 6).alias("increase"),
            F.count("*").alias("n_samples"),
        )
    )
    return rows.select(
        F.col("key").alias(key_col),
        "bucket",
        "increase",
        # exact double division of the ALREADY-rounded increase — a second
        # round() here lands on .5 decimal boundaries and flips per engine
        # (the r6->re-round landmine, CLAUDE.md); same bits both engines
        (F.col("increase") / bucket).alias("rate"),
        "n_samples",
    )


def time_weighted_avg(
    events: DataFrame,
    bucket: int,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Time-weighted average per (key, bucket) under last-observation-
    carried-forward, clipped to each point's own bucket: point i holds
    its value from ``ts_i`` until ``min(next_ts_i, bucket_end)``, and
    ``twa = Σ v_i·dt_i / Σ dt_i``. (TimescaleDB's ``time_weight``
    additionally carries values INTO later buckets; that needs
    gap-fill — compose with :func:`gap_fill` — and is out of this
    aggregate's contract, documented.) Zero-duration points (a sample
    at the exact bucket end, or duplicate timestamps) carry no weight;
    a bucket whose every point has zero duration returns NULL.

    One exchange (lead window by key; the groupBy extends its prefix).
    Products v·dt are per-row exact; the sum rounds r6.
    """
    k, t, v = F.col(key_col), F.col(ts_col), F.col(value_col)
    w = Window.partitionBy("key").orderBy(F.col("ts").asc(), F.col("v").asc())
    rows = events.select(
        k.alias("key"), t.alias("ts"), v.cast("double").alias("v")
    ).withColumn("_next", F.lead("ts").over(w))
    b = F.floor(F.col("ts") / bucket).cast("long")
    bucket_end = (b + 1) * bucket
    dt = (
        F.least(F.coalesce(F.col("_next"), bucket_end), bucket_end) - F.col("ts")
    ).cast("double")
    return (
        rows.select("key", b.alias("bucket"), "v", dt.alias("_dt"))
        .groupBy("key", "bucket")
        .agg(
            F.round(
                F.sum(F.col("v") * F.col("_dt")) / F.nullif(F.sum("_dt"), F.lit(0.0)),
                6,
            ).alias("twa"),
            F.round(F.sum("_dt"), 6).alias("covered"),
            F.count("*").alias("n_samples"),
        )
        .withColumnRenamed("key", key_col)
    )


def acf(
    events: DataFrame,
    lags: tuple[int, ...] = (1, 2, 3),
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Sample autocorrelation per series at the requested lags (Pearson
    correlation of the series against its lag-k shift in OBSERVATION
    order): ``acf_k = corr(v_t, v_{t+k})``, plus the series length.
    The classic stationarity/seasonality diagnostic, as a continuous
    aggregate column set.

    One exchange: the lead windows partition by the key and the final
    groupBy IS that key (exchange reuse). Rows whose lead falls off the
    series end drop out of that lag's pairs (both engines' corr skips
    null pairs). Output rounds r6 (co-moment accumulation order differs
    per engine at ~1e-15).
    """
    k, t, v = F.col(key_col), F.col(ts_col), F.col(value_col)
    order = [F.col("ts").asc(), F.col("v").asc()]
    w = Window.partitionBy("key").orderBy(*order)
    rows = events.select(k.alias("key"), t.alias("ts"), v.cast("double").alias("v"))
    for lag in lags:
        rows = rows.withColumn(f"_lead_{lag}", F.lead("v", lag).over(w))

    # explicit co-moment correlation with a NULLIF'd denominator: built-in
    # corr() raises ANSI DIVIDE_BY_ZERO on zero-variance groups (constant
    # series — planted in the adversarial set), and the explicit form is
    # the SAME expression on both engines (only the sums differ by ulp,
    # absorbed by r6)
    def corr_at(lag: int):
        y = F.col(f"_lead_{lag}")
        has = y.isNotNull()
        x = F.when(has, F.col("v"))
        n = F.count(y).cast("double")
        sx, sy = F.sum(x), F.sum(y)
        sxx, syy = F.sum(x * x), F.sum(y * y)
        sxy = F.sum(x * y)
        # clamp: cancellation can push a zero variance to -1e-12 (sqrt error
        # on DuckDB, NaN here); the clamped 0 falls into the NULLIF guard
        denom = F.sqrt(F.greatest(n * sxx - sx * sx, F.lit(0.0))) * F.sqrt(
            F.greatest(n * syy - sy * sy, F.lit(0.0))
        )
        return F.round((n * sxy - sx * sy) / F.nullif(denom, F.lit(0.0)), 6)

    aggs = [corr_at(lag).alias(f"acf_{lag}") for lag in lags]
    return (
        rows.groupBy("key")
        .agg(*aggs, F.count("*").alias("n"))
        .withColumnRenamed("key", key_col)
    )


EWMA_SCHEMA = "key long, sec long, ewma double"


def ewma_smooth(
    events: DataFrame,
    alpha: float = 0.2,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Exponentially weighted moving average per series —
    ``s_0 = v_0, s_i = α·v_i + (1−α)·s_{i−1}`` in (ts, value) order (the
    pandas ``ewm(adjust=False)`` recurrence). The inherently sequential
    recurrence runs as an Arrow-batched per-group numpy kernel
    (``applyInPandas`` — the engine's kernel layer, like the matrix
    profile); everything around it is JVM-side.

    One exchange (the group hash). Output rounds r6 with −0.0
    normalized; the oracle replays the closed form
    ``s_i = (1−α)^i·v_0 + Σ α(1−α)^{i−j}·v_j`` — recurrence-vs-sum fp
    drift is ~1e-14, absorbed by the rounding.

    State/skew: a group is one series; per-series cost is linear. Hot
    keys are a data-model question (a series lives on one task) — the
    same contract as every per-series kernel here.
    """
    import numpy as np
    import pandas as pd

    a = float(alpha)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["sec", "v"])
        x = pdf["v"].to_numpy(dtype=np.float64)
        s = np.empty_like(x)
        if len(x):
            s[0] = x[0]
            for i in range(1, len(x)):
                s[i] = a * x[i] + (1.0 - a) * s[i - 1]
        out = np.round(s, 6) + 0.0
        return pd.DataFrame(
            {"key": pdf["key"].to_numpy(), "sec": pdf["sec"].to_numpy(), "ewma": out}
        )

    rows = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("long").alias("sec"),
        F.col(value_col).cast("double").alias("v"),
    )
    return rows.groupBy("key").applyInPandas(kernel, EWMA_SCHEMA).select(
        F.col("key").alias(key_col), F.col("sec").alias(ts_col), "ewma"
    )


PERIODOGRAM_SCHEMA = "key long, k integer, power double"


def periodogram(
    events: DataFrame,
    k_max: int = 8,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Low-frequency periodogram per series: normalized DFT power
    ``P_k = |Σ_i v_i·e^{-2πik·i/n}|² / n²`` at harmonics ``k = 1..k_max``
    over the series in (ts, value) order — the seasonality/dominant-period
    diagnostic, emitted as a spectrum (no argmax, so near-tied peaks
    cannot flip a pick across engines; consumers argmax downstream at
    their own tolerance).

    Arrow per-group numpy kernel (rfft); one group-hash exchange. Powers
    round r6 — rfft-vs-naive-trig-sum drift is ~1e-12 relative, absorbed.
    Series shorter than 2 points emit nothing.
    """
    import numpy as np
    import pandas as pd

    km = int(k_max)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["sec", "v"])
        x = pdf["v"].to_numpy(dtype=np.float64)
        n = len(x)
        if n < 2:
            return pd.DataFrame({"key": [], "k": [], "power": []}).astype(
                {"key": "int64", "k": "int32", "power": "float64"}
            )
        spec = np.fft.rfft(x)
        top = min(km, n // 2)
        ks = np.arange(1, top + 1)
        power = np.round((np.abs(spec[1 : top + 1]) ** 2) / float(n) ** 2, 6) + 0.0
        return pd.DataFrame(
            {
                "key": np.repeat(pdf["key"].iloc[0], top),
                "k": ks.astype(np.int32),
                "power": power,
            }
        )

    rows = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("long").alias("sec"),
        F.col(value_col).cast("double").alias("v"),
    )
    return rows.groupBy("key").applyInPandas(kernel, PERIODOGRAM_SCHEMA).select(
        F.col("key").alias(key_col), "k", "power"
    )


HAAR_SCHEMA = "key long, level int, idx long, coef long, is_approx int"


def haar_transform(
    events: DataFrame,
    bucket_sec: int = 3600,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Unnormalized Haar wavelet decomposition per series — the
    multi-resolution view of a rolled-up series (each level IS a
    coarser retention tier: level-ℓ approximations are the 2^ℓ-bucket
    sums, the details are what downsampling to that tier throws away,
    and the transform is losslessly invertible, so a tiered store can
    keep coarse sums + details instead of every tier).

    INTEGER-exact end to end: input is the micro-unit bucket SUM (not
    the mean — sums stay integral), and the unnormalized Haar filters
    are pure pairwise sum/difference — no division, no floats, nothing
    to round. Series are truncated to the largest 2^k bucket prefix
    (documented contract; n ≥ 2 or the series emits nothing).

    Output: one row per detail coefficient ``(key, level ℓ∈1..k, idx,
    coef, is_approx=0)`` plus the final approximation ``(key, k, 0,
    total-sum, is_approx=1)``.

    Scale: ONE combinable bucket groupBy then the per-series O(n)
    Arrow kernel behind one group-hash exchange. The oracle replays
    the halving recursion with a list-carrying recursive CTE.
    """
    import numpy as np
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket")
        x = pdf["su"].to_numpy(dtype=np.int64)
        n = len(x)
        if n < 2:
            return pd.DataFrame(
                {"key": [], "level": [], "idx": [], "coef": [], "is_approx": []}
            ).astype(
                {"key": "int64", "level": "int32", "idx": "int64",
                 "coef": "int64", "is_approx": "int32"}
            )
        n2 = 1 << (int(n).bit_length() - 1)
        a = x[:n2]
        key = pdf["key"].iloc[0]
        lv, ix, cf, ap = [], [], [], []
        level = 0
        while len(a) > 1:
            level += 1
            d = a[0::2] - a[1::2]
            a = a[0::2] + a[1::2]
            lv.extend([level] * len(d))
            ix.extend(range(len(d)))
            cf.extend(d.tolist())
            ap.extend([0] * len(d))
        lv.append(level)
        ix.append(0)
        cf.append(int(a[0]))
        ap.append(1)
        return pd.DataFrame(
            {
                "key": np.repeat(key, len(lv)),
                "level": np.asarray(lv, dtype=np.int32),
                "idx": np.asarray(ix, dtype=np.int64),
                "coef": np.asarray(cf, dtype=np.int64),
                "is_approx": np.asarray(ap, dtype=np.int32),
            }
        )

    cells = (
        events.select(
            F.col(key_col).cast("long").alias("key"),
            F.floor(F.col(ts_col).cast("long") / bucket_sec)
            .cast("long")
            .alias("bucket"),
            F.round(F.col(value_col) * 1_000_000).cast("bigint").alias("vu"),
        )
        .groupBy("key", "bucket")
        .agg(F.sum("vu").alias("su"))
    )
    return cells.groupBy("key").applyInPandas(kernel, HAAR_SCHEMA).select(
        F.col("key").alias(key_col), "level", "idx", "coef", "is_approx"
    )


SR_SCHEMA = "key long, bucket long, salience double"


def spectral_residual(
    events: DataFrame,
    bucket_sec: int = 21600,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
    parallelism: int | None = None,
) -> DataFrame:
    """Spectral-Residual saliency per series (Ren et al., KDD 2019 —
    the SR stage of Microsoft's SR-CNN KPI anomaly detector): DFT the
    per-bucket mean series, subtract the 3-tap moving average of the
    LOG amplitude spectrum (the "spectral residual"), re-exponentiate
    with the original phase, and inverse-DFT — the |result| is a
    saliency map that spikes exactly where the series breaks its own
    spectral signature. Emitted as the SPECTRUM-style map (no flag/
    argmax — the periodogram lesson: consumers threshold downstream).

    Cross-engine determinism (numpy-modeled BEFORE the oracle, 0/2104
    r4 mismatches under adversarial sum-order permutation):
    - inputs are micro-unit-exact bucket means (integer sums / integer
      counts — identical doubles both engines);
    - the kernel transforms with ``np.fft.fft``/``ifft`` (O(n log n));
      the SQL oracle keeps the dense ``2π·((k·j) mod n)/n`` DFT. The
      two differ from each other ONLY by floating sum order (an FFT is
      the same sum reassociated), i.e. ~1e-15 relative — exactly the
      noise class the r4 ``round_even(·, 4)`` gate absorbs with ~6
      orders of margin (r6 would not — measured flip risk at 18k
      values). The round-4 dense-DFT kernel and this FFT kernel were
      gated against the SAME oracle; both green on all three datasets;
    - the 3-tap MA is written as the explicit ``(lag+l+lead)/3`` chain
      (window ``avg`` would sum in engine order), edges ``(l+lead)/2``
      / ``(lag+l)/2``.

    Degenerate guards (all integer/identical-double decided): series
    shorter than 4 buckets emit nothing; all-equal series (min(v) ==
    max(v) on identical doubles) emit nothing; a series with an EXACTLY
    zero spectral amplitude is skipped whole (min(amp) > 0 — a
    documented conditioning limit: exact-zero bins arise only for
    arithmetically symmetric inputs, where sum order could disagree
    about exact-zero-ness).

    Scale: ONE combinable bucket groupBy, then the per-series
    O(n log n) FFT Arrow kernel behind one group-hash exchange (n =
    buckets per series, bounded by the retention horizon — at 10^12
    rows the kernel input is the TIER table, not raw events).
    """
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {"key": [], "bucket": [], "salience": []}
    ).astype({"key": "int64", "bucket": "int64", "salience": "float64"})

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket")
        su = pdf["su"].to_numpy(dtype=np.int64)
        c = pdf["c"].to_numpy(dtype=np.int64)
        v = su / (c * 1000000.0)
        n = len(v)
        if n < 4 or v.min() == v.max():
            return empty
        # forward FFT == the dense C@v / -(S@v) DFT reassociated; the
        # inverse (C+iS)@Y is exactly n·ifft(Y), so saliency =
        # |ifft(X·scale)| — same math, O(n log n)
        X = np.fft.fft(v)
        re, im = X.real, X.imag
        amp = np.sqrt(re * re + im * im)
        if np.any(amp == 0):
            return empty
        L = np.log(amp)
        ma = np.empty(n)
        ma[0] = (L[0] + L[1]) / 2
        ma[-1] = (L[-2] + L[-1]) / 2
        ma[1:-1] = (L[:-2] + L[1:-1] + L[2:]) / 3
        scale = np.exp(L - ma) / amp
        Y = np.fft.ifft(X * scale)
        sal = np.round(np.sqrt(Y.real * Y.real + Y.imag * Y.imag), 4) + 0.0
        return pd.DataFrame(
            {
                "key": pdf["key"].to_numpy(),
                "bucket": pdf["bucket"].to_numpy(),
                "salience": sal,
            }
        )

    proj = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.floor(F.col(ts_col).cast("long") / bucket_sec)
        .cast("long")
        .alias("bucket"),
        F.round(F.col(value_col) * 1_000_000).cast("bigint").alias("vu"),
    )
    cells = proj.groupBy("key", "bucket").agg(
        F.sum("vu").alias("su"), F.count("*").alias("c")
    )
    if parallelism is not None:
        # The cell table is small, so AQE coalesces the exchange into
        # the Arrow kernel down to ONE task — and the kernel stage's
        # cost is per-GROUP pandas assembly, not bytes, so that
        # serializes the whole Python stage. An explicit keyed
        # repartition (hash on the SAME key as the groupBy below →
        # ClusteredDistribution satisfied, exchange reused, and AQE
        # honors user-specified numPartitions) spreads the groups.
        # Stays None at real scale where cell volume sizes the
        # exchange correctly.
        cells = cells.repartition(int(parallelism), "key")
    return cells.groupBy("key").applyInPandas(kernel, SR_SCHEMA).select(
        F.col("key").alias(key_col), "bucket", "salience"
    )


def rollup_trend(
    long_df: DataFrame,
    bucket: int,
    key_col: str = "doc_id",
    pos_col: str = "pos",
    value_col: str = "value",
) -> DataFrame:
    """Per-bucket least-squares trend (slope per ts unit + intercept at
    the bucket origin) — the drift/degradation continuous-aggregate
    column. EXPLICIT normal-equation form with a NULLIF'd denominator
    (built-in regr_slope ANSI-divides-by-zero on single-point or
    constant-time buckets); x is recentered to the bucket origin so the
    sums stay small (absolute epoch x would put nΣxx - (Σx)² in the
    catastrophic-cancellation regime at ~1e9 magnitudes).

    One combinable groupBy. Slope/intercept round r6 with −0.0
    normalized; single-point buckets yield NULL slope.
    """
    k, p, v = F.col(key_col), F.col(pos_col), F.col(value_col)
    b = F.floor(p / bucket).cast("long")
    rows = long_df.select(
        k.alias("key"),
        b.alias("bucket"),
        (p - b * bucket).cast("double").alias("x"),
        v.cast("double").alias("y"),
    )
    n = F.count("*").cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxx = F.sum(F.col("x") * F.col("x"))
    sxy = F.sum(F.col("x") * F.col("y"))
    slope = (n * sxy - sx * sy) / F.nullif(n * sxx - sx * sx, F.lit(0.0))
    return (
        rows.groupBy("key", "bucket")
        .agg(
            (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
            (F.round((sy - slope * sx) / n, 6) + F.lit(0.0)).alias("intercept"),
            F.count("*").alias("n"),
        )
        .withColumnRenamed("key", key_col)
    )


def rollup_histogram(
    long_df: DataFrame,
    bucket: int,
    lo: float,
    hi: float,
    n_bins: int = 16,
    key_col: str = "doc_id",
    pos_col: str = "pos",
    value_col: str = "value",
) -> DataFrame:
    """Fixed-bin value histogram per (series, bucket) — the mergeable
    distribution sketch of the continuous-aggregate layer (re-rollup =
    sum counts per bin; exact percentiles within bin resolution at any
    tier). Bin = ``floor((v - lo)/width)`` clamped to the edge bins, so
    out-of-range values land in bins 0 / n_bins-1 (documented; pick
    [lo, hi) from a profile pass). Output is integer-only — no float
    conventions needed. One combinable groupBy.
    """
    k, p, v = F.col(key_col), F.col(pos_col), F.col(value_col)
    width = (float(hi) - float(lo)) / int(n_bins)
    raw = F.floor((v.cast("double") - float(lo)) / width)
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(int(n_bins) - 1)).cast("int")
    return (
        long_df.select(
            k.alias("key"),
            F.floor(p / bucket).cast("long").alias("bucket"),
            bin_.alias("bin"),
        )
        .groupBy("key", "bucket", "bin")
        .agg(F.count("*").alias("cnt"))
        .withColumnRenamed("key", key_col)
    )


def histogram_rerollup(
    long_df: DataFrame,
    fine_bucket: int,
    coarse_bucket: int,
    lo: float,
    hi: float,
    n_bins: int = 16,
    key_col: str = "doc_id",
    pos_col: str = "pos",
    value_col: str = "value",
) -> DataFrame:
    """The RETENTION-TIER path for the histogram column: build tier-1
    bin counts at ``fine_bucket``, then merge to ``coarse_bucket`` by
    summing per bin — tier k+1 reads tier k only, never raw rows.
    Because bin assignment depends only on the value (not the bucket)
    and counts sum associatively, merge==recompute is an exact integer
    identity — the driver oracle recomputes straight from raw at the
    coarse grain and must hash-match. ``coarse_bucket`` must be a
    multiple of ``fine_bucket`` (tier grids nest; non-negative grid).

    Merge shuffle is bounded by coarse-buckets × n_bins per key.
    """
    if coarse_bucket % fine_bucket != 0:
        raise ValueError("coarse_bucket must be a multiple of fine_bucket")
    from .sketch import _floor_div as _sk_floor_div

    factor = coarse_bucket // fine_bucket
    fine = rollup_histogram(
        long_df, fine_bucket, lo, hi, n_bins,
        key_col=key_col, pos_col=pos_col, value_col=value_col,
    )
    return (
        fine.select(
            F.col(key_col),
            _sk_floor_div("bucket", factor).alias("bucket"),
            "bin",
            "cnt",
        )
        .groupBy(key_col, "bucket", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )


def seasonal_decompose(
    events: DataFrame,
    period: int = 24,
    bucket_sec: int = 3600,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Classical additive seasonal decomposition per series, emitting the
    per-phase seasonal index (the moving-average method of classical
    STL-lite, e.g. statsmodels ``seasonal_decompose``): bucket the series
    (mean per ``bucket_sec``), take the centered weighted moving average
    of ``period + 1`` observed buckets as trend (half weights at the
    ends, the standard even-period filter), detrend, then average the
    detrended values per phase ``bucket % period`` and normalize the
    phase means to sum to zero.

    Decomposition is over the OBSERVED bucket sequence (row-based
    windows): with gaps the MA spans non-adjacent buckets — documented
    contract, keeps the operator total-function on sparse series.

    Cross-engine float conventions — the hashed columns are EXACT
    INTEGERS (the rollup_histogram / sdts micro-unit pattern): the ONE
    fp rounding is the r9 bucket mean, immediately fixed to bigint
    nano-units. The trend filter ``(2·Σbu − bu_lo − bu_hi)/(2p)`` and
    the detrended values are then carried UNSCALED as exact bigints
    (``d48 = 2p·bu − trend_numerator``, denominator ``2p·1e9``), so
    window/group sums are order-independent and no r6 lattice boundary
    exists. A float ``seasonal`` convenience column (uncentered phase
    mean of the detrended series) is emitted for humans; hash-gated
    consumers use ``(nb, d48_sum)``.

    Scale: one combinable groupBy to buckets (span-bounded rows per
    key), one window exchange on the key, and the phase groupBy extends
    the window's (key) partitioning prefix — the exchange is reused
    (ClusteredDistribution subset rule, plan-pinned for pack's cumsum).
    """
    if period % 2 != 0:
        raise ValueError("seasonal_decompose: period must be even (centered MA)")
    half = period // 2
    denom = 2 * period  # d48 carries this exact denominator (x 1e9)
    k, t, v = F.col(key_col), F.col(ts_col), F.col(value_col)
    buckets = (
        events.select(
            k.alias("key"),
            F.floor(t.cast("long") / bucket_sec).cast("long").alias("bucket"),
            v.cast("double").alias("v"),
        )
        .groupBy("key", "bucket")
        .agg(
            F.round(F.round(F.avg("v"), 9) * 1e9, 0).cast("long").alias("bu")
        )
    )
    w = Window.partitionBy("key").orderBy("bucket")
    frame = w.rowsBetween(-half, half)
    s2 = 2 * F.sum("bu").over(frame)
    cnt = F.count("bu").over(frame)
    blo = F.lag("bu", half).over(w)
    bhi = F.lead("bu", half).over(w)
    tnum = F.when(cnt == period + 1, s2 - blo - bhi)  # trend = tnum/(2p·1e9)
    detr = buckets.select(
        "key",
        (F.col("bucket") % period).alias("phase"),
        (F.lit(denom) * F.col("bu") - tnum).alias("d48"),
    )
    ph = detr.groupBy("key", "phase").agg(
        F.sum("d48").alias("d48_sum"), F.count("d48").alias("nb")
    )
    return ph.select(
        F.col("key").alias(key_col),
        F.col("phase").cast("bigint").alias("phase"),
        F.col("nb").cast("bigint").alias("nb"),
        F.col("d48_sum").cast("bigint").alias("d48_sum"),
        (F.col("d48_sum") / F.col("nb") / float(denom) / 1e9).alias("seasonal"),
    )


def ccf(
    events: DataFrame,
    type_a: str,
    type_b: str,
    lags: tuple[int, ...] = (0, 1, 2, 3, 4, 5, 6),
    bucket_sec: int = 3600,
    type_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Cross-correlation function between two event-type series — the
    "do errors follow clicks?" observability diagnostic. Buckets both
    types on the same grid (mean value per ``bucket_sec``, r9), aligns
    them per bucket in ONE conditional-aggregate groupBy (no pivot
    join), then computes ``ccf_k = corr(a_t, b_{t+k})`` over buckets
    where both sides are present, with the same ANSI-safe explicit
    co-moment form as :func:`acf` (zero-variance → NULL, not a crash).

    Output: one row per lag — (lag, ccf r6, n_pairs).

    Scale: the groupBy to buckets is combinable and span-bounded (10
    years of hourly buckets is 87k rows regardless of input size); the
    lag window then runs over that aggregate on a single task by
    construction — the same one-series-one-task contract as every
    per-series kernel here.
    """
    t, v = F.col(ts_col), F.col(value_col)
    tc = F.col(type_col)
    buckets = (
        events.where(tc.isin([type_a, type_b]))
        .select(
            F.floor(t.cast("long") / bucket_sec).cast("long").alias("bucket"),
            tc.alias("etype"),
            v.cast("double").alias("v"),
        )
        .groupBy("bucket")
        .agg(
            F.round(F.avg(F.when(F.col("etype") == type_a, F.col("v"))), 9).alias("a"),
            F.round(F.avg(F.when(F.col("etype") == type_b, F.col("v"))), 9).alias("b"),
        )
    )
    w = Window.partitionBy(F.lit(0)).orderBy("bucket")
    for lag in lags:
        buckets = buckets.withColumn(f"_b_{lag}", F.lead("b", lag).over(w))

    def corr_at(lag: int):
        y = F.col(f"_b_{lag}")
        has = F.col("a").isNotNull() & y.isNotNull()
        x = F.when(has, F.col("a"))
        yy = F.when(has, y)
        n = F.count(yy).cast("double")
        sx, sy = F.sum(x), F.sum(yy)
        sxx, syy = F.sum(x * x), F.sum(yy * yy)
        sxy = F.sum(x * yy)
        denom = F.sqrt(F.greatest(n * sxx - sx * sx, F.lit(0.0))) * F.sqrt(
            F.greatest(n * syy - sy * sy, F.lit(0.0))
        )
        return F.struct(
            (F.round((n * sxy - sx * sy) / F.nullif(denom, F.lit(0.0)), 6) + 0.0).alias(
                "r"
            ),
            F.count(yy).cast("bigint").alias("n_pairs"),
        )

    aggs = [corr_at(lag).alias(f"_c_{lag}") for lag in lags]
    one = buckets.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(int(lag)).cast("bigint").alias("lag"),
                F.col(f"_c_{lag}.r").alias("ccf"),
                F.col(f"_c_{lag}.n_pairs").alias("n_pairs"),
            )
            for lag in lags
        ]
    )
    return one.select(F.explode(rows).alias("row")).select("row.*")


LTTB_SCHEMA = "key long, rank long, sec long, y double"


def lttb_downsample(
    events: DataFrame,
    k: int = 20,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013,
    the TimescaleDB ``lttb`` hyperfunction): per series, keep the first
    and last points, split the interior into ``k-2`` equal index
    buckets, and from each bucket pick the point forming the largest
    triangle with the PREVIOUSLY selected point and the NEXT bucket's
    average point (the final bucket anchors on the last point). Series
    with ``n <= k`` pass through unchanged (rank = position).

    The left-anchor recursion is inherently sequential, so it runs as
    an Arrow-batched per-group numpy kernel (``applyInPandas``, the
    EWMA/matrix-profile pattern); everything around it is JVM-side.

    Cross-engine determinism: x is integer seconds (bucket x-means are
    exact int sums / count), the y bucket mean is the ONE fp rounding
    (r9, np.round half-even = DuckDB round_even), the area expression
    ``|(px-ax)(y-py) - (px-x)(ay-py)|`` is written in the same operand
    order on both engines (IEEE-identical on bit-identical inputs), and
    argmax ties break on the first (lowest-index) candidate — on a
    constant series every area is exactly 0 and each bucket yields its
    first point on both engines. Validated numpy-vs-recursive-CTE on
    walks / constants / near-constants / duplicate timestamps before
    the oracle was written (the floss-oracle workflow).

    Scale: one exchange (the group hash); per-series cost is linear and
    a series lives on one task — the same contract as every per-series
    kernel here.
    """
    import numpy as np
    import pandas as pd

    if k < 3:
        raise ValueError("lttb_downsample: k must be >= 3")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["sec", "v"])
        sec = pdf["sec"].to_numpy(dtype=np.int64)
        y = pdf["v"].to_numpy(dtype=np.float64)
        key = pdf["key"].iloc[0]
        n = len(sec)
        if n <= k:
            return pd.DataFrame(
                {"key": key, "rank": np.arange(n), "sec": sec, "y": y}
            )
        nb = k - 2
        i = np.arange(1, n - 1)
        b = (i - 1) * nb // (n - 2)
        ax = np.empty(nb)
        ay = np.empty(nb)
        for bb in range(nb):
            m = b == bb
            ax[bb] = sec[1:-1][m].sum() / m.sum()
            ay[bb] = np.round(y[1:-1][m].mean(), 9)
        anx = np.append(ax[1:], float(sec[n - 1]))
        any_ = np.append(ay[1:], float(y[n - 1]))
        px, py = float(sec[0]), float(y[0])
        picks = [0]
        for bb in range(nb):
            m = b == bb
            xs = sec[1:-1][m].astype(np.float64)
            ys = y[1:-1][m]
            areas = np.abs((px - anx[bb]) * (ys - py) - (px - xs) * (any_[bb] - py))
            idx = int(i[m][int(np.argmax(areas))])
            picks.append(idx)
            px, py = float(sec[idx]), float(y[idx])
        picks.append(n - 1)
        picks = np.asarray(picks)
        return pd.DataFrame(
            {"key": key, "rank": np.arange(k), "sec": sec[picks], "y": y[picks]}
        )

    rows = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("long").alias("sec"),
        F.col(value_col).cast("double").alias("v"),
    )
    return rows.groupBy("key").applyInPandas(kernel, LTTB_SCHEMA).select(
        F.col("key").alias(key_col),
        "rank",
        F.col("sec").alias(ts_col),
        F.col("y").alias(value_col),
    )


def hampel_outliers(
    events: DataFrame,
    bucket_sec: int = 21600,
    n_sigmas: float = 3.0,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Hampel/MAD robust outlier counts per (series, bucket) — the
    median-based anomaly detector that, unlike z-scores, a single spike
    cannot mask: a point is an outlier when
    ``|v - median| > n_sigmas * 1.4826 * MAD``.

    Emits per (key, bucket): the r9 median, the r9 MAD, n, and the
    outlier count. With MAD = 0 (over half the bucket identical) any
    deviation from the median flags — the standard Hampel degeneracy,
    deterministic on both engines (exact comparison against 0).

    Determinism: median and MAD round r9 (the two engines interpolate
    even-count medians with different expression orders, ~1 ulp), after
    which the threshold comparison is IEEE-identical. Output floats are
    the r9 values themselves — no further rounding.

    Scale: ONE exchange — both percentile windows and the final groupBy
    share the (key, bucket) hash (the window partition IS the group
    key). Bucket cardinality is span-bounded per key.
    """
    k, t, v = F.col(key_col), F.col(ts_col), F.col(value_col)
    rows = events.select(
        k.alias("key"),
        F.floor(t.cast("long") / bucket_sec).cast("long").alias("bucket"),
        v.cast("double").alias("v"),
    )
    w = Window.partitionBy("key", "bucket")
    med = rows.withColumn("med", F.round(F.percentile("v", F.lit(0.5)).over(w), 9))
    mad = med.withColumn(
        "mad",
        F.round(F.percentile(F.abs(F.col("v") - F.col("med")), F.lit(0.5)).over(w), 9),
    )
    thr = F.lit(float(n_sigmas)) * F.lit(1.4826) * F.col("mad")
    out = F.when(F.abs(F.col("v") - F.col("med")) > thr, 1).otherwise(0)
    return (
        mad.groupBy("key", "bucket")
        .agg(
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.count("v").alias("n"),
            F.sum(out).alias("n_outliers"),
        )
        .select(
            F.col("key").alias(key_col),
            F.col("bucket").cast("bigint").alias("bucket"),
            "med",
            "mad",
            F.col("n").cast("bigint").alias("n"),
            F.col("n_outliers").cast("bigint").alias("n_outliers"),
        )
    )


def heavy_hitters(
    events: DataFrame,
    top: int = 3,
    bucket_sec: int = 21600,
    item_col: str = "event_type",
    ts_col: str = "sec",
) -> DataFrame:
    """Top-N heavy hitters per time bucket (exact counts): the
    "which event types dominate each window" observability rollup.
    Integer-only output with a deterministic tie-break (count DESC,
    item ASC).

    Scale: the (bucket, item) count is one combinable groupBy; the
    per-bucket top-N is a WindowGroupLimit window over the aggregate
    (cardinality = distinct items per bucket, never raw rows). At
    hot-item skew the partial aggregation absorbs the hot key map-side.
    """
    t = F.col(ts_col)
    counts = (
        events.select(
            F.floor(t.cast("long") / bucket_sec).cast("long").alias("bucket"),
            F.col(item_col).alias("item"),
        )
        .groupBy("bucket", "item")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("bucket").orderBy(F.col("cnt").desc(), F.col("item").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("rank").cast("bigint").alias("rank"),
            F.col("item").alias(item_col),
            F.col("cnt").cast("bigint").alias("cnt"),
        )
    )


def theil_sen_trend(
    events: DataFrame,
    bucket_sec: int = 21600,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
    grid_sec: int | None = None,
) -> DataFrame:
    """Theil–Sen robust trend per (series, bucket): slope = median of all
    pairwise slopes ``(v_j - v_i)/(x_j - x_i)`` over distinct-x pairs,
    intercept = median of ``v - slope·x`` — the estimator that tolerates
    ~29% outliers where least squares (``rollup_trend``) breaks. x is
    recentered to the bucket origin (``sec - bucket·bucket_sec``):
    with absolute epoch x the intercept residual ``v - slope·x`` is
    catastrophic cancellation at ~1e9 magnitudes, the rollup_trend
    lesson. Buckets with no distinct-x pair (single point, all
    simultaneous) emit NULL slope/intercept with their count.

    Determinism: both medians are the LOWER median — the element at
    sorted index ``(n-1)//2`` (DuckDB ``quantile_disc(0.5)``) — an
    actual member of the multiset, so no interpolation expression
    exists to differ per engine and NO rounding is needed anywhere
    (the first interpolated-median formulation flipped an r9 boundary
    at sf0.001: ``(a+b)/2`` vs ``a+(b-a)·g`` differ by 1 ulp). Pair
    slopes and residuals are exact-operand IEEE on both engines.

    Scale: with ``grid_sec=None`` the pair self-join is O(m²) per
    (key, bucket) — by contract a per-bucket robust fit over BOUNDED
    buckets (the same contract as exact per-bucket percentiles; use
    rollup_trend for unbounded buckets). With ``grid_sec`` set, raw
    rows are first folded to per-sub-bucket micro-unit mean cells (one
    combinable groupBy), and the pair join runs over that BOUNDED grid
    — at most ``bucket_sec/grid_sec`` rows per bucket NO MATTER how hot
    the bucket (the kendall_pairs tier-grid shape), so one hot key
    cannot go quadratic. The grid estimator is Theil–Sen over the
    sub-bucket mean series (x = sub-bucket origin offset), a documented
    approximation of the raw-pair fit. All joins/aggs hash on
    (key, bucket) — the exchange is planned once per side and reused
    through both median passes.

    Grid-path determinism: cell means divide identical integers
    (micro-unit sums / counts) by the same constant on both engines;
    x is an exact small integer as double. Downstream is the shared
    exact machinery.
    """
    k, t, v = F.col(key_col), F.col(ts_col), F.col(value_col)
    if grid_sec is not None:
        gs = int(grid_sec)
        base = events.select(
            k.alias("key"),
            F.floor(t.cast("long") / bucket_sec).cast("long").alias("bucket"),
            (t.cast("long")
             - F.floor(t.cast("long") / bucket_sec) * bucket_sec)
            .cast("long").alias("off"),
            F.round(v.cast("double") * 1_000_000).cast("bigint").alias("vu"),
        ).withColumn("g", F.expr(f"off div {gs}"))
        cells = base.groupBy("key", "bucket", "g").agg(
            F.sum("vu").alias("su"), F.count("*").cast("bigint").alias("c")
        )
        rows = cells.select(
            "key", "bucket",
            (F.col("g") * gs).cast("double").alias("x"),
            (F.col("su") / (F.col("c") * F.lit(1000000.0))).alias("v"),
        )
    else:
        rows = events.select(
            k.alias("key"),
            F.floor(t.cast("long") / bucket_sec).cast("long").alias("bucket"),
            (t.cast("long")
             - F.floor(t.cast("long") / bucket_sec) * bucket_sec)
            .cast("double")
            .alias("x"),
            v.cast("double").alias("v"),
        )
    a, b = rows.alias("a"), rows.alias("b")
    pairs = a.join(
        b,
        (F.col("a.key") == F.col("b.key"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.key").alias("key"),
        F.col("a.bucket").alias("bucket"),
        ((F.col("b.v") - F.col("a.v")) / (F.col("b.x") - F.col("a.x"))).alias("s"),
    )
    def lower_median(col: str) -> Column:
        # collect_list drops NULLs; a pairless bucket (slope NULL) yields an
        # empty array and element_at(., 0) CRASHES under ANSI — guard to NULL.
        arr = F.array_sort(F.collect_list(col))
        idx = F.floor((F.size(arr) + 1) / 2).cast("int")
        return F.when(F.size(arr) > 0, F.element_at(arr, idx))

    sl = pairs.groupBy("key", "bucket").agg(lower_median("s").alias("slope"))
    resid = rows.join(sl, ["key", "bucket"], "left").select(
        "key", "bucket", (F.col("v") - F.col("slope") * F.col("x")).alias("r")
    )
    return (
        rows.groupBy("key", "bucket")
        .agg(F.count("v").alias("n"))
        .join(
            resid.groupBy("key", "bucket").agg(
                lower_median("r").alias("intercept")
            ),
            ["key", "bucket"],
        )
        .join(sl, ["key", "bucket"], "left")
        .select(
            F.col("key").alias(key_col),
            F.col("bucket").cast("bigint").alias("bucket"),
            "slope",
            "intercept",
            F.col("n").cast("bigint").alias("n"),
        )
    )


def cusum_drift(
    events: DataFrame,
    target: float,
    slack: float = 0.0,
    threshold: float = 5.0,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Two-sided CUSUM drift detection per series (Page 1954, the
    classic SPC/observability change detector): with ``d⁺ = v − target
    − slack`` and ``d⁻ = target − slack − v``, the recurrences
    ``s⁺ = max(0, s⁺ + d⁺)`` / ``s⁻ = max(0, s⁻ + d⁻)`` accumulate
    sustained drift above/below the target and an alarm fires when
    either side exceeds ``threshold``. Instead of a sequential
    recurrence, both sides use the exact prefix-sum identity
    ``s_i = R_i − min(0, min_{j≤i} R_j)`` (R = running sum of d), so
    the whole operator is two window aggregates over ONE
    (key)-partitioned sort — no Python, no recursion.

    Cross-engine exactness: values are converted to integer
    MICRO-UNITS (``round(v·1e6)`` — Spark round and DuckDB round are
    both half-away on doubles) so every running sum is exact integer
    arithmetic; the emitted doubles divide the same integers by the
    same constant on both engines. The sdts integer-micro-unit lesson.

    Scale: one exchange on the series key, one sort by (sec, value) —
    rows with identical (key, sec, value) are interchangeable so the
    output multiset is deterministic. A series lives on one task (the
    per-series kernel contract everywhere in this engine).
    """
    scale = 1_000_000
    tu = int(round(target * scale))
    su = int(round(slack * scale))
    thr_u = int(round(threshold * scale))
    rows = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("long").alias("sec"),
        F.round(F.col(value_col).cast("double") * scale).cast("long").alias("vu"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy("sec", "vu")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r_pos = F.sum(F.col("vu") - F.lit(tu + su)).over(w)
    r_neg = F.sum(F.lit(tu - su) - F.col("vu")).over(w)
    s_pos = r_pos - F.least(F.lit(0), F.min(r_pos).over(w))
    s_neg = r_neg - F.least(F.lit(0), F.min(r_neg).over(w))
    return rows.select(
        F.col("key").alias(key_col),
        F.col("sec").alias(ts_col),
        (s_pos / scale).alias("cusum_pos"),
        (s_neg / scale).alias("cusum_neg"),
        ((s_pos > thr_u) | (s_neg > thr_u)).alias("alarm"),
    )


def mann_kendall(
    events: DataFrame,
    bucket_sec: int = 21600,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
    id_col: str = "event_id",
    grid_sec: int | None = None,
) -> DataFrame:
    """Mann–Kendall trend test per (series, bucket): ``S = Σ_{i<j}
    sign(v_j − v_i)`` over all C(n,2) pairs in time order, the
    tie-corrected variance ``Var(S) = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5))
    / 18`` (t = per-tied-value counts), the continuity-corrected
    normal statistic ``z = (S ∓ 1)/√Var(S)``, and Kendall's
    ``τ_a = S / (n(n−1)/2)`` — the non-parametric companion to
    ``theil_sen_trend`` (is there a monotone trend at all, before
    asking for its slope).

    Exactness: values compare as integer micro-units so sign() is
    exact; S, n, and both tie sums are integer aggregates; z and τ are
    then single identical float expressions over identical integers on
    both engines — no rounding anywhere. Pair order is the TOTAL order
    (sec, vu, id) — equal-time pairs are ordered by value (sign ≥ 0 is
    then exact 0 for true ties), never arbitrarily.

    Scale: with ``grid_sec=None`` the pair join is O(m²) per
    (key, bucket) — the same bounded-bucket contract as theil_sen_trend
    / exact percentiles. With ``grid_sec`` set, raw rows fold to
    per-sub-bucket cells first (one combinable groupBy) and the pair
    join runs over that BOUNDED grid (≤ ``bucket_sec/grid_sec`` rows
    per bucket however hot the bucket — the kendall_pairs tier-grid
    shape). The grid statistic is MK over the sub-bucket ROUNDED
    micro-unit mean series (sub-bucket index as time — distinct per
    cell, so no time ties), a documented approximation: rounding the
    mean to integer micro-units keeps every sign test and tie group
    exact-integer on both engines (Spark round and DuckDB round are
    both half-away on doubles). Every join/agg hashes on (key, bucket).
    z is NULL when Var(S) = 0 (n < 2 or all values tied), τ NULL when
    n < 2.
    """
    scale = 1_000_000
    if grid_sec is not None:
        gs = int(grid_sec)
        t = F.col(ts_col).cast("long")
        base = events.select(
            F.col(key_col).cast("long").alias("key"),
            F.floor(t / bucket_sec).cast("long").alias("bucket"),
            (t - F.floor(t / bucket_sec) * bucket_sec)
            .cast("long").alias("off"),
            F.round(F.col(value_col).cast("double") * scale)
            .cast("long").alias("vu_raw"),
        ).withColumn("g", F.expr(f"off div {gs}"))
        cells = base.groupBy("key", "bucket", "g").agg(
            F.sum("vu_raw").alias("su"), F.count("*").cast("bigint").alias("c")
        )
        rows = cells.select(
            "key", "bucket",
            F.col("g").cast("long").alias("sec"),
            F.round(F.col("su") / F.col("c")).cast("long").alias("vu"),
            F.col("g").cast("long").alias("rid"),
        )
    else:
        rows = events.select(
            F.col(key_col).cast("long").alias("key"),
            F.floor(F.col(ts_col).cast("long") / bucket_sec).cast("long").alias("bucket"),
            F.col(ts_col).cast("long").alias("sec"),
            F.round(F.col(value_col).cast("double") * scale).cast("long").alias("vu"),
            F.col(id_col).cast("long").alias("rid"),
        )
    a, b = rows.alias("a"), rows.alias("b")
    before = (F.col("a.sec") < F.col("b.sec")) | (
        (F.col("a.sec") == F.col("b.sec"))
        & (
            (F.col("a.vu") < F.col("b.vu"))
            | ((F.col("a.vu") == F.col("b.vu")) & (F.col("a.rid") < F.col("b.rid")))
        )
    )
    s_agg = (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & before,
        )
        .groupBy(F.col("a.key").alias("key"), F.col("a.bucket").alias("bucket"))
        .agg(
            F.sum(F.signum((F.col("b.vu") - F.col("a.vu")).cast("double")))
            .cast("long")
            .alias("s")
        )
    )
    ties = (
        rows.groupBy("key", "bucket", "vu")
        .agg(F.count("*").alias("t"))
        .groupBy("key", "bucket")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).alias("tie_sum")
        )
    )
    n_agg = rows.groupBy("key", "bucket").agg(F.count("*").alias("n"))
    n, s = F.col("n"), F.coalesce(F.col("s"), F.lit(0))
    var_s = (n * (n - 1) * (2 * n + 5) - F.col("tie_sum")) / F.lit(18.0)
    z = F.when(
        var_s > 0,
        (s - F.signum(s.cast("double")).cast("long")) / F.sqrt(var_s),
    )
    tau = F.when(n >= 2, s / (n * (n - 1) / F.lit(2.0)))
    return (
        n_agg.join(ties, ["key", "bucket"])
        .join(s_agg, ["key", "bucket"], "left")
        .select(
            F.col("key").alias(key_col),
            F.col("bucket").cast("bigint").alias("bucket"),
            n.cast("bigint").alias("n"),
            s.cast("bigint").alias("s"),
            var_s.alias("var_s"),
            z.alias("z"),
            tau.alias("tau"),
        )
    )


def histogram_quantile(
    hist: DataFrame,
    q: float,
    lo: float,
    hi: float,
    n_bins: int = 16,
    key_col: str = "doc_id",
) -> DataFrame:
    """PromQL ``histogram_quantile``(φ) over ``rollup_histogram``
    output (key, bucket, bin, cnt): cumulative counts per (key, bucket)
    in bin order, pick the first bin whose cumulative count reaches
    ``rank = φ·total``, and linearly interpolate inside it —
    ``lo + bin·width + (rank − cum_prev)/cnt · width``. This is the
    quantile estimator that works at ANY retention tier, because the
    histogram is the mergeable sketch (re-rolled bins sum) while exact
    ``rollup_percentiles`` needs the raw rows.

    Exactness: bins/counts/cum are integers; rank and the lerp are
    single fixed-operand-order float expressions over exact integers on
    both engines — NO rounding anywhere (width must be chosen exactly
    representable, e.g. (100−0)/16 = 6.25). φ ∈ (0, 1].

    Scale: one window + one filter over the (key, bucket)-hashed sort —
    a single exchange over data already collapsed to ≤ n_bins rows per
    bucket by the histogram.
    """
    width = (float(hi) - float(lo)) / int(n_bins)
    w = Window.partitionBy(key_col, "bucket").orderBy("bin")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = F.sum("cnt").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = hist.select(
        key_col,
        "bucket",
        "bin",
        "cnt",
        cum.alias("cum"),
        F.sum("cnt").over(wall).alias("total"),
    )
    rank = F.lit(float(q)) * F.col("total")
    prev = F.col("cum") - F.col("cnt")
    est = (
        F.lit(float(lo))
        + F.col("bin") * F.lit(width)
        + (rank - prev) / F.col("cnt") * F.lit(width)
    )
    return rows.where((F.col("cum") >= rank) & (prev < rank)).select(
        key_col,
        "bucket",
        F.col("total").cast("bigint").alias("total"),
        F.col("bin").alias("qbin"),
        est.alias("qvalue"),
    )


def interval_coalesce(
    intervals: DataFrame,
    key_col: str = "user_id",
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """Merge overlapping/touching intervals per key (the uptime /
    coverage primitive): sort by (start, end), track the running max of
    prior ends, start a new island whenever ``start > max(prior ends)``
    (equal endpoints TOUCH and merge — [1,3]+[3,5] → [1,5]), and roll
    each island up to (merged start, merged end, n_merged).

    Integer-only (epoch seconds) — no float conventions. The island
    groupBy extends the window's key hash-partitioning prefix, so the
    whole operator is ONE exchange (the sessionize pattern,
    plan-pinned).
    """
    w = Window.partitionBy("key").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    rows = intervals.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(start_col).cast("long").alias("s"),
        F.col(end_col).cast("long").alias("e"),
    )
    islands = rows.select(
        "key",
        "s",
        "e",
        F.sum(
            F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    return (
        islands.groupBy("key", "island")
        .agg(
            F.min("s").alias("start"),
            F.max("e").alias("end"),
            F.count("*").cast("bigint").alias("n_merged"),
        )
        .select(
            F.col("key").alias(key_col),
            F.col("island").cast("bigint").alias("island"),
            "start",
            "end",
            "n_merged",
        )
    )


def sliding_rollup(
    events: DataFrame,
    bucket_sec: int = 3600,
    trail_buckets: int = 24,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Trailing-window aggregates per (series, bucket) — the PromQL
    ``avg_over_time(x[24h])`` / hopping-window shape: first collapse to
    tier-1 buckets (one combinable groupBy), then a ``rangeBetween``
    window over the LAST ``trail_buckets`` buckets gives the trailing
    sum/avg/min/max/count per emitted bucket. Range (not rows) framing,
    so missing buckets shorten the window instead of silently stretching
    it over history.

    Cross-engine exactness: bucket sums are converted to integer
    micro-units BEFORE the sliding window — DuckDB evaluates sliding
    window aggregates with a segment tree (association order differs
    from Spark's running accumulation), so float window sums are not
    reproducible but integer sums are order-independent (the
    seasonal_decompose lesson). The trailing average divides the same
    integers by the same integer count on both engines.

    Scale: the tier-1 groupBy shuffles raw rows once on (key, bucket);
    the window re-shuffles the ALREADY-COLLAPSED tier rows on key — the
    second exchange moves one row per bucket, not raw data.
    """
    scale = 1_000_000
    tier = (
        events.select(
            F.col(key_col).cast("long").alias("key"),
            F.floor(F.col(ts_col).cast("long") / bucket_sec)
            .cast("long")
            .alias("bucket"),
            F.round(F.col(value_col).cast("double") * scale)
            .cast("long")
            .alias("vu"),
        )
        .groupBy("key", "bucket")
        .agg(
            F.sum("vu").alias("sum_u"),
            F.count("*").alias("cnt"),
            F.min("vu").alias("min_u"),
            F.max("vu").alias("max_u"),
        )
    )
    w = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rangeBetween(-(trail_buckets - 1), 0)
    )
    return tier.select(
        F.col("key").alias(key_col),
        "bucket",
        F.sum("cnt").over(w).cast("bigint").alias("trail_cnt"),
        (F.sum("sum_u").over(w) / scale).alias("trail_sum"),
        (
            F.sum("sum_u").over(w).cast("double")
            / (F.sum("cnt").over(w) * F.lit(scale)).cast("double")
        ).alias("trail_avg"),
        (F.min("min_u").over(w) / scale).alias("trail_min"),
        (F.max("max_u").over(w) / scale).alias("trail_max"),
    )


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    grain_sec: int = 3600,
    key_col: str = "user_id",
    ts_col: str = "sec",
    start_col: str = "start",
    end_col: str = "end",
    iv_id_col: str = "island",
    half_open: bool = True,
) -> DataFrame:
    """Containment join: assign each event to every interval of its key
    that covers its timestamp (``start ≤ t < end``; set
    ``half_open=False`` for inclusive ends). This is the range join
    that naively BNLJ-explodes at scale; the scale path here is the
    standard BUCKETIZED formulation: explode each interval into the
    coarse ``grain_sec`` buckets it touches, map each event to its one
    bucket, equi-join on (key, bucket), then apply the exact range
    predicate as a post-filter. Shuffle = |events| + Σ interval
    lengths / grain — never |events|·|intervals|.

    ``grain_sec`` trades explode fan-out (long intervals × fine grain)
    against join selectivity (coarse grain → more false candidates
    filtered after the join); pick it near the typical interval length.
    The DuckDB oracle is deliberately the NAIVE range join — an
    independent formulation, so the gate checks the bucketization is
    lossless (an interval spanning a bucket boundary must appear in
    every touched bucket: ``floor(s/g) .. floor((e−1)/g)`` half-open,
    ``floor(e/g)`` inclusive).

    Output: one row per (event, covering interval) — integer-only.
    """
    g = int(grain_sec)
    ev = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("long").alias("t"),
        F.floor(F.col(ts_col).cast("long") / g).cast("long").alias("b"),
    )
    last = (
        F.floor(((F.col("e") - 1) / g)) if half_open else F.floor(F.col("e") / g)
    ).cast("long")
    iv = (
        intervals.select(
            F.col(key_col).cast("long").alias("key"),
            F.col(start_col).cast("long").alias("s"),
            F.col(end_col).cast("long").alias("e"),
            F.col(iv_id_col).cast("long").alias("iv_id"),
        )
        .select(
            "key",
            "s",
            "e",
            "iv_id",
            F.explode(
                F.sequence(F.floor(F.col("s") / g).cast("long"), last)
            ).alias("b"),
        )
    )
    cover = F.col("t") < F.col("e") if half_open else F.col("t") <= F.col("e")
    return (
        ev.join(iv, ["key", "b"])
        .where((F.col("t") >= F.col("s")) & cover)
        .select(
            F.col("key").alias(key_col),
            F.col("t").alias(ts_col),
            F.col("iv_id").alias(iv_id_col),
            "s",
            "e",
        )
    )


HOLT_SCHEMA = "key long, sec long, level double, trend double, forecast double"


def holt_smooth(
    events: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.25,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Holt double exponential smoothing per series (level + trend —
    the forecasting step up from ``ewma_smooth``): ``l_0 = v_0,
    b_0 = v_1 − v_0``, then ``l_i = α·v_i + (1−α)(l_{i−1} + b_{i−1})``,
    ``b_i = β(l_i − l_{i−1}) + (1−β)·b_{i−1}``, emitting the one-step
    forecast ``l_i + b_i`` per point. Series shorter than 2 points emit
    nothing (no trend to initialize).

    Sequential recurrence → Arrow per-group numpy kernel (the ewma
    pattern); one group-hash exchange. Cross-engine: the DEFAULT α=0.5,
    β=0.25 are exactly representable, so every recurrence step is the
    same correctly-rounded IEEE chain on both engines when the oracle's
    recursive CTE writes the operands in the same order — the output is
    deliberately UNROUNDED (bit-exact gate; measured: an r6 rounding
    BREAKS parity instead of helping, because dyadic recurrences land
    values ~1 ulp off .5e-6 decimal boundaries where np.round and
    DuckDB round_even disagree). Callers passing non-dyadic α/β lose
    the cross-engine bit guarantee; only -0.0 is normalized.
    """
    import numpy as np
    import pandas as pd

    a, bt = float(alpha), float(beta)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["sec", "v"])
        x = pdf["v"].to_numpy(dtype=np.float64)
        n = len(x)
        if n < 2:
            return pd.DataFrame(
                {"key": [], "sec": [], "level": [], "trend": [], "forecast": []}
            ).astype({"key": "int64", "sec": "int64"})
        lev = np.empty(n)
        tr = np.empty(n)
        lev[0], tr[0] = x[0], x[1] - x[0]
        for i in range(1, n):
            lev[i] = a * x[i] + (1.0 - a) * (lev[i - 1] + tr[i - 1])
            tr[i] = bt * (lev[i] - lev[i - 1]) + (1.0 - bt) * tr[i - 1]
        return pd.DataFrame(
            {
                "key": pdf["key"].to_numpy(),
                "sec": pdf["sec"].to_numpy(),
                "level": lev + 0.0,
                "trend": tr + 0.0,
                "forecast": (lev + tr) + 0.0,
            }
        )

    rows = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("long").alias("sec"),
        F.col(value_col).cast("double").alias("v"),
    )
    return rows.groupBy("key").applyInPandas(kernel, HOLT_SCHEMA).select(
        F.col("key").alias(key_col), F.col("sec").alias(ts_col),
        "level", "trend", "forecast",
    )


HW_SCHEMA = "key long, sec long, level double, trend double, seasonal double"


def holt_winters(
    events: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.5,
    period: int = 24,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Holt–Winters ADDITIVE seasonal smoothing per series — the third
    rung of the exponential family (``ewma_smooth`` → ``holt_smooth`` →
    here), adding a per-phase seasonal state vector. Phase is the
    calendar hour ``(sec // 3600) % period`` (period=24 → daily cycle),
    so irregular arrival just means a phase repeats or is skipped — the
    recurrence is over CONSECUTIVE observations, not a regular grid.

    Deterministic init convention (documented, not estimated): ``l_0 =
    v_0``, ``b_0 = v_1 − v_0``, seasonal vector all-zero — the cold
    state an online smoother actually starts from; one ``period``'s
    worth of points burns it in. Step i ≥ 1, with ``sp = s[phase_i]``:

        l_i = α(v_i − sp) + (1−α)(l_{i−1} + b_{i−1})
        b_i = β(l_i − l_{i−1}) + (1−β)·b_{i−1}
        s[phase_i] = γ(v_i − l_i) + (1−γ)·sp        (emitted)

    Series shorter than 2 points emit nothing (holt convention).

    Cross-engine: defaults α=0.5, β=0.25, γ=0.5 are dyadic, so every
    step is the identical correctly-rounded IEEE chain; the oracle's
    recursive CTE carries the seasonal state as a DOUBLE list (explicit
    casts — DuckDB's bare 0.0 literals are DECIMAL, which would break
    parity) updated by 1-based slice splicing, and the output is
    deliberately UNROUNDED (the holt lesson: r6 rounding lands dyadic
    values 1 ulp off .5e-6 boundaries and BREAKS an otherwise bit-exact
    chain). Only −0.0 is normalized.

    Scale: one group-hash exchange into the Arrow kernel; state is
    O(period) per series. Same contract as holt/ewma.
    """
    import numpy as np
    import pandas as pd

    a, bt, g, p = float(alpha), float(beta), float(gamma), int(period)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["sec", "v"])
        x = pdf["v"].to_numpy(dtype=np.float64)
        ph = pdf["ph"].to_numpy(dtype=np.int64)
        n = len(x)
        if n < 2:
            return pd.DataFrame(
                {"key": [], "sec": [], "level": [], "trend": [], "seasonal": []}
            ).astype({"key": "int64", "sec": "int64"})
        lev = np.empty(n)
        tr = np.empty(n)
        se = np.empty(n)
        s = np.zeros(p)
        lev[0], tr[0] = x[0], x[1] - x[0]
        se[0] = g * (x[0] - lev[0]) + (1.0 - g) * s[ph[0]]
        s[ph[0]] = se[0]
        for i in range(1, n):
            sp = s[ph[i]]
            lev[i] = a * (x[i] - sp) + (1.0 - a) * (lev[i - 1] + tr[i - 1])
            tr[i] = bt * (lev[i] - lev[i - 1]) + (1.0 - bt) * tr[i - 1]
            se[i] = g * (x[i] - lev[i]) + (1.0 - g) * sp
            s[ph[i]] = se[i]
        return pd.DataFrame(
            {
                "key": pdf["key"].to_numpy(),
                "sec": pdf["sec"].to_numpy(),
                "level": lev + 0.0,
                "trend": tr + 0.0,
                "seasonal": se + 0.0,
            }
        )

    rows = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("long").alias("sec"),
        F.col(value_col).cast("double").alias("v"),
    ).withColumn("ph", F.expr("(sec div 3600) % " + str(p)).cast("int"))
    return rows.groupBy("key").applyInPandas(kernel, HW_SCHEMA).select(
        F.col("key").alias(key_col), F.col("sec").alias(ts_col),
        "level", "trend", "seasonal",
    )


def seasonality_profile(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """The "typical week" heatmap: per (series, day-of-week 0=Monday,
    hour-of-day) — event count, mean value, and the share of the
    series' total events landing in that cell. The grouping companion
    of ``seasonal_decompose`` (phase means over calendar cells instead
    of period phases); feeds dashboards and the seasonal-baseline
    anomaly checks.

    Exactness: dow/hour derive from integer epoch arithmetic (epoch 0 =
    Thursday, so ``dow = (sec/86400 + 3) % 7`` — no timezone/locale
    functions, which differ per engine); the mean divides an integer
    micro-unit sum by the integer count, and the share divides two
    integer counts — single identical float expressions, no rounding.

    Scale: cells are bounded at series × 168; ONE combinable groupBy
    absorbs everything map-side, plus a key-bounded share join.
    """
    scale = 1_000_000
    rows = events.select(
        F.col(key_col).alias("key"),
        ((F.floor(F.col(ts_col).cast("long") / 86400) + 3) % 7)
        .cast("int")
        .alias("dow"),
        F.floor((F.col(ts_col).cast("long") % 86400) / 3600)
        .cast("int")
        .alias("hour"),
        F.round(F.col(value_col).cast("double") * scale)
        .cast("long")
        .alias("vu"),
    )
    cells = rows.groupBy("key", "dow", "hour").agg(
        F.count("*").alias("cnt"), F.sum("vu").alias("sum_u")
    )
    totals = cells.groupBy("key").agg(F.sum("cnt").alias("total"))
    return cells.join(totals, "key").select(
        F.col("key").alias(key_col),
        "dow",
        "hour",
        F.col("cnt").cast("bigint").alias("cnt"),
        (F.col("sum_u").cast("double") / (F.col("cnt") * F.lit(scale)).cast("double"))
        .alias("mean_value"),
        (F.col("cnt").cast("double") / F.col("total").cast("double")).alias("share"),
    )


def seasonal_anomaly(
    events: DataFrame,
    threshold: float = 3.0,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Calendar-seasonal anomaly check ("is this point unusual FOR a
    Monday 02:00?"): each event compares against the LEAVE-ONE-OUT mean
    of its series' other events in the same (day-of-week, hour-of-day)
    cell, flagging ``|v − loo_mean| > threshold``. The seasonal
    companion of ``hampel_outliers`` (which deviates from the local
    time bucket, not the calendar cell).

    Exactness: the flag is decided ENTIRELY in integers — with
    micro-units, ``|vu·(cnt−1) − (sum_u − vu)| > thr_u·(cnt−1)`` is the
    cross-multiplied form of the float rule (the sdts integer-units
    lesson), so no float comparison can flip per engine. The emitted
    ``loo_mean``/``deviation`` doubles divide the same integers. Cells
    with one observation have no baseline → NULL mean, flag false.

    Scale: one combinable groupBy to (series × 168) bounded cells, then
    a cell-keyed join back to the rows — the small side is
    vocab-bounded and broadcastable.
    """
    scale = 1_000_000
    thr_u = int(round(threshold * scale))
    rows = events.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).cast("long").alias("sec"),
        ((F.floor(F.col(ts_col).cast("long") / 86400) + 3) % 7)
        .cast("int")
        .alias("dow"),
        F.floor((F.col(ts_col).cast("long") % 86400) / 3600)
        .cast("int")
        .alias("hour"),
        F.round(F.col(value_col).cast("double") * scale)
        .cast("long")
        .alias("vu"),
    )
    cells = rows.groupBy("key", "dow", "hour").agg(
        F.count("*").alias("cnt"), F.sum("vu").alias("sum_u")
    )
    j = rows.join(cells, ["key", "dow", "hour"])
    rest = F.col("sum_u") - F.col("vu")
    n1 = F.col("cnt") - 1
    loo = F.when(n1 > 0, rest.cast("double") / (n1 * F.lit(scale)).cast("double"))
    dev = F.when(n1 > 0, F.col("vu") / F.lit(float(scale)) - loo)
    flag = F.when(
        n1 > 0,
        F.abs(F.col("vu") * n1 - rest) > F.lit(thr_u) * n1,
    ).otherwise(F.lit(False))
    return j.select(
        F.col("key").alias(key_col),
        "sec",
        "dow",
        "hour",
        F.col("cnt").cast("bigint").alias("cell_cnt"),
        loo.alias("loo_mean"),
        dev.alias("deviation"),
        flag.alias("anomaly"),
    )


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    window_sec: int | None = None,
    key_col: str = "user_id",
    ts_col: str = "sec",
    type_col: str = "event_type",
) -> DataFrame:
    """Funnel analysis per user: the classic ordered-sequence
    conversion — step 1 is the user's FIRST event of ``steps[0]``; step
    k+1 is the first ``steps[k]`` event AT OR AFTER the step-k time
    (and, with ``window_sec``, within that window of step 1). Emits one
    row per user who entered the funnel: every step timestamp
    (NULL once the chain breaks) and ``steps_reached``.

    Greedy-first-occurrence is the standard semantics (Amplitude/
    Mixpanel "first touch"); ties at the same second count — an event
    at exactly the previous step's timestamp qualifies (>=), so a
    single multi-type second can complete several steps.

    Exactness: pure integer min-aggregates — nothing to round.

    Scale: step k is a conditional min over the user's rows joined back
    on the user key; all k aggregates and joins hash on the same key,
    so the chain reuses one partitioning (k is the funnel length, a
    small constant). Skewed users cost one task — the per-series
    contract.
    """
    rows = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("long").alias("sec"),
        F.col(type_col).alias("etype"),
    )
    cur = (
        rows.where(F.col("etype") == steps[0])
        .groupBy("key")
        .agg(F.min("sec").alias("t1"))
    )
    for k, step in enumerate(steps[1:], start=2):
        cond = (F.col("etype") == step) & (F.col("sec") >= F.col(f"t{k - 1}"))
        if window_sec is not None:
            cond = cond & (F.col("sec") <= F.col("t1") + int(window_sec))
        nxt = (
            rows.join(cur, "key")
            .where(cond)
            .groupBy("key")
            .agg(F.min("sec").alias(f"t{k}"))
        )
        cur = cur.join(nxt, "key", "left")
    reached = sum(
        (F.col(f"t{k}").isNotNull().cast("int") for k in range(2, len(steps) + 1)),
        F.lit(1),
    )
    return cur.select(
        F.col("key").alias(key_col),
        *[F.col(f"t{k}").cast("bigint").alias(f"t{k}") for k in range(1, len(steps) + 1)],
        reached.cast("int").alias("steps_reached"),
    )


def zorder_expr(x: str, y: str, bits: int = 16) -> str:
    """SQL text for the Morton bit-interleave of two ``bits``-wide
    non-negative ints — IDENTICAL on Spark and DuckDB (plain >>, &, *,
    + over disjoint powers of two, so the sum has no carries and no
    engine-specific semantics). Shared by the operator and its oracle.
    """
    terms = []
    for i in range(bits):
        terms.append(f"((({x}) >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"((({y}) >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def zorder_key(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 16,
) -> DataFrame:
    """Morton / Z-order curve key over two integer dimensions — the
    multi-dimensional data-layout primitive (Iceberg's ``zorder``
    rewrite, Delta's OPTIMIZE ZORDER BY): sorting/range-partitioning by
    the interleaved key co-locates rows that are close in BOTH
    dimensions, so min/max file statistics prune 2-D predicates
    (series × time-range scans) that a lexicographic sort can only
    prune in its leading column.

    Inputs are masked to the low ``bits`` (caller pre-buckets/ranks to
    the key space — documented contract); the key is an exact integer
    expression shared verbatim with the SQL oracle. Zero shuffles: this
    is a map-only projection; the LAYOUT effect comes from writing
    sorted-by-zkey (pytest pins the locality win vs row-major order).
    """
    mask = (1 << bits) - 1
    xm = f"(cast({x_col} as bigint) & {mask})"
    ym = f"(cast({y_col} as bigint) & {mask})"
    return df.withColumn("zkey", F.expr(zorder_expr(xm, ym, bits)).cast("long"))


def hilbert_key(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 16,
) -> DataFrame:
    """Hilbert-curve layout key over two integer dimensions — the
    locality-superior space-filling companion to :func:`zorder_key`
    (consecutive Hilbert positions are ALWAYS grid neighbors, so
    min/max file stats prune 2-D ranges strictly better than Morton's
    quadrant jumps; Faloutsos & Roseman PODS 1989 made this the
    database layout argument).

    The standard xy→d bit walk (level-by-level quadrant code + frame
    rotation) unrolls into ``bits`` integer expression layers — ALL
    integer ops (&, >>, xor, subtract), bit-identical cross-engine,
    generated from ONE Python loop for Spark and the SQL oracle so the
    two cannot drift. Inputs are masked to the low ``bits`` (the
    zorder contract). Zero shuffles: map-only projection; the layout
    effect comes from writing sorted-by-hkey.
    """
    mask = (1 << bits) - 1
    out = df.withColumn("_hx", F.expr(f"cast({x_col} as bigint) & {mask}")) \
            .withColumn("_hy", F.expr(f"cast({y_col} as bigint) & {mask}")) \
            .withColumn("_hd", F.lit(0).cast("long"))
    for i in range(bits - 1, -1, -1):
        rx = f"((_hx >> {i}) & 1)"
        ry = f"((_hy >> {i}) & 1)"
        out = out.withColumn(
            "_hd2",
            F.expr(f"_hd + (cast(1 as bigint) << {2 * i}) "
                   f"* ((3 * {rx}) ^ {ry})"),
        ).withColumn(
            "_hx2",
            F.expr(
                f"CASE WHEN {ry} = 0 THEN "
                f"CASE WHEN {rx} = 1 THEN {mask} - _hy ELSE _hy END "
                f"ELSE _hx END"
            ),
        ).withColumn(
            "_hy2",
            F.expr(
                f"CASE WHEN {ry} = 0 THEN "
                f"CASE WHEN {rx} = 1 THEN {mask} - _hx ELSE _hx END "
                f"ELSE _hy END"
            ),
        ).drop("_hx", "_hy", "_hd") \
         .withColumnRenamed("_hx2", "_hx") \
         .withColumnRenamed("_hy2", "_hy") \
         .withColumnRenamed("_hd2", "_hd")
    return out.withColumn("hkey", F.col("_hd").cast("long")).drop(
        "_hx", "_hy", "_hd"
    )


def hilbert_sql_layers(x_expr: str, y_expr: str, bits: int = 16) -> str:
    """The SAME per-level walk as :func:`hilbert_key`, emitted as
    nested CTE layers for the DuckDB oracle (DuckDB's ``^`` is POWER —
    xor() is spelled out)."""
    mask = (1 << bits) - 1
    layers = [
        f"h{bits} AS (SELECT *, CAST({x_expr} AS BIGINT) & {mask} AS hx, "
        f"CAST({y_expr} AS BIGINT) & {mask} AS hy, "
        f"CAST(0 AS BIGINT) AS hd FROM base)"
    ]
    for i in range(bits - 1, -1, -1):
        rx = f"((hx >> {i}) & 1)"
        ry = f"((hy >> {i}) & 1)"
        layers.append(
            f"h{i} AS (SELECT * EXCLUDE (hx, hy, hd),\n"
            f"  CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1 "
            f"THEN {mask} - hy ELSE hy END ELSE hx END AS hx,\n"
            f"  CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1 "
            f"THEN {mask} - hx ELSE hx END ELSE hy END AS hy,\n"
            f"  hd + (CAST(1 AS BIGINT) << {2 * i}) "
            f"* xor(3 * {rx}, {ry}) AS hd\n"
            f"FROM h{i + 1})"
        )
    return ",\n".join(layers)


RATELIMIT_SCHEMA = (
    "key long, sec long, event_id long, allowed int, tokens_after long"
)


def rate_limit_replay(
    events: DataFrame,
    capacity: int = 5,
    refill_per_sec: int = 1,
    key_col: str = "user_id",
    ts_col: str = "sec",
    id_col: str = "event_id",
) -> DataFrame:
    """Token-bucket rate-limiter replay per key: which events WOULD a
    limiter with integer ``capacity`` and integer ``refill_per_sec``
    have admitted? The audit/abuse-analysis counterpart of the
    sessionize/funnel family — run the production limiter's policy over
    history and measure throttling before deploying it.

    State per key is two integers: ``tokens`` (starts at capacity,
    refills ``(Δt)·refill`` capped at capacity, −1 per admitted event)
    and the previous timestamp. Events are replayed in ``(ts, id)``
    order (the id breaks same-second ties deterministically). The
    ENTIRE recurrence is integer arithmetic — nothing to round, the
    recursive-CTE oracle replays it exactly.

    Scale: the ewma/holt kernel pattern — one group-hash exchange into
    an O(n) Arrow kernel, O(1) state.
    """
    import numpy as np
    import pandas as pd

    cap, refill = int(capacity), int(refill_per_sec)
    if cap < 1 or refill < 0:
        raise ValueError("capacity >= 1 and refill_per_sec >= 0 required")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["sec", "eid"])
        sec = pdf["sec"].to_numpy(dtype=np.int64)
        n = len(sec)
        allowed = np.empty(n, dtype=np.int32)
        tokens_after = np.empty(n, dtype=np.int64)
        tokens = cap
        prev = None
        for i in range(n):
            if prev is not None:
                tokens = min(cap, tokens + (int(sec[i]) - prev) * refill)
            prev = int(sec[i])
            if tokens >= 1:
                tokens -= 1
                allowed[i] = 1
            else:
                allowed[i] = 0
            tokens_after[i] = tokens
        return pd.DataFrame(
            {
                "key": pdf["key"].to_numpy(),
                "sec": sec,
                "event_id": pdf["eid"].to_numpy(),
                "allowed": allowed,
                "tokens_after": tokens_after,
            }
        )

    rows = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("long").alias("sec"),
        F.col(id_col).cast("long").alias("eid"),
    )
    return rows.groupBy("key").applyInPandas(kernel, RATELIMIT_SCHEMA).select(
        F.col("key").alias(key_col), F.col("sec").alias(ts_col),
        "event_id", "allowed", "tokens_after",
    )


def change_point(
    events: DataFrame,
    bucket_sec: int = 21600,
    min_seg: int = 2,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Offline single change-point per series (the binary-segmentation
    step CUSUM's online recursion descends from): split the bucketed
    series at the k that MINIMIZES total within-segment SSE —
    equivalently maximizes ``L²/k + R²/(n−k)`` over the micro-unit
    prefix sums (Σx² is split-invariant and cancels).

    Cross-engine determinism with ZERO rounding: prefix sums are exact
    int64 micro-units in a deterministic (window ORDER BY bucket)
    order; each candidate's objective is the IDENTICAL float expression
    over identical integers — L² overflows exact-double range but IEEE
    multiplication of identical operands rounds identically on both
    engines — and the argmax tie-breaks on the smaller k, so equal
    objectives (constant series) still pick the same split. The emitted
    ``gain`` (variance-explained numerator, objective − T²/n) is the
    same class of deterministic double (the holt unrounded-gate
    convention).

    Fully relational — no Python anywhere: one combinable bucket
    groupBy, one key-window prefix pass (exchange reused by the rank
    window on the same key), candidates filtered to
    ``min_seg ≤ k ≤ n − min_seg``; series with no admissible split
    emit nothing.

    Output: (key, k, n, split_bucket, gain) — split_bucket is the FIRST
    bucket of the right segment.
    """
    from pyspark.sql.window import Window

    if min_seg < 1:
        raise ValueError("min_seg >= 1")
    cells = (
        events.select(
            F.col(key_col).cast("long").alias("key"),
            F.floor(F.col(ts_col).cast("long") / bucket_sec)
            .cast("long")
            .alias("bucket"),
            F.round(F.col(value_col) * 1_000_000).cast("bigint").alias("vu"),
        )
        .groupBy("key", "bucket")
        .agg(F.sum("vu").alias("su"))
    )
    wseq = Window.partitionBy("key").orderBy("bucket")
    wkey = Window.partitionBy("key")
    pre = cells.select(
        "key",
        "bucket",
        F.row_number().over(wseq).alias("j"),
        F.sum("su").over(
            wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("s"),
        F.count("*").over(wkey).alias("n"),
        F.sum("su").over(wkey).alias("t"),
        # first bucket of the RIGHT segment if we split after this row —
        # carried here so no second window pass / self-join is needed
        # (always defined for admissible k: k <= n - min_seg, min_seg >= 1)
        F.lead("bucket").over(wseq).alias("split_bucket"),
    )
    cand = pre.filter(
        (F.col("j") >= min_seg) & (F.col("j") <= F.col("n") - min_seg)
    )
    ld = F.col("s").cast("double")
    rd = (F.col("t") - F.col("s")).cast("double")
    obj = ld * ld / F.col("j").cast("double") + rd * rd / (
        F.col("n") - F.col("j")
    ).cast("double")
    td = F.col("t").cast("double")
    gain = (obj - td * td / F.col("n").cast("double")).alias("gain")
    scored = cand.select(
        "key", "split_bucket", F.col("j").alias("k"), "n",
        obj.alias("obj"), gain,
    )
    wrank = Window.partitionBy("key").orderBy(
        F.col("obj").desc(), F.col("k").asc()
    )
    best = scored.withColumn("rn", F.row_number().over(wrank)).filter(
        F.col("rn") == 1
    )
    return best.select(F.col("key").alias(key_col), "k", "n",
                       "split_bucket", "gain")


def session_funnel(
    events: DataFrame,
    steps: list[str],
    gap: int,
    key_col: str = "user_id",
    ts_col: str = "sec",
    type_col: str = "event_type",
    tie_col: str | None = None,
) -> DataFrame:
    """Funnel conversion scoped to SESSIONS instead of whole users:
    events first get inactivity-gap session ids (the shared
    ``session_assign`` stage), then the greedy ordered chain of
    ``funnel_steps`` runs per (user, session) — "did the user click
    then purchase WITHIN one visit", the form product analytics
    actually asks. The session boundary replaces ``window_sec`` as the
    conversion scope.

    Exactness: pure integer min-aggregates over integer session ids —
    nothing to round (the funnel convention).

    Scale: ONE key-hash exchange for the session window; every step's
    conditional min groupBy and join keys on (key, session_idx), which
    extends that partitioning prefix — the whole chain reuses one
    shuffle, k a small constant.

    Output: one row per (user, session) that entered the funnel:
    session_idx, each step's timestamp (NULL after the chain breaks),
    steps_reached.
    """
    sel = [
        F.col(key_col).cast("long").alias(key_col),
        F.col(ts_col).cast("long").alias(ts_col),
        F.col(type_col).alias("etype"),
    ]
    if tie_col:
        sel.append(F.col(tie_col))
    rows = session_assign(
        events.select(*sel),
        gap,
        key_col,
        ts_col,
        tie_col=tie_col,
        extra_cols=["etype"],
    ).select("key", F.col("ts").alias("sec"), "etype", "session_idx")
    cur = (
        rows.where(F.col("etype") == steps[0])
        .groupBy("key", "session_idx")
        .agg(F.min("sec").alias("t1"))
    )
    for k, step in enumerate(steps[1:], start=2):
        nxt = (
            rows.join(cur, ["key", "session_idx"])
            .where(
                (F.col("etype") == step) & (F.col("sec") >= F.col(f"t{k - 1}"))
            )
            .groupBy("key", "session_idx")
            .agg(F.min("sec").alias(f"t{k}"))
        )
        cur = cur.join(nxt, ["key", "session_idx"], "left")
    reached = sum(
        F.when(F.col(f"t{k}").isNotNull(), 1).otherwise(0)
        for k in range(2, len(steps) + 1)
    ) + F.lit(1)
    return cur.select(
        F.col("key").alias(key_col),
        "session_idx",
        *[F.col(f"t{k}") for k in range(1, len(steps) + 1)],
        reached.cast("int").alias("steps_reached"),
    )


def behavior_ngrams(
    events: DataFrame,
    n: int = 3,
    top_k: int = 25,
    key_col: str = "user_id",
    ts_col: str = "sec",
    type_col: str = "event_type",
    tie_col: str = "event_id",
) -> DataFrame:
    """Frequent consecutive event-type sequences across all users (the
    behavioral n-gram census: "view>click>purchase happened 1 312
    times") — the corpus-collocation idea (token_pmi_bigrams) applied
    to user event streams. Each user's events are ordered by (ts, id)
    — a TOTAL order, the sessionize lesson — and every run of ``n``
    consecutive events contributes one n-gram.

    Output: top ``top_k`` n-grams by (count DESC, gram ASC) with a
    dense rank — integer-only, fully deterministic.

    Scale: one key-hash exchange for the lead window; the n-gram count
    groupBy is (event-type)ⁿ-bounded with map-side combine; the top-k
    is a single bounded sort.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("key").orderBy("sec", "tie")
    rows = events.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).cast("long").alias("sec"),
        F.col(tie_col).cast("long").alias("tie"),
        F.col(type_col).alias("e0"),
    )
    for i in range(1, n):
        rows = rows.withColumn(f"e{i}", F.lead("e0", i).over(w))
    gram = F.concat_ws(">", *[F.col(f"e{i}") for i in range(n)])
    # filter EVERY position: concat_ws silently skips NULLs, so a NULL
    # mid-sequence would otherwise count a malformed shorter gram
    # (review finding; the oracle's || chain null-propagates instead)
    notnull = F.lit(True)
    for i in range(n):
        notnull = notnull & F.col(f"e{i}").isNotNull()
    counted = (
        rows.filter(notnull)
        .select(gram.alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    ranked = counted.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), F.col("gram").asc()))
        .cast("int"),
    )
    return ranked.filter(F.col("rank") <= top_k).select("gram", "cnt", "rank")


def interval_gaps(
    intervals: DataFrame,
    key_col: str = "user_id",
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """The COMPLEMENT of ``interval_coalesce``: per key, the downtime
    gaps between merged coverage islands — "when was this source NOT
    reporting". Each consecutive island pair (islands are disjoint and
    non-touching by construction) yields one gap
    ``[island_end, next_island_start)``; keys with a single island emit
    nothing. Integer-only.

    Scale: rides the single-exchange coalesce; the lead window extends
    the same key partitioning (exchange reused).
    """
    from pyspark.sql.window import Window

    merged = interval_coalesce(
        intervals, key_col=key_col, start_col=start_col, end_col=end_col
    )
    w = Window.partitionBy(key_col).orderBy("island")
    nxt = merged.withColumn("next_start", F.lead("start").over(w))
    return nxt.filter(F.col("next_start").isNotNull()).select(
        F.col(key_col),
        F.col("island").alias("gap_after_island"),
        F.col("end").alias("gap_start"),
        F.col("next_start").alias("gap_end"),
        (F.col("next_start") - F.col("end")).alias("duration"),
    )


def ab_conversion_ztest(
    events: DataFrame,
    bucket_sec: int = 86400,
    convert_type: str = "purchase",
    key_col: str = "user_id",
    ts_col: str = "sec",
    type_col: str = "event_type",
    z2_crit: float = 3.8416,
) -> DataFrame:
    """Daily A/B conversion monitoring: users split into two arms by
    the deterministic ``user_id % 2``; per bucket, each arm's active
    users and converted users (≥ 1 ``convert_type`` event), the
    two-proportion z statistic, and an integer-count-decided
    significance flag at ``z² > z2_crit`` (3.8416 = 1.96², the 95%
    two-sided test).

    Cross-engine determinism: the inputs to z² are pure integer counts;
    ``z² = (c1·n2 − c2·n1)²·(n1+n2) / (n1·n2·(c1+c2)·(n1+n2−c1−c2))``
    is the identical float expression over identical integers on both
    engines (products exceed 2^53 but IEEE rounds identical operands
    identically — the change_point convention), so the flag comparison
    cannot flip. z itself is emitted r6. Degenerate buckets (an empty
    arm, all-or-none conversion pooled) yield NULL z and flag 0.

    Scale: two combinable groupBys (user-bucket activity, then bucket
    aggregation) — map-side combine absorbs hot buckets.
    """
    rows = events.select(
        F.floor(F.col(ts_col).cast("long") / bucket_sec)
        .cast("long")
        .alias("bucket"),
        (F.col(key_col).cast("long") % 2).cast("int").alias("arm"),
        F.col(key_col).cast("long").alias("key"),
        (F.col(type_col) == convert_type).cast("int").alias("conv"),
    )
    per_user = rows.groupBy("bucket", "arm", "key").agg(
        F.max("conv").alias("converted")
    )
    per_bucket = per_user.groupBy("bucket").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c1"),
    )
    num = (
        F.col("c0").cast("double") * F.col("n1").cast("double")
        - F.col("c1").cast("double") * F.col("n0").cast("double")
    )
    tot = (F.col("n0") + F.col("n1")).cast("double")
    conv = (F.col("c0") + F.col("c1")).cast("double")
    miss = (F.col("n0") + F.col("n1") - F.col("c0") - F.col("c1")).cast("double")
    den = (
        F.col("n0").cast("double") * F.col("n1").cast("double") * conv * miss
    )
    z2 = num * num * tot / den
    ok = (F.col("n0") > 0) & (F.col("n1") > 0) & (conv > 0) & (miss > 0)
    z = F.when(
        ok,
        F.round(
            F.signum(num) * F.sqrt(z2),
            6,
        ),
    )
    sig = F.when(ok & (z2 > F.lit(float(z2_crit))), 1).otherwise(0).cast("int")
    return per_bucket.select(
        "bucket", "n0", "c0", "n1", "c1", z.alias("z"), sig.alias("significant")
    )


def retention_curve(
    events: DataFrame,
    bucket_sec: int = 86400,
    max_age: int = 30,
    key_col: str = "user_id",
    ts_col: str = "sec",
) -> DataFrame:
    """Survival curve over user lifetimes (Kaplan-Meier-lite with no
    censoring model): lifetime = last-seen bucket − first-seen bucket;
    ``surviving(k)`` = users with lifetime ≥ k for k = 0..max_age, as a
    count and an exact-integer-ratio fraction. The cohort_retention
    companion that answers "how long do users stay" in one curve.

    Scale: one per-user min/max groupBy (combinable), then a bounded
    explode to ≤ max_age+1 rows per user and one combinable count
    groupBy — shuffle bounded by users + max_age.
    """
    lives = (
        events.select(
            F.col(key_col).alias("key"),
            F.floor(F.col(ts_col).cast("long") / bucket_sec)
            .cast("long")
            .alias("b"),
        )
        .groupBy("key")
        .agg((F.max("b") - F.min("b")).alias("lifetime"))
    )
    total = lives.agg(F.count("*").cast("bigint").alias("n_users"))
    ages = lives.select(
        F.explode(
            F.sequence(
                F.lit(0), F.least(F.col("lifetime"), F.lit(int(max_age)))
            )
        ).alias("age")
    )
    curve = ages.groupBy("age").agg(
        F.count("*").cast("bigint").alias("surviving")
    )
    return curve.crossJoin(F.broadcast(total)).select(
        F.col("age").cast("bigint").alias("age"),
        "surviving",
        "n_users",
        (F.col("surviving").cast("double") / F.col("n_users").cast("double"))
        .alias("fraction"),
    )


def markov_transitions(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "sec",
    type_col: str = "event_type",
    tie_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix between event types across
    all user streams: count of consecutive (from → to) pairs and the
    row-normalized probability — the 2-gram slice of
    ``behavior_ngrams`` with probabilities attached. Total (ts, id)
    order; probability = exact integer ratio (identical float on both
    engines, no rounding).

    Scale: one key-hash lead window + an (event-types²)-bounded count
    groupBy with map-side combine.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("key").orderBy("sec", "tie")
    rows = events.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).cast("long").alias("sec"),
        F.col(tie_col).cast("long").alias("tie"),
        F.col(type_col).alias("src"),
    ).withColumn("dst", F.lead("src").over(w))
    counts = (
        rows.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    wrow = Window.partitionBy("src")
    return counts.withColumn(
        "row_total", F.sum("cnt").over(wrow).cast("bigint")
    ).select(
        "src", "dst", "cnt", "row_total",
        (F.col("cnt").cast("double") / F.col("row_total").cast("double"))
        .alias("prob"),
    )


def burstiness(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "sec",
    tie_col: str = "event_id",
) -> DataFrame:
    """Inter-event burstiness per series (Goh & Barabási 2008):
    ``B = (σ − μ)/(σ + μ)`` over the inter-arrival gaps — −1 periodic,
    0 Poisson, → 1 bursty. Gaps are INTEGER seconds, so the co-moment
    variance ``(n·Σg² − (Σg)²)/n²`` is exact integer arithmetic until
    the final identical float expression — nothing to round. Series
    need ≥ 2 gaps (≥ 3 events); σ+μ = 0 (all gaps zero) yields NULL.

    Scale: one key-hash lag window whose per-key groupBy reuses the
    exchange (integer sums, map-side combinable).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("key").orderBy("sec", "tie")
    gaps = (
        events.select(
            F.col(key_col).alias("key"),
            F.col(ts_col).cast("long").alias("sec"),
            F.col(tie_col).cast("long").alias("tie"),
        )
        .withColumn("gap", F.col("sec") - F.lag("sec").over(w))
        .filter(F.col("gap").isNotNull())
    )
    agg = gaps.groupBy("key").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("gap").cast("bigint").alias("s1"),
        F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("s2"),
    ).filter(F.col("n") >= 2)
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / nd
    var = (
        nd * F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    ) / (nd * nd)
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    b = F.when(sd + mu > 0, (sd - mu) / (sd + mu))
    return agg.select(
        F.col("key").alias(key_col), "n", "s1", "s2", b.alias("burstiness")
    )


def decayed_topk(
    events: DataFrame,
    bucket_sec: int = 3600,
    half_life_buckets: int = 1,
    horizon: int = 16,
    top_k: int = 5,
    item_col: str = "event_type",
    ts_col: str = "sec",
) -> DataFrame:
    """Exponentially-decayed item leaderboard per bucket (the
    "trending now" primitive): each arrival's weight halves every
    ``half_life_buckets`` buckets, truncated at ``horizon`` buckets
    (2^−16 ≈ 1.5e-5 of a count — the documented cutoff). The decayed
    score is carried as the EXACT integer
    ``Σ arrivals(t−k) · 2^(horizon−1−k)`` — dyadic decay means no
    floats anywhere, and the (score DESC, item ASC) rank can never flip
    per engine.

    Scale: one combinable (item, bucket) count groupBy; each count row
    explodes to its ≤ horizon target buckets (the hll_sliding
    explode-merge pattern — never a range join); one combinable sum
    groupBy + broadcast observed-bucket semi-join; per-bucket top-k via
    a rank window with WindowGroupLimit pushdown.
    """
    from pyspark.sql.functions import broadcast
    from pyspark.sql.window import Window

    h = int(horizon)
    if half_life_buckets != 1:
        raise NotImplementedError(
            "dyadic exactness is proven for half_life_buckets=1; generalize "
            "by scaling the exponent if needed"
        )
    counts = (
        events.select(
            F.floor(F.col(ts_col).cast("long") / bucket_sec)
            .cast("long")
            .alias("bucket"),
            F.col(item_col).alias("item"),
        )
        .groupBy("item", "bucket")
        .agg(F.count("*").cast("bigint").alias("a"))
    )
    observed = counts.select("bucket").distinct()
    contrib = counts.select(
        "item",
        "a",
        F.explode(F.sequence(F.lit(0), F.lit(h - 1))).alias("off"),
        "bucket",
    ).select(
        "item",
        (F.col("bucket") + F.col("off")).alias("bucket"),
        F.expr(f"a * (cast(1 as bigint) << cast({h - 1} - off as int))")
        .alias("w"),
    )
    decayed = (
        contrib.join(broadcast(observed), "bucket", "left_semi")
        .groupBy("bucket", "item")
        .agg(F.sum("w").cast("bigint").alias("decayed_scaled"))
    )
    wrank = Window.partitionBy("bucket").orderBy(
        F.col("decayed_scaled").desc(), F.col("item").asc()
    )
    return (
        decayed.withColumn("rank", F.row_number().over(wrank).cast("int"))
        .filter(F.col("rank") <= top_k)
        .select("bucket", "item", "decayed_scaled", "rank")
    )


def active_users(
    events: DataFrame,
    bucket_sec: int = 86400,
    key_col: str = "user_id",
    ts_col: str = "sec",
) -> DataFrame:
    """DAU / WAU / MAU + stickiness per day — the product-metrics
    staple, EXACT (the HLL family covers the approximate path; this is
    the small-key-domain exact one): for every observed day, distinct
    users active that day, in the trailing 7 days, and in the trailing
    30 days, plus stickiness = DAU/MAU as the identical float ratio of
    exact integers.

    Scale: one (user, day) distinct groupBy (combinable), then each
    user-day explodes to its ≤ 30 target days (the hll_sliding
    explode-merge — never a range join) tagged with the offset; one
    conditional distinct-count groupBy per target + broadcast
    observed-day semi-join. Shuffle ≤ user-days × 30.
    """
    from pyspark.sql.functions import broadcast

    ud = (
        events.select(
            F.col(key_col).alias("u"),
            F.floor(F.col(ts_col).cast("long") / bucket_sec)
            .cast("long")
            .alias("day"),
        )
        .distinct()
    )
    observed = ud.select("day").distinct()
    contrib = ud.select(
        "u",
        F.explode(F.sequence(F.lit(0), F.lit(29))).alias("off"),
        "day",
    ).select("u", "off", (F.col("day") + F.col("off")).alias("day"))
    agg = (
        contrib.join(broadcast(observed), "day", "left_semi")
        .groupBy("day")
        .agg(
            F.countDistinct(F.when(F.col("off") == 0, F.col("u")))
            .cast("bigint")
            .alias("dau"),
            F.countDistinct(F.when(F.col("off") < 7, F.col("u")))
            .cast("bigint")
            .alias("wau"),
            F.countDistinct("u").cast("bigint").alias("mau"),
        )
    )
    return agg.select(
        "day", "dau", "wau", "mau",
        (F.col("dau").cast("double") / F.col("mau").cast("double"))
        .alias("stickiness"),
    )


def behavior_entropy(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "sec",
    type_col: str = "event_type",
    tie_col: str = "event_id",
) -> DataFrame:
    """Per-state entropy of the event-type Markov chain: for each
    ``src`` type, ``H(src) = −Σ_dst p·log2(p)`` over the transition
    probabilities — how predictable the next action is from here (0 =
    deterministic flow, log2(k) = uniform). Probabilities are exact
    integer ratios; the entropy sums ≤ |types| log terms and rounds r6
    (JVM log vs libm differ 1 ulp — the hll-estimate convention).

    Scale: rides ``markov_transitions`` (one lead window + bounded
    counts); the entropy groupBy touches ≤ types² rows.
    """
    t = markov_transitions(events, key_col=key_col, ts_col=ts_col,
                           type_col=type_col, tie_col=tie_col)
    term = -(F.col("prob") * F.log2("prob"))
    return (
        t.groupBy("src")
        .agg(
            F.round(F.sum(term), 6).alias("entropy_bits"),
            F.sum("cnt").cast("bigint").alias("n_transitions"),
        )
    )


def activity_gini(
    events: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Gini coefficient of per-user event-count inequality — the skew
    diagnosis number ("0.9 means a handful of users dominate the
    shuffle keys"). Computed from the sorted-counts identity
    ``G = Σ(2i − n − 1)·x_(i) / (n·Σx)`` with rank ties broken on the
    user id: numerator and denominator are EXACT integers, the output
    is one identical float division. Emits one row:
    (n_users, total_events, gini).

    Scale: one combinable count groupBy + a rank window (single
    ordered pass, n_users rows) + one scalar aggregation; the scalar
    totals broadcast back (the house crossJoin-broadcast pattern).
    """
    from pyspark.sql.functions import broadcast
    from pyspark.sql.window import Window

    counts = events.groupBy(F.col(key_col).alias("u")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    w = Window.orderBy(F.col("x").asc(), F.col("u").asc())
    ranked = counts.withColumn("i", F.row_number().over(w).cast("bigint"))
    tot = ranked.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("total_events"),
    )
    num = (
        ranked.crossJoin(broadcast(tot))
        .agg(
            F.max("n_users").alias("n_users"),
            F.max("total_events").alias("total_events"),
            F.sum(
                (F.lit(2) * F.col("i") - F.col("n_users") - F.lit(1))
                * F.col("x")
            )
            .cast("bigint")
            .alias("gnum"),
        )
    )
    return num.select(
        "n_users",
        "total_events",
        (
            F.col("gnum").cast("double")
            / (F.col("n_users").cast("double")
               * F.col("total_events").cast("double"))
        ).alias("gini"),
    )


def tier_incremental_refresh(
    history_events: DataFrame,
    delta_events: DataFrame,
    bucket_sec: int = 21600,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Incremental continuous-aggregate REFRESH: the tier-1 table built
    from history is updated with a late delta batch by MERGING partial
    states — count/sum/min/max per (key, bucket) are all associative,
    so ``merge(tier(history), tier(delta)) == tier(history ∪ delta)``
    is an exact integer identity (micro-unit sums), and the driver
    oracle recomputes from the full data to gate exactly that. This is
    what a TimescaleDB-style continuous aggregate does on every refresh
    window instead of rescanning history.

    Scale: the history side is ALREADY a tier table (buckets × keys
    rows); only the delta's raw rows are scanned. The merge groupBy
    touches tier-sized inputs.
    """
    def tier(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col(key_col).alias("key"),
                F.floor(F.col(ts_col).cast("long") / bucket_sec)
                .cast("long")
                .alias("bucket"),
                F.round(F.col(value_col) * 1_000_000).cast("bigint").alias("vu"),
            )
            .groupBy("key", "bucket")
            .agg(
                F.count("*").cast("bigint").alias("cnt"),
                F.sum("vu").cast("bigint").alias("sum_u"),
                F.min("vu").cast("bigint").alias("min_u"),
                F.max("vu").cast("bigint").alias("max_u"),
            )
        )

    merged = tier(history_events).unionByName(tier(delta_events))
    return (
        merged.groupBy("key", "bucket")
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.sum("sum_u").cast("bigint").alias("sum_u"),
            F.min("min_u").cast("bigint").alias("min_u"),
            F.max("max_u").cast("bigint").alias("max_u"),
        )
        .select(F.col("key").alias(key_col), "bucket", "cnt", "sum_u",
                "min_u", "max_u")
    )


def rollup_freshness(
    events: DataFrame,
    bucket_sec: int = 3600,
    key_col: str = "event_type",
    ts_col: str = "sec",
) -> DataFrame:
    """Continuous-aggregate freshness / SLA monitor: for every source
    key, how complete and how stale its rollup tier is relative to the
    most recent bucket observed ANYWHERE in the table (the
    "materialization watermark" question TimescaleDB's job stats and
    Druid's segment-availability views answer — here as a first-class,
    oracle-checkable operator over the tier itself).

    Per key over [first bucket of the key, global max bucket]:
    ``expected`` buckets in that span, ``present`` distinct buckets,
    ``missing = expected − present`` (gap-fill debt), ``lag_buckets =
    global_max − key_max`` (staleness), and ``completeness =
    present / expected`` — one raw double quotient of exact integers.

    Scale: one combinable distinct on (key, bucket), one count per key,
    and a scalar global max broadcast back — nothing keyed finer than
    the tier itself ever moves.
    """
    kb = events.select(
        F.col(key_col).alias("key"),
        F.floor(F.col(ts_col).cast("long") / bucket_sec)
        .cast("long")
        .alias("bucket"),
    ).distinct()
    per_key = kb.groupBy("key").agg(
        F.count("*").cast("bigint").alias("present"),
        F.min("bucket").alias("first_bucket"),
        F.max("bucket").alias("last_bucket"),
    )
    gmax = kb.agg(F.max("bucket").alias("global_max"))
    out = per_key.crossJoin(F.broadcast(gmax))
    expected = (F.col("global_max") - F.col("first_bucket") + 1).cast("bigint")
    return out.select(
        F.col("key").alias(key_col),
        "present",
        "first_bucket",
        "last_bucket",
        "global_max",
        expected.alias("expected"),
        (expected - F.col("present")).cast("bigint").alias("missing"),
        (F.col("global_max") - F.col("last_bucket"))
        .cast("bigint")
        .alias("lag_buckets"),
        (F.col("present").cast("double") / expected.cast("double")).alias(
            "completeness"
        ),
    )


def _moment_power_sums(
    events: DataFrame,
    bucket_sec: int,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """(key, bucket, n, s1..s4) — EXACT power sums of centi-unit values.

    cu = round(value·100) as bigint (the house micro-unit convention at
    1e2 so cu⁴ stays far inside decimal(38,0)); each power is computed
    in decimal(38,0) (exact integer arithmetic, ANSI-overflow-checked)
    and summed exactly. These ARE the mergeable sketch state: partial
    sums add associatively, so tier merges are exact integer identities.
    """
    cu = F.round(F.col(value_col) * 100).cast("bigint")
    c = cu.cast("decimal(38,0)")
    return (
        events.select(
            F.col(key_col).alias("key"),
            F.floor(F.col(ts_col).cast("long") / bucket_sec)
            .cast("long")
            .alias("bucket"),
            c.alias("c1"),
            (c * c).alias("c2"),
            (c * c * c).alias("c3"),
            (c * c * (c * c)).alias("c4"),
        )
        .groupBy("key", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("c1").alias("s1"),
            F.sum("c2").alias("s2"),
            F.sum("c3").alias("s3"),
            F.sum("c4").alias("s4"),
        )
    )


def _moment_finisher(sums: DataFrame, key_col: str) -> DataFrame:
    """Finish exact power sums into mean/variance/skew/excess-kurtosis.

    Every float is derived from the EXACT decimal sums through one
    fixed-shape expression tree (identical literal order in the oracle
    SQL): decimal→double conversion is correctly rounded on both
    engines, so the doubles are bit-identical with no rounding step.
    Degenerate guards follow the house acf pattern: m2 clamped at 0
    (cancellation can push a true-zero variance to -1e-12) and NULLIF'd
    denominators — constant buckets emit NULL skew/kurtosis, never a
    crash (ANSI) or a NaN.
    """
    nD = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    s4 = F.col("s4").cast("double")
    mean = s1 / nD
    m2 = s2 / nD - mean * mean
    m3 = (
        s3 / nD
        - F.lit(3.0) * mean * (s2 / nD)
        + F.lit(2.0) * mean * mean * mean
    )
    m4 = (
        s4 / nD
        - F.lit(4.0) * mean * (s3 / nD)
        + F.lit(6.0) * mean * mean * (s2 / nD)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    m2c = F.greatest(m2, F.lit(0.0))
    return sums.select(
        F.col("key").alias(key_col),
        "bucket",
        "n",
        (mean / F.lit(100.0)).alias("mean_v"),
        (m2c / F.lit(10000.0)).alias("var_v"),
        (m3 / F.nullif(m2c * F.sqrt(m2c), F.lit(0.0))).alias("skewness"),
        (m4 / F.nullif(m2c * m2c, F.lit(0.0)) - F.lit(3.0)).alias(
            "kurtosis_ex"
        ),
    )


def rollup_moments(
    events: DataFrame,
    bucket_sec: int = 86400,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Mergeable moments sketch per (key, time bucket): mean, variance
    (population), skewness and excess kurtosis from EXACT integer power
    sums — the moments-sketch continuous-aggregate column (Gan et al.
    2018's insight that power sums are the canonical mergeable summary
    for distribution shape).

    Why a sketch and not percentile_cont: power sums MERGE (tier k+1
    reads tier k only — see :func:`moments_rerollup`) and hold O(1)
    state per bucket, where exact percentiles need every raw row again
    at every tier.

    Output: (key, bucket, n, mean_v, var_v, skewness, kurtosis_ex) —
    one combinable groupBy, map-side partial aggregation, nothing else
    moves. Constant buckets: NULL skew/kurt (clamped + NULLIF'd, the
    acf convention).
    """
    return _moment_finisher(
        _moment_power_sums(events, bucket_sec, key_col, ts_col, value_col),
        key_col,
    )


def moments_rerollup(
    events: DataFrame,
    fine_sec: int = 3600,
    coarse_sec: int = 86400,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """RETENTION-TIER path for the moments column: build fine-bucket
    power sums, SUM them into coarse buckets (tier k+1 reads tier k
    only — raw rows are never rescanned), finish identically.
    merge==recompute is an EXACT identity for every output column:
    decimal sums are associative, and the finisher sees bit-identical
    inputs either way (pytest-pinned, all columns).
    """
    if coarse_sec % fine_sec != 0:
        raise ValueError("coarse_sec must be a multiple of fine_sec")
    fine = _moment_power_sums(events, fine_sec, key_col, ts_col, value_col)
    factor = coarse_sec // fine_sec
    merged = (
        fine.groupBy(
            "key", (F.floor(F.col("bucket") / factor)).cast("long").alias("bucket")
        )
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("s1").alias("s1"),
            F.sum("s2").alias("s2"),
            F.sum("s3").alias("s3"),
            F.sum("s4").alias("s4"),
        )
    )
    return _moment_finisher(merged, key_col)


ASAP_WINDOWS = (1, 2, 4, 8, 16, 32)


def asap_smooth(
    events: DataFrame,
    bucket_sec: int = 3600,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """ASAP smoothing (Rong & Bailis, VLDB 2017): per key, pick the
    moving-average window that minimizes roughness (variance of the
    smoothed series' first differences) subject to preserving the
    original series' kurtosis, then emit the smoothed series — the
    automatic "smooth this dashboard" downsample next to LTTB/M4/PAA.

    Deterministic-by-construction variant: the paper's
    autocorrelation-pruned golden-section search is replaced by a FIXED
    candidate grid (``ASAP_WINDOWS`` — iterative searches over
    piecewise-constant objectives are not bit-replayable across
    engines, the sdts rule). The series is the per-bucket sum of
    whole-unit values (centi-unit sums trunc-divided by 100 — one
    deterministic truncation per bucket, keeping 4th-power sums far
    inside decimal(38,0)), gap-filled to the dense [min, max] bucket
    spine with 0. Every statistic is a fixed-shape double expression
    over EXACT decimal power sums — roughness from diff sums, kurtosis
    from deviations about the trunc-integer mean (within 1 of the true
    mean; the constraint compares like against like on both engines) —
    so the per-key argmin cannot drift. Ties and NULL roughness order
    deterministically ((r IS NULL), r, w); a window qualifies when
    kurt_w >= kurt_1, vacuously when either kurtosis is undefined
    (constant series).

    Scale: one combinable raw-row groupBy is the only full-data
    exchange; everything after runs on the bucket grid (bounded by
    contract — the theil_sen convention) and the candidate axis is a
    6-wide literal stack. Exactness contract: |window-sum deviations|⁴
    × n_buckets must fit decimal(38,0) — |dev| < 1e8 at 1e6 buckets;
    violations crash loudly under ANSI, never return wrong answers.

    Output: (key, bucket, w, smoothed) for every full window position
    of the chosen w (smoothed = window mean in whole-value units).
    """
    sums = (
        events.select(
            F.col(key_col).alias("key"),
            F.floor(F.col(ts_col).cast("long") / bucket_sec)
            .cast("long")
            .alias("bucket"),
            F.round(F.col(value_col) * 100).cast("bigint").alias("cu"),
        )
        .groupBy("key", "bucket")
        .agg(F.sum("cu").alias("scu"))
        .select(
            "key",
            "bucket",
            F.expr("(scu - (scu % 100)) div 100").alias("s"),
        )
    )
    spine = (
        sums.groupBy("key")
        .agg(F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi"))
        .select(
            "key", F.explode(F.sequence("_lo", "_hi")).alias("bucket")
        )
    )
    dense = spine.join(sums, ["key", "bucket"], "left").select(
        "key", "bucket", F.coalesce(F.col("s"), F.lit(0)).alias("s")
    )
    wk = Window.partitionBy("key").orderBy("bucket")
    cols = [
        F.sum("s").over(wk.rowsBetween(-(w - 1), 0)).alias(f"m{w}")
        for w in ASAP_WINDOWS
    ]
    grid = dense.select(
        "key", "bucket", F.row_number().over(wk).alias("rn"), *cols
    )
    stack_expr = "stack({n}, {args}) as (w, msum)".format(
        n=len(ASAP_WINDOWS),
        args=", ".join(f"{w}L, m{w}" for w in ASAP_WINDOWS),
    )
    stacked = grid.select("key", "bucket", "rn", F.expr(stack_expr)).filter(
        F.col("rn") >= F.col("w")
    )

    wkw = Window.partitionBy("key", "w").orderBy("bucket")
    wall = Window.partitionBy("key", "w")
    rows = stacked.select(
        "key",
        "w",
        "bucket",
        "msum",
        (F.col("msum") - F.lag("msum").over(wkw)).alias("d"),
        F.expr(
            "(sum(msum) over (partition by key, w)"
            " - (sum(msum) over (partition by key, w)"
            "    % count(*) over (partition by key, w)))"
            " div count(*) over (partition by key, w)"
        ).alias("q"),
    )
    dm = (F.col("msum") - F.col("q")).cast("decimal(38,0)")
    dd = F.col("d").cast("decimal(38,0)")
    stats = rows.groupBy("key", "w").agg(
        F.count("*").cast("bigint").alias("n"),
        F.count("d").cast("bigint").alias("nd"),
        F.sum(dd).alias("sd1"),
        F.sum(dd * dd).alias("sd2"),
        F.sum(dm * dm).alias("c2"),
        F.sum(dm * dm * (dm * dm)).alias("c4"),
    )
    r = (
        (F.col("nd").cast("double") * F.col("sd2").cast("double")
         - F.col("sd1").cast("double") * F.col("sd1").cast("double"))
        / F.nullif(
            F.col("nd").cast("double") * F.col("nd").cast("double")
            * F.col("w").cast("double") * F.col("w").cast("double"),
            F.lit(0.0),
        )
    )
    kurt = (
        F.col("n").cast("double") * F.col("c4").cast("double")
        / F.nullif(
            F.col("c2").cast("double") * F.col("c2").cast("double"), F.lit(0.0)
        )
    )
    scored = stats.select(
        "key", "w", r.alias("r"), kurt.alias("kurt")
    )
    base = scored.filter(F.col("w") == 1).select(
        "key", F.col("kurt").alias("kurt1")
    )
    ranked = (
        scored.join(base, "key")
        .filter(
            F.coalesce(
                F.col("kurt") >= F.col("kurt1"), F.lit(True)
            )
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("key").orderBy(
                    F.col("r").isNull().cast("int"), "r", "w"
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("key", F.col("w").alias("w_star"))
    )
    return (
        stacked.join(F.broadcast(ranked), "key")
        .filter(F.col("w") == F.col("w_star"))
        .select(
            "key",
            "bucket",
            "w",
            (F.col("msum").cast("double") / F.col("w").cast("double")).alias(
                "smoothed"
            ),
        )
    )


def ohlc_rows(
    events: DataFrame,
    bucket: int,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """JVM-side candle input derivation (key, bucket, t, i, v, v_centi)
    SHARED by the batch :func:`ohlc` aggregate and the streaming candle
    (``streaming.rollup.ohlc_stream``) — the hll_register_rows pattern:
    the stream's Python state function only folds, it never re-derives."""
    b = F.floor(F.col(ts_col).cast("long") / bucket).cast("long")
    return events.select(
        F.col(key_col).alias("key"),
        b.alias("bucket"),
        F.col(ts_col).cast("long").alias("t"),
        F.col(id_col).cast("long").alias("i"),
        F.col(value_col).cast("double").alias("v"),
        F.round(F.col(value_col).cast("double") * 100)
        .cast("bigint")
        .alias("v_centi"),
    )


def ohlc(
    events: DataFrame,
    bucket: int = 21600,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Candlestick / OHLC continuous aggregate per (key, bucket): open =
    value at the earliest (ts, id), high / low = extrema, close = value
    at the latest (ts, id), volume in exact centi-units, n. The
    TimescaleDB-toolkit ``candlestick_agg`` shape (reference parallel:
    tsmp's per-window min/avg/max rollup, R/compute.R tiers) — the
    canonical financial downsample.

    Determinism: open/close pick a row by the TOTAL order (ts, id) —
    ``id_col`` breaks timestamp ties so both engines select the same
    row (the sessionize tie rule); the picked values are raw row floats
    (no arithmetic → no rounding needed). Volume sums exact integer
    centi-units (the moments-sketch convention) instead of an
    unordered float sum.

    The aggregate is MERGEABLE: (first_ts, first_id, last_ts, last_id)
    ride along as ordering metadata so :func:`ohlc_rerollup` can merge
    fine candles into coarse ones exactly (merge == recompute,
    pytest-pinned bit-identical).

    Scale: ONE combinable groupBy — min_by/max_by over a struct key
    have map-side partials; no window, no sort.
    """
    rows = ohlc_rows(events, bucket, key_col, ts_col, value_col, id_col)
    ordkey = F.struct(F.col("t"), F.col("i"))
    return rows.groupBy("key", "bucket").agg(
        F.min_by("v", ordkey).alias("open"),
        F.max("v").alias("high"),
        F.min("v").alias("low"),
        F.max_by("v", ordkey).alias("close"),
        F.sum("v_centi").cast("bigint").alias("vol_centi"),
        F.count("*").cast("bigint").alias("n"),
        F.min("t").cast("bigint").alias("first_ts"),
        F.min_by("i", ordkey).cast("bigint").alias("first_id"),
        F.max("t").cast("bigint").alias("last_ts"),
        F.max_by("i", ordkey).cast("bigint").alias("last_id"),
    )


def ohlc_rerollup(
    events: DataFrame,
    fine_sec: int = 21600,
    coarse_sec: int = 86400,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """RETENTION-TIER merge for OHLC candles: fine candles merged into
    coarse buckets reading tier-1 only — coarse open = the open of the
    fine candle with the smallest (first_ts, first_id), close = the
    close of the one with the largest (last_ts, last_id), high/low =
    extrema of extrema, volume/n = sums. Because the tie-broken order
    metadata rides with each candle, merge == recompute is EXACT on
    every column (pytest bit-identity) — the property that makes OHLC a
    true continuous aggregate rather than a raw-row rescan.

    Scale: tier-2 touches (coarse/fine) rows per coarse key-bucket —
    one k-bounded combinable groupBy.
    """
    if coarse_sec % fine_sec != 0:
        raise ValueError("coarse_sec must be a multiple of fine_sec")
    factor = coarse_sec // fine_sec
    fine = ohlc(events, fine_sec, key_col, ts_col, value_col, id_col)
    cb = F.expr(
        f"((bucket) - pmod((bucket), {factor})) div {factor}"
    ).alias("bucket")
    first_key = F.struct(F.col("first_ts"), F.col("first_id"))
    last_key = F.struct(F.col("last_ts"), F.col("last_id"))
    return (
        fine.select(
            "key", cb, "open", "high", "low", "close", "vol_centi", "n",
            "first_ts", "first_id", "last_ts", "last_id",
        )
        .groupBy("key", "bucket")
        .agg(
            F.min_by("open", first_key).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", last_key).alias("close"),
            F.sum("vol_centi").cast("bigint").alias("vol_centi"),
            F.sum("n").cast("bigint").alias("n"),
            F.min("first_ts").cast("bigint").alias("first_ts"),
            F.min_by("first_id", first_key).cast("bigint").alias("first_id"),
            F.max("last_ts").cast("bigint").alias("last_ts"),
            F.max_by("last_id", last_key).cast("bigint").alias("last_id"),
        )
    )


def state_agg(
    events: DataFrame,
    bucket: int = 21600,
    key_col: str = "user_id",
    ts_col: str = "sec",
    state_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-in-state per (key, bucket, state) — the TimescaleDB-toolkit
    ``state_agg`` shape: each event is a state CHANGE, the state holds
    from its timestamp until the key's next event (observed-interval
    semantics: the final event of a key carries no duration — carrying
    it to a horizon is :func:`gap_fill` composition, documented out of
    contract). A run spanning bucket boundaries is SPLIT exactly:
    ``dur(bucket) = min(next_t, bucket_end) − max(t, bucket_start)``
    summed per (key, bucket, state) — all integer seconds, no floats
    anywhere, so durations are exact and tier merges are trivially
    associative (:func:`state_rerollup`).

    Determinism: runs are ordered by the TOTAL order (ts, id) —
    duplicate timestamps produce zero-length runs deterministically on
    both engines (the sessionize tie rule).

    Scale: ONE lead window per key (one exchange), then a JVM
    ``sequence()`` explode bounded by run_len / bucket — never a range
    join; the final groupBy shuffles (key, bucket, state) rows.
    """
    w = Window.partitionBy("key").orderBy(F.col("t").asc(), F.col("i").asc())
    rows = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("long").alias("t"),
        F.col(id_col).cast("long").alias("i"),
        F.col(state_col).alias("state"),
    ).withColumn("_next", F.lead("t").over(w))
    runs = rows.filter(F.col("_next") > F.col("t"))
    span = runs.select(
        "key",
        "state",
        "t",
        "_next",
        F.explode(
            F.sequence(
                F.floor(F.col("t") / bucket).cast("long"),
                F.floor((F.col("_next") - 1) / bucket).cast("long"),
            )
        ).alias("bucket"),
    )
    dur = F.least(F.col("_next"), (F.col("bucket") + 1) * bucket) - F.greatest(
        F.col("t"), F.col("bucket") * bucket
    )
    return (
        span.select("key", "bucket", "state", dur.alias("_dur"))
        .groupBy("key", "bucket", "state")
        .agg(F.sum("_dur").cast("bigint").alias("dur_sec"))
    )


def state_rerollup(
    events: DataFrame,
    fine_sec: int = 21600,
    coarse_sec: int = 86400,
    key_col: str = "user_id",
    ts_col: str = "sec",
    state_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """RETENTION-TIER merge for time-in-state: fine durations summed
    into coarse buckets reading tier-1 only. Fine bucket boundaries
    NEST inside coarse ones, so the split-and-sum is associative and
    merge == recompute is EXACT on every column (integer seconds,
    pytest bit-identity).
    """
    if coarse_sec % fine_sec != 0:
        raise ValueError("coarse_sec must be a multiple of fine_sec")
    factor = coarse_sec // fine_sec
    fine = state_agg(events, fine_sec, key_col, ts_col, state_col, id_col)
    cb = F.expr(
        f"((bucket) - pmod((bucket), {factor})) div {factor}"
    ).alias("bucket")
    return (
        fine.select("key", cb, "state", "dur_sec")
        .groupBy("key", "bucket", "state")
        .agg(F.sum("dur_sec").cast("bigint").alias("dur_sec"))
    )


def heartbeat_uptime(
    events: DataFrame,
    ttl_sec: int = 120,
    bucket: int = 21600,
    key_col: str = "user_id",
    ts_col: str = "sec",
) -> DataFrame:
    """Liveness from periodic heartbeats — the TimescaleDB-toolkit
    ``heartbeat_agg`` shape: each heartbeat asserts the key live for
    ``[t, t+ttl)``; overlapping/touching assertions coalesce into live
    islands (:func:`interval_coalesce` — every interval here has
    ``e = s + ttl``, so timestamp ties are EXACT duplicate intervals
    and the island walk is order-independent); islands are then split
    exactly at bucket boundaries into per-(key, bucket) uptime seconds
    plus the count of live islands touching the bucket. Integer-only —
    uptime_sec ≤ bucket by construction, downtime = bucket − uptime.

    Scale: the coalesce is the sessionize ONE-exchange pattern; the
    split explode is bounded by island_len / bucket over ISLAND rows
    (≤ heartbeats); the final (key, bucket) groupBy extends the key
    hash prefix — one exchange end to end (plan-pinned).
    """
    t = F.col(ts_col).cast("long")
    hb = events.select(
        F.col(key_col).cast("long").alias("key"),
        t.alias("start"),
        (t + ttl_sec).alias("end"),
    )
    isl = interval_coalesce(hb, key_col="key")
    span = isl.select(
        "key",
        F.col("start").alias("s"),
        F.col("end").alias("e"),
        F.explode(
            F.sequence(
                F.floor(F.col("start") / bucket).cast("long"),
                F.floor((F.col("end") - 1) / bucket).cast("long"),
            )
        ).alias("bucket"),
    )
    dur = F.least(F.col("e"), (F.col("bucket") + 1) * bucket) - F.greatest(
        F.col("s"), F.col("bucket") * bucket
    )
    return (
        span.select("key", "bucket", dur.alias("_dur"))
        .groupBy("key", "bucket")
        .agg(
            F.sum("_dur").cast("bigint").alias("uptime_sec"),
            F.count("*").cast("bigint").alias("n_islands"),
        )
    )


SDT_SCHEMA = "key string, bucket long, t long, v_centi long"


def sdt_compress(
    events: DataFrame,
    bucket: int = 21600,
    dev_centi: int = 200,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Swinging-door-trimming lossy compression per (series, retention
    window) — the historian compression step (OSIsoft PI compDev; the
    LOSSY companion to the lossless Gorilla codec): keep a point only
    when the deviation envelope (±dev around the line from the last
    STORED point) can no longer contain the incoming stream.

    Error bound: the door test proves a line from the anchor covering
    every skipped point within ±dev EXISTS; this variant stores the
    ACTUAL sample at the break (never a synthesized envelope point, so
    integers stay exact), and the kept-point lerp reconstruction is
    guaranteed within 2·dev (pytest-pinned on a random walk). The
    ±dev-exact variant stores fabricated envelope intersections —
    fractional values that would break the cross-engine integer gate.

    Exactness contract: values quantize once to centi-units (the ohlc
    convention), every door comparison is a CROSS-MULTIPLIED integer
    rational (slopes are never divided), so the kept set is EXACT on
    both engines — the oracle replays the identical walk in a
    recursive CTE. Duplicate timestamps collapse to the latest
    ``id_col`` row BEFORE the walk (both engines), keeping slopes
    finite.

    Scale: ONE exchange (the (key, bucket) group hash into the Arrow
    kernel); state per group is the O(1) door pair; segmenting per
    retention window bounds any single task at the bucket's row count
    and makes the compression embarrassingly parallel across tiers —
    first/last points per window are always stored, so windows
    reconstruct independently.
    """
    import numpy as np
    import pandas as pd

    dev = int(dev_centi)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["t", "i"]).drop_duplicates("t", keep="last")
        t = pdf["t"].to_numpy(dtype=np.int64)
        v = pdf["v_centi"].to_numpy(dtype=np.int64)
        n = len(t)
        if n == 0:
            return pd.DataFrame(
                {"key": [], "bucket": [], "t": [], "v_centi": []}
            ).astype({"bucket": "int64", "t": "int64", "v_centi": "int64"})
        keep = [0]
        at, av = int(t[0]), int(v[0])
        fresh = True
        smax = smin = (0, 1)
        for idx in range(1, n):
            ct, cv = int(t[idx]), int(v[idx])
            dt = ct - at
            up = (cv + dev - av, dt)
            dn = (cv - dev - av, dt)
            if fresh:
                smax, smin = up, dn
                fresh = False
            else:
                if up[0] * smax[1] < smax[0] * up[1]:
                    smax = up
                if dn[0] * smin[1] > smin[0] * dn[1]:
                    smin = dn
            if smin[0] * smax[1] > smax[0] * smin[1]:
                keep.append(idx - 1)
                at, av = int(t[idx - 1]), int(v[idx - 1])
                d2 = ct - at
                smax = (cv + dev - av, d2)
                smin = (cv - dev - av, d2)
        if keep[-1] != n - 1:
            keep.append(n - 1)
        k = np.asarray(keep, dtype=np.int64)
        return pd.DataFrame(
            {
                "key": pdf["key"].to_numpy()[k],
                "bucket": pdf["bucket"].to_numpy()[k],
                "t": t[k],
                "v_centi": v[k],
            }
        )

    b = F.floor(F.col(ts_col).cast("long") / bucket).cast("long")
    rows = events.select(
        F.col(key_col).cast("string").alias("key"),
        b.alias("bucket"),
        F.col(ts_col).cast("long").alias("t"),
        F.col(id_col).cast("long").alias("i"),
        F.round(F.col(value_col).cast("double") * 100)
        .cast("bigint")
        .alias("v_centi"),
    )
    return rows.groupBy("key", "bucket").applyInPandas(kernel, SDT_SCHEMA)


KM_SCHEMA = "t_age long, n_risk long, n_event long, surv_x1e9 long"


def kaplan_meier(
    events: DataFrame,
    grain_sec: int = 3600,
    churn_sec: int = 21600,
    key_col: str = "user_id",
    ts_col: str = "sec",
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimator over user
    lifetimes WITH right-censoring (the full-statistics upgrade of
    `retention_curve`'s no-censoring curve): lifetime = whole
    ``grain_sec`` units between a user's first and last event; a user
    whose last event is within ``churn_sec`` of the study end (the
    corpus max timestamp) is CENSORED — still at risk, never an event.

    Output per event time t (grain units, only where events occur):
    ``n_risk`` (users with lifetime ≥ t), ``n_event`` (churned users
    with lifetime exactly t), and the survival estimate. Exactness:
    the product limit Π(1 - dᵢ/nᵢ) replays as INTEGER floor-division
    micro-units — s₀ = 10⁹, sₖ = (sₖ₋₁·(nₖ-dₖ)) // nₖ — so there is no
    float rounding convention anywhere (stronger than the r9-replay
    convention; bias ≤ 1e-9/step, documented). ``surv_x1e9/1e9`` is
    the same double on both engines.

    Scale: per-user first/last is one combinable groupBy; the duration
    table is bounded by the observation horizon in days (hundreds, not
    data-bound), so the sequential product walk is one bounded
    single-group kernel task — the same contract as every
    horizon-bounded aggregate here (seasonality_profile's 168 cells).
    """
    import pandas as pd

    per_user = events.groupBy(F.col(key_col).alias("u")).agg(
        F.min(F.col(ts_col).cast("long")).alias("first_t"),
        F.max(F.col(ts_col).cast("long")).alias("last_t"),
    )
    study_end = events.agg(
        F.max(F.col(ts_col).cast("long")).alias("study_end")
    )
    users = per_user.crossJoin(F.broadcast(study_end)).select(
        (
            F.floor((F.col("last_t") - F.col("first_t")) / grain_sec)
        ).cast("long").alias("d"),
        (
            F.col("study_end") - F.col("last_t") >= churn_sec
        ).cast("int").alias("churned"),
    )
    per_d = users.groupBy("d").agg(
        F.count("*").cast("bigint").alias("n_at_d"),
        F.sum("churned").cast("bigint").alias("e_at_d"),
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    # n_risk(t) = total_users - users with d < t (exclusive prefix sum)
    total = users.agg(F.count("*").cast("bigint").alias("tot"))
    per_d2 = per_d.crossJoin(F.broadcast(total)).withColumn(
        "before", F.coalesce(F.sum("n_at_d").over(w), F.lit(0))
    ).select(
        F.col("d").alias("t_age"),
        (F.col("tot") - F.col("before")).cast("bigint").alias("n_risk"),
        F.col("e_at_d").alias("n_event"),
    ).filter(F.col("n_event") > 0)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t_age").reset_index(drop=True)
        s = 10**9
        out = []
        for _, row in pdf.iterrows():
            n, e = int(row["n_risk"]), int(row["n_event"])
            s = (s * (n - e)) // n
            out.append(s)
        pdf["surv_x1e9"] = pd.Series(out, dtype="int64")
        return pdf[["t_age", "n_risk", "n_event", "surv_x1e9"]]

    walked = (
        per_d2.withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(lambda k, pdf: kernel(pdf), KM_SCHEMA)
    )
    return walked.select(
        "t_age",
        "n_risk",
        "n_event",
        "surv_x1e9",
        (F.col("surv_x1e9") / F.lit(1e9)).alias("survival"),
    )


def rfm_segments(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """RFM customer segmentation (Hughes 1994, the classic CRM cut):
    per customer Recency (whole days since last order, vs the corpus
    max date), Frequency (order count), Monetary (exact cents), each
    scored into quintiles — 5 = best (most recent / most frequent /
    highest spend) — plus the 3-digit RFM code.

    Determinism: amounts quantize once to cents (the ohlc centi
    convention), quintiles are ANSI ``ntile(5)`` over a TOTAL order
    (metric, then customer id — both engines tie-break identically),
    all outputs integer.

    Scale: ONE combinable per-customer groupBy; the three ntile
    windows sort the per-CUSTOMER aggregate (the bounded dim-table
    cardinality, range-partitionable), never raw orders. At unbounded
    customer cardinality swap ntile for fixed approx-quantile
    breakpoints; the exact form is the oracle-checkable one.
    """
    from pyspark.sql.window import Window

    per_c = orders.groupBy(F.col(cust_col).alias("custkey")).agg(
        F.max(F.col(ts_col).cast("long")).alias("last_t"),
        F.count("*").cast("bigint").alias("frequency"),
        F.sum(
            F.round(F.col(amount_col).cast("double") * 100).cast("bigint")
        ).cast("bigint").alias("monetary_cents"),
    )
    end = orders.agg(F.max(F.col(ts_col).cast("long")).alias("end_t"))
    base = per_c.crossJoin(F.broadcast(end)).select(
        "custkey",
        F.floor((F.col("end_t") - F.col("last_t")) / 86400)
        .cast("bigint")
        .alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    r_w = Window.orderBy(F.col("recency_days").desc(), F.col("custkey"))
    f_w = Window.orderBy(F.col("frequency").asc(), F.col("custkey"))
    m_w = Window.orderBy(F.col("monetary_cents").asc(), F.col("custkey"))
    return base.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5).over(r_w).cast("bigint").alias("r"),
        F.ntile(5).over(f_w).cast("bigint").alias("f"),
        F.ntile(5).over(m_w).cast("bigint").alias("m"),
    ).withColumn(
        "rfm_code",
        (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).cast("bigint"),
    )


def concurrency_peak(
    intervals: DataFrame,
    bucket_sec: int = 21600,
    key_col: str = "key",
    start_col: str = "start",
    end_col: str = "end",
    id_col: str = "iid",
) -> DataFrame:
    """Peak concurrency per (series, bucket): the classic ±1 sweep over
    half-open intervals [start, end) — max simultaneous sessions, the
    capacity-planning aggregate next to `interval_coalesce` (coverage)
    and `interval_gaps` (holes).

    Determinism: change events sort by the TOTAL order (t, delta, id) —
    ends (−1) before starts (+1) at equal t gives half-open semantics,
    and the id tie-break pins per-row running values when two starts
    share a timestamp (the CLAUDE.md sessionization tie rule; without
    it the engines may order tied rows differently and the per-row max
    diverges even though the final sum doesn't). Peaks are reported at
    change points, so buckets with no change point are absent
    (concurrency there is flat — the carried value, documented).

    Scale: one keyed window (the sweep) + a bucket groupBy that
    EXTENDS the window's hash prefix — exchange reused, ONE shuffle,
    all integer.
    """
    from pyspark.sql.window import Window

    changes = intervals.select(
        F.col(key_col).alias("key"),
        F.col(start_col).cast("long").alias("t"),
        F.lit(1).cast("long").alias("delta"),
        F.col(id_col).cast("long").alias("iid"),
    ).unionByName(
        intervals.select(
            F.col(key_col).alias("key"),
            F.col(end_col).cast("long").alias("t"),
            F.lit(-1).cast("long").alias("delta"),
            F.col(id_col).cast("long").alias("iid"),
        )
    )
    w = Window.partitionBy("key").orderBy("t", "delta", "iid")
    swept = changes.withColumn(
        "conc", F.sum("delta").over(w).cast("bigint")
    )
    return (
        swept.groupBy(
            "key",
            F.floor(F.col("t") / bucket_sec).cast("long").alias("bucket"),
        )
        .agg(
            F.max("conc").cast("bigint").alias("peak"),
            F.count("*").cast("bigint").alias("n_changes"),
        )
    )


def zonemap_stats(
    events: DataFrame,
    granule_rows: int = 512,
    lo_centi: int = 10000,
    hi_centi: int = 20000,
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Zone-map (min/max granule index) pruning audit — the
    data-skipping lever every 100 TB scan lives on (Iceberg/parquet
    row-group stats, ClickHouse mark files). Granules are ingestion-
    order blocks of ``granule_rows`` by id; per granule we emit the
    zone map (integer centi min/max), the pruning DECISION for the
    range predicate [lo, hi], and the audit pair: rows the predicate
    actually matches vs rows a kept granule must scan — so
    ``n_rows - n_match`` summed over kept granules IS the measured
    false-keep cost of this layout (compare against the z-ordered
    layout's stats to quantify clustering value).

    All integer: centi quantization (the ohlc convention), skippable
    decided by pure integer comparison. ONE combinable groupBy.
    """
    g = events.select(
        F.expr(f"({id_col} - pmod({id_col}, {granule_rows})) div {granule_rows}")
        .cast("long")
        .alias("granule"),
        F.round(F.col(value_col).cast("double") * 100)
        .cast("bigint")
        .alias("vc"),
    )
    return g.groupBy("granule").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("vc").cast("bigint").alias("vmin_centi"),
        F.max("vc").cast("bigint").alias("vmax_centi"),
        F.sum(
            ((F.col("vc") >= lo_centi) & (F.col("vc") <= hi_centi)).cast("long")
        ).cast("bigint").alias("n_match"),
    ).withColumn(
        "skippable",
        (
            (F.col("vmax_centi") < lo_centi) | (F.col("vmin_centi") > hi_centi)
        ).cast("int").cast("bigint"),
    )


def bloom_index_prune(
    events: DataFrame,
    probe_keys: tuple[int, ...] = (7, 99991),
    granule_rows: int = 512,
    m_bits: int = 1024,
    k_hashes: int = 4,
    id_col: str = "event_id",
    key_col: str = "user_id",
) -> DataFrame:
    """File-level bloom-index pruning audit — the EQUALITY-predicate
    companion to :func:`zonemap_stats`' range pruning (parquet bloom
    filters, ClickHouse ``bloom_filter`` skip indexes): per ingestion-
    order granule, a bloom over the key column answers "can key = K be
    here?", and the audit emits the skip decision next to the exact
    match count — ``kept AND n_match = 0`` rows ARE the measured false
    keeps of the (m, k) geometry on this layout.

    The granule bloom is its set of DISTINCT hash positions (≤ m, the
    bloom_probe_stats representation — a position list, not a packed
    bitmap, so the SQL replay is a plain join); a probe key is MAYBE
    present iff all ``k_hashes`` of its positions are set. Everything
    is exact integer md5 arithmetic (the shared _h64 chain); false
    NEGATIVES are impossible and pytest-pinned.

    Scale: positions collapse map-side to ≤ m rows per granule; probe
    keys are literals (the documented few-key audit contract). ONE
    granule-keyed groupBy + a tiny aggregate per probe.

    Output per (granule, probe_key): (granule, probe_key, n_rows,
    n_hit_positions, maybe_present, n_match, false_keep).
    """
    from .dedup import _h64

    g = events.select(
        F.expr(f"({id_col} - pmod({id_col}, {granule_rows})) div {granule_rows}")
        .cast("long")
        .alias("granule"),
        F.col(key_col).cast("long").alias("key"),
    )
    pos_cols = [
        (_h64(F.col("key").cast("string"), r) % m_bits).cast("int")
        for r in range(k_hashes)
    ]
    gpos = (
        g.select("granule", F.explode(F.array(*pos_cols)).alias("pos"))
        .distinct()
    )
    sizes = g.groupBy("granule").agg(
        F.count("*").cast("bigint").alias("n_rows")
    )
    import hashlib

    out = None
    for pk in probe_keys:
        # the same md5 chain, evaluated for the literal probe key
        want = sorted(
            {
                int(
                    hashlib.md5(
                        f"s{r // 4}:{pk}".encode()
                    ).hexdigest()[8 * (r % 4): 8 * (r % 4) + 8],
                    16,
                )
                % m_bits
                for r in range(k_hashes)
            }
        )
        hits = (
            gpos.filter(F.col("pos").isin(*want))
            .groupBy("granule")
            .agg(F.countDistinct("pos").cast("bigint").alias("n_hit"))
        )
        matches = g.filter(F.col("key") == pk).groupBy("granule").agg(
            F.count("*").cast("bigint").alias("n_match")
        )
        row = (
            sizes.join(hits, "granule", "left")
            .join(matches, "granule", "left")
            .select(
                "granule",
                F.lit(int(pk)).cast("bigint").alias("probe_key"),
                "n_rows",
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint")
                .alias("n_hit_positions"),
                (F.coalesce(F.col("n_hit"), F.lit(0)) == len(want))
                .cast("int").alias("maybe_present"),
                F.coalesce(F.col("n_match"), F.lit(0)).cast("bigint")
                .alias("n_match"),
            )
            .withColumn(
                "false_keep",
                (
                    (F.col("maybe_present") == 1) & (F.col("n_match") == 0)
                ).cast("int"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def trimmed_mean(
    events: DataFrame,
    bucket_sec: int = 21600,
    trim_pct: int = 10,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Trimmed-mean continuous aggregate per (series, bucket): drop the
    ``k = n·trim_pct // 100`` lowest and highest observations (COUNT-
    based trimming over the TOTAL (value, id) order — no interpolation,
    so everything stays integer: the percentile-free robust mean).

    Output: n, n_kept, exact centi sum of the kept mass, and the mean
    as one division of exact integers (identical double both engines).
    Degenerate buckets where trimming would empty the set (n ≤ 2k)
    emit NULL mean with n_kept = 0 — pinned, not engine-dependent.

    Scale: one (key, bucket) window pair + a groupBy on the SAME keys —
    the exchange-reuse rule, ONE shuffle total.
    """
    from pyspark.sql.window import Window

    rows = events.select(
        F.col(key_col).alias("key"),
        F.floor(F.col(ts_col).cast("long") / bucket_sec)
        .cast("long")
        .alias("bucket"),
        F.round(F.col(value_col).cast("double") * 100)
        .cast("bigint")
        .alias("vc"),
        F.col(id_col).cast("long").alias("i"),
    )
    wa = Window.partitionBy("key", "bucket").orderBy(
        F.col("vc").asc(), F.col("i").asc()
    )
    wd = Window.partitionBy("key", "bucket").orderBy(
        F.col("vc").desc(), F.col("i").desc()
    )
    ranked = rows.select(
        "key",
        "bucket",
        "vc",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wd).alias("rd"),
        F.count("*").over(
            Window.partitionBy("key", "bucket")
        ).alias("n"),
    )
    # integer floor division on both engines — never a float path
    kk = F.expr(f"(n * {trim_pct}) div 100").cast("long")
    kept = (F.col("ra") > kk) & (F.col("rd") > kk)
    return (
        ranked.groupBy("key", "bucket")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.sum(kept.cast("long")).cast("bigint").alias("n_kept"),
            F.sum(F.when(kept, F.col("vc")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("sum_kept_centi"),
        )
        .select(
            "key",
            "bucket",
            "n",
            "n_kept",
            "sum_kept_centi",
            F.when(
                F.col("n_kept") > 0,
                F.col("sum_kept_centi") / F.col("n_kept"),
            ).alias("mean_centi"),
        )
    )


CROSTON_SCHEMA = (
    "key long, n_demands long, z_hat double, q_hat double, forecast double"
)


def croston_forecast(
    events: DataFrame,
    day_sec: int = 86400,
    key_col: str = "user_id",
    ts_col: str = "sec",
) -> DataFrame:
    """Croston's method (Croston 1972) — THE intermittent-demand
    forecaster, the missing sibling of the exponential family
    (ewma → holt → holt_winters → croston): demand size ẑ and
    inter-demand interval q̂ smoothed SEPARATELY, only at demand
    points; forecast = ẑ/q̂ demand per day.

    Demand series: events per (key, whole day) — days with activity
    are demand points (z = count), silent days stretch the interval.
    Pinned conventions (variants differ; ours is the documented one):
    ẑ initializes to the first demand size and smooths from the
    second; q̂ initializes to the first observed gap (at the second
    demand) and smooths from the third, DYADIC α = 0.5 throughout —
    every step is the identical correctly-
    rounded IEEE chain on both engines, so outputs gate RAW and
    UNROUNDED (the holt convention). Keys with < 2 demand days emit
    NULL q̂/forecast.

    Scale: one combinable (key, day) count groupBy, then a per-key
    Arrow kernel over the demand-day table (≤ horizon rows per key) —
    one group-hash exchange.
    """
    import numpy as np
    import pandas as pd

    daily = (
        events.select(
            F.col(key_col).cast("long").alias("key"),
            F.floor(F.col(ts_col).cast("long") / day_sec)
            .cast("long")
            .alias("day"),
        )
        .groupBy("key", "day")
        .agg(F.count("*").cast("long").alias("z"))
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        days = pdf["day"].to_numpy(dtype=np.int64)
        zs = pdf["z"].to_numpy(dtype=np.int64)
        key = int(pdf["key"].iloc[0])
        n = len(days)
        z_hat = float(zs[0])
        q_hat = None
        for i in range(1, n):
            gap = float(days[i] - days[i - 1])
            z = float(zs[i])
            if q_hat is None:
                q_hat = gap
                z_hat = z_hat + 0.5 * (z - z_hat)
            else:
                z_hat = z_hat + 0.5 * (z - z_hat)
                q_hat = q_hat + 0.5 * (gap - q_hat)
        fc = None if q_hat is None else z_hat / q_hat
        return pd.DataFrame(
            [
                {
                    "key": key,
                    "n_demands": n,
                    "z_hat": z_hat,
                    "q_hat": q_hat,
                    "forecast": fc,
                }
            ]
        )

    return daily.groupBy("key").applyInPandas(
        lambda pdf: kernel(pdf), CROSTON_SCHEMA
    )


def forecast_backtest(
    events: DataFrame,
    bucket_sec: int = 3600,
    season: int = 24,
    horizon: int = 24,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Rolling-origin forecast backtest (Hyndman & Koehler 2006 MASE):
    the evaluation harness every forecaster in the family (ewma → holt →
    holt_winters → croston → ar2) gets judged with, as a first-class
    operator. Per key, the bucketed value series on its dense
    [min, max] bucket spine (missing buckets = 0, the gap_fill
    convention); the last ``horizon`` buckets are the test window.

    Forecast under test: seasonal-naive v̂_t = v_{t−season} (actuals, the
    standard one-step rolling origin). Scale denominator: the in-sample
    naive-1 MAE over the training region. Exactness: per-row values are
    quantized once to integer micro-units, every |error| sum is an exact
    bigint, and MASE = (Σ_test·n_train) / (Σ_train·n_test) is ONE IEEE
    division of exact bigint products — no float accumulation. Buckets
    whose lag falls before the spine contribute to neither sum (counts
    are emitted so the oracle pins the same support).

    Scale: one combinable (key, bucket) groupBy (bucket-grid-bounded:
    ≤ keys × span/bucket_sec rows); the spine explode is per-key-range-
    bounded. With the bounded sums side broadcast (the measured local
    plan), the spine keeps the rng groupBy's key partitioning, so the
    window AND the final groupBy reuse that one exchange; with a high-
    cardinality key the join falls back to a (key, bucket) shuffle and
    the window re-partitions on key — still bucket-grid-bounded rows.
    """
    vu = F.round(F.col(value_col).cast("double") * F.lit(1000000.0)).cast("bigint")
    b = F.floor(F.unix_timestamp(F.col(ts_col)).cast("long") / bucket_sec).cast(
        "long"
    )
    sums = (
        events.where(F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col)))
        .select(F.col(key_col).alias("key"), b.alias("bucket"), vu.alias("vu"))
        .groupBy("key", "bucket")
        .agg(F.sum("vu").cast("bigint").alias("s"))
    )
    spine = (
        sums.groupBy("key")
        .agg(F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi"))
        .select(
            "key",
            F.col("_hi").alias("bmax"),
            F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("bucket"),
        )
    )
    dense = spine.join(sums, ["key", "bucket"], "left").select(
        "key", "bucket", "bmax", F.coalesce(F.col("s"), F.lit(0)).alias("v")
    )
    w = Window.partitionBy("key").orderBy("bucket")
    lagged = dense.select(
        "key",
        "bucket",
        "bmax",
        "v",
        F.lag("v", season).over(w).alias("f_sn"),
        F.lag("v", 1).over(w).alias("f_n1"),
    )
    is_test = F.col("bucket") > F.col("bmax") - F.lit(int(horizon))
    e_term = F.when(
        is_test & F.col("f_sn").isNotNull(), F.abs(F.col("v") - F.col("f_sn"))
    )
    d_term = F.when(
        (~is_test) & F.col("f_n1").isNotNull(), F.abs(F.col("v") - F.col("f_n1"))
    )
    g = lagged.groupBy("key").agg(
        F.count(e_term).cast("bigint").alias("n_test"),
        F.coalesce(F.sum(e_term), F.lit(0)).cast("bigint").alias("e_sum_u"),
        F.count(d_term).cast("bigint").alias("n_train"),
        F.coalesce(F.sum(d_term), F.lit(0)).cast("bigint").alias("d_sum_u"),
    )
    return g.select(
        "key",
        "n_test",
        "n_train",
        "e_sum_u",
        "d_sum_u",
        (
            (F.col("e_sum_u") * F.col("n_train")).cast("double")
            / F.nullif((F.col("d_sum_u") * F.col("n_test")).cast("double"), F.lit(0.0))
            + F.lit(0.0)
        ).alias("mase"),
    )


def allan_variance(
    events: DataFrame,
    bucket_sec: int = 1800,
    taus: tuple[int, ...] = (1, 2, 4, 8),
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Allan variance of the per-bucket event rate at multiple averaging
    times (Allan 1966; the clock-stability statistic, and the classic
    answer to "how far can I downsample this counter before the tier
    stops being informative"). For each ``m`` in ``taus``, base buckets
    on the dense per-key spine (missing = 0, the gap_fill convention)
    are merged into non-overlapping blocks of ``m`` — exactly a
    retention-tier rollup with factor m — and
    ``avar(m·τ0) = Σ_j (S_{j+1} − S_j)² / (2·(M−1)·m²)``
    over the M complete blocks' integer count sums S_j.

    Exactness: block sums and squared successive differences are exact
    bigints (counts are integers, the grid is dense); ``avar`` is ONE
    IEEE division of exact bigints, bit-identical cross-engine. Partial
    trailing blocks (nb < m) are dropped on both engines; keys with
    M < 2 complete blocks at a tier emit NULL avar.

    Scale: one combinable (key, bucket) count groupBy (grid-bounded),
    a broadcast 4-row tau table, then a (key, m)-keyed window+groupBy
    over ≤ |grid| rows per tier. No data-sized shuffle beyond the
    bucket rollup itself.
    """
    b = F.floor(F.unix_timestamp(F.col(ts_col)).cast("long") / bucket_sec).cast(
        "long"
    )
    counts = (
        events.select(F.col(key_col).alias("key"), b.alias("bucket"))
        .groupBy("key", "bucket")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    spine = (
        counts.groupBy("key")
        .agg(F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi"))
        .select(
            "key",
            F.col("_lo").alias("lo"),
            F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("bucket"),
        )
    )
    dense = spine.join(counts, ["key", "bucket"], "left").select(
        "key", "lo", "bucket", F.coalesce(F.col("c"), F.lit(0)).alias("v")
    )
    tau = dense.sparkSession.createDataFrame([(int(m),) for m in taus], "m int")
    blocks = (
        dense.crossJoin(F.broadcast(tau))
        .select(
            "key",
            "m",
            F.floor((F.col("bucket") - F.col("lo")) / F.col("m"))
            .cast("long")
            .alias("j"),
            "v",
        )
        .groupBy("key", "m", "j")
        .agg(
            F.sum("v").cast("bigint").alias("s"),
            F.count("*").cast("bigint").alias("nb"),
        )
        .where(F.col("nb") == F.col("m").cast("bigint"))
    )
    w = Window.partitionBy("key", "m").orderBy("j")
    d = blocks.select(
        "key", "m", "j", "s", (F.col("s") - F.lag("s", 1).over(w)).alias("ds")
    )
    g = d.groupBy("key", "m").agg(
        F.count("*").cast("bigint").alias("m_blocks"),
        F.coalesce(F.sum(F.col("ds") * F.col("ds")), F.lit(0))
        .cast("bigint")
        .alias("ss"),
    )
    denom = (
        F.lit(2)
        * (F.col("m_blocks") - F.lit(1))
        * F.col("m").cast("bigint")
        * F.col("m").cast("bigint")
    ).cast("double")
    return g.select(
        "key",
        "m",
        "m_blocks",
        "ss",
        (F.col("ss").cast("double") / F.nullif(denom, F.lit(0.0)) + F.lit(0.0)).alias(
            "avar"
        ),
    )


def alarm_transitions(
    events: DataFrame,
    hi_centi: int = 20000,
    lo_centi: int = 10000,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Two-threshold hysteresis alarm (the industrial alarm-management
    shape, ISA-18.2 deadband): alarm turns ON when the value reaches
    ``hi``, OFF only when it falls back to ``lo`` — the deadband
    between swallows chatter. Emits STATE TRANSITIONS only.

    No recursion needed: the alarm state at any row is the direction
    of the MOST RECENT threshold crossing, i.e. one
    ``last(ignorenulls)`` window over (t, id) — the relational trick
    that turns a state machine into a single pass. Rows before any
    crossing are OFF (pinned init). All comparisons integer centi.

    Scale: ONE keyed window; the transition filter is a lag over the
    same partitioning — exchange reused, one shuffle total.
    """
    from pyspark.sql.window import Window

    rows = events.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).cast("long").alias("t"),
        F.col(id_col).cast("long").alias("i"),
        F.round(F.col(value_col).cast("double") * 100)
        .cast("bigint")
        .alias("vc"),
    )
    cross = F.when(F.col("vc") >= hi_centi, F.lit(1)).when(
        F.col("vc") <= lo_centi, F.lit(0)
    )
    w = Window.partitionBy("key").orderBy("t", "i")
    st = rows.withColumn(
        "state",
        F.coalesce(
            F.last(cross, ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            F.lit(0),
        ).cast("bigint"),
    ).withColumn(
        "prev_state",
        F.coalesce(F.lag("state").over(w), F.lit(0)).cast("bigint"),
    )
    return st.filter(F.col("state") != F.col("prev_state")).select(
        "key",
        "t",
        F.col("i").alias("event_id"),
        "vc",
        "state",
    )


def basket_lift(
    lineitem: DataFrame,
    min_pair_support: int = 2,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
) -> DataFrame:
    """Market-basket pairwise lift (the association-rules building
    block): for item pairs co-occurring in ≥ ``min_pair_support``
    baskets, lift = P(a,b) / (P(a)·P(b)) over basket counts — emitted
    as the EXACT INTEGER quadruple (pair_n, a_n, b_n, n_baskets) plus
    lift as one fixed-order expression of those ints (identical double
    both engines; lift > 1 ⇒ affinity).

    Scale: baskets dedupe to distinct (order, item) first (one
    combinable groupBy), then the pair generator is a SELF-EQUI-JOIN
    ON THE BASKET KEY — fan-out bounded by (basket size choose 2),
    never |items|²; per-item supports ride a broadcast join. The
    support threshold prunes BEFORE the lift math. Typical basket
    sizes are single digits, so the shuffle is ~20× |lineitem| worst
    case — linear, the ngram_jaccard argument.
    """
    base = lineitem.select(
        F.col(order_col).alias("o"), F.col(item_col).alias("it")
    ).distinct()
    n_baskets = base.select("o").distinct().agg(
        F.count("*").cast("bigint").alias("n_baskets")
    )
    support = base.groupBy("it").agg(
        F.count("*").cast("bigint").alias("s")
    )
    a = base.select(F.col("o"), F.col("it").alias("ia"))
    b = base.select(F.col("o"), F.col("it").alias("ib"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").cast("bigint").alias("pair_n"))
        .filter(F.col("pair_n") >= min_pair_support)
    )
    sa = support.select(F.col("it").alias("ia"), F.col("s").alias("a_n"))
    sb = support.select(F.col("it").alias("ib"), F.col("s").alias("b_n"))
    out = (
        pairs.join(F.broadcast(sa), "ia")
        .join(F.broadcast(sb), "ib")
        .crossJoin(F.broadcast(n_baskets))
    )
    lift = (F.col("pair_n") * F.col("n_baskets")) / (
        F.col("a_n") * F.col("b_n")
    )
    return out.select(
        F.col("ia").alias("item_a"),
        F.col("ib").alias("item_b"),
        "pair_n",
        "a_n",
        "b_n",
        "n_baskets",
        lift.alias("lift"),
    )


def cuped_adjustment(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """CUPED variance-reduced A/B metrics (Deng, Xu, Kohavi & Walker
    WSDM 2013 — the pre-experiment-covariate adjustment every modern
    experimentation platform runs): per user, Y = post-period value
    sum, X = PRE-period value sum (periods split at the integer
    midpoint of the observed time range); θ = cov(X,Y)/var(X) pooled
    over all users; the adjusted arm mean is
    ``Ȳ_a − θ·(X̄_a − X̄)``, whose variance shrinks by the squared
    X–Y correlation.

    Exact-integer core: per-user X/Y are exact centi sums; θ's
    numerator ``n·Σxy − Σx·Σy`` and denominator ``n·Σxx − (Σx)²`` are
    exact bigints (values are bucket-level sums of rounded centi —
    no epoch-scale cancellation, the recenter rule's precondition);
    arm sums likewise. The adjusted means, the θ ratio, and the
    variance-reduction ratio ``ρ² = θ_num²/(θ_den·(n·Σyy−(Σy)²))``
    are FIXED-SHAPE double expressions over those integers (products
    formed after casting, the kruskal convention) — gate raw.
    Constant X (θ_den = 0) NULLs the adjustment, never divides by
    zero.

    Scale: one per-user combinable groupBy (two conditional sums), one
    scalar aggregate broadcast, one 2-row arm aggregate. Arms follow
    the house ``user_id % 2`` assignment (ab_ztest).

    Output per arm: (arm, n_users, sx, sy, theta_num, theta_den,
    raw_mean, adj_mean, var_reduction).
    """
    cu = F.round(F.col(value_col).cast("double") * 100).cast("bigint")
    sec = F.unix_timestamp(ts_col).cast("long")
    base = events.select(
        F.col(key_col).cast("long").alias("key"), cu.alias("vc"),
        sec.alias("sec"),
    )
    span = base.agg(
        F.expr("(min(sec) + max(sec)) div 2").cast("long").alias("mid")
    )
    per_user = (
        base.crossJoin(F.broadcast(span))
        .groupBy("key")
        .agg(
            F.sum(F.when(F.col("sec") < F.col("mid"), F.col("vc"))
                  .otherwise(F.lit(0))).cast("bigint").alias("x"),
            F.sum(F.when(F.col("sec") >= F.col("mid"), F.col("vc"))
                  .otherwise(F.lit(0))).cast("bigint").alias("y"),
        )
        .withColumn("arm", (F.col("key") % 2).cast("int"))
    )
    g = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("ax"),
        F.sum("y").cast("bigint").alias("ay"),
    )
    j = arms.crossJoin(F.broadcast(g))
    tn = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("bigint")
    td = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("bigint")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("bigint")
    theta = tn.cast("double") / F.nullif(td.cast("double"), F.lit(0.0))
    raw_mean = F.col("ay").cast("double") / (
        F.lit(100.0) * F.col("n_users").cast("double")
    )
    xbar_gap = (
        F.col("ax").cast("double") / F.col("n_users").cast("double")
        - F.col("sx").cast("double") / F.col("n").cast("double")
    )
    adj_mean = raw_mean - theta * xbar_gap / F.lit(100.0)
    vr = (tn.cast("double") * tn.cast("double")) / F.nullif(
        td.cast("double") * vy.cast("double"), F.lit(0.0)
    )
    return j.select(
        "arm", "n_users",
        F.col("ax").alias("sx"), F.col("ay").alias("sy"),
        tn.alias("theta_num"), td.alias("theta_den"),
        (raw_mean + F.lit(0.0)).alias("raw_mean"),
        (adj_mean + F.lit(0.0)).alias("adj_mean"),
        (vr + F.lit(0.0)).alias("var_reduction"),
    )


def apriori_triples(
    lineitem: DataFrame,
    min_support: int = 3,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
) -> DataFrame:
    """Apriori frequent-itemset mining up to size 3 (Agrawal & Srikant
    VLDB 1994) — the level-wise support-pruned lattice walk that
    :func:`basket_lift` (pairs only) and :func:`item_cf_similarity`
    (similarity, not support) don't cover: L1 → L2 → candidate triples
    by the JOIN STEP (two frequent pairs sharing their smallest item)
    → the PRUNE STEP (the third face (b,c) must itself be frequent —
    checked BEFORE any counting) → exact support counting.

    All-integer: supports are exact basket counts; output is every
    frequent triple with its support and its three face supports (the
    confidence bookkeeping a rule miner needs), all bigints.

    Scale: the Apriori argument IS the scale argument — candidates at
    level k+1 are generated from level k's SURVIVORS only, so the
    triple count is bounded by joins of the (support-pruned, hence
    small) L2 table, never by |items|³; support counting re-joins the
    basket table ONCE on the three items via the basket key. Baskets
    dedupe first; the L1 prune caps the join fan-out exactly like the
    hot-shingle caps cap theirs.

    Output: (item_a, item_b, item_c, support, sup_ab, sup_ac, sup_bc)
    with a < b < c.
    """
    base = lineitem.select(
        F.col(order_col).alias("o"), F.col(item_col).alias("it")
    ).distinct()
    l1 = base.groupBy("it").agg(
        F.count("*").cast("bigint").alias("s1")
    ).filter(F.col("s1") >= int(min_support))
    b1 = base.join(F.broadcast(l1.select("it")), "it")
    a = b1.select("o", F.col("it").alias("ia"))
    b = b1.select("o", F.col("it").alias("ib"))
    l2 = (
        a.join(b, "o")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").cast("bigint").alias("s2"))
        .filter(F.col("s2") >= int(min_support))
    )
    # join step: (a,b) ⋈ (a,c) with b < c; prune step: (b,c) ∈ L2
    p1 = l2.select(F.col("ia").alias("x"), F.col("ib").alias("yb"),
                   F.col("s2").alias("sab"))
    p2 = l2.select(F.col("ia").alias("x"), F.col("ib").alias("yc"),
                   F.col("s2").alias("sac"))
    cand = (
        p1.join(p2, "x")
        .filter(F.col("yb") < F.col("yc"))
        .join(
            l2.select(
                F.col("ia").alias("yb"), F.col("ib").alias("yc"),
                F.col("s2").alias("sbc"),
            ),
            ["yb", "yc"],
        )
        .select(
            F.col("x").alias("ia"), F.col("yb").alias("ib"),
            F.col("yc").alias("ic"), "sab", "sac", "sbc",
        )
    )
    # count only over items that appear in some candidate — cuts the
    # per-basket C(size,3) fan-out before it forms
    cand_items = (
        cand.select(F.col("ia").alias("it"))
        .unionByName(cand.select(F.col("ib").alias("it")))
        .unionByName(cand.select(F.col("ic").alias("it")))
        .distinct()
    )
    bc = base.join(F.broadcast(cand_items), "it")
    t1 = bc.select("o", F.col("it").alias("ia"))
    t2 = bc.select("o", F.col("it").alias("ib"))
    t3 = bc.select("o", F.col("it").alias("ic"))
    sup3 = (
        t1.join(t2, "o").join(t3, "o")
        .filter((F.col("ia") < F.col("ib")) & (F.col("ib") < F.col("ic")))
        .join(F.broadcast(cand.select("ia", "ib", "ic")), ["ia", "ib", "ic"])
        .groupBy("ia", "ib", "ic")
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= int(min_support))
    )
    return (
        sup3.join(F.broadcast(cand), ["ia", "ib", "ic"])
        .select(
            F.col("ia").alias("item_a"), F.col("ib").alias("item_b"),
            F.col("ic").alias("item_c"), "support",
            F.col("sab").alias("sup_ab"), F.col("sac").alias("sup_ac"),
            F.col("sbc").alias("sup_bc"),
        )
    )


def tukey_fences(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Tukey's boxplot fences (Tukey 1977, EDA): per key, values
    outside ``[Q1 − 1.5·IQR, Q3 + 1.5·IQR]`` are outliers — the
    distribution-shaped GLOBAL outlier rule next to the family's
    rolling (hampel), iterative (sigma_clip), clamping (winsorize) and
    dropping (trimmed_mean) robust aggregates.

    ZERO float: quartiles are nearest-rank order statistics at
    ``⌈n/4⌉`` / ``⌈3n/4⌉`` over the total (value, id) order (exact
    centi integers), and the 1.5·IQR fences cross-multiply into
    half-centi integer comparisons — ``v < Q1 − 1.5·IQR`` ⇔
    ``2·vc < 5·q1 − 3·q3`` (and ``2·vc > 5·q3 − 3·q1`` above). The
    fence positions are emitted in exact half-centi units.

    Scale: the winsorize shape — one key exchange serves the rank
    window, the flag projection, and the combinable groupBy.

    Output per key: (key, n, q1_centi, q3_centi, fence_lo_x2,
    fence_hi_x2, n_out_lo, n_out_hi).
    """
    cu = F.round(F.col(value_col).cast("double") * 100).cast("bigint")
    base = events.select(
        F.col(key_col).cast("string").alias("key"),
        cu.alias("vc"),
        F.col(id_col).cast("long").alias("id"),
    )
    wo = Window.partitionBy("key").orderBy("vc", "id")
    wk = Window.partitionBy("key")
    ranked = base.select(
        "key", "vc",
        F.row_number().over(wo).alias("rk"),
        F.count("*").over(wk).alias("n"),
    )
    q1r = F.expr("(n + 3) div 4")        # ceil(n/4)
    q3r = F.expr("(3 * n + 3) div 4")    # ceil(3n/4)
    qs = ranked.groupBy("key").agg(
        F.max("n").cast("bigint").alias("n"),
        F.min(F.when(F.col("rk") >= q1r, F.col("vc")))
        .cast("bigint").alias("q1_centi"),
        F.min(F.when(F.col("rk") >= q3r, F.col("vc")))
        .cast("bigint").alias("q3_centi"),
    )
    j = ranked.join(qs.select("key", "q1_centi", "q3_centi"), "key")
    lo = F.lit(2) * F.col("vc") < F.lit(5) * F.col("q1_centi") - F.lit(3) * F.col("q3_centi")
    hi = F.lit(2) * F.col("vc") > F.lit(5) * F.col("q3_centi") - F.lit(3) * F.col("q1_centi")
    agg = j.groupBy("key", "q1_centi", "q3_centi").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(lo.cast("int")).cast("bigint").alias("n_out_lo"),
        F.sum(hi.cast("int")).cast("bigint").alias("n_out_hi"),
    )
    return agg.select(
        "key", "n", "q1_centi", "q3_centi",
        (F.lit(5) * F.col("q1_centi") - F.lit(3) * F.col("q3_centi"))
        .cast("bigint").alias("fence_lo_x2"),
        (F.lit(5) * F.col("q3_centi") - F.lit(3) * F.col("q1_centi"))
        .cast("bigint").alias("fence_hi_x2"),
        "n_out_lo", "n_out_hi",
    )


def kruskal_wallis(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Kruskal–Wallis k-group rank test (Kruskal & Wallis JASA 1952),
    tie-robust variance form — "do the k groups share a value
    distribution?", the k-group generalization of the Mann–Whitney
    machinery already behind roc_auc.

    Exact-integer core on DOUBLED midranks (Σdr ≡ N(N+1), so the grand
    doubled mean is exactly N+1): per group ``A_i = (R2_i − n_i(N+1))²``
    and the global ``B = Σ_v cnt_v·(dr_v − (N+1))²`` are order-free
    bigint sums; the statistic ``H = (N−1)·Σ_i A_i/(n_i·B)`` is emitted
    PER GROUP as ``h_contrib = (N−1)·A_i/(n_i·B)`` — one division per
    row, the mi_contingency convention (the total would be an unordered
    float sum; the reader's fold is one line). Ranks derive from the
    BOUNDED distinct-value histogram (dr = 2·#less + #eq + 1), never a
    global row window — the ks_drift sketch shape.

    Scale: one (key, vc) groupBy, one vc histogram with a cumsum over
    sketch rows, broadcast scalars. Integer-range contract: the centered
    deviation r2 - n(N+1) is exact bigint (|dev| <= 2N²); its square A_i
    is formed in DOUBLE (cast-then-square, one IEEE product, identical
    on both engines) so it cannot wrap int64 at any group size. B stays
    exact bigint through N ~ 2e6 rows (N³ < 2^63).

    Output per group: (key, n, r2, a, b, n_total, h_contrib).
    """
    cu = F.round(F.col(value_col).cast("double") * 100).cast("bigint")
    base = events.select(
        F.col(key_col).cast("string").alias("key"), cu.alias("vc")
    )
    hg = base.groupBy("key", "vc").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    ha = hg.groupBy("vc").agg(F.sum("cnt").cast("bigint").alias("cnt_all"))
    wv = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, -1)
    ranked = ha.withColumn(
        "less", F.coalesce(F.sum("cnt_all").over(wv), F.lit(0))
    ).withColumn(
        "dr",
        (F.lit(2) * F.col("less") + F.col("cnt_all") + F.lit(1))
        .cast("bigint"),
    )
    tot = ha.agg(F.sum("cnt_all").cast("bigint").alias("n_total"))
    b = (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("cnt_all")
                * (F.col("dr") - (F.col("n_total") + 1))
                * (F.col("dr") - (F.col("n_total") + 1))
            )
            .cast("bigint")
            .alias("b")
        )
    )
    grp = (
        hg.join(ranked.select("vc", "dr"), "vc")
        .groupBy("key")
        .agg(
            F.sum("cnt").cast("bigint").alias("n"),
            F.sum(F.col("cnt") * F.col("dr")).cast("bigint").alias("r2"),
        )
    )
    out = grp.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(b))
    # The centered deviation r2 - n(N+1) stays well inside int64
    # (|r2| <= 2N², ~2e10 at 1e5 rows), but its SQUARE passes 2^63 once
    # |dev| > ~3e9 — Spark (non-ANSI) would wrap silently while DuckDB's
    # HUGEINT path stays exact. Cast the exact bigint deviation to double
    # FIRST and square in double: one correctly-rounded IEEE product,
    # bit-identical on both engines at any group size.
    dev = (
        F.col("r2") - F.col("n") * (F.col("n_total") + 1)
    ).cast("double")
    a = dev * dev
    # (N-1)·A can pass 2^63 before the ratio forms — multiply as
    # doubles (both factors cast from exact bigints, correctly rounded
    # identically on both engines; fixed shape)
    h = (
        (F.col("n_total") - 1).cast("double") * a
        / F.nullif((F.col("n") * F.col("b")).cast("double"), F.lit(0.0))
    )
    return out.select(
        "key", "n", "r2", a.alias("a"), "b", "n_total",
        (h + F.lit(0.0)).alias("h_contrib"),
    )


def pettitt_test(
    events: DataFrame,
    bucket_sec: int = 3600,
    key_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Pettitt's nonparametric changepoint test (Pettitt JRSS-C 1979)
    per key over the bucket-sum series — the rank-based single-
    changepoint detector (the distribution-free companion to CUSUM's
    mean-shift statistic).

    EXACT-INTEGER reduction, ties included: Pettitt's
    ``U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j)`` collapses to the prefix
    sum ``U_t = Σ_{i≤t} w_i`` where ``w_i = #less(x_i) − #greater(x_i)``
    over the WHOLE series — because the within-prefix sgn sum vanishes
    by antisymmetry. ``w_i = 2·rank_min + ties − 2 − n`` is an exact
    integer (the spearman doubled-midrank machinery), the prefix sum is
    an integer cumsum in bucket order, ``K = max_t |U_t|`` (t < n) an
    integer max, and the changepoint the SMALLEST bucket attaining it.
    No float anywhere.

    Scale: one (key, bucket) tier-1 groupBy; rank/cumsum windows and
    the final groupBy all partition by key.

    Output per key with n ≥ 2: (key, n, k_stat, u_at_cp, cp_bucket).
    """
    cu = F.round(F.col(value_col).cast("double") * 100).cast("bigint")
    t1 = (
        events.select(
            F.col(key_col).cast("string").alias("key"),
            F.floor(F.unix_timestamp(ts_col) / bucket_sec)
            .cast("long")
            .alias("bucket"),
            cu.alias("vc"),
        )
        .groupBy("key", "bucket")
        .agg(F.sum("vc").cast("bigint").alias("s"))
    )
    wk = Window.partitionBy("key")
    w = (
        F.lit(2) * F.rank().over(wk.orderBy("s"))
        + F.count("*").over(Window.partitionBy("key", "s"))
        - F.lit(2)
        - F.count("*").over(wk)
    ).cast("bigint")
    wo = wk.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rows = t1.select(
        "key", "bucket", w.alias("w"), F.count("*").over(wk).alias("n")
    ).select(
        "key", "bucket", "n",
        F.sum("w").over(wo).cast("bigint").alias("u"),
        F.row_number().over(wk.orderBy("bucket")).alias("t"),
    )
    cand = rows.filter((F.col("t") < F.col("n")) & (F.col("n") >= 2))
    kmax = cand.groupBy("key", "n").agg(
        F.max(F.abs(F.col("u"))).cast("bigint").alias("k_stat")
    )
    at = (
        cand.join(kmax, ["key", "n"])
        .filter(F.abs(F.col("u")) == F.col("k_stat"))
        .groupBy("key", "n", "k_stat")
        .agg(
            F.min("bucket").cast("bigint").alias("cp_bucket"),
            F.min_by("u", "bucket").cast("bigint").alias("u_at_cp"),
        )
    )
    return at.select("key", "n", "k_stat", "u_at_cp", "cp_bucket")


def k_anonymity_audit(
    table: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    l: int = 2,
) -> DataFrame:
    """k-anonymity + l-diversity privacy audit (Sweeney IJUFKS 2002;
    Machanavajjhala et al. ICDE 2006) — the release-gate check a data
    platform runs before publishing a quasi-identifier projection:
    every equivalence class (distinct quasi-identifier tuple) must
    contain ≥ k records (re-identification bound) and ≥ l distinct
    sensitive values (homogeneity-attack bound).

    Per class: exact integer ``class_size`` and ``l_distinct``
    (COUNT(DISTINCT sensitive) — exact, not a sketch: the audit is a
    gate, an estimate can pass a violating class), integer violation
    flags, and the table-wide minima broadcast onto every row so one
    glance gives the release decision. No float anywhere.

    Scale: one (quasi-tuple) groupBy with a distinct aggregate —
    Catalyst plans count(distinct) as the standard two-phase expand —
    plus a scalar broadcast. Classes are the bounded dimension.
    """
    qs = [F.col(c) for c in quasi_cols]
    cls = table.groupBy(*qs).agg(
        F.count("*").cast("bigint").alias("class_size"),
        F.countDistinct(F.col(sensitive_col)).cast("bigint")
        .alias("l_distinct"),
    )
    flagged = cls.select(
        *quasi_cols,
        "class_size",
        "l_distinct",
        (F.col("class_size") < int(k)).cast("int").alias("violates_k"),
        (F.col("l_distinct") < int(l)).cast("int").alias("violates_l"),
    )
    overall = flagged.agg(
        F.min("class_size").cast("bigint").alias("k_min"),
        F.min("l_distinct").cast("bigint").alias("l_min"),
        F.sum("violates_k").cast("bigint").alias("n_k_violations"),
        F.sum("violates_l").cast("bigint").alias("n_l_violations"),
    )
    return flagged.crossJoin(F.broadcast(overall))


def nelson_aalen(
    events: DataFrame,
    grain_sec: int = 3600,
    churn_sec: int = 21600,
    key_col: str = "user_id",
    ts_col: str = "sec",
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator (Nelson 1972; Aalen
    1978) over the SAME censored-lifetime derivation as
    :func:`kaplan_meier` — ``H(t) = Σ_{s≤t} d_s/n_s``, the additive
    companion to the product-limit curve (and the exp(−H) cross-check
    every survival toolkit ships).

    Exactness: each hazard increment is the INTEGER floor division
    ``h = (10⁹·d) div n`` and the cumulative hazard is an INTEGER
    running sum over the event-time order — no float anywhere, no
    rounding convention, no recursive walk (the increment, unlike the
    KM product, is order-free; only the prefix sum needs the order,
    and integer cumsum is exact). Bias ≤ 1e-9 per step, documented.

    Scale: identical shape to kaplan_meier minus the kernel — the
    cumsum window runs over the horizon-BOUNDED duration table
    (hundreds of rows), never raw users.

    Output per event time: (t_age, n_risk, n_event, h_x1e9,
    cumhaz_x1e9).
    """
    per_user = events.groupBy(F.col(key_col).alias("u")).agg(
        F.min(F.col(ts_col).cast("long")).alias("first_t"),
        F.max(F.col(ts_col).cast("long")).alias("last_t"),
    )
    study_end = events.agg(
        F.max(F.col(ts_col).cast("long")).alias("study_end")
    )
    users = per_user.crossJoin(F.broadcast(study_end)).select(
        F.floor((F.col("last_t") - F.col("first_t")) / grain_sec)
        .cast("long")
        .alias("d"),
        (F.col("study_end") - F.col("last_t") >= churn_sec)
        .cast("int")
        .alias("churned"),
    )
    per_d = users.groupBy("d").agg(
        F.count("*").cast("bigint").alias("n_at_d"),
        F.sum("churned").cast("bigint").alias("e_at_d"),
    )
    total = users.agg(F.count("*").cast("bigint").alias("tot"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    steps = (
        per_d.crossJoin(F.broadcast(total))
        .withColumn("before", F.coalesce(F.sum("n_at_d").over(w), F.lit(0)))
        .select(
            F.col("d").alias("t_age"),
            (F.col("tot") - F.col("before")).cast("bigint").alias("n_risk"),
            F.col("e_at_d").alias("n_event"),
        )
        .filter(F.col("n_event") > 0)
        .withColumn(
            "h_x1e9",
            F.expr("(1000000000 * n_event) div n_risk").cast("bigint"),
        )
    )
    wc = Window.orderBy("t_age").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return steps.withColumn(
        "cumhaz_x1e9", F.sum("h_x1e9").over(wc).cast("bigint")
    ).select("t_age", "n_risk", "n_event", "h_x1e9", "cumhaz_x1e9")


def quantile_transform(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-row quantile (rank) normalization — the scikit-learn
    ``QuantileTransformer`` / rank-INT preprocessing step, made exact:
    each row's normalized position is its MIDRANK over its key's value
    distribution, emitted as the pure integer
    ``q_micro = 10⁶·dr div (2·(n+1))`` (dr = doubled midrank, so the
    ratio is the Bliss/van-der-Waerden ``rank/(n+1)`` plackett form in
    micro-units — strictly inside (0, 10⁶), ties share a value, no
    float anywhere).

    Derivation rides the BOUNDED value histogram (dr = 2·#less + #eq
    + 1, the kruskal chain): one (key, vc) groupBy, a cumsum over
    sketch rows, one join back onto raw rows keyed (key, vc). No
    global row window at any scale.

    Output per row: (key, event_id, vc, dr, n, q_micro).
    """
    cu = F.round(F.col(value_col).cast("double") * 100).cast("bigint")
    base = events.select(
        F.col(key_col).cast("string").alias("key"),
        cu.alias("vc"),
        F.col(id_col).cast("long").alias("event_id"),
    )
    hg = base.groupBy("key", "vc").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    wv = Window.partitionBy("key").orderBy("vc").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wk = Window.partitionBy("key")
    ranked = hg.select(
        "key", "vc",
        (F.lit(2) * F.coalesce(F.sum("cnt").over(wv), F.lit(0))
         + F.col("cnt") + F.lit(1)).cast("bigint").alias("dr"),
        F.sum("cnt").over(wk).cast("bigint").alias("n"),
    )
    return base.join(ranked, ["key", "vc"]).select(
        "key", "event_id", "vc", "dr", "n",
        F.expr("(1000000 * dr) div (2 * (n + 1))").cast("bigint")
        .alias("q_micro"),
    )


def kendall_pairs(
    events: DataFrame,
    bucket_sec: int = 3600,
    key_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Kendall's tau-b between every key pair's bucket-sum series
    (Kendall 1938; tau-b tie correction) — the concordance companion
    to :func:`spearman_pairs` (rank agreement vs pairwise ordering
    agreement; tau is the one with the direct probabilistic reading
    P(concordant) − P(discordant)).

    EXACT pair classification: every bucket pair (i < j in bucket
    order) is concordant / discordant / x-tied / y-tied / both-tied by
    pure integer sign tests on the exact centi sums; tau-b is then ONE
    fixed-shape expression over five bigint counts::

        tau_b = (C − D) / sqrt((C + D + Ty)·(C + D + Tx))

    (Tx = tied in x only, Ty = tied in y only — the both-tied pairs
    drop out of both factors, which IS the tie correction). Zero
    variance in either series → a 0 factor → NULL via the clamped
    NULLIF'd sqrt (the spearman convention).

    Scale: the O(n²) bucket-pair join runs over the BOUNDED
    (keys × buckets) tier-1 sketch — n is the bucket-grid span, never
    the raw row count (the ks/emd argument taken quadratic); the
    conditional-sum groupBy is map-side combinable.
    """
    cu = F.round(F.col(value_col).cast("double") * 100).cast("bigint")
    t1 = (
        events.select(
            F.col(key_col).cast("string").alias("key"),
            F.floor(F.unix_timestamp(ts_col) / bucket_sec)
            .cast("long")
            .alias("bucket"),
            cu.alias("vc"),
        )
        .groupBy("key", "bucket")
        .agg(F.sum("vc").cast("bigint").alias("s"))
    )
    a = t1.select(
        F.col("key").alias("key_a"), "bucket", F.col("s").alias("x")
    )
    b = t1.select(
        F.col("key").alias("key_b"), "bucket", F.col("s").alias("y")
    )
    rows = a.join(b, "bucket").where(F.col("key_a") < F.col("key_b"))
    r1 = rows.select(
        "key_a", "key_b", F.col("bucket").alias("b1"),
        F.col("x").alias("x1"), F.col("y").alias("y1"),
    )
    r2 = rows.select(
        "key_a", "key_b", F.col("bucket").alias("b2"),
        F.col("x").alias("x2"), F.col("y").alias("y2"),
    )
    pp = r1.join(r2, ["key_a", "key_b"]).where(F.col("b1") < F.col("b2"))
    dx = F.col("x1") - F.col("x2")
    dy = F.col("y1") - F.col("y2")
    conc = ((dx > 0) & (dy > 0)) | ((dx < 0) & (dy < 0))
    disc = ((dx > 0) & (dy < 0)) | ((dx < 0) & (dy > 0))
    tx_only = (dx == 0) & (dy != 0)
    ty_only = (dy == 0) & (dx != 0)
    agg = pp.groupBy("key_a", "key_b").agg(
        F.count("*").cast("bigint").alias("n0"),
        F.sum(conc.cast("int")).cast("bigint").alias("c"),
        F.sum(disc.cast("int")).cast("bigint").alias("d"),
        F.sum(tx_only.cast("int")).cast("bigint").alias("tx"),
        F.sum(ty_only.cast("int")).cast("bigint").alias("ty"),
    )
    denom = F.sqrt(
        F.greatest(
            ((F.col("c") + F.col("d") + F.col("ty"))
             * (F.col("c") + F.col("d") + F.col("tx"))).cast("double"),
            F.lit(0.0),
        )
    )
    tau = (F.col("c") - F.col("d")).cast("double") / F.nullif(
        denom, F.lit(0.0)
    )
    return agg.select(
        "key_a", "key_b", "n0", "c", "d", "tx", "ty",
        (tau + F.lit(0.0)).alias("tau_b"),
    )


def spearman_pairs(
    events: DataFrame,
    bucket_sec: int = 3600,
    key_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Spearman rank correlation between every key pair's bucket-sum
    series (Spearman 1904, midrank/tie-corrected form) — the monotone
    dependence monitor next to the Pearson CCF and the KS/EMD drift
    pair.

    Exactness via DOUBLED MIDRANKS (the roc_auc half-unit trick):
    within each pair's shared-bucket set, ``d = 2·rank_min + ties − 1``
    is an exact integer, and tie-corrected Spearman IS Pearson on
    midranks — so rho reduces to ONE fixed-shape expression over five
    exact bigint sums::

        rho = (n·Σdxdy − Σdx·Σdy)
              / sqrt(max(n·Σdx²−(Σdx)², 0) · max(n·Σdy²−(Σdy)², 0))

    (greatest-clamped per the ANSI zero-variance rule; NULL when either
    rank variance is 0 — a constant series has no monotone order).
    Bucket sums are exact centi integers, so ranks are tie-order
    independent on both engines.

    Scale: raw rows fold into the (key, bucket) tier-1 groupBy once;
    the pair join fans out over BOUNDED (keys × buckets) sketch rows
    (the emd/ks shape); rank windows partition by pair.
    """
    cu = F.round(F.col(value_col).cast("double") * 100).cast("bigint")
    t1 = (
        events.select(
            F.col(key_col).cast("string").alias("key"),
            F.floor(F.unix_timestamp(ts_col) / bucket_sec)
            .cast("long")
            .alias("bucket"),
            cu.alias("vc"),
        )
        .groupBy("key", "bucket")
        .agg(F.sum("vc").cast("bigint").alias("s"))
    )
    a = t1.select(
        F.col("key").alias("key_a"), "bucket", F.col("s").alias("x")
    )
    b = t1.select(
        F.col("key").alias("key_b"), "bucket", F.col("s").alias("y")
    )
    pairs = a.join(b, "bucket").where(F.col("key_a") < F.col("key_b"))
    wp = Window.partitionBy("key_a", "key_b")

    def dblrank(col: str) -> Column:
        r = F.rank().over(wp.orderBy(col))
        eq = F.count("*").over(Window.partitionBy("key_a", "key_b", col))
        return (F.lit(2) * r + eq - F.lit(1)).cast("bigint")

    ranked = pairs.select(
        "key_a", "key_b",
        dblrank("x").alias("dx"), dblrank("y").alias("dy"),
    )
    agg = ranked.groupBy("key_a", "key_b").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
    )
    varx = F.greatest(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double"),
        F.lit(0.0),
    )
    vary = F.greatest(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double"),
        F.lit(0.0),
    )
    rho = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / F.nullif(F.sqrt(varx * vary), F.lit(0.0))
    )
    return agg.select(
        "key_a", "key_b", "n", "sx", "sy", "sxx", "syy", "sxy",
        (rho + F.lit(0.0)).alias("rho"),
    )


def winsorized_stats(
    events: DataFrame,
    pct: int = 5,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Winsorized robust aggregate (Tukey; Dixon & Tukey 1968) — the
    CLAMPING companion to :func:`trimmed_mean` (which drops): per key,
    values below the ``pct``-th / above the ``(100−pct)``-th
    nearest-rank order statistic are REPLACED by those bounds, and the
    winsorized mean is ONE division of exact centi-unit integers.

    The classic count convention, SHARED with :func:`trimmed_mean`:
    ``k = n·pct//100`` per side; the k smallest values are raised to
    the rank-``k+1`` order statistic and the k largest lowered to the
    rank-``n−k`` one, over the TOTAL ``(value, id)`` order — pure
    integer rank comparisons, deterministic under any tie pattern.
    Clamping, summing, and counting are all integer; nothing float
    ever forms except the final mean division.

    Scale: ONE key-hash exchange serves the rank window, the per-row
    clamp, and the final combinable groupBy (same key prefix). No
    global sort, no broadcast of raw rows.

    Output: (key, n, lo_centi, hi_centi, n_clamped_lo, n_clamped_hi,
    winsorized_sum_centi, winsorized_mean).
    """
    if not 0 < pct < 50:
        raise ValueError("pct must be in (0, 50)")
    cu = F.round(F.col(value_col).cast("double") * 100).cast("bigint")
    base = events.select(
        F.col(key_col).cast("string").alias("key"),
        cu.alias("vc"),
        F.col(id_col).cast("long").alias("id"),
    )
    wo = Window.partitionBy("key").orderBy("vc", "id")
    wk = Window.partitionBy("key")
    ranked = base.select(
        "key", "vc",
        F.row_number().over(wo).alias("rk"),
        F.count("*").over(wk).alias("n"),
    )
    lo_rank = F.expr(f"(({pct} * n) div 100) + 1")
    hi_rank = F.expr(f"n - (({pct} * n) div 100)")
    bounds = ranked.groupBy("key").agg(
        F.max("n").cast("bigint").alias("n"),
        F.min(F.when(F.col("rk") >= lo_rank, F.col("vc")))
        .cast("bigint").alias("lo_centi"),
        F.min(F.when(F.col("rk") >= hi_rank, F.col("vc")))
        .cast("bigint").alias("hi_centi"),
    )
    clamped = ranked.join(bounds.select("key", "lo_centi", "hi_centi"), "key")
    wv = F.least(F.greatest(F.col("vc"), F.col("lo_centi")), F.col("hi_centi"))
    agg = clamped.groupBy("key", "lo_centi", "hi_centi").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("vc") < F.col("lo_centi")).cast("int"))
        .cast("bigint").alias("n_clamped_lo"),
        F.sum((F.col("vc") > F.col("hi_centi")).cast("int"))
        .cast("bigint").alias("n_clamped_hi"),
        F.sum(wv).cast("bigint").alias("winsorized_sum_centi"),
    )
    mean = F.col("winsorized_sum_centi").cast("double") / (
        F.lit(100.0) * F.col("n").cast("double")
    )
    return agg.select(
        "key", "n", "lo_centi", "hi_centi", "n_clamped_lo", "n_clamped_hi",
        "winsorized_sum_centi", (mean + F.lit(0.0)).alias("winsorized_mean"),
    )


def quantile_discretize(
    events: DataFrame,
    n_bins: int = 4,
    value_col: str = "value",
) -> DataFrame:
    """Exact equal-frequency quantile discretization (the Spark MLlib
    ``QuantileDiscretizer`` / feature-binning primitive, made
    bit-deterministic): values quantize ONCE to centi-units, bin edges
    are the NEAREST-RANK order statistics at ranks ``⌈j·n/n_bins⌉``
    (j = 1..n_bins−1, the hdr integer-rank convention), and a row's bin
    is the pure integer count of edges strictly below its value (edge
    ties bin LOW). No float ever forms.

    Scale: raw rows fold into the bounded distinct-value sketch table
    in one combinable groupBy; the cumulative rank walk runs over THAT
    table (the ks_drift shape — a single-partition window over sketch
    rows, never raw rows), edges broadcast back as n_bins−1 scalar
    columns, and the final per-bin groupBy is combinable. Ties can make
    bins uneven (exactness over evenness — documented).

    Output per observed bin: ``(bin, n_rows, lo_vc, hi_vc)`` plus the
    edge list repeated for visibility.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    cu = F.round(F.col(value_col).cast("double") * 100).cast("bigint")
    vals = events.select(cu.alias("vc"))
    hist = vals.groupBy("vc").agg(F.count("*").cast("bigint").alias("cnt"))
    wcum = Window.orderBy("vc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dense = hist.withColumn("cum", F.sum("cnt").over(wcum))
    total = hist.agg(F.sum("cnt").cast("bigint").alias("n"))
    ranks = dense.crossJoin(F.broadcast(total))
    edge_cols = []
    for j in range(1, int(n_bins)):
        # nearest-rank: smallest vc whose cumulative count reaches
        # ceil(j*n/n_bins) = (j*n + n_bins - 1) div n_bins
        r = F.expr(f"({j} * n + {int(n_bins) - 1}) div {int(n_bins)}")
        edge_cols.append(
            F.min(F.when(F.col("cum") >= r, F.col("vc"))).alias(f"e{j}")
        )
    edges = ranks.agg(*edge_cols)
    tagged = vals.crossJoin(F.broadcast(edges))
    bin_expr = None
    for j in range(1, int(n_bins)):
        term = (F.col("vc") > F.col(f"e{j}")).cast("int")
        bin_expr = term if bin_expr is None else bin_expr + term
    out = (
        tagged.withColumn("bin", bin_expr.cast("int"))
        .groupBy("bin", *[f"e{j}" for j in range(1, int(n_bins))])
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("vc").cast("bigint").alias("lo_vc"),
            F.max("vc").cast("bigint").alias("hi_vc"),
        )
    )
    return out.select(
        "bin", "n_rows", "lo_vc", "hi_vc",
        *[F.col(f"e{j}").cast("bigint").alias(f"e{j}")
          for j in range(1, int(n_bins))],
    )


def cep_pattern_match(
    events: DataFrame,
    a_type: str,
    b_type: str,
    not_between: str,
    window_sec: int = 3600,
    key_col: str = "user_id",
    sec_col: str = "sec",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Event-pattern (CEP) matching with a NEGATIVE condition — the
    ClickHouse ``sequenceMatch('(?1)(?t<=w)(?3)')``-with-``(?2)``-absent
    / Flink CEP ``notFollowedBy`` primitive: per key, an occurrence of
    ``a_type`` matches iff the NEXT ``b_type`` event (in the total
    event order) is within ``window_sec`` AND no ``not_between`` event
    falls strictly between them. The funnel operator can't express the
    negation; this is the "click converted to purchase with no error in
    between" query.

    Determinism: events are totally ordered by the packed integer sort
    key ``sk = sec·2²⁴ + event_id`` (the house sessionization
    total-order rule — DuckDB orders TIES independently per window
    function, so both "next B" and "next C" look-aheads run over the
    SAME integer order; contract: ``event_id < 2²⁴``, enforced in-plan
    by a codegen ``raise_error`` branch folded into the pack — larger
    ids would silently corrupt the total order identically in operator,
    oracle, and stream, so the gate could never catch it). "Between" is
    strict in that total order. The WINDOW test compares SECONDS
    (``next_b div 2²⁴ - sec <= window_sec``), not packed keys — a
    packed-key comparison would make the exact-boundary pair
    id-dependent (included iff ``event_id_b <= event_id_a``). All
    comparisons integer.

    Scale: ONE key-hash exchange + one sort serve both look-ahead
    window passes (same spec) and the final per-key groupBy extends
    the key prefix — exchange reused, no joins, no pair blow-up
    (the candidate-pair formulation would be A×B per key).

    Output per key with ≥1 A event: ``(key, n_a, n_matches, matched,
    first_a_sec, first_b_sec)`` — first match = smallest matching A in
    the total order; NULLs when unmatched.
    """
    sk = F.when(
        F.col(id_col).cast("long") < F.lit(1 << 24),
        F.col(sec_col).cast("long") * F.lit(1 << 24)
        + F.col(id_col).cast("long"),
    ).otherwise(
        F.raise_error(F.lit("cep_pattern_match: event_id >= 2^24 "
                            "breaks the packed total order"))
        .cast("long")
    ).alias("sk")
    base = events.select(
        F.col(key_col).alias("key"),
        F.col(sec_col).cast("long").alias("sec"),
        F.col(type_col).alias("etype"),
        sk,
    )
    w = (
        Window.partitionBy("key")
        .orderBy("sk")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    look = base.select(
        "key", "sec", "etype", "sk",
        F.min(
            F.when(F.col("etype") == b_type, F.col("sk"))
        ).over(w).alias("next_b"),
        F.min(
            F.when(F.col("etype") == not_between, F.col("sk"))
        ).over(w).alias("next_c"),
    )
    a = look.filter(F.col("etype") == a_type)
    hit = (
        F.col("next_b").isNotNull()
        & (
            (F.expr(f"next_b div {1 << 24}") - F.col("sec"))
            <= F.lit(int(window_sec))
        )
        & (F.col("next_c").isNull() | (F.col("next_c") > F.col("next_b")))
    )
    flagged = a.select(
        "key", "sec", "sk", "next_b", hit.cast("int").alias("hit")
    )
    agg = flagged.groupBy("key").agg(
        F.count("*").cast("bigint").alias("n_a"),
        F.sum("hit").cast("bigint").alias("n_matches"),
        F.min(F.when(F.col("hit") == 1, F.col("sk"))).alias("_first_sk"),
    )
    # first_b must belong to the FIRST matching A, not the min over all
    # matches — rejoin on the min sk (integer equality, deterministic)
    first = flagged.select(
        "key", F.col("sk").alias("_first_sk"),
        F.col("sec").alias("first_a_sec"),
        F.expr(f"next_b div {1 << 24}").cast("long").alias("_fb"),
    )
    out = agg.join(first, ["key", "_first_sk"], "left")
    return out.select(
        "key", "n_a", "n_matches",
        (F.col("n_matches") > 0).cast("int").alias("matched"),
        F.col("first_a_sec").cast("bigint").alias("first_a_sec"),
        F.col("_fb").cast("bigint").alias("first_b_sec"),
    )


def item_cf_similarity(
    baskets: DataFrame,
    min_cn: int = 2,
    max_basket_size: int | None = None,
    basket_col: str = "o",
    item_col: str = "it",
) -> DataFrame:
    """Item–item collaborative-filtering similarity (Sarwar, Karypis,
    Konstan & Riedl WWW 2001; Deshpande & Karypis TOIS 2004): for every
    item pair sharing ≥ ``min_cn`` baskets, the NEIGHBORHOOD-SET
    Jaccard and cosine over basket incidence — the one-mode-projection
    link-prediction / "customers who bought X also bought Y" primitive
    (common-neighbor count over the bipartite basket–item graph).

    Distinct from :func:`basket_lift` (support/lift association rules):
    here the statistics are SET similarities of the two items'
    basket neighborhoods — ``jaccard = cn/(deg_a+deg_b−cn)`` and
    ``cosine = cn/√(deg_a·deg_b)`` — each ONE fixed-shape expression
    over exact integers (sqrt is IEEE correctly-rounded, so both
    doubles are bit-stable cross-engine).

    Scale: (basket, item) dedups in one combinable groupBy; the pair
    generator is the basket-keyed SELF-EQUI-JOIN — fan-out
    Σ C(|basket|, 2), never |items|². ``max_basket_size`` is the
    hot-key cap knob (the shingle/band convention): baskets larger
    than the cap are dropped from PAIR GENERATION only (degrees keep
    counting them), a documented recall trade; None = exact. Degrees
    ride broadcast joins onto the cn-pruned pair table.
    """
    base = baskets.select(
        F.col(basket_col).alias("o"), F.col(item_col).alias("it")
    ).distinct()
    deg = base.groupBy("it").agg(F.count("*").cast("bigint").alias("deg"))
    gen = base
    if max_basket_size is not None:
        sizes = base.groupBy("o").agg(F.count("*").cast("bigint").alias("_sz"))
        gen = (
            base.join(sizes, "o")
            .filter(F.col("_sz") <= int(max_basket_size))
            .drop("_sz")
        )
    a = gen.select("o", F.col("it").alias("ia"))
    b = gen.select("o", F.col("it").alias("ib"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").cast("bigint").alias("cn"))
        .filter(F.col("cn") >= int(min_cn))
    )
    da = deg.select(F.col("it").alias("ia"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("it").alias("ib"), F.col("deg").alias("deg_b"))
    out = pairs.join(F.broadcast(da), "ia").join(F.broadcast(db), "ib")
    jac = F.col("cn").cast("double") / (
        F.col("deg_a") + F.col("deg_b") - F.col("cn")
    ).cast("double")
    cos = F.col("cn").cast("double") / F.sqrt(
        (F.col("deg_a") * F.col("deg_b")).cast("double")
    )
    return out.select(
        F.col("ia").alias("item_a"),
        F.col("ib").alias("item_b"),
        "cn",
        "deg_a",
        "deg_b",
        (jac + F.lit(0.0)).alias("jaccard"),
        (cos + F.lit(0.0)).alias("cosine"),
    )


def slo_burn(
    events: DataFrame,
    err_col,
    short_sec: int = 21600,
    long_sec: int = 259200,
    budget_num: int = 1,
    budget_den: int = 5,
    burn_num: int = 1,
    burn_den: int = 1,
    key_col: str = "user_id",
    sec_col: str = "sec",
) -> DataFrame:
    """Multi-window SLO error-budget burn-rate alert (the Google SRE
    workbook's multiwindow multi-burn-rate pattern): at evaluation time
    T = max event time, a key alerts iff its burn rate exceeds the
    threshold over BOTH the short and the long trailing window —
    burn = (err/total) / budget, budget = 1 − SLO.

    Integer-exact throughout: burn > thr is evaluated as the
    cross-multiplied ``budget_den·burn_den·err > budget_num·burn_num·
    total`` (with budget = budget_num/budget_den and thr =
    burn_num/burn_den), so no float ratio is ever formed — the division
    that plagues every ratio-threshold rollup simply never happens.
    Empty windows never alert.

    Scale: ONE broadcast scalar (global max time) + ONE combinable
    groupBy(key) with four conditional sums — no window function, no
    second shuffle; at 100 TB this is a single map-side-combinable agg.

    Output: ``key, n_err_short, n_tot_short, n_err_long, n_tot_long,
    alert`` — all bigint, alert int.
    """
    mx = events.select(F.max(F.col(sec_col).cast("long")).alias("mx"))
    base = events.select(
        F.col(key_col).alias("key"),
        F.col(sec_col).cast("long").alias("sec"),
        err_col.cast("int").alias("err"),
    ).crossJoin(F.broadcast(mx))
    in_s = F.col("sec") > F.col("mx") - short_sec
    in_l = F.col("sec") > F.col("mx") - long_sec
    agg = base.groupBy("key").agg(
        F.sum(F.when(in_s, F.col("err")).otherwise(0)).cast("bigint").alias("n_err_short"),
        F.sum(F.when(in_s, 1).otherwise(0)).cast("bigint").alias("n_tot_short"),
        F.sum(F.when(in_l, F.col("err")).otherwise(0)).cast("bigint").alias("n_err_long"),
        F.sum(F.when(in_l, 1).otherwise(0)).cast("bigint").alias("n_tot_long"),
    )
    lhs = budget_den * burn_den
    rhs = budget_num * burn_num
    alert = (
        (F.col("n_tot_short") > 0)
        & (F.col("n_tot_long") > 0)
        & (F.lit(lhs) * F.col("n_err_short") > F.lit(rhs) * F.col("n_tot_short"))
        & (F.lit(lhs) * F.col("n_err_long") > F.lit(rhs) * F.col("n_tot_long"))
    )
    return agg.withColumn("alert", alert.cast("int"))


def scd2_build(
    events: DataFrame,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "sec",
    id_col: str = "event_id",
) -> DataFrame:
    """Slowly-changing-dimension type-2 build (Kimball SCD2): collapse a
    change stream into versioned validity intervals per key — a new
    version opens only when the tracked attribute actually CHANGES
    under the total (ts, id) event order; ``valid_to`` is the next
    change's timestamp (half-open [from, to)), NULL on the current row.

    Integer-exact: epoch seconds, version = running count of change
    rows, ties pinned by the id tie-break (the house sessionization
    rule — Spark evaluates lag and the running sum over ONE window
    spec; the oracle orders both by the same total key).

    Scale: ONE hash(key) exchange serves the lag, the change filter,
    the version cumsum, and the lead — four window passes, one shuffle;
    the dimension output is bounded by change count, not event count.

    Output: ``key, version, attr, valid_from, valid_to, is_current``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    base = events.select(
        F.col(key_col).alias("key"),
        F.col(attr_col).cast("string").alias("attr"),
        F.col(ts_col).cast("long").alias("t"),
        F.col(id_col).cast("long").alias("i"),
    )
    wk = Window.partitionBy("key").orderBy("t", "i")
    marked = base.withColumn("prev_attr", F.lag("attr").over(wk)).withColumn(
        "chg",
        (F.col("prev_attr").isNull() | (F.col("attr") != F.col("prev_attr"))).cast(
            "int"
        ),
    )
    changes = marked.where(F.col("chg") == 1)
    wc = Window.partitionBy("key").orderBy("t", "i")
    out = changes.select(
        "key",
        F.row_number().over(wc).cast("bigint").alias("version"),
        "attr",
        F.col("t").alias("valid_from"),
        F.lead("t").over(wc).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull().cast("int"))
    return out


def realtime_rollup(
    events: DataFrame,
    bucket_sec: int = 3600,
    threshold_sec: int | None = None,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Real-time continuous aggregate (the TimescaleDB real-time caggs
    pattern): closed buckets are answered from the MATERIALIZED tier,
    the still-open tail is aggregated from raw rows at query time, and
    the union is exactly the direct full-grain aggregate — which is the
    identity the driver oracle gates.

    ``threshold_sec`` is the materialization watermark (default: the
    start of the bucket containing the global max event time — i.e.
    everything before the open bucket is materialized). Values are
    exact centi-unit integers (the ohlc convention); ``src`` marks which
    path produced each row ('tier' / 'raw') and is derivable on both
    engines (bucket < threshold//bucket_sec).

    Scale: the tier path is the pre-aggregated state (here rebuilt from
    rows below the threshold — in production a stored table); the raw
    path scans ONLY the open tail, which filter-pushdown prunes to the
    newest partition. Both legs are combinable groupBys; the union adds
    no exchange.
    """
    v_centi = F.round(F.col(value_col).cast("double") * 100).cast("bigint")
    base = events.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).cast("long").alias("sec"),
        v_centi.alias("v"),
    )
    if threshold_sec is None:
        mx = base.select(
            (F.floor(F.max("sec") / bucket_sec) * bucket_sec)
            .cast("long")
            .alias("thr")
        )
    else:
        mx = events.sparkSession.range(1).select(
            F.lit(int(threshold_sec)).cast("long").alias("thr")
        )
    based = base.crossJoin(F.broadcast(mx))

    def agg(df: DataFrame, src: str) -> DataFrame:
        return (
            df.groupBy(
                "key",
                F.floor(F.col("sec") / bucket_sec).cast("long").alias("bucket"),
            )
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("v").cast("bigint").alias("sum_centi"),
                F.min("v").cast("bigint").alias("vmin"),
                F.max("v").cast("bigint").alias("vmax"),
            )
            .withColumn("src", F.lit(src))
        )

    tier = agg(based.where(F.col("sec") < F.col("thr")), "tier")
    raw = agg(based.where(F.col("sec") >= F.col("thr")), "raw")
    return tier.unionByName(raw)


def cdc_apply(
    changes: DataFrame,
    key_col: str = "user_id",
    op_col: str = "op",
    ts_col: str = "sec",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """CDC MERGE apply (the Iceberg/Delta MERGE INTO semantics over a
    change stream): per key, replay inserts/updates/deletes in the
    total (ts, id) order — the final snapshot keeps the LAST change's
    value, and a key whose last change is a delete is ABSENT from the
    table (where ``latest_snapshot`` keeps every key, this is the op
    that actually removes rows).

    Integer-exact: value in centi-units, version = change count per
    key. ONE hash(key) exchange: the last-change pick is a
    row_number==1 over the total order (WindowGroupLimit pushes the
    top-1 below the shuffle), the per-key counts ride the same
    partitioning.

    Output: ``key, value_centi, n_ops, last_ts`` for live keys.
    """
    from pyspark.sql import Window

    base = changes.select(
        F.col(key_col).alias("key"),
        F.col(op_col).cast("string").alias("op"),
        F.col(ts_col).cast("long").alias("t"),
        F.col(id_col).cast("long").alias("i"),
        F.round(F.col(value_col).cast("double") * 100).cast("bigint").alias("v"),
    )
    w = Window.partitionBy("key").orderBy(F.col("t").desc(), F.col("i").desc())
    stats = base.groupBy("key").agg(
        F.count("*").cast("bigint").alias("n_ops")
    )
    last = (
        base.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .where(F.col("op") != "D")
        .select("key", F.col("v").alias("value_centi"), F.col("t").alias("last_ts"))
    )
    return last.join(stats, "key").select(
        "key", "value_centi", "n_ops", "last_ts"
    )


def emd_1d_pairs(
    events: DataFrame,
    lo: float = -5.0,
    hi: float = 5.0,
    n_bins: int = 16,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """1-D earth-mover's distance (Wasserstein-1) between the value
    distributions of every key pair — the distribution-drift monitor of
    the observability layer. On a shared fixed-bin grid the 1-D EMD is
    the area between CDFs: ``Σ_bins |F_a(b) − F_b(b)| · width``.

    Integer-exact core: per-bin cumulative COUNTS only; the CDF
    difference is cross-multiplied to ``|cum_a·n_b − cum_b·n_a|`` so no
    ratio forms until the final single fixed-shape double
    ``emd = sum_abs · width / (n_a · n_b)`` (one expression over exact
    integers — the kmv/hll float convention). Edge bins clamp
    out-of-range values (the rollup_histogram convention).

    Scale: each key collapses to ≤ n_bins rows before the pair join —
    the pair fan-out is |keys|²·n_bins over BOUNDED sketch rows, raw
    rows shuffle once into the histogram groupBy.
    """
    width = (float(hi) - float(lo)) / int(n_bins)
    v = F.col(value_col).cast("double")
    raw = F.floor((v - float(lo)) / width)
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(int(n_bins) - 1)).cast("int")
    hist = (
        events.select(F.col(key_col).cast("string").alias("key"), bin_.alias("bin"))
        .groupBy("key", "bin")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    spark = events.sparkSession
    bins = spark.range(int(n_bins)).select(F.col("id").cast("int").alias("bin"))
    keys = hist.select("key").distinct()
    grid = keys.crossJoin(F.broadcast(bins))
    from pyspark.sql import Window

    dense = (
        grid.join(hist, ["key", "bin"], "left")
        .withColumn("cnt", F.coalesce("cnt", F.lit(0)).cast("bigint"))
        .withColumn(
            "cum",
            F.sum("cnt").over(
                Window.partitionBy("key").orderBy("bin")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    totals = hist.groupBy("key").agg(F.sum("cnt").cast("bigint").alias("n"))
    a = dense.join(totals, "key").select(
        F.col("key").alias("key_a"), "bin",
        F.col("cum").alias("cum_a"), F.col("n").alias("n_a"),
    )
    b = dense.join(totals, "key").select(
        F.col("key").alias("key_b"), "bin",
        F.col("cum").alias("cum_b"), F.col("n").alias("n_b"),
    )
    pairs = (
        a.join(b, "bin")
        .where(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b", "n_a", "n_b")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
                )
            )
            .cast("bigint")
            .alias("sum_abs")
        )
    )
    emd = (
        F.col("sum_abs").cast("double")
        * F.lit(float(width))
        / (F.col("n_a") * F.col("n_b")).cast("double")
    )
    return pairs.select(
        "key_a", "key_b", "n_a", "n_b", "sum_abs", emd.alias("emd")
    )


def ks_2samp_pairs(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the value
    distributions of every key pair — the sup-norm companion to
    :func:`emd_1d_pairs`' area-between-CDFs drift monitor (Kolmogorov
    1933; Smirnov 1939; the distribution-shift gate of a data-pipeline
    observability layer).

    ``D = sup_x |F_a(x) − F_b(x)|`` evaluated EXACTLY over the pooled
    value points (no binning): values quantize ONCE to integer
    centi-units (the sigma_clip convention — the quantization is the
    documented contract, everything after it is exact), per-key
    cumulative counts are ranked over the GLOBAL distinct-value grid,
    and the supremum is an integer max of cross-multiplied CDF gaps
    ``|cum_a·n_b − cum_b·n_a|`` — no ratio forms until the final single
    division ``ks = d_num / (n_a·n_b)``. Evaluating on the global grid
    (a superset of each pair's pooled points) is exact: between a
    pair's own points both CDFs are constant, so the extra grid rows
    repeat an existing gap and cannot change the max.

    The argmax location ``at_centi`` (SMALLEST centi value attaining
    the max — integer tie rule, deterministic cross-engine) is emitted
    so a drift alert can say WHERE the distributions diverge most.

    Scale: raw rows shuffle once into the (key, centi) groupBy; the
    pair fan-out is |keys|²·V over BOUNDED sketch rows (V = distinct
    centi values, capped by the value range after quantization), the
    emd_1d_pairs shape. Keys are a dimension (event types), never the
    corpus.
    """
    cu = F.round(F.col(value_col).cast("double") * 100).cast("bigint")
    hist = (
        events.select(F.col(key_col).cast("string").alias("key"), cu.alias("vc"))
        .groupBy("key", "vc")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    vals = hist.select("vc").distinct()
    keys = hist.select("key").distinct()
    grid = keys.crossJoin(F.broadcast(vals))
    dense = (
        grid.join(hist, ["key", "vc"], "left")
        .withColumn("cnt", F.coalesce("cnt", F.lit(0)).cast("bigint"))
        .withColumn(
            "cum",
            F.sum("cnt").over(
                Window.partitionBy("key").orderBy("vc")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    totals = hist.groupBy("key").agg(F.sum("cnt").cast("bigint").alias("n"))
    a = dense.join(totals, "key").select(
        F.col("key").alias("key_a"), "vc",
        F.col("cum").alias("cum_a"), F.col("n").alias("n_a"),
    )
    b = dense.join(totals, "key").select(
        F.col("key").alias("key_b"), "vc",
        F.col("cum").alias("cum_b"), F.col("n").alias("n_b"),
    )
    gaps = (
        a.join(b, "vc")
        .where(F.col("key_a") < F.col("key_b"))
        .select(
            "key_a", "key_b", "n_a", "n_b", "vc",
            F.abs(
                F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
            ).cast("bigint").alias("gap"),
        )
    )
    top = gaps.groupBy("key_a", "key_b", "n_a", "n_b").agg(
        F.max("gap").cast("bigint").alias("d_num"),
    )
    # smallest vc attaining the max: integer-only argmin via a bounded
    # max-filter join (the house deterministic-tie form)
    at = (
        gaps.join(
            top.select("key_a", "key_b", "d_num"), ["key_a", "key_b"]
        )
        .where(F.col("gap") == F.col("d_num"))
        .groupBy("key_a", "key_b")
        .agg(F.min("vc").cast("bigint").alias("at_centi"))
    )
    ks = F.col("d_num").cast("double") / (
        F.col("n_a") * F.col("n_b")
    ).cast("double")
    return (
        top.join(at, ["key_a", "key_b"])
        .select(
            "key_a", "key_b", "n_a", "n_b", "d_num", "at_centi",
            (ks + F.lit(0.0)).alias("ks"),
        )
    )


def sigma_clip(
    events: DataFrame,
    rounds: int = 3,
    k_sigma: int = 3,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Iterative sigma-clipping robust aggregate (astropy ``sigma_clip``
    / the photometry-pipeline standard; Rosner 1983's iterative-removal
    shape with a fixed k·σ cut): ``rounds`` passes per key, each
    recomputing mean/sd over the SURVIVORS and dropping every point
    beyond k sample standard deviations.

    Every clip decision is an EXACT integer comparison — no float mean,
    sd, or z-score ever forms.  With centi-unit values ``c``, survivor
    count ``n``, survivor sums ``s1 = Σc`` and ``s2 = Σc²``::

        |c − μ| > k·s   ⇔   (n·c − s1)²·(n−1) > k²·n·(n·s2 − s1²)

    (both sides decimal(38,0) / HUGEINT — cross-multiplied through
    μ = s1/n and s² = (n·s2 − s1²)/(n·(n−1))), so Spark and the oracle
    clip the IDENTICAL point set; boundary points (equality) survive.
    n = 1 and constant groups clip nothing (both sides 0), and a round
    can never clip an entire group — Σ(c−μ)² = (n−1)s² means at most
    ⌊(n−1)/k²⌋ points can exceed k·s.

    Scale shape: per round ONE map-side-combinable groupBy over the
    survivors plus a BROADCAST join of the key-bounded stats table back
    onto the rows — the corpus is scanned ``rounds + 1`` times (the
    k-rounds convention of pagerank/BPE), never shuffled on anything
    but the key, and round state is O(keys).

    Output: (key, n_raw, n_kept, n_clipped, sum_kept_centi, mean_kept)
    — mean_kept is ONE division of exact integers (bit-stable
    cross-engine).
    """
    from .cache import pin

    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    k2 = int(k_sigma) * int(k_sigma)
    cu = F.round(F.col(value_col) * 100).cast("bigint")
    base = pin(events.select(F.col(key_col).alias("key"), cu.alias("cu")))
    kept = base
    c = F.col("cu").cast("decimal(38,0)")
    for _ in range(int(rounds)):
        st = kept.groupBy("key").agg(
            F.count("*").cast("decimal(38,0)").alias("_n"),
            F.sum(c).alias("_s1"),
            F.sum(c * c).alias("_s2"),
        )
        d = F.col("_n") * c - F.col("_s1")
        lhs = d * d * (F.col("_n") - F.lit(1))
        rhs = (
            F.lit(k2)
            * F.col("_n")
            * (F.col("_n") * F.col("_s2") - F.col("_s1") * F.col("_s1"))
        )
        kept = (
            kept.join(F.broadcast(st), "key")
            .filter(lhs <= rhs)
            .select("key", "cu")
        )
    raw = base.groupBy("key").agg(F.count("*").cast("bigint").alias("n_raw"))
    fin = kept.groupBy("key").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("cu").cast("bigint").alias("sum_kept_centi"),
    )
    return raw.join(fin, "key").select(
        "key",
        "n_raw",
        "n_kept",
        (F.col("n_raw") - F.col("n_kept")).cast("bigint").alias("n_clipped"),
        "sum_kept_centi",
        (
            F.col("sum_kept_centi").cast("double")
            / F.col("n_kept").cast("double")
        ).alias("mean_kept"),
    )


def spc_rules(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "sec",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Western Electric control-chart rules (WECO 1956; Montgomery SPC
    ch. 5) per key, center line and sigma zones fit on the key's full
    history (the Phase-I-on-itself convention, documented):

    - R1: a point beyond 3σ,
    - R2: 2 of 3 consecutive points beyond 2σ on the SAME side,
    - R3: 4 of 5 consecutive points beyond 1σ on the same side,
    - R4: 8 consecutive points on the same side of the center line.

    Every zone decision is an exact cross-multiplied integer
    comparison: with centi-units ``c``, ``n`` points, ``s1 = Σc``,
    ``s2 = Σc²`` (population σ² = (n·s2 − s1²)/n²)::

        |c − μ| > k·σ   ⇔   (n·c − s1)² > k²·(n·s2 − s1²)

    and the side is ``sign(n·c − s1)`` (a point exactly on the center
    line has side 0 and breaks R4 runs; the sigma_clip decimal(38,0) /
    HUGEINT arithmetic).  Rules fire on rolling windows over the TOTAL
    per-key ``(ts, id)`` order (the house sessionization rule), so tied
    timestamps cannot flip run counts cross-engine.  Constant keys
    (σ = 0): beyond-σ is strict, so zones never fire and sides are 0 —
    all rules quiet, no division anywhere.

    Scale shape: one key-bounded stats groupBy broadcast back, ONE
    window pass (all four rolling sums share the same window spec →
    one hash(key) exchange + one sort), one final combinable groupBy
    reusing the exchange.  Violation counts only move per key.

    Output: (key, n, v1, v2, v3, v4).
    """
    from .cache import pin

    cu = F.round(F.col(value_col) * 100).cast("bigint")
    base = pin(
        events.select(
            F.col(key_col).alias("key"),
            F.col(ts_col).cast("long").alias("t"),
            F.col(id_col).cast("long").alias("i"),
            cu.alias("cu"),
        )
    )
    c = F.col("cu").cast("decimal(38,0)")
    st = base.groupBy("key").agg(
        F.count("*").cast("decimal(38,0)").alias("_n"),
        F.sum(c).alias("_s1"),
        F.sum(c * c).alias("_s2"),
    )
    d = F.col("_n") * c - F.col("_s1")
    var_n2 = F.col("_n") * F.col("_s2") - F.col("_s1") * F.col("_s1")
    flagged = base.join(F.broadcast(st), "key").select(
        "key",
        "t",
        "i",
        F.signum(d).cast("int").alias("side"),
        (d * d > F.lit(9) * var_n2).cast("int").alias("b3"),
        ((d * d > F.lit(4) * var_n2) & (d > 0)).cast("int").alias("b2p"),
        ((d * d > F.lit(4) * var_n2) & (d < 0)).cast("int").alias("b2m"),
        ((d * d > var_n2) & (d > 0)).cast("int").alias("b1p"),
        ((d * d > var_n2) & (d < 0)).cast("int").alias("b1m"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy("t", "i")

    def roll(col, k):
        return F.sum(col).over(w.rowsBetween(-(k - 1), 0))

    nrow = F.count("*").over(w.rowsBetween(Window.unboundedPreceding, 0))
    viol = flagged.select(
        "key",
        F.col("b3").alias("v1"),
        (
            (nrow >= 3)
            & ((roll(F.col("b2p"), 3) >= 2) | (roll(F.col("b2m"), 3) >= 2))
        )
        .cast("int")
        .alias("v2"),
        (
            (nrow >= 5)
            & ((roll(F.col("b1p"), 5) >= 4) | (roll(F.col("b1m"), 5) >= 4))
        )
        .cast("int")
        .alias("v3"),
        (
            (nrow >= 8)
            & (
                (roll((F.col("side") == 1).cast("int"), 8) == 8)
                | (roll((F.col("side") == -1).cast("int"), 8) == 8)
            )
        )
        .cast("int")
        .alias("v4"),
    )
    return viol.groupBy("key").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v1").cast("bigint").alias("v1"),
        F.sum("v2").cast("bigint").alias("v2"),
        F.sum("v3").cast("bigint").alias("v3"),
        F.sum("v4").cast("bigint").alias("v4"),
    )


RDP_SCHEMA = "key string, bucket long, t long, v_centi long"


def rdp_simplify(
    events: DataFrame,
    eps_centi: int = 50,
    max_depth: int = 3,
    bucket: int = 86400,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Depth-budgeted Ramer–Douglas–Peucker polyline simplification per
    (series, retention window) — the shape-preserving downsampler next
    to :func:`sdt_compress` (streaming envelope) and ``lttb`` (fixed
    budget): keep a segment's endpoints, find the interior point
    farthest from the chord, split there if it deviates more than
    ``eps``, recurse.  ``max_depth`` caps the recursion (kept points ≤
    2^max_depth + 1 per window), which (a) bounds output like LTTB
    while adapting placement like RDP, and (b) makes the walk a fixed
    number of LEVEL-SYNCHRONOUS rounds — the same segment set every
    engine derives, so the oracle unrolls one CTE round per level.

    This is the VERTICAL-distance RDP variant (the time-series
    convention — perpendicular distance mixes value and time units):
    deviation of p against chord (lo, hi) is the exact integer rational

        dev·(t_hi − t_lo) = v_p·(t_hi−t_lo) − [v_lo·(t_hi−t_p) + v_hi·(t_p−t_lo)]

    compared cross-multiplied against ``eps·(t_hi−t_lo)``; the split
    point is argmax by ``(|dev_num| DESC, t ASC)`` — all integers, so
    the kept set is EXACT on both engines (the sdt_compress contract).
    Duplicate timestamps collapse to the latest ``id_col`` row first;
    windows with ≤ 2 points keep everything.

    Scale: ONE exchange (group hash into the Arrow kernel); the
    per-window point count bounds any task, and windows simplify
    independently (endpoints always kept), so retention tiers
    reconstruct without cross-window state.
    """
    import numpy as np
    import pandas as pd

    eps = int(eps_centi)
    depth_cap = int(max_depth)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["t", "i"]).drop_duplicates("t", keep="last")
        t = pdf["t"].to_numpy(dtype=np.int64)
        v = pdf["v_centi"].to_numpy(dtype=np.int64)
        n = len(t)
        if n <= 2:
            k = np.arange(n, dtype=np.int64)
        else:
            kept = {0, n - 1}
            segs = [(0, n - 1)]
            for _ in range(depth_cap):
                nxt = []
                for lo, hi in segs:
                    if hi - lo < 2:
                        continue
                    tt = t[lo + 1 : hi]
                    vv = v[lo + 1 : hi]
                    dtm = t[hi] - t[lo]
                    dev = vv * dtm - (
                        v[lo] * (t[hi] - tt) + v[hi] * (tt - t[lo])
                    )
                    a = np.abs(dev)
                    m = int(a.max())
                    if m > eps * dtm:
                        p = lo + 1 + int(np.argmax(a))  # first max = min t
                        kept.add(p)
                        nxt.append((lo, p))
                        nxt.append((p, hi))
                segs = nxt
                if not segs:
                    break
            k = np.asarray(sorted(kept), dtype=np.int64)
        return pd.DataFrame(
            {
                "key": pdf["key"].to_numpy()[k],
                "bucket": pdf["bucket"].to_numpy()[k],
                "t": t[k],
                "v_centi": v[k],
            }
        )

    b = F.floor(F.col(ts_col).cast("long") / bucket).cast("long")
    rows = events.select(
        F.col(key_col).cast("string").alias("key"),
        b.alias("bucket"),
        F.col(ts_col).cast("long").alias("t"),
        F.col(id_col).cast("long").alias("i"),
        F.round(F.col(value_col).cast("double") * 100)
        .cast("bigint")
        .alias("v_centi"),
    )
    return rows.groupBy("key", "bucket").applyInPandas(kernel, RDP_SCHEMA)


def ar2_forecast(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "sec",
    value_col: str = "value",
) -> DataFrame:
    """Yule-Walker AR(2) fit + 3-step-ahead forecast per series — the
    classic parametric companion to the smoothing forecasters here
    (:func:`ewma_smooth`, ``holt``, ``holt_winters``, ``croston``).

    Estimator: biased autocovariances about the series mean in
    observation order, ``c_k = Σ u_t·u_{t+k}`` with ``u = v − m̂``
    (denominators cancel in the ratios), then the order-2 Yule-Walker
    solve ``φ1 = r1(1−r2)/(1−r1²)``, ``φ2 = (r2−r1²)/(1−r1²)`` and the
    mean-reverting recursion ``ŷ_{n+h} = m̂ + φ1(ŷ_{n+h−1}−m̂) +
    φ2(ŷ_{n+h−2}−m̂)`` seeded with the last two observations.

    Cross-engine determinism (the k-means oracle convention): the two
    unordered float reductions that feed everything — the mean and the
    ratios r1, r2 — are rounded in-engine to 9 decimals on BOTH sides;
    every later step is division/multiplication of identical doubles in
    identical expression order, so φ and the forecasts are bit-equal and
    the r6 output rounding is cosmetic. Degenerate guards: zero c0
    (constant series) and r1² = 1 NULLIF out; series shorter than 3
    propagate NULL through the missing lag-2 sum / second seed. Tied
    (ts, value) rows carry equal centered values, so lead pairing under
    either engine's tie order yields the same product multiset.

    One exchange: both window specs and the final groupBy share the key
    hash. All JVM-side expressions, no Python in the row path.
    """
    k, t, v = F.col(key_col), F.col(ts_col), F.col(value_col)
    rows = events.select(
        k.cast("long").alias("key"),
        t.cast("long").alias("sec"),
        v.cast("double").alias("v"),
    )
    wp = Window.partitionBy("key")
    wo = Window.partitionBy("key").orderBy(F.col("sec").asc(), F.col("v").asc())
    wd = Window.partitionBy("key").orderBy(F.col("sec").desc(), F.col("v").desc())
    cent = rows.withColumn("mr", F.round(F.avg("v").over(wp), 9)).withColumn(
        "u", F.col("v") - F.col("mr")
    )
    led = cent.select(
        "key",
        "mr",
        "v",
        "u",
        F.lead("u", 1).over(wo).alias("u1"),
        F.lead("u", 2).over(wo).alias("u2"),
        F.row_number().over(wd).alias("rn"),
    )
    agg = led.groupBy("key").agg(
        F.count("*").cast("bigint").alias("n"),
        F.max("mr").alias("mr"),
        F.sum(F.col("u") * F.col("u")).alias("c0"),
        F.sum(F.col("u") * F.col("u1")).alias("c1"),
        F.sum(F.col("u") * F.col("u2")).alias("c2"),
        F.max(F.when(F.col("rn") == 1, F.col("v"))).alias("yl"),
        F.max(F.when(F.col("rn") == 2, F.col("v"))).alias("yp"),
    )
    r = agg.select(
        "*",
        F.round(F.col("c1") / F.nullif(F.col("c0"), F.lit(0.0)), 9).alias("r1"),
        F.round(F.col("c2") / F.nullif(F.col("c0"), F.lit(0.0)), 9).alias("r2"),
    )
    den = F.nullif(F.lit(1.0) - F.col("r1") * F.col("r1"), F.lit(0.0))
    p = r.select(
        "*",
        ((F.col("r1") * (F.lit(1.0) - F.col("r2"))) / den).alias("phi1"),
        ((F.col("r2") - F.col("r1") * F.col("r1")) / den).alias("phi2"),
    )
    mr, p1, p2 = F.col("mr"), F.col("phi1"), F.col("phi2")
    f1 = mr + p1 * (F.col("yl") - mr) + p2 * (F.col("yp") - mr)
    fc = p.withColumn("f1", f1)
    f2 = mr + p1 * (F.col("f1") - mr) + p2 * (F.col("yl") - mr)
    fc = fc.withColumn("f2", f2)
    f3 = mr + p1 * (F.col("f2") - mr) + p2 * (F.col("f1") - mr)
    fc = fc.withColumn("f3", f3)
    return fc.select(
        F.col("key").alias(key_col),
        "n",
        (F.round(p1, 6) + F.lit(0.0)).alias("phi1"),
        (F.round(p2, 6) + F.lit(0.0)).alias("phi2"),
        (F.round(F.col("f1"), 6) + F.lit(0.0)).alias("fc1"),
        (F.round(F.col("f2"), 6) + F.lit(0.0)).alias("fc2"),
        (F.round(F.col("f3"), 6) + F.lit(0.0)).alias("fc3"),
    )


ISO_SCHEMA = "key string, bucket long, hr long, v_centi long, yhat double"


def isotonic_fit(
    events: DataFrame,
    bucket: int = 86400,
    grain: int = 3600,
    key_col: str = "event_type",
    ts_col: str = "sec",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """L2 isotonic (monotone non-decreasing) regression per (series,
    retention window) over the window's per-grain last values — the
    monotone-trend/calibration fit (Barlow et al. 1972; PAVA). Computed
    via the MINIMAX closed form of the PAVA solution,

        ŷ_i = max_{j ≤ i} min_{k ≥ i} mean(y_j .. y_k),

    evaluated in float64 on BOTH engines: every candidate mean is one
    IEEE division of an integer centi-unit prefix-sum difference by an
    integer count, and the max/min lattice is pure comparisons — no
    accumulation order anywhere — so the fit is bit-identical
    cross-engine even where exact-rational PAVA and float comparisons
    would disagree about a <1-ulp tie. Points are the per-``grain`` last
    observation (latest ``id_col`` on timestamp ties), so n per window
    is bounded by ``bucket/grain`` and the kernel's O(n²)/oracle's
    O(n³) forms stay trivially small.

    Scale: per-grain dedup rides a (key, bucket)-partitioned window;
    the kernel groupBy extends the same hash (one exchange family);
    windows fit independently so retention tiers roll up without
    cross-window state.
    """
    import numpy as np
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("hr")
        v = pdf["v_centi"].to_numpy(dtype=np.int64)
        n = len(v)
        S = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(v, out=S[1:])
        num = S[None, 1:] - S[:-1, None]          # num[j, k] = S_{k+1} - S_j
        j_idx = np.arange(n)
        den = j_idx[None, :] - j_idx[:, None] + 1  # k - j + 1
        with np.errstate(invalid="ignore", divide="ignore"):
            A = num.astype(np.float64) / den.astype(np.float64)
        A[den <= 0] = np.inf                       # mask j > k for the k-min
        M = np.minimum.accumulate(A[:, ::-1], axis=1)[:, ::-1]
        M[den <= 0] = -np.inf                      # mask j > i for the j-max
        yhat = np.diagonal(np.maximum.accumulate(M, axis=0)).copy()
        return pd.DataFrame(
            {
                "key": pdf["key"].to_numpy(),
                "bucket": pdf["bucket"].to_numpy(),
                "hr": pdf["hr"].to_numpy(),
                "v_centi": v,
                "yhat": yhat,
            }
        )

    t = F.col(ts_col).cast("long")
    rows = events.select(
        F.col(key_col).cast("string").alias("key"),
        F.floor(t / bucket).cast("long").alias("bucket"),
        F.floor(t / grain).cast("long").alias("hr"),
        t.alias("t"),
        F.col(id_col).cast("long").alias("i"),
        F.round(F.col(value_col).cast("double") * 100)
        .cast("bigint")
        .alias("v_centi"),
    )
    wlast = Window.partitionBy("key", "bucket", "hr").orderBy(
        F.col("t").desc(), F.col("i").desc()
    )
    pts = (
        rows.withColumn("rn", F.row_number().over(wlast))
        .where(F.col("rn") == 1)
        .select("key", "bucket", "hr", "v_centi")
    )
    return pts.groupBy("key", "bucket").applyInPandas(kernel, ISO_SCHEMA)


def churn_labels(
    events: DataFrame,
    day_sec: int = 86400,
    horizon_days: int = 7,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Churn label generation — the training-data labeling step for
    retention models: for every (user, active day), ``churned = 1`` iff
    the user has NO event in the following ``horizon_days`` days. The
    label of the last observed day is NULL (right-censored: the horizon
    extends past the observation window, the kaplan_meier convention),
    EXCEPT when the gap to the global end of data already exceeds the
    horizon — then the absence is observable and the label is 1.

    All-integer: day buckets, event counts, a single lead() per user,
    and the global max day broadcast as a 1-row scalar.

    Scale: one combinable (key, day) groupBy; the lead window hashes on
    key (extends the groupBy's prefix — exchange reuse); the scalar max
    is a broadcast nested-loop of one row.
    """
    d = F.floor(F.unix_timestamp(F.col(ts_col)).cast("long") / day_sec).cast("long")
    daily = (
        events.select(F.col(key_col).alias("key"), d.alias("day"))
        .groupBy("key", "day")
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )
    gmax = daily.agg(F.max("day").alias("gmax"))
    w = Window.partitionBy("key").orderBy("day")
    lead_day = F.lead("day", 1).over(w)
    out = daily.withColumn("next_day", lead_day).crossJoin(F.broadcast(gmax))
    churn = (
        F.when(
            F.col("next_day").isNotNull(),
            (F.col("next_day") - F.col("day") > horizon_days).cast("int"),
        )
        .when(F.col("gmax") - F.col("day") > horizon_days, F.lit(1))
        .otherwise(F.lit(None).cast("int"))
    )
    return out.select("key", "day", "n_events", churn.alias("churned"))


def apdex_scores(
    events: DataFrame,
    threshold_centi: int = 5000,
    bucket_sec: int = 21600,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Apdex application-performance index (Apdex Alliance spec): per
    (key, bucket), satisfied = value ≤ T, tolerating = T < value ≤ 4T,
    ``apdex = (satisfied + tolerating/2) / n``. The half-weight is
    folded into integers — ``(2·sat + tol) / (2n)`` — so the score is
    ONE IEEE division of exact bigints; values compare in exact centi
    units (the house micro-unit convention, no float threshold ever
    meets a row).

    Scale: one combinable groupBy, map-side everything.
    Output: (key, bucket, n, satisfied, tolerating, apdex).
    """
    vu = F.round(F.col(value_col).cast("double") * F.lit(100.0)).cast("bigint")
    b = F.floor(F.unix_timestamp(F.col(ts_col)).cast("long") / bucket_sec).cast(
        "long"
    )
    t = F.lit(int(threshold_centi))
    rows = events.where(
        F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
    ).select(
        F.col(key_col).alias("key"),
        b.alias("bucket"),
        (vu <= t).cast("bigint").alias("sat"),
        ((vu > t) & (vu <= 4 * t)).cast("bigint").alias("tol"),
    )
    g = rows.groupBy("key", "bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("sat").cast("bigint").alias("satisfied"),
        F.sum("tol").cast("bigint").alias("tolerating"),
    )
    return g.select(
        "key",
        "bucket",
        "n",
        "satisfied",
        "tolerating",
        (
            (F.lit(2) * F.col("satisfied") + F.col("tolerating")).cast("double")
            / (F.lit(2) * F.col("n")).cast("double")
            + F.lit(0.0)
        ).alias("apdex"),
    )


def mi_contingency(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Pointwise mutual information contingency table between event type
    and hour-of-day — "which event types are time-of-day dependent",
    the categorical-association sibling of token_pmi. Emitted PER CELL
    (count + pmi), never summed: the total MI would be an unordered
    float sum, but each cell's ``pmi = ln(c·N) − ln(c_key·c_hour)`` is
    a FIXED-ORDER difference of ln-of-exact-bigints (the kn_perplexity
    convention), so every output value is bit-stable.

    Scale: one (key, hour) groupBy (≤ |types|·24 cells), two margin
    groupBys over the cell table, one broadcast scalar.
    Output: (key, hour, c, c_key, c_hour, n_total, pmi).
    """
    hour = (
        F.floor(F.unix_timestamp(F.col(ts_col)).cast("long") / 3600) % 24
    ).cast("int")
    cells = (
        events.select(F.col(key_col).alias("key"), hour.alias("hour"))
        .groupBy("key", "hour")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    mk = cells.groupBy("key").agg(F.sum("c").cast("bigint").alias("c_key"))
    mh = cells.groupBy("hour").agg(F.sum("c").cast("bigint").alias("c_hour"))
    nt = cells.agg(F.sum("c").cast("bigint").alias("n_total"))
    return (
        cells.join(mk, "key")
        .join(F.broadcast(mh), "hour")
        .crossJoin(F.broadcast(nt))
        .select(
            "key",
            "hour",
            "c",
            "c_key",
            "c_hour",
            "n_total",
            (
                F.log((F.col("c") * F.col("n_total")).cast("double"))
                - F.log((F.col("c_key") * F.col("c_hour")).cast("double"))
                + F.lit(0.0)
            ).alias("pmi"),
        )
    )


def order_integrity_audit(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Arrival-order integrity audit: how far the ingest order (event
    id) deviates from event-time order, per key, as the Spearman
    footrule Σ|rank_ts − rank_id| — the lakehouse "do I need to re-sort
    before time-window compaction" number (0 = perfectly ordered
    ingest; 1 = fully reversed).

    Both ranks are row_numbers under TOTAL orders ((ts, id) and (id))
    — the house tie rule — so the footrule is an exact bigint;
    ``disorder = footrule / floor(n²/2)`` (the footrule maximum) is ONE
    IEEE division; keys with n < 2 emit NULL.

    Scale: both rank windows and the final groupBy hash on the key —
    one exchange, two sorts.

    Output: (key, n, footrule, disorder).
    """
    wt = Window.partitionBy("key").orderBy("ts", "id")
    wi = Window.partitionBy("key").orderBy("id")
    rows = events.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("id"),
    ).select(
        "key",
        (F.row_number().over(wt) - F.row_number().over(wi))
        .cast("bigint")
        .alias("d"),
    )
    g = rows.groupBy("key").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.abs(F.col("d"))).cast("bigint").alias("footrule"),
    )
    maxf = F.expr("(n * n) div 2").cast("bigint")
    return g.select(
        "key",
        "n",
        "footrule",
        (
            F.col("footrule").cast("double")
            / F.nullif(
                F.when(F.col("n") >= 2, maxf).cast("double"), F.lit(0.0)
            )
            + F.lit(0.0)
        ).alias("disorder"),
    )


def snapshot_diff(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    compare_cols: tuple[str, ...],
) -> DataFrame:
    """Table-version diff — the Iceberg/Delta ``table_changes`` /
    snapshot-compare primitive: classify every key as INSERT (only in
    the new version), DELETE (only in the old), or UPDATE (present in
    both with any compared column differing, NULL-safely). Unchanged
    keys are dropped — the output is the changeset, not the table.

    Column comparison is null-safe equality on the raw values (never a
    hash of stringified doubles — double→string formatting differs
    across engines, values don't). Integer/string/exact-unit columns
    compare exactly; op is a pure integer decision.

    Scale: ONE full-outer hash join on the key; both sides shuffle
    once, the changeset is usually a small fraction of either.

    Output: (key, op ∈ {'insert','delete','update'}).
    """
    ka = a.select(
        F.col(key_col).alias("key"),
        *[F.col(c).alias(f"a_{c}") for c in compare_cols],
        F.lit(1).alias("_ina"),
    )
    kb = b.select(
        F.col(key_col).alias("key"),
        *[F.col(c).alias(f"b_{c}") for c in compare_cols],
        F.lit(1).alias("_inb"),
    )
    j = ka.join(kb, "key", "full_outer")
    changed = None
    for c in compare_cols:
        neq = ~F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))
        changed = neq if changed is None else (changed | neq)
    op = (
        F.when(F.col("_ina").isNull(), F.lit("insert"))
        .when(F.col("_inb").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return j.select("key", op.alias("op")).filter(F.col("op").isNotNull())


def watermark_audit(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Watermark-delay audit: how late does data actually arrive? Per
    key, each event's LATENESS = (running max event-time over the
    ingest order so far) − its own event-time, in whole seconds — the
    empirical distribution a Structured Streaming ``withWatermark``
    delay should be sized from (the streaming family's rollup_stream
    consumes exactly such a bound).

    Exactness: ingest order is the TOTAL id order; the running max and
    every lateness are exact bigint seconds; p50/p95/max lateness use
    the same nearest-rank integer-rank convention as hdr_quantiles; the
    late-fraction beyond a fixed 60 s bound is one division of counts.

    Scale: one key exchange serves the running-max window, the rank
    window and the final groupBy.

    Output: (key, n, p50_late, p95_late, max_late, n_over_60s,
    frac_over_60s).
    """
    sec = F.unix_timestamp(F.col(ts_col)).cast("long")
    wrun = (
        Window.partitionBy("key")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rows = events.select(
        F.col(key_col).alias("key"), F.col(id_col).alias("id"), sec.alias("sec")
    ).select(
        "key",
        "id",
        (F.max("sec").over(wrun) - F.col("sec")).cast("bigint").alias("late"),
    )
    wr = Window.partitionBy("key").orderBy("late", "id")
    wall = Window.partitionBy("key")
    r = rows.select(
        "key",
        "late",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wall).alias("nn"),
    )
    g = r.groupBy("key").agg(
        F.max("nn").cast("bigint").alias("n"),
        F.min(F.when(F.col("rn") == F.expr("(nn + 1) div 2"), F.col("late")))
        .cast("bigint")
        .alias("p50_late"),
        F.min(
            F.when(F.col("rn") == F.expr("(nn * 19 + 19) div 20"), F.col("late"))
        )
        .cast("bigint")
        .alias("p95_late"),
        F.max("late").cast("bigint").alias("max_late"),
        F.sum((F.col("late") > 60).cast("bigint")).cast("bigint").alias("n_over_60s"),
    )
    return g.select(
        "key",
        "n",
        "p50_late",
        "p95_late",
        "max_late",
        "n_over_60s",
        (
            F.col("n_over_60s").cast("double") / F.col("n").cast("double")
            + F.lit(0.0)
        ).alias("frac_over_60s"),
    )
