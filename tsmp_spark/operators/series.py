"""Series-shape converters between the engine's two representations.

Nested form (the input_hint / Iceberg-table shape):
    ``(doc_id string, tokens array<int|double>, n_tok int, source string)``
Long form (relational / oracle-checkable shape):
    ``(doc_id string, pos bigint, value double)``

The long form is what DuckDB oracles and Catalyst window functions see; the
nested form is what per-series pandas-UDF kernels consume. Both derive from
the same rows, and converting between them keeps per-row token-array
equality (BASELINE.json input_hint invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def events_to_long(events: DataFrame) -> DataFrame:
    """events(event_id, ts, user_id, event_type, value, props) →
    (doc_id, pos, value): per-user series ordered by (ts, event_id).

    The (ts, event_id) tie-break is load-bearing: the DuckDB oracle orders
    identically, so row_number assignments match bit-for-bit.
    """
    w = Window.partitionBy("doc_id").orderBy("ts", "event_id")
    return (
        events.select(
            F.col("user_id").cast("string").alias("doc_id"),
            F.col("ts"),
            F.col("event_id"),
            F.col("value").cast("double").alias("value"),
        )
        .withColumn("pos", F.row_number().over(w) - F.lit(1))
        .select("doc_id", "pos", "value")
    )


def long_to_nested(long_df: DataFrame, source: str | None = None) -> DataFrame:
    """(doc_id, pos, value) → (doc_id, tokens, n_tok, source).

    ``sort_array(collect_list(struct(pos, value)))`` makes aggregation
    order-deterministic regardless of shuffle arrival order.
    """
    out = (
        long_df.groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "value"))),
                lambda s: s["value"],
            ).alias("tokens")
        )
        .withColumn("n_tok", F.size("tokens"))
    )
    if source is not None:
        out = out.withColumn("source", F.lit(source))
    else:
        out = out.withColumn("source", F.lit("events"))
    return out


def nested_to_long(nested: DataFrame, value_type: str = "double") -> DataFrame:
    """(doc_id, tokens, ...) → (doc_id, pos, value) via posexplode.

    The nested rows are hash-partitioned by ``doc_id`` BEFORE the explode,
    so the one exchange moves one row per series, never exploded rows.
    Generate keeps that partitioning, and every per-key operator above it
    — ``rollup_tier``, ``rollup_rollup``, ``gap_fill``,
    ``retention_expire`` keyed by ``doc_id`` — reuses it
    (ClusteredDistribution subset rule)."""
    hashed = nested.repartition(
        nested.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    return hashed.select(
        "doc_id",
        F.posexplode(F.col("tokens").cast(f"array<{value_type}>")).alias("pos", "value"),
    )


def salted_repartition(
    df: DataFrame, key: str, num_partitions: int, salt_buckets: int = 8
) -> DataFrame:
    """Explicit salted repartition for skewed keys (north rule).

    Hash-partitioning on ``(key, salt)`` spreads a hot key over
    ``salt_buckets`` partitions. Use for operators that are per-row
    embarrassingly parallel after keying (e.g. per-series kernels, where a
    single giant ``source`` group would otherwise pin one executor).
    """
    salted = df.withColumn(
        "_salt", (F.xxhash64(F.col(key), F.monotonically_increasing_id()) % salt_buckets)
    )
    out = salted.repartition(num_partitions, F.col(key), F.col("_salt"))
    return out.drop("_salt")


def salted_groupby_stats(
    docs: DataFrame,
    key_col: str = "source",
    id_col: str = "doc_id",
    value_col: str = "n_chars",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-safe two-phase aggregation: the salted-repartition pattern the
    north rule names, as a first-class correctness-gated operator.

    A hot ``key_col`` value (one source contributing most of a 100 TB
    corpus) pins the classic single-phase ``groupBy(key)`` onto one
    reducer. Phase 1 here aggregates on ``(key, salt)`` where
    ``salt = pmod(xxhash64(id), B)`` — deterministic per row, so the
    fan-out is stable across retries — spreading the hot key over ``B``
    reducers; phase 2 merges the ≤ B partials per key. Every partial is
    algebraic (count/sum/min/max over bigints), so merge == direct
    exactly, which the DuckDB oracle checks against the plain GROUP BY.

    Scale: shuffle 1 is (key, salt)-partitioned — bounded by the row
    count, never by key skew; shuffle 2 moves ≤ B rows per key. The mean
    is ONE IEEE division of exact bigints, bit-identical cross-engine.
    """
    v = F.col(value_col).cast("bigint")
    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(int(salt_buckets)))
    p1 = (
        docs.select(F.col(key_col).alias("key"), salt.alias("_salt"), v.alias("v"))
        .groupBy("key", "_salt")
        .agg(
            F.count("*").cast("bigint").alias("pn"),
            F.sum("v").cast("bigint").alias("ps"),
            F.min("v").alias("pmn"),
            F.max("v").alias("pmx"),
        )
    )
    return (
        p1.groupBy("key")
        .agg(
            F.sum("pn").cast("bigint").alias("n_docs"),
            F.sum("ps").cast("bigint").alias("chars_sum"),
            F.min("pmn").alias("chars_min"),
            F.max("pmx").alias("chars_max"),
        )
        .select(
            "key",
            "n_docs",
            "chars_sum",
            "chars_min",
            "chars_max",
            (
                F.col("chars_sum").cast("double") / F.col("n_docs").cast("double")
                + F.lit(0.0)
            ).alias("chars_avg"),
        )
    )


def events_to_nested(events: DataFrame, source: str = "events") -> DataFrame:
    """events → nested (doc_id, tokens, n_tok, source) in ONE aggregate.

    Fuses ``long_to_nested(events_to_long(...))``: ordering by
    (ts, event_id) happens inside ``sort_array`` on the collected structs
    (struct comparison is lexicographic by field order), so the separate
    row_number Window — a second sort over the same shuffle — disappears.
    One exchange on doc_id, one sort per group, map-side partial collect.
    Produces exactly the same tokens arrays as the two-step path.
    """
    out = (
        events.select(
            F.col("user_id").cast("string").alias("doc_id"),
            F.struct(F.col("ts"), F.col("event_id"), F.col("value").cast("double").alias("value")).alias("e"),
        )
        .groupBy("doc_id")
        .agg(
            F.transform(F.sort_array(F.collect_list("e")), lambda s: s["value"]).alias(
                "tokens"
            )
        )
        .withColumn("n_tok", F.size("tokens"))
        .withColumn("source", F.lit(source))
    )
    return out


# Phi^-1(k/a) breakpoints for the SAX alphabet (Lin et al. 2003, table 3).
# LITERALS shared with the SQL oracle — both engines parse the same double.
SAX_BREAKPOINTS: dict[int, tuple[float, ...]] = {
    3: (-0.4307272992954576, 0.4307272992954576),
    4: (-0.6744897501960817, 0.0, 0.6744897501960817),
    5: (-0.8416212335729143, -0.2533471031357997, 0.2533471031357997,
        0.8416212335729143),
    8: (-1.1503493803760079, -0.6744897501960817, -0.3186393639643751,
        0.0, 0.3186393639643751, 0.6744897501960817, 1.1503493803760079),
}


def sax_symbols(
    long_df: DataFrame,
    w: int = 16,
    a: int = 4,
    key_col: str = "doc_id",
    pos_col: str = "pos",
    value_col: str = "value",
) -> DataFrame:
    """SAX symbolic discretization (Lin et al. 2003): z-normalize each
    series, PAA it into ``w`` equal index segments (``seg = i·w // n``,
    the LTTB bucket map), and map each segment mean to one of ``a``
    symbols via the standard-normal breakpoint table — the classic
    symbolic representation behind SAX indexing / HOT-SAX discords.

    Symbol convention: ``symbol = #{breakpoints < z}`` with ties at a
    breakpoint going to the LOWER symbol (z > bp, strict). Series in
    the engine-wide low-variance band (``sd < 1e-7·(|mu|+1)``,
    mpcore.stats.lowvar_threshold) emit NULL symbols — z-normalization
    is undefined there, the same rule as every kernel.

    Determinism: mu is the r9-rounded series mean; sd is the RECENTERED
    two-pass form ``sqrt(Σ(v−mu)²/n)`` r9 (the one-pass co-moment form
    loses the sd~1e-9-at-offset-42.5 adversarial band to catastrophic
    cancellation and the fp noise differs per engine); PAA means r9.
    z is then IEEE-identical on both engines and the breakpoint
    comparisons are exact. Output is integer-only.

    Scale: one exchange on the key — the index/mu windows, the
    recentered-sd aggregation, and the (key, seg) PAA groupBy all
    extend the same key partitioning (ClusteredDistribution reuse).
    """
    if a not in SAX_BREAKPOINTS:
        raise ValueError(f"sax_symbols: alphabet size {a} not in breakpoint table")
    bps = SAX_BREAKPOINTS[a]
    k, p, v = F.col(key_col), F.col(pos_col), F.col(value_col)
    wk = Window.partitionBy("key")
    # tie-break equal positions by value (truncated-second timestamps
    # collide; both engines index by (pos, v) so segments agree)
    wo = wk.orderBy("pos", "v")
    rows = (
        long_df.select(k.alias("key"), p.alias("pos"), v.cast("double").alias("v"))
        .withColumn("i", F.row_number().over(wo) - 1)
        .withColumn("n", F.count("v").over(wk))
        .withColumn("mu", F.round(F.avg("v").over(wk), 9))
    )
    stats = rows.groupBy("key").agg(
        F.round(
            F.sqrt(F.sum((F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu")))
                   / F.count("v")),
            9,
        ).alias("sd"),
        F.max("mu").alias("mu"),
        F.max("n").alias("n"),
    )
    paa = (
        rows.withColumn("seg", (F.col("i") * w / F.col("n")).cast("long"))
        .groupBy("key", "seg")
        .agg(F.round(F.avg("v"), 9).alias("pr"), F.count("v").alias("npts"))
    )
    z = (F.col("pr") - F.col("mu")) / F.col("sd")
    sym = sum(
        (z > F.lit(bp)).cast("int") for bp in bps
    )
    defined = F.col("sd") >= 1e-7 * (F.abs(F.col("mu")) + 1.0)
    return (
        paa.join(stats, "key")
        .select(
            F.col("key").alias(key_col),
            F.col("seg").cast("bigint").alias("seg"),
            F.when(defined, sym).cast("bigint").alias("symbol"),
            F.col("npts").cast("bigint").alias("npts"),
        )
    )


def dtw_pairs(
    nested: DataFrame,
    trunc: int = 48,
    band: int = 6,
    k_docs: int = 6,
) -> DataFrame:
    """Pairwise banded DTW distance matrix over the ``k_docs`` smallest
    qualifying tokenized docs (the UCR-suite companion distance to the
    matrix profile; Sakoe & Chiba 1978 band, L1 integer step cost).

    Docs with ``n_tok >= trunc`` qualify; each is truncated to its
    first ``trunc`` tokens so every pair is an equal-length integer DP
    and the distance is an EXACT bigint (see mpcore/dtw.py — no float
    convention anywhere, the oracle replays the identical recurrence).

    Scale shape: the doc set is k-bounded by contract (the
    mpdist_cluster convention), so the crossJoin is a broadcast
    k×k fan-in — never |docs|² — and the kernel is one map-only
    Arrow pass; the ONLY exchange is the deterministic k-smallest
    selection. For an all-pairs corpus sweep at scale, the banded
    candidate generators (simhash/minhash families) prune first and
    this kernel re-ranks survivors.
    """
    import pandas as pd

    from ..mpcore.dtw import dtw_banded

    k = (
        nested.filter(F.col("n_tok") >= trunc)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.slice("tokens", 1, trunc).alias("tokens"),
        )
        .orderBy("doc_id")
        .limit(k_docs)
    )
    a = k.select(F.col("doc_id").alias("ida"), F.col("tokens").alias("ta"))
    b = k.select(F.col("doc_id").alias("idb"), F.col("tokens").alias("tb"))
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("ida") < F.col("idb"))

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "ida": pdf["ida"],
                    "idb": pdf["idb"],
                    "dtw": [
                        dtw_banded(
                            np.asarray(ta, dtype=np.int64),
                            np.asarray(tb, dtype=np.int64),
                            band,
                        )
                        for ta, tb in zip(pdf["ta"], pdf["tb"])
                    ],
                }
            )

    return pairs.mapInPandas(kernel, "ida long, idb long, dtw long")


def dtw_search(
    nested: DataFrame,
    t: int = 16,
    band: int = 3,
    min_query_len: int = 48,
    k_cand: int = 32,
    topk: int = 10,
) -> DataFrame:
    """UCR-suite style query-by-example DTW subsequence search with the
    LB_Keogh lower-bound cascade (Keogh & Ratanamajhan — the classic
    envelope pruning; Rakthanmanon et al. KDD 2012 "Searching and
    mining trillions"): a cheap O(t) integer lower bound scores EVERY
    window, only the ``k_cand`` best-bounded candidates pay the exact
    O(t·band) banded DTW, the final ranking re-ranks survivors.

    Semantics contract (the lsh_ann convention): this is a
    candidate-generate + re-rank operator — the output is the exact-DTW
    top-k OF the k_cand lowest-LB windows, deterministic under the
    total (lb, doc, pos) / (dtw, doc, pos) tie orders. Since
    LB_Keogh ≤ DTW, a true match with DTW below every survivor's bound
    is never lost; the pytest pins the bound property per window.

    Integer-exact throughout: token ids, envelope, bound and DP are all
    bigints — no float convention anywhere (the dtw_pairs gate).

    Scale: the LB pass is a map-only Arrow kernel (sliding windows never
    leave their task); ONE top-k exchange selects k_cand rows; the
    exact-DTW pass touches k_cand windows only. The query is derived
    in-engine from the smallest qualifying doc (no external literals).
    """
    import numpy as np
    import pandas as pd

    from ..mpcore.dtw import dtw_banded

    qrow = (
        nested.filter(F.col("n_tok") >= min_query_len)
        .select(F.col("doc_id").cast("bigint").alias("did"), "tokens")
        .orderBy("did")
        .limit(1)
        .collect()
    )
    if not qrow:
        return nested.sparkSession.createDataFrame(
            [], "doc_id bigint, pos bigint, lb bigint, dtw bigint, rank int"
        )
    q = np.asarray(qrow[0].tokens[:t], dtype=np.int64)
    upper = np.array(
        [int(q[max(0, j - band) : j + band + 1].max()) for j in range(t)],
        dtype=np.int64,
    )
    lower = np.array(
        [int(q[max(0, j - band) : j + band + 1].min()) for j in range(t)],
        dtype=np.int64,
    )

    def lb_kernel(batches):
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            out = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                a = np.asarray(toks, dtype=np.int64)
                m = a.shape[0] - t + 1
                if m <= 0:
                    continue
                w = sliding_window_view(a, t)
                over = np.maximum(w - upper, 0)
                under = np.maximum(lower - w, 0)
                lb = np.maximum(over, under).sum(axis=1)
                out.append(
                    pd.DataFrame(
                        {
                            "doc_id": np.repeat(np.int64(doc_id), m),
                            "pos": np.arange(m, dtype=np.int64),
                            "lb": lb.astype(np.int64),
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    cands = nested.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "tokens"
    ).mapInPandas(lb_kernel, "doc_id long, pos long, lb long")
    surv = cands.orderBy("lb", "doc_id", "pos").limit(k_cand)
    withwin = surv.join(
        nested.select(F.col("doc_id").cast("bigint").alias("doc_id"), "tokens"),
        "doc_id",
    ).select(
        "doc_id", "pos", "lb",
        F.slice("tokens", F.col("pos").cast("int") + 1, t).alias("win"),
    )

    def exact_kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "pos": pdf["pos"],
                    "lb": pdf["lb"],
                    "dtw": [
                        dtw_banded(q, np.asarray(wv, dtype=np.int64), band)
                        for wv in pdf["win"]
                    ],
                }
            )

    exact = withwin.mapInPandas(
        exact_kernel, "doc_id long, pos long, lb long, dtw long"
    )
    from pyspark.sql import Window

    wr = Window.orderBy("dtw", "doc_id", "pos")
    return (
        exact.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= topk)
        .select("doc_id", "pos", "lb", "dtw", "rank")
    )


def lcss_pairs(
    nested: DataFrame,
    trunc: int = 40,
    k_docs: int = 6,
) -> DataFrame:
    """Pairwise longest-common-subsequence similarity over the
    ``k_docs`` smallest qualifying tokenized docs — the order-preserving
    companion to dtw_pairs (DTW tolerates warping, LCS tolerates
    DROPOUT: shared-subsequence length is the natural plagiarism /
    near-dup re-rank distance over token ids).

    Same contract as dtw_pairs: docs with ``n_tok >= trunc`` qualify,
    truncated to their first ``trunc`` tokens, so every pair is an
    equal-length ALL-INTEGER DP — the lcs value is an exact bigint and
    ``sim = lcs/trunc`` is one IEEE division. k-bounded broadcast
    fan-in, one map-only Arrow pass (the mpdist_cluster convention);
    at corpus scale the banded candidate generators prune first and
    this kernel re-ranks survivors.

    Output: (ida, idb, lcs, sim). Cites reference scope: tsmp ships no
    token-sequence similarity (SURVEY.md §2 extras).
    """
    import pandas as pd

    from ..mpcore.dtw import lcs_length

    k = (
        nested.filter(F.col("n_tok") >= trunc)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.slice("tokens", 1, trunc).alias("tokens"),
        )
        .orderBy("doc_id")
        .limit(k_docs)
    )
    a = k.select(F.col("doc_id").alias("ida"), F.col("tokens").alias("ta"))
    b = k.select(F.col("doc_id").alias("idb"), F.col("tokens").alias("tb"))
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("ida") < F.col("idb"))

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "ida": pdf["ida"],
                    "idb": pdf["idb"],
                    "lcs": [
                        lcs_length([int(x) for x in ta], [int(x) for x in tb])
                        for ta, tb in zip(pdf["ta"], pdf["tb"])
                    ],
                }
            )

    out = pairs.mapInPandas(kernel, "ida long, idb long, lcs long")
    return out.select(
        "ida",
        "idb",
        "lcs",
        (F.col("lcs").cast("double") / F.lit(float(trunc)) + F.lit(0.0)).alias("sim"),
    )


def bag_of_patterns(
    long_df: DataFrame,
    window: int = 8,
    w: int = 4,
    a: int = 4,
    key_col: str = "doc_id",
    pos_col: str = "pos",
    value_col: str = "value",
) -> DataFrame:
    """Bag-of-patterns time-series features (Lin & Li 2009/2012 — the
    histogram-of-SAX-words representation behind BOP/SAX-VSM
    classification): slide a length-``window`` subsequence over each
    series (step 1), z-normalize PER WINDOW, PAA to ``w`` segments,
    SAX to an ``a``-symbol word, apply NUMEROSITY REDUCTION (a run of
    identical consecutive words counts once — the trivial-match rule),
    and count words per series.

    Exactness WITHOUT rounding conventions: each window's mean/sd/PAA
    are FIXED-ORDER expressions over ``window`` lead columns
    (``(c0+c1+…)/n`` left-associated, recentered sd, IEEE sqrt), so
    both engines evaluate bit-identical doubles — nothing unordered
    ever forms (the holt raw-gating convention; the whole-series sax
    operator needs r9 because its window avg() is unordered, this one
    does not). Breakpoint comparisons are strict (ties to the lower
    symbol, the sax rule); windows in the engine-wide low-variance
    band (sd < 1e-7·(|mu|+1)) are DROPPED, as are incomplete tail
    windows. Word = Σ sym_k·a^(w−1−k), an exact integer.

    Scale: the ``window`` leads, the numerosity lag, and the final
    (key, word) groupBy all ride ONE key-hash exchange + one sort
    (same window spec, ClusteredDistribution prefix reuse). Output is
    the word histogram — bounded by a^w words per key.
    """
    if window % w != 0:
        raise ValueError("window must be a multiple of w")
    if a not in SAX_BREAKPOINTS:
        raise ValueError(f"bag_of_patterns: alphabet size {a} unsupported")
    bps = SAX_BREAKPOINTS[a]
    seg = window // w
    k, p, v = F.col(key_col), F.col(pos_col), F.col(value_col)
    wo = Window.partitionBy("key").orderBy("pos", "v")
    rows = long_df.select(
        k.alias("key"), p.alias("pos"), v.cast("double").alias("v")
    )
    cols = [F.lead("v", j).over(wo).alias(f"c{j}") for j in range(window)]
    led = rows.select("key", "pos", "v", *cols)
    cs = [F.col(f"c{j}") for j in range(window)]
    total = cs[0]
    for c in cs[1:]:
        total = total + c
    mu = total / F.lit(float(window))
    var = (cs[0] - mu) * (cs[0] - mu)
    for c in cs[1:]:
        var = var + (c - mu) * (c - mu)
    sd = F.sqrt(var / F.lit(float(window)))
    word = None
    for s in range(w):
        pseg = cs[s * seg]
        for j in range(1, seg):
            pseg = pseg + cs[s * seg + j]
        pr = pseg / F.lit(float(seg))
        z = (pr - mu) / sd
        sym = None
        for bp in bps:
            t = (z > F.lit(float(bp))).cast("int")
            sym = t if sym is None else sym + t
        term = sym.cast("bigint") * F.lit(int(a ** (w - 1 - s)))
        word = term if word is None else word + term
    ok = (
        F.col(f"c{window - 1}").isNotNull()
        & (sd >= F.lit(1e-7) * (F.abs(mu) + F.lit(1.0)))
    )
    kept = led.select(
        "key", "pos", "v", F.when(ok, word).alias("word")
    ).filter(F.col("word").isNotNull())
    prev = F.lag("word").over(Window.partitionBy("key").orderBy("pos", "v"))
    reduced = kept.withColumn("prev", prev).filter(
        F.col("prev").isNull() | (F.col("word") != F.col("prev"))
    )
    return (
        reduced.groupBy("key", "word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(
            F.col("key"), F.col("word").cast("bigint").alias("word"), "cnt"
        )
    )
