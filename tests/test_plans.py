"""Physical-plan shape regressions — the scale contract, asserted.

These tests pin the *plan*, not the output: at 100 TB an extra exchange or
a second evaluation of an Arrow-UDF lineage is the difference between a
job that finishes and one that doesn't. Each assertion here corresponds
to a measured lesson in SCALE.md §7.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tsmp_spark.operators import arc_count_cac, rollup_tier
from tsmp_spark.operators.dedup import minhash_lsh_pairs
from tsmp_spark.operators.matrix_profile import matrix_profile, matrix_profile_nested
from tsmp_spark.operators.series import events_to_nested


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_events_to_nested_single_exchange(events):
    """The fused converter shuffles exactly once (no row_number window)."""
    plan = _plan(events_to_nested(events))
    assert plan.count("Exchange") == 1
    assert "Window" not in plan


def test_arc_cac_single_kernel_scan(events):
    """arc_count_cac evaluates the Arrow-UDF profile lineage exactly once
    (regression: the union/spine formulation re-ran it ~5x)."""
    prof = matrix_profile(events_to_nested(events), 8, long_series_threshold=None)
    plan = _plan(arc_count_cac(prof, 8, 0.1))
    assert plan.count("MapInPandas") == 1


def test_profile_explode_is_jvm_side(events):
    """Nested kernel output explodes via Generate (codegen), never Python:
    the Python boundary appears once, for the kernel itself."""
    prof = matrix_profile(events_to_nested(events), 8, long_series_threshold=None)
    plan = _plan(prof)
    assert plan.count("MapInPandas") == 1
    assert "Generate" in plan  # posexplode of arrays_zip, JVM-side
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


def test_rollup_tier_no_extra_python(events):
    prof = matrix_profile(events_to_nested(events), 8, long_series_threshold=None)
    plan = _plan(rollup_tier(prof, 8))
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_tier1_fused_zero_exchange(spark):
    """Kernel-fused tier-1 (matrix_profile_tier1) folds per-bucket partials
    inside the kernel task, then hashes the tier-1 rows by doc_id ONCE:
    that single bounded exchange sits above the kernel, and every
    re-rollup on top (tier-2, tier-3, ...) reuses it with no exchange of
    its own."""
    from tsmp_spark.operators import rollup_rollup
    from tsmp_spark.operators.matrix_profile import matrix_profile_tier1

    seqs = spark.createDataFrame(
        [("d0", [float(i % 7) for i in range(64)])],
        "doc_id string, tokens array<double>",
    )
    t1 = matrix_profile_tier1(seqs, 8, 8, num_partitions=0)
    plan = _plan(t1)
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange") == 1
    plan3 = _plan(rollup_rollup(rollup_rollup(t1, 4), 4))
    assert plan3.count("Exchange") == 1, plan3
    above, below = plan3.split("MapInPandas")
    assert "Exchange hashpartitioning(doc_id" in above
    assert "Exchange" not in below


def test_token_tier_chain_single_exchange(spark):
    """The relational tier chain (nested_to_long → rollup_tier →
    rollup_rollup → gap_fill(locf) → retention_expire) is hash-partitioned
    by doc_id once, on the nested rows: every per-key operator above
    reuses it — no per-key broadcast, no spine join."""
    from tsmp_spark.operators import (
        gap_fill,
        nested_to_long,
        retention_expire,
        rollup_rollup,
    )

    seqs = spark.createDataFrame(
        [(f"d{k}", [float((i * (k + 3)) % 11) for i in range(96)]) for k in range(3)],
        "doc_id string, tokens array<double>",
    )
    long = nested_to_long(seqs).withColumn("at", F.col("pos"))
    t2 = rollup_rollup(rollup_tier(long, 8, value_col="value", index_col="at"), 4)
    plan = _plan(retention_expire(gap_fill(t2, locf=True), 6))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan
    assert "BroadcastExchange" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.index("Exchange") > plan.index("Generate posexplode"), plan


def test_minhash_pure_jvm(docs):
    """The whole dedup pipeline is built-in expressions — zero Python."""
    plan = _plan(minhash_lsh_pairs(docs, num_hashes=8, bands=4, threshold=0.25))
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_scan_filter_pushdown(events):
    """Predicate + projection reach the parquet scan."""
    df = events.filter(F.col("user_id") == 7).select("user_id", "value")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "user_id" in plan.split("PushedFilters")[1][:80]
    assert "ReadSchema" in plan


def test_kernel_plan_whole_stage_codegen(events):
    """The relational shell around the kernel stays inside codegen (AQE
    only materializes WholeStageCodegen spans in the final plan, so
    execute first)."""
    df = matrix_profile_nested(
        events_to_nested(events), 8, long_series_threshold=None
    ).agg(F.sum(F.size("mp")))
    df.collect()
    # codegen spans render as "*(N)" prefixes in the executed-plan string
    assert "*(" in _plan(df)


def test_tier_partition_pruning(spark, tmp_path):
    """Tier tables written partitioned by bucket_range: a retention /
    trailing-window read prunes expired partitions at the scan
    (PartitionFilters), reading zero bytes of old history."""
    import pandas as pd

    tier = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["a"] * 32,
                "bucket": range(32),
                "mp_min": [float(i) for i in range(32)],
            }
        )
    ).withColumn("bucket_range", (F.col("bucket") / 8).cast("long"))
    path = str(tmp_path / "tier1")
    tier.write.partitionBy("bucket_range").parquet(path)

    recent = spark.read.parquet(path).filter(F.col("bucket_range") >= 3)
    plan = _plan(recent)
    assert "PartitionFilters" in plan and "bucket_range" in plan.split("PartitionFilters")[1][:120]
    assert recent.count() == 8  # only the trailing partition was read


def test_cosine_topk_broadcasts_queries(spark):
    """ANN brute-force baseline: the small query side is broadcast — the
    big embeddings table never shuffles."""
    from tsmp_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(cosine_topk(emb, emb.limit(4), k=3))
    assert "BroadcastExchange" in plan and "BroadcastNestedLoopJoin" in plan
    # rank pushdown: WindowGroupLimit keeps only ~k rows per query on the
    # map side, so the top-k shuffle moves O(queries*k), not O(emb*queries)
    assert "WindowGroupLimit" in plan


def test_long_series_fanout_not_coalesced(spark):
    """The diagonal-chunk fan-out must NOT let AQE byte-coalesce the tiny
    (series x chunk) rows into one partition — each row carries seconds of
    kernel CPU (measured 5x wall regression when keyed repartition was
    coalesced)."""
    import pandas as pd

    from tsmp_spark.operators.matrix_profile import matrix_profile_nested

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [f"d{i}" for i in range(4)],
                "tokens": [[float(j % 17) for j in range(600)]] * 4,
            }
        )
    )
    nested = matrix_profile_nested(docs, 8, long_series_threshold=512, n_chunks=8)
    plan = nested._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan  # exempt from AQE coalescing


def test_neardup_default_not_quadratic(spark):
    """cosine_neardup_pairs' DEFAULT path must be the LSH bucket equi-join
    — never a nested-loop / cartesian all-pairs comparison (the exact mode
    stays available behind an explicit use_lsh=False for small inputs)."""
    from tsmp_spark.operators.similarity import cosine_neardup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(cosine_neardup_pairs(emb, threshold=0.9))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_ab_join_rebalanced(spark):
    """matrix_profile_join spreads the pairs rows across the cluster width
    before the kernel (same single-row-group lesson as the self-join)."""
    import pandas as pd

    from tsmp_spark.operators.matrix_profile import matrix_profile_join

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id_a": ["a", "b"],
                "tokens_a": [[float(i % 7) for i in range(64)]] * 2,
                "doc_id_b": ["c", "d"],
                "tokens_b": [[float(i % 5) for i in range(64)]] * 2,
            }
        )
    )
    out = matrix_profile_join(pairs, 8)
    plan = _plan(out)
    assert "REPARTITION_BY_NUM" in plan
    assert out.rdd.getNumPartitions() > 1


def test_scrimp_sampled_rebalanced(spark):
    """The sampled-SCRIMP path rebalances like the self-join path."""
    from tsmp_spark.operators.series import events_to_nested
    from tsmp_spark.plans.compute import _scrimp_sampled

    events = spark.read.parquet(f"{SF}/events.parquet")
    out = _scrimp_sampled(events_to_nested(events), 8, 0.3, 0.5)
    plan = _plan(out)
    assert "REPARTITION_BY_NUM" in plan


def test_caches_released_after_action(spark):
    """Operators that pin shared intermediates leave NO persisted RDDs
    behind once the caller releases the scope — the long-lived-session
    storage-leak regression."""
    from tsmp_spark.operators.cache import release_caches
    from tsmp_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    from tsmp_spark.operators.similarity import ivf_topk, lsh_bucket_topk

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    release_caches()  # clear pins left by other tests' lazy plans
    before = persistent_ids()  # caches other suite components own
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    minhash_lsh_pairs(docs, num_hashes=8, bands=4, threshold=0.25).count()
    ngram_jaccard_pairs(docs, threshold=0.5).count()
    lsh_bucket_topk(emb, k=2).count()
    ivf_topk(emb, k=2).count()
    assert release_caches() == 4
    assert persistent_ids() <= before


def test_decontaminate_broadcasts_benchmark(spark, docs):
    """Decontamination must broadcast the (small) benchmark shingles and
    never shuffle the training corpus — hash-join at scan speed."""
    from tsmp_spark.operators import decontaminate

    bench = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    plan = _plan(decontaminate(docs, bench, n=6))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_repetition_stats_pure_jvm(spark, docs):
    """Repetition signals are per-row expressions: no Python, and no
    exchange at all when parallelism is left unset."""
    from tsmp_spark.operators import repetition_stats

    plan = _plan(repetition_stats(docs))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_dsir_and_lm_models_broadcast(spark, docs):
    """Model sides (bucket LLRs, unigram/bigram LMs) are broadcast —
    the corpus side never shuffles for a model join; zero Python."""
    from tsmp_spark.operators.text import dsir_weights
    from tsmp_spark.operators.tokens import lm_perplexity, tokenize_documents

    target = docs.filter(F.col("doc_id") % 13 == 0)
    plan = _plan(dsir_weights(docs, target))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan

    plan2 = _plan(lm_perplexity(tokenize_documents(docs)))
    assert "BroadcastHashJoin" in plan2
    assert "BatchEvalPython" not in plan2 and "MapInPandas" not in plan2


def test_semantic_dedup_plan_shape(spark):
    """SemDeDup's dedup join is an EQUI-join on cluster id (the only
    corpus-side shuffle); the trained codebook is a broadcast; no
    row-at-a-time Python anywhere. (The small BroadcastNestedLoopJoin in
    the plan is the k-row codebook cross join — codebook-bounded by
    construction, same shape as the IVF assignment.)"""
    from tsmp_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(semantic_dedup(emb, n_clusters=4, kmeans_iters=1))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the x↔y pairing must be keyed on cluster, never an all-pairs loop:
    # an equi-join operator with cluster in its keys appears in the plan
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


# --- product quantization ----------------------------------------------------


@pytest.fixture(scope="module")
def pq_setup(spark):
    from tsmp_spark.operators.similarity import pq_codebooks

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    return emb, pq_codebooks(emb, m=4, k=16, n_iter=1)


def test_pq_encode_map_only_zero_exchange(spark, pq_setup):
    from tsmp_spark.operators.similarity import pq_encode

    emb, cb = pq_setup
    plan = _plan(pq_encode(emb, cb))
    assert "Exchange" not in plan  # the corpus never shuffles
    # the k x subw dots run in the Arrow kernel (BLAS) — the interpreted
    # HOF form cost 48 s for one 50k x 64-d pass (SCALE.md 2c); the
    # kernel is still a pure map over the scan
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan


def test_pq_adc_scan_single_exchange_partial_topk(spark, pq_setup):
    from tsmp_spark.operators.similarity import pq_adc_topk

    emb, _ = pq_setup
    plan = _plan(pq_adc_topk(emb, F.col("vec_id") % 50 == 0, k_neighbors=5))
    # round 4: distance tables are broadcast LUT ROWS (in-engine kernel),
    # not plan literals — the scan is the coded corpus broadcast-crossed
    # with the query tables (inherent |Q|x|DB| scoring of a brute ADC,
    # query side broadcast); the ONLY shuffle is the per-query top-k
    # window, with partial top-k below it
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("BroadcastExchange") == 1
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_pq_adc_plan_size_independent_of_query_count(spark, pq_setup):
    """The r3 scale bound: literal LUTs grew the plan O(|Q|·m·k). Now the
    tables are DataFrame rows, so a 256-query predicate must build a plan
    no bigger than a 2-query one (modulo the predicate text itself)."""
    from tsmp_spark.operators.similarity import ivf_pq_topk, pq_adc_topk

    emb, _ = pq_setup
    small = len(_plan(pq_adc_topk(emb, F.col("vec_id") % 500 == 0)))
    large = len(_plan(pq_adc_topk(emb, F.col("vec_id") % 2 == 0)))
    assert large < small + 2000, (small, large)
    small = len(_plan(ivf_pq_topk(emb, F.col("vec_id") % 500 == 0)))
    large = len(_plan(ivf_pq_topk(emb, F.col("vec_id") % 2 == 0)))
    assert large < small + 2000, (small, large)


def test_simhash_neardup_banded_join_no_python(spark):
    from tsmp_spark.operators.dedup import simhash_neardup_pairs
    from tsmp_spark.operators.cache import release_caches

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(simhash_neardup_pairs(docs, max_hamming=3))
    release_caches()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # candidates come from the banded equi-join


def test_ivf_pq_scan_single_exchange_partial_topk(spark):
    from tsmp_spark.operators.similarity import ivf_pq_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(ivf_pq_topk(emb, F.col("vec_id") % 50 == 0, k_neighbors=5))
    # entire database path (coarse argmax -> residual -> PQ codes -> ADC)
    # is map-only; the LUTs broadcast-HASH-join on the probed cell (round
    # 4: rows, not literals); the one shuffle is the per-query top-k window
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("BroadcastExchange") == 1
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_exchange_no_range_join(spark):
    from tsmp_spark.operators.rollup import asof_join

    left = spark.createDataFrame([(1, 5)], "user_id long, ts long")
    right = spark.createDataFrame([(1, 4, 1.0)], "user_id long, ts long, value double")
    plan = _plan(asof_join(left, right))
    # union + ONE keyed window: never a range/interval join (BNLJ at scale)
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_m4_and_percentiles_single_combinable_groupby(spark):
    from tsmp_spark.operators.rollup import m4_downsample, rollup_percentiles

    df = spark.createDataFrame([("s", 0, 1.0)], "doc_id string, pos long, value double")
    for op in (lambda: m4_downsample(df, 8), lambda: rollup_percentiles(df, 8)):
        plan = _plan(op())
        assert plan.count("Exchange") == 1  # one combinable groupBy
        assert "partial" in plan.lower()  # map-side partial aggregation
        assert "BatchEvalPython" not in plan


def test_sessionize_single_exchange_reuse(spark):
    from tsmp_spark.operators.rollup import sessionize

    df = spark.createDataFrame([(1, 0)], "user_id long, sec long")
    plan = _plan(sessionize(df, 100, key_col="user_id", ts_col="sec"))
    # window hash-partitions by key; the (key, session_idx) groupBy extends
    # that prefix and reuses the exchange (ClusteredDistribution subset rule)
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_hampel_single_exchange(events):
    """Both percentile windows and the final groupBy share the
    (key, bucket) hash — exactly one Exchange, no Python."""
    from tsmp_spark.operators.rollup import hampel_outliers
    import pyspark.sql.functions as F

    ev = events.select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    plan = _plan(hampel_outliers(ev, bucket_sec=21600, key_col="user_id",
                                 ts_col="sec"))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_seasonal_decompose_reuses_key_exchange(events):
    """bucket groupBy shuffles on (key, bucket); the MA window re-shuffles
    on key; the phase groupBy extends the window's key prefix and REUSES
    that exchange — two total, integer-only output, no Python."""
    from tsmp_spark.operators.rollup import seasonal_decompose
    import pyspark.sql.functions as F

    ev = events.select(
        "event_type", F.unix_timestamp("ts").alias("sec"), "value"
    )
    plan = _plan(seasonal_decompose(ev, period=24, bucket_sec=3600,
                                    key_col="event_type", ts_col="sec"))
    assert plan.count("Exchange") == 2
    assert "BatchEvalPython" not in plan


def test_sax_single_key_exchange(events):
    """Index/mu windows, the recentered-sd agg, and the (key, seg) PAA
    groupBy all extend the key partitioning — the whole operator runs on
    exchanges of the key only (the stats join adds its own small side)."""
    from tsmp_spark.operators.series import sax_symbols
    import pyspark.sql.functions as F

    ev = events.select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value"
    )
    plan = _plan(sax_symbols(ev, w=16, a=4, key_col="user_id", pos_col="sec"))
    assert "BatchEvalPython" not in plan
    # the raw-row side shuffles ONCE on the key; every later hash
    # requirement (sd agg, PAA groupBy, join) reuses or derives from it
    assert plan.count("hashpartitioning(key") <= 3


def test_hll_combinable_no_python(events):
    """HLL rollup is two combinable groupBys (partial_max per register,
    then partial_sum per bucket) — map-side combine absorbs hot buckets;
    no Python anywhere, no window, no join."""
    from tsmp_spark.operators.sketch import hll_rollup
    import pyspark.sql.functions as F

    ev = events.select("user_id", F.unix_timestamp("ts").alias("sec"))
    plan = _plan(hll_rollup(ev, bucket_sec=86400, item_col="user_id",
                            ts_col="sec"))
    assert "BatchEvalPython" not in plan
    assert "partial_max" in plan and "partial_sum" in plan
    assert "Join" not in plan


def test_cms_bounded_join_no_python(events):
    """CMS: counter build and probe are combinable groupBys; the probe
    join is keyed on (bucket, r, c) — bounded by d*w cells per bucket,
    never raw-row x raw-row; no Python, no cartesian/nested-loop."""
    from tsmp_spark.operators.sketch import cms_counts
    import pyspark.sql.functions as F

    ev = events.select("event_type", F.unix_timestamp("ts").alias("sec"))
    plan = _plan(cms_counts(ev, bucket_sec=21600, item_col="event_type",
                            ts_col="sec"))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_interval_coalesce_single_exchange(events):
    """Window partitions on key; the island groupBy extends that hash
    prefix and reuses the exchange — ONE shuffle, no Python."""
    from tsmp_spark.operators.rollup import interval_coalesce
    import pyspark.sql.functions as F

    sec = F.unix_timestamp("ts").cast("long")
    iv = events.select(F.col("user_id"), sec.alias("start"),
                       (sec + F.lit(100)).alias("end"))
    plan = _plan(interval_coalesce(iv, key_col="user_id"))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_interval_join_is_equi_join(events):
    """The containment join must plan as a keyed equi-join on
    (key, bucket) — never BNLJ/cartesian (the range-join explosion)."""
    from tsmp_spark.operators.rollup import interval_coalesce, interval_join
    import pyspark.sql.functions as F

    sec = F.unix_timestamp("ts").cast("long")
    iv = interval_coalesce(
        events.select("user_id", sec.alias("start"),
                      (sec + F.lit(7200)).alias("end")),
        key_col="user_id")
    ev = events.select("user_id", sec.alias("sec"))
    plan = _plan(interval_join(ev, iv, grain_sec=3600, key_col="user_id",
                               ts_col="sec"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_bloom_probe_single_probe_exchange(events, spark):
    """Bloom probe: the big (probe) side shuffles ONCE on the item key
    — the position explode preserves that partitioning and the match
    groupBy extends its hash prefix; the m-bounded bit set and the
    build keys both arrive by broadcast. No Python, no nested loop."""
    from tsmp_spark.operators.sketch import bloom_probe_stats

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_partkey")
    pt = spark.read.parquet(f"{SF}/part.parquet").where("p_size < 8") \
        .select("p_partkey")
    plan = _plan(bloom_probe_stats(li, pt, "l_partkey", "p_partkey"))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the probe groupBy keys on cast(l_partkey as string) — printed as
    # _groupingexpression — and the match-count groupBy extends that
    # hash prefix, so there is NO second probe-side exchange
    assert plan.count("Exchange hashpartitioning(_groupingexpression") == 1
    assert plan.count("Exchange hashpartitioning(item") == 0


def test_phash_neardup_banded_no_nested_loop(spark):
    """Perceptual near-dup: the hash is a map-only Arrow kernel (the
    multimodal decode seam — Python IS the kernel layer there) but the
    pair generation must stay a banded equi-join: no cartesian, no
    broadcast nested loop, shuffle keyed on (band, key)."""
    from tsmp_spark.operators.multimodal import phash_neardup_pairs
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    plan = _plan(phash_neardup_pairs(media))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate join is an EQUI-join on [band, key] — at this toy SF
    # the planner broadcasts the small side, at scale the same keys
    # become the shuffle keys; either way the keys must be in the join
    assert "Join [band" in plan or "hashpartitioning(band" in plan


def test_tfidf_windowgrouplimit_no_python(docs):
    """TF-IDF top-k: per-doc rank window gets WindowGroupLimit partial
    pushdown (final shuffle moves O(docs*k)); zero Python; the doc-count
    scalar is a broadcast, not a shuffle."""
    from tsmp_spark.operators.text import tfidf_topk_terms

    plan = _plan(tfidf_topk_terms(docs, k=5))
    assert "BatchEvalPython" not in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_explode_merge_family_no_range_join(events):
    """hll_sliding / decayed_topk / active_users: the trailing-window
    merge is an explode + equi-groupBy — never a BNLJ range join — and
    the count/max groupBys keep map-side partial aggregation."""
    import pyspark.sql.functions as F
    from tsmp_spark.operators.rollup import active_users, decayed_topk
    from tsmp_spark.operators.sketch import hll_sliding_rollup

    ev = events.select("user_id", "event_type",
                       F.unix_timestamp("ts").alias("sec"))
    for df in (
        hll_sliding_rollup(ev, bucket_sec=86400, window_buckets=7),
        decayed_topk(ev, bucket_sec=3600),
        active_users(ev, bucket_sec=86400),
    ):
        plan = _plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        assert "partial_" in plan  # map-side combine somewhere in the chain


def test_pricing_summary_predicate_pushdown(spark):
    """The Q1-shape scan pushes the ship-date predicate and prunes to
    the business columns (PushedFilters + narrow ReadSchema)."""
    from tsmp_spark.queries import q_pricing_summary

    plan = _plan(q_pricing_summary(spark, SF))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    assert "l_comment" not in plan.split("ReadSchema")[-1][:400]
    assert "partial_sum" in plan  # map-side combine on the groupBy


def test_shipping_priority_broadcasts_dims(spark):
    """Q3-shape: both filtered dimension sides arrive by broadcast —
    the fact table never shuffles for the joins."""
    from tsmp_spark.queries import q_shipping_priority

    plan = _plan(q_shipping_priority(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


#: queries whose q() function starts a real stream (planning would run it)
_STREAMING_QUERIES = {
    "hll_stream", "cms_stream", "upsert_stream", "attribution_stream",
    "stompi_stream", "floss_chunked", "rollup_stream", "pack_stream",
    "dedup_stream", "sessionize_stream",
}


def test_registry_wide_plan_audit(spark):
    """EVERY registered batch query planned at sf0.001 and audited for
    the two global anti-patterns: row-at-a-time Python (BatchEvalPython
    / ArrowEvalPython — the kernel layer is MapInPandas/
    FlatMapGroupsInPandas, which are allowed) and CartesianProduct
    (every cross join must broadcast). One test, the whole surface."""
    from tsmp_spark.queries import QUERIES

    offenders = {}
    for name, fn in sorted(QUERIES.items()):
        if name in _STREAMING_QUERIES:
            continue
        try:
            df = fn(spark, SF)
            plan = _plan(df)
        except Exception as e:  # pragma: no cover - audit robustness
            offenders[name] = f"plan build failed: {e}"
            continue
        if "BatchEvalPython" in plan:
            offenders[name] = "BatchEvalPython"
        elif "ArrowEvalPython" in plan:
            offenders[name] = "ArrowEvalPython"
        elif "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
    assert not offenders, offenders


def test_hdr_rollup_single_exchange_no_python(events):
    """HDR sketch build is ONE combinable groupBy over per-row integer
    expressions — no Python, no join, no window; the index math
    (bin/shift) stays inside codegen."""
    from tsmp_spark.operators.sketch import hdr_rollup
    import pyspark.sql.functions as F

    ev = events.select("event_type", F.unix_timestamp("ts").alias("sec"),
                       "value")
    plan = _plan(hdr_rollup(ev, 86400))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan
    assert "partial_count" in plan
    assert "Join" not in plan and "Window" not in plan


def test_mg_summary_window_group_limit(events):
    """The Misra–Gries theta window must be LIMIT-pushed: a
    WindowGroupLimit below the bucket exchange (partial mode) so a
    bucket with millions of distinct items never becomes one full-sort
    task — the row_number filter is rnk <= k+1, the shape Spark's
    InferWindowGroupLimit rewrites. No Python in the plan."""
    from tsmp_spark.operators.sketch import mg_summary
    import pyspark.sql.functions as F

    ev = events.select("user_id", F.unix_timestamp("ts").alias("sec"))
    plan = _plan(mg_summary(ev, 21600, k=8))
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ohlc_single_exchange_no_window(events):
    """OHLC is ONE combinable groupBy — min_by/max_by over the (ts, id)
    struct have map-side partials; no Window, no second Exchange, no
    Python."""
    from tsmp_spark.operators.rollup import ohlc
    import pyspark.sql.functions as F

    ev = events.select("event_id", "event_type", "value",
                       F.unix_timestamp("ts").alias("sec"))
    plan = _plan(ohlc(ev, 21600))
    assert plan.count("Exchange") == 1
    assert "Window" not in plan and "BatchEvalPython" not in plan


def test_state_agg_exchange_reuse(events):
    """state_agg: the (key, bucket, state) groupBy EXTENDS the lead
    window's hashpartitioning(key) — ClusteredDistribution subset rule,
    ONE exchange total (the pack_sequences plan rule)."""
    from tsmp_spark.operators.rollup import state_agg
    import pyspark.sql.functions as F

    ev = events.select("event_id", "event_type", "user_id",
                       F.unix_timestamp("ts").alias("sec"))
    plan = _plan(state_agg(ev, 21600))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_heartbeat_uptime_single_exchange(events):
    """heartbeat_uptime end to end: island window, island groupBy,
    split explode, and the (key, bucket) groupBy all extend the key
    hash prefix — ONE exchange, no Python."""
    from tsmp_spark.operators.rollup import heartbeat_uptime
    import pyspark.sql.functions as F

    ev = events.select("user_id", F.unix_timestamp("ts").alias("sec"))
    plan = _plan(heartbeat_uptime(ev, 7200, 21600))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_hdr_quantiles_sketch_rows_only_window(events):
    """The quantile finisher's window + final groupBy run over SKETCH
    rows and REUSE one (key, bucket)-compatible exchange: two Exchanges
    total (raw-row groupBy + sketch-row hash), never a third for the
    final groupBy."""
    from tsmp_spark.operators.sketch import hdr_quantiles
    import pyspark.sql.functions as F

    ev = events.select("event_type", F.unix_timestamp("ts").alias("sec"),
                       "value")
    plan = _plan(hdr_quantiles(ev, 86400))
    assert plan.count("Exchange") == 2
    assert "BatchEvalPython" not in plan


def test_regional_volume_all_dims_broadcast(spark):
    """TPC-H Q5 shape: every dimension side broadcasts — the fact table
    must never SortMergeJoin; its only exchange is the final nation
    groupBy."""
    from tsmp_spark.queries import q_regional_volume

    plan = _plan(q_regional_volume(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scd2_build_one_exchange_one_sort(events):
    """SCD2's four window passes (lag, change filter, version
    row_number, lead) all ride ONE hash(key) exchange AND one sort —
    the change filter preserves the (t, i) order so Catalyst re-sorts
    nothing."""
    from tsmp_spark.operators.rollup import scd2_build

    ev = events.select(
        "user_id", "event_type", "event_id",
        F.unix_timestamp("ts").alias("sec"),
    )
    plan = _plan(scd2_build(ev))
    assert plan.count("Exchange") == 1
    assert plan.count("Sort") == 1


def test_slo_burn_single_groupby_plus_scalar_broadcast(events):
    """slo_burn = one combinable groupBy(key) plus the broadcast global
    max — no window function, no second data shuffle."""
    from tsmp_spark.operators.rollup import slo_burn

    ev = events.select("user_id", "event_id", F.unix_timestamp("ts").alias("sec"))
    plan = _plan(slo_burn(ev, F.col("event_id") % 5 == 0))
    assert plan.count("hashpartitioning") == 1  # the key groupBy
    assert "BroadcastNestedLoopJoin" in plan  # the scalar max
    assert "Window" not in plan


def test_salted_skew_agg_two_phase_plan(docs):
    """The salted aggregation's first exchange partitions on (key, salt)
    — never on the bare skewed key — and the merge exchange on key sees
    at most B rows per key. Two hash exchanges, no window, no sort."""
    from tsmp_spark.operators.series import salted_groupby_stats

    plan = _plan(salted_groupby_stats(docs, salt_buckets=16))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "_salt" in plan.split("Exchange hashpartitioning")[1]
    assert "Window" not in plan and "Sort" not in plan


def test_cep_pattern_match_single_key_exchange(events):
    """Both look-ahead windows share one spec and the per-key groupBy
    extends the key prefix: exactly ONE hashpartitioning on the data
    path (the first-match rejoin reuses it), no BatchEvalPython."""
    from tsmp_spark.operators.rollup import cep_pattern_match

    ev = events.select(
        "user_id", "event_id", "event_type",
        F.unix_timestamp("ts").cast("long").alias("sec"),
    )
    plan = _plan(cep_pattern_match(ev, "click", "purchase", "error"))
    # every data shuffle is on the bare key (the first-match branch
    # re-derives the bounded A table and joins back as a BROADCAST)
    import re

    parts = {m.split("#")[0] for m in
             re.findall(r"hashpartitioning\(([^,)]+)", plan)}
    assert parts == {"key"}
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_hrw_shard_assign_zero_exchange(spark):
    """HRW assignment is a pure per-row projection: no Exchange, no
    Window, no join in the plan."""
    from tsmp_spark.operators.catalog import hrw_shard_assign

    keys = spark.range(100).select(F.col("id").cast("string").alias("key"))
    plan = _plan(hrw_shard_assign(keys, n_shards=8, n_shards_after=9))
    assert "Exchange" not in plan
    assert "Window" not in plan and "Join" not in plan


def test_readability_and_fertility_map_only(spark):
    """readability_scores is zero-exchange map-only; tokenizer_fertility
    adds exactly the one combinable source groupBy."""
    from tsmp_spark.operators.text import (
        readability_scores, tokenizer_fertility,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert "Exchange" not in _plan(readability_scores(docs))
    fplan = _plan(tokenizer_fertility(docs))
    assert fplan.count("Exchange") == 1
    assert "partial" in fplan.lower()  # map-side combine present


def test_bag_of_patterns_one_key_exchange(events):
    """Leads, the numerosity lag, and the (key, word) groupBy ride one
    key-hash partitioning family — no second data-wide shuffle key."""
    from tsmp_spark.operators.series import bag_of_patterns

    ev = events.select(
        "user_id", F.unix_timestamp("ts").cast("long").alias("sec"), "value"
    )
    plan = _plan(
        bag_of_patterns(ev, key_col="user_id", pos_col="sec",
                        value_col="value")
    )
    import re

    parts = set(re.findall(r"hashpartitioning\((\w+)", plan))
    assert parts == {"key"}
    assert "BatchEvalPython" not in plan


def test_quantile_transform_no_global_row_window(events):
    """The per-row transform must never sort raw rows globally: every
    Window in the plan is key-partitioned (runs over the bounded value
    histogram), and the join back is on (key, vc)."""
    from tsmp_spark.operators.rollup import quantile_transform

    plan = _plan(quantile_transform(events))
    import re

    # every windowspec partitions by key (no empty partition-by)
    assert "Window" in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "key" in spec
    assert "BatchEvalPython" not in plan


def test_kendall_pairs_sketch_bounded_join(events):
    """The O(n^2) pair join must consume the tier-1 SKETCH (post-
    aggregation), never raw rows: the bucket-pair join sits above
    HashAggregates and the plan has no cartesian product."""
    from tsmp_spark.operators.rollup import kendall_pairs

    plan = _plan(kendall_pairs(events.withColumn("ts", F.col("ts"))))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # tier-1 partial+final


def test_theil_sen_mk_grid_bounded_pair_join(events):
    """With grid_sec set, the Theil-Sen / Mann-Kendall pair joins must
    consume the BOUNDED sub-bucket cell grid (aggregation BELOW the
    join), never raw rows — one hot bucket cannot go quadratic (the
    kendall_pairs tier-grid contract)."""
    from tsmp_spark.operators.rollup import mann_kendall, theil_sen_trend

    ev = events.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").alias("sec"), "value",
    )
    for df in (
        theil_sen_trend(ev, bucket_sec=21600, grid_sec=1800),
        mann_kendall(ev, bucket_sec=21600, grid_sec=1800),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        # the cell fold (partial+final) must sit below the pair join
        join_at = min(
            i for i in (plan.find("SortMergeJoin"),
                        plan.find("ShuffledHashJoin"),
                        plan.find("BroadcastHashJoin"))
            if i >= 0
        )
        assert "HashAggregate" in plan[join_at:], (
            "pair join must read the aggregated grid, not raw rows"
        )
