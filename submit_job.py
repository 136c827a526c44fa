"""spark-submit entry point: the full rollup + downsample + retention
pipeline as a resumable, checkpointed batch job.

Usage (north rule launch mode):

    zip -r tsmp_spark.zip tsmp_spark
    spark-submit --master local[32] --py-files tsmp_spark.zip \
        submit_job.py --input /root/testdata/sf0.1/events.parquet \
        --output /tmp/tsmp_out --window 8 --tiers 8,4,4 --n-parts 16

Reads the input events (or a ``sequences`` parquet in input_hint shape),
computes the tier-0 matrix profile per series, rolls it up through the
requested retention tiers, Gorilla-packs each tier, and writes everything
under ``--output`` with a per-partition manifest (lineage + metrics) —
interrupt and re-submit to resume (jobs.CheckpointedJob).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_args(argv):
    p = argparse.ArgumentParser()
    p.add_argument(
        "--job",
        choices=["rollup", "assemble"],
        default="rollup",
        help="rollup: matrix-profile tier pipeline (default). assemble: "
        "training-set assembly — documents parquet -> hash tokenizer "
        "(+EOS) -> fixed-length sequence packing with doc spans, "
        "checkpointed per SOURCE group (packing streams are independent "
        "per source, so source-grouped parts resume without changing any "
        "sequence boundary)",
    )
    p.add_argument("--input", required=True, help="events parquet or sequences parquet")
    p.add_argument("--seq-len", type=int, default=2048, help="assemble: packed length")
    p.add_argument(
        "--pack-shards", type=int, default=1,
        help="assemble: split each source into N deterministic packing "
        "streams (Zipf-hot source skew control)",
    )
    p.add_argument(
        "--eos", type=int, default=32768,
        help="assemble: document-separator token id appended per doc (-1 disables)",
    )
    p.add_argument(
        "--input-kind",
        choices=["events", "sequences", "events-stream"],
        default="events",
        help="events-stream: run the tier-1 continuous aggregate as a "
        "Structured Streaming job over the input DIRECTORY (availableNow); "
        "resumes from Spark's own checkpointLocation on re-submit — new "
        "files since the last run are the only work done",
    )
    p.add_argument("--output", required=True)
    p.add_argument("--window", type=int, default=8)
    p.add_argument("--tiers", default="8,4", help="bucket factors, tier1,tier2,...")
    p.add_argument("--n-parts", type=int, default=16, help="checkpoint partitions")
    p.add_argument("--retention-buckets", type=int, default=0, help="0 = keep all")
    p.add_argument("--salt-buckets", type=int, default=8)
    p.add_argument(
        "--partition-range", type=int, default=64,
        help="tier sink partition width: files partitioned by bucket div N, "
        "so retention expiry and recent-window reads prune whole partitions "
        "(0 = unpartitioned)",
    )
    return p.parse_args(argv)


def run_streaming(spark, args, t0) -> int:
    """Streaming tier-1: file stream -> watermarked continuous aggregate ->
    foreachBatch parquet upsert, checkpointed by Spark (exactly-once file
    progress). Re-submitting with the same --output resumes: already-seen
    input files are skipped by the checkpoint, matching the batch job's
    manifest-resume contract but with Spark-native streaming state."""
    from pyspark.sql import functions as F

    from tsmp_spark.streaming import rollup_stream

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props map<string,string>"
        )
        .option("pathGlobFilter", "*.parquet")
        .parquet(args.input)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    tier = rollup_stream(stream, bucket_duration="1 hour", watermark="4 hours")

    n_batches = {"n": 0, "rows": 0}
    log_dir = f"{args.output}/tier1_stream_log"
    compact_dir = f"{args.output}/tier1_stream"

    def upsert(batch_df, batch_id):
        """Merge-on-read upsert: update-mode re-emissions APPEND to a
        batch-stamped log (overwriting a partition per batch would drop
        that partition's rows not re-emitted in the batch — measured).
        Latest batch_seq per (doc_id, bucket_start) wins at compaction."""
        n_batches["n"] += 1
        n_batches["rows"] += batch_df.count()
        (
            batch_df.withColumn("batch_seq", F.lit(int(batch_id)))
            .withColumn("bucket_date", F.to_date("bucket_start"))
            .write.mode("append")
            .partitionBy("bucket_date")
            .parquet(log_dir)
        )

    q = (
        tier.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", f"{args.output}/_stream_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # compaction: latest emission per bucket (at warehouse scale this runs
    # periodically over recent date partitions only; the full-log rewrite
    # here matches the demo data size)
    from pyspark.sql.window import Window

    log = spark.read.parquet(log_dir)
    w_last = Window.partitionBy("doc_id", "bucket_start").orderBy(
        F.col("batch_seq").desc()
    )
    compacted = (
        log.withColumn("_rn", F.row_number().over(w_last))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch_seq")
    )
    (
        compacted.write.mode("overwrite")
        .partitionBy("bucket_date")
        .parquet(compact_dir)
    )
    n_rows = spark.read.parquet(compact_dir).count()
    print(
        json.dumps(
            {
                "mode": "streaming",
                "micro_batches": n_batches["n"],
                "rows_upserted": n_batches["rows"],
                "rows_compacted": n_rows,
                "total_wall_sec": round(time.time() - t0, 2),
            }
        )
    )
    return 0


def run_assemble(spark, args, t0) -> int:
    """Training-set assembly as a resumable job: tokenize (+EOS) ->
    pack into fixed-length sequences with doc-span metadata, committed
    per source-hash part with lineage + metrics. Packing streams are
    keyed (source, shard), so a part that contains WHOLE sources packs
    identically whether it runs alone or in the full job — resume
    cannot move a sequence boundary."""
    from pyspark.sql import functions as F

    from tsmp_spark.jobs import CheckpointedJob
    from tsmp_spark.operators import pack_sequences, tokenize_documents

    docs = spark.read.parquet(args.input)
    job = CheckpointedJob(
        spark=spark,
        base_dir=f"{args.output}/packed",
        n_parts=args.n_parts,
        key_col="source",
    )
    lineage = {
        "input": args.input,
        "stage": "assemble_pack",
        "seq_len": args.seq_len,
        "pack_shards": args.pack_shards,
        "eos": args.eos,
    }

    def transform(part):
        tok = tokenize_documents(
            part, append_eos=(args.eos if args.eos >= 0 else None)
        )
        return pack_sequences(
            tok,
            seq_len=args.seq_len,
            shards=args.pack_shards,
            with_spans=True,
        )

    packed = job.run(docs, transform, lineage=lineage)
    agg = packed.agg(
        F.count("*").alias("n_seqs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("n_docs").alias("n_doc_pieces"),
    ).collect()[0]
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "mode": "assemble",
                "sequences": agg.n_seqs,
                "tokens_packed": agg.n_tokens,
                "doc_pieces": agg.n_doc_pieces,
                "seq_len": args.seq_len,
                "total_wall_sec": round(wall, 2),
                "tokens_per_sec": round(agg.n_tokens / wall, 1),
            }
        )
    )
    return 0


def main(argv=None) -> int:
    args = build_args(argv)
    from pyspark.sql import SparkSession, functions as F

    # under spark-submit the session is provided by the launcher config;
    # getOrCreate picks it up (local runs get tsmp defaults)
    spark = SparkSession.builder.appName("tsmp_rollup_job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from tsmp_spark.codecs import pack_rollup
    from tsmp_spark.jobs import CheckpointedJob
    from tsmp_spark.operators import (
        matrix_profile,
        retention_expire,
        rollup_rollup,
        rollup_tier,
        salted_repartition,
    )
    from tsmp_spark.operators.series import events_to_nested

    t0 = time.time()
    if args.job == "assemble":
        return run_assemble(spark, args, t0)
    if args.input_kind == "events-stream":
        return run_streaming(spark, args, t0)
    if args.input_kind == "events":
        sequences = events_to_nested(spark.read.parquet(args.input))
    else:
        sequences = spark.read.parquet(args.input).select(
            "doc_id", F.col("tokens").cast("array<double>").alias("tokens")
        )
    # skew control on the shuffle into the kernel stage (north rule)
    sequences = salted_repartition(
        sequences, "doc_id", spark.sparkContext.defaultParallelism, args.salt_buckets
    )

    tiers = [int(x) for x in args.tiers.split(",") if x]
    job = CheckpointedJob(spark=spark, base_dir=f"{args.output}/tier0", n_parts=args.n_parts)

    def tier0_transform(part):
        return matrix_profile(part, args.window, num_partitions=0)

    lineage = {
        "input": args.input,
        "window": args.window,
        "tiers": tiers,
        "stage": "tier0_matrix_profile",
    }
    profile = job.run(sequences, tier0_transform, lineage=lineage)

    import numpy as np
    import pandas as pd

    prev = profile
    for k, bucket in enumerate(tiers, start=1):
        tier = (
            rollup_tier(prev, bucket)
            if k == 1
            else rollup_rollup(prev, bucket)
        )
        if args.retention_buckets > 0:
            tier = retention_expire(tier, args.retention_buckets)
        tier = tier.persist()
        writer = tier.write.mode("overwrite")
        if args.partition_range > 0:
            # Hive-style layout bucket_range=<bucket div N>: a retention
            # query (bucket > horizon) or dashboard read of the trailing
            # window hits only the tail partitions — PartitionFilters in
            # the scan, zero I/O on expired history (plan-shape tested)
            writer = (
                tier.withColumn(
                    "bucket_range",
                    (F.col("bucket") / args.partition_range).cast("long"),
                )
                .write.mode("overwrite")
                .partitionBy("bucket_range")
            )
        writer.parquet(f"{args.output}/tier{k}")

        def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("bucket")
            blob = pack_rollup(
                pdf["bucket"].to_numpy(np.int64), pdf["mp_min"].to_numpy(np.float64)
            )
            return pd.DataFrame({"doc_id": [key[0]], "blob": [blob], "n": [len(pdf)]})

        packed = tier.groupBy("doc_id").applyInPandas(
            pack, "doc_id string, blob binary, n long"
        )
        packed.write.mode("overwrite").parquet(f"{args.output}/tier{k}_packed")
        prev = tier

    metrics = job.metrics().agg(
        F.sum("rows").alias("rows"),
        F.sum("input_rows").alias("input_rows"),
        F.sum("wall_sec").alias("kernel_wall_sec"),
    ).collect()[0]
    summary = {
        "rows_tier0": metrics.rows,
        "input_series": metrics.input_rows,
        "kernel_wall_sec": round(metrics.kernel_wall_sec, 2),
        "total_wall_sec": round(time.time() - t0, 2),
        "tiers": tiers,
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
