"""The benchmark's two workloads and the checkpointed write path its
traced run adds, each driven only through the engine's public functions
(``tsmp_spark.fixtures``, ``operators``, ``mpcore``, ``codecs``, ``jobs``
and ``submit_job.main``).

A workload owns its seeded input and knows how to run one job
(:meth:`iterate`), how to check the output against an independent numpy
recomputation (:meth:`verify`), and which per-layer figures its traced
iterations give (:meth:`layer_metrics`).
"""

from __future__ import annotations

import contextlib
import glob
import io
import os
import shutil
import statistics
import time

import numpy as np

from harness import Tracer, checksum

#: rolled tier columns and the tolerance on ``mp_avg`` for tiers built by
#: ``rollup_rollup`` (a weighted mean re-summed in shuffle order)
TIER_COLS = ("bucket", "mp_min", "pi_argmin", "mp_avg", "mp_max", "n")
AVG_RTOL = 1e-12


def doc_id(i: int) -> str:
    return f"doc_{i:08d}"


def run_stages(stages, tracer) -> tuple[list, list]:
    """Run a linear pipeline of ``(span name, fn(prev) -> DataFrame, kept)``.

    A kept stage is persisted and checksummed (materializing every column);
    the others stay lazy and fuse into the next kept stage. When tracing,
    every stage is materialized inside its own span, so its time is its own.
    Returns the ``(rows, hash)`` of each materialized stage (``None`` for a
    fused one) and the persisted frames.
    """
    sums, frames, prev = [], [], None
    for name, fn, kept in stages:
        df = fn(prev)
        if kept or tracer.enabled:
            with tracer.span(name):
                df = df.persist()
                sums.append(checksum(df))
            frames.append(df)
        else:
            sums.append(None)
            frames.append(None)
        prev = df
    return sums, frames


def unpersist(frames) -> None:
    for df in frames:
        if df is not None:
            df.unpersist()


def np_fold(values: np.ndarray, index: np.ndarray, pos: np.ndarray, bucket: int) -> list[tuple]:
    """Tier-1 rollup of one series: per ``pos // bucket`` over the finite
    values, ``(bucket, min, index at the first min, sequential mean, max, n)``."""
    out = []
    b = pos // bucket
    for k in np.unique(b):
        sel = (b == k) & np.isfinite(values)
        if not sel.any():
            continue
        v, ix = values[sel], index[sel]
        j = int(np.argmin(v))
        out.append((int(k), float(v[j]), int(ix[j]), float(v.cumsum()[-1]) / v.size,
                    float(v.max()), int(v.size)))
    return out


def np_rollup(rows: list[tuple], factor: int) -> list[tuple]:
    """Tier k -> k+1: min of mins, argmin by (min, bucket), count-weighted
    mean, max of maxes, sum of counts."""
    groups: dict[int, list[tuple]] = {}
    for r in rows:
        groups.setdefault(r[0] // factor, []).append(r)
    out = []
    for k in sorted(groups):
        g = groups[k]
        win = min(g, key=lambda r: (r[1], r[0]))
        n = sum(r[5] for r in g)
        out.append((k, win[1], win[2], sum(r[3] * r[5] for r in g) / n,
                    max(r[4] for r in g), n))
    return out


def compare_rows(what: str, got: list[tuple], want: list[tuple], avg_exact: bool) -> list[str]:
    """Row-by-row equality of two sorted tier tables; ``mp_avg`` (column 3)
    within ``AVG_RTOL`` unless ``avg_exact``. NaN equals NaN."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    for g, w in zip(got, want):
        for c, (a, b) in enumerate(zip(g, w)):
            if a is None or b is None:
                same = a is None and b is None
            elif isinstance(b, float) and np.isnan(b):
                same = isinstance(a, float) and np.isnan(a)
            elif c == 3 and not avg_exact:
                same = abs(a - b) <= AVG_RTOL * max(abs(b), 1.0)
            else:
                same = a == b
            if not same:
                return [f"{what}: row {w} read back as {g}"]
    return []


def collect_tier(df, ids: list[str], cols=TIER_COLS) -> dict[str, list[tuple]]:
    from pyspark.sql import functions as F

    out: dict[str, list[tuple]] = {i: [] for i in ids}
    for r in df.filter(F.col("doc_id").isin(ids)).select("doc_id", *cols).collect():
        out[r["doc_id"]].append(tuple(r[c] for c in cols))
    return {k: sorted(v, key=lambda t: t[0]) for k, v in out.items()}


def time_mpx(series: list[np.ndarray], window: int, min_s: float = 0.3) -> float:
    """Single-thread ``mpcore.mpx`` seconds per series, median over series,
    each timed over repeated calls lasting at least ``min_s`` in total."""
    from tsmp_spark.mpcore import exclusion_zone_size, mpx

    minlag = exclusion_zone_size(window, 0.5) + 1
    per = []
    for a in series:
        reps, t0 = 0, time.perf_counter()
        while reps == 0 or time.perf_counter() - t0 < min_s / len(series):
            mpx(a, window, minlag=minlag)
            reps += 1
        per.append((time.perf_counter() - t0) / reps)
    return statistics.median(per)


def codec_metrics(tiers: list[tuple[np.ndarray, np.ndarray]], min_s: float = 0.3) -> dict:
    """``codecs.gorilla`` pack/unpack rates and size on rolled (bucket,
    mp_min) arrays taken from the workload's own tier-1 output."""
    from tsmp_spark.codecs import pack_rollup, unpack_rollup

    points = sum(len(b) for b, _ in tiers)
    blobs = [pack_rollup(b, v) for b, v in tiers]

    def rate(fn, args) -> float:
        reps, t0 = 0, time.perf_counter()
        while reps == 0 or time.perf_counter() - t0 < min_s:
            for a in args:
                fn(*a)
            reps += 1
        return points * reps / (time.perf_counter() - t0)

    return {
        "codecs.gorilla.pack_points_per_s": rate(pack_rollup, tiers),
        "codecs.gorilla.unpack_points_per_s": rate(unpack_rollup, [(b,) for b in blobs]),
        "codecs.gorilla.bytes_per_point": sum(len(b) for b in blobs) / points,
    }


def roundtrip_errors(tiers: list[tuple[np.ndarray, np.ndarray]]) -> list[str]:
    from tsmp_spark.codecs import pack_rollup, unpack_rollup

    errs = []
    for b, v in tiers:
        b2, v2 = unpack_rollup(pack_rollup(b, v))
        if not (np.array_equal(b, b2) and np.array_equal(v, v2, equal_nan=True)):
            errs.append(f"gorilla round trip changed a {len(b)}-point tier")
    return errs


#: per-layer metrics every workload reports; 0 where the workload does not
#: call the layer
LAYER_DEFAULTS = dict.fromkeys(
    (
        "mpcore.mpx_windows_per_s",
        "operators.matrix_profile.tier1_stage_s",
        "operators.matrix_profile.core_efficiency",
        "operators.series.nested_to_long_s",
        "operators.rollup.rollup_tier_s",
        "operators.rollup.rollup_rollup_s",
        "operators.rollup.gap_fill_s",
        "operators.rollup.retention_expire_s",
        "operators.rollup.rows_in_per_row_out",
        "jobs.checkpoint.part_s_p50",
        "jobs.checkpoint.resume_s",
        "jobs.checkpoint.parts_recomputed_ratio",
        "jobs.checkpoint.bytes_written",
    ),
    0.0,
)


class Workload:
    name = ""

    def __init__(self, seed: int, tmp_root: str) -> None:
        self.seed = seed
        self.tmp_root = tmp_root
        self.spark = None
        self.sample_tiers: list[tuple[np.ndarray, np.ndarray]] = []

    def sample_ids(self, n_series: int, k: int) -> list[int]:
        rng = np.random.default_rng([self.seed, 1])
        return sorted(int(i) for i in rng.choice(n_series, size=k, replace=False))


class StagedWorkload(Workload):
    """A workload whose job is one linear pipeline over a cached input.

    The frames of the last job stay persisted until the next job starts, so
    :meth:`verify` checks the output the timed loop made, without running
    the pipeline again.
    """

    n_series = 0
    #: timed jobs a run makes even when they outlast ``--seconds``
    min_jobs = 3
    #: whether the traced run also measures :class:`CheckpointCycle`
    checkpoint_cycle = False
    length: int | None = None
    #: indices of the stages whose output is a rolled tier
    tier_stages: tuple[int, ...] = ()

    def setup(self, spark) -> float:
        """Generate and cache the seeded input; returns seconds taken."""
        from pyspark.sql import functions as F

        from tsmp_spark.fixtures import generate_sequences

        self.spark = spark
        self.sums, self.frames = [], []
        t0 = time.perf_counter()
        self.seqs = generate_sequences(
            spark, n_docs=self.n_series, seed=self.seed, length=self.length
        ).cache()
        self.tokens = int(self.seqs.agg(F.sum("n_tok")).collect()[0][0])
        return time.perf_counter() - t0

    def release(self) -> None:
        self.seqs.unpersist()

    def stages(self) -> list:
        raise NotImplementedError

    def warm(self) -> None:
        self.iterate(Tracer(False))

    def iterate(self, tracer) -> dict:
        unpersist(self.frames)
        t0 = time.perf_counter()
        self.sums, self.frames = run_stages(self.stages(), tracer)
        return {"job_s": time.perf_counter() - t0, "sums": self.sums}

    def last_job(self) -> tuple[list, list]:
        """Checksums and frames of the last job; the frames are unpersisted
        by the caller."""
        frames, self.frames = self.frames, []
        return self.sums, frames

    def rolled_points(self, sample: dict) -> int:
        return sum(sample["sums"][k][0] for k in self.tier_stages)

    def same_output(self, sample: dict, reference: dict) -> bool:
        """Equal checksums on every stage the untraced job materializes."""
        kept = [k for k, (_, _, keep) in enumerate(self.stages()) if keep]
        return all(sample["sums"][k] == reference["sums"][k] for k in kept)

    def rows_in_per_row_out(self, sample: dict) -> float:
        """Rows read / rows emitted, summed over the aggregating rollup
        operators (``rollup_tier``, ``rollup_rollup``)."""
        names = [n for n, _, _ in self.stages()]
        rows_in = rows_out = 0
        for k, name in enumerate(names):
            if name.endswith(("rollup_tier", "rollup_rollup")) and k > 0:
                rows_in += sample["sums"][k - 1][0]
                rows_out += sample["sums"][k][0]
        return rows_in / rows_out


class ProfileLong(StagedWorkload):
    """Fixed-length long series through the fused MP + tier-1 kernel, then
    two relational re-rollups: CPU-bound in ``mpcore`` behind the Arrow UDF."""

    name = "profile_long"
    n_series = 24
    length = 4096
    window = 64
    bucket = 64
    factors = (4, 4)
    tier_stages = (0, 1, 2)
    checkpoint_cycle = True

    def stages(self) -> list:
        from tsmp_spark.operators import matrix_profile_tier1, rollup_rollup

        out = [("operators.matrix_profile.tier1",
                lambda _: matrix_profile_tier1(self.seqs, self.window, self.bucket), True)]
        for f in self.factors:
            out.append(("operators.rollup.rollup_rollup", lambda t, f=f: rollup_rollup(t, f), True))
        return out

    def windows(self) -> int:
        return self.n_series * (self.length - self.window + 1)

    def series(self, i: int) -> np.ndarray:
        from tsmp_spark.fixtures import make_tokens

        return make_tokens(i, self.seed, self.length).astype(np.float64)

    def verify(self) -> tuple[dict, list[str]]:
        """Tier 1 of sampled series bit-exact against ``mpcore.mpx`` plus a
        numpy bucket fold; tiers 2-3 against a numpy re-rollup."""
        from tsmp_spark.mpcore import exclusion_zone_size, mpx

        sums, frames = self.last_job()
        ids = self.sample_ids(self.n_series, 3)
        got = [collect_tier(df, [doc_id(i) for i in ids]) for df in frames]
        unpersist(frames)
        errs, minlag = [], exclusion_zone_size(self.window, 0.5) + 1
        for i in ids:
            r = mpx(self.series(i), self.window, minlag=minlag)
            mp = np.asarray(r.mp, dtype=np.float64).copy()
            mp[~np.isfinite(mp) | (r.pi < 0)] = np.nan
            want = np_fold(mp, r.pi, np.arange(mp.size), self.bucket)
            errs += compare_rows(f"tier1 {doc_id(i)}", got[0][doc_id(i)], want, avg_exact=True)
            for k, f in enumerate(self.factors, start=1):
                want = np_rollup(want, f)
                errs += compare_rows(f"tier{k + 1} {doc_id(i)}", got[k][doc_id(i)], want, False)
            t1 = got[0][doc_id(i)]
            self.sample_tiers.append(
                (np.array([r[0] for r in t1], np.int64), np.array([r[1] for r in t1], np.float64))
            )
        return {"sums": sums}, errs

    def layer_metrics(self, tracer, samples: list[dict], cpus: int) -> dict:
        ids = self.sample_ids(self.n_series, 2)
        per_series = time_mpx([self.series(i) for i in ids], self.window)
        stage_s = statistics.median(tracer.per_trace("operators.matrix_profile.tier1"))
        return {
            "mpcore.mpx_windows_per_s": (self.length - self.window + 1) / per_series,
            "operators.matrix_profile.tier1_stage_s": stage_s,
            "operators.matrix_profile.core_efficiency":
                self.n_series * per_series / (stage_s * cpus),
            "operators.rollup.rollup_rollup_s":
                statistics.median(tracer.per_trace("operators.rollup.rollup_rollup")),
            "operators.rollup.rows_in_per_row_out": self.rows_in_per_row_out(samples[-1]),
            **codec_metrics(self.sample_tiers),
        }


class RollupTokens(StagedWorkload):
    """Many series of the fixture's mixed lengths, with seeded 64-position
    blocks dropped, rolled up relationally: explode, exchange and
    aggregation, no MP kernel.

    The series count is the smallest that reaches ``token_budget`` tokens,
    so every seed gives the same amount of work within one series.
    """

    name = "rollup_tokens"
    token_budget = 1_000_000
    bucket = 16
    factor = 4
    horizon = 24
    block = 64
    #: a block is dropped when (131 * doc + 71 * block + 17 * seed) mod 97 < 19
    drop_below = 19
    tier_stages = (1, 2)

    def setup(self, spark) -> float:
        from tsmp_spark.fixtures import make_tokens

        t0 = time.perf_counter()
        total, self.n_series = 0, 0
        while total < self.token_budget:
            total += make_tokens(self.n_series, self.seed).size
            self.n_series += 1
        return time.perf_counter() - t0 + super().setup(spark)

    def keep(self):
        from pyspark.sql import functions as F

        doc = F.substring("doc_id", 5, 8).cast("long")
        blk = F.floor(F.col("pos") / self.block)
        return F.pmod(doc * 131 + blk * 71 + F.lit(17 * self.seed), F.lit(97)) >= self.drop_below

    def np_keep(self, i: int, pos: np.ndarray) -> np.ndarray:
        return (131 * i + 71 * (pos // self.block) + 17 * self.seed) % 97 >= self.drop_below

    def stages(self) -> list:
        from pyspark.sql import functions as F

        from tsmp_spark.operators import (
            gap_fill,
            nested_to_long,
            retention_expire,
            rollup_rollup,
            rollup_tier,
        )

        return [
            # the argmin index is the position itself; rollup_tier needs it
            # under its own name
            ("operators.series.nested_to_long",
             lambda _: nested_to_long(self.seqs).filter(self.keep()).withColumn("at", F.col("pos")),
             False),
            ("operators.rollup.rollup_tier",
             lambda d: rollup_tier(d, self.bucket, value_col="value", index_col="at"), True),
            ("operators.rollup.rollup_rollup", lambda t: rollup_rollup(t, self.factor), True),
            ("operators.rollup.gap_fill", lambda t: gap_fill(t, locf=True), False),
            ("operators.rollup.retention_expire",
             lambda g: retention_expire(g, self.horizon), True),
        ]

    def windows(self) -> int:
        return 0

    def np_tiers(self, i: int) -> tuple[list, list, list]:
        """Tier 1, tier 2 and the gap-filled, retained tier 2 of series ``i``."""
        from tsmp_spark.fixtures import make_tokens

        tok = make_tokens(i, self.seed).astype(np.float64)
        pos = np.arange(tok.size)
        keep = self.np_keep(i, pos)
        t1 = np_fold(tok[keep], pos[keep], pos[keep], self.bucket)
        t2 = np_rollup(t1, self.factor)
        have = {r[0]: r for r in t2}
        filled, last = [], None
        for b in range(t2[0][0], t2[-1][0] + 1):
            r = have.get(b)
            if r is not None:
                last = r
                filled.append(r + (False,))
            else:  # LOCF on mp_min and mp_avg only
                filled.append((b, last[1], None, last[3], None, None, True))
        return t1, t2, [r for r in filled if r[0] > t2[-1][0] - self.horizon]

    def verify(self) -> tuple[dict, list[str]]:
        """Sampled series against a numpy recomputation of every tier; the
        gap-fill spine has sum(max - min + 1) rows; retention keeps at most
        ``horizon`` buckets per key."""
        from pyspark.sql import functions as F

        from tsmp_spark.operators import gap_fill

        sums, frames = self.last_job()
        _, t1f, t2f, _, retf = frames
        ids = self.sample_ids(self.n_series, 4)
        names = [doc_id(i) for i in ids]
        got1, got2 = collect_tier(t1f, names), collect_tier(t2f, names)
        got_r = collect_tier(retf, names, TIER_COLS + ("gap_filled",))
        spine = t2f.groupBy("doc_id").agg(
            (F.max("bucket") - F.min("bucket") + 1).alias("w")
        ).agg(F.sum("w")).collect()[0][0]
        widest = retf.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
        filled = gap_fill(t2f, locf=True).count()
        unpersist(frames)
        errs = []
        if spine != filled:
            errs.append(f"gap_fill spine has {filled} rows, expected {spine}")
        if widest > self.horizon:
            errs.append(f"retention kept {widest} buckets for a key, horizon {self.horizon}")
        for i, name in zip(ids, names):
            t1, t2, ret = self.np_tiers(i)
            errs += compare_rows(f"tier1 {name}", got1[name], t1, avg_exact=True)
            errs += compare_rows(f"tier2 {name}", got2[name], t2, avg_exact=False)
            errs += compare_rows(f"retained {name}", got_r[name], ret, avg_exact=False)
            self.sample_tiers.append(
                (np.array([r[0] for r in t1], np.int64), np.array([r[1] for r in t1], np.float64))
            )
        return {"sums": sums}, errs

    def layer_metrics(self, tracer, samples: list[dict], cpus: int) -> dict:
        def med(name: str) -> float:
            return statistics.median(tracer.per_trace(name))

        return {
            "operators.series.nested_to_long_s": med("operators.series.nested_to_long"),
            "operators.rollup.rollup_tier_s": med("operators.rollup.rollup_tier"),
            "operators.rollup.rollup_rollup_s": med("operators.rollup.rollup_rollup"),
            "operators.rollup.gap_fill_s": med("operators.rollup.gap_fill"),
            "operators.rollup.retention_expire_s": med("operators.rollup.retention_expire"),
            "operators.rollup.rows_in_per_row_out": self.rows_in_per_row_out(samples[-1]),
            **codec_metrics(self.sample_tiers),
        }


class CheckpointCycle(Workload):
    """The write path, once per traced run of ``profile_long``:
    ``submit_job.main`` on a seeded sequences parquet into a fresh output,
    then a seeded half of the committed tier-0 parts is deleted and the job
    is submitted again to resume.

    Not a workload of its own: a warm submit plus resume takes about 10 s,
    most of it fixed per-commit Spark actions, so a run of it would time
    one or two jobs and 22 runs would not fit the time the benchmark has.
    """

    name = "checkpoint_cycle"
    n_series = 8
    length = 1024
    window = 8
    n_parts = 2
    n_deleted = 1
    tiers = (8,)
    retention = 16
    outputs = ("tier0/output", "tier1", "tier1_packed")
    #: indices in ``outputs`` of the rolled tier sinks
    tier_outputs = (1,)

    def measure(self, spark, tracer) -> tuple[dict, dict, list[str]]:
        """Write the input, make the uninterrupted reference run, then one
        submit / delete / resume iteration under ``tracer``. Returns the
        ``jobs.checkpoint`` metrics, figures for the info line and the
        check errors."""
        from tsmp_spark.fixtures import generate_sequences

        self.spark = spark
        self.input = os.path.join(self.tmp_root, "checkpoint-input")
        generate_sequences(
            spark, n_docs=self.n_series, seed=self.seed, length=self.length
        ).write.parquet(self.input)
        self.submit(self.reference)
        sample = self.iterate(tracer)
        reference, errs = self.verify()
        if sample["sums"] != reference["sums"]:
            errs.append(f"resumed output hashes {sample['sums']}, uninterrupted {reference['sums']}")
        metrics = {
            "jobs.checkpoint.part_s_p50": statistics.median(sample["part_s"]),
            "jobs.checkpoint.resume_s": sample["resume_s"],
            "jobs.checkpoint.parts_recomputed_ratio": sample["recomputed_ratio"],
            "jobs.checkpoint.bytes_written": sample["bytes_written"],
        }
        info = {
            "job_s": sample["job_s"],
            "resume_s": sample["resume_s"],
            "bytes_per_rolled_point":
                sample["tier_bytes"] / sum(reference["sums"][k][0] for k in self.tier_outputs),
        }
        return metrics, info, errs

    @property
    def reference(self) -> str:
        return os.path.join(self.tmp_root, "checkpoint-reference")

    def submit(self, out: str) -> None:
        import submit_job

        argv = [
            "--input-kind", "sequences", "--input", self.input, "--output", out,
            "--window", str(self.window), "--tiers", ",".join(map(str, self.tiers)),
            "--n-parts", str(self.n_parts), "--retention-buckets", str(self.retention),
            "--salt-buckets", "4",
        ]
        with contextlib.redirect_stdout(io.StringIO()):
            rc = submit_job.main(argv)
        if rc != 0:
            raise RuntimeError(f"submit_job.main exited {rc}")

    def manifest(self, out: str):
        import pyarrow.parquet as pq

        return pq.read_table(os.path.join(out, "tier0", "manifest")).to_pydict()

    def delete_parts(self, out: str, parts: set[int]) -> None:
        import pyarrow.parquet as pq

        base = os.path.join(out, "tier0")
        for k in parts:
            shutil.rmtree(os.path.join(base, "output", f"part_id={k}"))
        for f in glob.glob(os.path.join(base, "manifest", "*.parquet")):
            if set(pq.read_table(f, columns=["part_id"]).column(0).to_pylist()) & parts:
                os.remove(f)
                crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
                if os.path.exists(crc):
                    os.remove(crc)

    def hashes(self, out: str) -> list[tuple[int, int]]:
        return [checksum(self.spark.read.parquet(os.path.join(out, d))) for d in self.outputs]

    def iterate(self, tracer) -> dict:
        out = os.path.join(self.tmp_root, "checkpoint-job")
        rng = np.random.default_rng([self.seed, 2])
        parts = {int(p) for p in rng.choice(self.n_parts, size=self.n_deleted, replace=False)}
        try:
            t0 = time.perf_counter()
            with tracer.span("submit_job.main"):
                self.submit(out)
            job_s = time.perf_counter() - t0
            walls = self.manifest(out)["wall_sec"]
            written = dir_bytes(os.path.join(out, "tier0"))
            self.delete_parts(out, parts)
            t0 = time.perf_counter()
            with tracer.span("jobs.checkpoint.resume"):
                self.submit(out)
            resume_s = time.perf_counter() - t0
            redone = sum(p in parts for p in self.manifest(out)["part_id"])
            sums = self.hashes(out)
            tier_bytes = sum(dir_bytes(os.path.join(out, d)) for d in self.outputs[1:])
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return {
            "job_s": job_s, "resume_s": resume_s, "sums": sums, "part_s": walls,
            "recomputed_ratio": redone / len(parts), "bytes_written": written,
            "tier_bytes": tier_bytes,
        }

    def verify(self) -> tuple[dict, list[str]]:
        """The uninterrupted run is the reference the resumed output must
        hash equal to; its packed tier must unpack to its tier rows, and
        ``unpack_rollup(pack_rollup(x)) == x`` on them."""
        from pyspark.sql import functions as F

        from tsmp_spark.codecs import unpack_rollup

        out = self.reference
        sums = self.hashes(out)
        ids = [doc_id(i) for i in self.sample_ids(self.n_series, 3)]
        rows = collect_tier(self.spark.read.parquet(os.path.join(out, "tier1")), ids,
                            ("bucket", "mp_min"))
        blobs = {
            r["doc_id"]: bytes(r["blob"])
            for r in self.spark.read.parquet(os.path.join(out, "tier1_packed"))
            .filter(F.col("doc_id").isin(ids)).collect()
        }
        errs = []
        for i in ids:
            b = np.array([r[0] for r in rows[i]], np.int64)
            v = np.array([np.nan if r[1] is None else r[1] for r in rows[i]], np.float64)
            self.sample_tiers.append((b, v))
            b2, v2 = unpack_rollup(blobs[i])
            if not (np.array_equal(b, b2) and np.array_equal(v, v2, equal_nan=True)):
                errs.append(f"tier1_packed {i} does not unpack to its tier1 rows")
        return {"sums": sums}, errs + roundtrip_errors(self.sample_tiers)


def dir_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


WORKLOADS = {w.name: w for w in (ProfileLong, RollupTokens)}
