"""Training-set assembly operators over pre-tokenized sequence tables —
the input_hint shape ``(doc_id, tokens:array<int>, n_tok, source)``.

This family covers the steps between "cleaned corpus" and "training
batches" in an LLM data pipeline:

- :func:`tokenize_documents` — deterministic hash tokenizer (documents →
  the input_hint table). All token ids are md5-derived so the DuckDB
  oracles reproduce them bit-for-bit (same convention as
  ``dedup._h64``).
- :func:`pack_sequences` — pack variable-length docs into fixed-length
  training context windows (the canonical pretraining op: concatenate
  token streams per source and cut every ``seq_len`` tokens).
- :func:`source_mixture` — deterministic hash-based mixture sampling:
  per-source up/downsampling rates materialized as epoch copies.
- :func:`token_vocab_stats` — corpus-level token frequency / document
  frequency (one explode + one map-side-combinable groupBy).
- :func:`token_entropy` — per-doc unigram entropy / distinct share /
  top-token share as ZERO-SHUFFLE sorted-run aggregates (no explode,
  no Python; the same single-lambda trick as ``text.repetition_stats``).
- :func:`source_token_divergence` — per-source KL vs the corpus blend
  (mix-drift detection).
- :func:`token_pmi_bigrams` — adjacent-pair PMI (collocations / BPE
  merge candidates).
- :func:`bpe_learn` — BPE vocabulary induction on the word-frequency
  table (Sennrich et al. 2016; merges never touch the raw corpus).
- :func:`shard_blobs` / :func:`unshard_blobs` — the binary ``.bin``-style
  training-shard sink and its read path (``codecs.tokenshard``).
- :func:`curate` — the whole pipeline as one facade (dedup → quality →
  decontaminate → downsample → tokenize → pack).

Scale notes (100 TB / 10^12-sequence design):
- ``pack_sequences`` is the only operator here that needs a global
  order, and it needs it only WITHIN a packing stream. Streams are
  ``(source, shard)`` where ``shard = xxhash64(doc_id) % shards`` —
  a hot source (Zipf skew) is split into ``shards`` independent,
  deterministic streams, so no single reducer sees more than
  ~|source|/shards tokens. Shuffle budget: one window cumsum + one
  groupBy, both keyed on the same (source, shard) prefix; bytes
  shuffled ≈ corpus size (each token crosses the wire once as an
  array slice, never as a row-per-token explode).
- ``token_vocab_stats`` shuffles one row per DISTINCT (partition,
  token) after partial aggregation — vocab-bounded, not corpus-bounded.
- ``tokenize_documents`` / ``token_entropy`` are pure per-row
  expression pipelines: they compose with a parquet scan at any scale
  and inherit whole-stage codegen.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .dedup import _spread, normalize_text

#: default hash-tokenizer vocabulary (2^15 ids)
VOCAB_SIZE = 32768


def hash_token(word: Column, vocab_size: int = VOCAB_SIZE) -> Column:
    """Deterministic token id for one word: first 7 hex chars (28 bits)
    of ``md5('tok:' || word)``, mod vocab. Engine-portable: DuckDB
    computes the identical id as
    ``CAST('0x' || substr(md5('tok:' || w), 1, 7) AS BIGINT) % vocab``."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit("tok:"), word)), 1, 7), 16, 10)
        .cast("long")
        % vocab_size
    ).cast("int")


def tokenize_documents(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    vocab_size: int = VOCAB_SIZE,
    append_eos: int | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """documents → the input_hint table ``(doc_id, tokens:array<int>,
    n_tok:int, source)`` via a deterministic word-hash tokenizer.

    Not BPE — the point is a reproducible, engine-portable id stream
    with a realistic marginal distribution, so every downstream
    operator (packing, mixing, vocab stats, entropy, matrix-profile
    kernels) can be oracle-checked end-to-end. A real tokenizer drops
    in by replacing this one stage.

    ``append_eos`` appends a document-separator id (conventionally
    ``vocab_size``, one past the word-id range) to every doc — the
    standard pre-packing step so packed sequences carry document
    boundaries in-band. With EOS, empty docs still contribute their
    separator (n_tok >= 1)."""
    words = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda w: w != ""
    )
    toks = F.transform(words, lambda w: hash_token(w, vocab_size))
    if append_eos is not None:
        toks = F.concat(toks, F.array(F.lit(int(append_eos)).cast("int")))
    return _spread(documents, parallelism).select(
        F.col(id_col).alias("doc_id"),
        toks.alias("tokens"),
        F.size(toks).alias("n_tok"),
        F.col(source_col).alias("source"),
    )


def shard_key(id_col: str, shards: int) -> Column:
    """THE stream-shard assignment shared by batch and streaming packing
    (the stream==batch equivalence depends on both using this exact
    expression): ``xxhash64(str(id)) % shards``, 0 when unsharded."""
    return (
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(shards))
        if shards > 1
        else F.lit(0)
    ).cast("int")


def pack_sequences(
    sequences: DataFrame,
    seq_len: int = 2048,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    source_col: str = "source",
    shards: int = 1,
    with_spans: bool = False,
) -> DataFrame:
    """Pack variable-length token documents into fixed-length training
    sequences: within each ``(source, shard)`` stream, documents are
    concatenated in ``doc_id`` order and the stream is cut every
    ``seq_len`` tokens. Output rows are the training sequences
    ``(source, shard, seq_idx, tokens, n_docs, n_tok)`` — every row has
    exactly ``seq_len`` tokens except each stream's last.

    Physical plan: window cumsum per stream (start offsets) → each doc
    explodes to the ≤ ``n_tok/seq_len + 1`` sequences it spans with a
    JVM-side ``slice`` per span (never a row per token) → one groupBy
    on the SAME key prefix reassembles slices with a sorted-struct
    flatten. Two exchanges total, both hashed on (source, shard);
    shuffle bytes ≈ corpus token bytes.

    ``shards > 1`` is the skew escape hatch: a Zipf-hot source becomes
    ``shards`` deterministic independent streams (salted_repartition's
    cousin, but semantic — the output is reproducible for a fixed
    shard count, unlike physical-only salting).

    ``with_spans`` adds ``doc_spans: array<struct<doc_id, pos, len>>``
    — which document occupies which slice of each packed sequence, in
    order. This is the attention-mask-reset metadata a trainer needs to
    stop cross-document attention; it is derived in the SAME sorted
    collect pass as the tokens (no extra shuffle or scan)."""
    docs = (
        sequences.select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            shard_key(id_col, shards).alias("shard"),
            F.col(tokens_col).alias("tokens"),
            F.size(F.col(tokens_col)).alias("n_tok"),
        )
        .filter(F.col("n_tok") > 0)
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    docs = docs.withColumn(
        "start", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long")
    )
    first_seq = F.floor(F.col("start") / seq_len)
    last_seq = F.floor((F.col("start") + F.col("n_tok") - 1) / seq_len)
    lo = F.greatest(F.col("seq_idx") * seq_len - F.col("start"), F.lit(0))
    hi = (
        F.least(
            (F.col("seq_idx") + 1) * seq_len,
            F.col("start") + F.col("n_tok"),
        )
        - F.col("start")
    )
    pieces = docs.select(
        "doc_id",
        "source",
        "shard",
        "start",
        "tokens",
        "n_tok",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_idx"),
    ).select(
        "doc_id",
        "source",
        "shard",
        F.col("seq_idx").cast("long").alias("seq_idx"),
        "start",
        F.greatest(F.col("start") - F.col("seq_idx") * seq_len, F.lit(0))
        .cast("int")
        .alias("pos"),
        F.slice(F.col("tokens"), (lo + 1).cast("int"), (hi - lo).cast("int")).alias(
            "piece"
        ),
    )
    sorted_pieces = F.array_sort(
        F.collect_list(F.struct(F.col("start"), F.col("doc_id"), F.col("pos"), F.col("piece")))
    )
    aggs = [
        F.flatten(F.transform(sorted_pieces, lambda s: s["piece"])).alias("tokens"),
        F.count("*").alias("n_docs"),
    ]
    if with_spans:
        aggs.append(
            F.transform(
                sorted_pieces,
                lambda s: F.struct(
                    s["doc_id"].alias("doc_id"),
                    s["pos"].alias("pos"),
                    F.size(s["piece"]).alias("len"),
                ),
            ).alias("doc_spans")
        )
    return (
        pieces.groupBy("source", "shard", "seq_idx")
        .agg(*aggs)
        .withColumn("n_tok", F.size("tokens"))
    )


def source_mixture(
    sequences: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: str = "mix",
) -> DataFrame:
    """Deterministic mixture sampling: each doc is kept ``n_copies``
    times where ``n_copies = floor(rate) + (u < frac(rate))`` and ``u``
    is the doc's md5-derived uniform in [0,1). rate < 1 downsamples,
    rate > 1 upsamples with epoch copies (``epoch`` = 0-based copy
    index) — the standard way to realize training-mix weights without
    an RNG (reproducible across engines, executors, and retries).

    Output: ``(doc_id, source, rate, epoch)``. Map-side only — no
    shuffle, no Python."""
    rate = F.lit(float(default_rate))
    for src, r in sorted(rates.items()):
        rate = F.when(F.col(source_col) == src, float(r)).otherwise(rate)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    n_copies = (F.floor(rate) + F.when(u < rate - F.floor(rate), 1).otherwise(0)).cast(
        "int"
    )
    return (
        sequences.select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            rate.alias("rate"),
            n_copies.alias("n_copies"),
        )
        .filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "source",
            "rate",
            F.explode(F.sequence(F.lit(0), F.col("n_copies") - 1)).alias("epoch"),
        )
    )


def token_vocab_stats(
    sequences: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    top_k: int | None = None,
) -> DataFrame:
    """Corpus-level token statistics: term frequency and document
    frequency per token id, optionally truncated to the ``top_k`` most
    frequent (ties broken by token id — deterministic).

    One explode + one groupBy(token); the aggregation is map-side
    combinable so the shuffle is vocab-bounded (one row per distinct
    (partition, token)), not corpus-bounded."""
    flat = sequences.select(
        F.col(id_col).alias("doc_id"), F.explode(F.col(tokens_col)).alias("token")
    )
    stats = flat.groupBy("token").agg(
        F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    if top_k is not None:
        rn = F.row_number().over(Window.orderBy(F.desc("tf"), F.asc("token")))
        stats = stats.withColumn("rank", rn).filter(F.col("rank") <= top_k)
    return stats


def token_entropy(
    sequences: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """Per-document unigram statistics WITHOUT exploding: unigram
    entropy (nats), distinct-token count, and top-token share, each
    from one linear pass over the SORTED token array (run-length
    aggregation in a single ``aggregate`` lambda — nested-lambda
    re-evaluation, the 30-s trap documented in SCALE.md, never occurs).

    entropy = ln(n) − Σ_runs run·ln(run) / n; top_token_frac =
    longest_run / n; n_distinct = number of runs. Zero shuffles, zero
    Python — scales as a map-only pass over the corpus."""
    toks = F.col(tokens_col)
    n = F.size(toks)
    srt = F.array_sort(toks)
    init = F.struct(
        F.lit(None).cast("int").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("sumn"),
        F.lit(0).cast("long").alias("best"),
        F.lit(0).cast("long").alias("k"),
    )

    def step(acc, x):
        is_new = acc["prev"].isNull() | (x != acc["prev"])
        closed = F.when(
            is_new & (acc["run"] > 0),
            F.struct(
                (acc["sumn"] + acc["run"] * F.log(acc["run"].cast("double"))).alias(
                    "sumn"
                ),
                F.greatest(acc["best"], acc["run"]).alias("best"),
                (acc["k"] + 1).alias("k"),
            ),
        ).otherwise(
            F.struct(
                acc["sumn"].alias("sumn"),
                acc["best"].alias("best"),
                acc["k"].alias("k"),
            )
        )
        return F.struct(
            x.alias("prev"),
            F.when(is_new, F.lit(1).cast("long")).otherwise(acc["run"] + 1).alias("run"),
            closed["sumn"].alias("sumn"),
            closed["best"].alias("best"),
            closed["k"].alias("k"),
        )

    def finish(acc):
        sumn = F.when(
            acc["run"] > 0, acc["sumn"] + acc["run"] * F.log(acc["run"].cast("double"))
        ).otherwise(acc["sumn"])
        best = F.greatest(acc["best"], acc["run"])
        k = acc["k"] + F.when(acc["run"] > 0, 1).otherwise(0)
        return F.struct(sumn.alias("sumn"), best.alias("best"), k.alias("k"))

    agg = F.aggregate(srt, init, step, finish)
    return _spread(sequences, parallelism).select(
        F.col(id_col).alias("doc_id"),
        n.cast("long").alias("n_tok"),
        agg["k"].alias("n_distinct"),
        (F.log(n.cast("double")) - agg["sumn"] / n).alias("entropy"),
        (agg["best"] / n).alias("top_token_frac"),
    ).filter(F.col("n_tok") > 0)


def source_token_divergence(
    sequences: DataFrame,
    tokens_col: str = "tokens",
    source_col: str = "source",
) -> DataFrame:
    """Per-source token-distribution drift vs the whole corpus:
    KL(p_source || p_corpus) in nats, plus source token totals and
    distinct counts — the mix-health check that catches a source whose
    token marginal departs from the blend (new scrape, encoding bug,
    domain shift).

    KL is finite by construction: every token in a source is in the
    corpus, so p_corpus > 0 wherever p_source > 0.

    One explode → one groupBy(source, token) (map-side combinable) →
    corpus marginals re-aggregated FROM that intermediate (no second
    scan) → one join keyed on token. Shuffle is vocab-bounded per
    source, not corpus-bounded."""
    st = (
        sequences.select(
            F.col(source_col).alias("source"), F.explode(F.col(tokens_col)).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )
    from .cache import pin

    st = pin(st)
    totals = st.groupBy("source").agg(F.sum("c").alias("n_src"))
    corpus = st.groupBy("token").agg(F.sum("c").alias("c_all"))
    grand = st.agg(F.sum("c").cast("double").alias("n_all"))
    return (
        st.join(totals, "source")
        .join(corpus, "token")
        .crossJoin(F.broadcast(grand))
        .groupBy("source")
        .agg(
            F.max("n_src").alias("n_tok"),
            F.count("*").alias("n_distinct"),
            F.sum(
                (F.col("c") / F.col("n_src"))
                * F.log(
                    (F.col("c") / F.col("n_src"))
                    / (F.col("c_all") / F.col("n_all"))
                )
            ).alias("kl_vs_corpus"),
        )
    )


def shard_blobs(
    packed: DataFrame,
    source_col: str = "source",
    shard_col: str = "shard",
) -> DataFrame:
    """Serialize packed training sequences into ONE binary shard blob
    per (source, shard) stream (``codecs.tokenshard`` layout: int32-LE
    token stream + sequence index — the memory-mappable format a
    trainer's data loader consumes). Blob rows are what crosses the
    wire and lands in the table; token rows never rematerialize.

    Per-stream applyInPandas — the stream is the natural shard unit and
    is already the packing key, so this adds no new shuffle key."""
    import pandas as pd

    from ..codecs.tokenshard import encode_shard

    def enc(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seq_idx")
        # the codec's index stores only (base, lengths): seq k decodes to
        # base + k, so gaps would silently relabel every later sequence —
        # refuse non-contiguous input (pack output IS contiguous; a
        # filtered subset must be re-indexed before sharding)
        idx = pdf["seq_idx"].to_numpy()
        if len(idx) and (idx != idx[0] + np.arange(len(idx))).any():
            raise ValueError(
                f"shard stream {key}: seq_idx not contiguous "
                f"({idx[0]}..{idx[-1]} over {len(idx)} sequences)"
            )
        lengths = pdf["tokens"].map(len).to_numpy()
        toks = (
            np.concatenate([np.asarray(t, dtype="<i4") for t in pdf["tokens"]])
            if len(pdf)
            else np.array([], dtype="<i4")
        )
        blob = encode_shard(lengths, toks, int(idx[0]) if len(idx) else 0)
        return pd.DataFrame(
            {
                "source": [key[0]],
                "shard": [int(key[1])],
                "n_seqs": [len(pdf)],
                "n_tokens": [int(lengths.sum())],
                "blob": [blob],
            }
        )

    return packed.groupBy(source_col, shard_col).applyInPandas(
        enc, "source string, shard int, n_seqs long, n_tokens long, blob binary"
    )


def unshard_blobs(shards: DataFrame) -> DataFrame:
    """Decode shard blobs back to (source, shard, seq_idx, tokens) rows
    — the read path / lossless-roundtrip proof."""
    import pandas as pd

    from ..codecs.tokenshard import decode_shard

    def dec(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                base, lengths, tokens = decode_shard(row["blob"])
                off = 0
                for j, ln in enumerate(lengths):
                    out.append(
                        {
                            "source": row["source"],
                            "shard": row["shard"],
                            "seq_idx": base + j,
                            "tokens": tokens[off : off + int(ln)].tolist(),
                        }
                    )
                    off += int(ln)
            yield pd.DataFrame(out, columns=["source", "shard", "seq_idx", "tokens"])

    return shards.mapInPandas(
        dec, "source string, shard int, seq_idx long, tokens array<int>"
    )


def token_pmi_bigrams(
    sequences: DataFrame,
    min_count: int = 5,
    top_k: int | None = None,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Pointwise mutual information of ADJACENT token pairs across the
    corpus — the collocation/merge-candidate statistic (what a BPE
    trainer ranks, and a quick detector of templated boilerplate):
    ``pmi = ln( (c_ab/N2) / ((c_a/N1)·(c_b/N1)) )`` with N1 = corpus
    tokens, N2 = corpus bigram positions.

    One pass builds bigram structs per row JVM-side (never a
    row-per-token explode of the full corpus twice); unigram and bigram
    counts are both map-side combinable, and the final join keys on the
    token id — everything is vocab²-bounded after partial aggregation.
    ``min_count`` keeps the tail from dominating the output."""
    toks = F.col(tokens_col)
    bigrams = sequences.select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(
                        toks[i].alias("a"), toks[i + 1].alias("b")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:int,b:int>>"))
        ).alias("bg")
    ).select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    from .cache import pin

    uni = pin(
        sequences.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    bg = bigrams.groupBy("a", "b").agg(F.count("*").alias("c_ab")).filter(
        F.col("c_ab") >= min_count
    )
    n1 = uni.agg(F.sum("c").cast("double").alias("n1"))
    n2 = sequences.agg(
        F.sum(F.greatest(F.size(toks) - 1, F.lit(0))).cast("double").alias("n2")
    )
    out = (
        bg.join(uni.select(F.col("t").alias("a"), F.col("c").alias("c_a")), "a")
        .join(uni.select(F.col("t").alias("b"), F.col("c").alias("c_b")), "b")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "a",
            "b",
            "c_ab",
            F.log(
                (F.col("c_ab") / F.col("n2"))
                / ((F.col("c_a") / F.col("n1")) * (F.col("c_b") / F.col("n1")))
            ).alias("pmi"),
        )
    )
    if top_k is not None:
        rn = F.row_number().over(
            Window.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
        )
        out = out.withColumn("rank", rn).filter(F.col("rank") <= top_k)
    return out


def curate(
    documents: DataFrame,
    quality_threshold: float = 0.95,
    benchmark: DataFrame | None = None,
    decontam_n: int = 13,
    mix_rates: dict[str, float] | None = None,
    seq_len: int = 2048,
    shards: int = 1,
    eos: int | None = VOCAB_SIZE,
    with_spans: bool = True,
    parallelism: int | None = None,
) -> DataFrame:
    """The whole curation pipeline as one facade: exact dedup → quality
    gate → (optional) benchmark decontamination → (optional) mixture
    DOWNSAMPLING (rates capped at 1 — upsampling epochs belong to the
    trainer loop, see :func:`source_mixture`) → hash tokenize (+EOS) →
    fixed-length packing with doc spans. Returns the packed training
    sequences; every stage is the oracle-gated operator, composed
    (driver query ``pipeline_e2e`` hash-gates the same composition —
    with an in-corpus benchmark convention, so it additionally excludes
    self-matches; a real external eval set shares no doc ids)."""
    from .dedup import exact_dedup
    from .text import quality_score

    keep = exact_dedup(documents).select(F.col("keep_id").alias("doc_id"))
    d = documents.join(keep, "doc_id")
    q = (
        quality_score(d)
        .filter(F.col("quality") >= quality_threshold)
        .select("doc_id")
    )
    d = d.join(q, "doc_id")
    if benchmark is not None:
        from .text import decontaminate

        contaminated = (
            decontaminate(d, benchmark, n=decontam_n, min_hits=1)
            .select("doc_id")
            .distinct()
        )
        d = d.join(contaminated, "doc_id", "left_anti")
    if mix_rates:
        capped = {k: min(1.0, v) for k, v in mix_rates.items()}
        kept = source_mixture(d, capped, default_rate=1.0).select("doc_id").distinct()
        d = d.join(kept, "doc_id")
    tok = tokenize_documents(d, append_eos=eos, parallelism=parallelism)
    return pack_sequences(
        tok, seq_len=seq_len, shards=shards, with_spans=with_spans
    )


def lm_perplexity(
    sequences: DataFrame,
    lambda_bigram: float = 0.7,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    vocab_size: int = VOCAB_SIZE,
) -> DataFrame:
    """CCNet-style perplexity quality scoring, re-derived relationally:
    an interpolated bigram language model is trained ON THE CORPUS
    ITSELF (add-one-smoothed unigram ``p1`` and bigram ``p2``,
    ``p = λ·p2 + (1−λ)·p1``), and each document is scored by its mean
    negative log-likelihood — unusual-looking docs (junk, wrong
    language, binary spew) score high, fluent in-distribution text
    scores low. Output: (doc_id, n_scored, nll, ppl).

    The first token of each doc is scored by the unigram model alone;
    docs with no tokens are dropped.

    Scale shape: model counts are the PMI machinery (map-side
    combinable, vocab/vocab²-bounded); scoring re-joins each doc's
    (prev, cur) pairs against the broadcast-size models — corpus
    scanned twice (once for counts, once for scoring), no all-pairs
    anything."""
    toks = F.col(tokens_col)
    from .cache import pin

    # per-doc adjacency pairs, position 0 flagged (unigram-only score)
    pairs = pin(
        sequences.select(
            F.col(id_col).alias("doc_id"),
            toks.alias("_t"),
            F.posexplode(toks).alias("p", "cur"),
        )
        .select(
            "doc_id",
            F.when(F.col("p") > 0, F.col("_t")[F.col("p") - 1]).alias("prev"),
            "cur",
        )
    )
    uni = pin(pairs.groupBy("cur").agg(F.count("*").alias("c1")))
    bi = (
        pairs.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("c2"))
    )
    ctx = bi.groupBy("prev").agg(F.sum("c2").alias("cctx"))
    n1 = uni.agg(F.sum("c1").cast("double").alias("n1"))
    lam = float(lambda_bigram)
    # uni/ctx/n1 are vocab-bounded -> broadcast hint; bi is DISTINCT-
    # BIGRAM-bounded (up to vocab² rows on a big corpus) so it gets NO
    # hint — Catalyst/AQE picks broadcast only when its stats fit, else
    # a shuffle join keyed (prev, cur), which is the correct scale plan
    scored = (
        pairs.join(F.broadcast(uni), "cur")
        .join(bi, ["prev", "cur"], "left")
        .join(F.broadcast(ctx), "prev", "left")
        .crossJoin(F.broadcast(n1))
        .select(
            "doc_id",
            F.when(
                F.col("prev").isNull(),
                -F.log((F.col("c1") + 1) / (F.col("n1") + vocab_size)),
            )
            .otherwise(
                -F.log(
                    lam
                    * (
                        (F.coalesce(F.col("c2"), F.lit(0)) + 1)
                        / (F.coalesce(F.col("cctx"), F.lit(0)) + vocab_size)
                    )
                    + (1.0 - lam)
                    * ((F.col("c1") + 1) / (F.col("n1") + vocab_size))
                )
            )
            .alias("nll_tok"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_scored"),
        F.avg("nll_tok").alias("nll"),
        F.exp(F.avg("nll_tok")).alias("ppl"),
    )


def kn_perplexity(
    sequences: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    vocab_size: int = VOCAB_SIZE,
) -> DataFrame:
    """Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; Chen &
    Goodman 1999 eq. 4.28 with absolute discount d = 0.75) — the
    standard n-gram LM the CCNet/KenLM quality-scoring stack actually
    ships, next to :func:`lm_perplexity`'s add-one baseline. The KN
    insight: the backoff weight of a word is how many distinct CONTEXTS
    it continues (``N1+(·w)``), not its raw frequency — "Francisco" is
    frequent but follows only "San", so it backs off low.

    With d = 3/4 every probability is ONE exact integer rational::

        p(w|v) = ( max(4·c(v,w) − 3, 0)·B  +  3·N1+(v·)·N1+(·w) )
                 / ( 4·c(v) · B )

    where ``B`` = total distinct bigrams, ``N1+(v·)`` = distinct
    continuations of context v, ``N1+(·w)`` = distinct left-contexts of
    w.  (Derivation: p = (max(c−d,0) + d·N1+(v·)·N1+(·w)/B) / c(v),
    multiplied through by 4B.)  Because the model is trained on the
    corpus being scored, every scored pair has c(v,w) ≥ 1, so the
    numerator is always positive.  First tokens score against the
    add-one continuation unigram ``(N1+(·w)+1)/(B+V)``.  Both sides of
    the oracle compute ``nll = ln(den) − ln(num)`` over the SAME exact
    bigint operands (the lm_perplexity ln-of-exact-integers precedent);
    per-doc output is the r4-rounded mean NLL and perplexity.

    Integer headroom: den = 4·c(v)·B needs c(v)·B < 2⁶¹ — at
    trillion-token scale with 32k vocab, c(v) ≤ 10¹² and B ≤ V² ≈ 10⁹
    overflows bigint, so the operator would move num/den to
    decimal(38,0) there; documented, not needed at any test SF.

    Scale shape: identical to lm_perplexity — model tables are vocab- or
    distinct-bigram-bounded map-side-combinable aggregates; scoring
    re-joins the corpus pairs against broadcast-size model tables
    (``bi`` unhinted so AQE picks shuffle-join if vocab² outgrows
    broadcast); ONE final per-doc groupBy. No all-pairs anything.

    Output: (doc_id, n_scored, nll, ppl).
    """
    toks = F.col(tokens_col)
    from .cache import pin

    pairs = pin(
        sequences.select(
            F.col(id_col).alias("doc_id"),
            toks.alias("_t"),
            F.posexplode(toks).alias("p", "cur"),
        ).select(
            "doc_id",
            F.when(F.col("p") > 0, F.col("_t")[F.col("p") - 1]).alias("prev"),
            "cur",
        )
    )
    bi = pin(
        pairs.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("c2"))
    )
    # context totals + distinct-continuation counts share one pass over
    # the (vocab²-bounded) bigram table; N1+(·w) and B are its column
    # marginals — all model state is bounded by distinct bigrams.
    ctx = bi.groupBy("prev").agg(
        F.sum("c2").alias("cctx"), F.count("*").alias("n1p")
    )
    ncw = bi.groupBy("cur").agg(F.count("*").alias("ncw"))
    btot = bi.agg(F.count("*").alias("b"))
    num = F.when(
        F.col("prev").isNull(),
        F.coalesce(F.col("ncw"), F.lit(0)) + F.lit(1),
    ).otherwise(
        F.greatest(F.lit(4) * F.col("c2") - F.lit(3), F.lit(0)) * F.col("b")
        + F.lit(3) * F.col("n1p") * F.col("ncw")
    )
    den = F.when(
        F.col("prev").isNull(), F.col("b") + F.lit(int(vocab_size))
    ).otherwise(F.lit(4) * F.col("cctx") * F.col("b"))
    scored = (
        pairs.join(bi, ["prev", "cur"], "left")
        .join(F.broadcast(ctx), "prev", "left")
        .join(F.broadcast(ncw), "cur", "left")
        .crossJoin(F.broadcast(btot))
        .select(
            "doc_id",
            (
                F.log(den.cast("double")) - F.log(num.cast("double"))
            ).alias("nll_tok"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_scored"),
        F.avg("nll_tok").alias("nll"),
        F.exp(F.avg("nll_tok")).alias("ppl"),
    )


def training_order(
    packed: DataFrame,
    epoch: int = 0,
    source_col: str = "source",
    shard_col: str = "shard",
    seq_col: str = "seq_idx",
) -> DataFrame:
    """Deterministic per-epoch global shuffle of packed training
    sequences: each sequence gets an md5 order key salted by the epoch,
    so every epoch visits the corpus in a different but REPRODUCIBLE
    order (retry/rerun-stable, engine-portable — no RNG, no
    zipWithIndex). Output adds ``order_key`` (the sort key a loader
    ORDER BYs or range-partitions on). The key is 60 bits, so at
    10^12 sequences a handful of collisions are EXPECTED — a total
    deterministic order is ``ORDER BY (order_key, source, shard,
    seq_idx)``, i.e. always tie-break on the stream identity (the
    driver query and oracle do).

    At scale the loader never needs a global sort: range-partitioning
    on ``order_key`` (uniform by construction) gives shuffled shards
    directly."""
    key = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(f"epoch{int(epoch)}"),
                    F.col(source_col),
                    F.col(shard_col).cast("string"),
                    F.col(seq_col).cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return packed.withColumn("order_key", key)


def chunk_documents(
    sequences: DataFrame,
    chunk_len: int = 512,
    stride: int | None = None,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    source_col: str = "source",
) -> DataFrame:
    """Split each token document into fixed-length chunks with optional
    overlap — the retrieval/finetuning counterpart of
    :func:`pack_sequences` (packing concatenates ACROSS docs; chunking
    splits WITHIN a doc and never mixes documents). Chunk starts are
    ``0, stride, 2·stride, …`` (``stride = chunk_len`` → disjoint;
    ``stride < chunk_len`` → overlapping windows); the final partial
    chunk is kept iff it adds tokens beyond the previous chunk's end.

    Pure per-row expressions — the chunk explode emits ≤
    ``n_tok/stride + 1`` array slices per doc (never a row per token),
    no shuffle, composes with the scan at any scale.

    Output: (doc_id, source, chunk_idx, chunk_start, tokens, n_tok)."""
    st = int(stride if stride is not None else chunk_len)
    if st <= 0 or chunk_len <= 0:
        raise ValueError("chunk_len and stride must be positive")
    toks = F.col(tokens_col)
    n = F.size(toks)
    # number of chunks: ceil(max(n - chunk_len, 0) / stride) + 1 for n>0
    n_chunks = F.when(
        n > 0,
        F.floor((F.greatest(n - chunk_len, F.lit(0)) + st - 1) / st) + 1,
    ).otherwise(F.lit(0))
    return (
        sequences.select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            toks.alias("_t"),
            F.explode(F.sequence(F.lit(0), n_chunks.cast("int") - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            "source",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * st).cast("long").alias("chunk_start"),
            F.slice(
                F.col("_t"), (F.col("chunk_idx") * st + 1).cast("int"), chunk_len
            ).alias("tokens"),
        )
        .withColumn("n_tok", F.size("tokens"))
        .filter(F.col("n_tok") > 0)
    )


def _bpe_merge_step(
    syms: DataFrame, w_ord, a: str, b: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """One greedy-left BPE merge of pair (a, b) over the per-word symbol
    table ``(w, freq, pos, sym)`` — the relational run-parity chain shared
    by ``bpe_learn`` and ``bpe_encode`` (and replayed verbatim by their
    DuckDB oracles). ``carry`` names extra per-word columns to thread
    through unchanged (e.g. the encode path's train flag)."""
    keep = ["w", "freq", *carry]
    m = (F.col("sym") == a) & (F.lead("sym").over(w_ord) == b)
    step = syms.select(
        *keep,
        "pos",
        "sym",
        m.alias("m"),
        F.sum(F.when(m, 0).otherwise(1))
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("grp"),
    )
    runs = step.select(
        "*",
        F.when(
            F.col("m"),
            F.row_number().over(
                Window.partitionBy("w", "grp", "m").orderBy("pos")
            ),
        ).alias("rn"),
    ).select("*", (F.col("m") & (F.col("rn") % 2 == 1)).alias("taken"))
    return (
        runs.select(
            *keep,
            "pos",
            F.when(
                F.col("taken"),
                F.concat(F.col("sym"), F.lead("sym").over(w_ord)),
            )
            .otherwise(F.col("sym"))
            .alias("sym"),
            F.lag("taken").over(w_ord).alias("consumed"),
        )
        .where(~F.coalesce(F.col("consumed"), F.lit(False)))
        .select(*keep, F.row_number().over(w_ord).alias("pos"), "sym")
    )


def bpe_learn(
    documents: DataFrame,
    n_merges: int = 8,
    max_words: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Learn a BPE merge table from the corpus (Sennrich et al. 2016 —
    the vocabulary-induction step upstream of every tokenizer in this
    family; ``token_pmi_bigrams`` ranks candidates, this actually runs
    the merge loop). The scale trick is the standard one (fastBPE / HF
    trainers): merges operate on the WORD-FREQUENCY table, not the
    corpus — one combinable groupBy collapses 100 TB of text to a
    vocab-bounded (word, freq) table, and every round after that
    touches ≤ ``max_words`` rows.

    Per round: count adjacent symbol pairs weighted by word freq, pick
    the single best pair (count DESC, then lexicographic — a TOTAL
    order), and merge its non-overlapping occurrences LEFT-GREEDILY
    into every word. Greedy overlap only matters for self-pairs
    ((a,a) in "aaa" → "aa"+"a"): within a run of consecutive matches,
    the kept ones are the alternating positions from the run head —
    expressed RELATIONALLY with run-id + in-run parity windows, so the
    DuckDB oracle replays the identical chain (no Python in either
    engine). Words are restricted to ``^[a-z]+$`` after the engine's
    normalize_text, dodging cross-engine unicode indexing semantics;
    each word ends with the standard '</w>' marker.

    Driver loop: ONE k-bounded collect per round (the single best
    pair — same contract as similarity's k-centroid collect); each
    round's symbol table is pinned so round r does not recompute
    rounds 1..r-1. Returns the merge table
    (merge_round, left, right, pair_count) — empty tail rounds are
    dropped if the pair supply is exhausted.
    """
    from .cache import pin

    spark = documents.sparkSession
    norm = normalize_text(F.col(text_col))
    words = (
        documents.select(F.explode(F.split(norm, " ")).alias("w"))
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("w"))
        .limit(int(max_words))
    )
    syms = pin(
        words.select(
            F.col("w"),
            F.col("freq"),
            F.posexplode(
                F.concat(
                    F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
                    F.array(F.lit("</w>")),
                )
            ).alias("pos", "sym"),
        ).select("w", "freq", "pos", "sym")
    )
    w_ord = Window.partitionBy("w").orderBy("pos")
    merges = []
    for rnd in range(1, int(n_merges) + 1):
        cand = (
            syms.select(
                "freq", "sym", F.lead("sym").over(w_ord).alias("nxt")
            )
            .where(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("sym"), F.col("nxt"))
            .limit(1)
            .collect()
        )
        if not cand:
            break
        a, b, cnt = cand[0].sym, cand[0].nxt, int(cand[0].cnt)
        merges.append((rnd, a, b, cnt))
        syms = pin(_bpe_merge_step(syms, w_ord, a, b))
    if not merges:
        return spark.createDataFrame(
            [], "merge_round int, left_sym string, right_sym string, pair_count bigint"
        )
    return spark.createDataFrame(
        merges, "merge_round int, left_sym string, right_sym string, pair_count bigint"
    )


def bpe_encode(
    documents: DataFrame,
    n_merges: int = 8,
    max_words: int = 200,
    top_k: int = 40,
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the corpus with a BPE table learned in the same pass —
    the encode step downstream of ``bpe_learn`` (Sennrich et al. 2016
    apply merges in learned-rank order; for a freshly-trained table that
    is exactly the training replay, so learn+apply share one chain).

    Merges are SELECTED from the top-``max_words`` training subset (the
    ``bpe_learn`` contract) but APPLIED to EVERY distinct corpus word:
    the symbol state carries a per-word ``trainflag`` and each round's
    pair count filters on it while the greedy run-parity merge runs over
    the full vocabulary. Output is the encoded corpus' token-frequency
    head: ``(rank, token, cnt)`` for the ``top_k`` tokens by
    (count DESC, token) — a TOTAL order, all integers/strings, so the
    DuckDB replay hashes identically.

    Scale: one corpus-wide word-count groupBy, then every round touches
    only the DISTINCT-word symbol table (vocab-bounded, ≪ corpus at
    100 TB); per round one vocab-bounded window pass + a 1-row collect.
    The corpus itself is never reshuffled after the initial count.
    """
    from .cache import pin

    norm = normalize_text(F.col(text_col))
    words = (
        documents.select(F.explode(F.split(norm, " ")).alias("w"))
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    wrank = Window.orderBy(F.col("freq").desc(), F.col("w"))
    words = words.select(
        "w",
        "freq",
        (F.row_number().over(wrank) <= int(max_words)).alias("trainflag"),
    )
    syms = pin(
        words.select(
            "w",
            "freq",
            "trainflag",
            F.posexplode(
                F.concat(
                    F.expr(
                        "transform(sequence(1, length(w)), i -> substr(w, i, 1))"
                    ),
                    F.array(F.lit("</w>")),
                )
            ).alias("pos", "sym"),
        ).select("w", "freq", "trainflag", "pos", "sym")
    )
    w_ord = Window.partitionBy("w").orderBy("pos")
    for _ in range(int(n_merges)):
        cand = (
            syms.where(F.col("trainflag"))
            .select("freq", "sym", F.lead("sym").over(w_ord).alias("nxt"))
            .where(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("sym"), F.col("nxt"))
            .limit(1)
            .collect()
        )
        if not cand:
            break
        syms = pin(
            _bpe_merge_step(
                syms, w_ord, cand[0].sym, cand[0].nxt, carry=("trainflag",)
            )
        )
    head = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    return (
        syms.groupBy(F.col("sym").alias("token"))
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .select(F.row_number().over(head).alias("rank"), "token", "cnt")
        .where(F.col("rank") <= int(top_k))
    )


def temperature_sample(
    documents: DataFrame,
    sample_frac: float = 0.5,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Temperature-balanced source sampling at T=2 (the multilingual /
    UniMax-style rebalance): per-source quotas ∝ √n_s instead of n_s,
    so head sources shrink and tail sources keep (almost) everything —
    the standard fix for a corpus dominated by one crawl. Unlike
    ``source_mixture`` (caller-supplied rates), the rates here are
    DERIVED from the corpus itself: ``r_s = min(1, M·√n_s / (W·n_s))``
    with ``M = sample_frac·N`` and ``W = Σ√n_s``.

    T is fixed at 2 deliberately: ``n^(1/T) = sqrt(n)`` is IEEE
    CORRECTLY-ROUNDED on both engines (pow with a fractional exponent
    is not), so the only cross-engine surface is the 4-term ΣW sum
    order, absorbed by carrying the keep rate as the r6 INTEGER
    ``r_int`` — the keep decision ``h % 1e6 < r_int`` is then pure
    integer arithmetic on the doc's md5 uniform (retry-safe, RNG-free,
    the source_mixture convention).

    Output: every doc with ``(doc_id, source, n_source, r_int, kept)``
    — the audit view; filter ``kept = 1`` for the sample itself.

    Scale: one tiny source-count groupBy + broadcast scalar + broadcast
    rate join; the corpus never shuffles.
    """
    from .dedup import _h64

    counts = documents.groupBy(source_col).agg(
        F.count("*").cast("bigint").alias("n_source")
    )
    # n_total is an integer sum (exact in double); w_total is an
    # UNORDERED float sum — round it in-engine to 9 decimals on both
    # sides (the k-means oracle convention) so sum-order ulp drift can
    # never flip round(rate*1e6) at a .5 micro-unit boundary.
    tot = counts.agg(
        F.sum("n_source").cast("double").alias("n_total"),
        F.round(
            F.sum(F.sqrt(F.col("n_source").cast("double"))), 9
        ).alias("w_total"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        source_col,
        "n_source",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(float(sample_frac))
                * F.col("n_total")
                * F.sqrt(F.col("n_source").cast("double"))
                / (F.col("w_total") * F.col("n_source").cast("double")),
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("r_int"),
    )
    return documents.select(id_col, source_col).join(
        F.broadcast(rates), source_col
    ).select(
        id_col,
        source_col,
        "n_source",
        "r_int",
        F.when(
            (_h64(F.col(id_col).cast("string"), 12) % 1_000_000) < F.col("r_int"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("kept"),
    )


def weighted_sample_topk(
    documents: DataFrame,
    k: int = 50,
    id_col: str = "doc_id",
    weight_expr: str = "n_tok",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–
    Spirakis A-ES key (2006): each row gets the key ``ln(u)/w`` with
    ``u`` an md5-derived uniform and ``w`` its integer weight, and the
    k LARGEST keys are the sample — the distributed one-pass algorithm
    for "sample k docs proportionally to length/quality" (a heap scan
    per partition + one k-row merge at scale; here a rank window with
    WindowGroupLimit).

    Determinism: ``u = (h_24 + 1)/2^24`` from the doc's md5 (RNG-free,
    retry-safe, the source_mixture convention); the key is ROUNDED r6
    and ranked with an id tie-break — ln() differs 1 ulp between JVM
    and libm, so the raw key is not a stable cross-engine sort key (the
    dsir/bm25 lesson applied to sampling).

    Output: (doc_id, weight, skey, rank) for the k sampled rows.
    """
    from pyspark.sql.window import Window

    from .dedup import _h64

    rows = documents.select(
        F.col(id_col).alias("doc_id"),
        F.expr(weight_expr).cast("bigint").alias("weight"),
    ).filter(F.col("weight") > 0)
    u = (_h64(F.col("doc_id").cast("string"), 16) % F.lit(1 << 24) + 1).cast(
        "double"
    ) / F.lit(float(1 << 24))
    keyed = rows.withColumn(
        "skey", F.round(F.log(u) / F.col("weight").cast("double"), 6)
    )
    w = Window.orderBy(F.col("skey").desc(), F.col("doc_id").asc())
    return (
        keyed.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "weight", "skey", "rank")
    )


def dataset_split(
    documents: DataFrame,
    train_permille: int = 800,
    val_permille: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test split (800/100/100 ‰ by default):
    the doc's md5 uniform modulo 1000 against integer per-mille
    thresholds — pure integer decision, RNG-free, retry-safe, and
    STABLE under corpus growth (a doc's split never changes when other
    docs arrive — the property random splits lose). Map-only.
    """
    from .dedup import _h64

    if not 0 < train_permille + val_permille < 1000:
        raise ValueError("train + val must leave room for test")
    b = _h64(F.col(id_col).cast("string"), 20) % 1000
    return documents.withColumn(
        "split",
        F.when(b < train_permille, "train")
        .when(b < train_permille + val_permille, "val")
        .otherwise("test"),
    )


def _loglog_ols(points: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """One-row log-log OLS over positive integer points — the shared
    finisher of :func:`zipf_fit` and :func:`heaps_fit`.

    Cross-engine determinism (the k-means rounding convention, taken to
    integers): ln of an exact integer agrees across engines to ~1 ulp
    (2e-15 at these magnitudes), so quantizing to 1e-9 micro-units
    makes each point an exact BIGINT and every OLS sum an exact
    decimal(38,0) — unordered summation cannot drift. slope / intercept
    / r² are then fixed-shape double expressions over exact integers
    (both 1e9 scales cancel in the slope; the intercept divides one
    back out). Degenerate inputs (all-equal x) yield NULL slope via the
    NULLIF'd denominator, never an ANSI crash.
    """
    lx = F.round(F.log(F.col(x_col).cast("double")) * 1_000_000_000).cast(
        "bigint"
    ).cast("decimal(38,0)")
    ly = F.round(F.log(F.col(y_col).cast("double")) * 1_000_000_000).cast(
        "bigint"
    ).cast("decimal(38,0)")
    agg = points.select(lx.alias("x"), ly.alias("y")).agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    a = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    b = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    c = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = a / F.nullif(b, F.lit(0.0))
    return agg.select(
        F.col("n").cast("bigint").alias("n_points"),
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
            / F.lit(1.0e9)
        ).alias("intercept"),
        ((a * a) / F.nullif(b * c, F.lit(0.0))).alias("r2"),
    )


def zipf_fit(
    sequences: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Zipf's-law fit over the corpus token vocabulary: OLS of
    ln(term frequency) on ln(frequency rank) — slope ≈ −s is the Zipf
    exponent, the one-row corpus health metric a training-data pipeline
    tracks per snapshot (a slope drifting toward 0 flags boilerplate /
    dedup failure; toward −∞ flags vocabulary collapse).

    Ranks are deterministic (tf DESC, token ASC). Scale: one explode +
    one vocab-bounded combinable groupBy; the rank window runs over
    VOCAB rows (bounded by contract, 32k here), and the fit is a scalar
    aggregate. Output: (n_points, slope, intercept, r2) — see
    :func:`_loglog_ols` for the exact-integer determinism story.
    """
    from pyspark.sql.window import Window

    vocab = (
        sequences.select(F.explode(F.col(tokens_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    ranked = vocab.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("tf"), F.asc("token"))),
    )
    return _loglog_ols(ranked, "rank", "tf")


def heaps_fit(
    sequences: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    bucket: int = 8,
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(n) ≈ K·n^β, fitted as OLS
    of ln(cumulative distinct types) on ln(cumulative tokens) at
    doc-bucket milestones (doc_id div ``bucket``) — β well below ~0.8
    on a natural corpus; β ≈ 1 means every doc brings fresh vocabulary
    (tokenizer misconfigured or corpus is noise), the canonical
    new-snapshot sanity check next to :func:`zipf_fit`.

    A token's first appearance is min(doc_id) over one vocab-bounded
    groupBy; growth points are per-BUCKET sums cumsummed over the
    bounded bucket axis (never a per-doc unpartitioned window), so the
    curve costs one explode + two combinable groupBys + one window over
    n_docs/bucket rows. Output: (n_points, slope=β, intercept=ln K,
    r2).
    """
    from pyspark.sql.window import Window

    flat = sequences.select(
        F.col(id_col).alias("doc_id"), F.explode(F.col(tokens_col)).alias("token")
    )
    per_bucket_tokens = (
        sequences.select(
            (F.col(id_col) / bucket).cast("long").alias("b"),
            F.size(F.col(tokens_col)).cast("bigint").alias("n_tok"),
        )
        .groupBy("b")
        .agg(F.sum("n_tok").alias("n_tok"))
    )
    first_seen = flat.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    per_bucket_new = (
        first_seen.select((F.col("first_doc") / bucket).cast("long").alias("b"))
        .groupBy("b")
        .agg(F.count("*").cast("bigint").alias("new_types"))
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    growth = (
        per_bucket_tokens.join(per_bucket_new, "b", "left")
        .select(
            "b",
            F.sum("n_tok").over(w).alias("cum_tokens"),
            F.sum(F.coalesce(F.col("new_types"), F.lit(0))).over(w).alias(
                "cum_types"
            ),
        )
        .filter((F.col("cum_tokens") >= 1) & (F.col("cum_types") >= 1))
    )
    return _loglog_ols(growth, "cum_tokens", "cum_types")


def stratified_sample(
    df: DataFrame,
    k_per_stratum: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "strat1",
) -> DataFrame:
    """Deterministic EXACT-k-per-stratum sample — the third sampling
    primitive beside `source_mixture` (rate-based) and
    `weighted_sample_topk` (weighted without replacement): every
    stratum contributes exactly min(k, |stratum|) rows, chosen by the
    portable md5 order (salted so independent samples don't correlate),
    RNG-free and reproducible on any engine.

    Scale: ONE stratum-keyed window with a rank ≤ k predicate —
    Spark's WindowGroupLimit pushes the top-k INSIDE the shuffle
    (partial top-k per map task), so the exchange moves O(strata · k),
    not the corpus. The md5 order key is computed per row, map-side.
    """
    from pyspark.sql.window import Window

    key = F.md5(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(stratum_col).orderBy(key, F.col(id_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k_per_stratum)
        .drop("_rk")
    )


def span_corruption_plan(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    start_rate_mod: int = 7,
    min_len: int = 2,
    len_mod: int = 3,
) -> DataFrame:
    """T5-style span-corruption PLANNING (Raffel et al. 2020 §3.1.4 —
    the denoising objective's mask layout): deterministically pick
    corruption spans over each document's token positions, merge
    overlapping/adjacent picks, and report the mask layout per doc.
    RNG-free: a position starts a span iff its salted md5 ≡ 0 (mod
    ``start_rate_mod``) and the span length is ``min_len + md5' mod
    len_mod`` — the stratified_sample convention, reproducible
    bit-for-bit in SQL, identical across engines and runs (a training
    pipeline needs the SAME mask plan on every replay).

    Merging is the interval-coalesce island walk (adjacent spans fuse —
    inclusive integer positions, start ≤ prev_max_end + 1) under the
    total per-doc position order.

    Output: ``doc_id, n_tokens, n_spans, n_masked, sum_starts,
    mask_rate_milli`` — all integers (rate in exact milli-units via
    floor division).

    Scale: one posexplode + ONE hash(doc) exchange serving the island
    windows and the final doc groupBy (prefix rule); span candidates are
    per-row expressions.
    """
    from pyspark.sql import Window

    from .text import _words
    from .dedup import _h64

    words = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_words(F.col(text_col))).alias("p", "w"),
    ).select("doc_id", "p")
    n_tok = words.groupBy("doc_id").agg(
        F.max("p").cast("bigint").alias("n_tokens")
    ).withColumn("n_tokens", F.col("n_tokens") + 1)
    tagged = words.join(n_tok, "doc_id")
    key = F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("p").cast("string"))
    starts = tagged.where(_h64(key, 4) % start_rate_mod == 0).select(
        "doc_id", "n_tokens",
        F.col("p").cast("bigint").alias("s"),
        F.least(
            F.col("p") + min_len - 1 + (_h64(key, 5) % len_mod),
            F.col("n_tokens") - 1,
        )
        .cast("bigint")
        .alias("e"),
    )
    wo = Window.partitionBy("doc_id").orderBy("s")
    prev_max = F.max("e").over(wo.rowsBetween(Window.unboundedPreceding, -1))
    marked = starts.withColumn(
        "new_island",
        (prev_max.isNull() | (F.col("s") > prev_max + 1)).cast("int"),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    islands = marked.groupBy("doc_id", "n_tokens", "island").agg(
        F.min("s").alias("is_"), F.max("e").alias("ie")
    )
    per_doc = islands.groupBy("doc_id", "n_tokens").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.col("ie") - F.col("is_") + 1).cast("bigint").alias("n_masked"),
        F.sum("is_").cast("bigint").alias("sum_starts"),
    )
    out = n_tok.join(per_doc.drop("n_tokens"), "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("n_masked", F.lit(0)).cast("bigint").alias("n_masked"),
        F.coalesce("sum_starts", F.lit(0)).cast("bigint").alias("sum_starts"),
    )
    return out.withColumn(
        "mask_rate_milli", F.expr("n_masked * 1000 div n_tokens").cast("bigint")
    )


def wordpiece_encode(
    documents: DataFrame,
    vocab_size: int = 160,
    max_piece_len: int = 4,
    max_word_len: int = 16,
    top_k: int = 40,
    text_col: str = "text",
) -> DataFrame:
    """WordPiece greedy longest-match-first tokenization (the BERT
    encoder of Wu et al. 2016 §3; HuggingFace ``WordPiece`` semantics:
    at each position take the LONGEST vocabulary piece, continuation
    pieces spelled ``##x``) — the second tokenizer family next to
    :func:`bpe_encode`'s merge-replay, exercising maximal munch instead
    of merge ranks.

    Self-contained vocab (deterministic, both engines derive it): the
    top-``vocab_size`` substrings of length 2..``max_piece_len`` over
    the distinct-word table by (occurrence-weighted freq DESC, cont,
    form) — start and continuation forms counted separately — plus ALL
    single-character forms seen, so every munch step matches and no
    [UNK] arises. Words are lowercase ``^[a-z]+$`` capped at
    ``max_word_len`` chars (bounds the walk depth; the SQL replay
    unrolls it as one linear recursion over a PRE-AGGREGATED munch
    table — longest match per (word, position) — so the recursive term
    needs no aggregate).

    Output: ``(rank, piece, cnt)`` token-frequency head under the total
    order (cnt DESC, piece) — all integers/strings, exact hash.

    Scale: one corpus word-count groupBy (combinable); everything after
    runs on the DISTINCT-word table (vocab-bounded, ≪ corpus at 100 TB);
    the vocab collect is ``vocab_size + |alphabet|`` rows. The corpus is
    never reshuffled after the initial count.
    """
    import pandas as pd

    from .cache import pin
    from .dedup import normalize_text

    norm = normalize_text(F.col(text_col))
    words = pin(
        documents.select(F.explode(F.split(norm, " ")).alias("w"))
        .where(F.col("w").rlike("^[a-z]+$"))
        .where(F.length("w") <= int(max_word_len))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )

    subs = None
    for ln in range(1, int(max_piece_len) + 1):
        s = (
            words.where(F.length("w") >= ln)
            .select(
                "freq",
                F.posexplode(
                    F.expr(
                        f"transform(sequence(1, length(w) - {ln} + 1),"
                        f" i -> substr(w, i, {ln}))"
                    )
                ).alias("p", "form"),
            )
            .select(
                "freq",
                "form",
                (F.col("p") > 0).alias("cont"),
                F.lit(ln).alias("flen"),
            )
        )
        subs = s if subs is None else subs.unionByName(s)
    counts = subs.groupBy("form", "cont", "flen").agg(
        F.sum("freq").cast("bigint").alias("cnt")
    )
    wv = Window.orderBy(F.col("cnt").desc(), F.col("cont").asc(), F.col("form").asc())
    multi = (
        counts.where(F.col("flen") >= 2)
        .select("form", "cont", F.row_number().over(wv).alias("rn"))
        .where(F.col("rn") <= int(vocab_size))
        .select("form", "cont")
    )
    single = counts.where(F.col("flen") == 1).select("form", "cont")
    vocab = {(r.form, bool(r.cont)) for r in multi.unionByName(single).collect()}

    mpl = int(max_piece_len)

    def kernel(batches):
        for pdf in batches:
            pieces, freqs = [], []
            for w, fr in zip(pdf["w"], pdf["freq"]):
                pos, n = 0, len(w)
                while pos < n:
                    ln = min(mpl, n - pos)
                    while ln > 1 and (w[pos : pos + ln], pos > 0) not in vocab:
                        ln -= 1
                    pieces.append(("##" if pos else "") + w[pos : pos + ln])
                    freqs.append(fr)
                    pos += ln
            yield pd.DataFrame({"piece": pieces, "freq": freqs})

    enc = words.mapInPandas(kernel, "piece string, freq long")
    agg = enc.groupBy("piece").agg(F.sum("freq").cast("bigint").alias("cnt"))
    wr = Window.orderBy(F.col("cnt").desc(), F.col("piece").asc())
    return (
        agg.select(
            F.row_number().over(wr).cast("int").alias("rank"), "piece", "cnt"
        )
        .where(F.col("rank") <= int(top_k))
    )


def freq_of_freqs(sequences: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Good–Turing frequency-of-frequencies table (Good 1953; the
    smoothing diagnostic behind Kneser–Ney's discounts and the
    vocabulary-saturation check of a training corpus): N_c = how many
    token TYPES occur exactly c times, plus the Good–Turing adjusted
    count c* = (c+1)·N_{c+1}/N_c (NULL where N_{c+1} is absent — the
    unsmoothed-estimator gap the technique exists to highlight).

    All-integer until the single IEEE division per row; hapax count is
    the c = 1 row. Scale: one token-count groupBy (vocab-bounded
    output), one count-of-counts groupBy (≤ max-count rows), one
    self-join on c+1 over that tiny table.

    Output: (c, n_types, c_star).
    """
    counts = (
        sequences.select(F.explode(F.col(tokens_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    nof = counts.groupBy("c").agg(F.count("*").cast("bigint").alias("n_types"))
    nxt = nof.select(
        (F.col("c") - 1).alias("c"), F.col("n_types").alias("n_next")
    )
    return (
        nof.join(nxt, "c", "left")
        .select(
            "c",
            "n_types",
            (
                ((F.col("c") + 1) * F.col("n_next")).cast("double")
                / F.col("n_types").cast("double")
                + F.lit(0.0)
            ).alias("c_star"),
        )
    )


def curriculum_stages(
    sequences: DataFrame,
    n_stages: int = 4,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Length-based curriculum staging with EQUAL TOKEN BUDGETS
    (shortest-first curriculum, Bengio et al. 2009 applied the way
    LLM data pipelines schedule it: stage boundaries split the TOKEN
    mass, not the doc count, so every stage costs the same compute):
    docs ordered by ``(n_tok, doc_id)``; a doc's stage is
    ``min(n_stages−1, cum_excl·n_stages div total)`` where ``cum_excl``
    is the exact token count strictly before it in that total order.
    Pure integer — bit-stable under any tie pattern.

    Scale: NO global window. The exclusive prefix decomposes as
    (tokens of all strictly-shorter length groups) + (tokens of
    same-length docs with smaller id): the first term is a prefix over
    the BOUNDED distinct-length sketch table (the quantile_discretize
    argument), the second a window PARTITIONED BY length — both
    key-bounded. The broadcast total closes it.

    Output: (doc_id, n_tok, cum_excl, stage).
    """
    if n_stages < 1:
        raise ValueError("n_stages must be >= 1")
    # F.size(NULL) is -1 in non-ANSI Spark — a null tokens row would get
    # n_tok = -1, join into the length-group prefix, and shift EVERY
    # stage boundary. Drop null-array rows (the oracle's len(tokens)
    # NULLs them out of the order anyway).
    docs = sequences.filter(F.col(tokens_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.size(F.col(tokens_col)).cast("bigint").alias("n_tok"),
    )
    glen = docs.groupBy("n_tok").agg(
        F.sum("n_tok").cast("bigint").alias("grp_tok")
    )
    wlen = Window.orderBy("n_tok").rowsBetween(
        Window.unboundedPreceding, -1
    )
    gpre = glen.withColumn(
        "grp_pre", F.coalesce(F.sum("grp_tok").over(wlen), F.lit(0))
    ).select("n_tok", "grp_pre")
    wdoc = Window.partitionBy("n_tok").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    within = docs.withColumn(
        "win_pre", F.coalesce(F.sum("n_tok").over(wdoc), F.lit(0))
    )
    total = docs.agg(F.sum("n_tok").cast("bigint").alias("total"))
    out = (
        within.join(F.broadcast(gpre), "n_tok")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "cum_excl",
            (F.col("grp_pre") + F.col("win_pre")).cast("bigint"),
        )
    )
    stage = F.when(
        F.col("total") > 0,
        F.least(
            F.lit(int(n_stages) - 1),
            F.expr(f"(cum_excl * {int(n_stages)}) div total"),
        ),
    ).otherwise(F.lit(0))
    return out.select(
        "doc_id", "n_tok", "cum_excl", stage.cast("int").alias("stage")
    )
