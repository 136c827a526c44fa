"""Native sf1 synthetic dataset — a 10× scale leg (VERDICT r4 Next #2).

Generates a TRUE sf1 dataset (not a replicated sf0.1): every table drawn
fresh at 10× row counts from the same distribution family as the
driver's sf0.1 data (schemas, key ranges, categorical mixes, value laws
measured from /root/testdata/sf0.1 — exponential event values, ~uniform
type mix, 20-source/5-lang documents over the 31-word query vocabulary,
10-cluster 64-dim embeddings). Deterministic (seed 1). Row groups are
sized so Spark can actually split the files (the driver's single-row-
group files can't), which is the honest layout at this scale.

Usage: python make_sf1_testdata.py [outdir]      (default /tmp/sf1)
Then:  python verify_local.py --dataset <outdir> [query ...]
"""

from __future__ import annotations

import datetime
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 10  # relative to sf0.1
N_CUST = 15_000 * SF
N_SUPP = 1_000 * SF
N_PART = 20_000 * SF
N_ORDERS = 150_000 * SF
N_LINE = 600_000 * SF
N_EVENTS = 100_000 * SF
N_DOCS = 5_000 * SF
N_EMB = 2_000 * SF
N_USERS = 1_500 * SF

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["MACHINERY", "BUILDING", "FURNITURE", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["signup", "purchase", "view", "click", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES",
]


def write(out: str, name: str, table: pa.Table, row_group: int) -> None:
    pq.write_table(table, f"{out}/{name}.parquet", row_group_size=row_group)
    print(f"{name}: {table.num_rows} rows")


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(1)

    write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }), 5)

    write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array(NATIONS),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), 25)

    write(out, "customer", pa.table({
        "c_custkey": pa.array(range(N_CUST), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUST)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": pa.array(
            np.round(rng.uniform(-999.99, 9999.99, N_CUST), 2), pa.float64()),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, N_CUST)]),
    }), 50_000)

    write(out, "supplier", pa.table({
        "s_suppkey": pa.array(range(N_SUPP), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPP)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": pa.array(
            np.round(rng.uniform(-999.99, 9999.99, N_SUPP), 2), pa.float64()),
    }), 10_000)

    sizes = rng.integers(1, 51, N_PART)
    types = [f"TYPE{i}" for i in range(6)]
    brands = [f"Brand#{i}" for i in range(1, 26)]
    write(out, "part", pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": pa.array([f"part {i}" for i in range(N_PART)]),
        "p_brand": pa.array(np.array(brands)[rng.integers(0, 25, N_PART)]),
        "p_type": pa.array(np.array(types)[rng.integers(0, 6, N_PART)]),
        "p_size": pa.array(sizes, pa.int32()),
        "p_retailprice": pa.array(
            np.round(rng.uniform(900.0, 999.9, N_PART), 2), pa.float64()),
    }), 50_000)

    d0 = np.datetime64("1995-01-01")
    span_days = int((np.datetime64("2001-08-01") - d0)
                    / np.timedelta64(1, "D"))
    odate = d0 + rng.integers(0, span_days + 1, N_ORDERS).astype(
        "timedelta64[D]")
    write(out, "orders", pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array(
            np.array(["O", "P", "F"])[rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": pa.array(
            np.round(rng.uniform(900.0, 360000.0, N_ORDERS), 2), pa.float64()),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]),
    }), 250_000)

    okeys = np.repeat(
        np.arange(N_ORDERS, dtype=np.int64),
        rng.integers(1, 8, N_ORDERS))[:N_LINE]
    n_line = okeys.shape[0]
    lnum = np.concatenate([np.arange(1, c + 1) for c in
                           np.bincount(okeys, minlength=N_ORDERS) if c > 0])
    sdate = d0 + rng.integers(1, span_days + 96, n_line).astype(
        "timedelta64[D]")
    write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, n_line), pa.int64()),
        "l_linenumber": pa.array(lnum.astype(np.int32), pa.int32()),
        "l_quantity": pa.array(
            rng.integers(1, 51, n_line).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900.0, 105000.0, n_line), 2), pa.float64()),
        "l_discount": pa.array(
            np.round(rng.integers(0, 11, n_line) / 100.0, 2), pa.float64()),
        "l_tax": pa.array(
            np.round(rng.integers(0, 9, n_line) / 100.0, 2), pa.float64()),
        "l_returnflag": pa.array(
            np.array(["N", "A", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(
            np.array(["O", "F"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(sdate.astype("datetime64[us]"),
                               pa.timestamp("us")),
    }), 250_000)

    t0 = np.datetime64("2024-01-01T00:00:00.000000")
    span_us = 30 * 86400 * 1_000_000
    ets = np.sort(rng.integers(0, span_us, N_EVENTS))
    write(out, "events", pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(t0 + ets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array(np.array(ETYPES)[rng.integers(0, 5, N_EVENTS)]),
        "value": pa.array(
            np.round(rng.exponential(50.0, N_EVENTS), 2), pa.float64()),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    }), 250_000)

    vocab = np.array(VOCAB)
    n_words = rng.integers(11, 99, N_DOCS)
    flat = vocab[rng.integers(0, len(vocab), int(n_words.sum()))]
    texts, pos = [], 0
    for c in n_words:
        texts.append(" ".join(flat[pos:pos + c]))
        pos += c
    write(out, "documents", pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[
            rng.choice(5, N_DOCS, p=LANG_P)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), 25_000)

    centers = rng.normal(0, 0.12, (10, 64))
    labels = rng.integers(0, 10, N_EMB)
    emb = (centers[labels]
           + rng.normal(0, 0.08, (N_EMB, 64))).astype(np.float32)
    write(out, "embeddings", pa.table({
        "vec_id": pa.array(range(N_EMB), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    }), 10_000)

    with open(f"{out}/MANIFEST.json", "w") as f:
        json.dump({"sf": 1, "seed": 1,
                   "generated": datetime.date.today().isoformat()}, f)
    print(f"sf1 dataset at {out}")


if __name__ == "__main__":
    main()
