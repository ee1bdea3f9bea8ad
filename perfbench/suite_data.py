#!/usr/bin/env python3
"""Generate the `suite` workload's fixed table set.

    python3 perfbench/suite_data.py <out_dir>

Writes the ten tables `SparkEntry.queries` read (`<name>.parquet`, one file
each) at the row counts of the engine's sf0.01 test scale, with the same
column names and types. Values come from a fixed seed, so every run and
every checkout gets the same bytes; the suite's expected result digests
(`suite_expected.json`) are recorded against exactly this data.
"""
import os
import sys
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20260115

N_REGION, N_NATION = 5, 25
N_CUSTOMER, N_SUPPLIER, N_PART = 1500, 100, 2000
N_ORDERS, N_LINEITEM = 15000, 60000
N_EVENTS, N_DOCUMENTS, N_EMBEDDINGS = 10000, 500, 500
DIM, LABELS = 64, 10

WORDS = ("row the query stream key agg scan slow table part a merge window "
         "order column join vector fast spark line small customer group value "
         "hash batch sort data big filter").split()


def write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def ts_us(base, seconds):
    """Naive (non-UTC-adjusted) microsecond timestamps: base + seconds."""
    micros = (np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    start = int((base - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(start + micros, type=pa.timestamp("us"))


def cents(x):
    return np.round(x, 2)


def main(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SEED)

    write(out, "region", pa.table({
        "r_regionkey": pa.array(np.arange(N_REGION), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    write(out, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(N_NATION), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATION)],
        "n_regionkey": pa.array(np.arange(N_NATION) % N_REGION, pa.int32())}))

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, N_NATION, N_CUSTOMER), pa.int32()),
        "c_acctbal": cents(rng.uniform(-999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": segments[rng.integers(0, 5, N_CUSTOMER)]}))
    write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, N_NATION, N_SUPPLIER), pa.int32()),
        "s_acctbal": cents(rng.uniform(-999.99, 9999.99, N_SUPPLIER))}))

    adj = np.array(["small", "red", "blue", "hot", "cold", "old", "new", "big"])
    noun = np.array(["bolt", "gear", "ring", "widget", "anvil", "rod", "plate", "nut"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
    write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, N_PART)], " "),
                              noun[rng.integers(0, 8, N_PART)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, N_PART).astype(str)),
        "p_type": types[rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": cents(900 + (np.arange(N_PART) % 1000) / 10.0)}))

    # every customer has at least one order
    custkeys = np.concatenate([np.arange(N_CUSTOMER),
                               rng.integers(0, N_CUSTOMER, N_ORDERS - N_CUSTOMER)])
    rng.shuffle(custkeys)
    order_days = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(custkeys, pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": cents(rng.uniform(1000, 500000, N_ORDERS)),
        "o_orderdate": ts_us(datetime(1995, 1, 1), order_days * 86400),
        "o_orderpriority": prio[rng.integers(0, 5, N_ORDERS)]}))

    okeys = rng.integers(0, N_ORDERS, N_LINEITEM)
    okeys.sort(kind="stable")
    linenum = np.zeros(N_LINEITEM, dtype=np.int32)
    for i in range(1, N_LINEITEM):
        linenum[i] = linenum[i - 1] + 1 if okeys[i] == okeys[i - 1] else 0
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    perm = rng.permutation(N_LINEITEM)
    write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(okeys[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(linenum[perm] + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": cents(qty * rng.uniform(900, 2100, N_LINEITEM)),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": ts_us(datetime(1995, 1, 2),
                            order_days[okeys[perm]] * 86400
                            + rng.integers(1, 122, N_LINEITEM) * 86400)}))

    secs = np.sort(rng.uniform(0, 30 * 86400, N_EVENTS))
    write(out, "events", pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": ts_us(datetime(2024, 1, 1), np.round(secs, 6)),
        "user_id": pa.array(rng.integers(0, 150, N_EVENTS), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, N_EVENTS)],
        "value": cents(rng.uniform(0.01, 490, N_EVENTS)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]}))

    texts = []
    for i in range(N_DOCUMENTS):
        if i >= 10 and i % 10 == 0:
            # near-duplicate of an earlier document: a few words changed
            base = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(base), 3):
                base[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(base + ["dup"]))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), N_DOCUMENTS)],
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))

    centers = rng.normal(0, 0.15, (LABELS, DIM))
    labels = rng.integers(0, LABELS, N_EMBEDDINGS)
    vecs = (centers[labels] + rng.normal(0, 0.08, (N_EMBEDDINGS, DIM))).astype(np.float32)
    write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))

    open(os.path.join(out, "_DONE"), "w").close()


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
