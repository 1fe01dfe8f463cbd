#!/usr/bin/env python3
"""Write the benchmark's input tables: the ten tables graft's queries read
(a TPC-H-shaped star schema, an `events` stream, a `documents` corpus and
an `embeddings` table), one parquet file each, with the column names and
types the library expects.

The tables depend only on the scale factor and a fixed data seed, so every
run of the benchmark reads the same rows and the reference fingerprints in
`refs.json` stay valid; the workload seed never changes the data, only the
order of the operations and the session parameters.

Usage: python3 perfbench/gen_data.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pandas as pd

DATA_SEED = 42
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, n_days, n):
    ts = pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, n_days, n), unit="D")
    return ts.values.astype("datetime64[us]")


def tables(sf: float):
    rng = np.random.Generator(np.random.PCG64(DATA_SEED))
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    yield "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    yield "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    yield "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "green"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"])
    ptypes = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    yield "part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    yield "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    yield "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": days(rng, "1995-01-02", 2498, n_li)})
    etypes = np.array(["signup", "click", "error", "view", "purchase"])
    gaps = np.sort(rng.integers(0, 30 * 86400 * 1000000, n_ev))
    yield "events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(gaps, unit="us")).values.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(15, int(15000 * sf)), n_ev).astype(np.int64),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        # one document in twenty is a near-duplicate: an earlier text with
        # one marker token appended
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 101)))))
    yield "documents", pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 6, n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


def main():
    out, sf = sys.argv[1], float(sys.argv[2])
    os.makedirs(out, exist_ok=True)
    for name, df in tables(sf):
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        df.to_parquet(tmp, index=False)
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "_SUCCESS"), "w") as f:
        f.write(f"sf={sf} seed={DATA_SEED}\n")


if __name__ == "__main__":
    main()
