"""Seeded generator of the query tables (the TESTDATA.md schemas).

Same tables, columns, types and distribution shapes as
`tools/gen_sf.py` (TPC-H-ish star schema, TIMESTAMP_NS events, a Zipfian
document vocabulary with planted exact and near-duplicate families,
64-dim embeddings over 10 labels), kept here so the benchmark's inputs do
not change when that development tool does.  Every table is one parquet
file with one row group, like the testdata directories TESTDATA.md
describes.

usage: python3 perfbench/gen_tables.py <out_dir> <sf> <seed>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
HEAD = ("spark window merge table column vector stream value data small join "
        "filter big group hash customer sort order slow line part fast the row "
        "agg key query a scan batch").split()
SYL = ["ba", "do", "ke", "mi", "ra", "su", "ten", "vol", "zen", "lo",
       "par", "qui", "nos", "tel", "gam", "hul", "dri", "fex", "mon", "cav"]
VOCAB_SIZE = 50_000


def _tail_word(i):
    s, n = [], i
    while n > 0 or len(s) < 3:
        s.append(SYL[n % len(SYL)])
        n //= len(SYL)
    return "".join(s)


def vocab():
    v = np.array(HEAD + [_tail_word(i) for i in range(VOCAB_SIZE - len(HEAD))])
    p = 1.0 / np.power(np.arange(1, VOCAB_SIZE + 1), 1.05)
    return v, p / p.sum()


def documents(rng, n_doc):
    """Zipfian 8-90 word documents; 1% are family bases, half of the
    families carry one exact duplicate and half a near duplicate (two
    words swapped for 'dup')."""
    words, p = vocab()
    lens = rng.integers(8, 91, n_doc)
    idx = rng.choice(VOCAB_SIZE, int(lens.sum()), p=p)
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[idx[offs[i]:offs[i + 1]]]) for i in range(n_doc)]
    for f in range(max(1, n_doc // 100)):
        base = int(rng.integers(0, n_doc))
        var = (base + 1 + int(rng.integers(0, n_doc - 1))) % n_doc
        if f % 2 == 0:
            texts[var] = texts[base]
        else:
            w = texts[base].split()
            for _ in range(2):
                w[int(rng.integers(0, len(w)))] = "dup"
            texts[var] = " ".join(w)
    langs = np.array(["en", "zh", "es", "fr", "de"])
    return pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(langs[rng.choice(5, n_doc, p=[0.40, 0.15, 0.15, 0.15, 0.15])]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def generate(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions}))
    write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    n_cust = int(150_000 * sf)
    write(out, "customer", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_cust)])}))

    n_supp = int(10_000 * sf)
    write(out, "supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(0, 10000, n_supp), 2)}))

    n_part = int(200_000 * sf)
    adjs = np.array(["large", "hot", "blue", "red", "small", "dark", "light",
                     "green", "cold", "plain"])
    nouns = np.array(["ring", "bolt", "nut", "washer", "gear", "cog", "pin",
                      "rod", "cap", "plug"])
    write(out, "part", pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            adjs[rng.integers(0, 10, n_part)], nouns[rng.integers(0, 10, n_part)])],
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
        )[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2)}))

    n_ord = int(1_500_000 * sf)
    d0 = np.datetime64("1995-01-01").astype("datetime64[us]").astype(np.int64)
    span_days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(np.int64)
    write(out, "orders", pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(
            d0 + rng.integers(0, span_days, n_ord) * DAY_US, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)])}))

    n_li = int(6_000_000 * sf)
    ship_span = (np.datetime64("2001-11-05") - np.datetime64("1995-01-02")).astype(np.int64)
    d1 = np.datetime64("1995-01-02").astype("datetime64[us]").astype(np.int64)
    write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(
            d1 + rng.integers(0, ship_span, n_li) * DAY_US, pa.timestamp("us"))}))

    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    ev0 = np.datetime64("2024-01-01").astype("datetime64[ns]").astype(np.int64)
    ev_span = 30 * 86_400_000_000_000
    write(out, "events", pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev0 + np.sort(rng.integers(0, ev_span, n_ev)), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(np.array(
            ["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(70.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]}))

    write(out, "documents", documents(rng, int(50_000 * sf)))

    n_emb = int(20_000 * sf)
    write(out, "embeddings", pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(rng.normal(0, 0.1, (n_emb, 64)).astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32), pa.int32())}))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
