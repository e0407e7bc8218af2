"""Seeded input generator for the benchmark.

Writes the ten source tables the engine reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the schemas and value ranges of the engine's
TPC-H-like test data. The same (seed, scale) always gives byte-identical
tables; the seed changes values only, never row counts, so timings stay
comparable across seeds.

`orders` and `customer` carry a known number of dirty rows per silver
rule (missing amount, date before the floor, bad amount, duplicate key,
orphan customer; invalid customer key, invalid name, duplicate customer).
Each dirty row breaks exactly one rule, so the silver quality counters and
row counts are known from construction; they are written to
`expect.json` next to the tables for the harness to check against.

Usage: python3 gen.py <out_dir> <scale> <seed>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]

DAY_US = 86_400_000_000
ORDER_START = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01
SHIP_DAYS = 2498           # 1995-01-02 .. 2001-11-04
EVENT_START = np.datetime64("2024-01-01", "us")
EVENT_SPAN_US = 30 * DAY_US


def sizes(scale):
    """Row counts at a scale factor (sf1 = 1.5M orders, like TPC-H)."""
    n = lambda k: max(1, int(round(k * scale)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "users": max(1, n(15_000)),
        "documents": 500 if scale <= 0.01 else n(50_000),
        "embeddings": 500 if scale <= 0.01 else n(20_000),
    }


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, scale, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    sz = sizes(scale)
    nc, no = sz["customer"], sz["orders"]
    dirt = max(1, no // 500)         # dirty rows per orders rule
    cdirt = max(1, nc // 500)        # dirty rows per customer rule

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": [f"REGION_{i}" for i in range(5)]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    # customer: nc clean rows, then invalid-name, duplicate and null-key rows
    keys = np.arange(nc, dtype=np.int64)
    names = [f"Customer#{k:09d}" for k in keys]
    bad_name_keys = np.arange(nc, nc + cdirt, dtype=np.int64)
    dup_keys = rng.choice(nc, cdirt, replace=False).astype(np.int64)
    c_keys = pa.array(np.concatenate([keys, bad_name_keys, dup_keys]).tolist()
                      + [None] * cdirt, pa.int64())
    c_names = (names + [f"Customer {k:09d}" for k in bad_name_keys]
               + [f"Customer#{k:09d}-dup" for k in dup_keys]
               + [f"Customer#null{i}" for i in range(cdirt)])
    total_c = nc + 3 * cdirt
    write(out, "customer", {
        "c_custkey": c_keys, "c_name": c_names,
        "c_nationkey": pa.array(rng.integers(0, 25, total_c), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, total_c),
        "c_mktsegment": rng.choice(SEGMENTS, total_c)})

    write(out, "supplier", {
        "s_suppkey": np.arange(sz["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(sz["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, sz["supplier"]), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, sz["supplier"])})

    npart = sz["part"]
    write(out, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                              rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)})

    # orders: no clean rows, then one block of `dirt` rows per silver rule
    o_key = np.arange(no, dtype=np.int64)
    o_cust = rng.integers(0, nc, no).astype(np.int64)
    o_day = rng.integers(0, ORDER_DAYS, no)
    o_price = money(rng, 900.0, 500_000.0, no)
    dup_of = rng.choice(no, dirt, replace=False)
    nxt = lambda i: np.arange(no + i * dirt, no + (i + 1) * dirt, dtype=np.int64)
    blocks = [  # (keys, custkeys, day offsets, prices); None = SQL NULL
        (nxt(0), rng.integers(0, nc, dirt), rng.integers(0, ORDER_DAYS, dirt), None),
        (nxt(1), rng.integers(0, nc, dirt), np.full(dirt, -3653), money(rng, 900, 5e5, dirt)),
        (nxt(2), rng.integers(0, nc, dirt), rng.integers(0, ORDER_DAYS, dirt), -money(rng, 1, 500, dirt)),
        (o_key[dup_of], o_cust[dup_of], o_day[dup_of] + 1, money(rng, 900, 5e5, dirt)),
        (nxt(3), nc + 1_000_000 + np.arange(dirt), rng.integers(0, ORDER_DAYS, dirt), money(rng, 900, 5e5, dirt)),
    ]
    all_key = np.concatenate([o_key] + [b[0] for b in blocks])
    all_cust = np.concatenate([o_cust] + [b[1] for b in blocks]).astype(np.int64)
    all_day = np.concatenate([o_day] + [b[2] for b in blocks])
    prices = o_price.tolist()
    for b in blocks:
        prices += [None] * dirt if b[3] is None else b[3].tolist()
    total_o = len(all_key)
    write(out, "orders", {
        "o_orderkey": all_key, "o_custkey": all_cust,
        "o_orderstatus": rng.choice(["F", "O", "P"], total_o),
        "o_totalprice": pa.array(prices, pa.float64()),
        "o_orderdate": pa.array(ORDER_START + all_day.astype("timedelta64[D]"),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, total_o)})

    nl = sz["lineitem"]
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, sz["supplier"], nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105_000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(
            ORDER_START + (1 + rng.integers(0, SHIP_DAYS, nl)).astype("timedelta64[D]"),
            pa.timestamp("us"))})

    ne = sz["events"]
    ts = EVENT_START + np.sort(rng.integers(0, EVENT_SPAN_US, ne)).astype("timedelta64[us]")
    write(out, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, sz["users"], ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": money(rng, 0.01, 500.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = sz["documents"]
    lens = rng.integers(10, 100, nd)
    texts = [" ".join(rng.choice(WORDS, n)) for n in lens]
    write(out, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    nv = sz["embeddings"]
    vecs = rng.normal(0.0, 0.12, (nv, 64)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})

    valid_cents = int(np.round(o_price * 100).astype(np.int64).sum())
    expect = {
        "quality": {
            "initial_rows": total_o, "dropped_missing": dirt,
            "dropped_invalid_date": dirt, "dropped_bad_amount": dirt,
            "dropped_orphan_client": dirt, "cust_initial_rows": total_c,
            "cust_dropped_invalid_id": cdirt, "cust_dropped_invalid_name": cdirt,
            "cust_dropped_duplicates": cdirt},
        "silver_rows": {"orders": no, "customer": nc},
        "gold_rows": {"fact_achats": no, "dim_clients": nc},
        "kpis": {"ca_total_cents": valid_cents, "nb_achats": no,
                 "nb_clients": int(np.unique(o_cust).size)},
    }
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f, indent=1, sort_keys=True)
    return expect


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
