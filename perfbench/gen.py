"""Seeded input generator for the benchmark.

Writes the ten tables the program's loaders read (graft.core.Tables)
into one directory, in the shape of the synthetic TPC-H-style test
set the repository is developed against: same columns, types, value
domains and planted duplicates. The same seed gives the same bytes.

`write(..., tripled=True)` applies the 3x recipe of tools/make_scale3.py:
every fact row is present three times with its id columns offset by
100,000,000, and the dimension tables (nation, region) stay single.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute in triple)
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_ADJ = "red new hot small blue big old dark".split()
PART_NOUN = "bolt anvil ring rod plate widget gear gizmo".split()
OFF = 100_000_000
N_VEC = 500  # embedding rows of the base set
DAY_US = 86_400 * 1_000_000


def _ts(days_from_epoch, rng_us=None):
    us = days_from_epoch.astype(np.int64) * DAY_US
    if rng_us is not None:
        us = us + rng_us
    return pa.array(us, type=pa.timestamp("us"))


def _epoch_days(y, m, d):
    return int((np.datetime64(f"{y:04d}-{m:02d}-{d:02d}") -
                np.datetime64("1970-01-01")).astype(int))


def tables(sf, seed):
    r = np.random.default_rng(seed)
    n_c, n_s, n_p = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_o, n_e, n_d = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": segs[r.integers(0, 5, n_c)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_s), 2)})
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    adj, noun = np.array(PART_ADJ), np.array(PART_NOUN)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_p)], " "),
                              noun[r.integers(0, 8, n_p)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_p).astype(str)),
        "p_type": types[r.integers(0, 6, n_p)],
        "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 1)})
    d0, d1 = _epoch_days(1995, 1, 1), _epoch_days(2001, 8, 1)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_o)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": _ts(r.integers(d0, d1 + 1, n_o)),
        "o_orderpriority": prio[r.integers(0, 5, n_o)]})
    # 1..7 lines per order, (l_orderkey, l_linenumber) unique; rows in
    # random order, as a fact table arrives
    per = r.integers(1, 8, n_o)
    okey = np.repeat(np.arange(n_o), per)
    lnum = np.arange(len(okey)) - np.repeat(np.cumsum(per) - per, per) + 1
    perm = r.permutation(len(okey))
    n_l = len(okey)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey[perm], pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(lnum[perm], pa.int32()),
        "l_quantity": r.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_l), 2),
        "l_discount": r.integers(0, 11, n_l) / 100.0,
        "l_tax": r.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_l)],
        "l_shipdate": _ts(r.integers(d0 + 1, _epoch_days(2001, 11, 4) + 1, n_l))})
    e0 = _epoch_days(2024, 1, 1) * DAY_US
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(e0 + np.sort(r.integers(0, 30 * DAY_US, n_e)),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(1, n_c // 10), n_e), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            r.integers(0, 5, n_e)],
        "value": np.round(0.01 + r.exponential(49.6, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_e)]})
    # documents: random 10..100-token texts over a 30-word vocabulary;
    # 5% are near-duplicates (an earlier doc plus " dup") and 0.5% exact
    # copies of an earlier doc
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(words), k)])
             for k in r.integers(10, 101, n_d)]
    kind = r.random(n_d)
    for i in range(1, n_d):
        if kind[i] < 0.05:
            texts[i] = texts[r.integers(0, i)] + " dup"
        elif kind[i] < 0.055:
            texts[i] = texts[r.integers(0, i)]
    langs = np.array(["en", "zh", "es", "fr", "de"])
    lang = langs[np.searchsorted([0.41, 0.5575, 0.705, 0.8525, 1.01], r.random(n_d))]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    v = r.standard_normal((N_VEC, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_VEC), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, N_VEC), pa.int32())})
    return t


ID_COLS = {"documents": ["doc_id"], "embeddings": ["vec_id"],
           "events": ["event_id"], "orders": ["o_orderkey"],
           "lineitem": ["l_orderkey"], "customer": ["c_custkey"],
           "part": ["p_partkey"], "supplier": ["s_suppkey"]}


def triple(t):
    """the tools/make_scale3.py recipe: facts x3 with offset ids"""
    out = {}
    for name, tab in t.items():
        keys = ID_COLS.get(name, [])
        if not keys:
            out[name] = tab
            continue
        copies = [tab]
        for i in (1, 2):
            c = tab
            for k in keys:
                j = c.schema.get_field_index(k)
                c = c.set_column(j, c.schema.field(k),
                                 pa.compute.add(c.column(k), i * OFF))
            copies.append(c)
        out[name] = pa.concat_tables(copies)
    return out


def write(out_dir, sf, seed, tripled=False):
    os.makedirs(out_dir, exist_ok=True)
    t = tables(sf, seed)
    if tripled:
        t = triple(t)
    for name, tab in t.items():
        pq.write_table(tab, f"{out_dir}/{name}.parquet")
    return {k: v.num_rows for k, v in t.items()}

