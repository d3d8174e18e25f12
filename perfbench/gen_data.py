"""Generate the benchmark's input tables: the star schema, the events
stream, the document corpus and the embeddings that the query entries
read, one Parquet file per table, in the layout graft.Tables loads.

The tables follow the shapes of the engine's test tables (TESTDATA.md,
FIXTURES.md section 2): uniform keys, a 31-word document vocabulary with
5% planted near-duplicates ("<copied text> dup") plus a few exact copies,
unit-norm 64-d embeddings. Generation is a pure function of (sf, seed):
the same arguments write byte-identical files. run.py calls
generate() once per checkout.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "small", "red"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "spring", "nut",
             "valve", "clamp", "hinge", "lever", "pin", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def micros(day: dt.date) -> int:
    return int((dt.datetime(day.year, day.month, day.day)
                - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def days_ts(rng, n, lo: dt.date, hi: dt.date):
    span = (hi - lo).days
    d = rng.integers(0, span + 1, n).astype(np.int64)
    return pa.array(micros(lo) + d * 86_400_000_000, pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30)


def documents(rng, n):
    lengths = rng.integers(10, 90, n)
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k))
             for k in lengths]
    # planted near-duplicates: a copy of an earlier document plus a
    # marker token; a handful of copies are exact
    for i in rng.choice(np.arange(n // 10, n), n // 20, replace=False):
        src = int(rng.integers(0, i))
        texts[i] = texts[src] if rng.random() < 0.03 else texts[src] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    }


def generate(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string())})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist())})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(rng, n_supp, -999.99, 9999.99))})
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), n_part),
            rng.integers(0, len(PART_NOUN), n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0)})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": days_ts(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist())})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, n_line, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist()),
        "l_shipdate": days_ts(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    t0 = micros(dt.date(2024, 1, 1))
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + t0
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    write(out, "documents", documents(rng, n_docs))
    v = rng.standard_normal((n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32))})

