"""Seeded generator for the parquet tables the engine's queries read
(TESTDATA.md): a TPC-H-like star schema (region, nation, customer,
supplier, part, orders, lineitem), an `events` stream table, a
`documents` text table and an `embeddings` vector table, with the same
column names and types as the shipped sf0.1 tables and the same row
counts at scale 0.1.

Row counts do not depend on the seed; the seed only chooses the values,
so every seed yields inputs of the same size. The same seed gives the
same table contents.

Usage: python3 gen_tables.py <out_dir> <seed> [scale]
"""
import json
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# documents: the shipped sf0.1 table's 31-word vocabulary. 30 words are
# equally frequent; "dup" occurs 255 times against about 9100 for each
# of the others.
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window dup").split()
WORD_P = np.array([1.0] * 30 + [255 / 9100])
WORD_P /= WORD_P.sum()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.412, 0.151, 0.140, 0.148, 0.149]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "small", "green", "red", "cold", "dark"]
PART_NOUN = ["ring", "bolt", "nut", "screw", "gear", "pipe", "valve"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(base, micros):
    return pa.array(np.datetime64(base, "us") + micros.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _days(rng, n, lo="1992-01-01", span_days=3650):
    return _ts(lo, rng.integers(0, span_days, n) * 86_400_000_000)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.choice(len(WORDS), n_words, p=WORD_P))


I32, I64 = pa.int32(), pa.int64()


def _region(rng, scale):
    return pa.table({
        "r_regionkey": pa.array(range(5), I32), "r_name": REGIONS})


def _nation(rng, scale):
    return pa.table({
        "n_nationkey": pa.array(range(25), I32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], I32)})


def _customer(rng, scale):
    n = int(150_000 * scale)
    return pa.table({
        "c_custkey": pa.array(np.arange(n), I64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), I32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})


def _supplier(rng, scale):
    n = int(10_000 * scale)
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), I64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), I32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})


def _part(rng, scale):
    n = int(200_000 * scale)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n)]
    return pa.table({
        "p_partkey": pa.array(np.arange(n), I64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n)],
        "p_size": pa.array(rng.integers(1, 51, n), I32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)})


def _orders(rng, scale):
    n = int(1_500_000 * scale)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), I64),
        "o_custkey": pa.array(rng.integers(0, int(150_000 * scale), n), I64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 900.0, 450_000.0),
        "o_orderdate": _days(rng, n),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})


def _lineitem(rng, scale):
    n_orders = int(1_500_000 * scale)
    # lines per order: a fixed multiset (1..7, mean 4) that the seed only
    # permutes, so the row count is the same for every seed
    per = np.resize(np.arange(1, 8), n_orders)
    rng.shuffle(per)
    okey = np.repeat(np.arange(n_orders), per)
    starts = np.cumsum(per) - per
    lnum = np.arange(len(okey)) - np.repeat(starts, per) + 1
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(float)
    return pa.table({
        "l_orderkey": pa.array(okey, I64),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * scale), n), I64),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * scale), n), I64),
        "l_linenumber": pa.array(lnum, I32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n)})


def _events(rng, scale):
    n = int(1_000_000 * scale)
    month_us = 30 * 86_400_000_000
    return pa.table({
        "event_id": pa.array(np.arange(n), I64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, month_us, n))),
        "user_id": pa.array(rng.integers(0, int(15_000 * scale), n), I64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(rng, scale):
    # fitted to the shipped sf0.1 table: 10 to 100 words a document,
    # uniform; 8 of 5000 rows repeat another row's text exactly, and no
    # two other rows are near-duplicates
    n = int(50_000 * scale)
    texts = [_text(rng, int(k)) for k in rng.integers(10, 101, n)]
    n_dup = round(n * 8 / 5000)
    picks = rng.choice(n, 2 * n_dup, replace=False)
    for dst, src in zip(picks[:n_dup], picks[n_dup:]):
        texts[dst] = texts[src]
    return pa.table({
        "doc_id": pa.array(np.arange(n), I64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], I64)})


def _embeddings(rng, scale):
    # fitted to the shipped sf0.1 table: isotropic Gaussian directions
    # normalized to unit length, with labels 0..9 drawn independently of
    # them (its per-label centroids have norm 0.07, what 200 random unit
    # vectors give: there is no cluster structure)
    n = int(20_000 * scale)
    labels = rng.integers(0, 10, n)
    vecs = rng.normal(0.0, 1.0, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), I64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, I32)})


BUILDERS = {"region": _region, "nation": _nation, "customer": _customer,
            "supplier": _supplier, "part": _part, "orders": _orders,
            "lineitem": _lineitem, "events": _events,
            "documents": _documents, "embeddings": _embeddings}


def tables(seed, scale=0.1, names=None):
    """The named tables (all by default). Each table draws from its own
    stream of the seed, so it does not depend on which others are made."""
    return {name: BUILDERS[name](np.random.default_rng([seed, i]), scale)
            for i, name in enumerate(BUILDERS)
            if names is None or name in names}


def generate(out_dir, seed, scale=0.1, names=None):
    """Writes one parquet file per table; returns row counts by table."""
    import os
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(seed, scale, names).items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
        rows[name] = t.num_rows
    return rows


if __name__ == "__main__":
    scale = float(sys.argv[3]) if len(sys.argv) > 3 else 0.1
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), scale)))
