"""Seeded input generator for the batch and corpus workloads.

Every table is a pure function of (seed, sizes): the same seed writes the
same rows. The schema and value ranges follow graft's star schema
(region, nation, customer, supplier, part, orders, lineitem, events,
documents), so every registry entry the benchmark runs has rows to chew
on and the DuckDB oracle reads the very same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "big", "green", "blue", "tiny", "steel", "round"]
PART_NOUN = ["ring", "widget", "gear", "bolt", "plate", "valve", "pipe", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def star_schema(out, seed, customers, orders, events):
    """The relational and event tables at a size given by row counts."""
    rng = np.random.default_rng([seed, 1])
    suppliers = max(10, customers // 15)
    parts = max(20, customers * 4 // 3)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, customers),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, customers)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, suppliers)})
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(parts, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   rng.integers(0, 8, (parts, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, parts)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, parts)],
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(parts) % 1000) / 10, 1)})
    odate = EPOCH_1995 + rng.integers(0, 2404, orders) * DAY_US
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, customers, orders),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, orders)],
        "o_totalprice": _money(rng, 1000, 500000, orders),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, orders)]})
    per = np.minimum(1 + rng.poisson(3.0, orders), 17)
    okey = np.repeat(np.arange(orders, dtype=np.int64), per)
    n = len(okey)
    first = np.cumsum(per) - per
    lnum = np.arange(n) - np.repeat(first, per) + 1
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, parts, n),
        "l_suppkey": rng.integers(0, suppliers, n),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _ts(np.repeat(odate, per)
                          + rng.integers(1, 122, n) * DAY_US)})
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, events))
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(events, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(1, customers // 10), events),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, events)],
        "value": _money(rng, 0, 560, events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)]})


def _docs_table(ids, texts, rng):
    return {
        "doc_id": np.asarray(ids, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, len(ids), p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, len(ids))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def _fresh_texts(rng, n):
    return [_text(rng, int(k)) for k in rng.integers(10, 101, n)]


def _planted_texts(rng, n):
    """`n` random-vocabulary docs, 5% of them an earlier doc with a
    trailing marker token (the near-duplicate plant the dedup entries
    look for)."""
    texts = _fresh_texts(rng, n)
    for i in range(1, n):
        if rng.random() < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def documents(path, seed, n):
    """The star schema's `documents` table: `n` planted docs."""
    rng = np.random.default_rng([seed, 2])
    _write(path, _docs_table(range(n), _planted_texts(rng, n), rng))


def _grown_segment(rng, earlier, first_id, n, dup_share):
    """One growth segment: fresh docs, plus a `dup_share` of docs derived
    from `earlier` texts — exact copies, near copies (a few words
    replaced), containment (an earlier doc's run quoted inside new text)
    and paraphrases (words shuffled locally)."""
    texts = _fresh_texts(rng, n)
    for i in range(n):
        if rng.random() >= dup_share:
            continue
        src = earlier[int(rng.integers(0, len(earlier)))].split(" ")
        kind = int(rng.integers(0, 4))
        if kind == 1:
            for j in rng.integers(0, len(src), max(1, len(src) // 20)):
                src[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        elif kind == 2:
            lo = int(rng.integers(0, max(1, len(src) - 12)))
            src = (texts[i].split(" ")[:20] + src[lo:lo + 40]
                   + texts[i].split(" ")[20:30])
        elif kind == 3:
            for j in range(0, len(src) - 1, 7):
                src[j], src[j + 1] = src[j + 1], src[j]
        texts[i] = " ".join(src)
    return _docs_table(range(first_id, first_id + n), texts, rng), texts


def corpus(out, seed, base, segments, seg_docs, dup_share):
    """Base corpus as `documents.parquet/part-00000.parquet` plus
    `segments` growth part files staged under `out/landing/`, each to be
    moved into the documents dir one round at a time."""
    rng = np.random.default_rng([seed, 3])
    texts = _planted_texts(rng, base)
    _write(f"{out}/documents.parquet/part-00000.parquet",
           _docs_table(range(base), texts, rng))
    earlier = texts
    for s in range(1, segments + 1):
        cols, seg = _grown_segment(rng, earlier, base + (s - 1) * seg_docs,
                                  seg_docs, dup_share)
        _write(f"{out}/landing/part-{s:05d}.parquet", cols)
        earlier = earlier + seg
