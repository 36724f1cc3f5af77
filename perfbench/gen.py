"""Seeded input generators owned by the benchmark.

Every generator is a pure function of its seed: the same seed writes
byte-identical files (pyarrow writes no timestamps into parquet footers,
JSONL is plain text), a different seed writes different content. The
program under test only ever sees the files written here.

  query_tables   the ten tables `SparkEntry.queries` read, shaped like the
                 sf0.001 test data (row counts, types, value ranges).
  arxiv_table    (id, title, abstract) in the shape of the reference's
                 arxiv table; one abstract in 20 is over 512 tokens.
  curation_day   documents with planted exact-copy families and near-dups,
                 split by a seeded hash of doc_id into JSONL deliveries
                 that carry planted malformed lines.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window"])
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.38, 0.15, 0.16, 0.16, 0.15]

# sf0.001 row counts of the driver test data
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_LINEITEM = 150, 10, 200, 1500, 6000
N_EVENTS, N_DOCS, N_VECS = 1000, 500, 500

# Tokens per arxiv abstract: the reference's script512 filter keeps the
# abstracts above LONG_TOKENS (`script512.py:23`).
LONG_TOKENS = 512
LONG_EVERY = 20
GAP_EVERY = 50

# Planted duplicates (documents table and curation_day): 1-in-20 docs copy
# one of TEMPLATES texts exactly, 1-in-20 append one word to a template
# (a near-dup); a curation delivery's bad lines are torn JSON records.
TEMPLATES = 32
BAD_LINES_PER_DELIVERY = 3


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _texts(rng, n, lo, hi):
    """n space-joined texts of lo..hi-1 pool words each."""
    lens = rng.integers(lo, hi, n)
    words = WORDS[rng.integers(0, len(WORDS), int(lens.sum()))]
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[at:at + k]))
        at += k
    return out


def _with_dups(rng, texts):
    """Plant the duplicate structure the dedup layers look for: one text
    in 20 becomes an exact copy of one of TEMPLATES texts, one in 20 that
    template plus one extra word (a near-dup)."""
    templates = _texts(rng, TEMPLATES, 40, 90)
    kind = rng.integers(0, 20, len(texts))
    tid = rng.integers(0, TEMPLATES, len(texts))
    tails = WORDS[rng.integers(0, len(WORDS), len(texts))]
    return [templates[t] if k == 7 else f"{templates[t]} {w}" if k == 8 else b
            for k, t, w, b in zip(kind, tid, tails, texts)]


def _ts_us(rng, n, start, end):
    return pa.array(rng.integers(start, end, n), pa.int64()).cast(pa.timestamp("us"))


def _days_us(rng, n, first_day, n_days):
    day_us = 86_400_000_000
    return pa.array((first_day + rng.integers(0, n_days, n)) * day_us,
                    pa.int64()).cast(pa.timestamp("us"))


def query_tables(out_dir, seed):
    """Write the ten `<name>.parquet` tables the query suite reads."""
    rng = np.random.default_rng(seed)
    d1995 = 9131  # days from epoch to 1995-01-01
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": segs[rng.integers(0, 5, N_CUSTOMER)]}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2)}),
        f"{out_dir}/supplier.parquet")
    adj = np.array(["blue", "new", "hot", "cold", "red", "large", "old", "small"])
    noun = np.array(["rod", "gear", "anvil", "ring", "bolt", "widget", "plate", "gizmo"])
    ptypes = np.array(["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"])
    _write(pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, N_PART)],
                                               noun[rng.integers(0, 8, N_PART)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": ptypes[rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(N_PART) * 0.1, 2)}),
        f"{out_dir}/part.parquet")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": _days_us(rng, N_ORDERS, d1995, 2404),
        "o_orderpriority": prio[rng.integers(0, 5, N_ORDERS)]}),
        f"{out_dir}/orders.parquet")
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _days_us(rng, N_LINEITEM, d1995 + 1, 2498)}),
        f"{out_dir}/lineitem.parquet")
    jan2024_us = 1_704_067_200_000_000
    _write(pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": _ts_us(rng, N_EVENTS, jan2024_us, jan2024_us + 30 * 86_400_000_000),
        "user_id": pa.array(rng.integers(0, 15, N_EVENTS), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.uniform(0.01, 330.0, N_EVENTS), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)]}),
        f"{out_dir}/events.parquet")
    texts = _with_dups(rng, _texts(rng, N_DOCS, 8, 100))
    _write(pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")
    emb = rng.normal(0.0, 0.12, (N_VECS, 64)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32())}),
        f"{out_dir}/embeddings.parquet")


def arxiv_table(out_dir, seed, n_rows, n_files):
    """Write the arxiv-shaped (id, title, abstract) table as n_files parquet
    parts (the input splits the embed job parallelises over). Returns the
    truth the benchmark checks: row count, how many abstracts exceed
    LONG_TOKENS tokens, and the ids planted as gaps in the processed set
    (one in GAP_EVERY)."""
    rng = np.random.default_rng(seed)
    ids = rng.permutation(n_rows * 4)[:n_rows].astype(np.int64) + 1_000_000
    long_mask = rng.integers(0, LONG_EVERY, n_rows) == 0
    abstracts = []
    for is_long in long_mask:
        lo, hi = (LONG_TOKENS + 8, LONG_TOKENS + 200) if is_long else (60, 240)
        abstracts.extend(_texts(rng, 1, lo, hi))
    titles = _texts(rng, n_rows, 4, 16)
    for f, rows in enumerate(np.array_split(np.arange(n_rows), n_files)):
        _write(pa.table({
            "id": pa.array(ids[rows], pa.int64()),
            "title": [titles[i] for i in rows],
            "abstract": [abstracts[i] for i in rows]}),
            f"{out_dir}/part-{f:05d}.parquet")
    gaps = ids[rng.integers(0, GAP_EVERY, n_rows) == 0]
    return {"n_rows": n_rows, "n_long": int(long_mask.sum()),
            "gap_ids": sorted(int(i) for i in gaps)}


def _split_bucket(doc_ids, seed, buckets):
    """Seeded 64-bit mix of doc_id (splitmix64 finaliser) mod buckets, so
    planted duplicates spread over every delivery."""
    with np.errstate(over="ignore"):
        z = doc_ids.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z % np.uint64(buckets)).astype(np.int64)


def curation_day(out_dir, seed, n_docs, deliveries):
    """Write `base.parquet` (delivery 0, the index corpus) and
    `deliveries/d<k>.jsonl` for k = 1..deliveries. Returns the planted
    truth the benchmark checks against: per delivery the doc count, the
    malformed line count and the doc_ids whose exact text is in the base
    corpus."""
    rng = np.random.default_rng(seed)
    doc_ids = rng.permutation(n_docs * 8)[:n_docs].astype(np.int64)
    texts = _with_dups(rng, _texts(rng, n_docs, 40, 90))
    langs = LANGS[rng.choice(5, n_docs, p=LANG_P)]
    sources = [f"src{s}" for s in rng.integers(0, 20, n_docs)]
    bucket = _split_bucket(doc_ids, seed, deliveries + 1)

    base = bucket == 0
    base_texts = {texts[i] for i in np.flatnonzero(base)}
    _write(pa.table({
        "doc_id": pa.array(doc_ids[base], pa.int64()),
        "text": [texts[i] for i in np.flatnonzero(base)],
        "lang": langs[base],
        "source": [sources[i] for i in np.flatnonzero(base)],
        "n_chars": pa.array([len(texts[i]) for i in np.flatnonzero(base)], pa.int64())}),
        f"{out_dir}/base.parquet")

    truth = {"n_docs": n_docs, "n_base": int(base.sum()), "deliveries": []}
    os.makedirs(f"{out_dir}/deliveries", exist_ok=True)
    for k in range(1, deliveries + 1):
        rows = np.flatnonzero(bucket == k)
        lines = [json.dumps({"doc_id": int(doc_ids[i]), "text": texts[i],
                             "lang": str(langs[i]), "source": sources[i],
                             "n_chars": len(texts[i])}) for i in rows]
        # torn records: a line cut mid-string, as a crashed writer leaves it
        for j in range(BAD_LINES_PER_DELIVERY):
            at = int(rng.integers(0, len(lines) + 1))
            torn = lines[at % len(lines)] if lines else '{"doc_id": 1, "text": "x"}'
            lines.insert(at, torn[:max(2, len(torn) // (2 + j))])
        with open(f"{out_dir}/deliveries/d{k:02d}.jsonl", "w") as f:
            f.write("\n".join(lines) + "\n")
        truth["deliveries"].append({
            "n_docs": len(rows), "n_bad": BAD_LINES_PER_DELIVERY,
            "exact_in_base": sorted(int(doc_ids[i]) for i in rows
                                    if texts[i] in base_texts)})
    return truth
