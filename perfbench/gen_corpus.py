"""Writes the batch workloads' corpus: the ten parquet tables the graft
queries read (region nation customer supplier part orders lineitem events
documents embeddings), one file and one row group each, in the shapes
FIXTURES.md section B describes.

The documents are crawler traffic, not independent draws: besides fresh
pages, PLANTED_SHARES of them are exact redeliveries, repetition spam and
near-duplicates (a copy with its last word dropped or one word appended,
the edit the sf0.01 and sf0.1 test corpora of TESTDATA.md plant). Redeliveries and
near-duplicates copy one of the RECENT_WINDOW pages before them, so the
dedup gate's store (even ids) and its probe drop (ids 1 mod 10) both see
copies of each other and of themselves.

The table contents are fixed (content seed 42), so every query's expected
row count and hash can be recorded once. The benchmark seed only permutes
the row order inside each file: the program sees differently laid-out
inputs on each seed, while the order-insensitive output check stays exact.

Usage: python3 perfbench/gen_corpus.py <out_dir> <seed>

The benchmark uses SCALE, the repository's sf0.01 correctness corpus size,
for the relational tables, so a batch run fits the benchmark's time per
run, and DOC_SCALE (2500 documents, half the sf0.1 bench corpus) for the
documents the corpus flagships read: at 500 documents the gate's probe
drop holds about 50 of them, too few for every verdict to occur.
"""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SCALE = 0.01
DOC_SCALE = 0.05
PLANTED_SHARES = {"redelivery": 0.10, "spam": 0.10, "near_dup": 0.05}
RECENT_WINDOW = 20


def crawl(rng, n):
    """Document texts with planted redeliveries, spam and near-duplicates.
    Returns the texts and, per document, the index it copies (-1 if none)."""
    texts, copies = [], np.full(n, -1)
    kinds = list(PLANTED_SHARES)
    p = list(PLANTED_SHARES.values())
    p.append(1.0 - sum(p))
    for i, kind in enumerate(rng.choice(kinds + ["fresh"], n, p=p)):
        if i < RECENT_WINDOW:
            kind = "fresh"
        if kind in ("redelivery", "near_dup"):
            src = i - int(rng.integers(1, RECENT_WINDOW + 1))
            words = texts[src].split()
            if kind == "near_dup":
                words = words[:-1] if rng.random() < 0.5 else words + [str(rng.choice(WORDS))]
            texts.append(" ".join(words))
            copies[i] = src
        elif kind == "spam":
            phrase = list(rng.choice(WORDS, int(rng.integers(2, 5))))
            texts.append(" ".join(phrase * int(rng.integers(6, 20))))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    return texts, copies


def tables():
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust = int(150000 * SCALE)
    n_supp = int(10000 * SCALE)
    n_part = int(200000 * SCALE)
    n_ord = int(1500000 * SCALE)
    n_line = int(6000000 * SCALE)
    n_ev = int(1000000 * SCALE)
    n_doc = max(500, int(50000 * DOC_SCALE))
    n_emb = max(500, int(20000 * SCALE))
    n_users = max(10, n_cust // 10)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def day_ts(start, days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, days, n).astype("timedelta64[D]")

    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}
    adj = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD",
                              "LARGE"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": day_ts("1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": day_ts("1995-01-02", 2498, n_line)}
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    texts, copies = crawl(np.random.default_rng(CONTENT_SEED + 1), n_doc)
    lang = rng.choice(LANGS, n_doc, p=LANG_P)
    redelivered = (copies >= 0) & (np.array(texts) == np.array(texts)[np.maximum(copies, 0)])
    lang[redelivered] = lang[copies[redelivered]]
    source = np.array([f"src{i % 20}" for i in range(n_doc)])
    source[redelivered] = source[copies[redelivered]]
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": source,
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_emb, 64)) + 1.2 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}
    return t


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    order = np.random.default_rng(seed)
    for name, cols in tables().items():
        table = pa.table(cols)
        perm = order.permutation(table.num_rows)
        pq.write_table(table.take(pa.array(perm)),
                       os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 30)


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
