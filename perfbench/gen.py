"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as single-row-group
SNAPPY parquet files, with the schemas and value shapes of the engine's
test corpus (see FIXTURES.md at the repository root):

- 0-based surrogate keys with full referential integrity;
- prices and event values with two decimals, so decimal sums are exact;
- events ordered by a strictly increasing microsecond timestamp, so every
  (user_id, ts) pair is unique and window orderings are deterministic;
- documents of 10-79 words from a 30-word vocabulary, 20 sources, five
  languages, about 5 % planted near-duplicates (an earlier text plus
  " dup") and a few exact duplicates;
- unit-normalised 64-d float embeddings with labels 0-9.

The same arguments always give the same tables.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# Row counts at scale 1.0 (so 0.1 is the "sf0.1" shape).
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}


def sizes(scale, docs, vectors):
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    n["users"] = max(1, n["customer"] // 10)
    n["documents"] = docs
    n["embeddings"] = vectors
    return n


def _ts(days_from, days_to, rng, count, start=dt.datetime(1995, 1, 1)):
    days = rng.integers(days_from, days_to + 1, count)
    base = np.datetime64(start, "us")
    return base + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=max(1, table.num_rows))


def _money(rng, lo, hi, count):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, count) / 100.0, 2)


def tpch(out, rng, n):
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, c)]})
    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
    names = np.char.add(np.char.add(adj[rng.integers(0, 8, p)], " "), noun[rng.integers(0, 8, p)])
    _write(out, "part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)})
    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(0, 2403, rng, o),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, o)]})
    li = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, o, li, dtype=np.int64),
        "l_partkey": rng.integers(0, p, li, dtype=np.int64),
        "l_suppkey": rng.integers(0, s, li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _ts(1, 2499, rng, li)})


def events(out, rng, n):
    e = n["events"]
    span = 30 * 86400 * 1_000_000
    # sorted draws plus 0..e-1 are strictly increasing, so every ts is unique
    offs = np.sort(rng.integers(0, span - e, e)) + np.arange(e)
    ts = np.datetime64(dt.datetime(2024, 1, 1), "us") + offs.astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n["users"], e, dtype=np.int64),
        "event_type": np.array(["click", "purchase", "error", "signup", "view"])[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})


def documents(out, rng, n):
    d = n["documents"]
    vocab = np.array(VOCAB)
    texts = []
    for i in range(d):
        r = rng.random()
        if i > 20 and r < 0.05:  # near-duplicate of an earlier text
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 80)))]))
    _write(out, "documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = n["embeddings"]
    m = rng.standard_normal((v, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, v * 64 + 1, 64, dtype=np.int32)),
                                   pa.array(m.reshape(-1)))
    _write(out, "embeddings", {
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, v).astype(np.int32))})


def generate(out, seed, scale, docs, vectors):
    """Write every table under `out` (created if missing). Idempotent: a
    directory holding a `_DONE` marker from the same arguments is reused."""
    marker = os.path.join(out, "_DONE")
    key = f"{seed} {scale} {docs} {vectors}"
    if os.path.exists(marker) and open(marker).read() == key:
        return
    os.makedirs(out, exist_ok=True)
    n = sizes(scale, docs, vectors)
    root = np.random.SeedSequence(seed)
    r_tpch, r_events, r_docs = (np.random.default_rng(s) for s in root.spawn(3))
    tpch(out, r_tpch, n)
    events(out, r_events, n)
    documents(out, r_docs, n)
    with open(marker, "w") as f:
        f.write(key)
