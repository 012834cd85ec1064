"""Seeded input generators for the benchmark.

Every table the benchmark feeds the program is made here from the
workload seed, so the same seed always yields byte-identical inputs.
The tables follow the warehouse layout the query packs read (one
`<name>.parquet` per table, TPC-H-like star schema plus `events`,
`documents` and `embeddings`), at a scale given in documents/orders.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400_000_000


def _ts(days, base):
    """Microsecond timestamps `days` after the ISO date `base`."""
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + (np.asarray(days) * DAY_US).astype(np.int64),
                    pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path)


def documents(rng, n, near_dup_every=25, exact_dup_every=97):
    """`n` synthetic documents over a 31-word vocabulary.

    Every `near_dup_every`-th document is a near-duplicate (its
    predecessor's text plus one appended word) and every
    `exact_dup_every`-th an exact copy of its predecessor, so exact and
    near-dup dedup both have work. Returns (table, stats) with the
    number of injected duplicates."""
    n_words = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = [" ".join(VOCAB[w] for w in words[bounds[i]:bounds[i + 1]])
             for i in range(n)]
    near = exact = 0
    for i in range(1, n):
        if i % exact_dup_every == 0:
            texts[i] = texts[i - 1]
            exact += 1
        elif i % near_dup_every == 0:
            texts[i] = texts[i - 1] + " " + VOCAB[int(words[i]) % len(VOCAB)]
            near += 1
    langs = rng.choice(LANGS, n, p=LANG_P)
    sources = np.char.add("src", rng.integers(0, 20, n).astype(str))
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array(sources.tolist(), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, {"docs": n, "near_dups": near, "exact_dups": exact}


def warehouse(seed, orders, out_dir):
    """The ten warehouse tables at `orders` orders (sf0.01 = 15000)."""
    rng = np.random.default_rng(seed)
    sf = orders / 1_500_000
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    os.makedirs(out_dir, exist_ok=True)
    w = lambda t, name: _write(t, os.path.join(out_dir, f"{name}.parquet"))

    w(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
      "region")
    w(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}), "nation")
    w(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
      "supplier")
    w(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()}), "customer")
    w(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)).tolist(),
        "p_type": rng.choice(PTYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)}),
      "part")

    odate = rng.integers(0, 2404, orders)  # 1995-01-01 .. 2001-08-01
    w(pa.table({
        "o_orderkey": pa.array(np.arange(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], orders).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500000, orders), 2),
        "o_orderdate": _ts(odate, "1995-01-01"),
        "o_orderpriority": rng.choice(PRIORITIES, orders).tolist()}), "orders")

    per = rng.integers(1, 8, orders)
    n_li = int(per.sum())
    okey = np.repeat(np.arange(orders), per)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    flags = rng.integers(0, 6, n_li)
    w(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N", "R", "N", "A"])[flags].tolist(),
        "l_linestatus": np.array(["F", "O", "F", "O", "O", "F"])[flags].tolist(),
        "l_shipdate": _ts(np.repeat(odate, per) + rng.integers(1, 95, n_li),
                          "1995-01-01")}), "lineitem")

    users = max(15, n_events // 66)
    secs = np.sort(rng.integers(0, 30 * 86400, n_events))
    w(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(secs / 86400.0 + rng.integers(0, 1_000_000, n_events)
                  / 86400e6, "2024-01-01"),
        "user_id": pa.array(rng.integers(0, users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}),
      "events")

    docs, _ = documents(rng, n_docs)
    w(docs, "documents")
    n_emb = n_docs
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    w(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}),
      "embeddings")


def stream_docs(seed, n_docs, n_seed, out_dir, per_file):
    """Streaming corpus: the first `n_seed` documents seed the dedup
    index (`seed/documents.parquet`); the rest are shuffled by the seed
    into the order the generator will drop them, `per_file` documents
    per file (`batches/batch-NNNNN.parquet`)."""
    rng = np.random.default_rng(seed)
    table, _ = documents(rng, n_docs)
    table = table.select(["doc_id", "text"])
    os.makedirs(os.path.join(out_dir, "seed"), exist_ok=True)
    _write(table.slice(0, n_seed),
           os.path.join(out_dir, "seed", "documents.parquet"))
    rest = table.slice(n_seed)
    rest = rest.take(pa.array(rng.permutation(rest.num_rows)))
    os.makedirs(os.path.join(out_dir, "batches"))
    for i in range(0, rest.num_rows, per_file):
        _write(rest.slice(i, per_file),
               os.path.join(out_dir, "batches", f"batch-{i // per_file:05d}.parquet"))
    return {"seed_docs": n_seed, "stream_docs": rest.num_rows}
