"""Seeded input generator for the benchmark.

Every table is a pure function of (seed, size); the program never sees
the seed, only the files. Two layouts:

* ``tables``: the ten sf-style tables the registered operator suite reads
  (``region nation customer supplier part orders lineitem events documents
  embeddings``), with the column names and types of the project's test
  data, at roughly its sf0.001 size.
* ``corpus``: ``documents.parquet`` for the vector workload, with extra
  metadata columns (``rating``, ``year``) for Mango selectors.

Texts draw from a fixed vocabulary with a Zipf-skewed token distribution,
so a few tokens are very common and most are rare, as in real text.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the a of and data spark query join filter group sort merge hash scan "
    "table row column index vector search batch stream window key value "
    "part line order customer agg shard token text model embed graph node "
    "edge walk beam probe cluster bucket pivot range near dup clean quota "
    "pack manifest fast slow small large city river north south east west "
    "music film book paper history science river lake mountain coast"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.5, 0.15, 0.15, 0.1, 0.1]
SOURCES = [f"src{i}" for i in range(20)]


def _zipf_p(n, s=1.1):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _texts(rng, n, min_len, max_len, unique):
    p = _zipf_p(len(VOCAB))
    lens = rng.integers(min_len, max_len + 1, size=n)
    out = []
    for i, ln in enumerate(lens):
        words = rng.choice(len(VOCAB), size=int(ln), p=p)
        toks = [VOCAB[w] for w in words]
        if unique:
            # one id-specific token keeps every text, and so every
            # embedding, distinct: ties at distance 0 cannot occur
            toks.insert(int(rng.integers(0, len(toks) + 1)), f"doc{i}")
        out.append(" ".join(toks))
    return out


def _documents(rng, n, unique, dup_share=0.0):
    texts = _texts(rng, n, 8, 90, unique)
    if dup_share > 0:
        # exact and near duplicates, some of them of held-out benchmark
        # docs (doc_id < 100), so the dedup and decontamination stages
        # have work to do
        for i in range(n):
            if rng.random() < dup_share:
                src = int(rng.integers(0, i)) if i > 0 else 0
                t = texts[src].split()
                if rng.random() < 0.5 and len(t) > 4:
                    t[int(rng.integers(0, len(t)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                texts[i] = " ".join(t)
    lang = rng.choice(LANGS, size=n, p=LANG_P)
    source = rng.choice(SOURCES, size=n, p=_zipf_p(len(SOURCES), 0.8))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang.tolist()),
        "source": pa.array(source.tolist()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _ts(days_from, base="1995-01-01"):
    return pa.array(np.datetime64(base, "us") + days_from.astype("timedelta64[D]").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")


def corpus(out_dir, seed, n):
    rng = np.random.default_rng(seed)
    cols = _documents(rng, n, unique=True)
    cols["rating"] = pa.array(rng.integers(1, 6, size=n).astype(np.int32))
    cols["year"] = pa.array(rng.integers(2000, 2025, size=n).astype(np.int32))
    _write(out_dir, "documents", cols)


def tables(out_dir, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_ev, n_doc = 150, 10, 200, 1500, 1000, 500
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(rng.integers(0, 5, 25).astype(np.int32))})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"], n_cust).tolist())})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(500, 6100, n_supp), 2))})
    adj = ["blue", "new", "cold", "hot", "red", "large", "small", "green"]
    noun = ["rod", "gear", "anvil", "ring", "bolt", "nut", "pipe", "valve"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"], n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 200) / 10.0, 2))})
    odays = rng.integers(0, 2404, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _ts(odays),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist())})
    nlines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), nlines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in nlines]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["N", "R", "A"], n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li).tolist()),
        "l_shipdate": _ts(np.repeat(odays, nlines) + rng.integers(1, 122, n_li))})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(
            ["click", "purchase", "error", "signup", "view"], n_ev, p=[.4, .1, .1, .1, .3]).tolist()),
        "value": pa.array(np.round(rng.exponential(40, n_ev), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(out_dir, "documents", _documents(rng, n_doc, unique=False, dup_share=0.15))
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
