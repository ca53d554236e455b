"""Seeded input generators for the benchmark workloads.

Every table is written as one parquet file per table with the engine's
fixture schema (FIXTURES.md section 2), so the engine reads generated inputs
exactly as it reads the shipped test data. The same (workload, seed) always
yields byte-identical tables.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_DAY_1995 = np.datetime64("1995-01-01", "us")
EPOCH_EVENTS = np.datetime64("2024-01-01", "us")
US_PER_DAY = 86_400_000_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "green", "hot", "small", "large", "steel", "bright"]
PART_NOUN = ["anvil", "widget", "bolt", "gear", "ring", "nut", "spring", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
STOPWORDS = ["the", "a", "and", "of", "to", "in"]

# Workload sizes. The relational tables are sf0.002-like (lineitem ~12k rows)
# for sql_cli and sf0.001-like for curate_batch, which only needs them for
# the catalog ANALYZE every session runs at start-up.
SIZES = {
    "sql_cli": dict(sf=0.002, docs=100, dup_share=0.1, vectors=100, events=2000),
    "curate_batch": dict(sf=0.001, docs=400, dup_share=0.15, vectors=300, events=2000),
}
VOCAB = 2000
DIM = 64
CLUSTERS = 8
OUT_OF_ORDER_SHARE = 0.1
USER_ZIPF_A = 1.3
USERS = 200


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def relational(rng, dir_, sf):
    n_cust, n_supp, n_part, n_ord = (max(10, int(k * sf)) for k in (150_000, 10_000, 200_000, 1_500_000))
    _write(dir_, "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(dir_, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(dir_, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()})
    _write(dir_, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(dir_, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})
    odate = EPOCH_DAY_1995 + rng.integers(0, 2400, n_ord) * US_PER_DAY
    _write(dir_, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    linenum = np.concatenate([np.arange(1, k + 1) for k in lines])
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(dir_, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 121, n_li) * US_PER_DAY,
                               pa.timestamp("us"))})
    return {"lineitem_rows": int(n_li), "orders_rows": int(n_ord), "customer_rows": int(n_cust)}


def _vocabulary(rng):
    """Stopwords first (they carry the highest Zipf ranks, so the quality
    gate's stopword-ratio test sees realistic text), then distinct
    syllable words of 1 to 4 syllables."""
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < VOCAB:
        n = int(rng.integers(1, 5))
        w = "".join(cons[rng.integers(0, len(cons))] + vows[rng.integers(0, len(vows))]
                    for _ in range(n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def documents(rng, dir_, n, dup_share):
    """Zipf-vocabulary documents plus injected near-duplicates: each
    duplicate copies an original's tokens, language and source and replaces
    about 3% of its tokens (at least one)."""
    vocab = _vocabulary(rng)
    ranks = np.arange(1, VOCAB + 1)
    p = 1.0 / (ranks + 2.7) ** 1.1
    p /= p.sum()
    n_dup = int(round(n * dup_share))
    n_orig = n - n_dup
    texts, langs, sources = [], [], []
    for _ in range(n_orig):
        texts.append(list(vocab[rng.choice(VOCAB, int(rng.integers(15, 101)), p=p)]))
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
        sources.append(f"src{int(rng.integers(0, 20))}")
    pairs = []
    for _ in range(n_dup):
        o = int(rng.integers(0, n_orig))
        toks = list(texts[o])
        for i in rng.choice(len(toks), max(1, round(0.03 * len(toks))), replace=False):
            toks[i] = vocab[rng.choice(VOCAB, p=p)]
        pairs.append((o, len(texts)))
        texts.append(toks)
        langs.append(langs[o])
        sources.append(sources[o])
    # shuffle ids so duplicates are not a contiguous id range
    perm = rng.permutation(n)
    doc_id = np.empty(n, np.int64)
    doc_id[perm] = np.arange(n)
    body = [" ".join(t) for t in texts]
    order = np.argsort(doc_id)
    _write(dir_, "documents", {
        "doc_id": pa.array(doc_id[order], pa.int64()),
        "text": [body[i] for i in order],
        "lang": [langs[i] for i in order],
        "source": [sources[i] for i in order],
        "n_chars": pa.array([len(body[i]) for i in order], pa.int64())})
    injected = sorted(tuple(sorted((int(doc_id[a]), int(doc_id[b])))) for a, b in pairs)
    return {"docs": n, "vocab_size": VOCAB, "near_dup_share": dup_share,
            "injected_pairs": injected}


def embeddings(rng, dir_, n):
    centers = rng.normal(0.0, 1.0, (CLUSTERS, DIM))
    label = rng.integers(0, CLUSTERS, n)
    vecs = (centers[label] + rng.normal(0.0, 1.0, (n, DIM))).astype(np.float32)
    _write(dir_, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return {"vectors": n, "dim": DIM, "clusters": CLUSTERS}


def events(rng, dir_, n):
    """Events in id order over 30 days; a stated share arrives out of order
    (ts pulled back by up to 10 minutes) and user keys are Zipf-skewed."""
    gaps = rng.exponential(30 * US_PER_DAY / n, n).astype(np.int64)
    ts = np.cumsum(gaps)
    late = rng.random(n) < OUT_OF_ORDER_SHARE
    ts = ts - late * rng.integers(1_000_000, 600_000_000, n)
    ts = np.maximum(ts, 0)
    users = np.minimum(rng.zipf(USER_ZIPF_A, n), USERS) - 1
    _write(dir_, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(EPOCH_EVENTS + ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.round(rng.exponential(20.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    top = np.bincount(users).max() / n
    return {"events": n, "out_of_order_share": float(late.mean()),
            "top_user_share": float(top)}


def generate(workload, seed, dir_):
    """Write every table for (workload, seed) into dir_ and return the
    generated properties (also written to dir_/inputs.json)."""
    size = SIZES[workload]
    os.makedirs(dir_, exist_ok=True)
    root = np.random.SeedSequence([seed, sorted(SIZES).index(workload)])
    r_rel, r_doc, r_vec, r_evt = (np.random.default_rng(s) for s in root.spawn(4))
    props = {"workload": workload, "seed": seed, "sf": size["sf"]}
    props.update(relational(r_rel, dir_, size["sf"]))
    props.update(documents(r_doc, dir_, size["docs"], size["dup_share"]))
    props.update(embeddings(r_vec, dir_, size["vectors"]))
    props.update(events(r_evt, dir_, size["events"]))
    with open(os.path.join(dir_, "inputs.json"), "w") as f:
        json.dump(props, f)
    return props
