"""Seeded input generator for the benchmark workloads.

Writes parquet tables in the engine's test-data schema (the tables
`graft.Tables` reads): `events`, `orders`, `customer`, `nation`, `region`,
`documents` and `embeddings`. The same spec and seed always give the
same tables. `generate` returns the measured input
properties so every run records what it was fed.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _zipf_keys(rng, n, n_keys, s):
    """n draws from a finite Zipf(s) over n_keys ids; the rank -> id map is
    a seeded permutation, so the hot key's id changes with the seed."""
    p = np.arange(1, n_keys + 1, dtype=np.float64) ** -s
    p /= p.sum()
    ids = rng.permutation(n_keys).astype(np.int64) + 1
    return ids[rng.choice(n_keys, size=n, p=p)]


def events(rng, out, n, n_users, zipf_s, days=30):
    # ts strictly increasing in event_id: the streaming replays feed in
    # event_id order and rely on a monotone watermark
    gap = max(2, int(days * DAY_US / n))
    ts = EPOCH_2024_US + np.cumsum(rng.integers(1, 2 * gap, size=n))
    user = _zipf_keys(rng, n, n_users, zipf_s)
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.gamma(2.0, 40.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    }))
    counts = np.bincount(user)
    return {"events.rows": n, "events.distinct_users": int((counts > 0).sum()),
            "events.users_drawn_from": n_users, "events.zipf_s": zipf_s,
            "events.hottest_user_share": round(float(counts.max()) / n, 4)}


def dimensions(rng, out, n_orders, n_customers):
    n_nat, n_reg = 25, 5
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(np.arange(n_reg, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(n_nat, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(n_nat)]),
        "n_regionkey": pa.array(np.arange(n_nat, dtype=np.int32) % n_reg)}))
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_customers, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_customers)]),
        "c_nationkey": pa.array(rng.integers(0, n_nat, size=n_customers).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_customers), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, size=n_customers)])}))
    start = np.datetime64("1995-01-01", "us").astype(np.int64)
    span_days = 2404
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_customers, size=n_orders)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, size=n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, size=n_orders), 2)),
        "o_orderdate": pa.array(start + rng.integers(0, span_days, size=n_orders) * DAY_US,
                                type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, size=n_orders)])}))
    return {"orders.rows": n_orders, "customer.rows": n_customers}


def _near_variant(rng, words):
    """One word-level edit: a Jaccard near-duplicate whose character edit
    distance is small (the words are 1-8 letters)."""
    w = list(words)
    i = int(rng.integers(0, len(w)))
    op = int(rng.integers(0, 3))
    if op == 0 and len(w) > 10:
        del w[i]
    elif op == 1:
        w.insert(i, VOCAB[int(rng.integers(0, len(VOCAB)))])
    else:
        w[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return w


def documents(rng, out, n, exact_share, near_share):
    """Documents with planted exact-duplicate and near-duplicate families:
    about `exact_share` of the rows copy an earlier document verbatim and
    `near_share` are one-word edits of one."""
    texts = []
    n_exact = n_near = 0
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < exact_share:
            texts.append(texts[int(rng.integers(0, i))])
            n_exact += 1
        elif i >= 10 and r < exact_share + near_share:
            texts.append(" ".join(_near_variant(rng, texts[int(rng.integers(0, i))].split(" "))))
            n_near += 1
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[t] for t in rng.integers(0, len(VOCAB), size=k)))
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, size=n, p=LANG_P)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, size=n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}))
    return {"documents.rows": n, "documents.exact_dup_share": round(n_exact / n, 4),
            "documents.near_dup_share": round(n_near / n, 4),
            "documents.distinct_texts": len(set(texts))}


def embeddings(rng, out, n, dim, near_share):
    """Gaussian vectors around 10 labelled cluster centres, with about
    `near_share` of the rows planted as small perturbations of an earlier
    vector (cosine near 1)."""
    label = rng.integers(0, 10, size=n).astype(np.int32)
    centers = rng.normal(0.0, 0.05, size=(10, dim))
    vec = centers[label] + rng.normal(0.0, 0.15, size=(n, dim))
    planted = 0
    for i in range(1, n):
        if rng.random() < near_share:
            j = int(rng.integers(0, i))
            vec[i] = vec[j] + rng.normal(0.0, 0.01, size=dim)
            label[i] = label[j]
            planted += 1
    vec = vec.astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label)}))
    return {"embeddings.rows": n, "embeddings.dim": dim,
            "embeddings.near_dup_share": round(planted / n, 4)}


def generate(spec, seed, out):
    """Generate every table `spec` names into `out`; returns the input
    properties. Each table has its own stream of the seed, so resizing
    one table leaves the others unchanged."""
    os.makedirs(out, exist_ok=True)
    props = {"seed": seed}

    def rng(k):
        return np.random.default_rng([seed, k])

    if "events" in spec:
        e = spec["events"]
        props.update(events(rng(1), out, e["rows"], e["users"], e["zipf_s"]))
    if "orders" in spec:
        d = spec["orders"]
        props.update(dimensions(rng(2), out, d["rows"], d["customers"]))
    if "documents" in spec:
        d = spec["documents"]
        props.update(documents(rng(3), out, d["rows"], d["exact_share"], d["near_share"]))
    if "embeddings" in spec:
        d = spec["embeddings"]
        props.update(embeddings(rng(4), out, d["rows"], d["dim"], d["near_share"]))
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    return props
