"""Seeded tables for the curation_analytics workload.

Writes, under one directory, the tables the twelve analytics queries read
(documents, embeddings, events, lineitem, orders, part, supplier, nation),
each as `<table>.parquet/part-NNNNN.parquet`. The same seed and size give
byte-identical files. `generate` returns the measured properties of what it
wrote: row and byte counts and the corpus duplicate shares.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the corpus vocabulary is deliberately small, so documents share many
# n-grams and the dedup / contamination queries have real work to do
VOCAB = ("spark batch part line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge data "
         "vector customer join the").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
COLORS = ["red", "blue", "green", "hot", "cold", "large", "small", "dark"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# sizes: documents dominate the text queries, lineitem the TPC-H-shaped ones
SIZES = {
    "documents": 5000, "embeddings": 2000, "events": 60000, "orders": 30000,
    "lineitem": 120000, "part": 4000, "supplier": 500, "nation": 25,
}
EXACT_DUP_SHARE = 0.04
NEAR_DUP_SHARE = 0.06
NEAR_DUP_EDIT_SHARE = 0.08


def _write(table, out_dir, name, parts):
    d = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    step = -(-n // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"),
                       compression="snappy")


def _documents(rng, n):
    texts = []
    kind = []  # 0 original, 1 exact duplicate, 2 near duplicate
    for i in range(n):
        u = rng.random()
        if i > 10 and u < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
            kind.append(1)
        elif i > 10 and u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split(" ")
            edits = rng.random(len(words)) < NEAR_DUP_EDIT_SHARE
            repl = rng.integers(0, len(VOCAB), len(words))
            texts.append(" ".join(VOCAB[r] if e else w for w, e, r in zip(words, edits, repl)))
            kind.append(2)
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
            kind.append(0)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    kind = np.array(kind)
    distinct = len(set(texts))
    stats = {
        "rows": n,
        "exact_duplicate_share": float(1 - distinct / n),
        "injected_exact_duplicate_share": float((kind == 1).mean()),
        "injected_near_duplicate_share": float((kind == 2).mean()),
        "near_duplicate_word_edit_share": NEAR_DUP_EDIT_SHARE,
        "mean_chars": float(np.mean([len(t) for t in texts])),
    }
    return table, stats


def _embeddings(rng, n, dims=64, labels=10):
    lab = rng.integers(0, labels, n).astype(np.int32)
    centers = rng.normal(0, 1, (labels, dims)) * 0.07
    x = rng.normal(0, 1, (n, dims)) / np.sqrt(dims) + centers[lab]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.array(list(x), pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                     "embedding": emb, "label": pa.array(lab)})


def _events(rng, n, users=1500):
    t0 = 1704067200 * 10**9  # 2024-01-01T00:00:00Z in ns
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**9, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype(np.int64)),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(rng.exponential(80.0, n), 2)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n)], pa.string()),
    })


def _tpch(rng, n_orders, n_lines, n_part, n_supp, n_nation):
    day = 86400 * 10**6
    base = 788918400 * 10**6  # 1995-01-01 in us
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 15000, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array([("O", "P", "F")[j] for j in rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 400000, n_orders), 2)),
        "o_orderdate": pa.array(base + rng.integers(0, 2400, n_orders) * day,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_orders)]),
    })
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_lines)]),
        "l_linestatus": pa.array([("O", "F")[j] for j in rng.integers(0, 2, n_lines)]),
        "l_shipdate": pa.array(base + rng.integers(0, 2500, n_lines) * day, pa.timestamp("us")),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{COLORS[a]} {NOUNS[b]}" for a, b in
                            zip(rng.integers(0, len(COLORS), n_part),
                                rng.integers(0, len(NOUNS), n_part))]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PTYPES[j] for j in rng.integers(0, len(PTYPES), n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{j:09d}" for j in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, n_nation, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(n_nation, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{j}" for j in range(n_nation)]),
        "n_regionkey": pa.array((np.arange(n_nation) % 5).astype(np.int32)),
    })
    return {"orders": orders, "lineitem": lineitem, "part": part, "supplier": supplier,
            "nation": nation}


def generate(seed, out_dir):
    """Write every table for `seed` into `out_dir` (replacing it); return the
    measured properties of the inputs."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rng = np.random.Generator(np.random.PCG64(seed))
    docs, doc_stats = _documents(rng, SIZES["documents"])
    tables = {"documents": docs,
              "embeddings": _embeddings(rng, SIZES["embeddings"]),
              "events": _events(rng, SIZES["events"])}
    tables.update(_tpch(rng, SIZES["orders"], SIZES["lineitem"], SIZES["part"],
                        SIZES["supplier"], SIZES["nation"]))
    props = {"documents": doc_stats}
    for name, t in tables.items():
        parts = 8 if t.num_rows >= 50000 or name == "documents" else 1
        _write(t, out_dir, name, parts)
        props.setdefault(name, {})["rows"] = t.num_rows
        props[name]["bytes"] = sum(os.path.getsize(os.path.join(out_dir, f"{name}.parquet", f))
                                   for f in os.listdir(os.path.join(out_dir, f"{name}.parquet")))
    return props


def digest(out_dir):
    """SHA-256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out_dir)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, out_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
