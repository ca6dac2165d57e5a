"""Seeded input tables for the benchmark workloads.

The linkage workload reads only `customer`; graft derives every person,
household, name and noise class from `c_custkey` (graft.queries.People).
Every 200-key block opens with a 20-person group-quarters household and
holds whole households, so the seed picks distinct 200-key blocks: each
offset re-draws names and noise classes and keeps the household and
group-quarters structure. Mixing several blocks per sample averages out
what one key range costs.

The curation workload reads `documents` and `embeddings`, drawn with the
shape of the TPC-H-style test tables graft is developed against: texts of
10-99 words over a 30-word vocabulary, some tagged `dup`, and unit-norm
64-d embeddings with a weak per-label direction.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
BLOCK = 200
# Keys stay below 1,000,000, where graft mints refiled-record ids.
KEY_BLOCKS = 1_000_000 // BLOCK


def customer(seed, people):
    """`people` (a multiple of 200) customers in distinct seeded blocks."""
    rng = np.random.default_rng(seed)
    blocks = np.sort(rng.choice(KEY_BLOCKS, people // BLOCK, replace=False))
    keys = (BLOCK * blocks[:, None] + np.arange(BLOCK)).ravel().astype(np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, people).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, people), 2),
        "c_mktsegment": rng.choice(SEGMENTS, people),
    })


def documents(seed, n):
    rng = np.random.default_rng(seed)
    texts = []
    for _ in range(n):
        words = list(rng.choice(VOCAB, rng.integers(10, 100)))
        if rng.random() < 0.05:
            words += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed, n, dim=64, labels=10):
    rng = np.random.default_rng(seed + 1)
    centers = rng.standard_normal((labels, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, labels, n).astype(np.int32)
    v = rng.standard_normal((n, dim)) + 1.1 * centers[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label,
    })


def write(prefix, tables):
    """Writes each table as `<name>.parquet` into `<prefix>-<digest>`, the
    digest naming the tables' content; returns that directory."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue())
    out_dir = f"{prefix}-{h.hexdigest()[:16]}"
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(path):
            tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
            pq.write_table(table, tmp)
            os.replace(tmp, path)
    return out_dir
