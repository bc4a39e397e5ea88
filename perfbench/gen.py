"""Seeded benchmark inputs, in the parquet schemas graft.model.Tables reads.

customer (-> the engine's students view), documents and embeddings, plus
meta.json: the vocabulary, segments, embedding cluster centres and noise
the driver draws request arguments and new rows from. The same (seed,
scale factor) always writes the same rows.
"""
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
VOCAB = ["spark", "shuffle", "hash", "key", "agg", "row", "scan", "slow", "fast",
         "table", "value", "part", "merge", "batch", "a", "the", "line", "sort",
         "window", "data", "column", "join", "small", "big", "customer", "query",
         "order", "group", "filter", "stream", "vector"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DIM = 64
LABELS = 10
NOISE = 0.08


def sizes(sf):
    """150,000 customers and 50,000 documents and embeddings per unit."""
    return {"customers": round(150000 * sf), "documents": round(50000 * sf),
            "embeddings": round(50000 * sf)}


def write(table, path):
    path.mkdir(parents=True)
    pq.write_table(table, path / "part-00000.parquet")


def generate(out_dir, sf, seed):
    n = sizes(sf)
    rng = np.random.default_rng(seed)
    c = n["customers"]
    write(pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, c), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, c)]),
    }), out_dir / "customer.parquet")

    d = n["documents"]
    # skewed word choice: low vocabulary indexes are common, high ones rare
    texts = []
    for _ in range(d):
        u = rng.random(int(rng.integers(20, 80)))
        texts.append(" ".join(VOCAB[int(x * x * len(VOCAB))] for x in u))
    write(pa.table({
        "doc_id": pa.array(np.arange(d, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), d)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, d)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), out_dir / "documents.parquet")

    centres = rng.normal(size=(LABELS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    e = n["embeddings"]
    labels = rng.integers(0, LABELS, e)
    vecs = centres[labels] + NOISE * rng.normal(size=(e, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(pa.table({
        "vec_id": pa.array(np.arange(e, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.field("element", pa.float32(), nullable=False))),
        "label": pa.array(labels.astype(np.int32)),
    }), out_dir / "embeddings.parquet")
    (out_dir / "meta.json").write_text(json.dumps({
        "vocab": VOCAB, "segments": SEGMENTS, "noise": NOISE, "centres": centres.tolist()}))
    return n
