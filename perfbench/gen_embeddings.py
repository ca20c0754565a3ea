"""Seeded clustered embeddings with held-out queries.

gen_docs.py calls this to give each doc an embedding for the vector index
in curate_docs' traced run.

Draws n/10 random unit-norm centres in 64 dimensions; corpus vector i sits
at centre i mod (n/10) plus Gaussian noise, normalised, so each centre has
ten near-identical members spread evenly over the id range. The held-out
queries are drawn the same way around random centres; they are not in the
corpus and get ids from 1_000_000_000 up.

Writes <out>/embeddings.parquet and <out>/queries.parquet, each with
columns (vec_id BIGINT, embedding ARRAY<FLOAT>).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CLUSTER_SIZE = 10
NOISE = 0.05
QUERY_ID_BASE = 1_000_000_000


def draw(rng, centres, pick):
    v = centres[pick] + rng.normal(0.0, NOISE / np.sqrt(DIM), (len(pick), DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def write(path, ids, vecs):
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, vecs.size + 1, DIM, dtype=np.int32)), flat)
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": emb,
    }), path)


def generate(n, nq, seed):
    """(corpus vectors, query vectors) as float32 arrays."""
    rng = np.random.default_rng(seed)
    nc = max(n // CLUSTER_SIZE, 1)
    centres = rng.normal(0.0, 1.0, (nc, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    return (draw(rng, centres, np.arange(n) % nc),
            draw(rng, centres, rng.integers(0, nc, nq)))


def write_all(out, vecs, queries):
    os.makedirs(out, exist_ok=True)
    write(os.path.join(out, "embeddings.parquet"),
          np.arange(len(vecs), dtype=np.int64), vecs)
    write(os.path.join(out, "queries.parquet"),
          np.arange(QUERY_ID_BASE, QUERY_ID_BASE + len(queries), dtype=np.int64),
          queries)
