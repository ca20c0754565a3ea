#!/usr/bin/env python3
"""Seeded document corpus with embeddings, for the curate_docs workload.

Follows the tools/gen_scale_docs.py recipe: a 31-word vocabulary soup of
10-100 words per doc, ~4% planted near-duplicates (1-2 word mutations of
another doc), ~0.2% planted exact duplicates, five languages, 20 sources.

Writes <out>/documents.parquet and <out>/truth.json. The truth file lists
every group of docs with identical text (exact duplicates) and every planted
near-duplicate pair whose two texts survived later plants unchanged.

Also writes each doc's embedding and held-out queries (gen_embeddings.py),
for the vector index that curate_docs' traced run builds: a planted
duplicate's embedding is its source's plus a little noise.

Usage: gen_docs.py <out_dir> <n_docs> <n_queries> <seed>
"""
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_embeddings  # noqa: E402

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en"] * 41 + ["de"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["zh"] * 14


def generate(n, seed):
    """Texts, languages, planted near pairs (src, tgt) and exact groups."""
    rng = random.Random(seed)
    texts = []
    for _ in range(n):
        k = rng.randint(10, 100)
        texts.append(" ".join(rng.choice(VOCAB) for _ in range(k)))
    planted = []
    for _ in range(int(n * 0.04)):
        src, tgt = rng.randrange(n), rng.randrange(n)
        words = texts[src].split()
        for _ in range(rng.randint(1, 2)):
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        texts[tgt] = " ".join(words)
        planted.append((src, tgt, texts[src], texts[tgt]))
    for _ in range(int(n * 0.002)):
        texts[rng.randrange(n)] = texts[rng.randrange(n)]
    langs = [rng.choice(LANGS) for _ in range(n)]
    near = sorted({
        (s, t) for s, t, a, b in planted
        if s != t and a != b and texts[s] == a and texts[t] == b})
    groups = {}
    for i, t in enumerate(texts):
        groups.setdefault(t, []).append(i)
    exact = sorted(g for g in groups.values() if len(g) > 1)
    return texts, langs, near, exact


def embeddings(n, nq, seed, near, exact):
    """Clustered doc embeddings and held-out queries; duplicates stay close."""
    vecs, queries = gen_embeddings.generate(n, nq, seed)
    rng = np.random.default_rng(seed + 1)
    for group in exact:
        vecs[group[1:]] = vecs[group[0]]
    for src, tgt in near:
        v = vecs[src] + rng.normal(0.0, 0.01, gen_embeddings.DIM)
        vecs[tgt] = v / np.linalg.norm(v)
    return vecs, queries


def main():
    out, n, nq, seed = (sys.argv[1], int(sys.argv[2]), int(sys.argv[3]),
                        int(sys.argv[4]))
    texts, langs, near, exact = generate(n, seed)
    vecs, queries = embeddings(n, nq, seed, near, exact)
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"near_pairs": [sorted(p) for p in near],
                   "exact_groups": exact}, f)
    gen_embeddings.write_all(out, vecs, queries)


if __name__ == "__main__":
    main()
