#!/usr/bin/env python3
"""Scale-measurement fixture: a documents table ~10x sf0.1 (default 50k
docs), mirroring the TESTDATA recipe observed in
/root/testdata/sf0.1/documents.parquet:

  - 31-word vocabulary, space-joined word soup, 10-100 words per doc
  - ~4% of docs are planted near-dups of another doc (1-2 word mutations,
    jaccard ~0.95+), ~0.2% exact dups
  - lang en ~41%, de/es/fr/zh ~15% each; 20 sources round-robin
  - schema (doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR,
    n_chars BIGINT), seed 42 => deterministic output

Measurement apparatus only (like local_verify.py) - generates the sf1
corpus for the dedup-tier scaling runs recorded in SURVEY §6. Never
part of the library; writes ONLY under /tmp.

Usage: gen_scale_docs.py [out.parquet] [n_docs]
"""
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en"] * 41 + ["de"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["zh"] * 14


def big_vocab(size: int) -> list:
    """Deterministic pseudo-English vocabulary with realistic word lengths
    (5-12 chars, mean ~7.5 like English prose) — for measurements where the
    shuffle-byte cost of STRING keys matters (SURVEY §6); the 31-word soup
    above would make every bigram ~9 bytes and understate real key widths."""
    rng = random.Random(7)
    syl = ["ba", "con", "de", "fi", "gra", "jo", "ku", "lem", "mo", "nar",
           "po", "qui", "ru", "sta", "ter", "ul", "ver", "wo", "xa", "zen"]
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(3, 5))))
    return sorted(words)


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_scale/documents_sf1.parquet"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 50000
    vocab_n = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    global VOCAB
    if vocab_n:
        VOCAB = big_vocab(vocab_n)
    rng = random.Random(42)
    texts = []
    for _ in range(n):
        k = rng.randint(10, 100)
        texts.append(" ".join(rng.choice(VOCAB) for _ in range(k)))
    # planted near-dups: overwrite ~4% of docs with a 1-2 word mutation of
    # another doc (the fixture's whole-doc near-dups have jaccard ~0.97)
    for _ in range(int(n * 0.04)):
        src, tgt = rng.randrange(n), rng.randrange(n)
        words = texts[src].split()
        for _ in range(rng.randint(1, 2)):
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        texts[tgt] = " ".join(words)
    # exact dups ~0.2% (sf0.1 has 8 dup pairs in 5k docs)
    for _ in range(int(n * 0.002)):
        texts[rng.randrange(n)] = texts[rng.randrange(n)]
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    import os
    if os.path.dirname(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
    pq.write_table(table, out)
    print(f"wrote {n} docs to {out}")


if __name__ == "__main__":
    main()
