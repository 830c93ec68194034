"""Seeded input tables for the workloads that read parquet.

`heavy` follows the document model of tools/gen_scale_data.py (10-100
words over a 30-word vocabulary, the same language mix, 20 sources,
~0.16% planted exact duplicates, 64-dim embeddings around 10 label
centroids), drawn from the run's seed, plus ~0.25% planted near
duplicates (a copy of a document of 40+ words with one word replaced,
Jaccard >= 0.85 over word 3-grams) so the near-duplicate paths have
work. The planted pairs are written next to the tables for the checks.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
# The measured heavy table: sf0.05 in that model (50,000 documents per sf).
HEAVY_DOCS = 2500


def heavy(seed, n_docs, n_vecs, out_dir):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_words = rng.integers(10, 101, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(n_words.sum()))
    offsets = np.concatenate([[0], np.cumsum(n_words)])
    texts = [" ".join(VOCAB[w] for w in words[offsets[i]:offsets[i + 1]])
             for i in range(n_docs)]
    exact, near = [], []
    for j in sorted(set(rng.integers(1, n_docs, size=max(1, n_docs // 625)).tolist())):
        src = int(rng.integers(0, j))
        texts[j] = texts[src]
        exact.append([src, j])
    # a near copy never overwrites, or copies, a document of another pair
    paired = {d for p in exact for d in p}
    for j in sorted(set(rng.integers(1, n_docs, size=max(1, n_docs // 250)).tolist())):
        src = int(rng.integers(0, j))
        toks = texts[src].split()
        if len(toks) < 40 or src in paired or j in paired:
            continue
        pos = int(rng.integers(0, len(toks)))
        toks[pos] = "near" + str(int(rng.integers(0, 1000)))
        copy = " ".join(toks)
        if checks.jaccard(checks.shingles(texts[src]), checks.shingles(copy)) < 0.85:
            continue
        texts[j] = copy
        paired |= {src, j}
        near.append([src, j])
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    sources = rng.integers(0, 20, size=n_docs)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{s}" for s in sources]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(out_dir, "documents.parquet"))
    labels = rng.integers(0, 10, size=n_vecs)
    centroids = rng.normal(0, 1, size=(10, 64)).astype(np.float32)
    vecs = (centroids[labels] + rng.normal(0, 0.35, size=(n_vecs, 64))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }), os.path.join(out_dir, "embeddings.parquet"))
    with open(os.path.join(out_dir, "planted.json"), "w") as f:
        json.dump({"exact": exact, "near": near}, f)


def generate(workload, seed, out_dir):
    """Write the workload's input tables under `out_dir/measured` (the
    lifecycle's source table lives in the JVM)."""
    if workload.startswith("heavy"):
        heavy(seed, HEAVY_DOCS, HEAVY_DOCS * 2 // 5, os.path.join(out_dir, "measured"))
