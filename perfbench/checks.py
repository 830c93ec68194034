"""Checks made outside the JVM on the heavy family's results, against
values computed here, apart from the program, from the generated input:
the planted duplicates, exact Jaccard over word 3-gram shingle sets, the
MinHash-LSH candidate graph and its connected components (the
definitions the registry's DuckDB oracles spell out in SQL), row counts
by group-by, and PageRank's conserved mass.

Each check is a pure function over plain Python values, so
test_checks.py can feed it corrupted results.
"""
import hashlib
import json
import os
from collections import defaultdict
from itertools import combinations

import pyarrow.parquet as pq

JACCARD_THRESHOLD = 0.8
SHINGLE_CAP = 1000  # q22's blocking cap (Dedup.shingleCapForPairBudget(500))
MINHASH_K, BANDS = 16, 4


def shingles(text, n=3):
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    i = len(a & b)
    return i / (len(a) + len(b) - i)


def near_duplicate_pairs(sets, threshold=JACCARD_THRESHOLD, cap=SHINGLE_CAP):
    """Every pair with exact shingle-set Jaccard >= threshold, found by an
    inverted index over shingles shared by at most `cap` documents:
    {(id_a, id_b): jaccard} with id_a < id_b."""
    index = defaultdict(list)
    for d, ss in sets.items():
        for s in ss:
            index[s].append(d)
    inter = defaultdict(int)
    for ids in index.values():
        if len(ids) <= cap:
            for a, b in combinations(sorted(ids), 2):
                inter[(a, b)] += 1
    out = {}
    for (a, b), i in inter.items():
        j = i / (len(sets[a]) + len(sets[b]) - i)
        if j >= threshold:
            out[(a, b)] = j
    return out


def lsh_candidates(sets, k=MINHASH_K, bands=BANDS):
    """Pairs sharing a band bucket: per document, k minimum md5 hex
    digests of "i|shingle", banded k/bands at a time into md5 of the
    '|'-joined minimums."""
    rows = k // bands
    buckets = defaultdict(list)
    for d, ss in sets.items():
        mins = [min(hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in ss)
                for i in range(k)]
        for b in range(bands):
            key = hashlib.md5("|".join(mins[b * rows:(b + 1) * rows]).encode()).hexdigest()
            buckets[(b, key)].append(d)
    return {(a, b) for ids in buckets.values() for a, b in combinations(sorted(ids), 2)}


def component_labels(ids, edges):
    """Smallest member of each document's connected component."""
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in ids}


def check_ngram_jaccard(pairs, expected, planted):
    """q22: the reported pairs are exactly the near-duplicate pairs, each
    with its Jaccard to 6 digits; every planted copy, exact or near, is
    among them.
    `pairs` rows: (id_a, id_b, jaccard)."""
    problems = []
    got = {(a, b): j for a, b, j in pairs}
    if len(got) != len(pairs):
        problems.append("q22_ngram_jaccard: duplicate pairs")
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing or extra:
        problems.append(f"q22_ngram_jaccard: {len(missing)} near-duplicate pairs missing, "
                        f"{len(extra)} reported pairs are not near-duplicates")
    wrong = [k for k in got.keys() & expected.keys() if abs(got[k] - expected[k]) > 5e-7]
    if wrong:
        problems.append(f"q22_ngram_jaccard: {len(wrong)} pairs report a wrong Jaccard")
    lost = [p for p in planted if (min(p), max(p)) not in got]
    if lost:
        problems.append(f"q22_ngram_jaccard: {len(lost)} planted duplicates not reported")
    return problems


def check_deduplicate(survivors, expected, planted):
    """q50: the survivors are exactly the smallest member of each
    component of LSH candidates verified at the Jaccard threshold, and
    no planted copy survives."""
    problems = []
    s = set(survivors)
    if len(s) != len(survivors):
        problems.append("q50_deduplicate: a document survives twice")
    if s != expected:
        problems.append(f"q50_deduplicate: {len(expected - s)} survivors missing, "
                        f"{len(s - expected)} unexpected survivors")
    kept = [j for src, j in planted if j in s]
    if kept:
        problems.append(f"q50_deduplicate: {len(kept)} planted duplicates not removed")
    return problems


def check_clusters(rows, labels, planted):
    """q39: one row per input document (the group-by count), each
    labelled with its LSH component's smallest member, kept exactly when
    it is that member. Rows: (doc_id, cluster_id, keep)."""
    problems = []
    if len(rows) != len(labels) or {r[0] for r in rows} != labels.keys():
        problems.append(f"q39_dedup_clusters: {len(rows)} rows for {len(labels)} documents")
    wrong = [r for r in rows if labels.get(r[0]) != r[1] or r[2] != (r[0] == r[1])]
    if wrong:
        problems.append(f"q39_dedup_clusters: {len(wrong)} rows with a wrong cluster or keep")
    cluster = {r[0]: r[1] for r in rows}
    split = [p for p in planted if cluster.get(p[0]) != cluster.get(p[1])]
    if split:
        problems.append(f"q39_dedup_clusters: {len(split)} planted pairs in different clusters")
    return problems


def check_pagerank(rows, doc_ids):
    """q79: one positive rank per document, and with dangling mass
    redistributed the ranks sum to 1 within the rounding of 9-digit
    outputs. Rows: (doc_id, rank)."""
    problems = []
    if sorted(r[0] for r in rows) != sorted(doc_ids):
        problems.append(f"q79_pagerank_dangling: {len(rows)} rows for {len(doc_ids)} documents")
    total = sum(r[1] for r in rows)
    if abs(total - 1.0) > len(doc_ids) * 5e-10 + 1e-9:
        problems.append(f"q79_pagerank_dangling: ranks sum to {total!r}, not 1")
    if any(r[1] <= 0 for r in rows):
        problems.append("q79_pagerank_dangling: a non-positive rank")
    return problems


def _rows(path, cols):
    if not os.path.isdir(path):
        raise FileNotFoundError(path)
    t = pq.read_table(path, columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def heavy(data_dir, out_dir):
    measured = os.path.join(data_dir, "measured")
    docs = pq.read_table(os.path.join(measured, "documents.parquet"),
                         columns=["doc_id", "text"])
    doc_ids = docs.column("doc_id").to_pylist()
    sets = {d: shingles(t) for d, t in zip(doc_ids, docs.column("text").to_pylist())}
    with open(os.path.join(measured, "planted.json")) as f:
        p = json.load(f)
    exact = [tuple(x) for x in p["exact"]]
    near = [tuple(x) for x in p["near"]]
    candidates = lsh_candidates(sets)
    verified = [(a, b) for a, b in candidates
                if jaccard(sets[a], sets[b]) >= JACCARD_THRESHOLD]
    survivors = {d for d, c in component_labels(doc_ids, verified).items() if d == c}
    checks = [
        ("q50_deduplicate", ["doc_id"],
         lambda r: check_deduplicate([x[0] for x in r], survivors, exact)),
        ("q22_ngram_jaccard", ["id_a", "id_b", "jaccard"],
         lambda r: check_ngram_jaccard(r, near_duplicate_pairs(sets), exact + near)),
        ("q39_dedup_clusters", ["doc_id", "cluster_id", "keep"],
         lambda r: check_clusters(r, component_labels(doc_ids, candidates), exact)),
        ("q79_pagerank_dangling", ["doc_id", "rank"],
         lambda r: check_pagerank(r, doc_ids)),
    ]
    problems = []
    for name, cols, check in checks:
        try:
            rows = _rows(os.path.join(out_dir, name), cols)
        except (OSError, KeyError) as e:
            problems.append(f"{name}: no result to check ({e})")
            continue
        problems += check(rows)
    return problems


def outside_jvm(workload, extra, data_dir):
    if workload.startswith("heavy"):
        return heavy(data_dir, extra["out"])
    return []
