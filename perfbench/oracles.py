"""Ground truth computed in numpy or plain Python, never by another Spark path."""

from __future__ import annotations

import hashlib
import re

import numpy as np


# ---------------------------------------------------------------- vectors


def distances(Q: np.ndarray, X: np.ndarray, metric: str) -> np.ndarray:
    """(len(Q), len(X)) distances in float64: squared Euclidean, or cosine
    distance 1 - cos (what HNSW reports when built with metric="cosine")."""
    q, x = Q.astype(np.float64), X.astype(np.float64)
    if metric == "cosine":
        q = q / np.linalg.norm(q, axis=1, keepdims=True)
        x = x / np.linalg.norm(x, axis=1, keepdims=True)
        return 1.0 - q @ x.T
    return np.stack([((x - row) ** 2).sum(axis=1) for row in q])


def topk_ids(D: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Per row, the k ids with the smallest distance, ties broken by id."""
    return np.stack([ids[np.lexsort((ids, row))[:k]] for row in D])


# Reported distances come from float32 vectors; the truth is float64.
RTOL, ATOL = 1e-4, 1e-5


def check_result(rows, qids, D, ids, k, exact_truth=None):
    """Validate one batch of (query_id, neighbour_id, distance, rank) rows.

    Every query must get k distinct ids of the searched set, ranked 1..k by
    ascending distance, each reported distance equal to the true one. With
    ``exact_truth`` the ids must also equal it in order. Returns
    (ok, recall) where recall is the mean share of the true top-k found."""
    pos = {int(i): j for j, i in enumerate(ids)}
    truth = exact_truth if exact_truth is not None else topk_ids(D, ids, k)
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r[0]), []).append(r)
    ok, hits = set(by_q) == {int(q) for q in qids}, 0
    for qi, q in enumerate(qids):
        got = sorted(by_q.get(int(q), []), key=lambda r: r[3])
        nb = [int(r[1]) for r in got]
        if len(got) != k or len(set(nb)) != k or [r[3] for r in got] != list(range(1, k + 1)):
            ok = False
            continue
        if any(n not in pos for n in nb):
            ok = False
            continue
        true_d = D[qi, [pos[n] for n in nb]]
        rep_d = np.array([float(r[2]) for r in got])
        if not np.allclose(rep_d, true_d, rtol=RTOL, atol=ATOL) or np.any(np.diff(rep_d) < -ATOL):
            ok = False
        if exact_truth is not None and nb != [int(t) for t in truth[qi]]:
            ok = False
        hits += len(set(nb) & {int(t) for t in truth[qi]})
    return ok, hits / (k * len(qids))


# ------------------------------------------------------------------- text


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct whitespace-token n-grams of the lower-cased text; a document
    shorter than n is one shingle (operators.text_dedup.shingle_array)."""
    toks = re.split(r"\s+", text.strip().lower())
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def hash60(token: str) -> int:
    """First 15 hex digits of md5 as an integer (functions.text.stable_hash60)."""
    return int(hashlib.md5(token.encode()).hexdigest()[:15], 16)


def simhashes(texts: list[str]) -> np.ndarray:
    """32-bit SimHash per text over whitespace tokens with multiplicity: bit
    b is set iff more tokens have bit b of their hash set than clear."""
    signs: dict[str, np.ndarray] = {}
    out = np.zeros(len(texts), dtype=np.uint64)
    weights = np.array([1 << b for b in range(32)], dtype=np.uint64)
    for i, text in enumerate(texts):
        votes = np.zeros(32, dtype=np.int64)
        for tok in re.split(r"\s+", text.strip().lower()):
            if tok not in signs:
                h = hash60(tok)
                signs[tok] = np.array([1 if (h >> b) & 1 else -1 for b in range(32)])
            votes += signs[tok]
        out[i] = weights[votes > 0].sum()
    return out


_POPCOUNT16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)


def simhash_pairs(doc_ids: np.ndarray, sims: np.ndarray, max_hamming: int = 3) -> dict:
    """All (a, b) with a < b whose 32-bit SimHashes differ in at most
    ``max_hamming`` bits → hamming distance."""
    order = np.argsort(doc_ids)
    ids, s = doc_ids[order], sims[order].astype(np.uint32)
    out = {}
    for i in range(len(ids) - 1):
        x = s[i + 1 :] ^ s[i]
        ham = _POPCOUNT16[x & 0xFFFF] + _POPCOUNT16[x >> 16]
        for j in np.nonzero(ham <= max_hamming)[0]:
            out[(int(ids[i]), int(ids[i + 1 + j]))] = int(ham[j])
    return out


def union_find(pairs) -> dict[int, int]:
    """node → smallest node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}
