"""Deterministic Bag-of-Words embedding (the reference's sanctioned mock).

Exactly the reference test embedding (test/conftest.py:36-55): a 384-dim
vector where each lowercased whitespace word adds 1.0 at index
``sum(ord(c) for c in word) % 384``. Deterministic, dependency-free, and
identical on driver (oracle) and executors (UDF) — so linker results are
exactly reproducible with no model downloads.

``bow_embed_matrix`` is the vectorized batch form used inside mapInPandas
(one numpy matrix per Arrow batch — no per-row Python in the hot path beyond
the tokenize loop, which is the semantic definition itself).

A real model would slot in behind the same (texts)->ndarray interface; the
per-executor-process model cache lives in models.py.
"""

from __future__ import annotations

import numpy as np

DIM = 384


def _word_index(word: str) -> int:
    return sum(ord(c) for c in word) % DIM


def bow_embed(text: str) -> list[float]:
    """Single-text embedding — reference conftest.py:36-55 semantics."""
    vec = [0.0] * DIM
    for word in text.lower().split():
        vec[_word_index(word)] += 1.0
    return vec


def bow_embed_matrix(texts) -> np.ndarray:
    """Batch embedding -> (len(texts), 384) float32 matrix."""
    out = np.zeros((len(texts), DIM), dtype=np.float32)
    for i, text in enumerate(texts):
        for word in text.lower().split():
            out[i, _word_index(word)] += 1.0
    return out


def normalize_rows(mat: np.ndarray) -> np.ndarray:
    """L2-normalize rows; zero rows stay zero (cosine-ready)."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


def cosine_topk(queries: np.ndarray, index: np.ndarray, k: int):
    """Brute-force cosine top-k of each query row against index rows.

    Both inputs must be L2-normalized. Returns (indices, scores), each
    (n_queries, k), scores descending. Uses argpartition + local sort —
    O(n·d + n log k) per query batch, all numpy (SURVEY.md §2.5 linker).
    """
    sims = queries @ index.T  # (q, n)
    k = min(k, index.shape[0])
    if k == 0:  # empty index (e.g. empty alias dictionary): no neighbors,
        # not a crash — callers get zero links / zero triples
        shape = (queries.shape[0], 0)
        return np.empty(shape, dtype=np.int64), np.empty(shape)
    part = np.argpartition(-sims, k - 1, axis=1)[:, :k]
    part_scores = np.take_along_axis(sims, part, axis=1)
    order = np.argsort(-part_scores, axis=1, kind="stable")
    return np.take_along_axis(part, order, axis=1), np.take_along_axis(
        part_scores, order, axis=1
    )
