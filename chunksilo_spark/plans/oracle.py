"""Single-node reference oracle for the KG pipeline.

Runs the SAME semantic kernels (functions/*) over the synthetic corpus in
plain Python on the driver — no Spark — producing the reference triple set
the distributed pipeline is scored against (P/R >= 0.95 per BASELINE.json;
expected 1.0 because both paths share every kernel).

This is the analog of the reference's single-machine implementation: what
chunksilo computes in one process, run_oracle computes in one process; the
Spark pipeline must reproduce it distributed.
"""

from __future__ import annotations

import itertools
from collections import defaultdict

import numpy as np

from ..functions.chunk import split_sentences
from ..functions.embed import bow_embed_matrix, cosine_topk, normalize_rows
from ..functions.hashing import hash64
from ..functions.minhash import band_keys, jaccard, minhash_signature
from ..functions.triples import (
    extract_mentions,
    extract_triples_from_text,
    normalize_surface,
)
from ..functions.extract import extract_text
from ..operators.canon import JACCARD_THRESHOLD, union_find_min
from ..operators.stage2_link import LINK_THRESHOLD
from ..sources.corpus import build_entity_pool, golden_pages


def oracle_canon_map(norms: set[str], threshold: float = JACCARD_THRESHOLD):
    """norm -> (canon_id, canon_surface) via the same LSH + CC semantics."""
    norms_l = sorted(norms)
    idx = {n: i for i, n in enumerate(norms_l)}
    buckets = defaultdict(list)
    for n in norms_l:
        for bk in band_keys(minhash_signature(n.split())):
            buckets[bk].append(idx[n])
    wsets = [set(n.split()) for n in norms_l]
    seen = set()
    verified = []
    for bucket in buckets.values():
        for i, j in itertools.combinations(sorted(set(bucket)), 2):
            if (i, j) in seen:
                continue
            seen.add((i, j))
            if jaccard(wsets[i], wsets[j]) >= threshold:
                verified.append((i, j))
    roots = union_find_min(verified)

    comp_members = defaultdict(list)
    for i, n in enumerate(norms_l):
        comp_members[roots.get(i, i)].append(n)
    out = {}
    for members in comp_members.values():
        canon_surface = min(members)
        canon_id = min(hash64(m) for m in members)
        for m in members:
            out[m] = (canon_id, canon_surface)
    return out


def run_oracle(n_pages: int, threshold: float = LINK_THRESHOLD):
    """-> dict with documents, quarantine, linked surfaces, triple set."""
    pool = build_entity_pool()
    alias_rows = [(eid, a) for eid, al in enumerate(pool) for a in al]
    alias_strs = [a for _, a in alias_rows]
    alias_mat = normalize_rows(bow_embed_matrix(alias_strs))

    docs, quarantined = {}, []
    for p in golden_pages(n_pages):
        try:
            docs[p["url"]] = (
                extract_text(p["html"].decode("utf-8", errors="strict")),
                p["lang"],
            )
        except UnicodeDecodeError:
            quarantined.append(p["url"])

    # stage 2: mentions + linking (batch all surfaces at once)
    mention_rows = []  # (url, surface)
    for url, (text, lang) in docs.items():
        if lang != "en":
            continue
        for s, e in split_sentences(text):
            for surface, _, _ in extract_mentions(text[s:e]):
                mention_rows.append((url, surface))
    linked_surfaces: set[str] = set()
    if mention_rows:
        surfaces = sorted({s for _, s in mention_rows})
        q = normalize_rows(bow_embed_matrix(surfaces))
        idxs, scores = cosine_topk(q, alias_mat, k=1)
        for i, s in enumerate(surfaces):
            if scores[i, 0] >= threshold:
                linked_surfaces.add(s)

    # stage 3: triples + canon
    norms = {normalize_surface(a) for a in alias_strs} | {
        normalize_surface(s) for s in linked_surfaces
    }
    cmap = oracle_canon_map(norms)
    triples = set()
    for url, (text, lang) in docs.items():
        if lang != "en":
            continue
        for subj, pred, obj, _pos in extract_triples_from_text(text):
            if subj in linked_surfaces and obj in linked_surfaces:
                sc = cmap[normalize_surface(subj)][1]
                oc = cmap[normalize_surface(obj)][1]
                triples.add((url, sc, pred, oc))

    return {
        "documents": docs,
        "quarantine": quarantined,
        "linked_surfaces": linked_surfaces,
        "canon_map": cmap,
        "triples": triples,
    }


def precision_recall(predicted: set, reference: set) -> tuple[float, float]:
    if not predicted:
        return (0.0, 0.0 if reference else 1.0)
    tp = len(predicted & reference)
    return tp / len(predicted), (tp / len(reference) if reference else 1.0)
