"""Stage 2: mention detection + embedding-based entity linking.

The reference's "search by meaning" retrieval (vector top-k over chunk
embeddings, search.py:1093-1111) repurposed as an entity LINKER per the
north_star: each detected mention is BoW-embedded and scored by cosine
against a BROADCAST alias/embedding dictionary; top-1 above threshold links
the mention. No per-row Python in the hot path — one numpy matmul per Arrow
batch inside mapInPandas (reference bulk-embedding analog, index.py:1643-49).

Scale notes:
  * the alias dictionary is driver-small by design (entity dictionaries are
    ~1e6-1e8 rows — fits a broadcast of two numpy arrays; at the top end,
    switch to the LSH-bucketed variant in operators/similarity.py);
  * the broadcast is a plain ``sparkContext.broadcast`` of L2-normalized
    float32 matrices, materialized once per executor, shared by all tasks;
  * mention detection runs per document (not per chunk) so window overlaps
    can't double-count a mention;
  * every linker (``link_mentions``, ``detect_and_link`` and the fused pass
    in operators/fused.py) scores surfaces through ``link_surfaces``, which
    owns the per-worker, content-keyed surface -> (alias index, score)
    cache: the surface universe is dictionary-sized while the corpus is
    not, so after the first batches embed + matmul collapse to lookups.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.chunk import split_sentences
from ..functions.embed import cosine_topk, normalize_rows
from ..functions.triples import extract_mentions
from ..models import DEFAULT_EMBEDDER, ModelSpec

MENTIONS_SCHEMA = (
    "url string, sent_start long, m_start long, m_end long, surface string"
)
LINKED_SCHEMA = (
    "url string, sent_start long, m_start long, surface string, "
    "alias_id long, alias string, entity_id long, score float"
)

LINK_THRESHOLD = 0.999  # cosine; BoW vectors of equal token multisets hit 1.0


def _mention_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """Documents batch (url, text) -> one row per detected mention."""
    rows = {k: [] for k in ("url", "sent_start", "m_start", "m_end", "surface")}
    for url, text in zip(pdf["url"], pdf["text"]):
        for s, e in split_sentences(text):
            for surface, ms, me in extract_mentions(text[s:e]):
                rows["url"].append(url)
                rows["sent_start"].append(s)
                rows["m_start"].append(s + ms)
                rows["m_end"].append(s + me)
                rows["surface"].append(surface)
    return pd.DataFrame(rows)


def _mention_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield _mention_rows(pdf)


def detect_mentions(documents: DataFrame) -> DataFrame:
    """en documents -> mention rows (url, offsets, surface)."""
    return (
        documents.where(F.col("ok") & (F.col("lang") == "en"))
        .select("url", "text")
        .mapInPandas(_mention_batch, schema=MENTIONS_SCHEMA)
    )


def build_alias_broadcast(spark, aliases: DataFrame):
    """Collect the (small) alias dict into broadcast numpy arrays.

    Returns a Broadcast of (alias_ids, alias_strs, entity_ids, norm_matrix).
    """
    # toPandas() rides the Arrow transfer path (enabled in session.py);
    # a row collect() pickles every 384-float embedding through py4j —
    # measurably slower for the same dictionary
    pdf = aliases.select("entity_id", "alias", "embedding").toPandas()
    rows = len(pdf)
    alias_strs = pdf["alias"].tolist()
    entity_ids = pdf["entity_id"].to_numpy(dtype=np.int64)
    if rows:
        mat = normalize_rows(
            np.vstack([np.asarray(e, dtype=np.float32) for e in pdf["embedding"]])
        )
    else:
        # empty dictionary: a well-formed (0, dim) matrix so the linkers'
        # empty-guard fires instead of a numpy axis error here
        from ..functions.embed import DIM

        mat = np.zeros((0, DIM), dtype=np.float32)
    alias_ids = np.arange(rows, dtype=np.int64)
    return spark.sparkContext.broadcast((alias_ids, alias_strs, entity_ids, mat))


# Per-worker surface -> (alias index, score) cache (optimization guide
# §4.5: this module is importable on executors, so the global survives
# across tasks under spark.python.worker.reuse). Top-1 linking of a surface
# is a pure function of (alias matrix content, embedder) — the cache key —
# so callers still read alias ids, strings and entity ids from the
# broadcast each time. Bounded so an adversarial surface stream cannot
# grow it unboundedly.
_LINK_CACHE: dict = {}
_LINK_CACHE_MAX = 2_000_000
# matrix identity must be CONTENT-based: a worker can outlive a job, and
# id(mat) alone could be recycled by a different alias matrix allocated
# at the same address after the old broadcast is GC'd — stale links with
# no error. The digest memo holds a strong reference to the matrix it
# hashed, so a live memo entry's id cannot be reused by another object
# and the `is` check makes the id lookup exact.
_MAT_DIGESTS: dict = {}


def _mat_digest(mat) -> str:
    entry = _MAT_DIGESTS.get(id(mat))
    if entry is not None and entry[0] is mat:
        return entry[1]
    import hashlib

    d = hashlib.md5(mat.tobytes()).hexdigest()
    if len(_MAT_DIGESTS) > 16:
        _MAT_DIGESTS.clear()
    _MAT_DIGESTS[id(mat)] = (mat, d)
    return d


def link_surfaces(surfaces, mat, spec: ModelSpec):
    """Distinct surfaces -> (alias_idx int64, score float32) per surface:
    cosine top-1 of each surface's embedding against the L2-normalized
    alias matrix. The one linker kernel of every dataflow; callers keep
    ``score >= LINK_THRESHOLD``. An empty dictionary scores every surface
    -inf (index -1): zero links, not a crash."""
    n = len(surfaces)
    if n == 0 or mat.shape[0] == 0:
        return np.full(n, -1, dtype=np.int64), np.full(n, -np.inf, np.float32)
    key = (_mat_digest(mat), spec.key)
    cache = _LINK_CACHE.setdefault(key, {})
    if len(_LINK_CACHE) > 8:  # stale broadcasts from finished jobs
        _LINK_CACHE.clear()
        cache = _LINK_CACHE.setdefault(key, {})
    got = [cache.get(s) for s in surfaces]
    miss = [i for i, hit in enumerate(got) if hit is None]
    if miss:
        model = spec.resolve()  # one construction per worker process
        q = normalize_rows(model.embed([surfaces[i] for i in miss]))
        idx, scores = cosine_topk(q, mat, k=1)
        for i, a, sc in zip(miss, idx[:, 0].tolist(), scores[:, 0].tolist()):
            got[i] = (a, sc)
            if len(cache) < _LINK_CACHE_MAX:
                cache[surfaces[i]] = got[i]
    pairs = np.array(got, dtype=np.float64).reshape(n, 2)
    return pairs[:, 0].astype(np.int64), pairs[:, 1].astype(np.float32)


def _linked_frame(pdf: pd.DataFrame, alias, spec: ModelSpec) -> pd.DataFrame:
    """Mention rows -> LINKED_SCHEMA rows of the mentions that link. Each
    DISTINCT surface is scored once (mentions repeat heavily)."""
    alias_ids, alias_strs, entity_ids, mat = alias
    uniq, inv = np.unique(
        pdf["surface"].to_numpy(dtype=object), return_inverse=True
    )
    idx, scores = link_surfaces(uniq, mat, spec)
    sc = scores[inv]
    keep = sc >= LINK_THRESHOLD
    top = idx[inv][keep]
    return pd.DataFrame(
        {
            "url": pdf["url"].to_numpy(dtype=object)[keep],
            "sent_start": pdf["sent_start"].to_numpy()[keep],
            "m_start": pdf["m_start"].to_numpy()[keep],
            "surface": pdf["surface"].to_numpy(dtype=object)[keep],
            "alias_id": alias_ids[top],
            "alias": [alias_strs[i] for i in top],
            "entity_id": entity_ids[top],
            "score": sc[keep],
        }
    )


def detect_and_link(
    documents: DataFrame,
    alias_bc,
    embedder: ModelSpec | None = None,
) -> DataFrame:
    """Fused stage 2: mention detection + linking in ONE Arrow pass.

    Avoids shipping the (large) mention table JVM->Python a second time:
    per batch of documents, detect mentions and link them through
    ``link_surfaces`` (``embedder`` = per-worker-cached models.ModelSpec,
    default BoW). Functionally equal to link_mentions(detect_mentions(docs))
    — the same two builders, tested equivalent."""
    spec = embedder or DEFAULT_EMBEDDER

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _linked_frame(_mention_rows(pdf), alias_bc.value, spec)

    return (
        documents.where(F.col("ok") & (F.col("lang") == "en"))
        .select("url", "text")
        .mapInPandas(run, schema=LINKED_SCHEMA)
    )


def link_mentions(
    mentions: DataFrame,
    alias_bc,
    embedder: ModelSpec | None = None,
) -> DataFrame:
    """Cosine top-1 of each mention's embedding vs the broadcast dict.

    Emits only linked mentions (score >= LINK_THRESHOLD). Batch-vectorized:
    one (distinct surfaces x dim) @ (dim x n_alias) matmul per Arrow batch
    for the surfaces the worker's link cache has not seen; the embedder is
    a per-worker-cached models.ModelSpec (default BoW).
    """
    spec = embedder or DEFAULT_EMBEDDER

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _linked_frame(pdf, alias_bc.value, spec)

    return mentions.mapInPandas(run, schema=LINKED_SCHEMA)
