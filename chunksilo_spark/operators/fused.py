"""Fused corpus pass: extract -> link -> surface-triples in ONE mapInPandas.

The staged pipeline (plans/pipeline.py) materializes documents, mentions and
raw triples separately — right for resumable production runs. This fused
operator is the throughput-optimal execution mode: the corpus flows through
Python exactly once (no intermediate persist of corpus-sized data), emitting
only linked surface triples (~20x smaller than documents). This pass is the
only Python the fused build runs: the distinct normalized surfaces of its
output are a JVM aggregate (:func:`distinct_norms`), canonicalization of that
dictionary-sized set enters Spark as an Arrow local relation, and the final
canon rewrite is a broadcast join.

Semantics are EXACTLY the composed path, because the kernels are shared,
not copied: each page goes through stage 1's ``decode_page`` (size cap,
deadline, format routing, strict UTF-8 decode — a page stage 1 would
quarantine is skipped here) and each surface through stage 2's
``link_surfaces`` (cosine top-1 against the broadcast alias dictionary,
kept at ``score >= LINK_THRESHOLD``). A triple is kept iff both its subject
and object surfaces link. Linking a surface is decided per-surface, so
linking only triple-participating surfaces equals linking all mentions
first (tested equivalent).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.triples import extract_triples_from_text, normalize_surface
from ..models import DEFAULT_EMBEDDER, ModelSpec
from .stage1_extract import decode_page
from .stage2_link import LINK_THRESHOLD, link_surfaces

FUSED_SCHEMA = (
    "url string, subj_surface string, pred string, obj_surface string, "
    "char_pos long, subj_norm string, obj_norm string"
)


def fused_linked_triples(
    pages: DataFrame,
    alias_bc,
    embedder: ModelSpec | None = None,
) -> DataFrame:
    """pages (url, html, lang) -> linked surface triples, one Arrow pass.

    Non-English pages are dropped JVM-side before the Arrow boundary (the
    kernel's own lang guard stays as a second line) — their html bytes
    never cross to Python (guide §4.1: pass only what the function
    needs)."""
    spec = embedder or DEFAULT_EMBEDDER
    pages = pages.where(F.col("lang") == F.lit("en"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat = alias_bc.value[3]
        for pdf in batches:
            rows = {k: [] for k in (
                "url", "subj_surface", "pred", "obj_surface", "char_pos",
            )}
            for url, html, lang in zip(pdf["url"], pdf["html"], pdf["lang"]):
                if lang != "en":
                    continue
                text, _, err = decode_page(bytes(html))
                if err is not None:
                    continue
                for subj, pred, obj, pos in extract_triples_from_text(text):
                    rows["url"].append(url)
                    rows["subj_surface"].append(subj)
                    rows["pred"].append(pred)
                    rows["obj_surface"].append(obj)
                    rows["char_pos"].append(pos)
            if not rows["url"]:
                continue
            surf = np.asarray(
                rows["subj_surface"] + rows["obj_surface"], dtype=object
            )
            uniq, inv = np.unique(surf, return_inverse=True)
            _idx, scores = link_surfaces(uniq, mat, spec)
            linked = (scores >= LINK_THRESHOLD)[inv]
            n = len(rows["url"])
            keep = linked[:n] & linked[n:]
            if not keep.any():
                continue
            out = pd.DataFrame(
                {
                    "url": np.asarray(rows["url"], dtype=object)[keep],
                    "subj_surface": np.asarray(
                        rows["subj_surface"], dtype=object
                    )[keep],
                    "pred": np.asarray(rows["pred"], dtype=object)[keep],
                    "obj_surface": np.asarray(
                        rows["obj_surface"], dtype=object
                    )[keep],
                    "char_pos": np.asarray(rows["char_pos"])[keep],
                }
            )
            out["subj_norm"] = [normalize_surface(s) for s in out["subj_surface"]]
            out["obj_norm"] = [normalize_surface(s) for s in out["obj_surface"]]
            yield out

    return pages.select("url", "html", "lang").mapInPandas(
        run, schema=FUSED_SCHEMA
    )


def distinct_norms(fused: DataFrame) -> DataFrame:
    """Distinct subj/obj norms of the fused triples -> (norm string), a
    JVM hash aggregate with no Python pass: its map-side combine already
    emits each partition's unique norms (dictionary-sized), so the
    exchange carries ~|partitions|x|dictionary| rows, not 2x the triple
    count."""
    return fused.select(
        F.explode(F.array("subj_norm", "obj_norm")).alias("norm")
    ).distinct()


def canonical_from_fused(
    fused: DataFrame, canon: DataFrame
) -> DataFrame:
    """Rewrite fused surface triples to canonical ids (broadcast joins)."""
    cmap = F.broadcast(
        canon.select("norm", "canon_id", "canon_surface")
    )
    return (
        fused.join(
            cmap.select(
                F.col("norm").alias("subj_norm"),
                F.col("canon_id").alias("subj_canon_id"),
                F.col("canon_surface").alias("subj_canon"),
            ),
            "subj_norm",
        )
        .join(
            cmap.select(
                F.col("norm").alias("obj_norm"),
                F.col("canon_id").alias("obj_canon_id"),
                F.col("canon_surface").alias("obj_canon"),
            ),
            "obj_norm",
        )
        .select(
            "url", "subj_canon_id", "subj_canon", "pred",
            "obj_canon_id", "obj_canon", "subj_surface", "obj_surface",
            "char_pos",
        )
    )
