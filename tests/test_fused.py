"""The fused single-pass execution mode must reproduce the staged pipeline's
canonical triple set exactly (same kernels, different dataflow)."""

from datetime import datetime

import numpy as np
import pyspark.sql.functions as F
import pytest

from chunksilo_spark.functions.embed import bow_embed_matrix, normalize_rows
from chunksilo_spark.models import DEFAULT_EMBEDDER
from chunksilo_spark.operators import fused as fz
from chunksilo_spark.operators import stage1_extract as s1
from chunksilo_spark.operators import stage2_link as s2
from chunksilo_spark.operators import stage3_triples as s3
from chunksilo_spark.operators.canon import canon_map, normalize_column
from chunksilo_spark.sources.corpus import PAGES_SCHEMA, aliases_df, pages_df

N_PAGES = 250


def test_fused_equals_staged(spark):
    pages = pages_df(spark, N_PAGES, partitions=6)
    aliases = aliases_df(spark)
    alias_bc = s2.build_alias_broadcast(spark, aliases)

    # staged path
    docs = s1.extract_documents(pages, partitions=6).localCheckpoint()
    linked = s2.detect_and_link(docs, alias_bc).localCheckpoint()
    staged_surfaces = normalize_column(
        aliases.select(F.col("alias").alias("s"))
        .unionByName(linked.select(F.col("surface").alias("s")))
        .distinct(),
        "s",
    ).distinct()
    staged = s3.canonical_triples(
        s3.extract_raw_triples(docs),
        s3.linked_surfaces(linked),
        canon_map(staged_surfaces, partitions=4),
    )

    # fused path
    fused_raw = fz.fused_linked_triples(pages, alias_bc).localCheckpoint()
    alias_norms = normalize_column(aliases, "alias")
    fused_surfaces = (
        fused_raw.select(F.col("subj_norm").alias("norm"))
        .unionByName(fused_raw.select(F.col("obj_norm").alias("norm")))
        .unionByName(alias_norms)
        .distinct()
    )
    fused = fz.canonical_from_fused(
        fused_raw, canon_map(fused_surfaces, partitions=4)
    )

    key = lambda r: (  # noqa: E731
        r["url"], r["subj_canon"], r["pred"], r["obj_canon"], r["char_pos"]
    )
    a = sorted(map(key, staged.collect()))
    b = sorted(map(key, fused.collect()))
    assert len(a) > 100
    assert a == b


def test_fused_skips_pages_stage1_quarantines(spark):
    """Both dataflows decode pages through one kernel: a %PDF-prefixed page
    is quarantined by stage 1 (no binary decoder), so the fused pass must
    not emit its triple either, while the same bytes without the prefix
    link through."""
    html = b"<p>Vertex Foods acquired Nimbus Chemicals.</p>"
    ts = datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [
            ("https://a.example/pdf", ts, b"%PDF" + html, None, "en"),
            ("https://a.example/html", ts, html, None, "en"),
        ],
        schema=PAGES_SCHEMA,
    )
    bc = s2.build_alias_broadcast(spark, aliases_df(spark))
    quarantined = s1.quarantine(s1.extract_documents(pages, partitions=1))
    assert [(r["url"], r["error"]) for r in quarantined.collect()] == [
        ("https://a.example/pdf", "ValueError: unsupported format: pdf")
    ]
    rows = fz.fused_linked_triples(pages, bc).collect()
    assert [
        (r["url"], r["subj_surface"], r["pred"], r["obj_surface"])
        for r in rows
    ] == [("https://a.example/html", "Vertex Foods", "acquired",
           "Nimbus Chemicals")]


def _fused_rows(pages, bc):
    return {
        (r["url"], r["subj_surface"], r["pred"], r["obj_surface"],
         r["char_pos"])
        for r in fz.fused_linked_triples(pages, bc).collect()
    }


def _staged_rows(pages, bc):
    docs = s1.extract_documents(pages, partitions=2)
    return {
        (r["url"], r["m_start"], r["surface"], r["alias_id"], r["entity_id"])
        for r in s2.link_mentions(s2.detect_mentions(docs), bc).collect()
    }


@pytest.mark.parametrize(
    "linked_rows", [_fused_rows, _staged_rows], ids=["fused", "staged"]
)
def test_link_cache_is_dictionary_scoped(spark, linked_rows):
    """The per-worker surface link cache must key on the alias
    dictionary's CONTENT: running a linker with a different (here: tiny)
    dictionary right after a populated one must not reuse stale link
    decisions from the first run, and the warm-cache rerun on the full
    dictionary must return exactly the cold run's rows."""
    pages = pages_df(spark, 60, partitions=2)
    full_bc = s2.build_alias_broadcast(spark, aliases_df(spark))
    # a 3-alias dictionary links far fewer surfaces; same shape, same
    # threshold, same embedder — only the matrix CONTENT differs, which
    # is exactly what the cache key must see
    tiny_bc = s2.build_alias_broadcast(
        spark, aliases_df(spark).where(F.col("entity_id") < 1)
    )
    full = linked_rows(pages, full_bc)
    tiny = linked_rows(pages, tiny_bc)
    full_again = linked_rows(pages, full_bc)
    assert full
    # stale full-dictionary decisions leaking into the tiny run would
    # inflate it up to the full run
    assert len(tiny) < len(full)
    assert full_again == full


def test_link_surfaces_cache_is_content_keyed():
    """link_surfaces on the driver: a copy of the same matrix hits the
    same cache entry and answers as the cold call did; another dictionary
    gets its own entry (no stale alias indices); an empty one links
    nothing."""
    s2._LINK_CACHE.clear()
    aliases = ["Vertex Foods", "Nimbus Chemicals", "Apex Rail"]
    full = normalize_rows(bow_embed_matrix(aliases))
    surfaces = np.array(
        ["Apex Rail", "Nimbus Chemicals", "Quantum Pharma", "Vertex Foods"],
        dtype=object,
    )
    cold_idx, cold_sc = s2.link_surfaces(surfaces, full, DEFAULT_EMBEDDER)
    assert (cold_sc >= s2.LINK_THRESHOLD).tolist() == [True, True, False, True]
    assert cold_idx[[0, 1, 3]].tolist() == [2, 1, 0]
    warm_idx, warm_sc = s2.link_surfaces(
        surfaces, full.copy(), DEFAULT_EMBEDDER
    )
    assert len(s2._LINK_CACHE) == 1
    assert warm_idx.tolist() == cold_idx.tolist()
    assert warm_sc.tolist() == cold_sc.tolist()

    idx, sc = s2.link_surfaces(surfaces, full[1:2], DEFAULT_EMBEDDER)
    assert len(s2._LINK_CACHE) == 2
    assert (sc >= s2.LINK_THRESHOLD).tolist() == [False, True, False, False]
    assert idx[1] == 0

    idx, sc = s2.link_surfaces(surfaces, full[:0], DEFAULT_EMBEDDER)
    assert not (sc >= s2.LINK_THRESHOLD).any()
