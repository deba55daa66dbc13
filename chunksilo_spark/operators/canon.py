"""Entity canonicalization: MinHash-LSH blocking + connected components.

North-star stage 3: cluster normalized mention/alias surfaces so that
case/punctuation/suffix variants of one entity share a canonical id, WITHOUT
pairwise-comparing all surfaces:

  1. ``lsh_bands``       — one MinHash signature per distinct surface (word
                           shingles), exploded to 32 band keys (mapInPandas);
  2. ``candidate_pairs`` — self-join on band key (equi-join, shuffle on the
                           band hash — uniformly distributed by construction);
  3. ``verify_pairs``    — exact word-set Jaccard >= threshold inside a
                           vectorized batch UDF (kills LSH false positives);
  4. ``connected_components`` — over the verified edge set: a driver
                           union-find when it is dictionary-sized, else
                           star-star rounds (graph.components_starstar);
  5. ``canon_map``       — component -> lexicographically-smallest member
                           surface as the canonical representative.

Skew notes (the north rule's explicit concern):
  * a hub component costs the driver union-find nothing extra; star-star's
    per-round aggregation is a partial-aggregable ``min`` — Spark's hash
    aggregate does map-side combine, which IS the salting two-phase for
    idempotent monoids (no hot reducer even if one component spans 30% of
    rows — the hub fixture);
  * star-star's center join uses AQE skew-join splitting for hub vertices
    (spark.sql.adaptive.skewJoin.enabled, set in session.py);
  * band buckets are bounded because input surfaces are pre-deduplicated
    (``.distinct()``), so identical strings never flood one bucket.

Oracle parity: the same signature/band/jaccard functions (functions/minhash)
run single-node in tests; vertex ids come from functions/hashing.hash64 so
driver and executors agree exactly.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import cut_lineage
from ..functions.hashing import hash64
from ..functions.minhash import band_keys, jaccard, minhash_signatures_batch
from ..session import local_frame

JACCARD_THRESHOLD = 0.6

_BANDS_SCHEMA = "nid long, norm string, band_key long"
_EDGES_SCHEMA = "a long, b long"


def normalize_column(df: DataFrame, col: str) -> DataFrame:
    """-> single-column ('norm') DataFrame of normalize_surface(df[col])."""
    from ..functions.triples import normalize_surface

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"norm": [normalize_surface(s) for s in pdf[col]]}
            )

    return df.select(col).mapInPandas(run, schema="norm string")


def lsh_bands(surfaces: DataFrame, col: str = "norm") -> DataFrame:
    """distinct surfaces -> (nid, norm, band_key) rows, 32 per surface."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = minhash_signatures_batch([n.split() for n in pdf[col]])
            nids, norms, keys = [], [], []
            for norm, sig in zip(pdf[col], sigs):
                nid = hash64(norm)
                for bk in band_keys(sig):
                    nids.append(nid)
                    norms.append(norm)
                    keys.append(bk - (1 << 63))  # to signed 64-bit
            yield pd.DataFrame({"nid": nids, "norm": norms, "band_key": keys})

    return surfaces.select(F.col(col)).distinct().mapInPandas(
        run, schema=_BANDS_SCHEMA
    )


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """Self-join on band key -> distinct (a, b, norm_a, norm_b), a < b."""
    left = bands.select(
        F.col("band_key"),
        F.col("nid").alias("a"),
        F.col("norm").alias("norm_a"),
    )
    right = bands.select(
        F.col("band_key"),
        F.col("nid").alias("b"),
        F.col("norm").alias("norm_b"),
    )
    return (
        left.join(right, "band_key")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "norm_a", "norm_b")
        .distinct()
    )


def verify_pairs(
    pairs: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Exact word-set Jaccard filter -> verified edges (a, b)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep_a, keep_b = [], []
            for a, b, na, nb in zip(
                pdf["a"], pdf["b"], pdf["norm_a"], pdf["norm_b"]
            ):
                if jaccard(set(na.split()), set(nb.split())) >= threshold:
                    keep_a.append(a)
                    keep_b.append(b)
            yield pd.DataFrame({"a": keep_a, "b": keep_b})

    return pairs.mapInPandas(run, schema=_EDGES_SCHEMA)


SMALL_GRAPH_THRESHOLD = 200_000


def union_find_min(pairs: Iterable[tuple[int, int]]) -> dict[int, int]:
    """Driver union-find over (a, b) id pairs -> {id: min id of its
    component} for every id that occurs in a pair. Roots are always the
    smaller id, so each root IS its component's min."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 20,
    partitions: int = 16,
) -> DataFrame:
    """-> (nid, component) with component = min nid of the component.

    vertices: (nid long), a superset of the edge endpoints; edges:
    (a long, b long). Vertices in no edge keep their own id.

    The package's one CC entry, one algorithm per side of a size check
    on the edge set (cut once, so neither side recomputes it):

    * at most ``SMALL_GRAPH_THRESHOLD`` edges: collect them through Arrow
      and run :func:`union_find_min` on the driver — a few jobs, no hop
      limit. Verified canon/dedup edge sets are far smaller than the band
      or candidate rows they come from;
    * above it: :func:`graph.components_starstar` — O(log n) rounds
      whatever the diameter, ``max_iter`` rounds at most (it raises
      rather than return split components), ``partitions`` sizing its
      initial pair-set shuffle.
    """
    edges = cut_lineage(edges.select("a", "b"))
    pdf = edges.limit(SMALL_GRAPH_THRESHOLD + 1).toPandas()
    if len(pdf) <= SMALL_GRAPH_THRESHOLD:
        roots = union_find_min(zip(pdf["a"].tolist(), pdf["b"].tolist()))
        labels = local_frame(
            edges.sparkSession, roots.items(), "nid long, component long"
        )
    else:
        from .graph import components_starstar

        labels = components_starstar(
            edges.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            max_iter, partitions,
        ).select(F.col("node").alias("nid"), "component")
    return vertices.join(labels, "nid", "left").select(
        "nid", F.coalesce("component", "nid").alias("component")
    )


def canon_map_local(
    spark, norms: list[str], threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Driver-side canon for dictionary-sized surface sets (< ~200k): the
    exact same LSH + verify + union-find semantics (it IS the test oracle,
    plans/oracle.py), computed on the driver and handed to Spark as one
    Arrow local relation (:func:`session.local_frame`) instead of ~8 tiny
    distributed jobs. Reading the map runs no Python worker, and its size
    statistics let joins plan it as a broadcast up front.
    canon_map() auto-dispatches here below the threshold — the standard
    small-graph fast path (GraphFrames does the same)."""
    from ..plans.oracle import oracle_canon_map

    cmap = oracle_canon_map(set(norms), threshold)
    return local_frame(
        spark,
        ((n, cid, csurf) for n, (cid, csurf) in cmap.items()),
        "norm string, canon_id long, canon_surface string",
    )


def canon_map(surfaces: DataFrame, col: str = "norm",
              threshold: float = JACCARD_THRESHOLD,
              max_iter: int = 20, partitions: int = 16,
              auto_local: bool = True) -> DataFrame:
    """distinct surfaces -> (norm, canon_id, canon_surface).

    canon_surface = min surface string in the component (deterministic
    representative); canon_id = component id (min member hash64 — also
    computable by the plain-Python oracle).

    With ``auto_local`` (default), dictionary-sized inputs collect to the
    driver and run the identical union-find semantics there (one job instead
    of ~8 tiny ones); the distributed LSH + CC path below handles web-scale
    surface sets and is what the oracle-parity tests exercise explicitly."""
    if auto_local:
        sample = (
            surfaces.select(F.col(col))
            .distinct()
            .limit(SMALL_GRAPH_THRESHOLD + 1)
        )
        norms = [r[0] for r in sample.collect()]
        if len(norms) <= SMALL_GRAPH_THRESHOLD:
            return canon_map_local(surfaces.sparkSession, norms, threshold)
    # checkpoint: bands is dictionary-sized (32 rows/surface) but its
    # upstream (distinct over corpus-derived surfaces) can be huge — it is
    # consumed three times below (verts, candidate self-join), so cut the
    # recompute here
    bands = cut_lineage(
        lsh_bands(surfaces, col)
        .repartition(partitions, "band_key")
    )
    verts = cut_lineage(bands.select("nid", "norm").distinct())
    edges = verify_pairs(candidate_pairs(bands), threshold)
    labels = connected_components(
        verts.select("nid"), edges, max_iter, partitions
    )
    with_comp = verts.join(labels, "nid")
    reps = (
        with_comp.groupBy("component")
        .agg(F.min("norm").alias("canon_surface"))
    )
    return (
        with_comp.join(reps, "component")
        .select(
            F.col("norm"),
            F.col("component").alias("canon_id"),
            F.col("canon_surface"),
        )
    )


def blocking_metrics(
    surfaces: DataFrame,
    truth: DataFrame,
    col: str = "norm",
    truth_key: str = "entity_id",
    truth_col: str = "norm",
) -> DataFrame:
    """ER blocking quality -> one row (n_surfaces, n_candidates,
    n_true_pairs, n_covered, reduction_ratio, pair_completeness): the
    two numbers every blocking scheme is judged by (Christen's ER
    survey) — how many of the O(n^2) comparisons the LSH bands avoided
    (RR = 1 - candidates / C(n,2)) and how many TRUE alias pairs still
    land in a shared block (PC = covered / true). Run per build against
    a labeled sample; a PC drop means the banding parameters no longer
    fit the alias distribution, BEFORE it silently degrades the KG.

    ``truth`` maps normalized surfaces to gold entity ids; true pairs
    are distinct same-entity (norm_a < norm_b) pairs. All heavy steps
    are the production blocking path itself (lsh_bands/candidate_pairs)
    plus one labeled self-join; only scalar counts reach the driver.
    """
    s = surfaces.select(F.col(col).alias("norm")).distinct()
    n = s.count()
    # candidate_pairs orders by nid (hash64), true pairs lexicographically
    # — re-canonicalize on the norms so the coverage join keys agree
    cands = cut_lineage(
        candidate_pairs(lsh_bands(s)).select(
            F.least("norm_a", "norm_b").alias("norm_a"),
            F.greatest("norm_a", "norm_b").alias("norm_b"),
        )
    )
    t = truth.select(
        F.col(truth_key).alias("_eid"), F.col(truth_col).alias("norm")
    ).distinct()
    tp = (
        t.alias("l")
        .join(t.alias("r"), "_eid")
        .where(F.col("l.norm") < F.col("r.norm"))
        .select(
            F.col("l.norm").alias("norm_a"), F.col("r.norm").alias("norm_b")
        )
        .distinct()
    )
    n_true = tp.count()
    n_cand = cands.count()
    n_cov = tp.join(cands, ["norm_a", "norm_b"], "left_semi").count()
    all_pairs = n * (n - 1) // 2
    return local_frame(
        surfaces.sparkSession,
        [(
            n, n_cand, n_true, n_cov,
            round(1.0 - (n_cand / all_pairs), 6) if all_pairs else 1.0,
            round(n_cov / n_true, 6) if n_true else 1.0,
        )],
        "n_surfaces long, n_candidates long, n_true_pairs long, "
        "n_covered long, reduction_ratio double, pair_completeness double",
    )
