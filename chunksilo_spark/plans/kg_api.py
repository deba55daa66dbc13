"""The KG-side query surface over the materialized pipeline tables — the
entity-graph analog of `plans/search_api.py`.

The reference's one query surface is document search (reference
``search.py:1333-1430``). Once the pipeline has materialized
``nodes(canon_id, canon_surface, n_mentions, n_urls)`` and
``edges(subj_canon_id, subj_canon, pred, obj_canon_id, obj_canon,
support, n_urls)``, a KG user asks three more questions, each answered
here as a declarative plan over those tables:

  * "what do we know about X" — :func:`entity_lookup` +
    :func:`neighborhood` (1-hop facts with their evidence counts);
  * "which entity pairs satisfy this conjunction" — :func:`answer_bgp`
    (the SPARQL-BGP core, `operators/bgp.bgp_match` over the edge
    relation, with a minimum-support floor so one bad extraction can't
    fabricate an answer);
  * "what matters around X" — :func:`related_entities` (personalized
    PageRank seeded at the entity, support-weighted seeds).

Scale shape: every function is a filter/join plan over the materialized
tables — at 10^12 triples the edges table is bucketed by
``subj_canon_id`` (see tests/test_bucketing.py: subject-star BGP joins
then run with ZERO Exchange) and lookups push `canon_surface` /
`pred` equality into the scan. Nothing here collects more than the
caller's top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import graph as _graph
from ..operators.bgp import bgp_match
from ..session import local_frame

__all__ = [
    "entity_lookup",
    "neighborhood",
    "answer_bgp",
    "property_path",
    "related_entities",
]


def entity_lookup(nodes: DataFrame, surface: str) -> DataFrame:
    """Canonical entities whose surface matches ``surface``
    case-insensitively -> nodes rows, best-attested first. The entity-id
    resolution step every other call starts from; equality pushes into
    the nodes scan."""
    return nodes.where(
        F.lower(F.col("canon_surface")) == surface.strip().lower()
    ).orderBy(F.col("n_mentions").desc(), F.col("canon_id").asc())


def neighborhood(
    edges: DataFrame,
    canon_ids: list[int],
    direction: str = "both",
    min_support: int = 1,
) -> DataFrame:
    """All facts touching the given entities -> edge rows plus a ``role``
    column ('subj' / 'obj' — which side the queried entity is on).
    ``direction``: 'out' (entity as subject), 'in' (as object), 'both'.
    The literal id list is a pushed IN-filter — no join, one scan."""
    if direction not in ("out", "in", "both"):
        raise ValueError(f"bad direction {direction!r}")
    out = edges.where(F.col("subj_canon_id").isin(canon_ids)).withColumn(
        "role", F.lit("subj")
    )
    inn = edges.where(F.col("obj_canon_id").isin(canon_ids)).withColumn(
        "role", F.lit("obj")
    )
    picked = (
        out if direction == "out" else inn if direction == "in"
        else out.unionByName(inn)
    )
    return picked.where(F.col("support") >= F.lit(min_support))


def answer_bgp(
    edges: DataFrame,
    patterns,
    select: list[str] | None = None,
    filters=None,
    min_support: int = 1,
) -> DataFrame:
    """Conjunctive entity-pattern query over the aggregated edge table.

    Patterns are (subj, pred, obj) triples over canon ids / predicate
    strings with ``?var`` variables (`operators/bgp.bgp_match`
    semantics, set semantics — the edge table is already aggregated).
    Edges below ``min_support`` are excluded BEFORE matching, so a
    single unverified extraction cannot satisfy a pattern.
    """
    rel = edges.where(F.col("support") >= F.lit(min_support)).select(
        F.col("subj_canon_id").alias("subj"),
        F.col("pred"),
        F.col("obj_canon_id").alias("obj"),
    )
    return bgp_match(rel, patterns, select=select, filters=filters, distinct=True)


def property_path(
    edges: DataFrame,
    pred: str,
    max_depth: int = 4,
    min_support: int = 1,
) -> DataFrame:
    """SPARQL property-path ``pred+`` (one-or-more), depth-bounded ->
    (src, dst, dist): transitive reachability along ONE predicate — the
    is-a / part-of / located-in ancestor query — materialized via
    `operators/graph.bounded_closure`'s iterated squaring. Support-
    filtered like :func:`answer_bgp`, for the same evidence reason."""
    rel = edges.where(
        (F.col("pred") == F.lit(pred))
        & (F.col("support") >= F.lit(min_support))
    ).select(
        F.col("subj_canon_id").alias("src"), F.col("obj_canon_id").alias("dst")
    )
    return _graph.bounded_closure(rel, max_depth=max_depth)


def related_entities(
    edges: DataFrame,
    seed_ids: list[int],
    k: int = 20,
    iters: int = 3,
    min_support: int = 1,
) -> DataFrame:
    """Entities that matter around the seeds -> (node, rank) top-k:
    personalized PageRank over the undirected-ized canon edge graph,
    seeds weighted equally. The KG "related entities" ranking — rank
    mass flows out from the seed set along well-attested edges."""
    rel = edges.where(F.col("support") >= F.lit(min_support))
    und = rel.select(
        F.col("subj_canon_id").alias("src"),
        F.col("obj_canon_id").alias("dst"),
        F.col("support").alias("w"),
    ).unionByName(
        rel.select(
            F.col("obj_canon_id").alias("src"),
            F.col("subj_canon_id").alias("dst"),
            F.col("support").alias("w"),
        )
    )
    seeds = local_frame(
        edges.sparkSession,
        [(int(s), 1.0) for s in seed_ids], "node long, weight double",
    )
    # evidence-weighted walk: rank follows attestation, not edge count
    ranks = _graph.personalized_pagerank(
        und, seeds, iters=iters, edge_weight_col="w"
    )
    return _graph.rank_topk(ranks, k)
