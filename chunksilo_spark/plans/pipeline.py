"""The extract -> link -> canonicalize -> materialize DAG with
checkpointed, resumable stage boundaries (north-star stage 4).

Each stage writes its output table, reads it back with the schema in its
own footer, replaces the table's lineage file with one row per written file
(from the footers, plans/lineage.py), then marks the stage complete in the
store manifest keyed by an input fingerprint. Everything after the write is
driver-side metadata: a stage costs its own Spark jobs and no bookkeeping
jobs.

A resumed run (same fingerprint) reads the materialized table instead of
recomputing — the reference's "run again to continue" semantics
(index.py:1681-1696) at stage granularity. Killing the job between stages
and rerunning produces byte-identical final tables (tested).

Stage graph:
    pages ──1──> documents ──┬──> chunks                      (retrieval surface)
                             ├──2──> mentions ──> linked
                             └──3──> raw_triples ─┐
    linked ──(distinct surfaces)──> canon_map ────┴──> triples
    triples ──4──> nodes, edges, lineage
    pages ──5 (opt)──> outlinks ──> web_edges ──> web_rank   (link graph)
                 └──> web_anchors ──> web_aliases       (anchor aliases)

The graph is declared once, as the stage list ``_STAGES``: the build
(``run_pipeline``) and the refresh (``apply_increment``) both walk it.
"""

from __future__ import annotations

import inspect
import os
import time
from functools import partial
from typing import Callable, NamedTuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpointing import cut_lineage
from ..operators import canon as canon_ops
from ..operators import graph as g
from ..operators import stage1_extract as s1
from ..operators import stage2_link as s2
from ..operators import stage3_triples as s3
from ..operators.retrieval import chunks_with_embeddings
from ..sources.storage import TableStore
from .lineage import LINEAGE_SCHEMA, record_lineage


def _canon_from_linked(
    aliases: DataFrame, linked_mentions: DataFrame
) -> DataFrame:
    """canon_map over dictionary aliases ∪ linked mention surfaces."""
    surfaces = aliases.select(F.col("alias").alias("s")).unionByName(
        linked_mentions.select(F.col("surface").alias("s"))
    )
    surfaces = canon_ops.normalize_column(surfaces.distinct(), "s").distinct()
    return canon_ops.canon_map(surfaces)


def _build_triples(
    raw_triples: DataFrame, linked_mentions: DataFrame, canon_map: DataFrame
) -> DataFrame:
    return s3.canonical_triples(
        raw_triples, s3.linked_surfaces(linked_mentions), canon_map
    )


def _build_nodes(triples: DataFrame) -> DataFrame:
    """Distinct canonical entities with mention statistics."""
    subj = triples.select(
        F.col("subj_canon_id").alias("canon_id"),
        F.col("subj_canon").alias("canon_surface"),
        F.col("url"),
    )
    obj = triples.select(
        F.col("obj_canon_id").alias("canon_id"),
        F.col("obj_canon").alias("canon_surface"),
        F.col("url"),
    )
    return (
        subj.unionByName(obj)
        .groupBy("canon_id", "canon_surface")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.countDistinct("url").alias("n_urls"),
        )
    )


def _build_edges(triples: DataFrame) -> DataFrame:
    """Aggregated edge table with support counts."""
    return triples.groupBy(
        "subj_canon_id", "subj_canon", "pred", "obj_canon_id", "obj_canon"
    ).agg(
        F.count(F.lit(1)).alias("support"),
        F.countDistinct("url").alias("n_urls"),
    )


def _build_web_edges(outlinks: DataFrame, documents: DataFrame) -> DataFrame:
    """Intra-crawl edges: outlinks whose target is a crawled url (the
    documents table carries every crawled url, quarantined or not). Shares
    graph.restrict_to_targets with the bench's crawl_edges path, so the
    measured operator and the materialized table cannot drift apart."""
    return g.restrict_to_targets(
        outlinks.select(F.col("url").alias("src"), "dst"),
        documents.select("url"),
    )


def _build_web_rank(web_edges: DataFrame, pagerank_iters: int) -> DataFrame:
    ranks = g.pagerank(web_edges, iters=pagerank_iters)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _build_web_aliases(web_anchors: DataFrame) -> DataFrame:
    """Anchor-text alias candidates: top-3 anchors per target url
    (graph.alias_candidates over the row-level web_anchors table). The
    corpus-derived complement of the broadcast alias dictionary —
    candidate surface forms for entities whose home urls the crawl links
    to. Unlike web_edges this is NOT restricted to crawled urls: the whole
    point is naming things the crawl points AT (kb-style targets)."""
    return g.alias_candidates(web_anchors.withColumnRenamed("url", "src"), k=3)


class _Stage(NamedTuple):
    """One stage of the DAG. ``build``'s parameters name its inputs: an
    upstream table, or one of the run's own inputs (``pages``, ``aliases``,
    ``alias_bc``, ``partitions``, ``pagerank_iters``)."""

    name: str  # the manifest's stage name
    table: str
    key: str  # the column each lineage row bounds
    role: str  # "row": a refresh maintains it by url; "global": rebuilt
    build: Callable[..., DataFrame]
    link_graph: bool = False  # materialized only with link_graph=True

    @property
    def inputs(self) -> tuple[str, ...]:
        return tuple(inspect.signature(self.build).parameters)

    def run(self, tables: dict) -> DataFrame:
        return self.build(**{n: tables[n] for n in self.inputs})


# in dependency order. Operators are called through their modules, so the
# function a stage runs is looked up when it runs.
_STAGES = (
    _Stage("stage1_extract", "documents", "url", "row",
           lambda pages, partitions: s1.extract_documents(pages, partitions)),
    # chunks carry their embeddings: this table IS the vector index (the
    # reference's persisted VectorStoreIndex, SURVEY §1.3) — query it with
    # operators/retrieval.search_index
    _Stage("stage1_chunk", "chunks", "url", "row",
           lambda documents: chunks_with_embeddings(documents)),
    _Stage("stage1_quarantine", "quarantine", "url", "row",
           lambda documents: s1.quarantine(documents)),
    _Stage("stage2_mentions", "mentions", "url", "row",
           lambda documents: s2.detect_mentions(documents)),
    _Stage("stage2_linked", "linked_mentions", "url", "row",
           lambda mentions, alias_bc: s2.link_mentions(mentions, alias_bc)),
    _Stage("stage3_raw_triples", "raw_triples", "url", "row",
           lambda documents: s3.extract_raw_triples(documents)),
    # canonicalization is a global fixpoint: a changed page can merge or
    # split entity clusters corpus-wide
    _Stage("stage3_canon", "canon_map", "norm", "global", _canon_from_linked),
    _Stage("stage3_triples", "triples", "url", "global", _build_triples),
    _Stage("stage4_nodes", "nodes", "canon_id", "global", _build_nodes),
    _Stage("stage4_edges", "edges", "subj_canon_id", "global", _build_edges),
    # every resolved href of the extractable pages: a function of each page
    _Stage("stage5_outlinks", "outlinks", "url", "row",
           lambda pages: g.extract_outlinks(pages, strict_utf8=True)
           .withColumnRenamed("src", "url"), link_graph=True),
    # global like triples: a new page can turn an old page's dead link into
    # an edge
    _Stage("stage5_web_edges", "web_edges", "src", "global", _build_web_edges,
           link_graph=True),
    # rank rounded to 6dp so the stored table is reproducible across
    # partitionings
    _Stage("stage5_web_rank", "web_rank", "node", "global", _build_web_rank,
           link_graph=True),
    _Stage("stage5_web_anchors", "web_anchors", "url", "row",
           lambda pages: g.anchor_edges(pages, strict_utf8=True)
           .withColumnRenamed("src", "url"), link_graph=True),
    _Stage("stage5_web_aliases", "web_aliases", "dst", "global",
           _build_web_aliases, link_graph=True),
)


def _stages(link_graph: bool) -> list[_Stage]:
    return [s for s in _STAGES if link_graph or not s.link_graph]


def _returned(tables: dict, stages: list[_Stage]) -> dict[str, DataFrame]:
    """The stages' tables by name; ``linked_mentions`` is returned as
    ``linked``."""
    return {
        "linked" if s.table == "linked_mentions" else s.table: tables[s.table]
        for s in stages
    }


def _convert_legacy_lineage(store: TableStore) -> None:
    """Convert a lineage directory written before lineage came from the
    footers. Its Spark-appended ``part-*`` files hold the build's rows
    (stale after a refresh, doubled after a rebuild) and nothing else
    replaces them. Every table the manifest names gets its lineage file from
    its footers, under the stage that last wrote it; then the old files
    (with ``_SUCCESS`` and the ``.crc`` files) are deleted. Driver-only; a
    no-op on a directory without them."""
    lineage_dir = store.path("lineage")
    try:
        old = [n for n in os.listdir(lineage_dir)
               if n.lstrip(".").startswith(("part-", "_SUCCESS"))]
    except FileNotFoundError:
        return
    if not old:
        return
    keys = {s.table: s.key for s in _STAGES}
    writer = {}  # table -> the stage that wrote it last
    stages = store.manifest()["stages"]
    for stage, entry in sorted(
        stages.items(), key=lambda kv: kv[1].get("completed_at", 0)
    ):
        if entry.get("table") in keys:
            writer[entry["table"]] = stage
    for table, stage in writer.items():
        if os.path.isdir(store.path(table)):
            record_lineage(store.path(table), lineage_dir, table, stage,
                           keys[table])
    for name in old:
        os.remove(os.path.join(lineage_dir, name))


def _materialize(
    store: TableStore,
    spark: SparkSession,
    stage: str,
    table: str,
    fingerprint: str,
    build,
    key_col: str,
    resume: bool = True,
) -> DataFrame:
    """Run one resumable stage: build -> write table -> read it back ->
    lineage -> mark. Only ``build`` and the write run Spark jobs: the
    read-back takes its schema from the footer (``TableStore.read``) and
    the lineage rows come from the footers (``record_lineage``)."""
    if (
        resume
        and store.stage_complete(stage, fingerprint)
        and store.exists(table, spark)
    ):
        return store.read(spark, table)
    t0 = time.time()
    df = build()
    store.write(df, table)
    out = store.read(spark, table)
    record_lineage(
        store.path(table), store.path("lineage"), table, stage, key_col
    )
    store.mark_complete(
        stage, fingerprint, table=table, wall_s=round(time.time() - t0, 3)
    )
    return out


def _run_inputs(spark, aliases, partitions, pagerank_iters) -> dict:
    """The run's inputs, other than ``pages``, that a builder may name."""
    return {"aliases": aliases,
            "alias_bc": s2.build_alias_broadcast(spark, aliases),
            "partitions": partitions, "pagerank_iters": pagerank_iters}


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame,
    out_dir: str,
    fingerprint: str = "v1",
    resume: bool = True,
    partitions: int | None = None,
    link_graph: bool = False,
    pagerank_iters: int = 5,
) -> dict[str, DataFrame]:
    """Run all four stages; returns the materialized DataFrames by name.

    With ``link_graph`` five more tables materialize beside the entity
    graph: ``outlinks`` (row-level per page: every resolved href of the
    extractable pages — a pure function of each page, so incrementally
    maintainable by url), ``web_edges`` (outlinks restricted to crawled
    targets — GLOBAL: a new page can turn an old page's dead link into an
    edge, so it rebuilds from the maintained inputs like triples),
    ``web_rank`` (PageRank over web_edges, rank rounded to 6dp so the
    stored table is reproducible across partitionings), ``web_anchors``
    (row-level text-bearing anchors per page, maintainable by url), and
    ``web_aliases`` (top-k anchor texts per target url — GLOBAL rollup of
    web_anchors, the corpus-derived alias-candidate dictionary)."""
    store = TableStore(out_dir)
    _convert_legacy_lineage(store)
    tables = {"pages": pages,
              **_run_inputs(spark, aliases, partitions, pagerank_iters)}
    stages = _stages(link_graph)
    for s in stages:
        tables[s.table] = _materialize(
            store, spark, s.name, s.table, fingerprint,
            partial(s.run, tables), s.key, resume,
        )
    out = _returned(tables, stages)
    out["lineage"] = spark.read.schema(LINEAGE_SCHEMA).parquet(
        store.path("lineage")
    )
    return out


def apply_increment(
    spark: SparkSession,
    new_pages: DataFrame,
    aliases: DataFrame,
    out_dir: str,
    fingerprint: str,
    partitions: int | None = None,
    delete_missing: bool = True,
    link_graph: bool = False,
    pagerank_iters: int = 5,
) -> dict[str, DataFrame]:
    """Apply a new page snapshot to an existing materialized pipeline state —
    the reference's incremental reindex (index.py:1491-1585: classify vs the
    ledger, delete removed files' docs, re-ingest changed ones) distributed.
    It walks the same stage list as ``run_pipeline``, row-level stages
    first:

      1. one full-outer ``change_log`` of the snapshot's content hashes vs
         the documents table (the ledger analog — content_md5 is stored
         per url at extract time);
      2. each row-level stage (documents/chunks/quarantine/mentions/linked/
         raw_triples, and outlinks/web_anchors) is built ONLY over the
         frontier (new ∪ modified pages), so the expensive stage-1/2/3
         Python UDFs see nothing else; a fresh relation a later row-level
         stage reads is persisted, so its UDF runs once;
      3. the row-level table is maintained by url: anti-join out stale ∪
         deleted urls, union the fresh rows. A row-level table the state
         lacks (e.g. ``link_graph`` turned on after the build) is built
         from the full snapshot;
      4. each corpus-GLOBAL stage (canon_map, triples, nodes, edges, and
         web_edges/web_rank/web_aliases) is rebuilt from the read-backs of
         the maintained tables — canonicalization is a global fixpoint, so
         recomputing it from the dictionary-sized surface set is the
         correct and cheap choice at any scale.

    Every replaced table's lineage file is rewritten from its new footers
    under stage ``incr_<table>`` (the manifest's name for the step), so
    lineage describes the refreshed tables, not the build's.

    The result is equal to running the full pipeline from scratch on the new
    snapshot (tested row-for-row in tests/test_incremental.py).

    ``delete_missing=False`` switches to DELTA semantics (upsert): the input
    is a batch of new/re-crawled pages rather than a complete snapshot, so
    absence proves nothing and no rows are deleted — the mode used by the
    streaming maintenance surface (streaming.ingest
    .start_incremental_maintenance), where each micro-batch is a delta. A
    delta cannot build a missing row-level table, so that raises
    ``ValueError``."""
    from ..operators import incremental as incr

    store = TableStore(out_dir)
    _convert_legacy_lineage(store)
    # all row-level tables swap before the global rebuild, which reads only
    # the maintained tables and so can always be redone
    stages = sorted(_stages(link_graph), key=lambda s: s.role != "row")
    missing = {s.table for s in stages
               if s.role == "row" and not store.exists(s.table, spark)}
    if missing and not delete_missing:
        raise ValueError(
            "delta mode cannot build the missing table(s) "
            f"{', '.join(sorted(missing))} from a partial batch — run "
            f"run_pipeline(..., link_graph={link_graph}) once over the full "
            "corpus first"
        )
    old_docs = store.read(spark, "documents")
    snap = incr.with_content_hash(new_pages)
    log = incr.change_log(
        snap.select("url", "content_md5"),
        old_docs.select("url", "content_md5"),
    )
    log = cut_lineage(log)  # consumed by several branches below

    frontier_urls = log.where(
        F.col("change").isin("new", "modified")
    ).select("url")
    gone_classes = ["modified", "deleted"] if delete_missing else ["modified"]
    gone_urls = log.where(F.col("change").isin(*gone_classes)).select("url")

    inputs = _run_inputs(spark, aliases, partitions, pagerank_iters)
    frontier_pages = new_pages.join(frontier_urls, "url", "left_semi")
    fresh = {**inputs, "pages": frontier_pages}
    full = {**inputs, "pages": new_pages}  # + each table read back post-swap
    reread = {n for s in stages if s.role == "row" for n in s.inputs}
    persisted = []
    try:
        for s in stages:
            if s.role == "row":
                df = fresh[s.table] = s.run(fresh)
                if s.table in reread:
                    persisted.append(df.persist(StorageLevel.MEMORY_AND_DISK))
            if s.role == "global" or s.table in missing:
                df = s.run(full)
            else:
                kept = store.read(spark, s.table).join(
                    gone_urls, "url", "left_anti"
                )
                df = kept.unionByName(df)
            # replace() stages to a side dir first, so the old contents
            # feeding the plan stay readable
            store.replace(df, s.table)
            record_lineage(store.path(s.table), store.path("lineage"),
                           s.table, f"incr_{s.table}", s.key)
            store.mark_complete(f"incr_{s.table}", fingerprint, table=s.table)
            full[s.table] = store.read(spark, s.table)
    finally:
        # the streaming surface runs one apply_increment per micro-batch:
        # without this the CacheManager would keep every batch's extract
        for df in persisted:
            df.unpersist()
    return _returned(full, stages)
