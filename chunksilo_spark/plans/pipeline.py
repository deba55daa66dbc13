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
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpointing import cut_lineage
from ..operators import canon as canon_ops
from ..operators import stage1_extract as s1
from ..operators import stage2_link as s2
from ..operators import stage3_triples as s3
from ..sources.storage import TableStore
from .lineage import LINEAGE_SCHEMA, record_lineage


# the key column each table's lineage rows bound: run_pipeline hands the same
# to _materialize; apply_increment and _convert_legacy_lineage look it up here
_LINEAGE_KEYS = {
    "documents": "url", "chunks": "url", "quarantine": "url",
    "mentions": "url", "linked_mentions": "url", "raw_triples": "url",
    "canon_map": "norm", "triples": "url", "nodes": "canon_id",
    "edges": "subj_canon_id", "outlinks": "url", "web_edges": "src",
    "web_rank": "node", "web_anchors": "url", "web_aliases": "dst",
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
    writer = {}  # table -> the stage that wrote it last
    stages = store.manifest()["stages"]
    for stage, entry in sorted(
        stages.items(), key=lambda kv: kv[1].get("completed_at", 0)
    ):
        if entry.get("table") in _LINEAGE_KEYS:
            writer[entry["table"]] = stage
    for table, stage in writer.items():
        if os.path.isdir(store.path(table)):
            record_lineage(store.path(table), lineage_dir, table, stage,
                           _LINEAGE_KEYS[table])
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

    documents = _materialize(
        store, spark, "stage1_extract", "documents", fingerprint,
        lambda: s1.extract_documents(pages, partitions), "url", resume,
    )
    # chunks carry their embeddings: this table IS the vector index
    # (the reference's persisted VectorStoreIndex, SURVEY §1.3) — query it
    # with operators/retrieval.search_index
    from ..operators.retrieval import chunks_with_embeddings

    chunks = _materialize(
        store, spark, "stage1_chunk", "chunks", fingerprint,
        lambda: chunks_with_embeddings(documents), "url", resume,
    )
    quarantined = _materialize(
        store, spark, "stage1_quarantine", "quarantine", fingerprint,
        lambda: s1.quarantine(documents), "url", resume,
    )

    alias_bc = s2.build_alias_broadcast(spark, aliases)
    mentions = _materialize(
        store, spark, "stage2_mentions", "mentions", fingerprint,
        lambda: s2.detect_mentions(documents), "url", resume,
    )
    linked = _materialize(
        store, spark, "stage2_linked", "linked_mentions", fingerprint,
        lambda: s2.link_mentions(mentions, alias_bc), "url", resume,
    )

    raw_triples = _materialize(
        store, spark, "stage3_raw_triples", "raw_triples", fingerprint,
        lambda: s3.extract_raw_triples(documents), "url", resume,
    )
    # canonicalize over dictionary aliases ∪ linked mention surfaces
    canon = _materialize(
        store, spark, "stage3_canon", "canon_map", fingerprint,
        lambda: _canon_from_linked(aliases, linked), "norm", resume,
    )

    triples = _materialize(
        store, spark, "stage3_triples", "triples", fingerprint,
        lambda: s3.canonical_triples(
            raw_triples, s3.linked_surfaces(linked), canon
        ),
        "url", resume,
    )

    nodes = _materialize(
        store, spark, "stage4_nodes", "nodes", fingerprint,
        lambda: _build_nodes(triples), "canon_id", resume,
    )
    edges = _materialize(
        store, spark, "stage4_edges", "edges", fingerprint,
        lambda: _build_edges(triples), "subj_canon_id", resume,
    )

    out = {
        "documents": documents,
        "chunks": chunks,
        "quarantine": quarantined,
        "mentions": mentions,
        "linked": linked,
        "raw_triples": raw_triples,
        "canon_map": canon,
        "triples": triples,
        "nodes": nodes,
        "edges": edges,
    }

    if link_graph:
        from ..operators import graph as g

        outlinks = _materialize(
            store, spark, "stage5_outlinks", "outlinks", fingerprint,
            lambda: g.extract_outlinks(pages, strict_utf8=True)
            .withColumnRenamed("src", "url"),
            "url", resume,
        )
        web_edges = _materialize(
            store, spark, "stage5_web_edges", "web_edges", fingerprint,
            lambda: _build_web_edges(outlinks, documents), "src", resume,
        )
        out["outlinks"] = outlinks
        out["web_edges"] = web_edges
        out["web_rank"] = _materialize(
            store, spark, "stage5_web_rank", "web_rank", fingerprint,
            lambda: _build_web_rank(web_edges, pagerank_iters), "node", resume,
        )
        web_anchors = _materialize(
            store, spark, "stage5_web_anchors", "web_anchors", fingerprint,
            lambda: g.anchor_edges(pages, strict_utf8=True)
            .withColumnRenamed("src", "url"),
            "url", resume,
        )
        out["web_anchors"] = web_anchors
        out["web_aliases"] = _materialize(
            store, spark, "stage5_web_aliases", "web_aliases", fingerprint,
            lambda: _build_web_aliases(web_anchors), "dst", resume,
        )

    out["lineage"] = spark.read.schema(LINEAGE_SCHEMA).parquet(
        store.path("lineage")
    )
    return out


def _canon_from_linked(aliases: DataFrame, linked: DataFrame) -> DataFrame:
    """canon_map over dictionary aliases ∪ linked mention surfaces."""
    surfaces = aliases.select(F.col("alias").alias("s")).unionByName(
        linked.select(F.col("surface").alias("s"))
    )
    surfaces = canon_ops.normalize_column(surfaces.distinct(), "s").distinct()
    return canon_ops.canon_map(surfaces)


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
    ledger, delete removed files' docs, re-ingest changed ones) distributed:

      1. one full-outer ``change_log`` of the snapshot's content hashes vs
         the documents table (the ledger analog — content_md5 is stored
         per url at extract time);
      2. the expensive stage-1/2/3 Python UDFs run ONLY on the frontier
         (new ∪ modified pages);
      3. row-level tables (documents/chunks/quarantine/mentions/linked/
         raw_triples) are maintained by url: anti-join out stale ∪ deleted
         urls, union the freshly extracted rows;
      4. corpus-GLOBAL tables (canon_map, triples, nodes, edges) are rebuilt
         from the maintained inputs — canonicalization is a global fixpoint
         (a changed page can merge/split entity clusters corpus-wide), so
         recomputing it from the dictionary-sized surface set is the correct
         and cheap choice at any scale.

    Every replaced table's lineage file is rewritten from its new footers
    under stage ``incr_<table>`` (the manifest's name for the step), so
    lineage describes the refreshed tables, not the build's.

    The result is equal to running the full pipeline from scratch on the new
    snapshot (tested row-for-row in tests/test_incremental.py).

    ``delete_missing=False`` switches to DELTA semantics (upsert): the input
    is a batch of new/re-crawled pages rather than a complete snapshot, so
    absence proves nothing and no rows are deleted — the mode used by the
    streaming maintenance surface (streaming.ingest
    .start_incremental_maintenance), where each micro-batch is a delta."""
    from ..operators import incremental as incr
    from ..operators.retrieval import chunks_with_embeddings

    store = TableStore(out_dir)
    _convert_legacy_lineage(store)
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

    frontier_pages = new_pages.join(frontier_urls, "url", "left_semi")
    from pyspark import StorageLevel

    # persisted: feeds documents/chunks/mentions/raw_triples — without it the
    # Python extract would re-run once per consumer
    fresh_docs = s1.extract_documents(frontier_pages, partitions).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    try:

        def maintain(table: str, fresh: DataFrame) -> DataFrame:
            kept = store.read(spark, table).join(gone_urls, "url", "left_anti")
            return kept.unionByName(fresh)

        documents = maintain("documents", fresh_docs)
        chunks = maintain("chunks", chunks_with_embeddings(fresh_docs))
        quarantined = maintain("quarantine", s1.quarantine(fresh_docs))
        fresh_mentions = s2.detect_mentions(fresh_docs)
        mentions = maintain("mentions", fresh_mentions)
        alias_bc = s2.build_alias_broadcast(spark, aliases)
        linked = maintain(
            "linked_mentions", s2.link_mentions(fresh_mentions, alias_bc)
        )
        raw_triples = maintain("raw_triples", s3.extract_raw_triples(fresh_docs))

        row_level = [
            ("documents", documents),
            ("chunks", chunks),
            ("quarantine", quarantined),
            ("mentions", mentions),
            ("linked_mentions", linked),
            ("raw_triples", raw_triples),
        ]
        if link_graph:
            from ..operators import graph as g

            if store.exists("outlinks", spark):
                fresh_links = g.extract_outlinks(
                    frontier_pages, strict_utf8=True
                ).withColumnRenamed("src", "url")
                out_links = maintain("outlinks", fresh_links)
            elif delete_missing:
                # state predates the link-graph stage; a full snapshot can
                # bootstrap the table from scratch (a frontier alone cannot
                # — unchanged pages' links would be missing)
                out_links = g.extract_outlinks(
                    new_pages, strict_utf8=True
                ).withColumnRenamed("src", "url")
            else:
                raise ValueError(
                    "link_graph=True but no materialized 'outlinks' table, "
                    "and delta mode cannot bootstrap it from a partial "
                    "batch — run run_pipeline(..., link_graph=True) once "
                    "over the full corpus first"
                )
            row_level.append(("outlinks", out_links))
            if store.exists("web_anchors", spark):
                anchors_tab = maintain(
                    "web_anchors",
                    g.anchor_edges(frontier_pages, strict_utf8=True)
                    .withColumnRenamed("src", "url"),
                )
            elif delete_missing:
                anchors_tab = g.anchor_edges(
                    new_pages, strict_utf8=True
                ).withColumnRenamed("src", "url")
            else:
                raise ValueError(
                    "link_graph=True but no materialized 'web_anchors' "
                    "table, and delta mode cannot bootstrap it from a "
                    "partial batch — run run_pipeline(..., "
                    "link_graph=True) once over the full corpus first"
                )
            row_level.append(("web_anchors", anchors_tab))

        # row-level tables replace in dependency order (replace() stages to a
        # side dir first, so the old contents feeding the plans stay readable)
        for name, df in row_level:
            store.replace(df, name)
            record_lineage(store.path(name), store.path("lineage"), name,
                           f"incr_{name}", _LINEAGE_KEYS[name])
            store.mark_complete(f"incr_{name}", fingerprint, table=name)
    finally:
        # every consumer has materialized by the last replace(); without this
        # the streaming surface (one apply_increment per micro-batch) would
        # accumulate one cached extract per batch in the CacheManager
        fresh_docs.unpersist()

    # global rebuild from the maintained tables (read back post-swap)
    linked_v2 = store.read(spark, "linked_mentions")
    raw_v2 = store.read(spark, "raw_triples")
    canon = _canon_from_linked(aliases, linked_v2)
    store.replace(canon, "canon_map")
    canon_v2 = store.read(spark, "canon_map")
    triples = s3.canonical_triples(raw_v2, s3.linked_surfaces(linked_v2), canon_v2)
    store.replace(triples, "triples")
    triples_v2 = store.read(spark, "triples")
    store.replace(_build_nodes(triples_v2), "nodes")
    store.replace(_build_edges(triples_v2), "edges")
    global_tables = ["canon_map", "triples", "nodes", "edges"]
    if link_graph:
        # web_edges/web_rank are global like triples: a frontier page can
        # validate an old page's previously-dead link, so rebuild from the
        # maintained outlinks + documents tables
        outlinks_v2 = store.read(spark, "outlinks")
        docs_v2 = store.read(spark, "documents")
        store.replace(_build_web_edges(outlinks_v2, docs_v2), "web_edges")
        web_edges_v2 = store.read(spark, "web_edges")
        store.replace(_build_web_rank(web_edges_v2, pagerank_iters), "web_rank")
        anchors_v2 = store.read(spark, "web_anchors")
        store.replace(_build_web_aliases(anchors_v2), "web_aliases")
        global_tables += ["web_edges", "web_rank", "web_aliases"]
    for name in global_tables:
        record_lineage(store.path(name), store.path("lineage"), name,
                       f"incr_{name}", _LINEAGE_KEYS[name])
        store.mark_complete(f"incr_{name}", fingerprint, table=name)

    names = [
        "documents", "chunks", "quarantine", "mentions",
        "raw_triples", "canon_map", "triples", "nodes", "edges",
    ]
    if link_graph:
        names += ["outlinks", "web_edges", "web_rank", "web_anchors",
                  "web_aliases"]
    out = {name: store.read(spark, name) for name in names}
    out["linked"] = store.read(spark, "linked_mentions")  # run_pipeline's key
    return out


def _build_web_edges(outlinks: DataFrame, documents: DataFrame) -> DataFrame:
    """Intra-crawl edges: outlinks whose target is a crawled url (the
    documents table carries every crawled url, quarantined or not). Shares
    graph.restrict_to_targets with the bench's crawl_edges path, so the
    measured operator and the materialized table cannot drift apart."""
    from ..operators.graph import restrict_to_targets

    return restrict_to_targets(
        outlinks.select(F.col("url").alias("src"), "dst"),
        documents.select("url"),
    )


def _build_web_aliases(web_anchors: DataFrame, k: int = 3) -> DataFrame:
    """Anchor-text alias candidates: top-k anchors per target url
    (graph.alias_candidates over the row-level web_anchors table). The
    corpus-derived complement of the broadcast alias dictionary —
    candidate surface forms for entities whose home urls the crawl links
    to. Unlike web_edges this is NOT restricted to crawled urls: the whole
    point is naming things the crawl points AT (kb-style targets)."""
    from ..operators.graph import alias_candidates

    return alias_candidates(
        web_anchors.withColumnRenamed("url", "src"), k=k
    )


def _build_web_rank(web_edges: DataFrame, iters: int) -> DataFrame:
    from ..operators import graph as g

    ranks = g.pagerank(web_edges, iters=iters)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


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
