"""Web-graph operators: outlink edges, degrees, PageRank, 2-hop reach.

The KG north star materializes node/edge tables from a Common-Crawl-style
corpus; this module adds the *link* graph beside the entity graph — the
standard web-curation signals (in-degree, PageRank) that an LLM data
pipeline uses for quality weighting and crawl-frontier ranking.

Scale shape (the 100 TB answer, per operator):

  * ``extract_outlinks`` — one codegen'd scan: ``regexp_extract_all`` on the
    decoded HTML + the href-resolution algebra as pure column expressions
    (``resolve_href_col`` — the exact twin of ``functions/urls.resolve_href``,
    see that module's pinned semantics). No Python per row, no shuffle
    except the final per-page dedup (``explode`` is map-side).
  * ``pagerank`` / ``personalized_pagerank`` — the iterative-DataFrame-join
    pattern, ONE walk loop (``_walk``) with a per-entry rank update: each
    round is one equi-join of the (pre-joined, cut) edge+degree relation
    with the current ranks, then ONE map-side-combined sum by dst that
    also zero-fills and carries each node's dangling flag and teleport
    share. Hub skew (the corpus has 30%-frequency hubs) is AQE skew-join
    territory; lineage is truncated via ``checkpointing.cut_lineage``
    (every round when a node dangles, else every second round) so plans
    stay O(1) deep regardless of iteration count — ``localCheckpoint`` by
    default, reliable ``checkpoint`` when a checkpoint dir is configured
    (``checkpointing.use_reliable_checkpoints``, the production mode: a
    lost executor makes localCheckpoint-truncated lineage unrecoverable).
    Dangling mass is a one-scalar aggregate per iteration, never a
    corpus-sized collect.
  * ``hyperball`` / ``hyperball_harmonic`` / ``hyperball_nf`` — ONE HLL
    register loop (``_hyperball_states``) yields every radius's register
    relation; the entries only finalize (the last radius, every radius,
    or a per-radius sum).
  * ``bfs_depths`` / ``approx_closeness`` / SCC's backward reach — ONE
    level-synchronous frontier (``_bfs``), keyed by nothing, by the seed
    or by the color class.
  * ``degree_topk`` / ``two_hop_counts`` — groupBy / self-join shapes that
    Catalyst already does right (partial aggregation; equi-join on dst=src).
"""

from __future__ import annotations

import sys
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import urls as U
from ..checkpointing import cut_lineage


def resolve_href_col(base: Column, href: Column) -> Column:
    """Column twin of ``functions/urls.resolve_href`` (pinned algebra there).

    Every step is a JVM built-in (``regexp_extract`` / ``regexp_replace`` /
    ``when``), so resolution runs inside whole-stage codegen; the same steps
    are ANSI-SQL-expressible (the driver oracle re-derives them in DuckDB
    with ``regexp_replace(..., 'g')``).
    """
    # \s-trim (F.trim strips spaces only; the kernel's str.strip() takes
    # tabs/newlines too) and a DOTALL fragment strip ('#.*$' would leave a
    # fragment that contains a newline behind — the kernel's split('#')
    # never does)
    h = F.regexp_replace(
        F.regexp_replace(href, f"^{U.WS_CLASS}+|{U.WS_CLASS}+$", ""),
        r"(?s)#.*$", "",
    )
    origin = F.regexp_extract(base, r"^(https?://[^/]+)", 1)
    scheme = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    # path part of the base dir (origin stripped): '..' collapse runs on
    # the path ONLY, so it can never consume the authority
    base_dir_path = F.regexp_replace(
        F.regexp_replace(base, r"[^/]*$", ""), r"^https?://[^/]+", ""
    )

    def norm(p: Column) -> Column:
        for _ in range(U.NORM_PASSES):
            p = F.regexp_replace(p, r"/\./", "/")
        for _ in range(U.NORM_PASSES):
            p = F.regexp_replace(p, r"/[^/]+/\.\./", "/")
        return p

    return (
        F.when(h == "", F.lit(None).cast("string"))
        .when(h.rlike("^https?://"), h)
        .when(h.rlike(U.SCHEME_RE), F.lit(None).cast("string"))
        # base must be http(s) WITH a path ('/' right after the authority);
        # mirrors the kernel's path-less-base guard — a base like
        # https://h.example would otherwise corrupt the relative branches
        .when(~base.rlike(r"^https?://[^/]+/"), F.lit(None).cast("string"))
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(origin, norm(h)))
        .otherwise(F.concat(origin, norm(F.concat(base_dir_path, h))))
    )


def _decoded_html(
    pages: DataFrame, html_col: str, strict_utf8: bool
) -> "tuple[DataFrame, Column]":
    """Shared html-column policy of extract_outlinks/anchor_edges: binary
    html reinterprets as a string via a (non-validating) cast — ``decode``
    would raise under ANSI on malformed bytes — and ``strict_utf8`` drops
    rows whose bytes are not well-formed UTF-8 (``is_valid_utf8``, pure
    JVM), matching the stage-1 quarantine policy. ONE implementation so
    the link graph and the anchor harvest can never desynchronize."""
    html_type = dict(pages.dtypes)[html_col]
    if html_type == "string":
        return pages, F.col(html_col)
    html = F.col(html_col).cast("string")
    if strict_utf8:
        pages = pages.where(F.is_valid_utf8(html))
    return pages, html


def extract_outlinks(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    strict_utf8: bool = False,
) -> DataFrame:
    """(src, dst) distinct edges from double-quoted ``href`` attributes.

    ``html`` may be binary or already a string. Binary html is reinterpreted
    as a string with a (non-validating) cast — ``decode`` would raise under
    ANSI on malformed bytes, and the href substrings are ASCII either way.
    With ``strict_utf8`` pages whose bytes are not well-formed UTF-8 are
    dropped (``is_valid_utf8``, pure JVM), matching the stage-1 quarantine
    policy so the link graph covers exactly the extractable pages.
    """
    pages, html = _decoded_html(pages, html_col, strict_utf8)
    hrefs = F.regexp_extract_all(html, F.lit(U.HREF_RE), 1)
    return (
        pages.select(F.col(url_col).alias("src"), F.explode(hrefs).alias("href"))
        .select("src", resolve_href_col(F.col("src"), F.col("href")).alias("dst"))
        .where(F.col("dst").isNotNull())
        .distinct()
    )


def restrict_to_targets(edges: DataFrame, target_urls: DataFrame) -> DataFrame:
    """Keep only edges whose dst is in ``target_urls`` (single url column) —
    the one restriction semantics shared by crawl_edges and the pipeline's
    web_edges stage, so the benchmarked operator IS the materialized one.
    A left-semi join on the url key (at 100 TB both sides hash-partition on
    url, the same key the corpus is already bucketed by)."""
    targets = target_urls.select(
        F.col(target_urls.columns[0]).alias("dst")
    ).distinct()
    return edges.join(targets, "dst", "left_semi").select("src", "dst")


def crawl_edges(
    pages: DataFrame,
    url_col: str = "url",
    target_urls: DataFrame | None = None,
) -> DataFrame:
    """Intra-crawl link graph: outlinks of extractable (strict-UTF8) pages
    restricted to targets that exist in the crawl (default: the pages' own
    url set; pass ``target_urls`` to restrict against another table, e.g.
    the documents ledger) — the edge table PageRank and degree stats run
    on."""
    if target_urls is None:
        target_urls = pages.select(url_col)
    return restrict_to_targets(
        extract_outlinks(pages, url_col=url_col, strict_utf8=True),
        target_urls,
    )


def degree_topk(
    edges: DataFrame, k: int = 20, direction: str = "in"
) -> DataFrame:
    """Top-``k`` nodes by in- (or out-) degree; ties broken by node asc so
    the cutoff is deterministic across engines and partitionings."""
    key = "dst" if direction == "in" else "src"
    return (
        edges.groupBy(F.col(key).alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy(F.col("degree").desc(), F.col("node").asc())
        .limit(k)
    )


def _walk(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str | None,
    iters: int,
    start,
    update,
) -> DataFrame:
    """The random-walk loop of :func:`pagerank` and
    :func:`personalized_pagerank` -> (node, rank).

    Edges with weight <= 0 (or null) are dropped first; unweighted edges
    weigh 1.0, so ``inv_deg = w_uv / sum_u w`` is ``1/outdeg`` exactly (a
    double sum of ones is an exact integer). The edge relation is
    pre-joined with out-degrees ONCE and cut; the node relation carries
    each node's static dangling flag ``_dg``. ``start(nodes, n)`` turns
    the node relation into the rank-0 relation (node, rank, _dg, ...) or
    returns None when there is nothing to walk; every column past
    ``rank`` (the teleport share ``_reset`` of the personalized walk)
    rides along unchanged. ``update(c, dang, n)`` is the entry's
    rank-update expression over the summed contribution ``c`` and the
    dangling mass ``dang`` (None when no node dangles).

    Per-round plan shape (optimization round 6): contributions are
    zero-filled by unioning a static (node, 0.0) relation into the ONE
    contribution aggregation — the same sum (adding 0.0 is exact in
    IEEE), no ``nodes LEFT JOIN contrib`` exchange. The carried columns
    re-enter through the zero rows (contribution rows carry null, which
    ``max`` ignores), so the dangling mass is a 1-row filter+agg on the
    rank relation, broadcast-cross-joined into the update: it stays in
    the plan, with no per-round driver collect and no semi-join.

    Lineage is cut every round when a node dangles: the 1-row mass
    aggregate is a broadcast-subquery stage, and against a lazy previous
    round it races the contribution join into duplicate computation
    (measured 2x slower on the bench link graph), while an eagerly
    materialized round is read, not raced. Without dangling nodes the
    rank relation has one consumer, so every second round and the last
    are cut.
    """
    # materialize the edge relation ONCE: degrees, the contribution join
    # and the node set all derive from it, and a live upstream plan (e.g.
    # the outlink extraction regex) would otherwise recompute per consumer
    w = F.lit(1.0) if weight_col is None else F.col(weight_col).cast("double")
    edges = cut_lineage(
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
            w.alias("_w"),
        ).where(F.col("_w") > 0)
    )
    # contribution edges: (src, dst, w/W), built once, lineage cut; the
    # SMJ build leaves it hash-partitioned AND sorted on src, which
    # LogicalRDD preserves — so the per-round contribution join only
    # exchanges/sorts the (node, rank) side
    ed = cut_lineage(
        edges.join(
            edges.groupBy("src").agg(F.sum("_w").alias("_out_w")), "src"
        ).select("src", "dst", (F.col("_w") / F.col("_out_w")).alias("inv_deg"))
    )
    # the node set with its dangling flag in ONE aggregation: a node
    # dangles iff it never appears as a src (min(False, True) = False)
    nodes = cut_lineage(
        ed.select(F.col("src").alias("node"), F.lit(False).alias("_dg"))
        .union(ed.select(F.col("dst").alias("node"), F.lit(True).alias("_dg")))
        .groupBy("node")
        .agg(F.min("_dg").alias("_dg"))
    )
    n, has_dangling = nodes.agg(F.count(F.lit(1)), F.max("_dg")).first()
    ranks = start(nodes, n) if n else None
    if ranks is None:
        return nodes.select("node", F.lit(0.0).alias("rank")).limit(0)
    carry = ranks.columns[2:]
    zeros = ranks.select("node", F.lit(0.0).alias("_c"), *carry)
    for i in range(iters):
        contrib = ed.join(ranks, ed["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            (F.col("rank") * F.col("inv_deg")).alias("_c"),
        )
        # contribution rows carry null in the carried columns
        agg = (
            contrib.unionByName(zeros, allowMissingColumns=True)
            .groupBy("node")
            .agg(F.sum("_c").alias("_c"), *[F.max(c).alias(c) for c in carry])
        )
        dang = None
        if has_dangling:
            agg = agg.crossJoin(F.broadcast(
                ranks.where(F.col("_dg"))
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
            ))
            dang = F.col("_dang")
        ranks = agg.select(
            "node", update(F.col("_c"), dang, n).alias("rank"), *carry
        )
        if has_dangling or i % 2 == 1 or i == iters - 1:
            ranks = cut_lineage(ranks)
    return ranks.select("node", "rank")


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    init_ranks: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank by iterative DataFrame joins -> (node, rank).

    ``init_ranks`` ((node, rank), e.g. the previous build's materialized
    web_rank table) WARM-STARTS the iteration: ``rank_0 = coalesce(init,
    1/N)`` instead of the uniform vector. The update is a contraction to
    a unique fixpoint, so warm-starting changes nothing semantically —
    it resumes convergence where the last build stopped, which is the
    incremental-maintenance move at 10^12 edges (a daily delta shifts
    ranks locally; 2 warm iterations ≈ 10 cold ones). Continuation is
    EXACT: pagerank(iters=a+b) == pagerank(iters=b,
    init_ranks=pagerank(iters=a)) bit-for-bit (tested).

    ``weight_col`` makes the walk EVIDENCE-WEIGHTED: a node's rank
    flows to its out-neighbors proportionally to edge weight
    (``w_uv / sum_u w``) instead of uniformly — on a KG edge table,
    pass the ``support`` column so importance follows attestation.
    Edges with weight <= 0 (or null) are DROPPED before anything else:
    the node set is the kept edges' endpoints, and a node whose every
    OUT-edge was dropped is dangling.

    Semantics (the textbook formulation, pinned for the oracle):
      rank_0(v)    = 1/N
      rank_t+1(v)  = (1-d)/N + d*( sum_{u->v} rank_t(u)/outdeg(u)
                                   + dangling_t/N )
    where dangling_t is the total rank mass on nodes with no out-edges
    (redistributed uniformly, so sum(rank) == 1 every iteration).

    The loop, its plan shape and its lineage cuts are :func:`_walk`'s,
    shared with :func:`personalized_pagerank`; only the rank update is
    this entry's.
    """

    def start(nodes: DataFrame, n: int) -> DataFrame:
        if init_ranks is None:
            return nodes.select("node", F.lit(1.0 / n).alias("rank"), "_dg")
        return cut_lineage(
            nodes.join(
                init_ranks.select("node", F.col("rank").alias("_init")),
                "node",
                "left",
            ).select(
                "node",
                F.coalesce(F.col("_init"), F.lit(1.0 / n)).alias("rank"),
                "_dg",
            )
        )

    def update(c: Column, dang: Column | None, n: int) -> Column:
        # float op ORDER mirrors the python/SQL oracles exactly:
        # ((1-d)/n precomputed + (d * dang) / n) + d * c
        base = F.lit((1.0 - damping) / n)
        if dang is not None:
            base = base + (F.lit(damping) * dang) / F.lit(float(n))
        return base + F.lit(damping) * c

    return _walk(edges, src_col, dst_col, weight_col, iters, start, update)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    weight_col: str = "weight",
    edge_weight_col: str | None = None,
) -> DataFrame:
    """PageRank with teleport to a seed distribution -> (node, rank):
    entity importance RELATIVE to a topic — rank mass flows out from the
    seed set (a gazetteer slice, one domain's entities, a user's
    interests) instead of uniformly, the standard KG relatedness /
    recommendation primitive.

    Pinned semantics (the oracle unrolls them): ``reset(v)`` is v's
    summed seed weight (a node seeded twice counts once, with both
    weights) normalized over seeds PRESENT IN THE GRAPH (others
    dropped); ``rank_0 = reset``;
    ``rank_{t+1}(v) = (1-d)*reset(v) + d*contrib(v) + (d*dangling_t)*reset(v)``
    with exactly that term order, so dangling mass also teleports to the
    seeds. Non-seed sinks therefore leak nothing permanently; rank sums
    to 1 every iteration.

    The loop is :func:`pagerank`'s (:func:`_walk`): the reset column
    rides the node relation — one extra double per node, no extra
    shuffle — and only the rank update differs.

    ``edge_weight_col`` weights the WALK (rank flows proportionally to
    edge weight, :func:`pagerank`'s ``weight_col`` semantics — weight
    <= 0 edges dropped before the node set forms); ``weight_col``
    weights the SEEDS. Orthogonal knobs: evidence-weighted steps,
    interest-weighted teleports.
    """

    def start(nodes: DataFrame, n: int) -> DataFrame | None:
        sd = (
            seeds.groupBy(F.col(node_col).alias("node"))
            .agg(F.sum(F.col(weight_col).cast("double")).alias("_w"))
            .join(nodes, "node", "left_semi")
        )
        w_total = sd.agg(F.sum("_w")).first()[0]
        if not w_total:
            return None
        reset = F.coalesce(F.col("_w") / F.lit(float(w_total)), F.lit(0.0))
        return cut_lineage(
            nodes.join(sd, "node", "left").select(
                "node", reset.alias("rank"), "_dg", reset.alias("_reset")
            )
        )

    def update(c: Column, dang: Column | None, n: int) -> Column:
        rank = F.lit(1.0 - damping) * F.col("_reset") + F.lit(damping) * c
        if dang is not None:
            rank = rank + (F.lit(damping) * dang) * F.col("_reset")
        return rank

    return _walk(
        edges, src_col, dst_col, edge_weight_col, iters, start, update
    )


def _bfs(
    visited: DataFrame,
    edges: DataFrame,
    max_depth: int,
    keys: "list[str] | tuple[str, ...]" = (),
) -> DataFrame:
    """Level-synchronous frontier expansion shared by :func:`bfs_depths`,
    :func:`approx_closeness` and the backward reach of
    :func:`strongly_connected_components` -> ``visited`` grown to
    (*keys, node, depth).

    ``visited`` holds the depth-0 rows; ``keys`` name the columns that
    make one search per key value (the seed in closeness, the color class
    in SCC), so a node is visited once PER KEY. ``edges`` is (src, dst,
    ...): a frontier row steps along an edge whose ``src`` is its node and
    whose other columns (besides ``dst``) equal the row's — a color class
    only walks its own edges. Each level is ONE equi-join of the frontier
    with the edge relation, a distinct, and an anti-join against the
    visited set; first arrival wins, so ``depth`` is the true BFS
    distance. Cycles terminate naturally (a revisited node is anti-joined
    away) and the loop exits early on an empty frontier — one cheap
    ``limit(1)`` count per level against the already-cut frontier.
    Lineage is cut every level (reliable checkpoints under a configured
    dir).
    """
    on = [c for c in edges.columns if c != "dst"]
    visited = cut_lineage(visited)
    frontier = visited
    for d in range(1, max_depth + 1):
        nxt = cut_lineage(
            frontier.withColumnRenamed("node", "src")
            .join(edges, on)
            .select(*keys, F.col("dst").alias("node"))
            .distinct()
            .join(visited.select(*keys, "node"), [*keys, "node"], "left_anti")
            .withColumn("depth", F.lit(d).cast("long"))
        )
        if nxt.limit(1).count() == 0:
            break
        visited = cut_lineage(visited.unionByName(nxt))
        frontier = nxt
    return visited


def bfs_depths(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 10,
    node_col: str = "node",
) -> DataFrame:
    """Min-hop distance from a seed set -> (node, depth), depth <= max_depth.

    Level-synchronous frontier expansion (:func:`_bfs`) — the KG
    neighborhood primitive (entity k-hop context, crawl-frontier growth,
    contamination blast radius).

    100 TB shape: per level, the frontier⋈edges shuffle is keyed on the
    hop node (AQE splits hub keys); the visited anti-join shuffles both
    sides on node. Web graphs have tiny effective diameter, so levels are
    few and the frontier collapses after the first hops. The driver
    oracle (``g_bfs_depth``) re-derives the same depths in DuckDB with a
    depth-bounded recursive CTE + min(depth) — an independent all-paths
    enumeration against this visited-pruned expansion.
    """
    return _bfs(
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("depth", F.lit(0).cast("long")),
        edges.select("src", "dst"),
        max_depth,
    )


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    length: int = 4,
    node_col: str = "node",
    walk_col: str = "walk_id",
) -> DataFrame:
    """Deterministic hash-random walks -> (walk_id, step, node).

    The walk-corpus generator behind DeepWalk/node2vec-style KG
    embeddings, made REPRODUCIBLE: at each step the walker at ``u`` moves
    to the out-neighbor ``v`` maximizing ``md5(walk_id|step|v)`` (ties on
    the full digest broken by ``v``) — a per-(walk, step) uniform-ish
    choice that is a pure function of the walk id, so reruns, retries and
    other engines (the driver oracle re-derives every step in DuckDB with
    row_number over the same digest) produce byte-identical walks.
    Walks that reach a node with no out-edges end early; their earlier
    positions remain in the output.

    100 TB shape: each step is one equi-join of the walker frontier with
    the edge relation keyed on the current node (AQE splits hub keys —
    many walkers sit on hub pages at once) followed by ONE map-side-
    combinable struct-max per walk (never a per-walk sort); frontier
    lineage is cut every step. Walk count scales freely: the frontier
    stays one row per live walk.
    """
    e = edges.select("src", "dst")
    cur = seeds.select(F.col(walk_col), F.col(node_col).alias("node"))
    out = cur.withColumn("step", F.lit(0).cast("long"))
    for s in range(1, length + 1):
        j = cur.join(e, cur["node"] == e["src"])
        h = F.md5(
            F.concat_ws(
                "|",
                F.col(walk_col).cast("string"),
                F.lit(str(s)),
                F.col("dst").cast("string"),
            )
        )
        picked = j.groupBy(walk_col).agg(
            F.max(F.struct(h.alias("h"), F.col("dst").alias("d"))).alias(
                "_s"
            )
        )
        cur = cut_lineage(
            picked.select(F.col(walk_col), F.col("_s.d").alias("node"))
        )
        if cur.limit(1).count() == 0:
            break
        out = out.unionByName(
            cur.withColumn("step", F.lit(s).cast("long"))
        )
    return out


def propagate_labels(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Semi-supervised label spread -> (node, label) after ``iters``
    rounds — entity TYPING for the KG: a few high-precision typed seeds
    (e.g. entities matched to a gazetteer) propagate their type along
    edges to the unlabeled majority.

    Pinned semantics, deterministic and oracle-rederivable: per round,
    every non-seed node takes the majority label of its labeled
    IN-neighbors, ties broken by the greater label; nodes with no
    labeled in-neighbor stay unlabeled (absent); seeds never change.
    Non-seed labels may flip between rounds as the majority shifts —
    that is the algorithm, not nondeterminism.

    100 TB shape: per round ONE equi-join of the edge relation with the
    current labels (shuffle keyed on the message target — AQE splits hub
    targets), then two map-side-combinable aggregations (vote count,
    struct-max pick). The label relation carries one row per labeled
    node; lineage is cut every round.
    """
    seeds = cut_lineage(
        seeds.select(
            F.col(node_col).alias("node"), F.col(label_col).alias("label")
        )
        .groupBy("node")
        .agg(F.max("label").alias("label"))
    )
    e = edges.select("src", "dst")
    labels = seeds
    for _ in range(iters):
        msgs = e.join(labels, e["src"] == labels["node"]).select(
            F.col("dst"), F.col("label")
        )
        votes = msgs.groupBy("dst", "label").agg(
            F.count(F.lit(1)).alias("_n")
        )
        inferred = (
            votes.groupBy("dst")
            .agg(F.max(F.struct(F.col("_n"), F.col("label"))).alias("_s"))
            .select(
                F.col("dst").alias("node"), F.col("_s.label").alias("label")
            )
        )
        labels = cut_lineage(
            seeds.unionByName(
                inferred.join(seeds.select("node"), "node", "left_anti")
            )
        )
    return labels


def bounded_closure(
    edges: DataFrame,
    max_depth: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Depth-bounded transitive closure -> (src, dst, dist) with the MIN
    hop count, 1 <= dist <= max_depth: the materialized-ancestors table
    of a taxonomy (`is-a` / `part-of` chains become one equi-join at
    query time instead of a runtime traversal — the standard KG
    inference-table trick), and the general "everything within d hops of
    everything" relation (contamination blast radius, citation depth).

    Pinned semantics: directed edges, self-loops dropped, ``dist`` is
    the exact minimum path length; pairs with src == dst reachable via a
    cycle ARE reported (a node is not its own 0-hop ancestor, but a
    2-cycle makes it its own 2-hop one).

    100 TB shape — ITERATED SQUARING, not step-by-step expansion:
    round k holds all min-distances <= 2^k, built by one min-plus
    self-join of the current reach relation with itself plus a
    map-side-combinable groupBy-min (any path of length <= 2k splits
    into two halves <= k). ``ceil(log2(max_depth))`` shuffle rounds
    instead of ``max_depth`` — the difference between 40 and 6 shuffles
    at depth 40. Lineage cut per round; distances cap at ``max_depth``
    before the groupBy so the relation never carries rows it will
    discard. The closure itself can be quadratic in cluster size —
    that's the semantics; bound it with ``max_depth`` like any
    production ancestors table.
    """
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    reach = cut_lineage(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn("dist", F.lit(1).cast("long"))
    )
    k = 1
    while k < max_depth:
        joined = (
            reach.alias("l")
            .join(
                reach.alias("r"), F.col("l.dst") == F.col("r.src")
            )
            .select(
                F.col("l.src").alias("src"),
                F.col("r.dst").alias("dst"),
                (F.col("l.dist") + F.col("r.dist")).alias("dist"),
            )
            .where(F.col("dist") <= F.lit(max_depth))  # cycle pairs kept
        )
        reach = cut_lineage(
            reach.unionByName(joined)
            .groupBy("src", "dst")
            .agg(F.min("dist").alias("dist"))
        )
        k *= 2
    return reach


def lpa_communities(
    edges: DataFrame,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation communities -> (node, community):
    the near-linear community detector (Raghavan et al. 2007) — for web
    curation, link communities ≈ site/topic clusters (domain-level spam
    farms light up as one dense community); for the entity graph, a
    cheap first-pass entity grouping before heavier canonicalization.

    Pinned DETERMINISTIC variant (classic LPA is update-order-dependent
    and irreproducible — useless for a pipeline that must re-run
    byte-identical): synchronous rounds over the undirected simple
    graph; ``label_0(v) = v``; each round every node takes the most
    frequent label among its DISTINCT neighbors' current labels (each
    neighbor votes once), ties to the SMALLER label; isolated nodes
    don't exist in an edge-derived node set. Fixed ``iters`` rounds (the
    paper's observed convergence is ~5 rounds; a fixpoint check would
    cost one action per round for a loop that's bounded anyway).

    100 TB shape: per round one equi-join (messages keyed on the
    receiving node — AQE splits hub receivers) + two map-side-combinable
    aggregations (vote count, struct-max argmax). Label relation is
    (node, label) longs only; lineage cut every round. Oscillation
    (bipartite 2-cycles, the known synchronous-LPA artifact) is the
    caller's concern via ``iters`` parity — determinism is what we pin.
    """
    und = cut_lineage(
        edges.select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    labels = sym.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(iters):
        msgs = sym.join(
            labels.select(F.col("node").alias("nbr"), "label"), "nbr"
        ).select("node", "label")
        votes = msgs.groupBy("node", "label").agg(F.count(F.lit(1)).alias("_n"))
        labels = cut_lineage(
            votes.groupBy("node")
            .agg(F.max(F.struct(F.col("_n"), (-F.col("label")).alias("_neg"))).alias("_s"))
            .select("node", (-F.col("_s._neg")).alias("label"))
        )
    return labels.select("node", F.col("label").alias("community"))


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-core peeling -> (node, core_deg): nodes surviving repeated
    removal of degree-<k vertices, with their degree in the surviving
    induced subgraph. The standard dense-substructure filter — link-farm
    and citation-cartel detection on the web graph, "well-attested
    entity" selection on the KG (entities embedded in a dense relational
    neighborhood vs. one-off extraction noise).

    Pinned semantics (oracle-unrollable): undirected simple graph;
    ``A_0`` = all endpoint nodes; round t computes induced degrees on
    ``A_{t-1}`` and keeps nodes with degree >= k; output = ``A_R`` nodes
    with their induced degree on ``A_R`` (0 for a survivor whose entire
    neighborhood was peeled this round — visible, not dropped).
    ``rounds=None`` iterates to the true k-core fixpoint (stops when no
    node was removed — one cheap count action per round, each round
    strictly shrinks or terminates); fixed ``rounds`` gives the
    bounded-depth anytime variant the driver oracle unrolls.

    100 TB shape: per round one map-side-combinable degree aggregation
    + two semi-joins restricting the edge relation (both AQE-friendly
    equi-joins; the edge relation only ever shrinks). Lineage cut per
    round; nothing driver-side but the fixpoint counter.
    """
    act = cut_lineage(
        edges.select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )

    def induced_deg(e):  # (node, d) over the current induced edge set
        return (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    survivors = induced_deg(act).select("node")
    n_prev = survivors.count()
    t = 0
    while True:
        t += 1
        keep = induced_deg(act).where(F.col("d") >= F.lit(k)).select("node")
        act = cut_lineage(
            act.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
        )
        survivors = keep
        if rounds is not None:
            if t >= rounds:
                break
        else:
            n_now = survivors.count()
            if n_now == n_prev:
                break
            n_prev = n_now
    return survivors.join(induced_deg(act), "node", "left").select(
        "node", F.coalesce(F.col("d"), F.lit(0)).alias("core_deg")
    )


def _two_hop_joined(edges: DataFrame, sources: DataFrame) -> DataFrame:
    """The hop-expansion join of :func:`two_hop_counts`, exposed so the
    hub-skew test can measure its output partition sizes directly."""
    e1 = edges.join(sources, edges["src"] == sources["node"], "left_semi")
    e2 = edges.select(
        F.col("src").alias("mid"), F.col("dst").alias("dst2")
    )
    return e1.join(e2, e1["dst"] == e2["mid"])


def two_hop_counts(edges: DataFrame, sources: DataFrame) -> DataFrame:
    """Distinct 2-hop reach per source node: (node, n_two_hop).

    One self-equi-join on dst=src + distinct-count — the frontier-expansion
    primitive; at scale the join shuffles on the hop key and AQE splits the
    hub partitions (tests/test_graph.py pins a 30%-hub fixture asserting no
    straggler partition exceeds 4x the median with skew-join on).
    """
    return (
        _two_hop_joined(edges, sources)
        .groupBy(F.col("src").alias("node"))
        .agg(F.countDistinct("dst2").alias("n_two_hop"))
    )


def weak_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Weakly-connected components of a (src, dst) long-id edge set ->
    (node, component) with component = min member id.

    Delegates to the package's one CC entry,
    operators/canon.connected_components (driver union-find for
    dictionary-sized edge sets, :func:`components_starstar` above), which
    is generic over long vertex ids; this wrapper just derives the vertex
    set and adapts column names for graph callers."""
    from .canon import connected_components

    e = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    vertices = (
        e.select(F.col("a").alias("nid"))
        .union(e.select(F.col("b").alias("nid")))
        .distinct()
    )
    return connected_components(vertices, e, max_iter).select(
        F.col("nid").alias("node"), "component"
    )


def components_starstar(
    edges: DataFrame,
    max_iter: int = 16,
    partitions: int = 32,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    "Connected Components in MapReduce and Beyond", SoCC 2014) ->
    (node, component) with component = min member id — the same output
    contract as :func:`weak_components`, pinned by parity test.

    WHY star-star is the package's iterative CC: label propagation
    converges in O(diameter) rounds, but a web graph's giant component
    has diameter in the dozens and near-dup chains (a doc edited
    incrementally) have diameter ~ chain length, and each round is a
    corpus-sized shuffle. Star-star contracts components in O(log n)
    rounds REGARDLESS of diameter (each large-star halves the height of
    every tree), so at 10^12 edges it replaces ~diameter shuffles with
    ~log n of them. canon.connected_components routes here for edge sets
    too large for its driver union-find.

    Raises if the pairs have not reached the fixpoint after ``max_iter``
    rounds, never returning split components. ``partitions`` sizes the
    initial pair-set shuffle.

    Round algebra, operating on a canonically-oriented pair set
    (a > b, a != b):

      * large-star: for every center u over its FULL neighborhood
        (both orientations), m = min(N(u) ∪ {u}); emit (v, m) for
        each neighbor v > u. Every emitted pair keeps a > b.
      * small-star: for every center u over its small neighbors
        (v <= u, i.e. the pairs oriented at u), m = min(N(u) ∪ {u});
        emit (v, m) for each small neighbor plus (u, m).

    Both steps are ONE map-side-combinable min-aggregation plus ONE
    equi-join back on the center key — no windows, no cartesian; hub
    centers are a partial-agg fan-in (the min combines map-side) and
    the join fan-out is the node's degree, which AQE skew-splits.
    Fixpoint = the pair set reproduces itself (checked with a count +
    anti-join, both on the shrinking star relation); at fixpoint the
    pairs ARE (node, component-min) star edges. Isolated vertices never
    appear in ``edges`` and are the caller's to union in (same contract
    as the edge-derived vertex set below).
    """
    from ..checkpointing import cut_lineage

    e = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    vertices = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
    )
    # canonical orientation (hi, lo); self-loops drop
    p = cut_lineage(
        e.where(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .repartition(partitions, "a")
        .distinct()
    )

    def large_star(pairs: DataFrame) -> DataFrame:
        sym = pairs.union(
            pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = sym.groupBy("a").agg(F.min("b").alias("_mn")).select(
            "a", F.least(F.col("_mn"), F.col("a")).alias("_m")
        )
        out = (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("_m").alias("b"))
        )
        return out.where(F.col("a") != F.col("b")).distinct()

    def small_star(pairs: DataFrame) -> DataFrame:
        # pairs are (hi, lo): every neighbor at center a is already <= a
        mins = pairs.groupBy("a").agg(F.min("b").alias("_m"))
        moved = (
            pairs.join(mins, "a")
            .select(F.col("b").alias("a"), F.col("_m").alias("b"))
        )
        centers = mins.select("a", F.col("_m").alias("b"))
        return (
            moved.union(centers)
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def differs(new_p: DataFrame, old_p: DataFrame, n_old: int):
        # one count action per check (a checkpointed relation recounts
        # cheaply), plus the anti-join only when sizes tie; the anti-join
        # needs only EXISTENCE of a changed pair, so limit(1) lets the
        # job stop at the first hit instead of counting all of them
        n_new = new_p.count()
        return n_new, (
            n_new != n_old
            or new_p.join(old_p, ["a", "b"], "left_anti").limit(1).count() > 0
        )

    # TWO star rounds per materialization + convergence check: every
    # cut/count/anti-join is a full job submission, and at O(log n) total
    # rounds those fixed costs are ~half the wall at bench scale (and the
    # per-round driver round-trip at cluster scale). Correct because the
    # star fixpoint is ABSORBING (the Kiveris et al. potential strictly
    # decreases until the fixpoint, so no period-2 cycles exist): if
    # convergence lands on the odd intermediate round, the extra round is
    # a no-op and the two-rounds-apart comparison still detects it.
    n_prev = p.count()
    rounds = 0
    while rounds < max_iter:
        stepped = small_star(large_star(p))
        if rounds + 2 <= max_iter:
            stepped = small_star(large_star(stepped))
            rounds += 2
        else:
            rounds += 1
        new_p = cut_lineage(stepped)
        n_new, changed = differs(new_p, p, n_prev)
        p, n_prev = new_p, n_new
        if not changed:
            break
    else:
        # the in-loop check compares states two rounds apart, so a
        # fixpoint first reached in the last allowed round reads as
        # changed; one probe round settles it — a fixpoint reproduces
        # itself under one more round
        if differs(small_star(large_star(p)), p, n_prev)[1]:
            raise RuntimeError(
                f"components_starstar did not converge in {max_iter} "
                "rounds — raise max_iter (expected O(log n) rounds)"
            )
    labels = p.select(F.col("a").alias("node"), F.col("b").alias("component"))
    return (
        vertices.join(labels, "node", "left")
        .select(
            "node",
            F.coalesce("component", F.col("node")).alias("component"),
        )
    )


def _hyperball_states(
    edges: DataFrame,
    radius: int,
    b: int,
    node_col: str,
    nbr_col: str,
    partitions: int,
):
    """The HyperBall register loop shared by :func:`hyperball`,
    :func:`hyperball_harmonic` and :func:`hyperball_nf`: yields the
    (node, j, r) HLL register relation of ball(node, r) for r = 0 ..
    ``radius``, where a ball grows from ``node`` along (node_col ->
    nbr_col) edges (self-loops ignored). Each yielded relation is already
    cut, so a finalizer built on one round never replays the others.

    Register algebra: ball(v, 0) = {v} is :func:`sketches.hll_state` of
    the node id; ball(v, r) = ball(v, r-1) ∪ ⋃_{v->u} ball(u, r-1) is a
    register-wise max over ``state ∪ (edges ⋈ state)``.

    Plan discipline: the edge relation is cut ONCE, hash-partitioned and
    sorted on the join key, so every round's contribution join reuses it
    with no exchange and no re-sort (and the distinct is not recomputed
    per round, which the live plan would have done). Each round has ONE
    exchange: a repartition by node BEFORE the register max — hash(node)
    clusters (node, j) (partitioning on a subset of the grouping key
    satisfies the aggregation's distribution), so the groupBy adds no
    exchange and the output stays node-partitioned for the next round's
    join."""
    from .sketches import hll_state

    e = cut_lineage(
        edges.select(F.col(node_col).alias("node"), F.col(nbr_col).alias("_nbr"))
        .where(F.col("node") != F.col("_nbr"))
        .distinct()
        .repartition(partitions, "_nbr")
        .sortWithinPartitions("_nbr")
    )
    nodes = (
        e.select("node")
        .union(e.select(F.col("_nbr").alias("node")))
        .distinct()
    )
    state = cut_lineage(
        hll_state(
            nodes.withColumn("_member", F.col("node")),
            ["node"],
            "_member",
            b,
        ).repartition(partitions, "node")
    )
    yield state
    for _ in range(radius):
        contrib = e.join(
            state.withColumnRenamed("node", "_nbr"), "_nbr"
        ).select("node", "j", "r")
        state = cut_lineage(
            state.unionByName(contrib)
            .repartition(partitions, "node")
            .groupBy("node", "j")
            .agg(F.max("r").alias("r"))
        )
        yield state


def hyperball(
    edges: DataFrame,
    radius: int,
    b: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    partitions: int = 32,
) -> DataFrame:
    """Approximate per-node neighborhood function via HyperLogLog
    counters (Boldi, Rosa & Vigna, "HyperANF", WWW 2011 / Boldi & Vigna
    "In-Core Computation of Geometric Centralities with HyperBall",
    2013) -> one row per node: (node, m, n_zero, sum_scaled,
    est_ball) — the estimated number of DISTINCT nodes reachable from
    ``node`` in <= ``radius`` hops along out-edges.

    WHY: |ball(v, r)| is the primitive behind effective-diameter
    estimation, harmonic centrality, and "how big is this site's
    neighborhood" curation signals — but exact balls need per-node
    reachable SETS (quadratic blow-up on a web graph). HyperBall's move
    is to replace each set with a mergeable HLL register table: the
    ball recurrence ball(v, r) = {v} ∪ ⋃_{v->u} ball(u, r-1) becomes a
    register-wise max, so each round is ONE equi-join (edges against a
    <= m-rows-per-node register relation) plus ONE map-side-combinable
    max aggregation. State per node is bounded by m = 2^b registers
    regardless of ball size — the whole iteration is O(E * m) work and
    O(V * m) state, never O(sum of ball sizes).

    Pinned algebra: registers are exactly :func:`sketches.hll_state`'s
    (md5-derived 60-bit hash of the member id's string form, bucket =
    h mod m, rank via length(bin()) — exact integers), the estimate is
    exactly :func:`sketches._hll_finalize`'s (exact-bigint
    ``sum_scaled``/``n_zero`` inputs; raw + linear-counting branches,
    one 4dp round) — so a DuckDB oracle that enumerates the true balls
    with a recursive CTE and replays the register algebra lands on the
    SAME rows bit-for-bit. ``radius`` is caller-pinned (no convergence
    test inside the plan), matching the reference-oracle discipline.

    100 TB shape: per round, the join fans each edge out by at most m
    register rows and the max agg combines map-side; hub in-degree skew
    is an AQE skew-join case, not a window. The rounds are
    :func:`_hyperball_states`' (lineage cut every round, so round k never
    replays rounds 1..k-1); this entry finalizes the last one."""
    from .sketches import _hll_finalize

    if radius < 0:
        raise ValueError("hyperball needs radius >= 0")
    for state in _hyperball_states(
        edges, radius, b, src_col, dst_col, partitions
    ):
        pass
    return _hll_finalize(state, ["node"], b).withColumnRenamed(
        "est_distinct", "est_ball"
    )


def hyperball_harmonic(
    edges: DataFrame,
    max_radius: int,
    b: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    reverse: bool = True,
    partitions: int = 32,
) -> DataFrame:
    """Approximate harmonic centrality via HyperBall (Boldi & Vigna,
    "In-Core Computation of Geometric Centralities with HyperBall",
    2013 — their headline application) -> (node, harmonic):
    H(v) = sum over r of (|ball(v,r)| - |ball(v,r-1)|) / r, truncated
    at ``max_radius`` — the centrality Boldi-Vigna recommend over
    closeness for web graphs (handles disconnectedness natively: an
    unreachable node contributes 0, not an infinite distance).

    ``reverse=True`` (default) runs the recurrence on REVERSED edges,
    so the ball around v counts nodes that can REACH v — centrality of
    v as a *target*, the standard definition. Set False for the
    forward (v-as-source) variant.

    Pinned determinism: per-radius ball estimates are
    :func:`hyperball`'s 4dp-rounded values; H is evaluated on those
    rounded values in FIXED radius order with IEEE doubles — the same
    literal op sequence both engines. TWO emissions: ``harmonic`` =
    round(H, 4) for humans (a 4dp round of H is TIE-PRONE across
    engines: H is a sum of (4dp-delta)/r terms, so its exact value
    lands on a 4dp half-boundary about half the time, and Spark's
    repr-based HALF_UP vs another engine's binary-scaled rounding can
    split a tie — the t_domain_profile lesson), and ``harmonic_scaled``
    = round(H * 10^4 * lcm(1..max_radius)) as bigint — in exact
    arithmetic that product IS an integer, so the double sits within
    fp-epsilon of it, nearest-integer rounding has no ties, and the
    value is hash-stable by construction: THE column for oracle gates.
    The per-radius deltas inherit HLL noise (a delta can dip slightly
    negative across estimator-branch switches — Boldi-Vigna accept the
    same); the value is an ESTIMATE with ~1.04/sqrt(2^b) relative
    error per term.

    100 TB shape: exactly :func:`hyperball`'s per-round cost (one
    equi-join + one combinable max agg, <= m register rows per node —
    the same :func:`_hyperball_states` loop, every round finalized),
    plus ``max_radius`` node-keyed equi-joins of node-sized estimate
    relations at the end."""
    import math

    from .sketches import _hll_finalize

    if max_radius < 1:
        raise ValueError("hyperball_harmonic needs max_radius >= 1")
    a, z = (dst_col, src_col) if reverse else (src_col, dst_col)
    joined = reduce(
        lambda left, right: left.join(right, "node"),
        [
            _hll_finalize(state, ["node"], b).select(
                "node", F.col("est_distinct").alias(f"_e{r}")
            )
            for r, state in enumerate(
                _hyperball_states(edges, max_radius, b, a, z, partitions)
            )
        ],
    )
    h = F.lit(0.0)
    lcm = 1
    for r in range(1, max_radius + 1):
        h = h + (F.col(f"_e{r}") - F.col(f"_e{r - 1}")) / F.lit(float(r))
        lcm = lcm * r // math.gcd(lcm, r)
    scale = 10000 * lcm
    return joined.select(
        "node",
        F.round(h, 4).alias("harmonic"),
        F.round(h * F.lit(float(scale)), 0)
        .cast("long")
        .alias("harmonic_scaled"),
    )


def hyperball_nf(
    edges: DataFrame,
    max_radius: int,
    b: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    partitions: int = 32,
) -> DataFrame:
    """The approximate NEIGHBORHOOD FUNCTION via HyperBall (the
    HyperANF quantity itself: Boldi, Rosa & Vigna, WWW 2011) ->
    one row per radius r in [0, max_radius]:
    (radius, n_nodes, nf_x10000) where NF(r) = sum over all nodes v of
    |ball(v, r)| — the curve whose saturation point IS the effective
    diameter (smallest r with NF(r) >= 0.9 * NF(max)), the classic
    "how far apart is this web graph" audit that exact all-pairs BFS
    cannot touch at 10^12 edges.

    Pinned emission: per-node ball estimates are :func:`hyperball`'s
    4dp values; each is scaled x10^4 and rounded to the nearest bigint
    (tie-free: the exact product IS an integer), then SUMMED AS BIGINTS
    — integer addition is order-independent, so the per-radius total is
    hash-stable by construction (a float sum over nodes would be
    partition-order-dependent; a 4dp-rounded decimal sum would tie).
    ``nf_x10000 / 10000`` is the NF estimate.

    100 TB shape: per round exactly :func:`hyperball`'s cost (the same
    :func:`_hyperball_states` loop); per radius ONE map-side-combinable
    (count, sum) aggregation — output is max_radius + 1 rows."""
    from .sketches import _hll_finalize

    if max_radius < 0:
        raise ValueError("hyperball_nf needs max_radius >= 0")
    return reduce(
        DataFrame.unionByName,
        [
            _hll_finalize(state, ["node"], b)
            .select(
                F.lit(r).cast("long").alias("radius"),
                F.round(F.col("est_distinct") * F.lit(10000.0), 0)
                .cast("long")
                .alias("_s"),
            )
            .groupBy("radius")
            .agg(
                F.count(F.lit(1)).alias("n_nodes"),
                F.sum("_s").cast("long").alias("nf_x10000"),
            )
            for r, state in enumerate(
                _hyperball_states(
                    edges, max_radius, b, src_col, dst_col, partitions
                )
            )
        ],
    )


def rank_topk(ranks: DataFrame, k: int) -> DataFrame:
    """Top-k by (rounded) rank with node tiebreak — rounding BEFORE the sort
    makes the cutoff robust to last-ulp float differences between engines,
    and orderBy+limit compiles to TakeOrderedAndProject (per-partition
    top-k + driver merge, never a global sort)."""
    r = ranks.select("node", F.round("rank", 6).alias("rank"))
    return r.orderBy(F.col("rank").desc(), F.col("node").asc()).limit(k)


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts on the undirected simple graph underlying a
    (src, dst) edge set -> (node, n_triangles), one row per node in at
    least one triangle. The standard local-clustering / community signal
    for web curation (triangle-rich neighborhoods = genuine link
    communities; triangle-free hubs = spam farms / boilerplate nav).

    100 TB shape — the degree-orientation trick: orient every undirected
    edge from its lower-(degree, id) endpoint to the higher one. Each
    triangle survives as exactly one oriented wedge + closing edge, and
    the wedge join's per-node fan-out is bounded by O(sqrt(m)) (the
    arboricity bound of Chiba-Nishizeki / Suri-Vassilvitskii's MR-style
    triangle counting) — a 10^7-degree hub contributes wedges only
    through its low-degree neighbors, so the self-join never explodes.
    Three equi-joins + one groupBy, all AQE-coalescible; no driver state.
    """
    und = cut_lineage(  # feeds degrees AND the wedge/closing joins
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionByName(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): lo -> hi
    with_deg = (
        und.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = cut_lineage(  # consumed three times below
        with_deg.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
            F.when(a_first, F.col("da")).otherwise(F.col("db")).alias("dlo"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dhi"),
        )
    )
    # wedges at u: pairs (v, w) of out-neighbors with v before w in the
    # same (degree, id) order, closed by the oriented edge v -> w
    e1 = oriented.select(
        F.col("lo").alias("u"), F.col("hi").alias("v"),
        F.col("dhi").alias("dv"),
    )
    e2 = oriented.select(
        F.col("lo").alias("u"), F.col("hi").alias("w"),
        F.col("dhi").alias("dw"),
    )
    v_first = (F.col("dv") < F.col("dw")) | (
        (F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w"))
    )
    wedges = (
        e1.join(e2, "u")
        .where(v_first)
        .select("u", "v", "w")
    )
    closing = oriented.select(
        F.col("lo").alias("v"), F.col("hi").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"], "left_semi")
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("v").alias("node")))
        .unionByName(tri.select(F.col("w").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def link_prediction_topk(
    edges: DataFrame,
    k: int,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Missing-link candidates scored by common-neighbor statistics ->
    (a, b, cn, aa, jaccard): the KG-completion primitive — "which entity
    pairs are probably related but have no edge yet" (Liben-Nowell &
    Kleinberg's link-prediction measures; the reference has no graph
    surface at all — its analog is suggesting related documents by
    embedding similarity, ``search.py:950+``).

    Pinned semantics (the oracle re-derives them): the graph is the
    undirected simple graph under (src, dst); ``deg`` counts distinct
    neighbors; candidates are non-adjacent pairs ``a < b`` sharing >= 1
    common neighbor; ``cn`` = |common neighbors|, ``aa`` (Adamic-Adar) =
    SUM over common neighbors c of ``1.0 / ln(deg(c))`` (each term
    computed then summed, rounded to 6dp AFTER the sum; deg(c) >= 2 for
    any wedge center so ln never hits 0), ``jaccard`` =
    ``cn / (deg(a) + deg(b) - cn)`` as one double division of exact
    integer counts. Top-k by (aa desc, a asc, b asc), rounded before the
    sort so the cutoff is engine-stable.

    100 TB shape: wedge enumeration through a center c is quadratic in
    deg(c) — the one genuine blowup in this family. Two levers: AQE
    skew-join splits the hot c keys, and ``max_center_degree`` drops
    super-hub centers entirely (the standard cap: a 10^6-degree hub
    contributes ~1/ln(10^6) ≈ 0.07 per pair across 10^12 pairs of
    near-zero individual weight — cost way out of proportion to signal;
    NOTE this changes cn/aa/jaccard semantics for pairs near hubs, so
    the driver oracle runs uncapped). Everything else is equi-joins and
    one map-side-combinable groupBy; the final top-k is
    TakeOrderedAndProject, never a global sort.

    Wedge-path cost trims (all output-identical): centers with a single
    neighbor are dropped before the pair join (a wedge needs two); the
    Adamic-Adar term ``1.0 / ln(deg(c))`` is computed once per CENTER
    row and summed, not recomputed per wedge (identical doubles, so the
    sum draws the exact same addends); and because the top-k ORDER is
    (aa, a, b) alone — jaccard never enters the sort — the two degree
    joins and the jaccard arithmetic run on the k survivors, not on the
    full candidate-pair stream.
    """
    und = cut_lineage(  # canonical a<b edge set: degrees + adjacency anti-join
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = cut_lineage(  # node-sized; consumed 3x (centers, da, db)
        sym.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    )
    centers = sym.select(F.col("node").alias("x"), F.col("nbr").alias("c")).join(
        deg.select(F.col("node").alias("c"), F.col("d").alias("dc")), "c"
    )
    if max_center_degree is not None:
        centers = centers.where(F.col("dc") <= F.lit(max_center_degree))
    centers = cut_lineage(  # consumed by both wedge sides
        # dc == 1 centers yield no wedge (pa < pb needs two neighbors) —
        # prune them here, which also keeps ln(dc) away from ln(1) = 0;
        # w is the per-center AA addend, the exact double every wedge row
        # of this center previously recomputed
        centers.where(F.col("dc") >= 2).withColumn(
            "w", F.lit(1.0) / F.log(F.col("dc").cast("double"))
        ).drop("dc")
    )
    pairs = (
        centers.select(F.col("x").alias("pa"), "c", "w")
        .join(centers.select(F.col("x").alias("pb"), "c"), "c")
        .where(F.col("pa") < F.col("pb"))
    )
    scored = pairs.groupBy("pa", "pb").agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum("w").alias("aa"),
    )
    fresh = scored.join(
        und,
        (scored["pa"] == und["a"]) & (scored["pb"] == und["b"]),
        "left_anti",
    )
    # the ranking never reads jaccard: cut to the k survivors first, then
    # join degrees and compute jaccard on k rows instead of the full
    # candidate-pair stream (round(aa) BEFORE the sort, as declared)
    topk = (
        fresh.select("pa", "pb", "cn", F.round("aa", 6).alias("aa"))
        .orderBy(F.col("aa").desc(), F.col("pa").asc(), F.col("pb").asc())
        .limit(k)
    )
    out = (
        topk.join(deg.select(F.col("node").alias("pa"), F.col("d").alias("da")), "pa")
        .join(deg.select(F.col("node").alias("pb"), F.col("d").alias("db")), "pb")
        .select(
            F.col("pa").alias("a"),
            F.col("pb").alias("b"),
            F.col("cn"),
            F.col("aa"),
            F.round(
                F.col("cn").cast("double") / (F.col("da") + F.col("db") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )
    return out.orderBy(
        F.col("aa").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(k)


def hits(
    edges: DataFrame,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities -> (node, hub, auth), L1-normalized.

    The second classic link-analysis signal beside PageRank (reference has
    neither — its ranking is chunk-level BM25/cosine, search.py:418-470;
    on a web corpus hub/authority scores separate link-directory pages
    from genuinely-cited content, a standard curation feature).

    Semantics (pinned for the SQL oracle), per iteration t = 1..iters:
      a_raw(v) = sum_{u->v} hub_{t-1}(u);  auth_t = a_raw / sum(a_raw)
      h_raw(u) = sum_{u->v} auth_t(v);     hub_t  = h_raw / sum(h_raw)
    with hub_0 = 1/N uniform. L1 (not the textbook L2) normalization keeps
    every step a plain SUM — exactly re-derivable in ANSI SQL without
    sqrt-of-sum-of-squares float-order sensitivity; the induced RANKING is
    identical (both norms are positive scalars per half-step).

    100 TB shape: each half-step is one equi-join of the edge relation with
    a node-sized score relation + a map-side-combined sum — the same
    shuffle as one PageRank iteration, twice per round. The normalizer
    stays IN THE PLAN as a 1-row aggregate broadcast-cross-joined onto the
    update (never a driver collect). Raw per-direction sums are node-sized
    and lineage-cut once per half-step, so the total agg and the rejoin
    both read the materialized relation and plans stay O(1) deep.

    sum(a_raw) is structurally positive (hub mass only ever sits on nodes
    with out-edges, and the uniform start puts mass everywhere), so the
    division cannot hit zero on a non-empty edge set.
    """
    edges = cut_lineage(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    )
    nodes = cut_lineage(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
        )
    hubs = nodes.select("node", F.lit(1.0 / n).alias("hub"))
    auths = nodes.select("node", F.lit(0.0).alias("auth"))
    # static zero rows: adding 0.0 into a sum is exact, so unioning them
    # into the per-direction aggregation replaces the nodes LEFT JOIN
    # with a second pass through the SAME exchange — one join less per
    # half-step, identical values (the pagerank zero-fill move). The
    # half-step relations keep their EAGER cuts: they feed both the
    # 1-row total (a broadcast-subquery stage) and the rejoin, and a
    # lazy cache would let those two stages race into duplicate
    # computation (measured slower).
    zeros = nodes.select("node", F.lit(0.0).alias("raw"))
    for _ in range(iters):
        a_raw = cut_lineage(  # read twice: the total agg + the rejoin
            edges.join(hubs, edges["src"] == hubs["node"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("raw"))
        )
        a_tot = a_raw.agg(F.sum("raw").alias("_tot"))
        auths = (
            a_raw.select(F.col("dst").alias("node"), "raw")
            .unionByName(zeros)
            .groupBy("node")
            .agg(F.sum("raw").alias("raw"))
            .crossJoin(F.broadcast(a_tot))
            .select("node", (F.col("raw") / F.col("_tot")).alias("auth"))
        )
        h_raw = cut_lineage(
            edges.join(auths, edges["dst"] == auths["node"])
            .groupBy("src")
            .agg(F.sum("auth").alias("raw"))
        )
        h_tot = h_raw.agg(F.sum("raw").alias("_tot"))
        hubs = (
            h_raw.select(F.col("src").alias("node"), "raw")
            .unionByName(zeros)
            .groupBy("node")
            .agg(F.sum("raw").alias("raw"))
            .crossJoin(F.broadcast(h_tot))
            .select("node", (F.col("raw") / F.col("_tot")).alias("hub"))
        )
    return auths.join(hubs, "node").select("node", "hub", "auth")


def hits_topk(scores: DataFrame, k: int) -> DataFrame:
    """Top-k by (rounded) authority with node tiebreak; round-before-sort
    for the same cross-engine cutoff robustness as :func:`rank_topk`."""
    r = scores.select(
        "node", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )
    return r.orderBy(F.col("auth").desc(), F.col("node").asc()).limit(k)


def anchor_edges(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    strict_utf8: bool = False,
) -> DataFrame:
    """Text-bearing anchors -> (src, dst, anchor), one row PER OCCURRENCE.

    Column twin of ``functions/urls.extract_anchors`` + ``clean_anchor_text``
    (pinned there): full ``<a ...>body</a>`` matches via
    ``regexp_extract_all(..., 0)``, then per-element href/body extraction,
    tag-strip, whitespace collapse, trim, lowercase — all JVM built-ins in
    one codegen'd scan. Empty-text anchors (attribute-only nav/asset links)
    drop here but still count in :func:`extract_outlinks`, so the edge
    graph is unaffected. hrefs resolve through the same pinned URI algebra.

    Occurrences are deliberately NOT de-duplicated: anchor frequency is the
    signal :func:`alias_candidates` aggregates.
    """
    pages, html = _decoded_html(pages, html_col, strict_utf8)
    matches = F.regexp_extract_all(html, F.lit(U.ANCHOR_RE), 0)
    m = F.col("m")
    body = F.regexp_extract(m, U.ANCHOR_RE, 2)
    anchor = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(body, r"<[^>]*>", " "),
                U.WS_CLASS + "+", " ",
            )
        )
    )
    return (
        pages.select(F.col(url_col).alias("src"), F.explode(matches).alias("m"))
        .select(
            "src",
            F.regexp_extract(m, U.ANCHOR_RE, 1).alias("href"),
            anchor.alias("anchor"),
        )
        .where(F.col("anchor") != "")
        .select(
            "src",
            resolve_href_col(F.col("src"), F.col("href")).alias("dst"),
            "anchor",
        )
        .where(F.col("dst").isNotNull())
    )


def alias_candidates(anchors: DataFrame, k: int = 3) -> DataFrame:
    """Per-target anchor-text rollup -> (dst, anchor, n_refs, n_srcs, rank),
    top-``k`` anchors per dst by reference count.

    The Wikipedia-anchor trick applied to the entity linker: what the web
    calls a page IS its alias set, so the aggregated anchor texts of a url
    feed stage 2's alias/embedding dictionary as candidate surface forms
    (reference search.py:671-723 joins STATIC Jira/Confluence titles onto
    keys — this derives the dictionary from the corpus instead).

    100 TB shape: one groupBy (dst, anchor) with map-side partial counts
    (count + distinct-src in the same shuffle), then a per-dst window over
    the ALREADY-AGGREGATED relation — its cardinality is distinct anchor
    strings per target, not link occurrences, so even a 10^8-in-degree
    homepage hub reduces to its few thousand distinct anchors before the
    window sees it. Ties break (n_refs desc, anchor asc): deterministic
    cross-engine.
    """
    counts = anchors.groupBy("dst", "anchor").agg(
        F.count(F.lit(1)).alias("n_refs"),
        F.countDistinct("src").alias("n_srcs"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("dst").orderBy(
        F.col("n_refs").desc(), F.col("anchor").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("dst", "anchor", "n_refs", "n_srcs", "rank")
    )


def canonical_url_col(url: Column) -> Column:
    """Column twin of ``functions/urls.canonicalize_url`` (pinned algebra
    there): trim + fragment strip, case-insensitive http(s) recognition,
    lowercased scheme/authority, default-port drop, empty path -> '/',
    tracking-param removal with order-preserving residue. Pure JVM
    regexp/when/filter — whole-stage codegen, no Python per row; non-http
    urls resolve to NULL (the dedup key simply excludes them)."""
    pat = r"(?s)^([hH][tT][tT][pP][sS]?)://([^/?#]*)([^?#]*)(.*)$"
    u = F.regexp_replace(
        F.regexp_replace(url, f"^{U.WS_CLASS}+|{U.WS_CLASS}+$", ""),
        r"(?s)#.*$", "",
    )
    scheme = F.lower(F.regexp_extract(u, pat, 1))
    auth = F.lower(F.regexp_extract(u, pat, 2))
    path = F.regexp_extract(u, pat, 3)
    rest = F.regexp_extract(u, pat, 4)
    auth = F.when(
        scheme == "http", F.regexp_replace(auth, r":80$", "")
    ).otherwise(F.regexp_replace(auth, r":443$", ""))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    kept = F.filter(
        F.split(F.substring(rest, 2, 2147483646), "&"),
        lambda p: (p != "") & ~p.rlike(U.TRACKING_PARAM_RE),
    )
    rest = F.when(
        ~rest.startswith("?"), rest
    ).when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.when(scheme == "", F.lit(None).cast("string")).otherwise(
        F.concat(scheme, F.lit("://"), auth, path, rest)
    )


def degree_profile(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Log2-bucketed degree histogram -> (side, bucket, n_nodes,
    min_deg, max_deg): the one-page health audit of a crawled graph.
    Web graphs are power-law — a sane crawl shows a straight-ish line in
    (bucket, log n_nodes); a missing tail means the frontier collapsed,
    a fat head means a link-farm burst. Run per build, diff per day.

    Pinned: distinct-edge degrees per direction (``side`` in
    {'in', 'out'}), ``bucket = floor(log2(degree))`` (exact for powers
    of two in IEEE math, both engines). Two map-side-combinable
    aggregations (per-node count, then per-bucket rollup) per side —
    output is O(log max_degree) rows, nothing else leaves the executors.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()

    def side(col: str, name: str) -> DataFrame:
        deg = e.groupBy(col).agg(F.count(F.lit(1)).alias("deg"))
        return deg.select(
            F.lit(name).alias("side"),
            F.floor(F.log2("deg")).cast("long").alias("bucket"),
            F.col("deg"),
        )

    both = side("src", "out").unionByName(side("dst", "in"))
    return both.groupBy("side", "bucket").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("deg").alias("min_deg"),
        F.max("deg").alias("max_deg"),
    )


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 8,
    max_color_iters: int = 30,
    max_trim_iters: int = 50,
) -> DataFrame:
    """Strongly-connected components of a directed (src, dst) edge set ->
    (node, component), component = min member id. The web-graph bow-tie
    primitive (Broder et al. 2000): the giant SCC is the crawl "core";
    for the entity graph, SCCs are mutually-entailing `is-a` / `same-as`
    cycles that canonicalization must collapse before the taxonomy is a
    DAG.

    Trim + forward-max-coloring + backward reach (Orzan's coloring /
    the FW-BW-coloring family of Slota et al.), per outer round:

      1. TRIM to fixpoint: a node with no in-edge or no out-edge in the
         remaining subgraph is a singleton SCC — peel with two left-semi
         joins per pass. This alone shreds the DAG-ish majority of a web
         graph (IN/OUT/tendrils) before any coloring work.
      2. COLOR forward to fixpoint: color(v) = max(v, colors of
         in-neighbors). At the fixpoint color(v) is the max id that
         reaches v; each color class has one root (the node == color).
         Each iteration is ONE equi-join keyed on dst plus a map-side-
         combinable max — hub skew is AQE territory, same as pagerank.
      3. BACKWARD REACH from every color root at once, restricted to
         same-color edges: nodes that reach their root within the color
         class form exactly the root's SCC. :func:`bfs_depths`' frontier
         (:func:`_bfs`) over the reversed same-color edges, keyed by
         color, so all roots expand in parallel.
      4. Relabel each found SCC to min member id, remove its nodes,
         repeat.

    Every round removes at least every color-root SCC (plus everything
    trimmable), so rounds are few on real graphs — the bow-tie paper's
    structure collapses in 2-3. A coloring that has not converged
    within ``max_color_iters`` iterations, or a node still unassigned
    after ``max_rounds`` rounds, raises ``RuntimeError``: a partial SCC
    labeling is wrong, not approximate, so there is no silent mode.

    100 TB shape: every step is an equi-join / semi-join / map-side-
    combined max over the remaining subgraph — no all-pairs relation, no
    driver-side graph. Lineage is cut per fixpoint step (reliable
    checkpoints under a configured dir); the remaining subgraph shrinks
    monotonically. Per-step convergence probes are one ``limit(1)``
    count each against an already-checkpointed relation.
    """
    e_all = cut_lineage(
        edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    )
    nodes = cut_lineage(
        e_all.select(F.col("src").alias("node"))
        .unionByName(e_all.select(F.col("dst").alias("node")))
        .distinct()
    )
    assigned: list[DataFrame] = []  # (node, component) per peel

    def induced(e: DataFrame, keep: DataFrame) -> DataFrame:
        return cut_lineage(
            e.join(keep.select(F.col("node").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("node").alias("dst")), "dst", "left_semi")
        )

    remaining, e = nodes, e_all
    for _round in range(max_rounds):
        # -- 1. trim singleton SCCs to fixpoint --
        for _trim in range(max_trim_iters):
            keep = cut_lineage(
                remaining.join(
                    e.select(F.col("src").alias("node")).distinct(),
                    "node",
                    "left_semi",
                ).join(
                    e.select(F.col("dst").alias("node")).distinct(),
                    "node",
                    "left_semi",
                )
            )
            peeled = remaining.join(keep, "node", "left_anti")
            if peeled.limit(1).count() == 0:
                break
            assigned.append(
                peeled.select("node", F.col("node").alias("component"))
            )
            remaining = keep
            e = induced(e, keep)
        if remaining.limit(1).count() == 0:
            break
        # -- 2. forward max-coloring to fixpoint --
        color = cut_lineage(
            remaining.select("node", F.col("node").alias("color"))
        )
        for _it in range(max_color_iters):
            incoming = (
                color.join(e, color["node"] == e["src"])
                .groupBy(F.col("dst").alias("node"))
                .agg(F.max("color").alias("in_color"))
            )
            nxt = cut_lineage(
                color.join(incoming, "node", "left_outer").select(
                    "node",
                    F.greatest(
                        "color", F.coalesce("in_color", "color")
                    ).alias("color"),
                )
            )
            changed = (
                nxt.join(
                    color.withColumnRenamed("color", "old"), "node"
                )
                .where(F.col("color") != F.col("old"))
                .limit(1)
                .count()
            )
            color = nxt
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"SCC coloring did not converge in {max_color_iters} "
                "iterations — raise max_color_iters (long in-chains "
                "need as many rounds as their length)"
            )
        # -- 3. backward reach from every color root within its class --
        # edge (u -> v) usable backward from v to u iff both same color;
        # the reach ends on an empty frontier, so its depth is unbounded
        ec = cut_lineage(
            e.join(
                color.select(F.col("node").alias("src"), F.col("color").alias("cs")),
                "src",
            )
            .join(
                color.select(F.col("node").alias("dst"), F.col("color").alias("cd")),
                "dst",
            )
            .where(F.col("cs") == F.col("cd"))
            .select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                F.col("cs").alias("color"),
            )
        )
        scc = _bfs(
            color.where(F.col("node") == F.col("color")).select(
                "color", "node", F.lit(0).cast("long").alias("depth")
            ),
            ec,
            sys.maxsize,
            keys=["color"],
        )
        # -- 4. relabel to min member id, peel, next round --
        labels = scc.groupBy("color").agg(F.min("node").alias("component"))
        found = cut_lineage(
            scc.join(labels, "color").select("node", "component")
        )
        assigned.append(found)
        remaining = cut_lineage(
            remaining.join(found.select("node"), "node", "left_anti")
        )
        if remaining.limit(1).count() == 0:
            break
        e = induced(e, remaining)
    else:
        if remaining.limit(1).count() != 0:
            raise RuntimeError(
                f"SCC did not assign every node in {max_rounds} rounds — "
                "raise max_rounds"
            )
    if not assigned:
        return nodes.select(
            "node", F.col("node").alias("component")
        ).limit(0)
    return reduce(DataFrame.unionByName, assigned)


def bowtie_roles(
    edges: DataFrame,
    scc: DataFrame | None = None,
    max_depth: int = 30,
) -> DataFrame:
    """Bow-tie decomposition of a directed graph -> (node, role), role in
    {'core', 'in', 'out', 'other'} — the Broder et al. (2000) map of the
    web: the giant SCC ('core'), pages that reach it ('in'), pages it
    reaches ('out'), and tendrils/islands ('other'). For crawl curation
    this is THE structural audit: a healthy crawl is mostly core+in+out;
    a scraper loop shows up as a bloated disconnected 'other'.

    ``scc`` defaults to :func:`strongly_connected_components` of the
    edge set; pass a precomputed labeling to reuse it. The core is the
    largest SCC (ties -> min component id — deterministic); 'in'/'out'
    are level-synchronous BFS reaches (:func:`bfs_depths`) over the
    reversed / forward edges seeded at the core, so the whole
    decomposition costs one SCC run + two BFS sweeps + one size argmax —
    no per-class passes.
    """
    if scc is None:
        scc = strongly_connected_components(edges)
    scc = cut_lineage(scc)
    top = (
        scc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .orderBy(F.col("sz").desc(), F.col("component").asc())
        .limit(1)
    )
    core = cut_lineage(
        scc.join(
            top.select("component"), "component", "left_semi"
        ).select("node")
    )
    e = edges.select("src", "dst")
    fwd = bfs_depths(e, core, max_depth=max_depth).select("node")
    bwd = bfs_depths(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        core,
        max_depth=max_depth,
    ).select("node")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    return (
        nodes.join(core.withColumn("_c", F.lit(1)), "node", "left_outer")
        .join(
            fwd.withColumn("_f", F.lit(1)).distinct(), "node", "left_outer"
        )
        .join(
            bwd.withColumn("_b", F.lit(1)).distinct(), "node", "left_outer"
        )
        .select(
            "node",
            F.when(F.col("_c").isNotNull(), F.lit("core"))
            .when(F.col("_b").isNotNull(), F.lit("in"))
            .when(F.col("_f").isNotNull(), F.lit("out"))
            .otherwise(F.lit("other"))
            .alias("role"),
        )
    )


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 10,
    node_col: str = "node",
    weight_col: str = "weight",
) -> DataFrame:
    """Single-source-set weighted shortest paths -> (node, dist): min
    total edge weight from any seed within ``max_hops`` edges,
    non-negative integer weights (dist is exact long arithmetic — no
    float drift between engines). The KG proximity primitive: entity
    relatedness along weighted relation edges, crawl cost-to-reach,
    citation distance.

    Bellman-Ford with a CHANGED-ONLY frontier (delta-stepping's
    practical core): each hop joins only the nodes whose distance
    improved last round against the edge relation, min-combines
    candidate distances map-side, and keeps a candidate only where it
    beats the current label (one left-outer join). Converged (empty
    frontier) exits early — on a non-negative-weight graph that is the
    true fixpoint, ``max_hops`` is just the lineage/budget bound.

    100 TB shape: per hop, one equi-join keyed on the frontier node (AQE
    splits hub keys) + one map-side-combined min + one outer join on
    node; the distance relation is node-sized, the frontier shrinks to
    the shortest-path DAG's active level. Lineage cut per hop.
    """
    dist = cut_lineage(
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    frontier = dist
    e = edges.select(
        "src", "dst", F.col(weight_col).cast("long").alias("w")
    )
    for _h in range(max_hops):
        cand = (
            frontier.join(e, frontier["node"] == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("nd"))
        )
        improved = cut_lineage(
            cand.join(
                dist.withColumnRenamed("dist", "old"), "node", "left_outer"
            )
            .where(F.col("old").isNull() | (F.col("nd") < F.col("old")))
            .select("node", F.col("nd").alias("dist"))
        )
        if improved.limit(1).count() == 0:
            break
        dist = cut_lineage(
            dist.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved)
        )
        frontier = improved
    return dist


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient on the undirected simple graph ->
    (node, degree, n_triangles, lcc), lcc = 2T / (d(d-1)) rounded to 6
    (0.0 when d < 2). The community-vs-spam texture signal that pairs
    with :func:`triangle_counts` (which supplies T via the degree-
    oriented wedge join — see its docstring for the O(sqrt m) fan-out
    bound): genuine topic neighborhoods are triangle-dense, link farms
    and nav boilerplate are star-shaped (high degree, lcc ~ 0).

    Costs the triangle pass + one degree aggregation + one left join;
    output is node-sized. Nodes outside any triangle get lcc 0.0 with
    their true degree — absence of triangles is the signal, so they are
    NOT dropped.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(edges)
    return deg.join(tri, "node", "left_outer").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        F.when(
            F.col("degree") < 2, F.lit(0.0)
        )
        .otherwise(
            F.round(
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            )
        )
        .alias("lcc"),
    )


def condensation(
    edges: DataFrame, scc: DataFrame | None = None
) -> DataFrame:
    """Condensation DAG of a directed graph -> (src_comp, dst_comp)
    distinct component-level edges, intra-component edges dropped. The
    SCC-contracted graph is acyclic by construction — the relation on
    which taxonomy ordering, layered crawl scheduling, and the bow-tie
    IN/OUT split become simple DAG problems.

    ``scc`` defaults to :func:`strongly_connected_components`; pass a
    precomputed labeling to reuse it. Costs two node-keyed equi-joins of
    the edge relation against the (node, component) labeling plus one
    distinct — hub components are AQE territory, output is
    component-edge-sized.
    """
    if scc is None:
        scc = strongly_connected_components(edges)
    scc = cut_lineage(scc)
    e = edges.select("src", "dst")
    labeled = (
        e.join(
            scc.select(
                F.col("node").alias("src"), F.col("component").alias("src_comp")
            ),
            "src",
        )
        .join(
            scc.select(
                F.col("node").alias("dst"), F.col("component").alias("dst_comp")
            ),
            "dst",
        )
        .where(F.col("src_comp") != F.col("dst_comp"))
        .select("src_comp", "dst_comp")
        .distinct()
    )
    return labeled


def approx_closeness(
    edges: DataFrame,
    n_seeds: int = 8,
    max_depth: int = 10,
) -> DataFrame:
    """Approximate closeness centrality (Eppstein & Wang 2004) ->
    (node, reached, sum_depth, inv_avg_dist): BFS distances from a
    SAMPLE of seed nodes stand in for all-pairs distances — the only way
    closeness exists at web scale, where exact all-pairs BFS is O(nm).

    Pinned algebra: seeds = the ``n_seeds`` nodes with the smallest
    md5-60bit hashes (the bottom-k construction — an ordered take, never
    a partition-order-dependent limit, and the SAME sample every run /
    engine); per-seed min-hop depths by level-synchronous BFS on
    (seed, node) state; per node, ``reached`` = seeds that reach it,
    ``sum_depth`` = their distance total, and
    ``inv_avg_dist = round(reached / sum_depth, 6)`` (NULL when
    sum_depth = 0, i.e. the node is only reached by itself as a seed) —
    the inverse mean seed distance, a monotone stand-in for closeness
    that needs no global n and handles disconnection honestly (only
    reached pairs count, the web-graph reality Eppstein-Wang's
    connected-graph formula ignores).

    100 TB shape: :func:`bfs_depths`' frontier (:func:`_bfs`) keyed by
    ``seed``, so it carries (seed, node) — per level one equi-join keyed
    on the hop node (AQE splits hubs) and one anti-join on (seed, node);
    state is at most n_seeds x reachable-nodes, the deliberate EW trade.
    Seed selection is a TakeOrderedAndProject heap merge, not a sort.
    Lineage cut per level.
    """
    if n_seeds < 1 or max_depth < 1:
        raise ValueError("approx_closeness needs n_seeds, max_depth >= 1")
    from .sketches import _h60

    h = _h60(F.col("node"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = (
        nodes.orderBy(h.asc(), F.col("node").asc())
        .limit(n_seeds)
        .select(F.col("node").alias("seed"))
    )
    visited = _bfs(
        seeds.select(
            "seed",
            F.col("seed").alias("node"),
            F.lit(0).cast("long").alias("depth"),
        ),
        edges.select("src", "dst"),
        max_depth,
        keys=["seed"],
    )
    agg = visited.groupBy("node").agg(
        F.count(F.lit(1)).alias("reached"),
        F.sum("depth").alias("sum_depth"),
    )
    return agg.select(
        "node",
        "reached",
        "sum_depth",
        F.when(
            F.col("sum_depth") > 0,
            F.round(
                F.col("reached").cast("double")
                / F.col("sum_depth").cast("double"),
                6,
            ),
        ).alias("inv_avg_dist"),
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """One-row (n_edges, assortativity): the Pearson correlation between
    the total degrees of edge endpoints (Newman 2002) — the crawl-audit
    scalar that separates social-network-like graphs (hubs link hubs,
    r > 0) from web-like graphs (hubs link leaves, r < 0); a sudden sign
    drift between crawl snapshots is a structural red flag.

    Pinned algebra: degree = in + out per node; per directed edge the
    pair (x, y) = (deg(src), deg(dst)); r = the textbook moment formula
    (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²) · (n·Σy² − (Σy)²)), every Σ
    an EXACT integer sum (longs — exact up to 2^63; beyond that scale
    switch the Σ columns to double and accept last-ulp drift), the
    formula then evaluated in IEEE double in this exact term order and
    rounded to 6dp; NULL when either variance is zero. Exact integer
    moments are what make a CORRELATION hash-checkable across engines —
    ``F.corr``'s streaming covariance would differ in float order.

    100 TB shape: one degree aggregation (map-side combinable), two
    broadcast-eligible joins of the edge relation against the
    node-degree relation (hub endpoints are AQE skew territory), and a
    single 6-scalar aggregate to the driver."""
    e = edges.select("src", "dst")
    deg = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    pairs = (
        e.join(deg.select(F.col("node").alias("src"), F.col("deg").alias("_x")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("deg").alias("_y")), "dst")
        .select("_x", "_y")
    )
    m = pairs.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    n = F.col("_n").cast("double")
    num = n * F.col("_sxy").cast("double") - (
        F.col("_sx").cast("double") * F.col("_sy").cast("double")
    )
    vx = n * F.col("_sxx").cast("double") - (
        F.col("_sx").cast("double") * F.col("_sx").cast("double")
    )
    vy = n * F.col("_syy").cast("double") - (
        F.col("_sy").cast("double") * F.col("_sy").cast("double")
    )
    return m.select(
        F.col("_n").alias("n_edges"),
        F.when(
            (vx > 0) & (vy > 0), F.round(num / F.sqrt(vx * vy), 6)
        ).alias("assortativity"),
    )
