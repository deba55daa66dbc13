"""Capture .explain('formatted') for the headline plans into PLANS.md —
evidence that filters/projections push into the scans, dictionary joins
broadcast, and expressions stay in whole-stage codegen.

Usage: python scripts/capture_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CAPTURE = [
    ("flagship_search", "token-overlap funnel: scan must show ReadSchema "
     "pruned to (doc_id, lang, source, text) and the score filter"),
    ("q1_pricing_summary", "agg pushdown: PushedFilters on l_shipdate, "
     "partial hash aggregate before the shuffle"),
    ("p3_date_filter", "date range reaches the parquet scan as PushedFilters"),
    ("j1_new_keys", "left-anti join strategy"),
    ("s_knn_bruteforce", "broadcast of the query side + window top-k"),
    ("d_token_jaccard", "bucket-blocked self-join (no cartesian)"),
    ("incr_change_detect", "single-scan classification: ONE full-outer join, "
     "2 parquet scans total (was 8 with the per-class join formulation)"),
    ("s3_glob_filter", "glob include/exclude as a pure rlike conjunction "
     "inside whole-stage codegen"),
    ("d_minhash_lsh", "exact-dup collapse (groupBy md5) -> repartitioned "
     "banding -> band-key equi-join; localCheckpoint stops the double "
     "compute of the python signature stage"),
    ("d_neardup_verified", "verification joins only candidate docs "
     "(left_semi before the shingle projection)"),
    ("s_knn_lsh", "banded sketch equi-join + exact re-rank on candidates"),
    ("q5_local_supplier", "5-way join: region/nation broadcast, "
     "sort-merge or shuffled-hash on the fact side"),
    ("e_sessionize", "windowed lag + running sum (single shuffle per user)"),
    ("d_contamination", "corpus grams explode map-side and hash-join the "
     "BROADCAST eval gram set — no corpus shuffle; n-grams built from a "
     "projected token column (one regex split per row, not per element)"),
    ("t_stratified_sample", "deterministic md5-rate sample: a pure filter, "
     "NO Exchange anywhere in the plan"),
    ("f14_extras", "MapType build/read stays inside whole-stage codegen "
     "over a pruned (doc_id, source, lang, n_chars) scan"),
    ("g_outlinks", "href resolution is pure codegen'd regexp/when over a "
     "single pruned scan — no Exchange, no Python"),
    ("g_pagerank", "one equi-join + partially-aggregated sum per iteration; "
     "LocalTableScan/checkpointed rank relation (lineage cut) — plan depth "
     "does not grow with iterations"),
    ("x_train_order", "per-shard window: Exchange hashes on shard only, "
     "sort is within shard partitions (no global sort)"),
    ("x_pack_sequences", "running-sum window partitioned by shard — "
     "single hash Exchange, per-partition running state"),
    ("x_domain_cap", "windowed top-cap per domain: one Exchange on the "
     "domain key, filter on row_number; oversized domains (none at driver "
     "scale) would route through the salted skew_prefilter first"),
    ("t_unigram_lm", "vocab table joins back as BroadcastHashJoin — the "
     "per-doc scoring pass is map-side, only the unigram count shuffles"),
    ("d_dedup_clusters", "components run on the (checkpointed) pair graph "
     "only; cluster labels join back to the corpus as a broadcast"),
    ("d_neardup_incremental", "md5 equi-join fast path + band-key equi-join "
     "of new-side bands vs corpus rep bands — no corpus self-join"),
    ("d_dup_spans", "ONE documents scan + ONE gram-keyed Exchange: corpus "
     "gram frequency as a count-window (not groupBy+semi-join, which would "
     "scan and shuffle the gram relation twice); both doc-windows share "
     "one sort after the doc_id Exchange"),
    ("d_semdedup", "within-cluster pairwise pass is an equi-join on "
     "cluster_id (never corpus all-pairs); cosine is a JVM higher-order "
     "fold; survivor labels join back"),
    ("t_quality_model", "hashed-linear classifier: single pruned scan, "
     "pure projections, NO Exchange anywhere"),
    ("g_triangles", "degree-oriented wedge join: und/oriented relations "
     "are lineage-cut (scanned as checkpointed RDDs, each computed once); "
     "wedge + closing joins are equi-joins, corner union aggregates "
     "map-side"),
    ("g_hits", "per half-step: one edge/score equi-join + partial-agg sum "
     "into a lineage-cut node-sized relation; the L1 normalizer is a 1-row "
     "aggregate BroadcastNestedLoopJoin'd (broadcast cross) into the "
     "update — no driver collect, plan depth O(1) in iterations"),
    ("g_anchor_aliases", "anchor harvest: one codegen'd regex scan + ONE "
     "shuffle for the (dst, anchor) count-agg (count + distinct-src in the "
     "same groupBy); the per-dst window reads the already-aggregated "
     "relation, so hub targets reduce to their distinct anchors first"),
    ("kg_cooccur_pmi", "pair relation is a ctx equi-join of the distinct "
     "mention relation with itself (fan-out k^2 per context, never "
     "corpus-sized); pair counts partial-aggregate map-side; marginals "
     "join back BROADCAST; N is a 1-row broadcast cross-join"),
    ("t_boilerplate", "line relation is ONE posexplode scan (lineage-cut: "
     "feeds the df-count and the removal join once each); the boilerplate "
     "SET is df-filtered distinct pairs — removal joins it on the 16-byte "
     "hash, and totals + removed-counts + the ordered rebuild all come "
     "out of ONE groupBy on the id key"),
    ("t_canonical_urls", "canonical-url algebra is pure codegen'd "
     "regexp/when/filter over a single pruned scan — no Exchange, "
     "no Python"),
    ("t_domain_profile", "ONE scan: corpus-wide dup flags from a count "
     "window partitioned by the 16-byte text hash, then one map-side-"
     "combinable groupBy on host (countDistinct lang expands per host, "
     "bounded by the lang alphabet)"),
    ("g_random_walks", "hash-random walk corpus: per step one frontier-"
     "edges equi-join + ONE map-side-combinable struct-max per walk "
     "(never a per-walk sort); frontier stays one row per live walk"),
    ("t_bigram_lm", "KenLM-style bigram fluency: token array projected "
     "before the pair lambda (no-CSE rule), one explode into the "
     "checkpointed bigram relation; (w1,w2) stats join is the honest "
     "LM-training shuffle, unigram-context joins broadcast"),
    ("t_dsir_weights", "DSIR: one explode pass builds both feature "
     "distributions (conditional sum for the target); 256-row stats "
     "broadcast back so scoring is map-side"),
    ("g_bfs_depth", "level-synchronous BFS: per level ONE frontier-edges "
     "equi-join + distinct + anti-join vs visited, lineage cut per "
     "level; early exit on empty frontier"),
    ("kg_type_propagation", "label propagation: per round one "
     "edges-labels equi-join (AQE on hub targets) + vote count + "
     "struct-max pick, both map-side-combinable; seeds overlay via "
     "anti-join"),
    ("kg_pred_profile", "schema induction: distinct claims then one "
     "grouped pass; count-distincts expand map-side"),
    ("kg_triple_support", "claim evidence: ONE grouped pass, every "
     "aggregate map-side partial (count/min/max/weighted sum); hub "
     "claims fan in without a single-task sort"),
    ("kg_functional_conflicts", "two chained map-side aggs (s,p,o) then "
     "(s,p) — no windows, no self-joins; second input already "
     "evidence-collapsed to one row per distinct value"),
    ("kg_triple_snapshot", "temporal KG state: ONE map-side-combinable "
     "struct-max aggregation per (subj, pred) — no window sort, no "
     "row_number; hub subjects cost a partial-agg fan-in, not a "
     "single-task sort"),
    ("kg_triple_intervals", "validity ledger: one shuffle on (subj, "
     "pred) + per-key sort for lead(); the point-in-time filter on the "
     "materialized table is a pushable range predicate"),
    ("j5_asof_latest_order", "as-of via tagged union + running last() "
     "window: ONE Exchange per side on the key, no per-key theta-join "
     "explosion (a range-join formulation would plan as "
     "BroadcastNestedLoop); right side pre-deduped by a map-side "
     "struct-max aggregate"),
    ("kg_bgp_match", "SPARQL BGP: per-pattern constants appear as "
     "PushedFilters on the triple scan (EqualTo on pred), each pattern "
     "projects only its variables, joins are hash equi-joins on shared "
     "vars (AQE broadcasts the selective sides)"),
    ("g_link_predict", "link prediction: wedge join through the center "
     "with degrees pre-joined; groupBy (pa,pb) map-side-combinable; "
     "anti-join vs adjacency; final top-k is TakeOrderedAndProject"),
    ("g_lpa", "synchronous LPA: per round one equi-join keyed on the "
     "receiving node + vote count + struct-max argmax (both map-side-"
     "combinable); lineage cut per round"),
    ("kg_isa_closure", "bounded closure by ITERATED SQUARING: "
     "ceil(log2(d)) min-plus self-joins + groupBy-min instead of d "
     "expansion steps; dist capped in-plan before the min"),
    ("x_kg_negatives", "filtered negatives: vocabulary-sized pools join "
     "back as broadcasts (counts, then values); corpus path is one "
     "explode + equi-joins + anti-join on the triple key"),
    ("kg_path_rules", "AMIE path rules: bridge-keyed chain join with "
     "immediate DISTINCT (multi-bridge collapse), head equi-join on "
     "the (a,c) pair, predicate-pair body totals broadcast"),
    ("kg_snapshot_diff", "snapshot delta: ONE scan, ONE shuffle — both "
     "cutoffs as conditional struct-max inside a single groupBy; no "
     "snapshot-vs-snapshot join"),
    ("g_clustering", "degree agg + left join onto the triangle pass; the "
     "oriented wedge relations stay lineage-cut (computed once)"),
    ("t_tfidf_terms", "corpus tokenized ONCE: the lineage-cut (id, term, "
     "tf) relation feeds both the df aggregation and the join back; N is "
     "a 1-row broadcast cross-join; top-k window per doc"),
    ("t_kmv_cardinality", "KMV sketch: one distinct, one per-group window "
     "rank, one combinable groupBy — output is group-sized"),
    ("kg_bgp_filter", "VALUES appears as a BroadcastHashJoin of the "
     "3-row inline relation (prunes the join tree); the cross-variable "
     "FILTER sits above the self-join"),
    ("kg_bgp_agg", "solution-level aggregation: count-distinct expands "
     "map-side over the joined solution relation; HAVING is a post-agg "
     "filter"),
    ("kg_forward_chain", "fixpoint relation reads from the final-round "
     "checkpoint (lineage cut per round — plan depth O(1) in rounds, "
     "same discipline as g_pagerank); per-round work is equi-joins + "
     "one anti-join, visible in the per-round plans, not here"),
    ("t_cm_heavy_hitters", "the bounded-size counter table joins back "
     "as a BroadcastHashJoin against the candidate values; top-k is "
     "TakeOrderedAndProject, the rank window sorts only the k "
     "survivors"),
    ("t_quantile_sketch", "two map-side-combinable aggregations over the "
     "corpus (min/max/count, then bin counts); the per-group stats join "
     "back BROADCAST; the cumulative window and quantile extraction run "
     "on the <= groups x n_bins histogram relation only"),
    ("j6_bloom_prune", "the fact-side membership test is a pure codegen'd "
     "Filter off the bitmask literal — NO join, NO Exchange of the fact "
     "table before the filter; the only shuffle is the post-prune "
     "aggregation"),
    ("s_kmeans", "the final E-step is MAP-ONLY: centroids are a k x d "
     "literal, the distance argmin is a projected column expression — "
     "no join, no corpus shuffle (the per-iteration M-step aggregations "
     "ran at fit time, each one map-side-combined to k x d rows)"),
    ("t_bpe_pairs", "one corpus-scale aggregation (words), then the pair "
     "explode + count runs on the vocab-sized relation; top-20 is "
     "TakeOrderedAndProject and the rank window sorts 20 rows"),
    ("t_bpe_merges", "the final round's relation reads from the round-6 "
     "lineage cut (plan depth O(1) in rounds); each round was one "
     "vocab-relation aggregation + a 1-row TakeOrdered to the driver + "
     "one literal replace projection"),
    ("x_dsir_sample", "the acceptance test is a map-side Filter over the "
     "scored relation — exp/compare in codegen, no shuffle added to the "
     "DSIR plan"),
    ("x_domain_mix", "domain rates join back as a BroadcastHashJoin "
     "(domain-cardinality relation); the corpus side is scan -> "
     "broadcast-join -> filter, zero corpus shuffle; the scalar T rides "
     "a 1-row broadcast cross-join (the dangling-mass pattern)"),
    # -- round-5: every remaining driver-window query gets a capture --
    ("g_scc", "trim + FW-coloring SCC: the final labeling reads from the "
     "last round's lineage cut (plan depth O(1) in rounds); each round "
     "was two trim left-semi passes + a forward max-coloring equi-join "
     "chain + a backward reach join, all node-keyed equi-joins"),
    ("g_shortest_paths", "Bellman-Ford with a CHANGED-ONLY frontier: "
     "per hop one frontier-edges equi-join + map-side min-combine; "
     "dist is exact long arithmetic; final relation reads from the "
     "last hop's lineage cut"),
    ("g_condensation", "two node-keyed equi-joins of the edge relation "
     "against the (node, component) labeling + one distinct — output is "
     "component-sized; hub components are AQE territory"),
    ("g_bowtie", "reuses ONE SCC labeling for core pick + IN/OUT "
     "reachability; per-phase joins are node-keyed; role assignment is "
     "a coalesce over left joins, no corpus-sized shuffle beyond the "
     "labeling itself"),
    ("kg_chain_incremental", "delta-only semi-naive chaining: new rounds "
     "join the DELTA against the stored closure (never closure x "
     "closure), so work scales with the blast radius of the new "
     "triples, not KG size"),
    ("t_kmv_merge", "shard states union into a (shards x k per group) "
     "bounded relation; the re-rank window sorts sketch-sized "
     "partitions; output is group-sized — the shards' rows are never "
     "rescanned"),
    ("c_frontier_schedule", "per-host priority window + orderBy+limit "
     "wave cut (TakeOrderedAndProject — never a full frontier sort); "
     "the rank window then numbers only the wave's rows. limit=None "
     "routes through per-pos-band ranks + broadcast offsets instead of "
     "any global window (test_frontier plan tests pin both)"),
    ("x_bpe_token_counts", "token counting runs the learned merge list "
     "as literal bracket replaces over the DISTINCT-words relation "
     "(vocab-sized), then joins counts back — the corpus is tokenized "
     "exactly once at word granularity"),
    ("x_bpe_vocab", "vocab construction replays merge rounds over "
     "vocab-sized relations; token-id assignment is a window over the "
     "bounded vocab table, no corpus involvement at all"),
    ("t_bottomk_sample", "per-group window rank <= k: rows never leave "
     "their group's partition and the sort is within group partitions; "
     "method='partial' (parity-pinned) pre-shrinks each partition to k "
     "rows per group in an Arrow pass before the one shuffle"),
    ("d_semdedup_kmeans", "SemDeDup over a REAL k-means fit: the E-step "
     "assignment is a map-only projection off the k x d centroid "
     "literal; the within-cluster pair pass is a cluster-id equi-join "
     "with vector norms hoisted OUT of the pair join (computed once per "
     "row, not per pair)"),
    ("t_url_filter", "C4/RefinedWeb-style URL gate: config lists are "
     "literal arrays in codegen; the UT1-scale blocklist path is a "
     "suffix-explode + broadcast equi-join — the corpus never "
     "shuffles"),
    ("kg_pipeline_mini", "the end-to-end DAG at oracle scale: ONE "
     "MapInPandas carries extract+chunk; mention/link joins hit the "
     "BROADCAST alias dictionary; canonicalization joins are "
     "entity-sized — shuffle volume is O(entities), not O(corpus)"),
    ("kg_vector_search", "the stored-index search path: scan of the "
     "persisted chunks+embeddings parquet, query vector as a literal, "
     "cosine as a JVM higher-order fold, top-k via "
     "TakeOrderedAndProject on the rounded score"),
    ("incr_apply", "incremental apply: ONE full-outer join classifies "
     "old vs new state; only the changed frontier re-extracts (the "
     "MapInPandas input is frontier-sized); row-level merges are "
     "key-equi-joins against the stored tables"),
    ("g_degree_topk", "in-degree hubs: one map-side-combinable count "
     "agg + TakeOrderedAndProject — no rank window over the node "
     "universe"),
    ("g_components", "CC below the size threshold: the edge set is cut "
     "once and collected; the driver union-find's labels come back as a "
     "LocalRelation left-joined onto the vertex set (no per-round "
     "joins)"),
    ("g_two_hop", "2-hop reach: two edge equi-joins through the mid "
     "node with an early DISTINCT between hops (multi-path collapse "
     "BEFORE the second fan-out); per-source counts aggregate "
     "map-side"),
    ("f6_issue_keys", "issue-key normalization is pure codegen'd "
     "regexp_extract/upper over a single pruned scan — no Exchange, no "
     "Python"),
    ("t_kmv_partial", "the PRODUCTION sketch plan: MapInPandas (per-batch "
     "bounded heaps) sits BELOW every hash exchange — the shuffle moves "
     "<= k rows per group per partition, not the distinct-value "
     "universe; the finalize window gets WindowGroupLimit pushdown"),
    ("t_bottomk_partial", "same partial-aggregate shape for the sampler: "
     "Arrow heap pass before the one shuffle, window ranks only the "
     "<= k x partitions survivors"),
    ("t_weighted_sample", "A-ES weighted sampling: md5 + ln score is a "
     "pure codegen projection; per-group top-k window — rows never "
     "leave their group's partition, no extra shuffle beyond the one "
     "group exchange"),
    ("t_kmv_overlap", "sketch-algebra overlap: every relation after the "
     "two state builds is sketch-sized (<= 2k rows per group); the "
     "full-outer state join and re-rank window run on synopsis rows, "
     "the corpus is scanned only by the state builds"),
    ("t_hll_cardinality", "HLL: one distinct pass then ONE map-side-"
     "combinable max-agg keyed on (group, bucket) — the shuffle moves "
     "<= m register rows per group per partition; the estimate is a "
     "projection over the group-sized register aggregate, bin/shiftleft "
     "all in codegen"),
    ("t_hll_merge", "mergeable HLL: shard register states union into a "
     "<= shards x m per-group relation, register-wise max combines "
     "map-side, the finalize runs on group-sized rows — the shards' "
     "corpora are never rescanned"),
    ("g_components_starstar", "star-star CC final labeling: the pair "
     "relation reads from the last round's lineage cut (plan depth O(1) "
     "in rounds); each round was two (min-agg + equi-join) star steps — "
     "no windows, no cartesian, hub centers partial-agg map-side"),
    ("w_warc_roundtrip", "WARC ingest: ONE MapInPandas carries the "
     "whole parse (shard bytes -> records); the only Exchange below it "
     "is the synthesis groupBy that builds the test blobs — a real "
     "crawl reads shards straight off binaryFile with NO shuffle before "
     "the parse"),
    ("c_robots_filter", "robots gate: per-host rules collapse to ONE "
     "array row and join BROADCAST; the match + longest-wins is a "
     "filter/transform/array_max chain in codegen — the frontier side "
     "reaches the join with NO Exchange (plan-asserted in "
     "test_frontier)"),
    ("c_recrawl_priority", "recrawl scheduling: ONE url-keyed window "
     "(per-URL histories are refetch-count-sized) + ONE map-side-"
     "combinable groupBy; the ppm algebra is exact integer division in "
     "codegen — output is URL-sized, nothing shuffles twice"),
    ("g_hyperball", "HyperBall: per round ONE equi-join (edges x a "
     "<= m-rows-per-node register relation) + ONE map-side-combinable "
     "max agg — state bounded by m registers per node regardless of "
     "ball size; lineage cut every round so the final plan reads from "
     "the checkpointed registers, not a radius-deep replay"),
    ("c_crawl_budget", "Hamilton apportionment: ONE 1-row broadcast "
     "total + map-side floor/rem arithmetic; top-R-by-remainder "
     "selection via fixed remainder bands + a broadcast cumulative "
     "offset — the only single-partition window is over the <= bands-"
     "row band-count relation, never the host relation"),
    ("c_sitemap_ingest", "sitemap parse: pure per-row codegen — comment "
     "strip, one split/explode per document kind (bounded fan-out: the "
     "spec caps a sitemap at 50k entries), regexp field extraction and "
     "exact-integer epoch algebra — ZERO shuffles on the parse side "
     "(the Exchanges in this capture belong to the oracle's synthesis "
     "groupBy, not the parser)"),
    ("w_cdx_index", "CDX indexing: surt/md5/length are pure codegen on "
     "the parsed pages; the ONLY shuffle the indexer adds is the "
     "digest-keyed revisit window, whose partitions are duplicate-"
     "cluster-sized — with sort_parts it becomes repartitionByRange + "
     "sortWithinPartitions (globally-sorted file set, no single-node "
     "sort)"),
    ("g_harmonic", "HyperBall harmonic centrality: the final plan reads "
     "node-sized checkpointed estimate relations and equi-joins them on "
     "node — the per-round register join/agg cost is identical to "
     "g_hyperball and already cut from this lineage"),
    ("t_registered_domain", "PSL extraction: DISTINCT hosts explode "
     "into <= label-count suffix candidates, equi-join the BROADCAST "
     "rules relation, one combinable max-agg picks the prevailing "
     "rule; the corpus joins back on the host key — every relation "
     "after the distinct is host-sized, no LIKE/regex cross-join"),
    ("w_charset_sniff", "charset sniff: pure per-row codegen on the "
     "binary column (substring/hex/decode/regexp) — zero shuffles, "
     "zero Python; the probe reads probe_bytes, never the whole blob"),
    ("c_fetch_sessions", "sessionization: ONE key-partitioned window "
     "(lag + running sum, per-key histories bounded) feeding ONE "
     "map-side-combinable rollup — session-sized output, no global "
     "sort"),
    ("c_crawl_delay", "Crawl-delay extraction: the same bounded "
     "per-host line windows as parse_robots (shared _robots_groups "
     "pass) plus one combinable max-agg — host-sized output"),
    ("g_nf_curve", "HyperANF NF curve: per radius ONE combinable "
     "(count, bigint-sum) agg over the checkpointed node-sized "
     "estimate relation; the per-round register join/agg is already "
     "cut from this lineage — output is max_radius + 1 rows"),
    ("t_kmv_compare", "KMV snapshot compare: every relation after the "
     "two bounded states is sketch-sized (<= 2k rows per group) — the "
     "full-outer hash join, the bottom-k window, and the share "
     "arithmetic all run on synopsis state, never the corpus"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as em
    from chunksilo_spark.session import get_spark

    spark = get_spark("capture_plans", cores=8)
    qs = em.queries()
    out = [
        "# PLANS — physical plan evidence (auto-captured)",
        "",
        f"`.explain('formatted')` at {sf_dir}; regenerate with "
        "`python scripts/capture_plans.py`.",
        "",
    ]
    for name, why in CAPTURE:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", f"*What to check: {why}*", "", "```",
                buf.getvalue().rstrip(), "```", ""]

    # the headline 100-TB DAG: fused extract+link+triples (one Arrow pass
    # over url-hash partitions, zero corpus-sized shuffles) -> canonical
    # triples (joins against dictionary-sized canon/linked relations)
    from chunksilo_spark.operators import fused as fz
    from chunksilo_spark.operators import stage2_link as s2
    from chunksilo_spark.operators.canon import canon_map, normalize_column
    from chunksilo_spark.sources.corpus import aliases_df, pages_df

    pages = pages_df(spark, 2000, partitions=8)
    alias_bc = s2.build_alias_broadcast(spark, aliases_df(spark))
    fused = fz.fused_linked_triples(pages, alias_bc)
    surfaces = (
        fz.distinct_norms(fused)
        .unionByName(normalize_column(aliases_df(spark), "alias"))
        .distinct()
    )
    final = fz.canonical_from_fused(fused, canon_map(surfaces, auto_local=False))
    buf = io.StringIO()
    with redirect_stdout(buf):
        final.explain("formatted")
    out += [
        "## kg_pipeline (fused mode, distributed canon path)", "",
        "*What to check: the corpus flows through ONE MapInPandas (no "
        "corpus-sized shuffle before it — the Exchange below it is the "
        "url-hash repartition of the generator); everything after operates "
        "on dictionary-sized relations (distinct norms, canon map, linked "
        "surfaces), so shuffle volume is O(entities), not O(corpus)*",
        "", "```", buf.getvalue().rstrip(), "```", "",
    ]
    spark.stop()
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
