"""Web-graph operators: href resolution (kernel == Spark expr == urljoin on
the supported subset), outlink extraction, PageRank vs a plain-python
oracle, degrees and 2-hop reach."""

from urllib.parse import urljoin

import pyspark.sql.functions as F
import pytest

from chunksilo_spark.functions import urls as U
from chunksilo_spark.operators import graph as G

BASES = [
    "https://site0.example/dir0/sub/page7.html",
    "http://a.example/x/y/z.html",
    "https://deep.example/a/b/c/d/e.html",
]
HREFS = [
    "https://other.example/abs.html",
    "http://other.example/abs2",
    "mailto:someone@example.com",
    "javascript:void(0)",
    "tel:+15551234567",
    "//cdn.example/lib/app.js",
    "/rooted/x.html",
    "/rooted/../y.html",
    "../up/one.html",
    "../../up/two.html",
    "./same/dir.html",
    "sub/page.html",
    "plain.html",
    "plain.html#frag",
    "#frag-only",
    "",
    "  spaced.html  ",
    "\tx.html",
    "x.html#s\nmore",
    "a/./b/../c.html",
]


class TestResolveKernel:
    def test_matches_urljoin_on_supported_subset(self):
        # on crawler-real inputs the pinned algebra IS urljoin (minus the
        # None-for-non-http schemes policy, which urljoin keeps verbatim)
        for base in BASES:
            for href in HREFS:
                got = U.resolve_href(base, href)
                if got is None:
                    h = href.strip().split("#", 1)[0]
                    assert h == "" or (
                        U._SCHEME_C.match(h) and not h.startswith("http")
                    ), (base, href)
                else:
                    # the algebra strips fragments (edges don't carry them);
                    # urljoin keeps them — compare on the stripped href
                    stripped = href.strip().split("#", 1)[0]
                    assert got == urljoin(base, stripped), (base, href)

    def test_fragment_stripped(self):
        assert (
            U.resolve_href(BASES[0], "x.html#sec")
            == "https://site0.example/dir0/sub/x.html"
        )

    def test_non_absolute_base(self):
        assert U.resolve_href("not-a-url", "x.html") is None

    def test_pathless_base_never_corrupts(self):
        # a base with no '/' after the authority (canonical homepage form)
        # must NOT concatenate into 'https://h.examplex'; every
        # base-dependent branch returns None, absolute hrefs still resolve
        for base in ("https://h.example", "http://h.example",
                     "https://h.example?q=1"):
            for href in ("x.html", "./x.html", "../x.html", "/rooted.html",
                         "//cdn.example/l.js"):
                assert U.resolve_href(base, href) is None, (base, href)
            assert (
                U.resolve_href(base, "https://other.example/a.html")
                == "https://other.example/a.html"
            )
            assert U.resolve_href(base, "mailto:x@y.z") is None

    def test_above_root_never_eats_the_host(self):
        # normalization runs on the PATH only: whatever residue the
        # fixed-pass semantics leave, the authority survives verbatim
        for href in ("../x.html", "../../x.html", "../archive/old.html"):
            for base in (
                "https://h.example/a.html",          # shallow: 1-segment path
                "https://site0.example/slug-7",      # corpus url shape
            ):
                out = U.resolve_href(base, href)
                origin = base.rsplit("/", 1)[0]
                assert out.startswith(origin + "/"), (base, href, out)
                assert "x.html" in out or "old.html" in out

    def test_extract_hrefs(self):
        html = '<a href="a.html">x</a><link href = "b.css"><a href=\'c\'>'
        assert U.extract_hrefs(html) == ["a.html", "b.css"]

    def test_page_outlinks_dedups_preserving_order(self):
        html = '<a href="b.html"></a><a href="a.html"></a><a href="b.html">'
        assert U.page_outlinks("https://h.example/d/p.html", html) == [
            "https://h.example/d/b.html",
            "https://h.example/d/a.html",
        ]


class TestResolveColumnTwin:
    def test_expr_matches_kernel_on_grid(self, spark):
        # include path-less / malformed bases so the kernel/column guard
        # parity is exercised, not just pathed crawler bases
        bases = BASES + ["https://h.example", "http://h.example",
                         "https://h.example?q=1", "not-a-url"]
        rows = [(b, h) for b in bases for h in HREFS]
        df = spark.createDataFrame(rows, "base string, href string")
        got = {
            (r["base"], r["href"]): r["resolved"]
            for r in df.select(
                "base",
                "href",
                G.resolve_href_col(
                    df["base"], df["href"]
                ).alias("resolved"),
            ).collect()
        }
        for b, h in rows:
            assert got[(b, h)] == U.resolve_href(b, h), (b, h)


PAGES = [
    (
        "https://h.example/a/index.html",
        '<p><a href="one.html">1</a> <a href="../b/two.html">2</a>'
        ' <a href="mailto:x@y.z">m</a> <a href="one.html#s">dup</a></p>',
    ),
    (
        "https://h.example/b/two.html",
        '<a href="/a/index.html">root</a><a href="//cdn.example/l.js">c</a>',
    ),
    ("https://h.example/c/empty.html", "<p>no links</p>"),
]


class TestOutlinks:
    def _edges(self, spark, html_to_bytes):
        rows = [
            (u, h.encode() if html_to_bytes else h) for u, h in PAGES
        ]
        schema = (
            "url string, html binary" if html_to_bytes else "url string, html string"
        )
        pages = spark.createDataFrame(rows, schema)
        return {
            (r["src"], r["dst"])
            for r in G.extract_outlinks(pages).collect()
        }

    def _expected(self):
        return {
            (u, dst) for u, h in PAGES for dst in U.page_outlinks(u, h)
        }

    def test_matches_python_oracle_string_html(self, spark):
        assert self._edges(spark, html_to_bytes=False) == self._expected()

    def test_matches_python_oracle_binary_html(self, spark):
        assert self._edges(spark, html_to_bytes=True) == self._expected()


def _python_pagerank(edges, iters, d=0.85):
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dangling = sum(r for v, r in rank.items() if v not in out)
        contrib = {v: 0.0 for v in nodes}
        for s, t in edges:
            contrib[t] += rank[s] / out[s]
        rank = {
            v: (1 - d) / n + d * (contrib[v] + dangling / n) for v in nodes
        }
    return rank


class TestPageRank:
    # chain + hub + dangling node (4 has no out-edges) + disconnected pair
    EDGES = [
        (0, 1), (1, 2), (2, 0), (0, 2),
        (3, 0), (2, 4),          # 4 is dangling
        (5, 6), (6, 5),
    ]

    @pytest.mark.parametrize("iters", [1, 5])
    def test_matches_python_oracle(self, spark, iters):
        edges = spark.createDataFrame(self.EDGES, "src long, dst long")
        got = {
            r["node"]: r["rank"]
            for r in G.pagerank(edges, iters=iters).collect()
        }
        want = _python_pagerank(self.EDGES, iters)
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12), v

    def test_mass_conserved(self, spark):
        edges = spark.createDataFrame(self.EDGES, "src long, dst long")
        total = sum(
            r["rank"] for r in G.pagerank(edges, iters=4).collect()
        )
        assert total == pytest.approx(1.0, abs=1e-9)

    def test_empty_graph(self, spark):
        edges = spark.createDataFrame([], "src long, dst long")
        assert G.pagerank(edges, iters=2).count() == 0

    @pytest.mark.parametrize("weight_col", [None, "support"])
    def test_uniform_ppr_is_pagerank(self, spark, weight_col):
        # both entries run one walk: teleporting uniformly to every node
        # IS pagerank, dangling node 4 included, weighted or not
        rows = [(s, t, float(1 + (s + t) % 3)) for s, t in self.EDGES]
        e = spark.createDataFrame(rows, "src long, dst long, support double")
        nodes = sorted({n for edge in self.EDGES for n in edge})
        seeds = spark.createDataFrame(
            [(n, 1.0) for n in nodes], "node long, weight double"
        )
        pr = {
            r["node"]: r["rank"]
            for r in G.pagerank(e, iters=5, weight_col=weight_col).collect()
        }
        ppr = {
            r["node"]: r["rank"]
            for r in G.personalized_pagerank(
                e, seeds, iters=5, edge_weight_col=weight_col
            ).collect()
        }
        assert set(ppr) == set(pr) == set(nodes)
        for v in pr:
            assert ppr[v] == pytest.approx(pr[v], abs=1e-12), v


class TestDegreesAndHops:
    EDGES = [(0, 9), (1, 9), (2, 9), (3, 8), (4, 8), (9, 8), (8, 7)]

    def test_degree_topk(self, spark):
        edges = spark.createDataFrame(self.EDGES, "src long, dst long")
        top = G.degree_topk(edges, k=2).collect()
        assert [(r["node"], r["degree"]) for r in top] == [(8, 3), (9, 3)]

    def test_two_hop(self, spark):
        edges = spark.createDataFrame(self.EDGES, "src long, dst long")
        srcs = spark.createDataFrame([(0,), (3,)], "node long")
        got = {
            r["node"]: r["n_two_hop"]
            for r in G.two_hop_counts(edges, srcs).collect()
        }
        # 0 -> 9 -> 8; 3 -> 8 -> 7
        assert got == {0: 1, 3: 1}


class TestHubSkew:
    """The corpus has 30%-frequency hub pages (SURVEY §5.2); the analogous
    discipline for the graph family: with AQE skew-join ON, the two-hop
    expansion join must not leave a straggler partition > 4x the median —
    and the fixture must be skewed enough that DISABLING skew handling
    violates that bound (so the test actually discriminates)."""

    CONFS = {
        # scaled-down AQE skew thresholds: the production defaults (256 MB)
        # assume production shuffle sizes; the RATIO discipline is what we
        # pin here
        "spark.sql.adaptive.skewJoin.enabled": None,  # set per run
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
    }

    @staticmethod
    def _nid(i):
        import hashlib

        return "https://site%d.example/%s" % (
            i % 97, hashlib.md5(str(i).encode()).hexdigest()
        )

    def _edges(self, spark):
        hub = self._nid(10**9)
        rows = [(self._nid(i), hub) for i in range(30_000)]  # ~33% -> hub
        rows += [
            (self._nid(i), self._nid(30_000 + i % 1000))
            for i in range(30_000, 90_000)
        ]
        rows += [(hub, self._nid(2_000_000 + j)) for j in range(10)]
        return spark.createDataFrame(rows, "src string, dst string")

    def _partition_ratio(self, spark, edges, skew_on):
        import statistics

        confs = dict(self.CONFS)
        confs["spark.sql.adaptive.skewJoin.enabled"] = str(skew_on).lower()
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            joined = G._two_hop_joined(
                edges, edges.select(F.col("src").alias("node")).distinct()
            )
            # keep a payload column alive so pruning doesn't shrink the
            # shuffle below the (byte-based) skew thresholds
            sizes = joined.groupBy(
                F.spark_partition_id().alias("p")
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.min(F.length("src")).alias("keep"),
            )
            s = sorted(r["n"] for r in sizes.collect())
            return s[-1] / max(statistics.median(s), 1)
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def test_skew_join_bounds_stragglers(self, spark):
        edges = self._edges(spark)
        off = self._partition_ratio(spark, edges, skew_on=False)
        assert off > 4.0, f"fixture not skewed enough to discriminate: {off}"
        on = self._partition_ratio(spark, edges, skew_on=True)
        assert on <= 4.0, f"straggler partition {on:.1f}x median with AQE on"

    def test_pagerank_correct_on_hub_skew(self, spark):
        edges = self._edges(spark)
        ranks = G.pagerank(edges, iters=2)
        total = ranks.agg(F.sum("rank")).collect()[0][0]
        assert total == pytest.approx(1.0, abs=1e-9)
        # the hub must absorb by far the largest rank
        top = G.rank_topk(ranks, 1).collect()[0]
        assert top["node"] == self._nid(10**9)


class TestComponentsStrict:
    # path graph 0-1-2-...-6: star-star with max_iter=1 cannot converge
    # and must raise instead of silently returning split components (the
    # long-chain dedup hazard); it reaches the fixpoint in round 3, so
    # max_iter 3 and 4 end there and must not raise
    CHAIN = [(i, i + 1) for i in range(6)]

    @staticmethod
    def cc(edges, max_iter):
        return G.components_starstar(edges, max_iter=max_iter)

    def test_strict_raises_on_non_convergence(self, spark):
        edges = spark.createDataFrame(self.CHAIN, "src long, dst long")
        with pytest.raises(Exception, match="did not converge"):
            self.cc(edges, max_iter=1).collect()

    def test_boundary_convergence_is_not_a_false_positive(self, spark):
        # the in-loop check compares states two rounds apart, so a
        # fixpoint reached IN the final round still reads as changed —
        # the one-round probe must accept, not raise
        edges = spark.createDataFrame(self.CHAIN, "src long, dst long")
        got = {
            r["node"]: r["component"]
            for r in self.cc(edges, max_iter=3).collect()
        }
        assert got == {i: 0 for i in range(7)}

    def test_enough_rounds_converges_strict(self, spark):
        edges = spark.createDataFrame(self.CHAIN, "src long, dst long")
        got = {
            r["node"]: r["component"]
            for r in self.cc(edges, max_iter=4).collect()
        }
        assert got == {i: 0 for i in range(7)}


class TestComponentsStrictViaWeakComponents(TestComponentsStrict):
    """The same cases through the package's CC entry on its star-star
    side: ``max_iter`` reaches star-star and non-convergence raises."""

    @pytest.fixture(autouse=True)
    def _star_star_side(self, monkeypatch):
        from chunksilo_spark.operators import canon

        monkeypatch.setattr(canon, "SMALL_GRAPH_THRESHOLD", 0)

    @staticmethod
    def cc(edges, max_iter):
        return G.weak_components(edges, max_iter=max_iter)


class TestCorpusLinkGraph:
    N = 60

    def test_anchors_do_not_change_extracted_text(self):
        from chunksilo_spark.functions.extract import extract_text
        from chunksilo_spark.sources.corpus import build_entity_pool, generate_page

        pool = build_entity_pool()
        for i in range(self.N):
            plain = generate_page(i, pool, links=False)
            linked = generate_page(i, pool)
            try:
                a = extract_text(plain["html"].decode("utf-8"))
                b = extract_text(linked["html"].decode("utf-8"))
            except UnicodeDecodeError:
                continue  # quarantine rows
            assert a == b, i

    def test_crawl_edges_match_python_oracle(self, spark):
        from chunksilo_spark.sources.corpus import golden_pages, pages_df

        gold = golden_pages(self.N)
        urls = {g["url"] for g in gold}
        want = set()
        for g in gold:
            try:
                html = g["html"].decode("utf-8")
            except UnicodeDecodeError:
                continue
            for dst in U.page_outlinks(g["url"], html):
                if dst in urls:
                    want.add((g["url"], dst))
        got = {
            (r["src"], r["dst"])
            for r in G.crawl_edges(pages_df(spark, self.N)).collect()
        }
        assert got == want
        assert len(got) > 20  # the corpus really carries a link graph

    def test_pagerank_over_crawl(self, spark):
        from chunksilo_spark.sources.corpus import page_url, pages_df

        edges = G.crawl_edges(pages_df(spark, self.N))
        ranks = G.pagerank(edges, iters=3).collect()
        total = sum(r["rank"] for r in ranks)
        assert total == pytest.approx(1.0, abs=1e-9)
        # hub page 0 draws ~25% of intra-crawl links -> top in-degree
        top = G.degree_topk(edges, k=1).collect()[0]
        assert top["node"] == page_url(0)


class TestLinkGraphPipeline:
    def test_incremental_equals_scratch(self, spark, tmp_path):
        """link_graph stages materialize; apply_increment maintains them to
        the same tables as a from-scratch rebuild (a frontier page can turn
        an old page's dead link into an edge — the global-rebuild case)."""
        from chunksilo_spark.plans.pipeline import apply_increment, run_pipeline
        from chunksilo_spark.sources.corpus import aliases_df, pages_df

        aliases = aliases_df(spark)
        state, scratch = str(tmp_path / "s1"), str(tmp_path / "s2")
        v1 = pages_df(spark, 40, partitions=2)
        v2 = pages_df(spark, 60, partitions=2)

        got1 = run_pipeline(
            spark, v1, aliases, state, fingerprint="v1", link_graph=True
        )
        assert set(got1) >= {"outlinks", "web_edges", "web_rank",
                             "web_anchors", "web_aliases"}
        e1 = got1["web_edges"].count()  # before the increment swaps the files
        inc = apply_increment(
            spark, v2, aliases, state, fingerprint="v2", link_graph=True
        )
        want = run_pipeline(
            spark, v2, aliases, scratch, fingerprint="v2", link_graph=True
        )
        for table in ("outlinks", "web_edges", "web_rank",
                      "web_anchors", "web_aliases"):
            a = sorted((tuple(r) for r in inc[table].collect()), key=repr)
            b = sorted((tuple(r) for r in want[table].collect()), key=repr)
            assert a == b, table
        # the increment actually changed the graph (pages 40..59 add edges)
        e2 = inc["web_edges"].count()
        assert e2 > e1
        # lineage describes the refreshed link-graph tables, not the build's
        import pyarrow.parquet as pq

        for table in ("outlinks", "web_edges", "web_rank",
                      "web_anchors", "web_aliases"):
            lin = pq.read_table(f"{state}/lineage/{table}.parquet").to_pylist()
            assert {r["stage"] for r in lin} == {f"incr_{table}"}, table
            assert sum(r["n_rows"] for r in lin) == inc[table].count(), table


class TestWeakComponents:
    def test_matches_union_find_on_crawl(self, spark):
        """Generic CC on the (hashed) corpus link graph vs a plain-python
        union-find over the same edges."""
        import pyspark.sql.functions as F

        from chunksilo_spark.sources.corpus import pages_df

        edges = G.crawl_edges(pages_df(spark, 80)).select(
            F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
        )
        rows = [(r["src"], r["dst"]) for r in edges.collect()]
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in rows:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {}
        for v in parent:
            want[v] = find(v)
        # canonicalize: component = min member id
        comp_min = {}
        for v, c in want.items():
            comp_min.setdefault(c, v)
            comp_min[c] = min(comp_min[c], v)
        want = {v: comp_min[c] for v, c in want.items()}

        got = {
            r["node"]: r["component"]
            for r in G.weak_components(edges).collect()
        }
        assert got == want
        assert len(set(got.values())) > 1  # several components exist


class TestStarStarComponents:
    def test_parity_with_weak_components_on_crawl(self, spark):
        """Star-star CC must produce the identical (node, min-id)
        labeling as weak_components (the driver union-find at this size)
        on the corpus link graph."""
        import pyspark.sql.functions as F

        from chunksilo_spark.sources.corpus import pages_df

        edges = G.crawl_edges(pages_df(spark, 80)).select(
            F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
        )
        got = {
            r["node"]: r["component"]
            for r in G.components_starstar(edges).collect()
        }
        want = {
            r["node"]: r["component"]
            for r in G.weak_components(edges).collect()
        }
        assert got == want
        assert len(set(got.values())) > 1

    def test_long_chain_converges_in_log_rounds(self, spark):
        """A 200-node path has diameter 199 — two-hop label propagation
        would need ~100 rounds; star-star must finish inside its default
        O(log n) budget (16) and label everything with the chain min."""
        edges = spark.createDataFrame(
            [(i, i - 1) for i in range(1, 200)], "src long, dst long"
        )
        got = G.components_starstar(edges, max_iter=16)
        assert {r["component"] for r in got.collect()} == {0}
        assert got.count() == 200

    def test_self_loops_and_duplicates_ignored(self, spark):
        edges = spark.createDataFrame(
            [(1, 1), (2, 1), (1, 2), (2, 1), (5, 5)],
            "src long, dst long",
        )
        got = {
            r["node"]: r["component"]
            for r in G.components_starstar(edges).collect()
        }
        # 5 appears only in a self-loop: it is its own component
        assert got == {1: 1, 2: 1, 5: 5}

    def test_nonconvergence_raises(self, spark):
        edges = spark.createDataFrame(
            [(i, i - 1) for i in range(1, 64)], "src long, dst long"
        )
        with pytest.raises(RuntimeError):
            G.components_starstar(edges, max_iter=1)


class TestStreamingLinkGraph:
    def test_streamed_link_tables_equal_batch(self, spark, tmp_path):
        """One streamed delta maintained with link_graph=True reproduces the
        batch-rebuilt web_edges/web_rank tables."""
        import pyspark.sql.functions as F

        from chunksilo_spark.plans.pipeline import run_pipeline
        from chunksilo_spark.sources.corpus import aliases_df, pages_df
        from chunksilo_spark.sources.storage import TableStore
        from chunksilo_spark.streaming.ingest import (
            start_incremental_maintenance,
        )

        aliases = aliases_df(spark)
        tables_dir = str(tmp_path / "tables")
        stream_dir = str(tmp_path / "incoming")
        scratch = str(tmp_path / "scratch")

        base = pages_df(spark, 30, partitions=2)
        run_pipeline(
            spark, base, aliases, tables_dir, fingerprint="v1", link_graph=True
        )
        all40 = pages_df(spark, 40, partitions=2)
        delta = all40.where(F.col("url").rlike("-3[0-9]$"))
        delta.coalesce(1).write.mode("append").parquet(stream_dir)

        q = start_incremental_maintenance(
            spark, stream_dir, tables_dir, str(tmp_path / "ckpt"), aliases,
            available_now=True, link_graph=True,
        )
        q.awaitTermination(300)

        want = run_pipeline(
            spark, all40, aliases, scratch, fingerprint="m", link_graph=True
        )
        store = TableStore(tables_dir)
        for table in ("web_edges", "web_rank"):
            a = sorted(
                (tuple(r) for r in store.read(spark, table).collect()), key=repr
            )
            b = sorted((tuple(r) for r in want[table].collect()), key=repr)
            assert a == b, table


class TestLinkGraphBootstrap:
    def test_snapshot_apply_bootstraps_missing_outlinks(self, spark, tmp_path):
        """Enabling link_graph on state that predates the stage: a full
        snapshot bootstraps the outlinks table and the web tables equal a
        from-scratch build; a DELTA batch cannot and must say so."""
        import pytest as _pytest

        from chunksilo_spark.plans.pipeline import apply_increment, run_pipeline
        from chunksilo_spark.sources.corpus import aliases_df, pages_df

        aliases = aliases_df(spark)
        state, scratch = str(tmp_path / "s1"), str(tmp_path / "s2")
        v1 = pages_df(spark, 30, partitions=2)
        v2 = pages_df(spark, 40, partitions=2)

        run_pipeline(spark, v1, aliases, state, fingerprint="v1")  # no links
        inc = apply_increment(
            spark, v2, aliases, state, fingerprint="v2", link_graph=True
        )
        want = run_pipeline(
            spark, v2, aliases, scratch, fingerprint="v2", link_graph=True
        )
        for table in ("outlinks", "web_edges", "web_rank",
                      "web_anchors", "web_aliases"):
            a = sorted((tuple(r) for r in inc[table].collect()), key=repr)
            b = sorted((tuple(r) for r in want[table].collect()), key=repr)
            assert a == b, table

        # delta mode on a THIRD state dir without the stage: explicit error
        state2 = str(tmp_path / "s3")
        run_pipeline(spark, v1, aliases, state2, fingerprint="v1")
        with _pytest.raises(ValueError, match="outlinks"):
            apply_increment(
                spark, v2, aliases, state2, fingerprint="v2",
                link_graph=True, delete_missing=False,
            )


class TestTriangles:
    def test_matches_python_oracle_random_graph(self, spark):
        import random
        from collections import Counter
        from itertools import combinations

        random.seed(7)
        edges = set()
        for _ in range(240):
            edges.add((random.randrange(30), random.randrange(30)))
        und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
        adj: dict[int, set[int]] = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        cnt: Counter = Counter()
        for x, y, z in combinations(sorted(adj), 3):
            if y in adj[x] and z in adj[x] and z in adj[y]:
                cnt[x] += 1
                cnt[y] += 1
                cnt[z] += 1
        df = spark.createDataFrame(sorted(edges), "src long, dst long")
        got = {
            r["node"]: r["n_triangles"]
            for r in G.triangle_counts(df).collect()
        }
        assert got == dict(cnt)

    def test_direction_selfloop_and_duplicate_invariance(self, spark):
        # one triangle; reversed duplicates, a self-loop and a repeated
        # edge must not change the count (undirected SIMPLE graph)
        rows = [(1, 2), (2, 3), (3, 1), (2, 1), (3, 3), (1, 2)]
        df = spark.createDataFrame(rows, "src long, dst long")
        got = {
            r["node"]: r["n_triangles"]
            for r in G.triangle_counts(df).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1}

    def test_star_hub_has_no_triangles(self, spark):
        # a pure hub (star) closes nothing: the oriented wedge join walks
        # only low-degree endpoints, and the result must be empty
        rows = [(0, i) for i in range(1, 50)]
        df = spark.createDataFrame(rows, "src long, dst long")
        assert G.triangle_counts(df).count() == 0


def _python_hits(edges, iters):
    """Plain-python HITS with L1 normalization — the pinned semantics of
    operators/graph.hits, independently re-derived."""
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    hub = {v: 1.0 / n for v in nodes}
    auth = {v: 0.0 for v in nodes}
    for _ in range(iters):
        a_raw = {v: 0.0 for v in nodes}
        for s, t in edges:
            a_raw[t] += hub[s]
        tot = sum(a_raw.values())
        auth = {v: a_raw[v] / tot for v in nodes}
        h_raw = {v: 0.0 for v in nodes}
        for s, t in edges:
            h_raw[s] += auth[t]
        tot = sum(h_raw.values())
        hub = {v: h_raw[v] / tot for v in nodes}
    return hub, auth


class TestHits:
    # hub node 0 points at three authorities; chain + a reciprocal pair;
    # node 4 has in-edges only (pure authority), 0 out-edges only (pure hub)
    EDGES = [
        (0, 1), (0, 2), (0, 3),
        (1, 2), (2, 4), (3, 4),
        (5, 6), (6, 5),
    ]

    @pytest.mark.parametrize("iters", [1, 4])
    def test_matches_python_oracle(self, spark, iters):
        edges = spark.createDataFrame(self.EDGES, "src long, dst long")
        rows = G.hits(edges, iters=iters).collect()
        want_hub, want_auth = _python_hits(self.EDGES, iters)
        got_hub = {r["node"]: r["hub"] for r in rows}
        got_auth = {r["node"]: r["auth"] for r in rows}
        assert set(got_hub) == set(want_hub)
        for v in want_hub:
            assert got_hub[v] == pytest.approx(want_hub[v], abs=1e-12), v
            assert got_auth[v] == pytest.approx(want_auth[v], abs=1e-12), v

    def test_l1_normalized_and_roles(self, spark):
        edges = spark.createDataFrame(self.EDGES, "src long, dst long")
        rows = G.hits(edges, iters=3).collect()
        assert sum(r["hub"] for r in rows) == pytest.approx(1.0, abs=1e-9)
        assert sum(r["auth"] for r in rows) == pytest.approx(1.0, abs=1e-9)
        by = {r["node"]: r for r in rows}
        assert by[0]["auth"] == 0.0  # no in-edges -> pure hub
        assert by[0]["hub"] > 0.0
        assert by[4]["hub"] == 0.0  # no out-edges -> pure authority
        assert by[4]["auth"] > 0.0

    def test_empty_graph(self, spark):
        edges = spark.createDataFrame([], "src long, dst long")
        assert G.hits(edges, iters=2).count() == 0

    def test_topk_deterministic(self, spark):
        edges = spark.createDataFrame(self.EDGES, "src long, dst long")
        top = G.hits_topk(G.hits(edges, iters=2), 3).collect()
        assert len(top) == 3
        auths = [r["auth"] for r in top]
        assert auths == sorted(auths, reverse=True)


ANCHOR_HTML = [
    # (url, html)
    ("https://s.example/d/p1.html",
     '<p><a href="https://t.example/acme">Acme  <b>Systems</b>\n</a> intro '
     '<a href="/e/acme">ACME</a> <a href="nav.html"></a>'
     '<a href="mailto:x@y.z">mail me</a></p>'),
    ("https://s.example/d/p2.html",
     '<a href="../e/acme">acme</a><a href="https://t.example/acme">Acme '
     'Systems</a><a\nhref="https://t.example/z">z &amp; co</a>'),
    ("https://s.example",  # path-less base: relative hrefs must drop
     '<a href="x.html">lost</a> <a href="https://t.example/abs">Abs</a>'),
]


class TestAnchors:
    def _pages(self, spark):
        return spark.createDataFrame(ANCHOR_HTML, "url string, html string")

    def test_column_twin_matches_kernel(self, spark):
        got = sorted(
            (r["src"], r["dst"], r["anchor"])
            for r in G.anchor_edges(self._pages(spark)).collect()
        )
        want = []
        for url, html in ANCHOR_HTML:
            for href, text in U.extract_anchors(html):
                dst = U.resolve_href(url, href)
                if dst is not None:
                    want.append((url, dst, text))
        assert got == sorted(want)
        # spot pins: inner tags stripped + ws collapsed + lowercased;
        # mailto dropped; empty-text anchor dropped; path-less base keeps
        # only the absolute href
        assert ("https://s.example/d/p1.html", "https://t.example/acme",
                "acme systems") in got
        assert ("https://s.example", "https://t.example/abs", "abs") in got
        assert not any(s == "https://s.example" and d != "https://t.example/abs"
                       for s, d, _ in got)

    def test_occurrences_not_deduped(self, spark):
        pages = spark.createDataFrame(
            [("https://s.example/p.html",
              '<a href="/x">e1</a><a href="/x">e1</a><a href="/x">e2</a>')],
            "url string, html string",
        )
        rows = G.anchor_edges(pages).collect()
        assert len(rows) == 3

    def test_alias_candidates_topk(self, spark):
        pages = spark.createDataFrame(
            [(f"https://s.example/p{i}.html",
              '<a href="https://t.example/e">%s</a>'
              % ("Acme Corp" if i % 3 else "ACME"))
             for i in range(9)],
            "url string, html string",
        )
        out = G.alias_candidates(G.anchor_edges(pages), k=2).collect()
        by_rank = {r["rank"]: r for r in out}
        assert len(out) == 2
        assert by_rank[1]["anchor"] == "acme corp"
        assert by_rank[1]["n_refs"] == 6 and by_rank[1]["n_srcs"] == 6
        assert by_rank[2]["anchor"] == "acme" and by_rank[2]["n_refs"] == 3

    def test_alias_candidates_tie_break(self, spark):
        pages = spark.createDataFrame(
            [("https://s.example/a.html",
              '<a href="/t">beta</a><a href="/t">alpha</a>')],
            "url string, html string",
        )
        out = G.alias_candidates(G.anchor_edges(pages), k=1).collect()
        assert len(out) == 1 and out[0]["anchor"] == "alpha"


class TestCorpusAnchorAliases:
    N = 80

    def test_harvested_candidates_are_true_aliases(self, spark):
        """The corpus wraps ~half the fact-sentence subjects in entity-home
        anchors; harvesting alias_candidates over the crawl must recover
        ONLY true aliases (lowercased pool surfaces) for each kb url."""
        from chunksilo_spark.sources.corpus import build_entity_pool, pages_df

        pool = build_entity_pool()
        cands = G.alias_candidates(
            G.anchor_edges(pages_df(spark, self.N), strict_utf8=True), k=3
        ).collect()
        assert len(cands) > 10  # the corpus really carries the signal
        for r in cands:
            assert r["dst"].startswith("https://kb.example/entity/"), r
            eid = int(r["dst"].rsplit("/", 1)[1])
            assert r["anchor"] in [a.lower() for a in pool[eid]], r
            assert 1 <= r["rank"] <= 3 and r["n_refs"] >= r["n_srcs"] >= 1

    def test_matches_python_oracle(self, spark):
        """Distributed harvest == driver-side kernel harvest (count-exact,
        including per-occurrence multiplicity)."""
        from collections import Counter

        from chunksilo_spark.sources.corpus import golden_pages, pages_df

        want = Counter()
        for g in golden_pages(self.N):
            try:
                html = g["html"].decode("utf-8")
            except UnicodeDecodeError:
                continue
            for href, text in U.extract_anchors(html):
                dst = U.resolve_href(g["url"], href)
                if dst is not None:
                    want[(g["url"], dst, text)] += 1
        got = Counter(
            (r["src"], r["dst"], r["anchor"])
            for r in G.anchor_edges(
                pages_df(spark, self.N), strict_utf8=True
            ).collect()
        )
        assert got == want


CANON_URLS = [
    "  HTTPS://Example.COM:443/Path/Page?utm_source=x&id=5&fbclid=z#frag  ",
    "http://A.example:80",
    "HtTp://H.example:80/",
    "http://a.example:8080/x?utm_campaign",
    "ftp://a.example/x",
    "//no.scheme/x",
    "not a url",
    "",
    "https://a.example/x?a=1&b=2",
    "https://a.example/x?utm_a=1&utm_b=2",
    "https://a.example/x?",
    "https://a.example/x?&",
    "https://a.example/x?gclid=1&Z=2&msclkid=3&ref_src=t",
    "https://a.example:443443/x",   # port only LOOKS like 443 suffix-wise
    "https://a.example/UPPER/Case?Mixed=Keep",
    "https://a.example/x#frag\nwith newline",
]


class TestCanonicalUrl:
    def test_column_twin_matches_kernel(self, spark):
        df = spark.createDataFrame([(u,) for u in CANON_URLS], "url string")
        got = [
            r["c"]
            for r in df.select(
                G.canonical_url_col(F.col("url")).alias("c")
            ).collect()
        ]
        want = [U.canonicalize_url(u) for u in CANON_URLS]
        assert got == want

    def test_dedup_key_merges_tracking_variants(self, spark):
        rows = [
            ("https://s.example/p?utm_source=tw", 1),
            ("https://s.example/p?utm_source=fb&utm_medium=social", 2),
            ("https://s.example/p", 3),
            ("https://s.example/q", 4),
        ]
        df = spark.createDataFrame(rows, "url string, doc long")
        n = (
            df.select(G.canonical_url_col(F.col("url")).alias("c"))
            .distinct()
            .count()
        )
        assert n == 2

    def test_corpus_urls_are_already_canonical(self, spark):
        """The synthetic crawl's urls are clean https with no tracking
        params — canonicalization must be the identity on them."""
        from chunksilo_spark.sources.corpus import pages_df

        pages = pages_df(spark, 40)
        bad = pages.select(
            "url", G.canonical_url_col(F.col("url")).alias("c")
        ).where(
            F.col("c").isNull() | (F.col("c") != F.col("url"))
        )
        assert bad.count() == 0


class TestWhitespaceDialectPin:
    """The review-confirmed divergence: Python's Unicode \\s vs Java's
    ASCII \\s vs RE2's (no \\x0b) — all three paths now pin the explicit
    WS_CLASS, so kernel == column twin on non-ASCII whitespace and
    vertical tabs."""

    NASTY = [
        # U+00A0 (nbsp): NOT whitespace under the pin — preserved
        ('<a href="/x">Acme Systems</a>', "acme systems"),
        # vertical tab: IS whitespace under the pin — collapsed
        ('<a href="/x">Acme\x0bSystems</a>', "acme systems"),
    ]

    def test_anchor_kernel_matches_column_on_nasty_ws(self, spark):
        base = "https://s.example/d/p.html"
        for html, want in self.NASTY:
            ker = U.extract_anchors(html)
            assert ker == [("/x", want)], (html, ker)
            pages = spark.createDataFrame(
                [(base, html)], "url string, html string"
            )
            got = G.anchor_edges(pages).collect()
            assert [(r["anchor"]) for r in got] == [want], html

    def test_canonical_kernel_matches_column_on_nasty_ws(self, spark):
        urls = [
            " https://a.example/x",   # nbsp-padded: NOT stripped
            "\x0bhttps://a.example/x",     # vtab-padded: stripped
            "https://a.example/x\x0b",
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        got = [
            r["c"]
            for r in df.select(
                G.canonical_url_col(F.col("url")).alias("c")
            ).collect()
        ]
        want = [U.canonicalize_url(u) for u in urls]
        assert got == want
        assert want == [None, "https://a.example/x", "https://a.example/x"]


def _python_bfs(edges, seeds, max_depth):
    from collections import deque

    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    depth = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        n = q.popleft()
        if depth[n] >= max_depth:
            continue
        for m in adj.get(n, []):
            if m not in depth:
                depth[m] = depth[n] + 1
                q.append(m)
    return sorted(depth.items())


class TestBfsDepths:
    # branches, a cycle (3->4->5->3), a node reachable two ways at
    # different depths (6: via 2 at d2 and via 5 at d4 -> min wins),
    # an unreachable island (90->91)
    EDGES = [
        (0, 1), (0, 2), (1, 3), (2, 6), (3, 4), (4, 5), (5, 3),
        (5, 6), (2, 2), (90, 91),
    ]
    SEEDS = [0]

    def _run(self, spark, max_depth):
        e = spark.createDataFrame(self.EDGES, "src long, dst long").repartition(5)
        s = spark.createDataFrame([(x,) for x in self.SEEDS], "node long")
        got = G.bfs_depths(e, s, max_depth=max_depth)
        return sorted((r["node"], r["depth"]) for r in got.collect())

    def test_matches_python_bfs(self, spark):
        for md in (0, 1, 2, 3, 10):
            assert self._run(spark, md) == _python_bfs(
                self.EDGES, self.SEEDS, md
            ), md

    def test_min_depth_wins_on_multi_path(self, spark):
        got = dict(self._run(spark, 10))
        assert got[6] == 2  # 0->2->6 beats 0->1->3->4->5->6
        assert 90 not in got and 91 not in got  # island unreachable

    def test_multi_seed_first_arrival(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        s = spark.createDataFrame([(0,), (4,)], "node long")
        got = dict(
            (r["node"], r["depth"])
            for r in G.bfs_depths(e, s, max_depth=10).collect()
        )
        assert got[4] == 0 and got[5] == 1 and got[3] == 2
        # 3 is ALSO 0->1->3 at depth 2 from seed 0 — tie, either path d=2
        assert got[6] == 2


class TestRandomWalks:
    EDGES = [
        (0, 1), (0, 2), (0, 3), (1, 4), (1, 5), (2, 6), (4, 0),
        (7, 8),  # 8 is dangling -> walks from 7 end at step 1
    ]

    def _python_walks(self, edges, seeds, length):
        import hashlib

        adj = {}
        for s, d in edges:
            adj.setdefault(s, []).append(d)
        rows = []
        for w in seeds:
            node = w
            rows.append((w, 0, node))
            for step in range(1, length + 1):
                nbrs = adj.get(node)
                if not nbrs:
                    break
                node = max(
                    nbrs,
                    key=lambda v: (
                        hashlib.md5(f"{w}|{step}|{v}".encode()).hexdigest(),
                        v,
                    ),
                )
                rows.append((w, step, node))
        return sorted(rows)

    def test_matches_python_oracle(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long").repartition(3)
        seeds = [0, 1, 7, 8]
        s = spark.createDataFrame(
            [(w, w) for w in seeds], "walk_id long, node long"
        )
        got = sorted(
            (r["walk_id"], r["step"], r["node"])
            for r in G.random_walks(e, s, length=5).collect()
        )
        assert got == self._python_walks(self.EDGES, seeds, 5)

    def test_deterministic_across_runs(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        s = spark.createDataFrame([(0, 0), (1, 1)], "walk_id long, node long")
        a = sorted(map(tuple, G.random_walks(e, s, length=4).collect()))
        b = sorted(map(tuple, G.random_walks(e.repartition(7), s, length=4).collect()))
        assert a == b

    def test_distinct_walks_diverge(self, spark):
        # two walks seeded at the same node must be able to take
        # different branches (hash depends on walk_id)
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        s = spark.createDataFrame(
            [(w, 0) for w in range(20)], "walk_id long, node long"
        )
        step1 = {
            r["walk_id"]: r["node"]
            for r in G.random_walks(e, s, length=1)
            .where("step = 1")
            .collect()
        }
        assert len(set(step1.values())) > 1


def _python_propagate(edges, seeds, iters):
    inn = {}
    for s, d in edges:
        inn.setdefault(d, []).append(s)
    labels = dict(seeds)
    for _ in range(iters):
        new = dict(seeds)
        for node, srcs in inn.items():
            if node in dict(seeds):
                continue
            votes: dict = {}
            for s in srcs:
                if s in labels:
                    votes[labels[s]] = votes.get(labels[s], 0) + 1
            if votes:
                new[node] = max(votes.items(), key=lambda kv: (kv[1], kv[0]))[0]
        labels = new
    return sorted(labels.items())


class TestPropagateLabels:
    #   1 -> 0, 2 -> 0, 3 -> 0   (0 gets majority of {1,2,3})
    #   4 -> 5                   (5 typed from 4)
    #   6 -> 7 unlabeled chain until 6 is inferred? 6 has no in-edges
    EDGES = [(1, 0), (2, 0), (3, 0), (4, 5), (5, 6), (9, 9)]
    SEEDS = [(1, "person"), (2, "person"), (3, "org"), (4, "org")]

    def _run(self, spark, iters):
        e = spark.createDataFrame(self.EDGES, "src long, dst long").repartition(4)
        s = spark.createDataFrame(self.SEEDS, "node long, label string")
        return sorted(
            (r["node"], r["label"])
            for r in G.propagate_labels(e, s, iters=iters).collect()
        )

    def test_matches_python_oracle(self, spark):
        for it in (1, 2, 3):
            assert self._run(spark, it) == _python_propagate(
                self.EDGES, self.SEEDS, it
            ), it

    def test_majority_and_tiebreak(self, spark):
        got = dict(self._run(spark, 1))
        assert got[0] == "person"        # 2 person vs 1 org
        assert got[5] == "org"           # single labeled in-neighbor
        # second round: 6 typed via 5's inferred label
        got2 = dict(self._run(spark, 2))
        assert got2[6] == "org"

    def test_seed_never_flips(self, spark):
        # node 4 is a seed AND would receive messages if edges pointed at
        # it; give it one: 1 -> 4 with label person; seed must stay org
        e = spark.createDataFrame(
            self.EDGES + [(1, 4)], "src long, dst long"
        )
        s = spark.createDataFrame(self.SEEDS, "node long, label string")
        got = {
            r["node"]: r["label"]
            for r in G.propagate_labels(e, s, iters=3).collect()
        }
        assert got[4] == "org"


def _python_ppr(edges, seeds, iters, d=0.85):
    nodes = sorted({n for e in edges for n in e})
    # seed weights sum per node, then normalize over in-graph seeds
    w_node = {}
    for n, w in seeds:
        if n in set(nodes):
            w_node[n] = w_node.get(n, 0.0) + w
    w_tot = sum(w_node.values())
    reset = {n: w_node.get(n, 0.0) / w_tot for n in nodes}
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    ranks = dict(reset)
    for _ in range(iters):
        contrib = {n: 0.0 for n in nodes}
        dang = 0.0
        for n in nodes:
            if n in out:
                for t in out[n]:
                    contrib[t] += ranks[n] / len(out[n])
            else:
                dang += ranks[n]
        ranks = {
            n: (1 - d) * reset[n] + d * contrib[n] + (d * dang) * reset[n]
            for n in nodes
        }
    return ranks


class TestPersonalizedPagerank:
    EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 0)]
    # 4 is dangling; 5 is an unseeded source; seed weights non-uniform;
    # one seed (99) not in the graph must be dropped from normalization
    SEEDS = [(0, 2.0), (3, 1.0), (99, 5.0)]

    def test_matches_python_oracle(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long").repartition(3)
        s = spark.createDataFrame(self.SEEDS, "node long, weight double")
        got = {
            r["node"]: r["rank"]
            for r in G.personalized_pagerank(e, s, iters=4).collect()
        }
        want = _python_ppr(self.EDGES, self.SEEDS, 4)
        assert set(got) == set(want)
        for n in want:
            assert abs(got[n] - want[n]) < 1e-9, n

    def test_mass_conserved_and_seed_biased(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        s = spark.createDataFrame(self.SEEDS, "node long, weight double")
        got = {
            r["node"]: r["rank"]
            for r in G.personalized_pagerank(e, s, iters=6).collect()
        }
        assert abs(sum(got.values()) - 1.0) < 1e-9
        # seed neighborhood outranks the unseeded source
        assert got[0] > got[5] and got[1] > got[5]

    def test_empty_seed_overlap_returns_empty(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        s = spark.createDataFrame([(99, 1.0)], "node long, weight double")
        assert G.personalized_pagerank(e, s, iters=2).count() == 0

    def test_duplicate_seeds_sum_per_node(self, spark):
        # a node seeded twice is ONE rank row whose reset is the summed
        # weight: identical to seeding it once with that sum
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        schema = "node long, weight double"
        dup = spark.createDataFrame([(0, 1.0), (0, 1.0)], schema)
        once = spark.createDataFrame([(0, 2.0)], schema)
        got = [
            (r["node"], r["rank"])
            for r in G.personalized_pagerank(e, dup, iters=3).collect()
        ]
        nodes = [n for n, _ in got]
        assert len(nodes) == len(set(nodes))
        assert abs(sum(r for _, r in got) - 1.0) < 1e-9
        want = {
            r["node"]: r["rank"]
            for r in G.personalized_pagerank(e, once, iters=3).collect()
        }
        assert dict(got) == want
        oracle = _python_ppr(self.EDGES, [(0, 1.0), (0, 1.0)], 3)
        assert set(oracle) == set(want)
        for n in oracle:
            assert abs(want[n] - oracle[n]) < 1e-9, n


def _python_link_pred(edges):
    """Brute-force cn/aa/jaccard over all non-adjacent pairs."""
    import math

    nbrs = {}
    for s, t in edges:
        if s != t:
            nbrs.setdefault(s, set()).add(t)
            nbrs.setdefault(t, set()).add(s)
    out = {}
    nodes = sorted(nbrs)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if b in nbrs[a]:
                continue
            common = nbrs[a] & nbrs[b]
            if not common:
                continue
            cn = len(common)
            aa = sum(1.0 / math.log(len(nbrs[c])) for c in sorted(common))
            jac = cn / (len(nbrs[a]) + len(nbrs[b]) - cn)
            out[(a, b)] = (cn, round(aa, 6), round(jac, 6))
    return out


class TestLinkPrediction:
    # two triangles sharing node 2, a pendant, a duplicate + reversed edge
    EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2),
             (4, 5), (1, 0), (0, 2)]

    def test_matches_python_oracle(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long").repartition(3)
        got = {
            (r["a"], r["b"]): (r["cn"], r["aa"], r["jaccard"])
            for r in G.link_prediction_topk(e, 100).collect()
        }
        assert got == _python_link_pred(self.EDGES)

    def test_topk_order_and_limit(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        rows = G.link_prediction_topk(e, 3).collect()
        assert len(rows) == 3
        aas = [r["aa"] for r in rows]
        assert aas == sorted(aas, reverse=True)

    def test_adjacent_pairs_excluded(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        got = {(r["a"], r["b"]) for r in G.link_prediction_topk(e, 100).collect()}
        canon = {(min(s, t), max(s, t)) for s, t in self.EDGES if s != t}
        assert not got & canon

    def test_max_center_degree_drops_hub_wedges(self, spark):
        # star: hub 0 with leaves 1..5 plus one off-hub path 1-6-2
        edges = [(0, i) for i in range(1, 6)] + [(1, 6), (6, 2)]
        e = spark.createDataFrame(edges, "src long, dst long")
        full = {
            (r["a"], r["b"]): r["cn"]
            for r in G.link_prediction_topk(e, 100).collect()
        }
        assert full[(1, 2)] == 2  # via hub 0 AND via 6
        capped = {
            (r["a"], r["b"]): r["cn"]
            for r in G.link_prediction_topk(e, 100, max_center_degree=3).collect()
        }
        # hub (deg 5) no longer a wedge center: (1,2) keeps only the
        # path wedge via 6; leaf-leaf pairs like (3,4) vanish; (0,6)
        # stays — its centers 1 and 2 are small
        assert capped == {(1, 2): 1, (0, 6): 2}

    def test_no_candidates_empty(self, spark):
        e = spark.createDataFrame([(0, 1)], "src long, dst long")
        assert G.link_prediction_topk(e, 10).count() == 0


def _python_lpa(edges, iters):
    nbrs = {}
    for s, t in edges:
        if s != t:
            nbrs.setdefault(s, set()).add(t)
            nbrs.setdefault(t, set()).add(s)
    labels = {n: n for n in nbrs}
    for _ in range(iters):
        new = {}
        for n in nbrs:
            counts = {}
            for m in nbrs[n]:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        labels = new
    return labels


class TestLpaCommunities:
    # two 4-cliques bridged by one edge, plus a pendant pair
    CLIQ1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    CLIQ2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    EDGES = CLIQ1 + CLIQ2 + [(3, 10), (20, 21)]

    def test_matches_python_oracle(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long").repartition(3)
        for iters in (1, 3, 5):
            got = {
                r["node"]: r["community"]
                for r in G.lpa_communities(e, iters=iters).collect()
            }
            assert got == _python_lpa(self.EDGES, iters), iters

    def test_cliques_converge_to_min_member(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        got = {
            r["node"]: r["community"]
            for r in G.lpa_communities(e, iters=5).collect()
        }
        # each clique coalesces on one label; the pendant pair pathology:
        # synchronous LPA swaps labels on a K2 forever — parity-pinned
        assert len({got[n] for n in range(4)}) == 1
        assert len({got[n] for n in range(10, 14)}) == 1
        assert {got[20], got[21]} == {20, 21}

    def test_direction_and_duplicates_irrelevant(self, spark):
        e1 = spark.createDataFrame(self.EDGES, "src long, dst long")
        doubled = self.EDGES + [(t, s) for s, t in self.EDGES]
        e2 = spark.createDataFrame(doubled, "src long, dst long")
        a = sorted(tuple(r) for r in G.lpa_communities(e1, iters=3).collect())
        b = sorted(tuple(r) for r in G.lpa_communities(e2, iters=3).collect())
        assert a == b


def _python_kcore(edges, k, rounds=None):
    nbrs = {}
    for s, t in edges:
        if s != t:
            nbrs.setdefault(s, set()).add(t)
            nbrs.setdefault(t, set()).add(s)
    active = set(nbrs)
    t_ = 0
    while True:
        t_ += 1
        deg = {n: sum(1 for m in nbrs[n] if m in active) for n in active}
        keep = {n for n in active if deg[n] >= k}
        stable = keep == active
        active = keep
        if rounds is not None:
            if t_ >= rounds:
                break
        elif stable:
            break
    return {
        n: sum(1 for m in nbrs[n] if m in active) for n in active
    }


class TestKcore:
    # a 4-clique (3-core), a tail path hanging off it, and a triangle
    EDGES = (
        [(a, b) for a in range(4) for b in range(a + 1, 4)]
        + [(3, 5), (5, 6), (6, 7)]
        + [(8, 9), (9, 10), (10, 8)]
    )

    def test_fixpoint_matches_python(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long").repartition(3)
        for k in (2, 3, 4):
            got = {
                r["node"]: r["core_deg"] for r in G.kcore(e, k=k).collect()
            }
            assert got == _python_kcore(self.EDGES, k), k

    def test_three_core_is_the_clique(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        got = {r["node"] for r in G.kcore(e, k=3).collect()}
        assert got == {0, 1, 2, 3}

    def test_bounded_rounds_matches_python(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        for rounds in (1, 2):
            got = {
                r["node"]: r["core_deg"]
                for r in G.kcore(e, k=2, rounds=rounds).collect()
            }
            assert got == _python_kcore(self.EDGES, 2, rounds=rounds), rounds

    def test_everything_peeled_is_empty(self, spark):
        e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
        assert G.kcore(e, k=5).count() == 0


def _python_closure(edges, max_depth):
    """Min-hop closure <= max_depth; cycle pairs (s, s) reported."""
    es = {(s, t) for s, t in edges if s != t}
    adj = {}
    for s, t in es:
        adj.setdefault(s, set()).add(t)
    nodes = {n for e in es for n in e}
    out = {}
    for s in nodes:
        dist = {s: 0}
        frontier, d = [s], 0
        while frontier and d < max_depth:
            d += 1
            nxt = []
            for v in frontier:
                for w in adj.get(v, ()):
                    if w not in dist:
                        dist[w] = d
                        nxt.append(w)
            frontier = nxt
        for t, dd in dist.items():
            if t != s:
                out[(s, t)] = dd
        cyc = [
            dist[p] + 1
            for p in adj
            if s in adj[p] and p in dist and dist[p] + 1 <= max_depth
        ]
        if cyc:
            out[(s, s)] = min(cyc)
    return out


class TestBoundedClosure:
    # chain 0->1->2->3->4, a shortcut 0->3, a 3-cycle 10->11->12->10,
    # a self-loop (dropped), duplicate edges
    EDGES = [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3), (0, 1),
             (10, 11), (11, 12), (12, 10), (7, 7)]

    @pytest.mark.parametrize("depth", [1, 2, 3, 4, 7])
    def test_matches_python_oracle(self, spark, depth):
        e = spark.createDataFrame(self.EDGES, "src long, dst long").repartition(3)
        got = {
            (r["src"], r["dst"]): r["dist"]
            for r in G.bounded_closure(e, max_depth=depth).collect()
        }
        assert got == _python_closure(self.EDGES, depth), depth

    def test_shortcut_wins(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        got = {
            (r["src"], r["dst"]): r["dist"]
            for r in G.bounded_closure(e, max_depth=4).collect()
        }
        assert got[(0, 3)] == 1   # not the 3-hop chain
        assert got[(0, 4)] == 2   # via the shortcut
        assert got[(10, 10)] == 3  # cycle pair reported
        assert (7, 7) not in got   # self-loop dropped

    def test_bad_depth_raises(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        with pytest.raises(ValueError):
            G.bounded_closure(e, max_depth=0)


class TestDegreeProfile:
    def test_matches_python_oracle(self, spark):
        import math

        edges = [(0, i) for i in range(1, 9)] + [(1, 2), (2, 3), (3, 1),
                                                 (5, 0), (6, 0), (1, 2)]
        e = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r["side"], r["bucket"]): (r["n_nodes"], r["min_deg"], r["max_deg"])
            for r in G.degree_profile(e).collect()
        }
        es = set(edges)
        outd, ind = {}, {}
        for s, t in es:
            outd[s] = outd.get(s, 0) + 1
            ind[t] = ind.get(t, 0) + 1
        want = {}
        for side, degs in (("out", outd), ("in", ind)):
            for d in degs.values():
                b = math.floor(math.log2(d))
                n, lo, hi = want.get((side, b), (0, d, d))
                want[(side, b)] = (n + 1, min(lo, d), max(hi, d))
        assert got == want


class TestPagerankWarmStart:
    EDGES = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0), (2, 4), (5, 6), (6, 5)]

    def test_continuation_is_exact(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        cold = {
            r["node"]: r["rank"] for r in G.pagerank(e, iters=6).collect()
        }
        warm = {
            r["node"]: r["rank"]
            for r in G.pagerank(
                e, iters=2, init_ranks=G.pagerank(e, iters=4)
            ).collect()
        }
        assert warm == cold  # bit-for-bit continuation

    def test_new_nodes_get_uniform_init(self, spark):
        # warm-start from a SMALLER previous graph: the new node is
        # seeded 1/N and the run still matches a full cold run's fixpoint
        # direction (both converge; compare loosely after many iters)
        old_edges = spark.createDataFrame(self.EDGES, "src long, dst long")
        new_edges = spark.createDataFrame(
            self.EDGES + [(4, 7), (7, 0)], "src long, dst long"
        )
        prev = G.pagerank(old_edges, iters=4)
        warm = {
            r["node"]: r["rank"]
            for r in G.pagerank(new_edges, iters=20, init_ranks=prev).collect()
        }
        cold = {
            r["node"]: r["rank"]
            for r in G.pagerank(new_edges, iters=20).collect()
        }
        assert set(warm) == set(cold)
        # the update conserves excess mass geometrically: warm init sums
        # to 1.125 (old ranks sum 1 + new node's 1/N), so after t iters
        # the residual is 0.125 * d^t (~5e-3 at t=20) spread over nodes —
        # the two runs agree to that order, not machine precision
        for v in cold:
            assert abs(warm[v] - cold[v]) < 1e-2, v
        total = sum(warm.values())
        assert abs(total - 1.0) < 0.125 * 0.85**20 + 1e-9


class TestClosureRandomized:
    def test_random_graphs_vs_bfs(self, spark):
        import random

        for seed in (11, 12, 13):
            rng = random.Random(seed)
            edges = list({
                (rng.randrange(8), rng.randrange(8))
                for _ in range(rng.randint(6, 18))
            })
            e = spark.createDataFrame(edges, "src long, dst long")
            for depth in (2, 3):
                got = {
                    (r["src"], r["dst"]): r["dist"]
                    for r in G.bounded_closure(e, max_depth=depth).collect()
                }
                assert got == _python_closure(edges, depth), (seed, depth)


def _python_weighted_pagerank(wedges, iters, d=0.85):
    kept = [(s, t, w) for s, t, w in wedges if w and w > 0]
    nodes = sorted({n for s, t, _ in kept for n in (s, t)})
    n = len(nodes)
    wsum = {}
    for s, t, w in kept:
        wsum[s] = wsum.get(s, 0.0) + w
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dangling = sum(r for v, r in rank.items() if v not in wsum)
        contrib = {v: 0.0 for v in nodes}
        for s, t, w in kept:
            contrib[t] += rank[s] * (w / wsum[s])
        rank = {
            v: (1 - d) / n + d * (contrib[v] + dangling / n) for v in nodes
        }
    return rank


class TestWeightedPagerank:
    # parallel-ish weights, a dominated edge, a dropped zero-weight edge
    # (8 keeps only a dropped edge -> vanishes entirely), dangling node 4
    WEDGES = [
        (0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 1.0),
        (3, 0, 5.0), (2, 4, 0.5), (8, 0, 0.0),
    ]

    def test_matches_python_oracle(self, spark):
        e = spark.createDataFrame(
            self.WEDGES, "src long, dst long, support double"
        ).repartition(3)
        got = {
            r["node"]: r["rank"]
            for r in G.pagerank(e, iters=5, weight_col="support").collect()
        }
        want = _python_weighted_pagerank(self.WEDGES, 5)
        assert set(got) == set(want)
        assert 8 not in got
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12), v

    def test_uniform_weights_equal_unweighted(self, spark):
        rows = [(s, t, 7.5) for s, t, _ in self.WEDGES if s != 8]
        e = spark.createDataFrame(rows, "src long, dst long, support double")
        w = {
            r["node"]: r["rank"]
            for r in G.pagerank(e, iters=4, weight_col="support").collect()
        }
        u = {
            r["node"]: r["rank"]
            for r in G.pagerank(
                e.select("src", "dst"), iters=4
            ).collect()
        }
        for v in u:
            assert w[v] == pytest.approx(u[v], abs=1e-12), v


class TestWeightedPpr:
    def test_uniform_weights_equal_unweighted(self, spark):
        edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 0)]
        e = spark.createDataFrame(edges, "src long, dst long")
        ew = spark.createDataFrame(
            [(s, t, 4.0) for s, t in edges], "src long, dst long, w double"
        )
        seeds = spark.createDataFrame(
            [(0, 2.0), (3, 1.0)], "node long, weight double"
        )
        a = {
            r["node"]: r["rank"]
            for r in G.personalized_pagerank(e, seeds, iters=4).collect()
        }
        b = {
            r["node"]: r["rank"]
            for r in G.personalized_pagerank(
                ew, seeds, iters=4, edge_weight_col="w"
            ).collect()
        }
        assert set(a) == set(b)
        for v in a:
            assert b[v] == pytest.approx(a[v], abs=1e-12), v

    def test_heavier_edge_attracts_rank(self, spark):
        ew = spark.createDataFrame(
            [(0, 1, 9.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 1.0)],
            "src long, dst long, w double",
        )
        seeds = spark.createDataFrame([(0, 1.0)], "node long, weight double")
        got = {
            r["node"]: r["rank"]
            for r in G.personalized_pagerank(
                ew, seeds, iters=5, edge_weight_col="w"
            ).collect()
        }
        assert got[1] > got[2]
        assert abs(sum(got.values()) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# strongly connected components / bow-tie / shortest paths / clustering


def _tarjan_scc(edges):
    """Iterative Tarjan -> {node: min member id of its SCC}, over every
    node appearing as an endpoint (self-loops ignored like the operator)."""
    adj, nodes = {}, set()
    for s, d in edges:
        nodes.add(s)
        nodes.add(d)
        if s != d:
            adj.setdefault(s, []).append(d)
    index, low, onstack, stack = {}, {}, set(), []
    out, counter = {}, [0]
    for root in sorted(nodes):
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                onstack.add(v)
            recurse = False
            nbrs = adj.get(v, [])
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in onstack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    onstack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    out[w] = m
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])
    return out


def _rand_digraph(seed, n=40, m=90):
    import hashlib

    edges = []
    for i in range(m):
        h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        edges.append((int(h[:8], 16) % n, int(h[8:16], 16) % n))
    return [(s, d) for s, d in edges if s != d]


class TestStronglyConnectedComponents:
    def _run(self, spark, edges, **kw):
        e = spark.createDataFrame(edges, "src long, dst long").repartition(5)
        got = G.strongly_connected_components(e, **kw)
        return {r["node"]: r["component"] for r in got.collect()}

    def test_matches_tarjan_on_random_digraphs(self, spark):
        for seed in ("a", "b", "c"):
            edges = _rand_digraph(seed)
            assert self._run(spark, edges) == _tarjan_scc(edges), seed

    def test_cycle_chain_and_dag(self, spark):
        edges = [
            (0, 1), (1, 2), (2, 0),          # 3-cycle
            (2, 3), (3, 4),                  # DAG tail -> singletons
            (4, 5), (5, 4),                  # 2-cycle
            (9, 9),                          # self-loop only -> dropped
        ]
        got = self._run(spark, edges)
        assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}

    def test_nested_color_rounds(self, spark):
        # high-id ring pointing into a low-id ring: the low ring is
        # colored by the high ring's max and must survive to round 2
        edges = [
            (10, 11), (11, 12), (12, 10),
            (10, 1),
            (1, 2), (2, 3), (3, 1),
        ]
        got = self._run(spark, edges)
        assert got == {10: 10, 11: 10, 12: 10, 1: 1, 2: 1, 3: 1}

    def test_strict_raises_when_budget_too_small(self, spark):
        edges = [(0, 1), (1, 2), (2, 3), (3, 0), (3, 4), (4, 5), (5, 4)]
        with pytest.raises(RuntimeError):
            self._run(spark, edges, max_color_iters=1)

    def test_empty_edges(self, spark):
        assert self._run(spark, [(7, 7)]) == {}


class TestBowtieRoles:
    # core 2-cycle {0,1}; 10 -> core ('in'); core -> 20 ('out');
    # 10 -> 30 tendril ('other'); 40<->41 disconnected 2-cycle (smaller
    # than core? same size — tie broken by min component id -> {0,1}
    # stays core); 50 -> 51 disconnected pair ('other')
    EDGES = [
        (0, 1), (1, 0),
        (10, 0),
        (1, 20),
        (10, 30),
        (40, 41), (41, 40),
        (50, 51),
    ]

    def test_roles(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        got = {r["node"]: r["role"] for r in G.bowtie_roles(e).collect()}
        assert got == {
            0: "core", 1: "core", 10: "in", 20: "out", 30: "other",
            40: "other", 41: "other", 50: "other", 51: "other",
        }

    def test_precomputed_scc_reused(self, spark):
        e = spark.createDataFrame(self.EDGES, "src long, dst long")
        scc = G.strongly_connected_components(e)
        got = {r["node"]: r["role"] for r in G.bowtie_roles(e, scc=scc).collect()}
        assert got[0] == "core" and got[10] == "in" and got[20] == "out"


def _python_sssp(edges, seeds, max_hops):
    dist = {s: 0 for s in seeds}
    for _ in range(max_hops):
        nxt = dict(dist)
        for s, d, w in edges:
            if s in dist and dist[s] + w < nxt.get(d, float("inf")):
                nxt[d] = dist[s] + w
        dist = nxt
    return sorted(dist.items())


class TestShortestPaths:
    EDGES = [
        (0, 1, 5), (0, 2, 1), (2, 1, 1),      # 0->2->1 (2) beats 0->1 (5)
        (1, 3, 1), (3, 4, 1), (4, 1, 1),      # cycle, non-negative
        (0, 5, 100), (2, 5, 98),              # equal-cost alternatives
        (90, 91, 1),                          # unreachable island
    ]

    def _run(self, spark, seeds, max_hops):
        e = spark.createDataFrame(
            self.EDGES, "src long, dst long, weight long"
        ).repartition(4)
        s = spark.createDataFrame([(x,) for x in seeds], "node long")
        got = G.shortest_paths(e, s, max_hops=max_hops)
        return sorted((r["node"], r["dist"]) for r in got.collect())

    def test_matches_python_bounded_bellman_ford(self, spark):
        for mh in (0, 1, 2, 3, 8):
            assert self._run(spark, [0], mh) == _python_sssp(
                [(s, d, w) for s, d, w in self.EDGES], [0], mh
            ), mh

    def test_longer_hop_cheaper_path_wins(self, spark):
        got = dict(self._run(spark, [0], 8))
        assert got[1] == 2 and got[5] == 99  # 0->2 (1) + 2->5 (98)
        assert 90 not in got

    def test_multi_seed_min(self, spark):
        got = dict(self._run(spark, [0, 4], 8))
        assert got[1] == 1  # 4->1 beats 0->2->1


class TestClusteringCoefficients:
    def test_triangle_plus_star(self, spark):
        # triangle 0-1-2 plus hub 0 fanned to 3,4: deg(0)=4, T(0)=1
        edges = [(0, 1), (1, 2), (2, 0), (0, 3), (0, 4)]
        e = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: (r["degree"], r["n_triangles"], r["lcc"])
            for r in G.clustering_coefficients(e).collect()
        }
        assert got[0] == (4, 1, round(2 * 1 / (4 * 3), 6))
        assert got[1] == (2, 1, 1.0) and got[2] == (2, 1, 1.0)
        assert got[3] == (1, 0, 0.0) and got[4] == (1, 0, 0.0)

    def test_matches_brute_force_on_random_graph(self, spark):
        edges = _rand_digraph("lcc", n=25, m=60)
        und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        exp = {}
        for v, nb in adj.items():
            d = len(nb)
            t = sum(
                1
                for x in nb
                for y in nb
                if x < y and y in adj.get(x, set())
            )
            exp[v] = (d, t, 0.0 if d < 2 else round(2 * t / (d * (d - 1)), 6))
        e = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: (r["degree"], r["n_triangles"], r["lcc"])
            for r in G.clustering_coefficients(e).collect()
        }
        assert got == exp


class TestCondensation:
    def test_contracts_cycles_keeps_dag(self, spark):
        edges = [
            (0, 1), (1, 0),          # comp 0
            (2, 3), (3, 2),          # comp 2
            (1, 2),                  # 0 -> 2
            (3, 4),                  # 2 -> 4 (singleton)
            (0, 1),                  # duplicate edge collapses
        ]
        e = spark.createDataFrame(edges, "src long, dst long")
        got = sorted(
            (r["src_comp"], r["dst_comp"]) for r in G.condensation(e).collect()
        )
        assert got == [(0, 2), (2, 4)]

    def test_matches_tarjan_on_random_digraphs(self, spark):
        edges = _rand_digraph("cond", n=20, m=50)
        comp = _tarjan_scc(edges)
        exp = sorted(
            {
                (comp[s], comp[d])
                for s, d in edges
                if s != d and comp[s] != comp[d]
            }
        )
        e = spark.createDataFrame(edges, "src long, dst long")
        got = sorted(
            (r["src_comp"], r["dst_comp"]) for r in G.condensation(e).collect()
        )
        assert got == exp


class TestSccHubSkew:
    def test_giant_hub_scc(self, spark):
        # a 30%-style hub: node 0 has edges BOTH ways to every 3rd node
        # (one giant SCC through the hub), everything else DAG-chains
        # into the hub — the coloring join is hub-keyed, AQE territory
        n = 120
        edges = []
        for i in range(1, n):
            if i % 3 == 0:
                edges += [(0, i), (i, 0)]
            else:
                edges.append((i, i - 1))
        e = spark.createDataFrame(edges, "src long, dst long").repartition(8)
        got = {
            r["node"]: r["component"]
            for r in G.strongly_connected_components(e).collect()
        }
        assert got == _tarjan_scc(edges)
        giant = {v for v, c in got.items() if c == 0}
        assert giant == {0} | {i for i in range(1, n) if i % 3 == 0}


def _python_closeness(edges, n_seeds, max_depth):
    import hashlib

    adj = {}
    nodes = set()
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        nodes.update((s, d))

    def h(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    seeds = sorted(nodes, key=lambda v: (h(v), v))[:n_seeds]
    dist = {}
    for seed in seeds:
        depth = {seed: 0}
        frontier = [seed]
        for d in range(1, max_depth + 1):
            nxt = []
            for u in frontier:
                for v in adj.get(u, []):
                    if v not in depth:
                        depth[v] = d
                        nxt.append(v)
            if not nxt:
                break
            frontier = nxt
        for v, d in depth.items():
            r, s = dist.get(v, (0, 0))
            dist[v] = (r + 1, s + d)
    return {
        v: (r, s, round(r / s, 6) if s > 0 else None)
        for v, (r, s) in dist.items()
    }


class TestApproxCloseness:
    def _run(self, spark, edges, n_seeds, max_depth=10):
        e = spark.createDataFrame(edges, "src long, dst long").repartition(4)
        got = G.approx_closeness(e, n_seeds=n_seeds, max_depth=max_depth)
        return {
            r["node"]: (r["reached"], r["sum_depth"], r["inv_avg_dist"])
            for r in got.collect()
        }

    def test_matches_python_bfs_oracle(self, spark):
        # halving graph + side edges: multi-path minima, merging frontiers
        edges = [(i, i // 2) for i in range(1, 120)] + [
            (i, i - 1) for i in range(3, 120, 7)
        ]
        for n_seeds in (2, 5):
            assert self._run(spark, edges, n_seeds) == _python_closeness(
                edges, n_seeds, 10
            ), n_seeds

    def test_star_center_is_most_central(self, spark):
        # every spoke points at the hub: the hub is 1 hop from every seed
        edges = [(i, 0) for i in range(1, 40)]
        got = self._run(spark, edges, n_seeds=6)
        hub = got[0]
        assert hub[0] == 6  # reached by all seeds (itself if sampled)
        best = max(
            (v for v in got.values() if v[2] is not None), key=lambda v: v[2]
        )
        assert hub[2] == best[2]

    def test_depth_cap_bounds_reach(self, spark):
        edges = [(i, i + 1) for i in range(30)]  # a path
        got = self._run(spark, edges, n_seeds=1, max_depth=3)
        assert max(s for _, s, _ in got.values()) <= 3

    def test_bad_params_raise(self, spark):
        import pytest as _pytest

        e = spark.createDataFrame([(1, 2)], "src long, dst long")
        with _pytest.raises(ValueError):
            G.approx_closeness(e, n_seeds=0)


class TestDegreeAssortativity:
    def _run(self, spark, edges):
        e = spark.createDataFrame(edges, "src long, dst long").repartition(4)
        r = G.degree_assortativity(e).collect()[0]
        return r["n_edges"], r["assortativity"]

    @staticmethod
    def _python(edges):
        import math

        deg = {}
        for s, d in edges:
            deg[s] = deg.get(s, 0) + 1
            deg[d] = deg.get(d, 0) + 1
        xs = [deg[s] for s, _ in edges]
        ys = [deg[d] for _, d in edges]
        n = len(edges)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        if vx <= 0 or vy <= 0:
            return n, None
        return n, round((n * sxy - sx * sy) / math.sqrt(vx * vy), 6)

    def test_matches_python_formula(self, spark):
        edges = [(i, i // 2) for i in range(1, 90)] + [
            (i, (i * 3) % 40) for i in range(40)
        ]
        assert self._run(spark, edges) == self._python(edges)

    def test_star_graph_is_disassortative(self, spark):
        edges = [(i, 0) for i in range(1, 30)] + [(1, 2), (3, 4), (5, 6)]
        n, r = self._run(spark, edges)
        assert r is not None and r < 0
        assert (n, r) == self._python(edges)

    def test_regular_graph_zero_variance_is_null(self, spark):
        # a directed cycle: every node has degree exactly 2 -> NULL
        edges = [(i, (i + 1) % 12) for i in range(12)]
        assert self._run(spark, edges) == (12, None)


class TestHyperball:
    """HyperBall (approximate neighborhood function): the Spark register
    iteration must land bit-for-bit on a python replay of the pinned
    HLL algebra over EXACT reachable balls."""

    @staticmethod
    def _h60(v) -> int:
        import hashlib

        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    @classmethod
    def _python(cls, edges, radius, b):
        import math

        adj = {}
        nodes = set()
        for s, d in edges:
            if s != d:
                adj.setdefault(s, set()).add(d)
            nodes.update((s, d))
        balls = {v: {v} for v in nodes}
        for _ in range(radius):
            balls = {
                v: ball | set().union(
                    *(balls[u] for u in adj.get(v, ()))
                )
                if adj.get(v)
                else set(ball)
                for v, ball in balls.items()
            }
        m, w_bits = 1 << b, 60 - b
        out = {}
        for v, ball in balls.items():
            regs = {}
            for u in ball:
                h = cls._h60(u)
                j, w = h % m, h // m
                rho = w_bits + 1 if w == 0 else w_bits - w.bit_length() + 1
                regs[j] = max(regs.get(j, 0), rho)
            n_zero = m - len(regs)
            max_rank = w_bits + 1
            sum_scaled = sum(
                1 << (max_rank - r) for r in regs.values()
            ) + n_zero * (1 << max_rank)
            if m == 16:
                alpha = 0.673
            elif m == 32:
                alpha = 0.697
            elif m == 64:
                alpha = 0.709
            else:
                alpha = 0.7213 / (1.0 + 1.079 / m)
            raw = alpha * float(m) * float(m) * float(1 << max_rank) \
                / float(sum_scaled)
            if raw <= 2.5 * m and n_zero > 0:
                est = m * math.log(m / n_zero)
            else:
                est = raw
            out[v] = (m, n_zero, sum_scaled, round(est, 4), len(ball))
        return out

    def _run(self, spark, edges, radius, b):
        df = spark.createDataFrame(edges, "src long, dst long")
        return {
            r["node"]: (
                r["m"], r["n_zero"], r["sum_scaled"], r["est_ball"]
            )
            for r in G.hyperball(df, radius=radius, b=b).collect()
        }

    def test_matches_python_replay(self, spark):
        # halving + side edges: multi-path merges, shared sub-balls
        edges = [(i, i // 2) for i in range(1, 60)] + [
            (i, i - 1) for i in range(1, 60) if i % 7 == 3
        ]
        for radius in (0, 1, 3):
            want = {
                v: t[:4] for v, t in self._python(edges, radius, 4).items()
            }
            assert self._run(spark, edges, radius, 4) == want

    def test_small_balls_linear_counting_near_exact(self, spark):
        # radius-1 balls are tiny vs m=256: linear counting keeps the
        # estimate within 10% of the true ball size for every node
        edges = [(i, (i + 1) % 40) for i in range(40)]
        got = self._run(spark, edges, radius=2, b=8)
        truth = self._python(edges, 2, 8)
        for v, (_, _, _, est) in got.items():
            assert abs(est - truth[v][4]) / truth[v][4] < 0.10

    def test_big_ball_within_rse_budget(self, spark):
        # a star center reaches all 500 leaves in one hop; b=8 gives
        # sigma ~ 1.04/16 = 6.5% -- assert within 4 sigma
        edges = [(0, i) for i in range(1, 501)]
        got = self._run(spark, edges, radius=1, b=8)
        est = got[0][3]
        assert abs(est - 501) / 501 < 0.26
        assert got == {
            v: t[:4] for v, t in self._python(edges, 1, 8).items()
        }

    def test_monotone_registers_and_self_loop_ignored(self, spark):
        edges = [(1, 1), (1, 2), (2, 3), (3, 4)]
        r1 = self._run(spark, edges, radius=1, b=6)
        r3 = self._run(spark, edges, radius=3, b=6)
        # sum_scaled can only shrink as balls grow (register-wise max)
        for v in r1:
            assert r3[v][2] <= r1[v][2]
        # node 1's radius-1 ball is {1, 2} despite the self-loop
        assert r1[1] == {
            v: t[:4] for v, t in self._python(edges, 1, 6).items()
        }[1]

    def test_radius_validation(self, spark):
        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError):
            G.hyperball(df, radius=-1)


class TestHyperballHarmonic:
    @staticmethod
    def _round4(x):
        # Spark's round() is HALF_UP on the shortest decimal repr
        # (BigDecimal.valueOf); python's round() is banker's — replay
        # Spark's exactly or ties like 2.92995 diverge in the last digit
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(x)).quantize(
                Decimal("1e-4"), rounding=ROUND_HALF_UP
            )
        )

    def _python(self, edges, max_radius, b, reverse=True):
        ed = [(d, s) for s, d in edges] if reverse else list(edges)
        out = {}
        for v in {n for e in edges for n in e}:
            ests = []
            for r in range(max_radius + 1):
                balls = TestHyperball._python(ed, r, b)
                ests.append(balls[v][3])
            h = 0.0
            lcm = 1
            for r in range(1, max_radius + 1):
                h = h + (ests[r] - ests[r - 1]) / float(r)
                import math

                lcm = lcm * r // math.gcd(lcm, r)
            out[v] = (
                self._round4(h),
                int(
                    __import__("decimal").Decimal(
                        repr(h * float(10000 * lcm))
                    ).quantize(
                        __import__("decimal").Decimal("1"),
                        rounding=__import__("decimal").ROUND_HALF_UP,
                    )
                ),
            )
        return out

    def test_matches_python_replay(self, spark):
        edges = [(i, i // 2) for i in range(1, 40)] + [
            (i, i - 1) for i in range(1, 40) if i % 7 == 3
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: (r["harmonic"], r["harmonic_scaled"])
            for r in G.hyperball_harmonic(df, max_radius=2, b=4).collect()
        }
        assert got == self._python(edges, 2, 4)
        # the scaled integer is consistent with the 4dp double
        for h4, hs in got.values():
            assert abs(hs / 20000.0 - h4) < 1e-4

    def test_star_center_dominates_reversed(self, spark):
        # all leaves point AT the center: with reverse=True the center
        # is reachable from everyone at distance 1 -> highest harmonic
        edges = [(i, 0) for i in range(1, 60)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["harmonic"]
            for r in G.hyperball_harmonic(df, max_radius=2, b=8).collect()
        }
        assert got[0] == max(got.values())
        # HLL estimate of 59 in-neighbors lands within the RSE budget
        assert abs(got[0] - 59) / 59 < 0.26

    def test_forward_variant_and_validation(self, spark):
        edges = [(0, 1), (1, 2)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: (r["harmonic"], r["harmonic_scaled"])
            for r in G.hyperball_harmonic(
                df, max_radius=2, b=4, reverse=False
            ).collect()
        }
        assert got == self._python(edges, 2, 4, reverse=False)
        assert got[0] > got[2]
        with pytest.raises(ValueError):
            G.hyperball_harmonic(df, max_radius=0)


class TestHyperballNf:
    def _python(self, edges, max_radius, b):
        from decimal import ROUND_HALF_UP, Decimal

        nodes = {n for e in edges for n in e}
        out = {}
        for r in range(max_radius + 1):
            balls = TestHyperball._python(edges, r, b)
            total = 0
            for v in nodes:
                est = balls[v][3]
                total += int(
                    Decimal(repr(est * 10000.0)).quantize(
                        Decimal("1"), rounding=ROUND_HALF_UP
                    )
                )
            out[r] = (len(nodes), total)
        return out

    def test_matches_python_replay_and_monotone(self, spark):
        edges = [(i, i // 2) for i in range(1, 50)] + [
            (i, i - 1) for i in range(1, 50) if i % 7 == 3
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["radius"]: (r["n_nodes"], r["nf_x10000"])
            for r in G.hyperball_nf(df, max_radius=3, b=4).collect()
        }
        assert got == self._python(edges, 3, 4)
        # NF is nondecreasing in r (register monotonicity)
        vals = [got[r][1] for r in range(4)]
        assert vals == sorted(vals)

    def test_effective_diameter_read_on_a_path(self, spark):
        # a directed 20-path: NF keeps growing until radius ~ diameter;
        # on a star it saturates at radius 1
        path = spark.createDataFrame(
            [(i, i + 1) for i in range(20)], "src long, dst long"
        )
        star = spark.createDataFrame(
            [(0, i) for i in range(1, 21)], "src long, dst long"
        )
        nf_path = {
            r["radius"]: r["nf_x10000"]
            for r in G.hyperball_nf(path, max_radius=3, b=8).collect()
        }
        nf_star = {
            r["radius"]: r["nf_x10000"]
            for r in G.hyperball_nf(star, max_radius=3, b=8).collect()
        }
        assert nf_path[3] > nf_path[2] > nf_path[1]  # still growing
        assert nf_star[1] == nf_star[2] == nf_star[3]  # saturated at 1
        with pytest.raises(ValueError):
            G.hyperball_nf(path, max_radius=-1)
