"""KG query surface (plans/kg_api) over real materialized pipeline tables."""

import pytest
from pyspark.sql import functions as F

from chunksilo_spark.plans import kg_api as K
from chunksilo_spark.plans.pipeline import run_pipeline
from chunksilo_spark.sources.corpus import aliases_df, pages_df

N_PAGES = 120


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kgapi"))
    return run_pipeline(
        spark, pages_df(spark, N_PAGES), aliases_df(spark), out,
        fingerprint="kapi",
    )


@pytest.fixture(scope="module")
def an_entity(tables):
    """The best-attested subject entity and one of its facts."""
    row = (
        tables["edges"]
        .groupBy("subj_canon_id", "subj_canon")
        .agg(F.sum("support").alias("s"))
        .orderBy(F.col("s").desc(), F.col("subj_canon_id").asc())
        .first()
    )
    return row["subj_canon_id"], row["subj_canon"]


class TestEntityLookup:
    def test_finds_by_surface_case_insensitive(self, tables, an_entity):
        cid, surface = an_entity
        got = K.entity_lookup(tables["nodes"], surface.upper()).collect()
        assert any(r["canon_id"] == cid for r in got)

    def test_unknown_surface_empty(self, tables):
        assert K.entity_lookup(tables["nodes"], "zz-no-such-entity").count() == 0


class TestNeighborhood:
    def test_both_directions_and_roles(self, tables, an_entity):
        cid, _ = an_entity
        rows = K.neighborhood(tables["edges"], [cid]).collect()
        assert rows
        for r in rows:
            if r["role"] == "subj":
                assert r["subj_canon_id"] == cid
            else:
                assert r["obj_canon_id"] == cid
        out_only = K.neighborhood(tables["edges"], [cid], "out").collect()
        assert {r["role"] for r in out_only} <= {"subj"}
        assert len(out_only) <= len(rows)

    def test_min_support_filters(self, tables, an_entity):
        cid, _ = an_entity
        hi = K.neighborhood(tables["edges"], [cid], min_support=10**6)
        assert hi.count() == 0

    def test_bad_direction_raises(self, tables):
        with pytest.raises(ValueError):
            K.neighborhood(tables["edges"], [1], "sideways")


class TestAnswerBgp:
    def test_single_pattern_matches_edge_scan(self, tables):
        pred = tables["edges"].select("pred").first()["pred"]
        got = {
            (r["a"], r["b"])
            for r in K.answer_bgp(
                tables["edges"], [("?a", pred, "?b")]
            ).collect()
        }
        want = {
            (r["subj_canon_id"], r["obj_canon_id"])
            for r in tables["edges"].where(F.col("pred") == pred).collect()
        }
        assert got == want and got

    def test_two_pattern_star(self, tables):
        preds = [
            r["pred"]
            for r in tables["edges"].select("pred").distinct().orderBy("pred").collect()
        ]
        p, q = preds[0], preds[-1]
        got = K.answer_bgp(
            tables["edges"], [("?a", p, "?x"), ("?a", q, "?y")]
        )
        # every binding's subject genuinely carries both predicates
        subj_p = {
            r["subj_canon_id"]
            for r in tables["edges"].where(F.col("pred") == p).collect()
        }
        subj_q = {
            r["subj_canon_id"]
            for r in tables["edges"].where(F.col("pred") == q).collect()
        }
        for r in got.collect():
            assert r["a"] in subj_p and r["a"] in subj_q

    def test_min_support_floor_excludes(self, tables):
        pred = tables["edges"].select("pred").first()["pred"]
        assert (
            K.answer_bgp(
                tables["edges"], [("?a", pred, "?b")], min_support=10**6
            ).count()
            == 0
        )


class TestRelatedEntities:
    def test_seed_neighbors_rank_and_seed_excludable(self, tables, an_entity):
        cid, _ = an_entity
        got = K.related_entities(tables["edges"], [cid], k=10)
        rows = got.collect()
        assert rows and len(rows) <= 10
        ranked = {r["node"] for r in rows}
        nbrs = {
            r["obj_canon_id"]
            for r in K.neighborhood(tables["edges"], [cid], "out").collect()
        }
        # rank mass flows from the seed: the seed or a neighbor is top-10
        assert ({cid} | nbrs) & ranked
        ranks = [r["rank"] for r in rows]
        assert ranks == sorted(ranks, reverse=True)

    def test_repeated_seed_counts_once(self, tables, an_entity):
        cid, _ = an_entity
        once = K.related_entities(tables["edges"], [cid], k=10).collect()
        twice = K.related_entities(tables["edges"], [cid, cid], k=10).collect()
        assert twice == once
        assert len({r["node"] for r in twice}) == len(twice)


class TestPropertyPath:
    def test_depth1_equals_edge_scan_and_transitivity(self, tables):
        pred = tables["edges"].select("pred").first()["pred"]
        d1 = {
            (r["src"], r["dst"])
            for r in K.property_path(tables["edges"], pred, max_depth=1).collect()
        }
        scan = {
            (r["subj_canon_id"], r["obj_canon_id"])
            for r in tables["edges"]
            .where(F.col("pred") == pred)
            .where("subj_canon_id != obj_canon_id")
            .collect()
        }
        assert d1 == scan
        deep = {
            (r["src"], r["dst"]): r["dist"]
            for r in K.property_path(tables["edges"], pred, max_depth=3).collect()
        }
        # depth-1 pairs persist with dist 1; any extra pair has dist >= 2
        for pair in d1:
            assert deep[pair] == 1
        for pair, dist in deep.items():
            assert (pair in d1) == (dist == 1)
