"""Driver-built frames enter Spark as Arrow local relations, and the fused
distinct-norms pass is a JVM aggregate: Python workers run only the
package's Python kernels.

* every ``session.local_frame`` call site yields the frame the old
  ``createDataFrame(<list>, schema)`` call built, schema (types and
  nullability) and rows alike;
* the driver-side canon map is a ``LocalRelation``, not a ``LogicalRDD``
  over a pickled ``PythonRDD``;
* ``fused.distinct_norms`` equals the old per-batch Python pre-distinct
  and plans no Python node;
* ``local_frame`` is the package's only ``createDataFrame`` call.
"""

import ast
import os
from typing import Iterator

import pandas as pd
import pytest
from pyspark.sql import functions as F

from chunksilo_spark import session
from chunksilo_spark.models import ModelSpec
from chunksilo_spark.operators import bgp, canon, curation, fused as fz
from chunksilo_spark.operators import similarity, stage2_link as s2, tokenizer
from chunksilo_spark.operators.bgp import bgp_match
from chunksilo_spark.plans import kg_api
from chunksilo_spark.sources import corpus, rest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "chunksilo_spark",
)
SITE_MODULES = (
    session, bgp, canon, kg_api, similarity, tokenizer, curation, rest
)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _analyzed_leaf(df) -> str:
    plan = df._jdf.queryExecution().analyzed()
    while plan.children().size():
        plan = plan.children().head()
    return plan.nodeName()


@pytest.fixture
def recorded(monkeypatch):
    """Every local_frame call made while the fixture is active, as
    (rows, schema, frame); rows are materialized first, since a call
    site may pass a generator."""
    calls = []
    real = session.local_frame

    def record(spark, rows, schema):
        rows = list(rows)
        frame = real(spark, rows, schema)
        calls.append((rows, schema, frame))
        return frame

    for mod in SITE_MODULES:
        monkeypatch.setattr(mod, "local_frame", record)
    return calls


class _NoClient:
    """fetch_pages builds its unit frame before any client call."""


def _inputs(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    return {
        "vecs": vecs,
        "words": spark.createDataFrame(
            [("lower lowest newer wider",), ("low newest widest",)],
            "text string",
        ),
        "edges": spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], "a long, b long"
        ),
        "kg_edges": spark.createDataFrame(
            [(1, 2, 3), (2, 3, 1), (3, 4, 2)],
            "subj_canon_id long, obj_canon_id long, support long",
        ),
        "surfaces": spark.createDataFrame(
            [("acme corp",), ("acme corp inc",), ("nimbus",)], "norm string"
        ),
        "truth": spark.createDataFrame(
            [(0, "acme corp"), (0, "acme corp inc"), (1, "nimbus")],
            "entity_id long, norm string",
        ),
        "docs": spark.createDataFrame(
            [(i, ("en", "de", "fr")[i % 3]) for i in range(30)],
            "doc_id long, lang string",
        ),
    }


# each converted call site, driven through its public entry
SITES = {
    "canon_map_local": lambda s, d: canon.canon_map_local(
        s, ["acme corp", "acme corp inc", "nimbus"]),
    "canon_map_local_empty": lambda s, d: canon.canon_map_local(s, []),
    "connected_components": lambda s, d: canon.connected_components(
        s.range(10).select(F.col("id").alias("nid")), d["edges"]),
    "blocking_metrics": lambda s, d: canon.blocking_metrics(
        d["surfaces"], d["truth"]),
    "related_entities": lambda s, d: kg_api.related_entities(
        d["kg_edges"], [1, 4], k=3),
    "related_entities_no_seeds": lambda s, d: kg_api.related_entities(
        d["kg_edges"], [], k=3),
    "ivf_topk": lambda s, d: similarity.ivf_topk(
        d["vecs"], d["vecs"].where("vec_id < 3"), n_centroids=4),
    "ivf_topk_empty": lambda s, d: similarity.ivf_topk(
        d["vecs"].limit(0), d["vecs"].limit(0)),
    "bpe_train": lambda s, d: tokenizer.bpe_train(d["words"], n_merges=3),
    "bpe_vocab": lambda s, d: tokenizer.bpe_vocab(
        d["words"], [("l", "o"), ("lo", "w")]),
    "mix_to_target": lambda s, d: curation.mix_to_target(
        d["docs"], "lang", {"en": 0.5, "de": 0.25, "fr": 0.25}),
    "fetch_pages": lambda s, d: rest.fetch_pages(
        s, ["alpha", "beta"], ModelSpec(_NoClient)),
    "fetch_pages_no_units": lambda s, d: rest.fetch_pages(
        s, [], ModelSpec(_NoClient)),
    "aliases_df": lambda s, d: corpus.aliases_df(s),
}


@pytest.mark.parametrize("site", sorted(SITES))
def test_site_frame_equals_list_frame(spark, recorded, site):
    """The site's local frame equals the pickled-list frame of the same
    rows and schema: types, nullability and rows."""
    SITES[site](spark, _inputs(spark))
    (rows, schema, frame), = recorded
    old = spark.createDataFrame(rows, schema)
    assert frame.schema == old.schema
    assert _rows(frame) == _rows(old)
    assert _analyzed_leaf(frame) == "LocalRelation"


def test_canon_map_local_is_local_relation(spark):
    """The canon map is a LocalRelation: reading it runs no Python task
    (a pickled list would be a LogicalRDD over a PythonRDD)."""
    for norms in (["acme corp", "acme corp inc"], []):
        cmap = canon.canon_map_local(spark, norms)
        assert _analyzed_leaf(cmap) == "LocalRelation"


def test_local_frame_rejects_wrong_arity(spark):
    with pytest.raises(ValueError):
        session.local_frame(spark, [(1, "a", 2)], "a long, b string")


class TestBgpValuesTyped:
    @pytest.fixture(scope="class")
    def triples(self, spark):
        return spark.createDataFrame(
            [(1, 10, 2), (2, 10, 3), (3, 11, 4)],
            "subj long, pred long, obj long",
        )

    def test_values_take_bound_types(self, spark, triples, recorded):
        got = bgp_match(
            triples, [("?x", 10, "?y")], values=(["?x"], [(1,), (3,)])
        )
        assert _rows(got) == [(1, 2)]
        (rows, schema, frame), = recorded
        assert schema.simpleString() == "struct<x:bigint>"
        assert _analyzed_leaf(frame) == "LocalRelation"

    def test_integral_float_matches_as_before(self, spark, triples):
        got = bgp_match(
            triples, [("?x", 10, "?y")], values=(["?x"], [(2.0,)])
        )
        assert _rows(got) == [(2, 3)]

    @pytest.mark.parametrize("bad", ["1", 1.5, True])
    def test_ill_typed_values_raise(self, spark, triples, bad):
        with pytest.raises(ValueError, match=r"VALUES \?x"):
            bgp_match(
                triples, [("?x", 10, "?y")], values=(["?x"], [(1,), (bad,)])
            )

    def test_ragged_values_raise(self, spark, triples):
        with pytest.raises(ValueError, match="VALUES rows"):
            bgp_match(
                triples, [("?x", 10, "?y")],
                values=(["?x", "?y"], [(1, 2), (2,)]),
            )


# -- distinct_norms --------------------------------------------------------

def _old_distinct_norms(fused):
    """The per-batch Python pre-distinct that distinct_norms replaced."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            uniq = set(pdf["subj_norm"]) | set(pdf["obj_norm"])
            yield pd.DataFrame({"norm": sorted(uniq)})

    return (
        fused.select("subj_norm", "obj_norm")
        .mapInPandas(run, schema="norm string")
        .distinct()
    )


def _sf_pages(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.select(
        F.concat(F.lit("sf://doc/"), F.col("doc_id").cast("string")).alias("url"),
        F.encode("text", "utf-8").alias("html"),
        "lang",
    )


@pytest.fixture(scope="module")
def alias_bc(spark):
    return s2.build_alias_broadcast(spark, corpus.aliases_df(spark))


@pytest.mark.parametrize("source", ["corpus", "sf0.001", "empty"])
def test_distinct_norms_equals_per_batch_path(spark, sf_dir, alias_bc, source):
    if source == "corpus":
        pages = corpus.pages_df(spark, 120, partitions=4)
    elif source == "sf0.001":  # sf0.001's documents link no triple
        pages = _sf_pages(spark, sf_dir)
    else:
        pages = session.local_frame(
            spark, [], "url string, html binary, lang string"
        )
    fused = fz.fused_linked_triples(pages, alias_bc).localCheckpoint()
    new = fz.distinct_norms(fused)
    assert new.schema == _old_distinct_norms(fused).schema
    assert _rows(new) == _rows(_old_distinct_norms(fused))
    if source == "corpus":
        assert new.count() > 50
    plan = new._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInPandas" not in plan and "Python" not in plan, plan


# -- guard ---------------------------------------------------------------------

def _create_dataframe_sites():
    """(module path, enclosing function) of every ``createDataFrame``
    reference, called or not (an alias would hide a call)."""
    sites = []
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            rel = os.path.relpath(path, os.path.dirname(PKG))

            def visit(node, fn):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    fn = node.name
                name = getattr(node, "attr", getattr(node, "id", None))
                if name == "createDataFrame":
                    sites.append((rel, fn))
                for child in ast.iter_child_nodes(node):
                    visit(child, fn)

            visit(tree, None)
    return sites


def test_create_dataframe_only_in_local_frame():
    """A driver-built frame must not slip back onto the pickled-list path:
    the package calls createDataFrame in session.local_frame only."""
    assert _create_dataframe_sites() == [
        (os.path.join("chunksilo_spark", "session.py"), "local_frame")
    ]
