"""Connected-components stress: hub-star skew (the north rule's explicit
concern) and long-chain convergence, on both sides of
connected_components' size check (driver union-find, star-star) and on
canon's DISTRIBUTED path."""

import pyspark.sql.functions as F
import pytest

from chunksilo_spark.operators import canon
from chunksilo_spark.operators.canon import connected_components


def test_hub_star_converges_fast(spark):
    """A 20k-edge star around one hub: the skewed shape the rule names.
    The driver union-find takes it in one pass; on the star-star side the
    hub's min is map-side combined, so the hub reducer never sees 20k
    rows, and a star is already the fixpoint."""
    n = 20_000
    edges = spark.range(1, n + 1).select(
        F.lit(0).cast("long").alias("a"), F.col("id").alias("b")
    )
    vertices = spark.range(0, n + 1).select(F.col("id").alias("nid"))
    labels = connected_components(vertices, edges, max_iter=5, partitions=8)
    comps = labels.select("component").distinct().collect()
    assert len(comps) == 1 and comps[0]["component"] == 0


def test_chain_converges(spark):
    """A 30-node chain spans 29 hops: the union-find has no hop limit,
    and star-star contracts it in O(log n) rounds, inside max_iter."""
    n = 30
    edges = spark.range(0, n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    vertices = spark.range(0, n).select(F.col("id").alias("nid"))
    labels = connected_components(vertices, edges, max_iter=20, partitions=4)
    rows = labels.collect()
    assert {r["component"] for r in rows} == {0}
    assert len(rows) == n


def test_distributed_canon_at_20k_surfaces(spark):
    """The web-scale path (auto_local=False): 20k synthetic entity surfaces
    (two-word names + case/suffix/hyphen variants) must cluster identically
    to the driver union-find — validates LSH banding + distributed CC at a
    size where the small-graph fast path is NOT used."""
    import random

    from chunksilo_spark.operators.canon import canon_map

    rng = random.Random(7)
    first = [f"w{i}" for i in range(120)]
    second = [f"v{i}" for i in range(120)]
    combos = [(f, s) for f in first for s in second]
    rng.shuffle(combos)
    norms = set()
    for f, s in combos[:6000]:
        base = f"{f} {s}"
        norms.add(base)
        for variant in (f"{base} inc", f"{base} ltd", f"{f}{s}")[: rng.randint(0, 3)]:
            norms.add(variant)
    surfaces = spark.createDataFrame([(n,) for n in sorted(norms)], "norm string")

    dist = {
        r["norm"]: r["canon_surface"]
        for r in canon_map(surfaces, auto_local=False, partitions=16).collect()
    }
    local = {
        r["norm"]: r["canon_surface"]
        for r in canon_map(surfaces, auto_local=True).collect()
    }
    assert len(dist) == len(norms) > 15_000
    assert dist == local


def test_disjoint_components_stay_apart(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "a long, b long"
    )
    vertices = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 20, 21, 22, 99]], "nid long"
    )
    labels = {r["nid"]: r["component"] for r in
              connected_components(vertices, edges, partitions=4).collect()}
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == 10
    assert labels[20] == labels[21] == labels[22] == 20
    assert labels[99] == 99  # isolated vertex keeps its own id


@pytest.mark.parametrize(
    "case",
    [test_hub_star_converges_fast, test_chain_converges,
     test_disjoint_components_stay_apart],
    ids=["hub_star", "chain", "disjoint"],
)
def test_star_star_side(spark, monkeypatch, case):
    """The cases above with every edge set over the size threshold, so
    connected_components takes its star-star side."""
    monkeypatch.setattr(canon, "SMALL_GRAPH_THRESHOLD", 0)
    case(spark)


def test_100_hop_alias_chain_is_one_component(spark, monkeypatch):
    """101 surfaces 't{i} .. t{i+4}': neighbours share 4 of 6 words
    (Jaccard 0.67 >= 0.6), others at most 3 of 7 (0.43), so the verified
    edges form one 100-hop chain. The distributed canon must return the
    driver union-find's single component on both sides of
    connected_components' size check, not split it at a hop limit."""
    norms = [" ".join(f"t{j}" for j in range(i, i + 5)) for i in range(101)]
    surfaces = spark.createDataFrame([(n,) for n in norms], "norm string")
    want = {
        r["norm"]: (r["canon_id"], r["canon_surface"])
        for r in canon.canon_map_local(spark, norms).collect()
    }
    assert len(want) == 101 and len(set(want.values())) == 1
    for threshold in (canon.SMALL_GRAPH_THRESHOLD, 0):
        monkeypatch.setattr(canon, "SMALL_GRAPH_THRESHOLD", threshold)
        got = {
            r["norm"]: (r["canon_id"], r["canon_surface"])
            for r in canon.canon_map(
                surfaces, auto_local=False, partitions=4
            ).collect()
        }
        assert got == want, f"SMALL_GRAPH_THRESHOLD={threshold}"
