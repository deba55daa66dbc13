"""BGP matcher vs a brute-force itertools oracle, plus guard behavior."""

import itertools

import pytest
from pyspark.sql import functions as F

from chunksilo_spark.operators.bgp import bgp_match

TRIPLES = [
    # a small social/commerce KG: longs for entities, strings for preds
    (1, "knows", 2),
    (2, "knows", 3),
    (1, "knows", 3),
    (3, "knows", 1),
    (1, "bought", 10),
    (2, "bought", 10),
    (3, "bought", 11),
    (2, "bought", 11),
    (10, "madeby", 100),
    (11, "madeby", 100),
    (2, "knows", 2),  # self-loop
]


def _brute(patterns, filters=None):
    """All variable bindings satisfying the conjunction, bag semantics."""
    var_names = sorted(
        {t[1:] for p in patterns for t in p if isinstance(t, str) and t.startswith("?")}
    )
    out = []
    for binding in itertools.product(
        {v for t in TRIPLES for v in (t[0], t[2])} | {t[1] for t in TRIPLES},
        repeat=len(var_names),
    ):
        env = dict(zip(var_names, binding))

        def term(t):
            return env[t[1:]] if isinstance(t, str) and t.startswith("?") else t

        if all(tuple(term(t) for t in p) in set(TRIPLES) for p in patterns):
            if filters is None or filters(env):
                out.append(tuple(env[v] for v in var_names))
    return sorted(out), var_names


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(TRIPLES, "subj long, pred string, obj long")


def _run(df):
    return sorted(tuple(r) for r in df.collect())


class TestBgpMatch:
    def test_single_pattern_constant_pred(self, triples):
        got = _run(bgp_match(triples, [("?x", "bought", "?y")]))
        want, _ = _brute([("?x", "bought", "?y")])
        assert got == want

    def test_two_hop_join(self, triples):
        pats = [("?a", "knows", "?b"), ("?b", "knows", "?c")]
        got = _run(bgp_match(triples, pats))
        want, names = _brute(pats)
        assert names == ["a", "b", "c"]
        assert got == want

    def test_three_pattern_star_with_filter(self, triples):
        pats = [
            ("?a", "bought", "?p"),
            ("?b", "bought", "?p"),
            ("?p", "madeby", "?m"),
        ]
        got = _run(
            bgp_match(triples, pats, filters=[F.col("a") < F.col("b")])
        )
        want, _ = _brute(pats, filters=lambda e: e["a"] < e["b"])
        assert got == want

    def test_repeated_var_within_pattern_is_self_loop(self, triples):
        got = _run(bgp_match(triples, [("?x", "knows", "?x")]))
        assert got == [(2,)]

    def test_constant_subject_binds_tail(self, triples):
        got = _run(bgp_match(triples, [(1, "knows", "?x")]))
        assert got == [(2,), (3,)]

    def test_distinct_collapses_derivations(self, triples):
        # x bought anything (two items each for 1? no — 1 bought one, 2 two)
        pats = [("?x", "bought", "?y")]
        bag = bgp_match(triples, pats, select=["x"])
        assert _run(bag) == [(1,), (2,), (2,), (3,)]
        assert _run(bgp_match(triples, pats, select=["x"], distinct=True)) == [
            (1,),
            (2,),
            (3,),
        ]

    def test_select_orders_columns(self, triples):
        df = bgp_match(
            triples, [("?a", "knows", "?b")], select=["b", "a"]
        )
        assert df.columns == ["b", "a"]

    def test_disconnected_raises(self, triples):
        with pytest.raises(ValueError, match="disconnected"):
            bgp_match(
                triples, [("?a", "knows", "?b"), ("?c", "bought", "?d")]
            )

    def test_all_constant_pattern_raises(self, triples):
        with pytest.raises(ValueError, match="binds no variables"):
            bgp_match(triples, [("?a", "knows", "?b"), (1, "knows", 2)])

    def test_unbound_select_raises(self, triples):
        with pytest.raises(ValueError, match="unbound"):
            bgp_match(triples, [("?a", "knows", "?b")], select=["z"])

    def test_empty_bgp_raises(self, triples):
        with pytest.raises(ValueError, match="empty"):
            bgp_match(triples, [])

    def test_variable_on_predicate_position(self, triples):
        pats = [(1, "?p", "?o")]
        got = _run(bgp_match(triples, pats))
        want, _ = _brute(pats)
        assert got == want


class TestRandomizedParity:
    """Seeded random triple sets vs the itertools brute force — the cheap
    randomized sweep (one Spark job per seed, not per hypothesis example)."""

    def _random_triples(self, seed):
        import random

        rng = random.Random(seed)
        ents = list(range(6))
        preds = ["p", "q", "r"]
        return list({
            (rng.choice(ents), rng.choice(preds), rng.choice(ents))
            for _ in range(rng.randint(8, 20))
        })

    def test_chain_and_star_on_random_graphs(self, spark):
        global TRIPLES
        shapes = [
            [("?a", "p", "?b"), ("?b", "q", "?c")],
            [("?a", "p", "?x"), ("?a", "q", "?y")],
            [("?a", "p", "?b"), ("?b", "q", "?a")],
        ]
        orig = TRIPLES
        try:
            for seed in (1, 2, 3):
                triples = self._random_triples(seed)
                TRIPLES = triples  # _brute reads the module global
                df = spark.createDataFrame(
                    triples, "subj long, pred string, obj long"
                )
                for pats in shapes:
                    got = _run(bgp_match(df, pats))
                    want, _ = _brute(pats)
                    assert got == want, (seed, pats)
        finally:
            TRIPLES = orig


class TestOptionalAndMinus:
    def test_optional_keeps_unmatched_with_nulls(self, triples):
        got = _run(
            bgp_match(
                TRIPLES_DF := triples,
                [("?x", "bought", "?y")],
                optional=[("?y", "madeby", "?m")],
            )
        )
        want = []
        ts = set(TRIPLES)
        for x, p, y in ts:
            if p != "bought":
                continue
            makers = [m for (y2, q, m) in ts if q == "madeby" and y2 == y]
            for m in makers or [None]:
                want.append((m, x, y))
        assert got == sorted(want, key=lambda t: (t[0] is not None, t))

    def test_optional_unmatched_yields_nulls(self, triples):
        # 'knows' targets have no madeby fact: every row keeps m = NULL
        got = _run(
            bgp_match(
                triples,
                [("?x", "knows", "?y")],
                optional=[("?y", "madeby", "?m")],
            )
        )
        assert got and all(t[0] is None for t in got)
        base = _run(bgp_match(triples, [("?x", "knows", "?y")]))
        assert sorted(t[1:] for t in got) == base

    def test_optional_multiplies_on_multiple_bindings(self, spark):
        rows = [(1, "p", 2), (2, "q", 7), (2, "q", 8)]
        df = spark.createDataFrame(rows, "subj long, pred string, obj long")
        got = _run(
            bgp_match(df, [("?a", "p", "?b")], optional=[("?b", "q", "?c")])
        )
        assert got == [(1, 2, 7), (1, 2, 8)]

    def test_minus_removes_shared_binding_matches(self, triples):
        # buyers minus those who know entity 3
        got = _run(
            bgp_match(
                triples,
                [("?x", "bought", "?y")],
                minus=[("?x", "knows", "?k")],
                select=["x"],
                distinct=True,
            )
        )
        ts = set(TRIPLES)
        buyers = {x for (x, p, y) in ts if p == "bought"}
        knowers = {x for (x, p, k) in ts if p == "knows"}
        assert got == sorted((x,) for x in buyers - knowers)

    def test_minus_disjoint_domain_is_noop(self, triples):
        base = _run(bgp_match(triples, [("?x", "bought", "?y")]))
        got = _run(
            bgp_match(
                triples,
                [("?x", "bought", "?y")],
                minus=[("?q", "madeby", "?m")],  # no shared variable
            )
        )
        assert got == base

    def test_optional_disconnected_raises(self, triples):
        with pytest.raises(ValueError, match="OPTIONAL"):
            bgp_match(
                triples, [("?x", "bought", "?y")],
                optional=[("?q", "madeby", "?m")],
            )


class TestValues:
    def test_values_restricts_bindings(self, triples):
        got = bgp_match(
            triples,
            [("?x", "knows", "?y")],
            select=["x", "y"],
            values=(["?x"], [(1,), (3,)]),
        )
        rows = sorted((r["x"], r["y"]) for r in got.collect())
        assert rows == [(1, 2), (1, 3), (3, 1)]

    def test_values_multi_var_rows(self, triples):
        got = bgp_match(
            triples,
            [("?x", "knows", "?y")],
            select=["x", "y"],
            values=(["?x", "?y"], [(1, 2), (2, 3), (9, 9)]),
        )
        assert sorted((r["x"], r["y"]) for r in got.collect()) == [
            (1, 2), (2, 3),
        ]

    def test_values_duplicate_binding_rows_do_not_multiply(self, triples):
        got = bgp_match(
            triples,
            [("?x", "knows", "?y")],
            select=["x", "y"],
            values=(["?x"], [(1,), (1,)]),
        )
        assert sorted((r["x"], r["y"]) for r in got.collect()) == [
            (1, 2), (1, 3),
        ]

    def test_values_unbound_var_raises(self, triples):
        with pytest.raises(ValueError, match="unbound"):
            bgp_match(
                triples,
                [("?x", "knows", "?y")],
                values=(["?z"], [(1,)]),
            )

    def test_values_empty_rows_raises(self, triples):
        with pytest.raises(ValueError, match="empty"):
            bgp_match(
                triples,
                [("?x", "knows", "?y")],
                values=(["?x"], []),
            )

    def test_values_composes_with_filter_and_optional(self, triples):
        got = bgp_match(
            triples,
            [("?x", "bought", "?p")],
            optional=[("?p", "madeby", "?m")],
            filters=[F.col("x") < F.lit(3)],
            values=(["?p"], [(10,), (11,)]),
            select=["x", "p", "m"],
        )
        rows = sorted(
            (r["x"], r["p"], r["m"]) for r in got.collect()
        )
        assert rows == [(1, 10, 100), (2, 10, 100), (2, 11, 100)]


class TestRedundantDistinctElision:
    """input_distinct=True + full-variable select elides the trailing
    distinct as provably redundant (bgp.py docstring proof)."""

    PATS = [("?a", "bought", "?v"), ("?b", "bought", "?v")]

    def test_elided_plan_drops_the_aggregate(self, triples):
        kept = bgp_match(triples, self.PATS, distinct=True)
        elided = bgp_match(
            triples, self.PATS, distinct=True, input_distinct=True
        )
        plan = lambda df: df._jdf.queryExecution().optimizedPlan().toString()
        assert "Aggregate" in plan(kept)
        assert "Aggregate" not in plan(elided)

    def test_elided_equals_distinct_with_all_clauses(self, triples):
        kwargs = dict(
            patterns=self.PATS,
            select=["a", "b", "v"],
            filters=[F.col("a") < F.col("b")],
            optional=[("?v", "madeby", "?m")],
            minus=[("?a", "knows", "?b")],
            values=(["?v"], [(10,), (11,)]),
            distinct=True,
        )
        want = _run(bgp_match(triples, **kwargs))
        got_df = bgp_match(triples, input_distinct=True, **kwargs)
        # optional adds ?m to the bound set, so select=[a,b,v] no longer
        # covers every variable: the elision must NOT fire here
        assert "Aggregate" in (
            got_df._jdf.queryExecution().optimizedPlan().toString()
        )
        assert _run(got_df) == want
        kwargs["select"] = ["a", "b", "v", "m"]
        kept_all = bgp_match(triples, **kwargs)
        got_all = bgp_match(triples, input_distinct=True, **kwargs)
        # select now covers every variable: the elision must fire. The
        # VALUES table and the MINUS scan keep their own distincts, so the
        # elided plan holds exactly one Aggregate fewer.
        n_agg = lambda df: (
            df._jdf.queryExecution().optimizedPlan().toString()
            .count("Aggregate")
        )
        assert n_agg(got_all) == n_agg(kept_all) - 1
        assert _run(got_all) == _run(kept_all)

    def test_projection_still_deduplicates(self, triples):
        # select drops ?v -> projections of a set are a bag, so the
        # declared distinct must still run despite input_distinct=True
        got = _run(
            bgp_match(
                triples,
                [("?x", "bought", "?y")],
                select=["x"],
                distinct=True,
                input_distinct=True,
            )
        )
        assert got == [(1,), (2,), (3,)]

    def test_repeated_select_column_still_deduplicates(self, triples):
        got = bgp_match(
            triples,
            [("?x", "bought", "?y")],
            select=["x", "x"],
            distinct=True,
            input_distinct=True,
        )
        assert sorted(tuple(r) for r in got.collect()) == [
            (1, 1),
            (2, 2),
            (3, 3),
        ]


@pytest.mark.parametrize(
    "query", ["kg_bgp_match", "kg_bgp_optional", "kg_bgp_filter"]
)
def test_entry_claims_are_distinct(spark, sf_dir, monkeypatch, query):
    """input_distinct=True is the caller's promise that the claims relation
    has no duplicate rows; the entry queries that make it keep it."""
    import __spark_entry__ as em
    from chunksilo_spark.operators import bgp

    calls = []

    def recording(triples, *args, **kwargs):
        calls.append((triples, kwargs.get("input_distinct", False)))
        return bgp_match(triples, *args, **kwargs)

    monkeypatch.setattr(bgp, "bgp_match", recording)
    em.queries()[query](spark, sf_dir)
    assert [flag for _, flag in calls] == [True]
    claims = calls[0][0]
    assert claims.count() == claims.distinct().count() > 0
