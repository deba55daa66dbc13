"""Each output check accepts the right answer and rejects a corrupted one.

    python3 -m pytest kgbench/test_checks.py -q

No Spark: the "program output" here is the right answer computed from the
generator's truth, then corrupted by one row.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402

SEED = 7
POOL = gen.entity_pool(SEED)
PAGES = gen.snapshot(SEED, list(range(300)), POOL)
CANON = {e: gen.norm(al[0]) for e, al in enumerate(POOL)}


def _triple_rows():
    return [(p["url"], 1000 + s, CANON[s], pr, 1000 + o, CANON[o])
            for p in PAGES for s, pr, o in p["triples"]]


def _edge_rows():
    sup, urls = {}, {}
    for p in PAGES:
        for t in p["triples"]:
            sup[t] = sup.get(t, 0) + 1
            urls.setdefault(t, set()).add(p["url"])
    return [(CANON[s], pr, CANON[o], n, len(urls[(s, pr, o)]))
            for (s, pr, o), n in sup.items()]


def test_generator_is_seeded():
    again = gen.snapshot(SEED, list(range(300)), gen.entity_pool(SEED))
    assert [p["html"] for p in again] == [p["html"] for p in PAGES]
    other = gen.snapshot(SEED + 1, list(range(300)), gen.entity_pool(SEED + 1))
    assert [p["html"] for p in other] != [p["html"] for p in PAGES]
    hub = sum(any(t[0] == 0 for t in p["triples"]) for p in PAGES if p["lang"] == "en")
    assert 0.2 < hub / sum(p["lang"] == "en" for p in PAGES) < 0.45


def test_triples_check():
    rows = _triple_rows()
    assert check.check_triples(rows, PAGES, POOL) == []
    assert check.check_triples(rows[1:], PAGES, POOL)             # one dropped
    u, si, s, pr, oi, o = rows[0]
    assert check.check_triples([(u, si, s, pr, oi, CANON[(
        next(e for e in CANON if CANON[e] == o) + 1) % len(POOL)])] + rows[1:], PAGES, POOL)
    assert check.check_triples([(u, si + 1, s, pr, oi, o)] + rows[1:], PAGES, POOL)  # split id


def test_edges_check():
    rows = _edge_rows()
    assert check.check_edges(rows, PAGES, POOL) == []
    s, p, o, n, nu = rows[0]
    assert check.check_edges([(s, p, o, n + 1, nu)] + rows[1:], PAGES, POOL)
    assert check.check_edges(rows[1:], PAGES, POOL)


def test_urls_check():
    urls = [p["url"] for p in PAGES]
    assert check.check_urls(urls, PAGES) == []
    assert check.check_urls(urls[1:], PAGES)


def test_canon_check():
    norms, _truth = gen.canon_surfaces(SEED, 3000)
    exp = check.union_find_components(norms)
    ids = {s: i for i, s in enumerate(sorted(set(exp.values())))}
    rows = [(n, ids[exp[n]], exp[n]) for n in norms]
    assert check.check_canon(rows, exp) == []
    # split one component: a non-representative member gets its own id
    big = max(set(exp.values()), key=lambda s: sum(v == s for v in exp.values()))
    member = next(n for n in norms if exp[n] == big and n != big)
    split = [(n, 10**6, n) if n == member else (n, i, s) for n, i, s in rows]
    assert check.check_canon(split, exp)
    # merge two components under one representative
    other = next(s for s in ids if s != big)
    merged = [(n, ids[big], big) if exp[n] == other else (n, i, s) for n, i, s in rows]
    assert check.check_canon(merged, exp)
    assert check.check_canon(rows[1:], exp)


def _edges_db():
    rows = [(1, "acquired", 2, 3), (2, "supplies", 3, 1), (3, "acquired", 1, 2),
            (2, "acquired", 4, 1), (4, "supplies", 1, 5), (5, "employs", 6, 1)]
    con = duckdb.connect()
    con.register("edges", pa.table({
        "subj_canon_id": [r[0] for r in rows], "pred": [r[1] for r in rows],
        "obj_canon_id": [r[2] for r in rows], "support": [r[3] for r in rows]}))
    return con


def test_query_expectations():
    con = _edges_db()
    assert sorted(check.expect_bgp(con, "acquired", "supplies")) == [(1, 2, 3), (2, 4, 1)]
    path = dict(((s, d), n) for s, d, n in check.expect_path(con, "acquired", 4))
    assert path[(1, 2)] == 1 and path[(3, 2)] == 2 and path[(3, 4)] == 3
    want = check.expect_ppr(con, [1], 3)
    assert abs(sum(r for _n, r in check.expect_ppr(con, [1], 10)) - 1.0) < 1e-5
    assert check.same_ranking(want, want)
    assert not check.same_ranking([(want[0][0], want[0][1] + 1e-3)] + want[1:], want)
    assert not check.same_ranking(want[:-1], want)
