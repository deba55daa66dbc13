"""Output checks computed apart from the program.

Each ``check_*`` returns a list of human-readable mismatches (empty = the
output is right). Expected results come from the generator's ground truth,
from DuckDB over the same parquet files, from numpy, or from a
single-process union-find; none is a saved copy of an earlier output.
"""

from __future__ import annotations

import itertools
from collections import Counter, defaultdict

import numpy as np

from gen import norm


def _diff(kind: str, got: Counter, want: Counter) -> list[str]:
    if got == want:
        return []
    extra, missing = got - want, want - got
    return [
        f"{kind}: {sum(missing.values())} expected rows missing "
        f"(e.g. {list(missing)[:2]}), {sum(extra.values())} unexpected "
        f"(e.g. {list(extra)[:2]})"
    ]


def entity_of_canon(pool) -> dict[str, int]:
    """canonical surface -> entity: the smallest normalized alias of an
    entity is its base name (every variant extends or equals it)."""
    return {min(norm(a) for a in al): e for e, al in enumerate(pool)}


def check_triples(rows, pages, pool) -> list[str]:
    """rows: (url, subj_canon_id, subj_canon, pred, obj_canon_id, obj_canon)
    against the generated facts, each side mapped alias -> entity."""
    ent = entity_of_canon(pool)
    ids: dict[str, set] = defaultdict(set)
    got = Counter()
    for url, sid, scanon, pred, oid, ocanon in rows:
        ids[scanon].add(sid)
        ids[ocanon].add(oid)
        got[(url, ent.get(scanon, scanon), pred, ent.get(ocanon, ocanon))] += 1
    want = Counter(
        (p["url"], s, pr, o) for p in pages for s, pr, o in p["triples"]
    )
    errs = _diff("triples", got, want)
    split = [c for c, v in ids.items() if len(v) != 1]
    if split:
        errs.append(f"canonical surfaces with several ids: {split[:3]}")
    return errs


def check_edges(rows, pages, pool) -> list[str]:
    """rows: (subj_canon, pred, obj_canon, support, n_urls) — the aggregated
    edge table against support counts of the snapshot's facts."""
    ent = entity_of_canon(pool)
    got = Counter({
        (ent.get(s, s), p, ent.get(o, o)): (int(sup), int(nu))
        for s, p, o, sup, nu in rows
    })
    sup, urls = Counter(), defaultdict(set)
    for pg in pages:
        for t in pg["triples"]:
            sup[t] += 1
            urls[t].add(pg["url"])
    want = Counter({t: (sup[t], len(urls[t])) for t in sup})
    if len(rows) != len(got):
        return [f"edges: {len(rows) - len(got)} duplicate edge rows"]
    bad = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
    return [f"edges: {len(bad)} wrong support counts (e.g. {bad[:2]})"] if bad else []


def check_urls(urls, pages) -> list[str]:
    return _diff("documents", Counter(urls), Counter(p["url"] for p in pages))


# -- canonicalization ------------------------------------------------------

def union_find_components(norms: list[str], threshold: float = 0.6) -> dict[str, str]:
    """norm -> smallest member of its component, single process: the same
    MinHash band keys (the program's signature kernel defines them), every
    bucket pair verified by word-set Jaccard >= threshold, union-find."""
    from chunksilo_spark.functions.minhash import band_keys, minhash_signatures_batch

    sigs = minhash_signatures_batch([n.split() for n in norms])
    buckets = defaultdict(list)
    for i, sig in enumerate(sigs):
        for bk in band_keys(sig):
            buckets[bk].append(i)
    parent = list(range(len(norms)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    wsets = [frozenset(n.split()) for n in norms]
    seen = set()
    for members in buckets.values():
        for i, j in itertools.combinations(members, 2):
            if (i, j) in seen or (j, i) in seen:
                continue
            seen.add((i, j))
            a, b = wsets[i], wsets[j]
            if len(a & b) >= threshold * len(a | b):
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    comp = defaultdict(list)
    for i in range(len(norms)):
        comp[find(i)].append(norms[i])
    return {m: min(ms) for ms in comp.values() for m in ms}


def check_canon(rows, expected: dict[str, str]) -> list[str]:
    """rows: (norm, canon_id, canon_surface) against the union-find result:
    same norms, canon_surface = smallest member, one id per component."""
    errs = []
    got = {n: s for n, _i, s in rows}
    if len(got) != len(rows):
        errs.append(f"canon: {len(rows) - len(got)} duplicate norms")
    if got.keys() != expected.keys():
        errs.append(f"canon: {len(got.keys() ^ expected.keys())} norms differ")
    wrong = [n for n in expected if got.get(n) != expected[n]]
    if wrong:
        errs.append(f"canon: {len(wrong)} norms in the wrong component (e.g. {wrong[:2]})")
    ids = defaultdict(set)
    for _n, i, s in rows:
        ids[s].add(i)
    if any(len(v) != 1 for v in ids.values()) or len({min(v) for v in ids.values()}) != len(ids):
        errs.append("canon: canon_id does not match canon_surface one to one")
    return errs


# -- queries against DuckDB / numpy ------------------------------------------

def _rows(con, sql, *params):
    return [tuple(r) for r in con.execute(sql, list(params)).fetchall()]


def expect_lookup(con, surface):
    return _rows(con, "select canon_id, canon_surface, n_mentions, n_urls from nodes "
                 "where lower(canon_surface) = lower(trim(?)) "
                 "order by n_mentions desc, canon_id", surface)


def expect_neighborhood(con, ids):
    if not ids:
        return []
    q = ",".join(str(int(i)) for i in ids)
    return _rows(con, f"select subj_canon_id, pred, obj_canon_id, support, 'subj' from edges "
                 f"where subj_canon_id in ({q}) union all "
                 f"select subj_canon_id, pred, obj_canon_id, support, 'obj' from edges "
                 f"where obj_canon_id in ({q})")


def expect_bgp(con, p1, p2):
    return _rows(con, "select distinct e1.subj_canon_id, e1.obj_canon_id, e2.obj_canon_id "
                 "from edges e1 join edges e2 on e1.obj_canon_id = e2.subj_canon_id "
                 "where e1.pred = ? and e2.pred = ?", p1, p2)


def expect_path(con, pred, depth):
    return _rows(con, f"""
        with recursive e as (
          select distinct subj_canon_id s, obj_canon_id d from edges
          where pred = ? and subj_canon_id <> obj_canon_id),
        r(src, dst, dist) as (
          select s, d, 1 from e
          union select r.src, e.d, r.dist + 1 from r join e on r.dst = e.s
          where r.dist < {int(depth)})
        select src, dst, min(dist) from r group by src, dst""", pred)


def expect_ppr(con, seed_ids, k, iters=3, damping=0.85):
    """Personalized PageRank per the program's pinned semantics, in numpy:
    support-weighted walk over the undirected edge graph, teleport to the
    seeds present in the graph, dangling mass back to the seeds."""
    und = _rows(con, "select subj_canon_id, obj_canon_id, support from edges where support > 0 "
                "union all select obj_canon_id, subj_canon_id, support from edges where support > 0")
    nodes = sorted({a for a, _b, _w in und} | {b for _a, b, _w in und})
    idx = {n: i for i, n in enumerate(nodes)}
    seeds = [idx[s] for s in seed_ids if s in idx]
    if not seeds:
        return []
    src = np.array([idx[a] for a, _b, _w in und])
    dst = np.array([idx[b] for _a, b, _w in und])
    w = np.array([float(x) for _a, _b, x in und])
    out_w = np.bincount(src, weights=w, minlength=len(nodes))
    reset = np.zeros(len(nodes))
    for s in seed_ids:
        if s in idx:
            reset[idx[s]] += 1.0
    reset /= reset.sum()
    dangling = out_w == 0
    rank = reset.copy()
    for _ in range(iters):
        c = np.bincount(dst, weights=rank[src] * w / out_w[src], minlength=len(nodes))
        rank = (1 - damping) * reset + damping * c + damping * rank[dangling].sum() * reset
    order = sorted(range(len(nodes)), key=lambda i: (-round(rank[i], 6), nodes[i]))
    return [(nodes[i], round(float(rank[i]), 6)) for i in order[:k]]


def same_ranking(got, want, tol=2e-6) -> bool:
    """Top-k (node, rank) lists equal up to float noise in the 6th digit;
    nodes may swap only where their ranks tie within ``tol``."""
    if len(got) != len(want):
        return False
    if any(abs(g[1] - w[1]) > tol for g, w in zip(got, want)):
        return False
    ranks = {n: r for n, r in want}
    return all(n in ranks or abs(r - want[-1][1]) <= tol for n, r in got)
