"""Seeded input generator for the benchmark, with ground truth by construction.

Kept apart from the program's own fixture generator (``sources.corpus``) so a
change there cannot change what the benchmark feeds the program. Everything
is a pure function of ``seed``: the same seed gives byte-identical inputs.

Inputs (FIXTURES.md shapes):
  * pages: headings, paragraphs of fact and noise sentences, lists, syntax and
    benign spans, script/style, ``<pre>`` pseudo-headings, malformed HTML,
    invalid UTF-8, non-English rows, empty outlink anchors (crawl links plus
    decoys) and text-bearing entity-home anchors. A hub entity is the
    subject of a fact in ~30 % of the English documents.
  * the alias dictionary with BoW embeddings (FIXTURES.md section 2).
  * a crawl delta (new, modified and deleted pages) and query parameters.
  * an alias-surface set for distributed canonicalization: star clusters,
    shared suffix tokens, one hub cluster and chains.
"""

from __future__ import annotations

import random
import re

DIM = 384
N_ENTITIES = 500
HUB_DOC_FRACTION = 0.30
NON_EN_FRACTION = 0.10
MALFORMED_FRACTION = 0.05
BAD_UTF8_FRACTION = 0.01
FACT_FRACTION = 0.55
ANCHOR_WRAP_FRACTION = 0.5

# the pinned 12-relation pool of the triple rules (FIXTURES.md section 3)
RELATIONS = {
    "acquired": "acquired",
    "founded_by": "was founded by",
    "headquartered_in": "is headquartered in",
    "subsidiary_of": "is a subsidiary of",
    "partnered_with": "partnered with",
    "invested_in": "invested in",
    "competes_with": "competes with",
    "employs": "employs",
    "located_in": "is located in",
    "manufactures": "manufactures",
    "supplies": "supplies",
    "collaborates_with": "collaborates with",
}
PREDS = sorted(RELATIONS)

_FIRST = (
    "Aldous Brisk Corvid Dunmore Eastwick Fenwick Glimmer Hollis Ingot "
    "Jasper Kinder Larkspur Marlow Nettle Orchard Pellucid Quillon Rowan "
    "Saffron Thistle Upland Vesper Wrenfield Yarrow Zenova Arbor Bracken "
    "Calder Driftwood Elmstead Foxglove Gossamer Heron Inkwell Juniperus "
    "Kelpie Lindell Moorland Northgate Ostrava"
).split()
_SECOND = (
    "Metals Freight Pharma Robotics Textiles Optics Foundry Mills Bank "
    "Brewing Ceramics Dynamics Genomics Hydro Instruments Kinetics Lighting "
    "Machines Nautics Orbital Paper Quarries Radio Seeds Turbines Utilities "
    "Vineyards Wireless Acoustics Batteries Cabling Drones Engines Fabrics "
    "Glassworks Harvest Imaging Journals Kitchens Looms"
).split()
_NOISE = (
    "the annual review notes gradual progress across several regional "
    "programmes while staff continue to refine methods and collect input "
    "from pilot sites compared with earlier figures within expected ranges"
).split()
_NOISE_BY_LANG = {
    "de": "die jahresbilanz zeigt ruhige fortschritte und das team prüft weitere schritte".split(),
    "fr": "le bilan annuel montre des progrès réguliers et l'équipe prépare la suite".split(),
    "sv": "årsrapporten visar jämna framsteg och gruppen förbereder nästa steg".split(),
}
_SUFFIXES = ("inc", "ltd", "corp", "gmbh", "llc", "co", "group", "holdings")

_HYPHEN_RE = re.compile(r"[-_]+")
_NONALNUM_RE = re.compile(r"[^a-z0-9 ]+")
_WS_RE = re.compile(r"\s+")


def norm(surface: str) -> str:
    """Surface normalization (lowercase, hyphens to spaces, drop other
    punctuation, collapse whitespace) — the documented canon key."""
    s = _NONALNUM_RE.sub("", _HYPHEN_RE.sub(" ", surface.lower()))
    return _WS_RE.sub(" ", s).strip()


def bow_embed(text: str) -> list[float]:
    """FIXTURES.md section 2: each lowercased word adds 1.0 at index
    ``sum(ord(c)) % 384``."""
    vec = [0.0] * DIM
    for word in text.lower().split():
        vec[sum(ord(c) for c in word) % DIM] += 1.0
    return vec


def _rng(seed: int, *key) -> random.Random:
    return random.Random(":".join(str(k) for k in (seed,) + key))


def entity_pool(seed: int) -> list[list[str]]:
    """entity id -> aliases: a unique two-word base name plus 0-4 of its
    upper-case, hyphenated, "Inc" and "Ltd" variants. Two names share at most
    one word, so every entity's normalized aliases form exactly one
    canonical cluster (word Jaccard >= 0.6 within, <= 0.5 across)."""
    rng = _rng(seed, "pool")
    combos = [(f, s) for f in _FIRST for s in _SECOND]
    rng.shuffle(combos)
    pool = []
    for f, s in combos[:N_ENTITIES]:
        base = f"{f} {s}"
        extra = [base.upper(), f"{f}-{s}", f"{base} Inc", f"{base} Ltd"]
        pool.append([base] + extra[: rng.randint(0, 4)])
    return pool


def alias_rows(pool: list[list[str]]) -> list[tuple[int, str, list[float]]]:
    return [(e, a, bow_embed(a)) for e, al in enumerate(pool) for a in al]


def page_url(seed: int, pid: int) -> str:
    rng = _rng(seed, "url", pid)
    site = rng.randrange(200)
    slug = "-".join(rng.choice(_NOISE) for _ in range(3))
    return f"https://site{site}.example/{slug}-{pid}"


def entity_url(eid: int) -> str:
    return f"https://kb.example/entity/{eid}"


def _noise(rng: random.Random, words: list[str]) -> str:
    return " ".join(rng.choice(words) for _ in range(rng.randint(6, 14))) + "."


def make_page(seed: int, pid: int, version: int, pool, universe: int) -> dict:
    """One page row plus its truth, ``triples`` [(subj_eid, pred, obj_eid)].
    Outlinks point into a fixed universe of page ids, so a page's bytes do
    not depend on which other pages a snapshot holds. ``version`` > 0
    re-draws the content of an existing url (a modified page)."""
    rng = _rng(seed, "page", pid, version)
    url = page_url(seed, pid)
    lang = "en"
    if rng.random() < NON_EN_FRACTION:
        lang = rng.choice(sorted(_NOISE_BY_LANG))
    words = _NOISE_BY_LANG.get(lang, _NOISE)
    hub = lang == "en" and rng.random() < HUB_DOC_FRACTION
    title = " ".join(w.capitalize() for w in url.rsplit("/", 1)[1].split("-")[:2])
    parts = ["<html><body>", f"<h1>{title}</h1>"]
    truth: list[tuple[int, str, int]] = []
    for s in range(rng.randint(1, 3)):
        lvl = rng.choice((2, 2, 3))
        parts.append(f"<h{lvl}>Section {s + 1} {rng.choice(_NOISE)}</h{lvl}>")
        sents = []
        for _ in range(rng.randint(2, 5)):
            if lang == "en" and (hub or rng.random() < FACT_FRACTION):
                se = 0 if hub else rng.randrange(len(pool))
                hub = False
                oe = rng.randrange(len(pool))
                while oe == se:
                    oe = rng.randrange(len(pool))
                pred = PREDS[rng.randrange(len(PREDS))]
                sa, oa = rng.choice(pool[se]), rng.choice(pool[oe])
                subj = sa
                if rng.random() < ANCHOR_WRAP_FRACTION:
                    subj = f'<a href="{entity_url(se)}">{sa}</a>'
                sents.append(f"{subj} {RELATIONS[pred]} {oa}.")
                truth.append((se, pred, oe))
            else:
                sents.append(_noise(rng, words))
        if len(sents) >= 2 and rng.random() < 0.5:
            sents[0] = f'<span style="color:#c00">{sents[0]}</span>'
            sents[1] = f"<span>{sents[1]}</span>"
        parts.append("<p>" + " ".join(sents) + "</p>")
        if rng.random() < 0.4:
            items = "".join(
                f"<li>{_noise(rng, words)}</li>" for _ in range(rng.randint(2, 4))
            )
            parts.append(f"<ul>{items}</ul>")
        if rng.random() < 0.25:
            parts.append("<pre># not-a-heading inside code\nvalue = compute()\n</pre>")
        if rng.random() < 0.2:
            parts.append("<script>var x = 1; // dropped</script>")
        if rng.random() < 0.15:
            parts.append("<style>.c { color: red }</style>")
    links = set()
    for _ in range(rng.randint(0, 4)):
        tgt = 0 if rng.random() < 0.25 else rng.randrange(universe)
        if tgt != pid:
            links.add(page_url(seed, tgt))
    hrefs = sorted(links)
    if rng.random() < 0.3:
        hrefs.append("https://www.w3.org/TR/html52/")
    if rng.random() < 0.2:
        hrefs.append("//cdn.example/static/site.css")
    if rng.random() < 0.15:
        hrefs.append("mailto:webmaster@example.org")
    if rng.random() < 0.2:
        hrefs.append("../archive/old-post.html")
    parts.extend(f'<a href="{h}"></a>' for h in hrefs)
    if rng.random() >= MALFORMED_FRACTION:
        parts.append("</body></html>")
    html = "".join(parts).encode("utf-8")
    if rng.random() < BAD_UTF8_FRACTION:
        html = b"\xff\xfe\x80" + html
        truth = []
    ts = 1672531200 + rng.randrange(3 * 365 * 86400)
    return {"url": url, "html": html, "lang": lang, "ts": ts, "triples": truth}


def snapshot(seed: int, ids: list[int], pool, versions: dict | None = None,
             universe: int | None = None):
    versions = versions or {}
    universe = universe or len(ids)
    return [make_page(seed, i, versions.get(i, 0), pool, universe) for i in ids]


DELTA_NEW, DELTA_MODIFIED, DELTA_DELETED = 0.10, 0.10, 0.05


def delta(seed: int, n_pages: int):
    """The second crawl snapshot: (page ids, versions) — deletes and
    modifies a seeded subset of the first snapshot's ids and appends new
    ones. Page 0 (the in-link hub) is kept unmodified."""
    rng = _rng(seed, "delta")
    ids = list(range(1, n_pages))
    rng.shuffle(ids)
    n_del, n_mod = int(n_pages * DELTA_DELETED), int(n_pages * DELTA_MODIFIED)
    deleted = set(ids[:n_del])
    modified = set(ids[n_del:n_del + n_mod])
    new = list(range(n_pages, n_pages + int(n_pages * DELTA_NEW)))
    keep = [i for i in range(n_pages) if i not in deleted]
    return keep + new, {i: 1 for i in modified}


def queries(seed: int, pool, n_lookup: int, n_bgp: int, n_path: int,
            n_related: int, n_search: int) -> list[tuple[str, dict]]:
    """A seeded query mix; the order interleaves types so no type runs as
    one block."""
    rng = _rng(seed, "queries")

    def ent():
        e = 0 if rng.random() < 0.2 else rng.randrange(len(pool))
        return pool[e][0]

    qs = [("lookup_neighborhood", {"surface": ent()}) for _ in range(n_lookup)]
    qs += [("answer_bgp", {"p1": rng.choice(PREDS), "p2": rng.choice(PREDS)})
           for _ in range(n_bgp)]
    qs += [("property_path", {"pred": rng.choice(PREDS)}) for _ in range(n_path)]
    qs += [("related_entities", {"surface": ent()}) for _ in range(n_related)]
    qs += [("run_search", {"query": f"{rng.choice(PREDS).replace('_', ' ')} {ent()}"})
           for _ in range(n_search)]
    rng.shuffle(qs)
    return qs


def _words(n: int, rng: random.Random) -> list[str]:
    letters = "bcdfghjklmnprstvz"
    vowels = "aeiou"
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters) + rng.choice(vowels) for _ in range(3)))
    return sorted(out)


def canon_surfaces(seed: int, n_target: int) -> tuple[list[str], list[int]]:
    """Normalized alias surfaces for distributed canonicalization plus the
    cluster each was generated in (truth by construction).

      * star clusters: a three-word base and suffix variants ("inc", "ltd",
        ...) — the suffix tokens are shared across clusters, so band
        buckets mix clusters and the candidate join does wasted work;
      * one hub cluster: ~1.5 % of all surfaces hang off one base name;
      * chains: sliding four-word windows, consecutive windows at Jaccard
        0.6, up to 6 surfaces (diameter 5, inside the 40-hop CC limit).
    """
    rng = _rng(seed, "canon")
    words = _words(6000, rng)
    out: list[str] = []
    label: list[int] = []
    seen = set()

    def add(s: str, c: int) -> None:
        if s not in seen:
            seen.add(s)
            out.append(s)
            label.append(c)

    cid = 0
    hub_base = " ".join(rng.sample(words, 3))
    add(hub_base, cid)
    for _ in range(max(1, n_target * 15 // 1000)):
        add(f"{hub_base} {rng.choice(words)} {rng.choice(words)}", cid)
    while len(out) < n_target:
        cid += 1
        if rng.random() < 0.1:
            seq = [rng.choice(words) for _ in range(rng.randint(6, 9))]
            for i in range(len(seq) - 3):
                add(" ".join(seq[i:i + 4]), cid)
        else:
            base = " ".join(rng.sample(words, 3))
            add(base, cid)
            for suf in rng.sample(_SUFFIXES, rng.randint(0, 3)):
                add(f"{base} {suf}", cid)
    return out, label
