"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1-3).

Synthesizes the BASELINE input table
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``
plus the broadcast entity/alias dictionary. Everything is seeded per page id
(seed 42 domain-separated by row), so generation is reproducible regardless
of partitioning, and the page content for url X is identical whether
generated on the driver (oracle path) or on executors (mapInPandas path).

The HTML exercises every structure the stage-1 parser must handle: h1-h6,
paragraphs, <ul><li> lists, syntax-highlight + benign spans, script/style,
fenced-code-like <pre> blocks with '# not-a-heading' lines, a slice of
malformed HTML (unclosed tags), and ~1% invalid-UTF-8 rows (quarantine path).
Fact sentences are drawn from the entity/relation pools, giving exact ground
truth for the triple pipeline. One hub entity appears in ~30% of docs (skew
fixture for salted connected components / linker).
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

SEED = 42
# bump when generated page BYTES change (bench keys its staged-parquet
# cache on this, so a stale /tmp staging never serves an old corpus)
CORPUS_VERSION = 3
ANCHOR_WRAP_FRACTION = 0.5  # fact-sentence subjects wrapped in entity-home <a>
N_ENTITIES = 500
HUB_ENTITY_ID = 0
HUB_DOC_FRACTION = 0.30
MALFORMED_FRACTION = 0.05
BAD_UTF8_FRACTION = 0.01
NON_EN_FRACTION = 0.10

_FIRST = (
    "Acme Borealis Cascade Dynamo Everest Fulcrum Granite Horizon Ionix "
    "Juniper Keystone Lattice Meridian Nimbus Obsidian Pinnacle Quantum "
    "Redwood Summit Tidal Umbra Vertex Willow Xenith Yonder Zephyr Apex "
    "Bluffton Crescent Delta Ember Frontier Gale Harbor Iris Jade Kestrel "
    "Lumen Mosaic Northstar"
).split()
_SECOND = (
    "Systems Analytics Dynamics Industries Robotics Networks Labs Logistics "
    "Energy Capital Holdings Software Biotech Materials Aerospace Media "
    "Foods Mining Shipping Telecom Micro Data Cloud Security Optics "
    "Pharma Motors Rail Textiles Chemicals Forge Works Partners Ventures "
    "Institute Group Collective Studios Farms Grid"
).split()

_NOISE_WORDS = (
    "the quarterly report shows steady progress across several internal "
    "initiatives while teams continue to refine processes and gather "
    "feedback from ongoing field trials measured against prior results "
    "without significant deviation from planned budgets and timelines"
).split()

_NOISE_BY_LANG = {
    "de": "der bericht zeigt eine stetige entwicklung und die teams sind mit dem plan zufrieden".split(),
    "fr": "le rapport montre une progression stable et les équipes sont satisfaites du plan en cours".split(),
    "sv": "rapporten visar en stadig utveckling och teamen är nöjda med den nuvarande planen".split(),
}

_EPOCH_LO = int(dt.datetime(2023, 1, 1, tzinfo=dt.timezone.utc).timestamp())
_EPOCH_HI = int(dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp())


@dataclass(frozen=True)
class Alias:
    entity_id: int
    alias: str


def build_entity_pool() -> list[list[str]]:
    """entity_id -> [aliases]. Deterministic (seed 42). Base names are unique
    two-word Title-Case combos; aliases are case/punct/suffix variants
    (FIXTURES.md §2: 1-5 aliases per entity). Different entities may share
    one base word (controlled near-miss pairs for LSH blocking tests)."""
    rng = random.Random(SEED)
    combos = [(f, s) for f in _FIRST for s in _SECOND]
    rng.shuffle(combos)
    pool: list[list[str]] = []
    for f, s in combos[:N_ENTITIES]:
        base = f"{f} {s}"
        variants = [base]
        extra = [base.upper(), f"{f}-{s}", f"{base} Inc", f"{base} Ltd"]
        n_extra = rng.randint(0, 4)
        variants.extend(extra[:n_extra])
        pool.append(variants)
    return pool


def flatten_aliases(pool: list[list[str]]) -> list[Alias]:
    return [Alias(eid, a) for eid, aliases in enumerate(pool) for a in aliases]


# ---------------------------------------------------------------------------
# per-page generation (pure function of (page_id, n_pages, pool))
# ---------------------------------------------------------------------------

from ..functions.triples import RELATION_PHRASES  # noqa: E402

_REL_LABELS = sorted(RELATION_PHRASES)


def _noise_sentence(rng: random.Random, words: list[str]) -> str:
    n = rng.randint(6, 14)
    return " ".join(rng.choice(words) for _ in range(n)) + "."


def _fact_sentence(
    rng: random.Random, pool: list[list[str]]
) -> tuple[str, tuple[int, str, int], str]:
    """A sentence carrying exactly one triple; returns
    (sentence, (se, pred, oe), subject_surface)."""
    if rng.random() < HUB_DOC_FRACTION:
        subj_e = HUB_ENTITY_ID
    else:
        subj_e = rng.randrange(len(pool))
    obj_e = rng.randrange(len(pool))
    while obj_e == subj_e:
        obj_e = rng.randrange(len(pool))
    pred = _REL_LABELS[rng.randrange(len(_REL_LABELS))]
    subj_a = rng.choice(pool[subj_e])
    obj_a = rng.choice(pool[obj_e])
    return (
        f"{subj_a} {RELATION_PHRASES[pred]} {obj_a}.",
        (subj_e, pred, obj_e),
        subj_a,
    )


def _page_rng(page_id: int) -> random.Random:
    # domain-separated from the pool seed; stable per page id
    return random.Random((SEED << 32) ^ (page_id * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF))


def _link_rng(page_id: int) -> random.Random:
    # SEPARATE stream for outlink generation so adding/changing the link
    # block never perturbs the draws behind the page's text content
    return random.Random((SEED << 33) ^ (page_id * 0xC2B2AE3D27D4EB4F & 0xFFFFFFFFFFFFFFFF))


def _anchor_rng(page_id: int) -> random.Random:
    # third separated stream: content-anchor wrap decisions (entity-home
    # <a> around fact-sentence subjects) never perturb text or link draws
    return random.Random((SEED << 34) ^ (page_id * 0xA24BAED4963EE407 & 0xFFFFFFFFFFFFFFFF))


def entity_page_url(entity_id: int) -> str:
    """KB-style home url of an entity — the dst the corpus's content
    anchors point at. Outside the crawl's page universe by design (like
    Wikipedia links from a web crawl): crawl_edges' semi-join drops these,
    while anchor_edges/alias_candidates harvest them."""
    return f"https://kb.example/entity/{entity_id}"


def page_url(page_id: int) -> str:
    """The url of page ``page_id`` WITHOUT generating the page — replicates
    exactly the first draws of generate_page (site, slug) so link targets
    can be derived cheaply. Keep in lockstep with generate_page."""
    rng = _page_rng(page_id)
    site = rng.randrange(200)
    slug = "-".join(rng.choice(_NOISE_WORDS) for _ in range(3))
    return f"https://site{site}.example/{slug}-{page_id}"


# link targets are drawn from a FIXED universe, independent of corpus size,
# so page content stays a pure function of page_id (the property the
# incremental tests pin: page 7's bytes are identical whether the crawl has
# 40 or 80 pages). Crawls larger than the universe link into the "old core"
# (realistic in-degree concentration); smaller crawls have dead links that
# crawl_edges' semi-join drops (also realistic).
LINK_UNIVERSE = 256


def page_outlink_hrefs(page_id: int) -> list[str]:
    """The raw href values embedded in page ``page_id``: 0-4 links to other
    pages of the link universe (25% chance each link targets hub page 0 —
    in-degree skew for PageRank), plus decoys exercising every resolution
    branch (external absolute, scheme-relative CDN, mailto, dead relative)."""
    rng = _link_rng(page_id)
    hrefs: list[str] = []
    for _ in range(rng.randint(0, 4)):
        if rng.random() < 0.25:
            target = 0 if page_id != 0 else 1
        else:
            target = rng.randrange(LINK_UNIVERSE)
        hrefs.append(page_url(target))
    if rng.random() < 0.3:
        hrefs.append("https://www.w3.org/TR/html52/")
    if rng.random() < 0.2:
        hrefs.append("//cdn.example/static/site.css")
    if rng.random() < 0.15:
        hrefs.append("mailto:webmaster@example.org")
    if rng.random() < 0.2:
        hrefs.append("../archive/old-post.html")
    return hrefs


def generate_page(
    page_id: int, pool: list[list[str]], links: bool = True
) -> dict:
    """One pages-row: {url, warc_ts, html(bytes), lang} + ground-truth triples.

    The returned dict also carries 'gt_triples': [(subj_eid, pred, obj_eid)]
    — used only by tests/oracles, never by the pipeline. The page body
    embeds the outlink anchors from ``page_outlink_hrefs`` as EMPTY
    ``<a href="..."></a>`` elements, and ~half the fact-sentence subjects
    are wrapped in-place in TEXT-BEARING entity-home anchors
    (``entity_page_url``): the extractor strips tags and keeps inline
    text, so extracted text is byte-identical with links=True/False
    either way (link graph and text pipeline stay independent — pinned
    by test_graph), while anchor_edges/alias_candidates harvest real
    (entity url, alias surface) pairs."""
    rng = _page_rng(page_id)
    arng = _anchor_rng(page_id)
    site = rng.randrange(200)
    slug = "-".join(rng.choice(_NOISE_WORDS) for _ in range(3))
    url = f"https://site{site}.example/{slug}-{page_id}"
    ts = dt.datetime.fromtimestamp(
        rng.randrange(_EPOCH_LO, _EPOCH_HI), tz=dt.timezone.utc
    ).replace(tzinfo=None)

    r = rng.random()
    if r < NON_EN_FRACTION:
        lang = rng.choice(sorted(_NOISE_BY_LANG))
    else:
        lang = "en"

    parts: list[str] = ["<html><body>"]
    title = " ".join(w.capitalize() for w in slug.split("-")[:2])
    parts.append(f"<h1>{title}</h1>")
    gt: list[tuple[int, str, int]] = []
    noise_words = _NOISE_BY_LANG.get(lang, _NOISE_WORDS)

    n_sections = rng.randint(1, 3)
    for s in range(n_sections):
        level = rng.choice([2, 2, 3])
        parts.append(f"<h{level}>Section {s + 1} {rng.choice(_NOISE_WORDS)}</h{level}>")
        sentences = []
        for _ in range(rng.randint(2, 5)):
            if lang == "en" and rng.random() < 0.55:
                sent, triple, subj_a = _fact_sentence(rng, pool)
                gt.append(triple)
                # wrap the subject surface in an entity-home anchor
                # (Wikipedia-style content link): the tag strips out of
                # extracted text byte-identically, while anchor_edges /
                # alias_candidates harvest (kb url, surface) pairs. arng
                # is a separate stream — text and link draws unperturbed.
                if links and arng.random() < ANCHOR_WRAP_FRACTION:
                    href = entity_page_url(triple[0])
                    sent = (
                        f'<a href="{href}">{subj_a}</a>'
                        + sent[len(subj_a):]
                    )
            else:
                sent = _noise_sentence(rng, noise_words)
            sentences.append(sent)
        # wrap one sentence in a syntax-highlight span, one in a benign span
        if len(sentences) >= 2 and rng.random() < 0.5:
            sentences[0] = f'<span style="color:#c00">{sentences[0]}</span>'
            sentences[1] = f"<span>{sentences[1]}</span>"
        parts.append("<p>" + " ".join(sentences) + "</p>")
        if rng.random() < 0.4:
            items = "".join(
                f"<li>{_noise_sentence(rng, noise_words)}</li>"
                for _ in range(rng.randint(2, 4))
            )
            parts.append(f"<ul>{items}</ul>")
        if rng.random() < 0.25:
            parts.append(
                "<pre># not-a-heading inside code\nvalue = compute()\n</pre>"
            )
        if rng.random() < 0.2:
            parts.append("<script>var x = 1; // dropped</script>")
        if rng.random() < 0.15:
            parts.append("<style>.c { color: red }</style>")

    if links:
        parts.extend(
            f'<a href="{h}"></a>' for h in page_outlink_hrefs(page_id)
        )

    malformed = rng.random() < MALFORMED_FRACTION
    if not malformed:
        parts.append("</body></html>")
    # else: unclosed tags — parser must tolerate

    html_bytes = "".join(parts).encode("utf-8")
    if rng.random() < BAD_UTF8_FRACTION:
        html_bytes = b"\xff\xfe\x80" + html_bytes  # undecodable -> quarantine
        gt = []

    return {
        "page_id": page_id,
        "url": url,
        "warc_ts": ts,
        "html": html_bytes,
        "lang": lang,
        "gt_triples": gt,
    }


# ---------------------------------------------------------------------------
# Spark-side generation
# ---------------------------------------------------------------------------

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def pages_df(spark, n_pages: int, partitions: int | None = None):
    """Distributed deterministic pages table. ``text`` starts null (stage 1
    fills it). Generation is mapInPandas over spark.range — no driver data
    except the (small) entity pool captured in the closure."""
    import pandas as pd

    pool = build_entity_pool()

    def gen(batches):
        for pdf in batches:
            rows = [generate_page(int(i), pool) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "url": [r["url"] for r in rows],
                    "warc_ts": [r["warc_ts"] for r in rows],
                    "html": [r["html"] for r in rows],
                    "text": pd.array([None] * len(rows), dtype=object),
                    "lang": [r["lang"] for r in rows],
                }
            )

    parts = partitions or max(2, min(32, n_pages // 64 or 1))
    return spark.range(0, n_pages, numPartitions=parts).mapInPandas(
        gen, schema=PAGES_SCHEMA
    )


def aliases_df(spark):
    """Broadcast-sized alias dictionary with BoW embeddings (FIXTURES §2)."""
    from ..functions.embed import bow_embed
    from ..session import local_frame

    pool = build_entity_pool()
    rows = [
        (eid, alias, bow_embed(alias))
        for eid, aliases in enumerate(pool)
        for alias in aliases
    ]
    return local_frame(
        spark, rows, "entity_id long, alias string, embedding array<float>"
    )


def golden_pages(n_pages: int) -> list[dict]:
    """Driver-side oracle generation (same rows as pages_df, with gt)."""
    pool = build_entity_pool()
    return [generate_page(i, pool) for i in range(n_pages)]
