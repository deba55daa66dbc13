"""Deduplication operators over a (doc_id, text, ...) corpus table.

The training-data-pipeline dedup family, each designed for the 100 TB shape:

  * exact_dedup          — hash-groupBy on md5(text): one shuffle on a
                           uniform key, map-side combine;
  * ngram_jaccard_pairs  — exact word-shingle Jaccard, but ONLY within
                           cheap blocking buckets (never all-pairs);
  * minhash_lsh_pairs    — MinHash band blocking (the scale path: candidate
                           generation is a band-key equi-join, verification
                           touches only candidates);
  * simhash_fingerprints — 64-bit SimHash per doc + bucket key for
                           near-dup banding by Hamming distance;
  * embedding_neardup    — cosine top-1 neighbor per doc over an embedding
                           column (broadcast the smaller side).

All heavy text work is Arrow-batched (mapInPandas); all joins are equi-joins
on hashed keys so AQE can coalesce/split them.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import cut_lineage
from ..functions.textstats import ws_tokens_clean
from ..functions.minhash import (
    BANDS,
    ROWS_PER_BAND,
    band_keys,
    minhash_signatures_batch,
    simhash64_batch,
    word_shingles,
)

# ---------------------------------------------------------------------------
# exact


def content_key(text_col: str) -> "F.Column":
    """THE content-identity key: md5 of the raw text. Every exact-dup
    collapse in this module groups by this expression."""
    return F.md5(F.col(text_col))


def rep_pick() -> "F.Column":
    """THE survivor rule: min doc_id per content group (first-seen-wins
    analog, reference index.py:1011-1020 overlapping-mount dedup). Pinned
    once — exact_dedup, exact_dup_representatives, rep_id_map and
    neardup_against all build on this exact aggregate, so a future change
    to the rule edits one expression."""
    return F.min("doc_id")


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (text_md5, n_docs, keep_doc_id)."""
    return (
        docs.groupBy(content_key(text_col).alias("text_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            rep_pick().alias("keep_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard within blocking buckets


def ngram_jaccard_pairs(
    docs: DataFrame,
    bucket_cols: list[str],
    threshold: float = 0.8,
    text_col: str = "text",
) -> DataFrame:
    """Exact distinct-token Jaccard >= threshold for doc pairs sharing a
    blocking bucket. Pure DataFrame ops (array_intersect/union sizes), so it
    has an exact SQL oracle (DuckDB list_distinct/list_intersect). Blocking
    keeps the self-join linear-ish; the word-3-gram variant at scale is
    minhash_lsh_pairs + verification."""
    toks = docs.select(
        F.col("doc_id"),
        *[F.col(c) for c in bucket_cols],
        F.array_distinct(_ws_tokens(F.lower(F.col(text_col)))).alias(
            "shingles"
        ),
    )
    a = toks.select(
        *[F.col(c) for c in bucket_cols],
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
    )
    b = toks.select(
        *[F.col(c) for c in bucket_cols],
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        a.join(b, bucket_cols)
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "jaccard",
            F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH


_SIG_SCHEMA = "doc_id long, band_key long"


def minhash_bands(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, band_key) rows — 32 per doc — from word-3-gram MinHash.

    Signatures are computed batch-vectorized (one universal-hash matrix +
    segment-min per Arrow batch, shingle hashes cached across docs) — see
    functions/minhash.minhash_signatures_batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            shingle_lists = [word_shingles(t, 3) for t in pdf[text_col]]
            sigs = minhash_signatures_batch(shingle_lists)
            ids, keys = [], []
            for doc_id, sig in zip(pdf["doc_id"], sigs):
                for bk in band_keys(sig):
                    ids.append(doc_id)
                    keys.append(bk - (1 << 63))
            yield pd.DataFrame({"doc_id": ids, "band_key": keys})

    return docs.select("doc_id", text_col).mapInPandas(run, schema=_SIG_SCHEMA)


def exact_dup_representatives(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """One representative row (min doc_id) per byte-identical text group.

    The groupBy does a map-side partial ``first`` per md5, so the shuffle
    carries ~one text per distinct content per input partition, not the
    whole corpus."""
    return (
        docs.groupBy(content_key(text_col).alias("text_md5"))
        .agg(
            rep_pick().alias("doc_id"),
            F.first(text_col).alias(text_col),  # all texts in group identical
        )
        .select("doc_id", text_col)
    )


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Candidate near-duplicate pairs BETWEEN exact-duplicate groups
    (band-collision count as evidence; est_jaccard = (n_bands/BANDS)^(1/r)
    is the moment estimator of the Jaccard similarity).

    Byte-identical texts are collapsed to one representative (min doc_id)
    BEFORE banding — k identical docs share all 32 bands, so banding them
    raw makes the band self-join emit O(k^2) pairs per duplicate cluster
    (a hot-bucket quadratic on boilerplate-heavy web corpora; canon.py
    applies the same pre-distinct to surfaces). doc_a/doc_b are group
    representatives; within-group duplicate membership is ``exact_dedup``'s
    (linear) output, so total output stays linear in cluster size. Exact
    verification of candidates is ``neardup_verified``.

    The reps are explicitly repartitioned before banding: the collapse
    groupBy's output otherwise gets AQE-coalesced to very few partitions on
    small/medium inputs, serializing the python-heavy signature stage
    behind one task (an explicit repartition(N) is exempt from coalescing)."""
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    reps = exact_dup_representatives(docs, text_col).repartition(n_part)
    # localCheckpoint: the band table feeds BOTH sides of the self-join —
    # without it the scan+collapse+signature subtree executes twice
    # (canon.py:222-226 does the same for the surface bands)
    bands = cut_lineage(minhash_bands(reps, text_col))
    a = bands.select(F.col("band_key"), F.col("doc_id").alias("doc_a"))
    b = bands.select(F.col("band_key"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "band_key")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
        # a band of r rows collides with probability s^r (s = Jaccard), so
        # the moment estimator of s from the collision rate is its r-th root
        .withColumn(
            "est_jaccard",
            F.round(
                F.pow(
                    F.col("n_bands") / F.lit(float(BANDS)),
                    F.lit(1.0 / ROWS_PER_BAND),
                ),
                4,
            ),
        )
    )


def _ws_tokens(col):
    """``str.split()`` semantics as a column expression (NO empty tokens) —
    the pin the python kernels (word_shingles, simhash) share; delegates to
    the repo-wide definition in functions/textstats.ws_tokens_clean."""
    return ws_tokens_clean(col)


def _shingles3(toks):
    """Distinct word-3-gram shingles as a JVM-side array expression —
    identical semantics to functions/minhash.word_shingles(text, 3) (the
    banding space: CASE-SENSITIVE whitespace tokens; texts with <3 words
    yield one joined shingle).

    Takes an ALREADY-PROJECTED token array column (``_ws_tokens`` output),
    not text: interpreted higher-order lambdas have no CSE, so inlining
    the tokenization makes every ``element_at`` re-run the whole
    regexp+split pipeline (measured 2.9 s -> 7.1 s at sf0.1 when the
    tokenizer grew a regexp_replace; with a projected column it is flat).
    Same lesson as curation._word_grams."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= 3, grams).otherwise(
            F.array(F.array_join(toks, " "))
        )
    )


def neardup_verified(
    docs: DataFrame, threshold: float = 0.5, text_col: str = "text"
) -> DataFrame:
    """LSH candidate pairs verified by EXACT word-3-gram Jaccard >= threshold
    -> (doc_a, doc_b, jaccard). The verification runs in the same shingle
    space the MinHash estimates (word 3-grams), entirely JVM-side
    (array_intersect on distinct shingle arrays), and touches only the
    candidate pairs — the classic LSH funnel."""
    # localCheckpoint: the candidate relation feeds the id semi-join AND
    # both sides of the final pair join — without truncation the whole
    # minhash subtree (collapse + signatures + band self-join) executes
    # up to 3x in the one plan
    cands = cut_lineage(
        minhash_lsh_pairs(docs, text_col)
        .select("doc_a", "doc_b")
    )
    # shingle ONLY the docs that appear in a candidate pair: the (interpreted)
    # higher-order shingle expression is the expensive part, and candidates
    # are a vanishing fraction of the corpus at scale
    ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sub = docs.join(ids, "doc_id", "left_semi")
    # sh feeds BOTH join sides: checkpoint so the interpreted shingle
    # expression evaluates once per candidate doc, not twice
    # (with the cands checkpoint above: ~4.0 s -> ~3.2 s warm at sf0.1;
    # the remainder is three sequential job launches, fixed cost)
    sh = cut_lineage(
        sub.select(F.col("doc_id"), _ws_tokens(F.col(text_col)).alias("_toks"))
        .select(F.col("doc_id"), _shingles3(F.col("_toks")).alias("sh"))
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "jaccard",
            F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def rep_id_map(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(_h, rep): the content-identity map — ``rep_pick`` per
    ``content_key`` group (the shared pin). Shuffles only (hash, id)
    pairs — text never enters the exchange — so it is the cheap way to
    key corpus-scale relations by content identity when the text itself
    is not needed downstream."""
    return (
        docs.select(content_key(text_col).alias("_h"), "doc_id")
        .groupBy("_h")
        .agg(rep_pick().alias("rep"))
    )


def neardup_against(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Incremental near-dup: match NEW docs against an EXISTING corpus ->
    (doc_id, match_id, jaccard, kind) — kind is 'exact' (byte-identical
    text, jaccard pinned 1.0) or 'near' (word-3-gram Jaccard >= threshold
    vs a corpus exact-dup representative).

    The daily-delta shape at 100 TB: a crawl increment dedups against the
    historical index WITHOUT any corpus self-join. Exact matches are one
    md5 equi-join (no shingling); only the remaining new docs band, and
    the corpus side bands its exact-dup REPRESENTATIVES once (in
    production these band rows are the stored index — 32 small rows per
    distinct content). Candidates come from a band-key equi-join (never
    all-pairs); exact Jaccard verification touches candidate docs only,
    with the token array projected before the shingle lambda (the no-CSE
    rule).

    Plan shape: the corpus collapse runs ONCE — a map-side-combined
    groupBy carrying (hash, rep id, one text per distinct content) — and
    is lineage-cut, so ALL its consumers (the exact equi-join, the
    left_anti routing, the corpus-side banding, and the candidate shingle
    side) read the materialized representatives rather than re-running
    the corpus scan+shuffle. Band inputs are explicitly repartitioned —
    the groupBy/join outputs otherwise AQE-coalesce to few tasks and
    serialize the python-heavy signature stage (the minhash_lsh_pairs
    lesson)."""
    n_part = int(
        new_docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    reps_full = cut_lineage(
        corpus.groupBy(content_key(text_col).alias("_h")).agg(
            rep_pick().alias("match_id"),
            F.first(text_col).alias(text_col),  # identical within group
        )
    )
    corp_map = reps_full.select("_h", "match_id")
    rep_docs = reps_full.select(
        F.col("match_id").alias("doc_id"), F.col(text_col)
    )
    new_h = new_docs.select(
        "doc_id", content_key(text_col).alias("_h"), F.col(text_col)
    )
    exact = new_h.join(corp_map, "_h").select(
        "doc_id",
        "match_id",
        F.lit(1.0).alias("jaccard"),
        F.lit("exact").alias("kind"),
    )
    new_rest = new_h.join(
        corp_map.select("_h"), "_h", "left_anti"
    ).select("doc_id", text_col)
    nb = minhash_bands(new_rest.repartition(n_part), text_col)
    cb = minhash_bands(rep_docs.repartition(n_part), text_col).select(
        F.col("doc_id").alias("match_id"), "band_key"
    )
    cands = cut_lineage(
        nb.join(cb, "band_key").select("doc_id", "match_id").distinct()
    )
    n_sh = (
        new_rest.join(
            cands.select("doc_id").distinct(), "doc_id", "left_semi"
        )
        .select(F.col("doc_id"), _ws_tokens(F.col(text_col)).alias("_toks"))
        .select(F.col("doc_id"), _shingles3(F.col("_toks")).alias("sh_a"))
    )
    c_sh = (
        rep_docs.select(F.col("doc_id").alias("match_id"), F.col(text_col))
        .join(cands.select("match_id").distinct(), "match_id", "left_semi")
        .select(F.col("match_id"), _ws_tokens(F.col(text_col)).alias("_toks"))
        .select(F.col("match_id"), _shingles3(F.col("_toks")).alias("sh_b"))
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    near = (
        cands.join(n_sh, "doc_id")
        .join(c_sh, "match_id")
        .withColumn(
            "jaccard",
            F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_id", "match_id", "jaccard", F.lit("near").alias("kind"))
    )
    return exact.unionByName(near)


def dedup_clusters(
    docs: DataFrame, threshold: float = 0.5, text_col: str = "text"
) -> DataFrame:
    """END-TO-END dedup materialization -> (doc_id, cluster_id,
    is_survivor): the "which rows does the training set keep" primitive
    that pair detection alone doesn't answer.

    cluster_id = the min doc_id transitively reachable through exact
    duplicates (byte-identical text) and verified near-dup pairs
    (:func:`neardup_verified`, Jaccard >= threshold on word 3-gram
    shingles); is_survivor marks the one kept doc per cluster (the min
    id). Docs in no pair are their own singleton cluster.

    100 TB shape: the exact-dup map is one md5 groupBy (map-side
    combined); near-dup verification already touches candidates only;
    connected components (canon.connected_components: a driver union-find
    for dictionary-sized pair sets, star-star rounds above, no hop limit
    either way — near-dup graphs can carry long CHAINS of incrementally
    edited docs) run on the PAIR GRAPH — dup-cluster-sized, never
    corpus-sized — and the cluster labels join back to the corpus as a
    broadcast-sized relation for any realistic dup rate (falls back to a
    shuffle join past the broadcast threshold, still keyed on the md5 the
    corpus already grouped by).
    """
    from .canon import connected_components

    doc_rep = docs.select(
        F.col("doc_id"), content_key(text_col).alias("_h")
    ).join(rep_id_map(docs, text_col), "_h").select("doc_id", "rep")
    pairs = neardup_verified(docs, threshold, text_col).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    verts = (
        pairs.select(F.col("a").alias("nid"))
        .unionByName(pairs.select(F.col("b").alias("nid")))
        .distinct()
    )
    labels = connected_components(verts, pairs)
    return (
        doc_rep.join(labels, doc_rep["rep"] == labels["nid"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("rep")).alias("cluster_id"),
        )
        .withColumn("is_survivor", F.col("doc_id") == F.col("cluster_id"))
    )


# ---------------------------------------------------------------------------
# SimHash


def simhash_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash, bucket16) — bucket16 = top 16 bits, the banding key
    for Hamming-distance candidate generation at scale."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs = simhash64_batch([t.lower().split() for t in pdf[text_col]])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "simhash": [h - (1 << 63) for h in hs],
                    "bucket16": [h >> 48 for h in hs],
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(
        run, schema="doc_id long, simhash long, bucket16 int"
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup


def embedding_neardup(
    vectors: DataFrame,
    sample: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicates: sample rows whose nearest corpus
    neighbor has cosine >= threshold (delegates to the exact kNN operator;
    the LSH-banded variant in similarity.lsh_topk is the scale path)."""
    from .similarity import brute_force_topk

    return brute_force_topk(vectors, sample, k=1, id_col=id_col, vec_col=vec_col).where(
        F.col("cosine") >= threshold
    )


# ---------------------------------------------------------------------------
# duplicated n-gram spans (exact substring dedup at word-gram granularity)


def dup_ngram_spans(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc profile of corpus-duplicated word n-gram SPANS — the
    word-granularity analog of exact substring deduplication (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better"): a
    token position is "duplicated" when it starts an n-gram that occurs
    >= min_count times in the whole corpus (across OR within docs), and
    overlapping duplicated n-grams merge into maximal spans — the units a
    span-removal pass would cut.

    Returns one row per doc that carries at least one duplicated gram:
    (doc_id, n_dup_grams, n_spans, dup_tokens, n_toks, dup_frac) where
    dup_tokens counts tokens covered by the merged spans and dup_frac =
    dup_tokens / n_toks (rounded 6).

    100 TB shape — the suffix-array of the paper doesn't distribute, this
    funnel does:
      * positioned grams are ONE posexplode scan; the gram travels as its
        md5 (16 bytes, uniform), never the raw string;
      * the corpus frequency is a count-window partitioned by that hash —
        one shuffle of the gram relation, versus the groupBy-then-semi-join
        formulation's two full gram shuffles plus a second explode of the
        whole corpus (measured: the window plan scans documents once, the
        join plan twice). The window's sort is spill-safe, so a
        boilerplate gram with 10^8 occurrences degrades to disk sort, not
        OOM (a collect_list-per-gram formulation would);
      * span merging is windowed per doc_id — bounded by doc length, no
        cross-doc data movement beyond the doc_id re-shuffle of the
        (sparse) duplicated-position rows.
    """
    from pyspark.sql import Window
    from .curation import _word_grams

    toks = docs.select(
        F.col(id_col), ws_tokens_clean(F.col(text_col)).alias("_toks")
    )
    # (doc_id, n_toks, pos, gram_md5): pos is 0-based token index of the
    # gram start; md5 immediately so the raw gram string never shuffles
    grams = toks.select(
        F.col(id_col),
        F.size("_toks").alias("n_toks"),
        F.posexplode(_word_grams(F.col("_toks"), n)).alias("pos", "_gram"),
    ).select(id_col, "n_toks", "pos", F.md5("_gram").alias("_gh"))
    freq = F.count(F.lit(1)).over(Window.partitionBy("_gh"))
    hits = (
        grams.withColumn("_freq", freq)
        .where(F.col("_freq") >= min_count)
        .drop("_freq", "_gh")
    )

    # classic interval merge, windowed per doc: a duplicated gram at pos
    # covers [pos, pos+n); a new span starts where pos clears the running
    # max end of every earlier gram in the doc
    prev = (
        Window.partitionBy(id_col)
        .orderBy(F.col("pos").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("pos") + n).over(prev)
    marked = hits.withColumn(
        "_new_span",
        F.when(prev_end.isNull() | (F.col("pos") >= prev_end), 1).otherwise(0),
    )
    run = (
        Window.partitionBy(id_col)
        .orderBy(F.col("pos").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        marked.withColumn("_span_id", F.sum("_new_span").over(run))
        .groupBy(id_col, "n_toks", "_span_id")
        .agg(
            F.count(F.lit(1)).alias("_grams_in_span"),
            F.min("pos").alias("_start"),
            (F.max("pos") + n).alias("_end"),
        )
    )
    return (
        spans.groupBy(id_col, "n_toks")
        .agg(
            F.sum("_grams_in_span").alias("n_dup_grams"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("_end") - F.col("_start")).alias("dup_tokens"),
        )
        .select(
            id_col,
            "n_dup_grams",
            "n_spans",
            "dup_tokens",
            "n_toks",
            F.round(
                F.col("dup_tokens").cast("double")
                / F.greatest(F.col("n_toks"), F.lit(1)).cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup (embedding-cluster + within-cluster cosine pruning)


def sign_bucket_clusters(
    vectors: DataFrame,
    n_sign_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cluster_id) — cluster = the packed sign bits of the first
    ``n_sign_bits`` dimensions (a 1-plane-per-axis LSH): deterministic,
    zero-shuffle, and exactly re-derivable in ANSI SQL, which makes the
    driver's semdedup oracle possible. A k-means assignment (the SemDeDup
    paper's clustering; see ivf pieces in similarity.py) plugs into
    :func:`semdedup` through the same ``cluster_col`` seam."""
    vec = F.col(vec_col).cast("array<double>")
    bits = F.lit(0)
    for j in range(n_sign_bits):
        bits = bits + F.when(
            F.element_at(vec, j + 1) >= 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
    return vectors.select(
        F.col(id_col), vec.alias("_v"), bits.alias("cluster_id")
    )


def semdedup(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_sign_bits: int = 6,
    cluster_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by embedding — cluster
    the corpus, then within each cluster drop every item that has a
    LOWER-id neighbor with cosine >= threshold (min-id survivor, the same
    pinned rule as rep_pick). Returns (id, cluster_id, dup_of, keep):
    dup_of = the smallest such neighbor id (NULL for survivors).

    ``cluster_col``: pass an existing assignment column (e.g. a k-means /
    IVF list id) to dedup within it; default derives the SQL-exact
    sign-bucket clustering above.

    100 TB shape: the pairwise pass is an EQUI-JOIN on cluster_id — never
    corpus-all-pairs — and the paper's premise is that the clustering
    bounds cluster size (k scales with the corpus: 50k clusters for
    LAION-440M; sign-bit planes double the cluster count per bit). Cosine
    is a JVM higher-order expression on double arrays (no Python, no
    UDF); the survivor reduction is a min-groupBy on the (sparse) pair
    relation, and the labels LEFT-join back on the cluster-partitioned
    corpus."""
    if cluster_col is None:
        clustered = sign_bucket_clusters(
            vectors, n_sign_bits, id_col=id_col, vec_col=vec_col
        )
    else:
        clustered = vectors.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("_v"),
            F.col(cluster_col).alias("cluster_id"),
        )
    # Pairwise pass: ONE applyInPandas over the cluster-grouped corpus
    # (replacing the former self-join + min-groupBy + left-join — the same
    # bytes shuffle once instead of twice and the plan drops 3 exchanges).
    # The per-pair arithmetic runs vectorized in numpy with the EXACT
    # numbers the former JVM fold produced: ``np.cumsum`` accumulates
    # strictly left-to-right, so dot products and norms match the
    # sequential ``aggregate(zip_with(...))`` folds bit-for-bit (verified
    # property; the driver's DuckDB oracle re-derives the same sequential
    # algebra). The threshold still compares the UNROUNDED cosine — both
    # engines disagree only within ~1 ulp of the threshold.
    #
    # Pinned semantics mirrored from the join formulation:
    #   * dup_of(j) = min id i with id_i < id_j, same cluster, same vector
    #     LENGTH (mixed-length pairs had a null zip_with dot -> excluded),
    #     cosine >= threshold (NaN cosine counts as >= — Spark orders NaN
    #     above every value);
    #   * rows with a NULL cluster_id never pair (inner join on a null
    #     key matched nothing) but stay in the output as survivors;
    #   * rows with a null vector or null ELEMENTS never pair (null
    #     poisons the fold).
    #
    # 100 TB shape: the pairwise pass stays an equi-shuffle on cluster_id —
    # never corpus-all-pairs — and the paper's premise is that the
    # clustering bounds cluster size (k scales with the corpus: 50k
    # clusters for LAION-440M), so one cluster per Arrow group is the
    # bounded unit of work, exactly like the former join's per-key fanout.
    import numpy as np

    schema_by_name = {f.name: f.dataType.simpleString() for f in clustered.schema.fields}
    out_schema = (
        f"{id_col} {schema_by_name[id_col]}, "
        f"cluster_id {schema_by_name['cluster_id']}, "
        f"dup_of {schema_by_name[id_col]}, keep boolean"
    )

    def pair_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        dup_of = [None] * n
        cl_null = pdf["cluster_id"].isna().all()
        if not cl_null and n > 1:
            vecs = pdf["_v"].tolist()
            # rows eligible to pair: non-null vector, no null elements
            elig = []
            for i, v in enumerate(vecs):
                if v is None or (not hasattr(v, "__len__")):
                    continue
                if len(v) and pd.isna(np.asarray(v)).any():
                    # Arrow gives null elements as NaN; a null element
                    # poisoned the JVM fold, so the row never pairs.
                    # (Genuine-NaN embeddings are indistinguishable here
                    # and are treated the same — a corner the corpus
                    # contract excludes.)
                    continue
                elig.append((i, np.asarray(v, dtype=np.float64)))
            # mixed-length pairs never matched (null-padded fold): pair
            # within same-length groups only
            by_len: dict[int, list] = {}
            for i, arr in elig:
                by_len.setdefault(arr.shape[0], []).append(i)
            ids_all = pdf[id_col].to_numpy()
            for d, idxs in by_len.items():
                if len(idxs) < 2:
                    continue
                V = np.stack([np.asarray(vecs[i], dtype=np.float64) for i in idxs])
                if d == 0:
                    norms = np.zeros(len(idxs))
                else:
                    # strict left-to-right accumulation == the JVM fold
                    norms = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
                ids = ids_all[idxs]
                for j in range(1, len(idxs)):
                    # candidates: strictly smaller ids (ties excluded)
                    lo = int(np.searchsorted(ids, ids[j], side="left"))
                    if lo == 0:
                        continue
                    if d == 0:
                        dots = np.zeros(lo)
                    else:
                        dots = np.cumsum(V[:lo] * V[j], axis=1)[:, -1]
                    denom = np.maximum(norms[:lo] * norms[j], 1e-12)
                    cos = dots / denom
                    hits = np.flatnonzero((cos >= threshold) | np.isnan(cos))
                    if hits.size:
                        prev = dup_of[idxs[j]]
                        cand = ids[hits[0]]
                        dup_of[idxs[j]] = (
                            cand if prev is None or cand < prev else prev
                        )
        out = pdf[[id_col, "cluster_id"]].copy()
        out["dup_of"] = pd.Series(dup_of, dtype="object")
        out["keep"] = [d is None for d in dup_of]
        return out

    return clustered.groupBy("cluster_id").applyInPandas(
        pair_scan, schema=out_schema
    )
