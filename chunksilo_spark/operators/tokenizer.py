"""Distributed BPE (byte-pair-encoding) tokenizer training.

The LLM-pipeline op the sketch/dedup/export families feed into: before a
model trains on a 100 TB corpus, someone has to TRAIN THE TOKENIZER on
it, and the classic BPE loop (Sennrich et al. 2016) is corpus-scale pair
counting — exactly a Spark aggregation problem:

  1. corpus -> word-frequency relation: ONE shuffle, corpus-sized in,
     vocab-sized out (the only corpus-scale step; everything after runs
     on the vocab relation, which is what makes a 10^12-doc tokenizer
     train tractable — web-scale vocabs are ~10^8 rows, not 10^12);
  2. per merge round: adjacent-pair counts over the symbol sequences
     (map-side-combinable groupBy on the vocab relation), take the top
     pair (TakeOrderedAndProject, 1 row to the driver per round — the
     ONLY driver state is the merge table itself), apply the merge.

The merge application is pinned as STRING ALGEBRA, not a per-symbol
loop: each word's symbol sequence is held as ``\\x01sym\\x02`` bracket
groups, and merging pair (l, r) is one literal
``replace("\\x01l\\x02\\x01r\\x02" -> "\\x01lr\\x02")`` — left-to-right,
non-overlapping, which IS greedy BPE (the bracket per symbol makes
runs like ``aaaa -> [aa][aa]`` merge correctly and prevents prefix
false-matches like (a,a) firing on ``[a][at]``). The same ``replace``
exists verbatim in ANSI SQL, so the driver's DuckDB oracle replays the
whole multi-round training loop bit-for-bit.

The loop cuts lineage every round (``checkpointing.cut_lineage`` — the
PageRank discipline): round k's pair count reads the materialized round
k-1 relation, not a k-deep replace chain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..checkpointing import cut_lineage
from ..functions.textstats import ws_tokens_clean
from ..session import local_frame

__all__ = [
    "bpe_train",
    "bpe_segment_words",
    "bpe_token_counts",
    "bpe_vocab",
    "bpe_encode_words",
    "word_frequencies",
    "initial_pair_counts",
]

# bracket chars — pinned, and words containing them are dropped (guarded)
_O = "\x01"
_C = "\x02"


def word_frequencies(
    df: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """(word, c): the corpus's word-frequency relation — the one
    corpus-scale aggregation of tokenizer training. Words containing the
    reserved bracket bytes (never in real text) are dropped."""
    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    return (
        df.select(F.explode(ws_tokens_clean(txt)).alias("word"))
        .where(~F.col("word").contains(_O) & ~F.col("word").contains(_C))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _seq_col(word: Column) -> Column:
    """word -> its bracketed single-character symbol sequence. The split
    points are positions that are neither start nor end (the ``(?=.)``
    guard — Spark's split keeps trailing empties, unlike DuckDB's
    ``string_split(w, '')``, and an empty symbol would corrupt merges).

    Character boundary pin: Java regex positions are UTF-16 code units,
    so astral-plane characters (emoji etc.) split into surrogate halves
    here while DuckDB splits by codepoint. BMP text (tested incl.
    accented latin) is identical in both; byte-level BPE over
    ``encode('utf-8')`` is the production answer if astral input
    matters, and slots into the same bracket algebra."""
    return F.concat(
        F.lit(_O),
        F.array_join(F.split(word, r"(?!^)(?=.)"), _C + _O),
        F.lit(_C),
    )


def _syms_col(seq: Column) -> Column:
    """bracket string -> symbol array."""
    return F.split(
        F.substring(seq, 2, F.length(seq) - 2), _C + _O  # noqa: E226
    )


def _pair_counts(wf_seq: DataFrame) -> DataFrame:
    """(left, right, cnt): adjacent-symbol pair counts weighted by word
    frequency. The symbol array is projected once (no-CSE discipline)
    before the two slices zip into pairs."""
    syms = wf_seq.select("c", _syms_col(F.col("seq")).alias("_s"))
    pairs = syms.where(F.size("_s") > 1).select(
        "c",
        F.explode(
            F.zip_with(
                F.slice(F.col("_s"), F.lit(1), F.size("_s") - 1),
                F.slice(F.col("_s"), F.lit(2), F.size("_s") - 1),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            )
        ).alias("p"),
    )
    return pairs.groupBy(
        F.col("p.l").alias("left"), F.col("p.r").alias("right")
    ).agg(F.sum("c").alias("cnt"))


def initial_pair_counts(
    df: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """(left, right, cnt): round-1 adjacent-character pair counts — the
    relation the first merge is chosen from, exposed for corpus profiling
    (character-bigram statistics weighted by word frequency)."""
    wf = word_frequencies(df, text_col, lowercase).select(
        "c", _seq_col(F.col("word")).alias("seq")
    )
    return _pair_counts(wf)


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    lowercase: bool = True,
) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules -> (merge_rank, left, right,
    pair_count), rank 1 = first-learned. Ties in pair count break by
    (left asc, right asc) — the pinned total order both engines share.
    Stops early when no adjacent pairs remain (every word fully merged).
    """
    if n_merges < 1:
        raise ValueError("bpe_train needs n_merges >= 1")
    spark = df.sparkSession
    wf = cut_lineage(
        word_frequencies(df, text_col, lowercase).select(
            "c", _seq_col(F.col("word")).alias("seq")
        )
    )
    merges: list[tuple[int, str, str, int]] = []
    # the per-round replace stays a GROWING PROJECTION over the one
    # checkpointed word-freq relation instead of a per-round lineage cut:
    # Catalyst collapses the nested projects into a single replace chain
    # (bpe_segment_words' shape), so each round costs exactly ONE job
    # (the top-1 collect) and re-running k replaces over the vocab-sized
    # relation is far cheaper than materializing it k times
    seq = F.col("seq")
    for rank in range(1, n_merges + 1):
        best = (
            _pair_counts(wf.select("c", seq.alias("seq")))
            .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right, cnt = best[0]["left"], best[0]["right"], best[0]["cnt"]
        merges.append((rank, left, right, cnt))
        pat = _O + left + _C + _O + right + _C
        rep = _O + left + right + _C
        seq = F.replace(seq, F.lit(pat), F.lit(rep))
    return local_frame(
        spark, merges,
        "merge_rank int, left string, right string, pair_count long",
    )


def bpe_segment_words(
    words: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "word",
) -> DataFrame:
    """Apply learned merges to a vocab relation -> (word, tokens
    array<string>): the same bracket-replace chain, one literal replace
    per rule in learned order. Corpus tokenization is then a (vocab-sized)
    join of this mapping against exploded corpus words — the segmentation
    never touches the corpus itself."""
    seq = _seq_col(F.col(word_col))
    for left, right in merges:
        seq = F.replace(
            seq,
            F.lit(_O + left + _C + _O + right + _C),
            F.lit(_O + left + right + _C),
        )
    out = words.select(F.col(word_col), seq.alias("_seq"))
    return out.select(word_col, _syms_col(F.col("_seq")).alias("tokens"))


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """(id, n_words, n_tokens): per-document token accounting under a
    learned merge table — THE pre-training budget question ("how many
    tokens is this corpus under our tokenizer") answered without ever
    tokenizing the corpus directly.

    Plan shape: the corpus explodes to (doc, word) once; the
    segmentation runs on the DISTINCT-WORD relation only (vocab-sized —
    at web scale ~10^8 rows vs 10^12 corpus words) and its per-word
    token COUNT (one int, not the token array) joins back on the word
    key; the per-doc rollup is one map-side-combinable aggregation.
    Words containing the reserved bracket bytes are excluded (the same
    guard as training, so counts and trainer see the same vocab)."""
    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    doc_words = df.select(
        F.col(id_col), F.explode(ws_tokens_clean(txt)).alias("word")
    ).where(~F.col("word").contains(_O) & ~F.col("word").contains(_C))
    sizes = bpe_segment_words(
        doc_words.select("word").distinct(), merges
    ).select("word", F.size("tokens").alias("_n"))
    return (
        doc_words.join(sizes, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_n").alias("n_tokens"),
        )
    )


def bpe_vocab(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """(token, token_id): the id table a trained tokenizer ships with —
    base characters first (binary-sorted, ids 0..C-1; both engines
    compare strings as UTF-8 bytes, so the order is a cross-engine pin),
    then merged symbols in learned order (ids C + rank - 1). Two merges
    can in principle produce the same string ("a"+"bc" == "ab"+"c");
    duplicates keep the SMALLEST id, pinned via a min-groupBy.

    The char relation is alphabet-sized and the merge table is
    n_merges-sized, so the ranking window's single partition holds a few
    hundred rows — bounded, not a scale concern."""
    wf = word_frequencies(df, text_col, lowercase)
    chars = wf.select(
        F.explode(F.split(F.col("word"), r"(?!^)(?=.)")).alias("token")
    ).distinct()
    w = Window.orderBy(F.asc("token"))
    cid = chars.withColumn(
        "token_id", (F.row_number().over(w) - 1).cast("long")
    )
    n_chars = cid.count()
    mrows = [(left + right, n_chars + i) for i, (left, right) in enumerate(merges)]
    if mrows:
        mdf = local_frame(df.sparkSession, mrows, "token string, token_id long")
        cid = cid.unionByName(mdf)
    return cid.groupBy("token").agg(F.min("token_id").alias("token_id"))


def bpe_encode_words(
    words: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    word_col: str = "word",
) -> DataFrame:
    """(word, token_ids): segment with the merge table, then map symbols
    through the (driver-bounded: alphabet + n_merges entries) vocab as a
    map literal — the lookup is a codegen'd expression, no join. Symbols
    absent from the vocab (characters unseen at train time) encode as
    NULL; the caller's UNK policy applies."""
    seg = bpe_segment_words(words, merges, word_col)
    m = F.create_map(
        *[
            x
            for t, i in sorted(vocab.items())
            for x in (F.lit(t), F.lit(i))
        ]
    )
    return seg.select(
        word_col, F.transform("tokens", lambda t: m[t]).alias("token_ids")
    )
