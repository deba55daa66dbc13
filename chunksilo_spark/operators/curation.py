"""Training-data curation operators: repetition filtering, PII scrubbing,
benchmark decontamination, deterministic stratified sampling.

These are the standard curation passes of an LLM data pipeline (Gopher /
RefinedWeb / Dolma-style) over the ``documents`` table, expressed so that
every hot path is a JVM column expression or an equi-join — no Python per
row, no corpus-sized shuffle where one is avoidable:

  * repetition_profile — duplicate-3-gram fraction per doc (boilerplate /
    generated-text signal): pure higher-order column expressions, one scan;
  * pii_scrub          — email / phone redaction via ``regexp_replace``
    (codegen, one scan), with per-doc match counts;
  * contamination_check — docs sharing any word-8-gram with a (small) eval
    set: corpus grams explode map-side and hash-join the BROADCAST eval
    gram set — the corpus is never shuffled, the classic decontamination
    funnel at 100 TB;
  * stratified_sample  — deterministic per-stratum rate sampling by md5
    hash threshold: a pure filter, NO shuffle at all (a windowed top-k per
    stratum would sort-shuffle the corpus; rate-by-hash is how a 10^12-row
    sample is actually drawn). The hash is md5-derived so the exact sample
    is re-derivable in ANSI SQL (driver oracle), like t_winnow/d_simhash.

All four have DuckDB oracles (driver queries t_repetition, t_pii_scrub,
d_contamination, t_stratified_sample).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..checkpointing import cut_lineage
from ..functions.textstats import ws_tokens_clean
from ..session import local_frame

# simple, portable patterns (Java regex on the Spark side, RE2 in the
# DuckDB oracle — the subset used here behaves identically in both)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}"


def _word_grams(toks: Column, n: int) -> Column:
    """All word n-grams (NON-distinct — repetition needs multiplicity) from
    an ALREADY-TOKENIZED array column; texts with < n words yield no grams.

    Takes tokens, not text, on purpose: inlining the ``split`` into the
    gram lambda makes Catalyst re-run the full-text regex split once per
    element access (no CSE inside interpreted higher-order functions —
    measured 22 s for 236k grams at sf0.1; with a projected token column
    and one ``slice`` per gram it is <1 s). Callers project
    ``_tokens(text)`` first; CollapseProject keeps the split un-duplicated
    because it is non-cheap with multiple references."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _tokens(text_col: Column) -> Column:
    # the clean pin: whitespace runs, NO empty tokens — matches the oracles'
    # uniform list_filter(x -> x <> '') (see textstats.ws_tokens_clean for
    # why the repo has exactly two whitespace tokenizer definitions)
    return ws_tokens_clean(text_col)


def repetition_profile(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_grams, n_distinct, dup_frac) per doc — the Gopher-style
    within-document repetition signal (dup_frac = 1 - distinct/total over
    word n-grams; high values = boilerplate or degenerate generation).
    One scan, all codegen'd higher-order expressions."""
    with_toks = docs.select(
        F.col(id_col), _tokens(F.col(text_col)).alias("_toks")
    )
    grams = _word_grams(F.col("_toks"), n)
    n_grams = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    return with_toks.select(
        F.col(id_col),
        n_grams.alias("n_grams"),
        n_distinct.alias("n_distinct"),
        F.round(
            F.when(
                n_grams > 0,
                1.0 - n_distinct.cast("double") / n_grams.cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_frac"),
    )


def pii_scrub(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_emails, n_phones, clean_md5) — counts of redacted spans and
    the digest of the scrubbed text (emails -> <EMAIL>, phones -> <PHONE>).
    Pure regexp built-ins: one codegen'd scan, trivially 100 TB-safe."""
    email_matches = F.size(F.regexp_extract_all(text_col, F.lit(EMAIL_RE), 0))
    # scrub emails FIRST so a phone-like digit run inside an email local
    # part cannot double-count; counts are computed on the same stage input
    no_email = F.regexp_replace(F.col(text_col), EMAIL_RE, "<EMAIL>")
    phone_matches = F.size(F.regexp_extract_all(no_email, F.lit(PHONE_RE), 0))
    clean = F.regexp_replace(no_email, PHONE_RE, "<PHONE>")
    return docs.select(
        F.col(id_col),
        email_matches.alias("n_emails"),
        phone_matches.alias("n_phones"),
        F.md5(clean).alias("clean_md5"),
    )


def contamination_check(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing >= 1 word-``n``-gram
    with any eval-set doc -> (doc_id, eval_id, n_shared).

    Scale shape: the eval set is benchmark-sized (thousands of docs), so
    its distinct grams BROADCAST; the corpus side explodes its grams
    map-side and hash-joins — the corpus is never shuffled, and the
    aggregate runs on the (tiny) matched subset. 8-grams are the common
    decontamination unit (GPT-3 appendix C / Dolma)."""
    corpus_grams = docs.select(
        F.col(id_col), _tokens(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(_word_grams(F.col("_toks"), n))
        ).alias("gram"),
    )
    eval_grams = eval_docs.select(
        F.col(id_col).alias("eval_id"), _tokens(F.col(text_col)).alias("_toks")
    ).select(
        "eval_id",
        F.explode(
            F.array_distinct(_word_grams(F.col("_toks"), n))
        ).alias("gram"),
    ).distinct()
    return (
        corpus_grams.join(F.broadcast(eval_grams), "gram")
        .where(F.col(id_col) != F.col("eval_id"))
        .groupBy(id_col, "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def unigram_logprob(
    docs: DataFrame,
    vocab_size: int = 10_000,
    floor_count: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, mean_logprob) — the CCNet/KenLM-style LM quality
    proxy from corpus statistics alone: mean over a doc's tokens of
    ln(count(token)/total), with out-of-vocabulary tokens floored at
    ``floor_count`` occurrences. Low (very negative) scores = rare-token
    soup; implausibly high = boilerplate. The standard cheap stand-in for
    a perplexity filter when no LM is available.

    Scale shape: ONE explode+groupBy builds the full unigram relation,
    checkpointed so its two consumers (the scalar total = sum of counts,
    the deterministic top-``vocab_size`` cutoff: count desc, token asc)
    never re-run the corpus explode; the vocab slice joins back as a
    BROADCAST hash join, so the per-doc scoring pass is map-side. The
    corpus is scanned exactly twice: once for statistics, once to score.
    Total-count uses the FULL token count (not just in-vocab), matching
    the OOV-floor model.
    """
    toks = docs.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("tok")
    )
    full_counts = cut_lineage(  # vocab-sized; feeds total AND the top-K cutoff
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = full_counts.agg(F.sum("cnt")).collect()[0][0] or 0
    counts = full_counts.orderBy(
        F.col("cnt").desc(), F.col("tok").asc()
    ).limit(vocab_size)
    lp = F.log(
        F.coalesce(F.col("cnt").cast("double"), F.lit(float(floor_count)))
        / F.lit(float(max(total, 1)))
    )
    return (
        toks.join(F.broadcast(counts), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(lp), 6).alias("mean_logprob"),
        )
    )


def bigram_logprob(
    docs: DataFrame,
    lam: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_bigrams, mean_logprob) — the bigram step up from
    :func:`unigram_logprob`: per-doc mean of
    ``ln(lam * c(w1,w2)/c1(w1) + (1-lam) * c2(w2)/T)`` with all counts
    taken over the corpus's own bigram relation (c1 = occurrences as a
    bigram LEFT token, c2 = as a RIGHT token, T = total bigrams) —
    Jelinek-Mercer interpolation of the bigram conditional with the
    unigram prior, the standard CCNet/KenLM-style fluency proxy that
    actually penalizes improbable token ORDER, not just rare tokens.
    Docs with fewer than two tokens have no bigrams and drop out
    (pinned; the oracle derivation agrees by construction).

    Scale shape: the token array is projected ONCE before the pair
    lambda (interpreted higher-order funcs have no CSE — the
    d_neardup_verified lesson), then one explode builds the bigram
    relation B. The (w1,w2) stats join shuffles B on the bigram key —
    the honest KenLM-training shuffle, map-side pre-aggregated; the two
    unigram-context relations are vocab-sized and usually broadcast
    (Catalyst decides by stats); T is one scalar aggregate. B is
    checkpointed so its four consumers never re-run the corpus scan.
    Float op order pinned: lam*(c12/c1) first, then (1-lam)*(c2/T),
    rounded to 6dp after the avg.
    """
    base = docs.select(
        F.col(id_col), _tokens(F.col(text_col)).alias("_toks")
    )
    pairs = F.when(
        F.size("_toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - 1),
            lambda i: F.struct(
                F.element_at("_toks", i).alias("w1"),
                F.element_at("_toks", i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    b = cut_lineage(
        base.select(F.col(id_col), F.explode(pairs).alias("_bg"))
        .select(F.col(id_col), F.col("_bg.w1"), F.col("_bg.w2"))
    )
    # every statistic derives from the DISTINCT-bigram relation: c1 (w1
    # occurrences as a left token) = sum of c12 over w2, c2 likewise, T =
    # sum of all c12 — so the corpus-sized B is touched exactly twice
    # (c12 build + the single scoring join) and the whole stats chain
    # runs on vocab^2-sized data
    c12 = cut_lineage(
        b.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).cast("double").alias("_c12")
        )
    )
    c1 = c12.groupBy("w1").agg(F.sum("_c12").alias("_c1"))
    c2 = c12.groupBy("w2").agg(F.sum("_c12").alias("_c2"))
    total = float(c12.agg(F.sum("_c12")).collect()[0][0] or 0.0)
    p = F.lit(float(lam)) * (F.col("_c12") / F.col("_c1")) + F.lit(
        float(1.0 - lam)
    ) * (F.col("_c2") / F.lit(max(total, 1.0)))
    scored = c12.join(c1, "w1").join(c2, "w2").select(
        "w1", "w2", F.log(p).alias("_lp")
    )
    return (
        b.join(scored, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("_lp"), 6).alias("mean_logprob"),
        )
    )


def dsir_logratio(
    docs: DataFrame,
    target_cond: Column,
    buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_feats, dsir_logratio) — data-selection importance weight:
    per-doc sum over hashed-bigram feature occurrences of
    ``ln(p_target(f) / p_raw(f))``, the published DSIR recipe (hashed
    n-gram importance resampling): docs whose feature profile looks like
    the target slice (``target_cond``, e.g. an in-domain or high-quality
    subset) get positive weights; off-profile docs go negative. Sampling
    proportional to ``exp(weight)`` then reproduces the target
    distribution — the principled upgrade over hard domain filters.

    Both feature distributions come from ONE corpus pass: explode
    bigrams, hash to ``buckets`` via the exact-SQL ``_md5_bucket``
    algebra, then a single groupBy counts raw occurrences and (via a
    conditional sum) target occurrences. Add-1 smoothing on both:
    ``p(f) = (c_f + 1) / (T + buckets)``. The stats relation is
    ``buckets`` rows — broadcast back for the scoring pass, which is
    therefore map-side; two scalar totals ride along via one driver agg.
    Docs with <2 tokens have no features and drop out (pinned, matches
    the bigram-LM contract). Float order pinned: both smoothed ratios
    formed first, divided, THEN ln; per-doc sum rounded to 6dp.
    """
    base = docs.select(
        F.col(id_col),
        target_cond.alias("_tgt"),
        _tokens(F.col(text_col)).alias("_toks"),
    )
    bg = _word_grams(F.col("_toks"), 2)
    feats = cut_lineage(
        base.select(
            F.col(id_col), F.col("_tgt"), F.explode(bg).alias("_f_raw")
        ).select(
            F.col(id_col),
            F.col("_tgt"),
            _md5_bucket(F.col("_f_raw"), buckets).alias("_f"),
        )
    )
    stats = cut_lineage(
        feats.groupBy("_f").agg(
            F.count(F.lit(1)).cast("double").alias("_cr"),
            F.sum(F.when(F.col("_tgt"), 1).otherwise(0))
            .cast("double")
            .alias("_ct"),
        )
    )
    tr, tt = stats.agg(F.sum("_cr"), F.sum("_ct")).collect()[0]
    tr, tt = float(tr or 0.0), float(tt or 0.0)
    w = F.log(
        ((F.col("_ct") + F.lit(1.0)) / F.lit(tt + buckets))
        / ((F.col("_cr") + F.lit(1.0)) / F.lit(tr + buckets))
    )
    return (
        feats.join(F.broadcast(stats), "_f")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum(w), 6).alias("dsir_logratio"),
        )
    )


def _md5_bucket(col: Column, buckets: int = 100) -> Column:
    """Deterministic [0, buckets) bucket from md5 of the column's string
    form — the first 15 hex chars fit a signed 64-bit int, and the same
    expression is exact ANSI SQL (DuckDB:
    ``('0x' || substr(md5(x::VARCHAR), 1, 15))::UBIGINT % buckets``)."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10)
    return F.pmod(h.cast("long"), F.lit(buckets))


def stratified_sample(
    docs: DataFrame,
    strata_cols: list[str],
    rates: dict[tuple, int] | int,
    id_col: str = "doc_id",
    buckets: int = 100,
    default_rate: int = 0,
) -> DataFrame:
    """Deterministic stratified sample: keep a row iff its md5 bucket falls
    under its stratum's rate (percent when buckets=100).

    ``rates`` is either one int rate for every stratum or a dict
    {stratum-tuple: rate}. Strata ABSENT from the dict get ``default_rate``
    (default 0 = excluded — pinned here so a typo'd or incomplete dict is a
    documented choice, not silent data loss; pass ``default_rate=buckets``
    to pass unlisted strata through). Stratum tuples must have exactly
    ``len(strata_cols)`` values — a shorter tuple would silently
    prefix-match, so it raises instead. A pure filter — no shuffle, no
    window, no sampleBy RNG: the sample is a reproducible function of
    ``id_col``, so reruns, resumed jobs and the SQL oracle all draw the
    SAME rows (the property that matters when the sample feeds a training
    run)."""
    bucket = _md5_bucket(F.col(id_col), buckets)
    if isinstance(rates, int):
        cond = bucket < F.lit(rates)
    else:
        bad = [s for s in rates if len(s) != len(strata_cols)]
        if bad:
            raise ValueError(
                f"stratum tuples must have {len(strata_cols)} values "
                f"(one per strata_col {strata_cols}); got {sorted(bad)}"
            )
        cond = bucket < F.lit(default_rate)
        for stratum, rate in sorted(rates.items()):
            match = F.lit(True)
            for c, v in zip(strata_cols, stratum):
                match = match & (F.col(c) == F.lit(v))
            cond = F.when(match, bucket < F.lit(rate)).otherwise(cond)
    return docs.where(cond)


# ---------------------------------------------------------------------------
# hashed-feature linear quality classifier (fastText-style)


def hashed_linear_quality(
    docs: DataFrame,
    n_buckets: int = 1024,
    bias: float = 0.0,
    weights: list[float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_toks, score, keep) — a linear text classifier over hashed
    unigram features, the fastText-style quality filter of the CCNet /
    GPT-3 "books-vs-web" lineage: every lowercased whitespace token hashes
    into one of ``n_buckets`` feature buckets, the doc's score is
    sigmoid(bias + mean bucket weight), keep = score >= 0.5.

    ``weights``: a trained weight vector (len == n_buckets) drops in as a
    plan-literal array — the model rides the closure/broadcast exactly like
    a real exported fastText/sklearn linear head, no join, no shuffle, no
    Python. When None, deterministic pseudo-weights are derived per bucket
    from md5("qw:" + bucket) in [-1, 1] — a seeded stand-in with the same
    plan shape (and, unlike a trained artifact, exactly re-derivable in
    ANSI SQL, so the driver oracle checks the whole funnel).

    100 TB shape: ONE codegen'd scan; the per-token work is a higher-order
    ``aggregate`` over an ALREADY-PROJECTED token array (the no-CSE
    lesson); nothing shuffles, so the filter composes with any downstream
    dedup/sampling pass for free.
    """
    D = int(n_buckets)
    toks = docs.select(
        F.col(id_col),
        _tokens(F.lower(F.col(text_col))).alias("_toks"),
    )

    def bucket_of(tok):
        return F.pmod(
            F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long"),
            F.lit(D),
        )

    if weights is not None:
        if len(weights) != D:
            raise ValueError(
                f"weights must have len == n_buckets ({D}), got {len(weights)}"
            )
        warr = F.lit([float(w) for w in weights])

        def weight_of(tok):
            return F.element_at(warr, (bucket_of(tok) + 1).cast("int"))

    else:

        def weight_of(tok):
            # md5-seeded pseudo-weight in [-1, 1]: (md5("qw:"+bucket) %
            # 2001 - 1000) / 1000 — same hex-prefix construction as
            # _md5_bucket, so the SQL twin is exact
            h = F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("qw:"), bucket_of(tok).cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            return (F.pmod(h, F.lit(2001)) - 1000).cast("double") / 1000.0

    n = F.size("_toks")
    sum_w = F.aggregate(
        "_toks", F.lit(0.0), lambda acc, t: acc + weight_of(t)
    )
    z = F.lit(float(bias)) + sum_w / F.greatest(n, F.lit(1)).cast("double")
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return toks.select(
        F.col(id_col),
        n.alias("n_toks"),
        score.alias("score"),
        (score >= 0.5).alias("keep"),
    )


# ---------------------------------------------------------------------------
# URL quality filtering (domain blocklist + pattern rules)


def url_quality_filter(
    pages: DataFrame,
    blocked_hosts: "list[str] | DataFrame | None" = None,
    blocked_patterns: tuple[str, ...] = (),
    max_path_depth: int = 12,
    max_url_len: int = 2048,
    url_col: str = "url",
) -> DataFrame:
    """The URL-level curation pass of a crawl pipeline (C4 / RefinedWeb /
    UT1-blocklist style): annotate every row with (host, path_depth,
    reject_reason) where reject_reason is the FIRST failing rule in
    priority order — 'scheme' (not http/https), 'url_too_long',
    'blocked_host' (the host or ANY parent domain is blocklisted),
    'blocked_pattern' (url matches a rule regex), 'path_too_deep' — or
    NULL for keepers. Original columns pass through.

    Blocklist matching is by domain suffix: host "ads.tracker.example"
    is caught by entry "tracker.example". Two shapes:
      * ``blocked_hosts`` as a python list -> the suffix check rides the
        plan as ``arrays_overlap`` with a literal array — zero joins,
        zero shuffles (right for config-sized lists, and SQL-exact for
        the driver oracle);
      * as a DataFrame (column ``blocked_host``) -> the host's label
        suffixes (bounded by label count, ~6) explode and equi-join the
        BROADCAST blocklist — the UT1-at-scale shape (millions of
        entries still broadcast; past that the same equi-join shuffles),
        never a LIKE-suffix cross-join.
    """
    url = F.col(url_col)
    host = F.lower(F.regexp_extract(url, r"^https?://([^/:?#]+)", 1))
    after_authority = F.regexp_replace(
        url, r"^[a-z][a-z0-9+.\-]*://[^/]*", ""
    )
    depth = F.size(F.split(after_authority, "/")) - 1
    base = pages.withColumn("host", host).withColumn("path_depth", depth)

    labels = F.split(F.col("host"), r"\.")
    suffixes = F.transform(
        F.sequence(F.lit(0), F.size(labels) - 1),
        lambda i: F.array_join(
            F.slice(labels, i + 1, F.size(labels) - i), "."
        ),
    )
    if blocked_hosts is None:
        is_blocked = F.lit(False)
    elif isinstance(blocked_hosts, DataFrame):
        hits = (
            base.select(F.col(url_col).alias("_bu"), F.explode(suffixes).alias("_sfx"))
            .join(
                F.broadcast(blocked_hosts.select(F.col("blocked_host").alias("_sfx"))),
                "_sfx",
            )
            .select("_bu")
            .distinct()
            .withColumn("_is_blocked", F.lit(True))
        )
        base = base.join(
            hits.withColumnRenamed("_bu", url_col), url_col, "left"
        )
        is_blocked = F.coalesce(F.col("_is_blocked"), F.lit(False))
    else:
        is_blocked = F.arrays_overlap(
            suffixes, F.lit([str(h) for h in blocked_hosts])
        )

    pattern_hit = F.lit(False)
    for p in blocked_patterns:
        pattern_hit = pattern_hit | url.rlike(p)

    reason = (
        F.when(~url.rlike(r"^https?://"), F.lit("scheme"))
        .when(F.length(url) > max_url_len, F.lit("url_too_long"))
        .when(is_blocked, F.lit("blocked_host"))
        .when(pattern_hit, F.lit("blocked_pattern"))
        .when(F.col("path_depth") > max_path_depth, F.lit("path_too_deep"))
        .otherwise(F.lit(None).cast("string"))
    )
    out = base.withColumn("reject_reason", reason)
    if "_is_blocked" in out.columns:
        out = out.drop("_is_blocked")
    return out


def registered_domains(
    df: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
) -> DataFrame:
    """Annotate every row with (public_suffix, registered_domain) under
    Public Suffix List semantics (publicsuffix.org/list) — the
    pay-level-domain extraction every host-level curation decision
    should key on: "one quota per example.co.uk", not per ``co.uk``
    (a public suffix shared by millions of registrants) and not per
    ``a.b.example.co.uk`` (one registrant's subdomain dust).

    ``rules`` is a one-column relation (``rule``) of PSL entries:
    normal (``com``, ``co.uk``), wildcard (``*.ck`` — ``*`` matches
    exactly one label), exception (``!www.ck``). Algorithm pinned to
    the PSL spec:

      * a rule matches when its labels are a suffix of the host's
        (wildcard consumes exactly one label; exceptions match by
        exact suffix string);
      * any matching exception rule prevails, and the public suffix is
        that rule MINUS its leftmost label;
      * else the matching rule with the MOST labels prevails;
      * no match -> the implicit ``*`` rule (the bare TLD);
      * registered_domain = public suffix plus one more host label, or
        NULL when the host IS a public suffix.

    100 TB shape: each DISTINCT host explodes into its <= label-count
    suffix candidates (plus their wildcard forms), equi-joins the
    BROADCAST rules relation (the real PSL is ~9k rules), and one
    map-side-combinable max-agg picks the prevailing rule; results
    join back on the host key — every relation after the distinct is
    host-sized, never corpus-sized, and there is no LIKE/regex
    cross-join anywhere."""
    hosts = df.select(F.lower(F.col(host_col)).alias("_h")).distinct()
    labels = F.split(F.col("_h"), r"\.")
    n = F.size(labels)
    # candidates: (string, n_labels, is_wild) for every label suffix
    # and its *-leftmost variant
    plain = F.transform(
        F.sequence(F.lit(1), n),
        lambda k: F.struct(
            F.array_join(
                F.slice(labels, n - k + 1, k), "."
            ).alias("cand"),
            k.alias("k"),
            F.lit(False).alias("wild"),
        ),
    )
    wild = F.filter(
        F.transform(
            F.sequence(F.lit(2), F.greatest(n, F.lit(2))),
            lambda k: F.struct(
                F.concat(
                    F.lit("*."),
                    F.array_join(F.slice(labels, n - k + 2, k - 1), "."),
                ).alias("cand"),
                k.alias("k"),
                F.lit(True).alias("wild"),
            ),
        ),
        lambda s: s["k"] <= n,
    )
    cands = hosts.select(
        "_h", n.alias("_n"), F.explode(F.concat(plain, wild)).alias("c")
    ).select(
        "_h", "_n",
        F.col("c.cand").alias("_cand"),
        F.col("c.k").alias("_k"),
        F.col("c.wild").alias("_wild"),
    )
    r = rules.select(
        F.when(
            F.col("rule").startswith("!"),
            F.expr("substring(rule, 2)"),
        )
        .otherwise(F.col("rule"))
        .alias("_cand"),
        F.col("rule").startswith("!").alias("_exc"),
    )
    hits = cands.join(F.broadcast(r), "_cand").where(
        # exceptions match by exact suffix string only (no wildcard form)
        ~(F.col("_exc") & F.col("_wild"))
    )
    best = hits.groupBy("_h").agg(
        F.max(F.when(F.col("_exc"), F.col("_k") - 1)).alias("_exc_len"),
        F.max(F.when(~F.col("_exc"), F.col("_k"))).alias("_norm_len"),
    )
    resolved = (
        hosts.join(best, "_h", "left")
        .select(
            "_h",
            F.coalesce(
                "_exc_len", "_norm_len", F.lit(1).cast("int")
            ).alias("_slen"),
        )
    )
    rl = F.split(F.col("_h"), r"\.")
    rn = F.size(rl)
    out_cols = resolved.select(
        "_h",
        F.array_join(
            F.slice(rl, rn - F.col("_slen") + 1, F.col("_slen")), "."
        ).alias("public_suffix"),
        F.when(
            rn > F.col("_slen"),
            F.array_join(
                F.slice(
                    rl, rn - F.col("_slen"), F.col("_slen") + 1
                ),
                ".",
            ),
        ).alias("registered_domain"),
    )
    return df.join(
        out_cols.withColumnRenamed("_h", "__rd_host"),
        F.lower(F.col(host_col)) == F.col("__rd_host"),
        "left",
    ).drop("__rd_host")


def remove_boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document line-level dedup (the RefinedWeb / CCNet boilerplate
    pass): drop every line whose NORMALIZED form appears in >= ``min_docs``
    distinct documents, and rebuild the remaining text in original order.

    Pinned semantics (shared with the python kernel and the SQL oracle):
      * units are ``split(text, '\\n')`` lines, positions 0-based;
      * the match key is the normalized line — whitespace runs collapse to
        one space, trim, lowercase — but removal keeps/drops the ORIGINAL
        line bytes;
      * lines whose normalized form is EMPTY are never counted and never
        removed (blank structure survives);
      * document frequency counts DISTINCT documents, not occurrences —
        a line repeated 50x inside one page is repetition (see
        ``repetition_profile``), not boilerplate.

    Returns (id, clean_text, n_lines, n_removed); clean_text is ''
    (not NULL) when everything was boilerplate.

    100 TB shape: the line relation is ONE posexplode scan; the
    boilerplate SET (normalized-line hashes with df >= min_docs) is
    computed from the distinct (hash, doc) pairs and is orders of
    magnitude smaller than the corpus — removal is one equi-join on the
    16-byte hash (the classic funnel: never collect_set per line, a
    footer in 10^8 docs is one count row here). Totals, removal counts,
    and the ordered rebuild (sort_array over collect_list of the
    non-boiler structs — collect_list drops nulls) all come out of ONE
    groupBy on the id key, bounded by document length.
    """
    line_col = F.col("_line")
    from ..functions.urls import WS_CLASS

    norm = F.lower(
        F.trim(F.regexp_replace(line_col, WS_CLASS + "+", " "))
    )
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).withColumn(
        "_h", F.when(norm != "", F.md5(norm))
    )
    lines = cut_lineage(lines)  # feeds the df-count AND the removal join
    boiler = (
        lines.where(F.col("_h").isNotNull())
        .select("_h", "_id")
        .distinct()
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= F.lit(min_docs))
        .select("_h", F.lit(True).alias("_boiler"))
    )
    flagged = lines.join(boiler, "_h", "left")
    # collect_list drops nulls, so the when() keeps exactly the non-boiler
    # lines — removal, totals, and the ordered rebuild in ONE groupBy
    keep_struct = F.when(
        F.col("_boiler").isNull(), F.struct("_pos", "_line")
    )
    return flagged.groupBy(F.col("_id").alias(id_col)).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(F.collect_list(keep_struct)),
                lambda s: s["_line"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("_boiler").isNotNull().cast("long")).alias("n_removed"),
    )


def domain_profile(
    docs: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-host corpus profile -> (host, n_docs, n_dup_docs, dup_ppm,
    sum_chars, n_langs) — the curation dashboard a crawl pipeline slices
    by domain: which hosts are boilerplate farms (high corpus-wide exact-
    dup fraction), which are thin (low sum_chars/n_docs), which are
    multilingual.

    Pinned semantics: host = lowercased hostname (port excluded — the
    url_quality_filter convention) of an http(s) url (rows
    with no extractable host are excluded); a doc counts as duplicated
    when its exact text (md5) appears MORE THAN ONCE corpus-wide —
    including within the same host; dup_ppm = (1000000 * n_dup_docs)
    DIV n_docs (exact bigint — the dup fraction in parts-per-million);
    sum_chars = sum(length(text)) as bigint. All five measures are exact
    integer algebra: no float aggregation, so the profile hashes
    identically across engines and partition orders (a round()'d
    avg/ratio double can land on a different neighboring double per
    engine — the one correctness red of round 4).

    100 TB shape: ONE scan; corpus-wide dup flags come from a count-window
    partitioned by the 16-byte text hash (the dup_spans lesson: one
    shuffle of small rows, spill-safe even when one boilerplate text has
    10^8 copies — a join-back formulation would shuffle the relation
    twice), then one map-side-combinable groupBy on host. countDistinct
    lang expands per host, bounded by the lang-code alphabet.
    """
    from pyspark.sql import Window

    host = F.lower(
        F.regexp_extract(F.col(url_col), r"^https?://([^/:?#]+)", 1)
    )
    rows = docs.select(
        host.alias("_host"),
        F.md5(F.col(text_col)).alias("_sig"),
        F.length(F.col(text_col)).alias("_len"),
        F.col(lang_col).alias("_lang"),
    )
    dup = (
        F.count(F.lit(1)).over(Window.partitionBy("_sig")) > 1
    ).cast("long")
    # dup flags are computed over ALL input rows (per the corpus-wide
    # pin) BEFORE host-less rows drop out of the profile — a text shared
    # with an ftp:// or schemeless row still counts as duplicated
    return (
        rows.withColumn("_dup", dup)
        .where(F.col("_host") != "")
        .groupBy(F.col("_host").alias("host"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_dup").alias("n_dup_docs"),
            F.expr("(sum(_dup) * 1000000L) div count(1)").alias("dup_ppm"),
            F.sum("_len").cast("long").alias("sum_chars"),
            F.countDistinct("_lang").alias("n_langs"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document TF-IDF keyword extraction -> (id, term, tf, df,
    tfidf, rank), the top-``k`` terms per doc. The classic corpus
    summarization / topic-tagging pass of a training-data pipeline
    (what is this page ABOUT, cheaply, for routing and reporting), and
    the raw material for sparse retrieval beside the BM25 operator.

    Pinned semantics: terms are lowercase clean whitespace tokens
    (``ws_tokens_clean``), tf = raw in-doc count, df = docs containing
    the term, ``tfidf = round(tf * ln(N / df), 6)`` with the ratio
    formed BEFORE the log (float-order pin, both engines); top-k by
    (tfidf desc, term asc) — a total order, so rank is deterministic.
    Docs whose every term appears in every doc still emit rows
    (tfidf 0.0) — absence of distinctive terms is itself the signal.

    100 TB shape: one explode + one (doc, term) count (map-side
    combinable), a term-keyed df aggregation REUSING that relation (the
    corpus is tokenized exactly once), a 1-row N broadcast, and the
    equi-join back on term (AQE handles stopword-ish hot terms); the
    final per-doc top-k is a window over doc-sized groups. Nothing
    driver-bound, no second scan of the corpus.
    """
    from pyspark.sql import Window

    tf = cut_lineage(  # feeds BOTH the df aggregation and the join back
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(ws_tokens_clean(F.lower(F.col(text_col)))).alias(
                "term"
            ),
        )
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_rel = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(
        F.countDistinct(id_col).alias("_n")
    )  # 1 row -> broadcast cross-join
    scored = (
        tf.join(df_rel, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("id").alias(id_col),
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("_n") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).where(F.col("rank") <= k)


def importance_sample(
    scored: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    temperature: float = 1.0,
    scale: float = 1.0,
) -> DataFrame:
    """DSIR-style importance RESAMPLING, deterministic: keep a row iff
    ``u(id) < min(1, scale * exp(weight / temperature))`` where
    ``u(id)`` is the row's md5-60bit hash mapped to [0, 1) — i.e.,
    Bernoulli acceptance proportional to exp(weight), the published
    importance-resampling step that turns `dsir_logratio` weights into
    a target-distributed subcorpus, with the coin replaced by the
    repo-wide hash algebra so the SAMPLE ITSELF is reproducible and
    SQL-checkable (a seeded-random sample never is).

    ``temperature`` flattens (>1) or sharpens (<1) the weighting;
    ``scale`` sets overall acceptance mass. Adds ``accept_p`` (rounded
    6dp). One map-side filter — no shuffle, no sort, no driver state;
    composes with any upstream weight (DSIR, quality model, LM score).
    """
    if temperature <= 0 or scale <= 0:
        raise ValueError("temperature and scale must be > 0")
    from .sketches import u01

    u = u01(F.col(id_col))
    p = F.least(
        F.lit(1.0),
        F.lit(float(scale))
        * F.exp(F.col(weight_col) / F.lit(float(temperature))),
    )
    return (
        scored.withColumn("accept_p", F.round(p, 6))
        .where(u < p)
    )


def mix_to_target(
    docs: DataFrame,
    domain_col: str,
    targets: dict[str, float],
    id_col: str = "doc_id",
) -> DataFrame:
    """Reweight the corpus to a TARGET DOMAIN MIXTURE by deterministic
    down-sampling — the data-mixing step between curation and export
    (e.g. "the training set should be 50% en / 25% de / 25% fr
    regardless of what the crawl happened to fetch").

    Feasibility math (pinned, both engines): the binding domain is the
    one with the least data relative to its target; total output size
    ``T = min_d(count_d / target_d)`` over target domains present in the
    corpus, and each domain keeps rows with probability
    ``p_d = (target_d * T) / count_d`` (== 1 for the binding domain —
    down-sampling only, nothing is upweighted or duplicated). Domains
    not in ``targets`` are dropped. The coin is the repo-wide md5 hash
    of the id, so the mixture — like every sample here — is reproducible
    and SQL-checkable; adds ``accept_p`` (rounded 6dp).

    100 TB shape: one combinable count aggregation (domain-cardinality
    rows), a 1-row scalar min cross-joined back (the dangling-mass
    pattern), and a BROADCAST rates join + map-side filter over the
    corpus — the corpus itself never shuffles.
    """
    if not targets or any(t <= 0 for t in targets.values()):
        raise ValueError("targets must be a non-empty dict of positive fracs")
    tdf = local_frame(
        docs.sparkSession, sorted(targets.items()),
        f"{domain_col} string, _t double",
    )
    counts = docs.groupBy(domain_col).agg(F.count(F.lit(1)).alias("_n"))
    rates = counts.join(F.broadcast(tdf), domain_col)
    t_row = rates.agg(
        F.min(F.col("_n").cast("double") / F.col("_t")).alias("_T")
    )
    # t_row derives from rates, so qualify the self-referential crossJoin
    rates = (
        rates.alias("l")
        .crossJoin(F.broadcast(t_row.alias("r")))
        .select(
            F.col(f"l.{domain_col}"),
            (
                F.col("l._t") * F.col("r._T") / F.col("l._n").cast("double")
            ).alias("_p"),
        )
    )
    from .sketches import u01

    u = u01(F.col(id_col))
    return (
        docs.join(F.broadcast(rates), domain_col)
        .withColumn("accept_p", F.round(F.col("_p"), 6))
        .where(u < F.col("_p"))
        .drop("_p")
    )
