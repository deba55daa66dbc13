"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 (plus the
training-data-pipeline operator set) to a DataFrame callable over the driver
testdata; ``oracle_sql()`` gives the DuckDB-equivalent SQL. Column names and
rounding are aligned on both sides so the driver's order-insensitive
value-hash comparison is exact.

Of the 63 queries, 62 have DuckDB oracles (d_simhash gained one in round
3 by switching its token hash to an md5-derived 64-bit value, the same
trick as t_winnow; w2_rerank_topk gained one the same round — the
sanctioned overlap reranker is deterministic, so the whole two-stage
funnel is SQL). The 1 without (kg_pipeline_mini: full DAG) is pinned by
pytest P/R == 1.0 vs the golden corpus (tests/test_pipeline.py).
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chunksilo_spark.functions.textstats import (
    ISSUE_KEY_RE,
    STOPWORDS,
    ws_tokens_split,
)
from chunksilo_spark.operators import cooccur as co
from chunksilo_spark.operators import curation as cu
from chunksilo_spark.operators import dedup as dd
from chunksilo_spark.operators import export as ex
from chunksilo_spark.operators import graph as gr
from chunksilo_spark.operators import incremental as incr
from chunksilo_spark.operators import multimodal as mm
from chunksilo_spark.operators import search as srch
from chunksilo_spark.operators import similarity as sim

LN2 = math.log(2.0)
NOW = "2024-02-01"
_SW_EN = STOPWORDS["en"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's run_search funnel as one DataFrame query."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    return srch.search_documents(docs, "spark join window table scan", k=20)


# ---------------------------------------------------------------------------
# query implementations


def _q1_pricing_summary(spark, sf):  # A3/A4 agg analog; TPC-H Q1 shape
    li = _t(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _j1_new_keys(spark, sf):  # J1 left-anti: "new files"
    return (
        _t(spark, sf, "orders")
        .join(_t(spark, sf, "lineitem"),
              F.col("o_orderkey") == F.col("l_orderkey"), "left_anti")
        .select("o_orderkey")
    )


def _j2_deleted_keys(spark, sf):  # J2 left-anti vs a filtered state set
    li_hi = _t(spark, sf, "lineitem").where(F.col("l_quantity") > 45)
    return (
        _t(spark, sf, "orders")
        .join(li_hi, F.col("o_orderkey") == F.col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_orderstatus")
    )


def _incr_change_detect(spark, sf):  # J1+J2 full classification on hashes
    orders = _t(spark, sf, "orders")
    state = orders.where(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("url"),
        F.md5(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string")
        ).alias("content_md5"),
    )
    snap = orders.where(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("url"),
        F.md5(
            (
                F.round(F.col("o_totalprice") * 100).cast("bigint")
                + F.when(F.col("o_orderkey") % 3 == 0, 1).otherwise(0)
            ).cast("string")
        ).alias("content_md5"),
    )
    # single-scan classification: one full-outer join -> 2 parquet scans
    # (the union-of-filtered-classes formulation re-scanned each side 4x)
    log = incr.change_log(snap, state, key="url", hash_col="content_md5")
    return log.groupBy("change").agg(F.count(F.lit(1)).alias("n"))


def _q3_shipping_priority(spark, sf):  # 3-way join + agg + top-k
    cust = _t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue")
    )


def _q5_local_supplier(spark, sf):  # 5-way join incl. broadcast dims
    region = _t(spark, sf, "region")
    nation = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier")
    return (
        F.broadcast(region)
        .join(F.broadcast(nation), F.col("r_regionkey") == F.col("n_regionkey"))
        .join(cust, F.col("n_nationkey") == F.col("c_nationkey"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("n_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _e_sessionize(spark, sf):  # gap-based sessionization (lag + cumsum)
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    # NTZ -> epoch secs; Spark's cast(ts AS LONG) is floorDiv(micros, 1e6),
    # i.e. floor() — the oracle uses floor(epoch(ts)) explicitly to match
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 1800), F.lit(1)
    ).otherwise(F.lit(0))
    sess = (
        ev.withColumn("new_s", new_session)
        .withColumn(
            "session_id",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def _a1_rollup(spark, sf):  # A1 collect_list ledger rollup
    return (
        _t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(
            F.concat_ws(
                ",", F.sort_array(F.collect_list("o_orderkey"))
            ).alias("order_keys_csv"),  # reference ledger stores CSV ids
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def _a2_first_per_key(spark, sf):  # A2 first-per-key dedup
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def _o1_recency_boost(spark, sf):  # O1 recency boost + resort + cap
    ev = _t(spark, sf, "events")
    boosted = F.round(
        F.col("value")
        * (
            F.lit(1.0)
            + F.lit(0.5)
            * F.exp(
                F.lit(-LN2 / 30.0)
                * F.datediff(F.lit(NOW).cast("timestamp"), F.col("ts"))
            )
        ),
        6,
    )
    return (
        ev.withColumn("boosted", boosted)
        .orderBy(F.desc("boosted"), F.asc("event_id"))
        .limit(100)
        .select("event_id", "boosted")
    )


def _w1_topk_per_type(spark, sf):  # W1 vector-top-k analog: top-3 per group
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("event_type", "event_id", F.round("value", 6).alias("value"), "rank")
    )


def _w4_candidate_cap(spark, sf):  # W4 recency-sort then cap 100
    ev = _t(spark, sf, "events")
    return (
        ev.orderBy(F.desc("ts"), F.asc("event_id"))
        .limit(100)
        .select("event_id", "event_type")
    )


def _p3_date_filter(spark, sf):  # P3 date range, missing date passes
    ev = _t(spark, sf, "events")
    return srch.date_range_filter(ev, "ts", "2024-01-10", "2024-01-20").select(
        "event_id", "user_id"
    )


def _p5_phrase_filter(spark, sf):  # P5 required phrases (ALL must appear)
    docs = _t(spark, sf, "documents")
    return srch.phrase_post_filter(docs, "text", ["spark", "join"]).select(
        "doc_id", "n_chars"
    )


_GLOB_INCLUDE = ["src1/*/*", "SRC2/*/*", "doc-1*.txt"]
_GLOB_EXCLUDE = ["**/de/**", "doc-?3.txt"]


def _glob_path():
    return F.concat(
        F.col("source"), F.lit("/"), F.col("lang"),
        F.lit("/doc-"), F.col("doc_id").cast("string"), F.lit(".txt"),
    )


def _s3_glob_filter(spark, sf):  # S3 glob include/exclude over paths
    # exclude-first, **/X/** per-component, right-anchored components,
    # case-insensitive (note the deliberately upper-cased include pattern);
    # the glob->regex translation is shared verbatim with the oracle
    docs = _t(spark, sf, "documents").withColumn("path", _glob_path())
    return srch.glob_filter(
        docs, _GLOB_INCLUDE, _GLOB_EXCLUDE, col="path"
    ).select("doc_id", "path")


def _o3_except_users(spark, sf):  # O3 set difference
    ev = _t(spark, sf, "events").where(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    views = ev.where(F.col("event_type") == "view").select("user_id").distinct()
    return clicks.exceptAll(views).distinct().select("user_id")


def _j3_union_dedup(spark, sf):  # J3 priority union, first-seen wins
    ev = _t(spark, sf, "events")
    a = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.lit(1).alias("priority")
    )
    b = ev.where(F.col("event_type") == "signup").select(
        "user_id", "event_id", F.lit(2).alias("priority")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.asc("priority"), F.asc("event_id")
    )
    return (
        a.unionByName(b)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "priority")
    )


def _f1_tokenize(spark, sf):  # F1 filename-ish tokenization + explode
    part = _t(spark, sf, "part")
    return (
        part.select(
            F.explode(
                F.split(F.lower(F.col("p_name")), r"[\s_\-.]+")
            ).alias("token")
        )
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _f2_line_stats(spark, sf):  # F2 line offsets analog: line counts
    docs = _t(spark, sf, "documents")
    n_lines = (
        F.length("text") - F.length(F.regexp_replace("text", "\n", "")) + 1
    )
    return docs.select(
        "doc_id", n_lines.alias("n_lines"), F.length("text").alias("len_chars")
    )


def _f5_stopword_filter(spark, sf):  # F5 stopword removal
    docs = _t(spark, sf, "documents")
    toks = F.array_distinct(ws_tokens_split(F.lower("text")))
    kept = F.size(
        F.filter(toks, lambda x: ~F.array_contains(F.array(*map(F.lit, _SW_EN)), x))
    )
    return docs.select("doc_id", kept.alias("n_content_tokens"))


def _w5_first_match_line(spark, sf):  # W5/W6 char offset -> line number
    docs = _t(spark, sf, "documents")
    pos = F.instr(F.lower("text"), "spark")
    prefix = F.substring("text", 1, pos - 1)
    line_no = F.length(prefix) - F.length(F.regexp_replace(prefix, "\n", "")) + 1
    return (
        docs.withColumn("pos", pos)
        .where(F.col("pos") > 0)
        .select("doc_id", "pos", line_no.alias("line_no"))
    )


def _u5_bm25(spark, sf):  # U5 BM25 scoring (shared ranking operator)
    from chunksilo_spark.operators.ranking import bm25_scores

    docs = _t(spark, sf, "documents")
    scored = bm25_scores(
        docs, "doc_id", ws_tokens_split(F.lower("text")), ["spark", "join"]
    )
    return (
        scored.select("doc_id", F.round("score", 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


def _flagship_search(spark, sf):  # the run_search funnel (U6/P4/P5/O2)
    docs = _t(spark, sf, "documents")
    return srch.search_documents(docs, "spark join window table scan", k=20)


def _w2_rerank_topk(spark, sf):  # U4/W2 rerank stage (overlap model, oracle-exact)
    docs = _t(spark, sf, "documents")
    cands = srch.search_documents(
        docs, "spark join window table scan", k=srch.RERANK_CANDIDATES
    ).join(docs.select("doc_id", "text"), "doc_id")
    return srch.rerank(cands, "spark join window table scan", k=5).select(
        "doc_id", "rerank_score"
    )


def _f13_json_props(spark, sf):  # JSON metadata extraction (F13 shaping)
    ev = _t(spark, sf, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


def _f14_extras(spark, sf):  # ragged metadata map (MapType, SURVEY §1.3)
    # build a ragged extras map per doc (the 'big' key only exists for long
    # docs — MapType raggedness), then read it back with element_at/size;
    # the pipeline producer of the same shape is stage1's documents.extras
    docs = _t(spark, sf, "documents")
    extras = F.map_filter(
        F.create_map(
            F.lit("source"), F.col("source"),
            F.lit("lang"), F.col("lang"),
            F.lit("big"), F.when(F.col("n_chars") > 400, F.lit("y")),
        ),
        lambda k, v: v.isNotNull(),
    )
    return docs.select(
        "doc_id",
        F.element_at(extras, "source").alias("x_source"),
        F.element_at(extras, "big").alias("x_big"),
        F.size(extras).alias("n_extras"),
    )


def _t_repetition(spark, sf):  # Gopher-style duplicate-3-gram fraction
    return cu.repetition_profile(_t(spark, sf, "documents"))


def _t_pii_scrub(spark, sf):  # email/phone redaction counts + clean digest
    # the synthetic corpus has no PII, so salt a deterministic subset with
    # known spans — the scrub then provably fires (and the oracle salts
    # identically)
    docs = _t(spark, sf, "documents")
    salted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact bob@example.com or 555-123-4567 now"),
            ),
        ).otherwise(F.col("text")),
    )
    return cu.pii_scrub(salted)


def _d_contamination(spark, sf):  # benchmark decontamination (8-gram join)
    docs = _t(spark, sf, "documents")
    return cu.contamination_check(docs, docs.where(F.col("doc_id") % 7 == 0))


def _t_stratified_sample(spark, sf):  # deterministic hash-rate sampling
    return cu.stratified_sample(
        _t(spark, sf, "documents"), ["lang"], {("en",): 37, ("de",): 11}
    ).select("doc_id", "lang")


def _f8_date_strings(spark, sf):  # F7/F8 date <-> string round-trip
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        F.year("o_orderdate").alias("yr"),
    )


def _t_lang_id(spark, sf):  # language ID via stopword votes
    docs = _t(spark, sf, "documents")
    toks = ws_tokens_split(F.lower("text"))
    votes = {
        lang: F.size(
            F.array_intersect(toks, F.array(*map(F.lit, STOPWORDS[lang])))
        )
        for lang in sorted(STOPWORDS)
    }
    langs = sorted(STOPWORDS)  # de, en, es, fr, sv
    expr = None
    for lang in langs:
        cond = F.lit(True)
        for other in langs:
            if other != lang:
                cond = cond & (votes[lang] >= votes[other])
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return docs.select("doc_id", expr.otherwise(F.lit("und")).alias("lang_pred"))


def _t_token_counts(spark, sf):  # whitespace + BPE-ish token counting
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.size(ws_tokens_split("text")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                "text", F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"), 0
            )
        ).alias("bpeish_tokens"),
    )


def _t_quality(spark, sf):  # quality scoring
    docs = _t(spark, sf, "documents")
    words = ws_tokens_split(F.lower("text"))
    n_words = F.size(words)
    len_score = F.least(n_words / F.lit(100.0), F.lit(1.0))
    n_punct = F.size(F.regexp_extract_all("text", F.lit(r"[^\w\s]"), 0))
    punct_score = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.lit(5.0) * n_punct / F.length("text")
    )
    n_stop = F.size(
        F.filter(words, lambda x: F.array_contains(F.array(*map(F.lit, _SW_EN)), x))
    )
    stop_ratio = n_stop / n_words
    q = F.round(
        F.lit(0.4) * len_score + F.lit(0.3) * punct_score + F.lit(0.3) * stop_ratio,
        4,
    )
    return docs.select("doc_id", q.alias("quality"))


def _t_fingerprints(spark, sf):  # content fingerprint (md5 of normalized)
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id", F.md5(F.encode(F.trim(F.lower("text")), "utf-8")).alias("fp")
    )


def _d_exact(spark, sf):  # exact dedup via hash-groupBy
    return dd.exact_dedup(_t(spark, sf, "documents"))


def _d_token_jaccard(spark, sf):  # blocked pairwise Jaccard
    return dd.ngram_jaccard_pairs(
        _t(spark, sf, "documents"), ["source", "n_chars"], threshold=0.2
    )


def _d_minhash_lsh(spark, sf):  # MinHash-LSH candidate pairs
    # Projected to the pair ids: the oracle is the EXACT all-pairs word-3-gram
    # Jaccard >= 0.5 over exact-dup representatives, so a green row proves the
    # banding has recall 1.0 AND no sub-threshold collisions on this corpus
    # (the testdata's near-dup pairs all sit at >= 0.888; the next tier is
    # <= 0.35 — deterministic with the seeded permutations). n_bands /
    # est_jaccard stay on the operator and are pytest-checked vs exact
    # Jaccard (tests/test_operators.py).
    return dd.minhash_lsh_pairs(_t(spark, sf, "documents")).select(
        "doc_a", "doc_b"
    )


def _d_simhash(spark, sf):  # SimHash fingerprints (md5 token hash -> SQL oracle)
    return dd.simhash_fingerprints(_t(spark, sf, "documents"))


def _t_url_filter(spark, sf):  # C4/RefinedWeb-style URL curation verdicts
    # urls synthesized per doc_id (documents carry no url column); the
    # CASE construction is mirrored verbatim in the oracle, while the
    # VERDICTS are derived independently (suffix-explode arrays_overlap on
    # the Spark side vs host LIKE-suffix disjunction in SQL)
    d = F.col("doc_id")
    url = (
        F.when(d % 89 == 0, F.concat(F.lit("ftp://files.example/f"), d.cast("string")))
        .when(d % 83 == 0, F.concat(F.lit("https://long.example/"), F.lpad(F.lit(""), 600, "x")))
        .when(d % 13 == 0, F.concat(F.lit("https://ads.tracker.example/p"), d.cast("string")))
        .when(d % 17 == 0, F.concat(F.lit("https://site.example/p"), d.cast("string"), F.lit("?utm_source=feed")))
        .when(d % 19 == 0, F.concat(F.lit("https://deep.example/a/b/c/d/e/f/g/"), d.cast("string"), F.lit(".html")))
        .otherwise(
            F.concat(
                F.lit("https://site"), (d % 7).cast("string"),
                F.lit(".example/dir"), (d % 3).cast("string"),
                F.lit("/page"), d.cast("string"), F.lit(".html"),
            )
        )
    )
    pages = _t(spark, sf, "documents").select(F.col("doc_id"), url.alias("url"))
    return cu.url_quality_filter(
        pages,
        blocked_hosts=["tracker.example", "spam.example"],
        blocked_patterns=[r"[?&]utm_"],
        max_path_depth=6,
        max_url_len=512,
    ).select("doc_id", "url", "host", "path_depth", "reject_reason")


def _d_semdedup(spark, sf):  # SemDeDup: cluster + within-cluster cosine prune
    # sign-bucket clustering (SQL-exact); threshold 0.25 because the
    # synthetic embeddings are near-orthogonal (max in-bucket cosine
    # ~0.47) — at 0.9 the drop set is empty and the query proves nothing
    return dd.semdedup(_t(spark, sf, "embeddings"), threshold=0.25)


def _d_semdedup_kmeans(spark, sf):  # SemDeDup over the k-means assignment
    # the SemDeDup paper's actual recipe (k-means clusters, not sign
    # buckets) through the cluster_col seam; the oracle replays the full
    # Lloyd's fit as CTEs and the within-cluster prune on its labels
    from chunksilo_spark.operators.clustering import kmeans_assign

    emb = _t(spark, sf, "embeddings")
    clustered = emb.join(
        kmeans_assign(emb, k=4, iters=2).select("vec_id", "cluster_id"),
        "vec_id",
    )
    return dd.semdedup(clustered, threshold=0.25, cluster_col="cluster_id")


def _t_quality_model(spark, sf):  # fastText-style hashed linear classifier
    # md5-seeded pseudo-weights (a trained vector drops in as a plan
    # literal with the same shape); one scan, zero shuffle; the oracle
    # re-derives hash -> bucket -> weight -> sigmoid in pure SQL
    return cu.hashed_linear_quality(_t(spark, sf, "documents"))


def _d_dup_spans(spark, sf):  # corpus-duplicated word-8-gram spans per doc
    # the word-granularity exact-substring-dedup profile (Lee et al. 2021);
    # oracle re-derives the positioned-gram funnel and the interval merge in
    # pure SQL
    return dd.dup_ngram_spans(_t(spark, sf, "documents"), n=8, min_count=2)


def _d_neardup_verified(spark, sf):  # LSH candidates -> exact verification
    # exact word-3-gram Jaccard (the space the bands estimate) over the LSH
    # candidates only; oracle = brute-force all-pairs in the same space
    return dd.neardup_verified(_t(spark, sf, "documents"), threshold=0.5)


def _d_neardup_incremental(spark, sf):  # delta-vs-corpus dedup (no self-join)
    # the daily-delta shape: new docs (doc_id % 5 == 0) matched against the
    # existing corpus; oracle = md5 equi-join for exact + all-pairs 3-gram
    # jaccard across the same split
    docs = _t(spark, sf, "documents")
    return dd.neardup_against(
        docs.where(F.col("doc_id") % 5 == 0),
        docs.where(F.col("doc_id") % 5 != 0),
        threshold=0.5,
    )


def _d_dedup_clusters(spark, sf):  # end-to-end dedup: doc -> cluster -> keep?
    # exact-dup collapse + verified near-dup pairs + connected components;
    # oracle = the all-pairs jaccard SQL closed transitively with a
    # recursive CTE (an independent closure computation, not the
    # operator's union-find or star-star rounds)
    return dd.dedup_clusters(_t(spark, sf, "documents"), threshold=0.5)


def _t_corpus_filter(spark, sf):  # composite training-data filter
    docs = _t(spark, sf, "documents")
    words = ws_tokens_split(F.lower("text"))
    n_words = F.size(words)
    len_score = F.least(n_words / F.lit(100.0), F.lit(1.0))
    n_punct = F.size(F.regexp_extract_all("text", F.lit(r"[^\w\s]"), 0))
    punct_score = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.lit(5.0) * n_punct / F.length("text")
    )
    n_stop = F.size(
        F.filter(words, lambda x: F.array_contains(F.array(*map(F.lit, _SW_EN)), x))
    )
    quality = F.round(
        F.lit(0.4) * len_score + F.lit(0.3) * punct_score
        + F.lit(0.3) * n_stop / n_words,
        4,
    )
    w = Window.partitionBy(F.md5("text")).orderBy(F.asc("doc_id"))
    return (
        docs.withColumn("quality", quality)
        .withColumn("dup_rank", F.row_number().over(w))
        .select(
            "doc_id",
            "quality",
            (
                (F.col("lang") == "en")
                & (F.col("quality") >= 0.2)
                & (F.col("dup_rank") == 1)
                & (F.length("text") >= 50)
            ).alias("keep"),
        )
    )


def _s_knn_bruteforce(spark, sf):  # exact cosine top-5 for 10 queries
    emb = _t(spark, sf, "embeddings")
    return sim.brute_force_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


def _clustered_embeddings(emb):
    """Deterministic cluster-structured variant of the embeddings table:
    add a +8.0 spike at index=label (labels 0..9) to each unit vector.
    The raw synthetic embeddings are isotropic noise (top-1 cosine ~0.33) —
    the degenerate regime where ANY sublinear ANN has near-zero recall; the
    spiked variant is the clustered regime LSH is built for. Same transform
    on the oracle side (list_transform with CASE on the 1-based index)."""
    spiked = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x, i: x
        + F.when(i == F.col("label"), F.lit(8.0)).otherwise(F.lit(0.0)),
    )
    return emb.select("vec_id", spiked.alias("embedding"))


def _s_knn_lsh(spark, sf):  # LSH-bucketed ANN
    # exact-oracle contract: on the clustered input the banded-LSH funnel
    # must return exactly the brute-force top-5 (recall 1.0) — the oracle is
    # the brute-force SQL over the same derived vectors. The raw-noise
    # recall floor is pytest-documented (tests/test_retrieval.py).
    emb = _clustered_embeddings(_t(spark, sf, "embeddings"))
    return sim.lsh_topk(emb, emb.where(F.col("vec_id") < 10), dim=64, k=5)


def _t_winnow(spark, sf):  # winnowing rolling-hash document fingerprint
    import pandas as pd

    from chunksilo_spark.functions.minhash import rolling_fingerprint

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "winnow_fp": [rolling_fingerprint(t) for t in pdf["text"]],
                }
            )

    docs = _t(spark, sf, "documents")
    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, winnow_fp string"
    )


def _d_embedding_neardup(spark, sf):  # embedding-cosine near-dup (top-1)
    emb = _t(spark, sf, "embeddings")
    sample = emb.where(F.col("vec_id") < 50)
    return dd.embedding_neardup(emb, sample, threshold=0.2).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )


def _a6_rollup_sets(spark, sf):  # ROLLUP grouping sets (subtotal rows)
    o = _t(spark, sf, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "n", "total")
    )


def _w7_percentiles(spark, sf):  # exact interpolated percentiles per group
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


def _s_knn_ivf(spark, sf):  # IVF coarse-quantizer ANN
    # same exact-oracle contract as s_knn_lsh: on the clustered derivation
    # the IVF probe funnel must return exactly the brute-force top-5 (the
    # 10 spike clusters are recovered by the seeded spherical k-means, and
    # n_probe=2 covers the boundary cases)
    emb = _clustered_embeddings(_t(spark, sf, "embeddings"))
    return sim.ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, n_centroids=16, n_probe=2
    )


def _s_kmeans(spark, sf):  # distributed Lloyd's k-means, 2 full rounds
    # the ITERATIVE fit is oracle-checked: seeds = 4 lowest ids, two
    # E/M rounds with round-6 pins, final assignment — the SQL twin
    # unrolls the same algebra as CTE chains (see _kmeans_oracle)
    from chunksilo_spark.operators.clustering import kmeans_assign

    return kmeans_assign(_t(spark, sf, "embeddings"), k=4, iters=2)


def _kmeans_oracle(k: int = 4, iters: int = 2) -> str:
    """Generate the DuckDB twin of _s_kmeans: per-dimension relation
    (unnest zip), seed centroids = k lowest ids, then per iteration an
    E-step (dist = round(sum sq-diff, 6), argmin by (dist, cluster)) and
    an M-step (centroid = round(sum/count, 6), empty clusters keep the
    previous centroid via LEFT JOIN + COALESCE)."""
    sql = [
        """
        WITH pts AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ), dims AS (
            SELECT vec_id, unnest(emb) AS v,
                   unnest(range(1, len(emb) + 1)) AS i
            FROM pts
        ), seeds AS (
            SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cl
            FROM pts ORDER BY vec_id LIMIT %d
        ), c0 AS (
            SELECT s.cl, d.i, d.v AS c
            FROM seeds s JOIN dims d USING (vec_id)
        )"""
        % k
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        sql.append(
            """, a{it} AS (
            SELECT d.vec_id, cd.cl,
                   round(SUM((d.v - cd.c) * (d.v - cd.c)), 6) AS dist
            FROM dims d JOIN {prev} cd ON d.i = cd.i
            GROUP BY d.vec_id, cd.cl
        ), a{it}f AS (
            SELECT vec_id, cl FROM (
                SELECT vec_id, cl, row_number() OVER (
                    PARTITION BY vec_id ORDER BY dist ASC, cl ASC) AS rn
                FROM a{it}
            ) WHERE rn = 1
        ), m{it} AS (
            SELECT a.cl, d.i, round(SUM(d.v) / COUNT(*), 6) AS c
            FROM a{it}f a JOIN dims d USING (vec_id)
            GROUP BY a.cl, d.i
        ), c{it} AS (
            SELECT p.cl, p.i, COALESCE(m.c, p.c) AS c
            FROM {prev} p LEFT JOIN m{it} m ON p.cl = m.cl AND p.i = m.i
        )""".format(it=it, prev=prev)
        )
        prev = f"c{it}"
    sql.append(
        """, fin AS (
            SELECT d.vec_id, cd.cl,
                   round(SUM((d.v - cd.c) * (d.v - cd.c)), 6) AS dist
            FROM dims d JOIN {prev} cd ON d.i = cd.i
            GROUP BY d.vec_id, cd.cl
        )
        SELECT vec_id, CAST(cl AS INT) AS cluster_id, dist FROM (
            SELECT vec_id, cl, dist, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist ASC, cl ASC) AS rn
            FROM fin
        ) WHERE rn = 1""".format(prev=prev)
    )
    return "".join(sql)


def _m_binary_meta(spark, sf):  # multimodal: opaque binary metadata
    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return mm.binary_metadata(docs).select("asset_id", "n_bytes", "content_md5")


def _m_decode_features(spark, sf):  # multimodal: stubbed decoder
    # features projected to scalar columns so the driver's canonicalizer can
    # hash them; the md5-stripe fake kernel is SQL-expressible, so the DuckDB
    # oracle re-derives the exact values (text is ASCII in the testdata, so
    # byte stripes == char stripes on the oracle side).
    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    feats = mm.decode_features(docs)
    return feats.select(
        "asset_id",
        "n_bytes",
        "codec",
        *[
            F.round(F.col("features")[i].cast("double"), 4).alias(f"f{i}")
            for i in range(mm.FEATURE_DIM)
        ],
    )


def _kg_pipeline_mini(spark, sf):  # end-to-end KG DAG (rows-only)
    from chunksilo_spark.operators import stage1_extract as s1
    from chunksilo_spark.operators import stage2_link as s2
    from chunksilo_spark.operators import stage3_triples as s3
    from chunksilo_spark.plans.pipeline import _canon_from_linked
    from chunksilo_spark.sources.corpus import aliases_df, pages_df

    pages = pages_df(spark, 100, partitions=8)
    aliases = aliases_df(spark)
    documents = s1.extract_documents(pages, partitions=8)
    alias_bc = s2.build_alias_broadcast(spark, aliases)
    linked = s2.detect_and_link(documents, alias_bc)
    raw = s3.extract_raw_triples(documents)
    canon = _canon_from_linked(aliases, linked)
    triples = s3.canonical_triples(raw, s3.linked_surfaces(linked), canon)
    return (
        triples.groupBy("subj_canon", "pred", "obj_canon")
        .agg(F.count(F.lit(1)).alias("support"))
    )


_KG_QUERY = "Acme Systems acquired partnered with Vertex"
# see _SCRATCH_ROOT below for why this is env-overridable
_KG_CHUNKS_PATH = (
    os.environ.get("CHUNKSILO_SCRATCH_ROOT", "/tmp") + "/chunksilo_kg_chunks_150"
)


def _kg_query_vec() -> list[float]:
    """The query's BoW embedding, L2-normalized, as exact float32 values —
    shared literal between the Spark plan and the DuckDB oracle."""
    import numpy as np

    from chunksilo_spark.functions.embed import bow_embed

    q = np.array(bow_embed(_KG_QUERY), dtype=np.float32)
    n = np.linalg.norm(q)
    if n > 0:
        q = q / n
    return [float(x) for x in q]


def _kg_vector_search(spark, sf):  # U1+U2+U3+W1 end-to-end
    # materializes the chunks-with-embeddings table (the persisted vector
    # index) to a fixed path, then searches the STORED table — the oracle
    # reads the same parquet and re-scores with list_dot_product, so the
    # whole chunk/embed/score/top-k funnel is value-checked. Scores are
    # ranked on the rounded value for deterministic cross-engine ordering.
    from chunksilo_spark.operators import retrieval as rt
    from chunksilo_spark.operators import stage1_extract as s1
    from chunksilo_spark.sources.corpus import pages_df

    docs = s1.extract_documents(pages_df(spark, 150, partitions=8), partitions=8)
    rt.chunks_with_embeddings(docs).write.mode("overwrite").parquet(
        _KG_CHUNKS_PATH
    )
    stored = spark.read.parquet(_KG_CHUNKS_PATH)
    return rt.search_index(stored, _KG_QUERY, k=10, round_to=6).select(
        "url", "chunk_id", "char_start", "score"
    )


# Scratch root for the stateful queries (incr_apply, kg_vector_search).
# Fixed by default so the driver's Spark run and its DuckDB oracle agree on
# the path even if they import this module in separate processes; the env
# override exists so TWO CONCURRENT gate runs (e.g. a manual
# check_oracles.py while the pytest oracle gate is running) don't rmtree
# each other's state mid-build — conftest.py points the pytest session at
# its own tmp root.
_SCRATCH_ROOT = os.environ.get("CHUNKSILO_SCRATCH_ROOT", "/tmp")
_INCR_STATE_DIR = f"{_SCRATCH_ROOT}/chunksilo_incr_state"
_INCR_SCRATCH_DIR = f"{_SCRATCH_ROOT}/chunksilo_incr_scratch"


def _incr_pages_v2(spark):
    """Snapshot 2: pages 0..45 with ~10% deleted, ~20% modified (html
    perturbed), ids 40..45 new vs the 40-page snapshot 1 — all derived
    deterministically from the synthetic corpus."""
    from chunksilo_spark.sources.corpus import pages_df

    base = pages_df(spark, 46, partitions=4)
    h = F.abs(F.xxhash64("url")) % 10
    is_old = ~F.col("url").rlike("-4[0-5]$")
    deleted = (h == 0) & is_old
    modified = h.isin(1, 2) & is_old
    return base.where(~deleted).withColumn(
        "html",
        F.when(
            modified, F.concat(F.col("html"), F.lit(b"<p>edited</p>"))
        ).otherwise(F.col("html")),
    )


def _incr_apply(spark, sf):  # §2.9 end-to-end incremental apply
    # build state from snapshot 1, apply snapshot 2 incrementally (classify
    # -> re-extract frontier only -> row-level merge -> global rebuild), and
    # ALSO run the full pipeline from scratch on snapshot 2 into a scratch
    # dir: the oracle reads the scratch tables, so a green row proves
    # incremental apply == from-scratch rebuild on documents AND edges.
    import shutil

    from chunksilo_spark.plans.pipeline import apply_increment, run_pipeline
    from chunksilo_spark.sources.corpus import aliases_df, pages_df

    aliases = aliases_df(spark)
    v1 = pages_df(spark, 40, partitions=4)
    v2 = _incr_pages_v2(spark)
    shutil.rmtree(_INCR_STATE_DIR, ignore_errors=True)
    shutil.rmtree(_INCR_SCRATCH_DIR, ignore_errors=True)
    run_pipeline(spark, v1, aliases, _INCR_STATE_DIR, fingerprint="incr_v1")
    got = apply_increment(
        spark, v2, aliases, _INCR_STATE_DIR, fingerprint="incr_v2"
    )
    run_pipeline(spark, v2, aliases, _INCR_SCRATCH_DIR, fingerprint="incr_v2")
    docs_part = got["documents"].select(
        F.lit("documents").alias("tbl"),
        F.col("url").alias("k"),
        F.col("content_md5").alias("v"),
    )
    edges_part = got["edges"].select(
        F.lit("edges").alias("tbl"),
        F.concat_ws("|", "subj_canon", "pred", "obj_canon").alias("k"),
        F.col("support").cast("string").alias("v"),
    )
    return docs_part.unionByName(edges_part)


# ---------------------------------------------------------------------------
# web-graph queries (operators/graph.py): the link-graph side of the KG —
# F10 URI resolution, degree stats, PageRank over a deterministically
# derived edge set (documents has no link columns, so edges are an exact
# function of doc_id that both engines re-derive: two md5-salted targets
# per doc + a hub edge from every 5th doc for skew)


def _derived_edges(spark, sf):
    docs = _t(spark, sf, "documents").select("doc_id")
    n = docs.count()  # doc_ids are contiguous 0..n-1 -> no dangling nodes

    def tgt(salt):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(n))

    e1 = docs.select(F.col("doc_id").alias("src"), tgt("e1:").alias("dst"))
    e2 = docs.select(F.col("doc_id").alias("src"), tgt("e2:").alias("dst"))
    hub = docs.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    return e1.union(e2).union(hub).distinct()


def _g_pagerank(spark, sf):  # iterative-join PageRank, top-50 by rank
    edges = _derived_edges(spark, sf)
    return gr.rank_topk(gr.pagerank(edges, iters=3), 50)


def _kg_bgp_match(spark, sf):  # conjunctive triple-pattern query (SPARQL BGP)
    # "user pairs that purchased in the same value band, where the first
    # also clicked that band" — a 3-pattern star+chain over the claims
    # relation; constants push to the scan, joins are on variables
    from chunksilo_spark.operators.bgp import bgp_match

    claims = _kg_obs(spark, sf).select("subj", "pred", "obj").distinct()
    return bgp_match(
        claims,
        [
            ("?a", "purchase", "?v"),
            ("?b", "purchase", "?v"),
            ("?a", "click", "?v"),
        ],
        select=["a", "b", "v"],
        filters=[F.col("a") < F.col("b")],
        distinct=True,
        # claims is .distinct()'d and select keeps every variable, so the
        # trailing distinct is provably a no-op (bgp.py docstring) — its
        # elision removes the full-output 2.5M-row exchange+aggregate
        input_distinct=True,
    )


def _g_pagerank_weighted(spark, sf):  # evidence-weighted walk, top-50
    edges = _derived_edges(spark, sf).withColumn(
        "w",
        (1 + F.pmod(F.col("src") + F.col("dst"), F.lit(5))).cast("double"),
    )
    return gr.rank_topk(gr.pagerank(edges, iters=3, weight_col="w"), 50)


def _g_ppr(spark, sf):  # personalized PageRank from a weighted seed slice
    edges = _derived_edges(spark, sf)
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    seeds = docs.where(d % 50 == 0).select(
        d.alias("node"), (1 + d % 3).cast("double").alias("weight")
    )
    return gr.rank_topk(
        gr.personalized_pagerank(edges, seeds, iters=2), 50
    )


def _kg_bgp_optional(spark, sf):  # OPTIONAL left-join + MINUS anti-join
    # purchases, optionally joined to a view of the same band, minus
    # bands the user also errored on — the SPARQL OPTIONAL/MINUS core
    from chunksilo_spark.operators.bgp import bgp_match

    claims = _kg_obs(spark, sf).select("subj", "pred", "obj").distinct()
    return bgp_match(
        claims,
        [("?a", "purchase", "?v")],
        optional=[("?b", "view", "?v")],
        minus=[("?a", "error", "?v")],
        select=["a", "v", "b"],
        distinct=True,
        input_distinct=True,  # claims distinct'd; select covers all vars
    )


def _kg_mention_contexts(spark, sf):  # linker-training context windows
    aliases = spark.createDataFrame(
        [("spark",), ("merge",), ("vector",), ("customer",)], "alias string"
    )
    return ex.mention_contexts(
        _t(spark, sf, "documents"), aliases, window=24
    )


def _kg_inverse_preds(spark, sf):  # inverse/symmetric predicate mining
    from chunksilo_spark.operators.schema_induction import inverse_predicates

    claims = _kg_obs(spark, sf).select("subj", "pred", "obj").distinct()
    return inverse_predicates(claims)


def _kg_path_rules(spark, sf):  # AMIE-style composition-rule mining
    from chunksilo_spark.operators.schema_induction import path_rules

    claims = _kg_obs(spark, sf).select("subj", "pred", "obj").distinct()
    return path_rules(claims, min_support=5)


def _kg_snapshot_diff(spark, sf):  # nightly-build claim delta t1 -> t2
    from chunksilo_spark.operators.temporal import snapshot_diff

    return snapshot_diff(
        _kg_obs(spark, sf), "2024-01-10 00:00:00", "2024-01-25 00:00:00"
    )


def _kg_isa_closure(spark, sf):  # materialized-ancestors table, depth 4
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    isa = docs.where(d > 0).select(
        d.alias("src"), (d / 2).cast("long").alias("dst")
    )
    return gr.bounded_closure(isa, max_depth=4)


def _g_link_predict(spark, sf):  # missing-link candidates, AA top-50
    return gr.link_prediction_topk(_derived_edges(spark, sf), k=50)


def _g_degree_profile(spark, sf):  # log2-bucket degree histogram audit
    return gr.degree_profile(_derived_edges(spark, sf))


def _kg_entity_embedding(spark, sf):  # mean-pooled entity vectors (long form)
    vecs = _t(spark, sf, "embeddings").select(
        (F.col("vec_id") % 50).alias("entity"), "embedding"
    )
    return sim.mean_pooled_embeddings(vecs, "entity")


def _g_lpa(spark, sf):  # synchronous LPA communities, 2 rounds
    return gr.lpa_communities(_derived_edges(spark, sf), iters=2)


def _g_kcore(spark, sf):  # bounded 2-round 3-core peel
    return gr.kcore(_derived_edges(spark, sf), k=3, rounds=2)


def _g_degree_topk(spark, sf):  # in-degree hubs of the derived link graph
    return gr.degree_topk(_derived_edges(spark, sf), k=20)


def _g_outlinks(spark, sf):  # F10: href resolution algebra, all branches
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    base = F.concat(
        F.lit("https://site"),
        (d % 7).cast("string"),
        F.lit(".example/dir"),
        (d % 3).cast("string"),
        F.lit("/sub/page"),
        d.cast("string"),
        F.lit(".html"),
    )
    href = (
        F.when(d % 6 == 0, F.lit("https://other.example/abs.html"))
        .when(d % 6 == 1, F.lit("mailto:team@example.com"))
        .when(d % 6 == 2, F.lit("//cdn.example/assets/app.js"))
        .when(d % 6 == 3, F.lit("/rooted/r.html"))
        .when(d % 6 == 4, F.lit("../up/one.html"))
        .otherwise(F.lit("./same/dir.html#frag"))
    )
    return docs.select(
        "doc_id", gr.resolve_href_col(base, href).alias("resolved")
    )


def _g_two_hop(spark, sf):  # frontier expansion: distinct 2-hop reach
    edges = _derived_edges(spark, sf)
    sources = (
        _t(spark, sf, "documents")
        .where(F.col("doc_id") < 20)
        .select(F.col("doc_id").alias("node"))
    )
    return gr.two_hop_counts(edges, sources)


def _g_triangles(spark, sf):  # degree-oriented triangle counting
    # oracle is an INDEPENDENT non-oriented derivation (chained a<b<c
    # joins), so a green row checks the orientation trick end-to-end
    return gr.triangle_counts(_derived_edges(spark, sf))


def _g_hits(spark, sf):  # HITS hubs/authorities, L1-normalized, top-50
    return gr.hits_topk(gr.hits(_derived_edges(spark, sf), iters=2), 50)


def _g_anchor_aliases(spark, sf):  # anchor-text alias candidates per target
    # synthesized text-bearing anchors exercising tag-strip + ws-collapse +
    # lowercase + empty-anchor drop; the oracle derives each branch's
    # cleaned anchor ANALYTICALLY (never runs the regexes)
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    k = (d % 50).cast("string")
    variant = (
        F.when(
            d % 3 == 2, F.concat(F.lit("The  Entity\n"), k)
        ).otherwise(F.concat(F.lit("Entity <b>"), k, F.lit("</b>")))
    )
    html = F.concat(
        F.lit('<p>see <a href="https://kb.example/e/'), k, F.lit('">'),
        variant, F.lit('</a> and <a href="/nav.html"></a></p>'),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://site"), (d % 7).cast("string"),
            F.lit(".example/p/"), d.cast("string"), F.lit(".html"),
        ).alias("url"),
        html.alias("html"),
    )
    out = gr.alias_candidates(gr.anchor_edges(pages), k=2)
    return out.select(
        "dst", "anchor", "n_refs", "n_srcs", F.col("rank").cast("long").alias("rank")
    )


def _derived_mentions(spark, sf):
    """Synthetic (url=doc_id, entity_id) mention rows — same analytic
    function of doc_id in the SQL oracle. Two base entities per doc (which
    may coincide — exercises the distinct) + a hub entity in every 5th
    doc (ubiquity-vs-association coverage) + a deliberate duplicate row."""
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    e1 = docs.select(d.alias("url"), (d % 40).cast("long").alias("entity_id"))
    e2 = docs.select(
        d.alias("url"), ((d / 3).cast("long") % 40).alias("entity_id")
    )
    hub = docs.where(d % 5 == 0).select(
        d.alias("url"), F.lit(40).cast("long").alias("entity_id")
    )
    dup = docs.where(d % 7 == 0).select(
        d.alias("url"), (d % 40).cast("long").alias("entity_id")
    )
    return e1.union(e2).union(hub).union(dup)


def _kg_cooccur_pmi(spark, sf):  # entity co-occurrence + (N)PMI weights
    return co.cooccurrence_pmi(
        _derived_mentions(spark, sf), ctx_col="url", ent_col="entity_id"
    ).select(
        "a", "b", "n_pair", "n_a", "n_b",
        F.round("pmi", 6).alias("pmi"), F.round("npmi", 6).alias("npmi"),
    )


def _t_boilerplate(spark, sf):  # cross-doc line-level boilerplate removal
    # multi-line text synthesized per doc: unique-ish head/tail from the
    # real text + a corpus-wide footer + a group-shared nav line + a blank
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 60), F.lit("\n"),
            F.lit("  Copyright   2024 ExampleCorp  "), F.lit("\n"),
            F.lit("nav menu "), (d % 4).cast("string"), F.lit("\n\n"),
            F.substring("text", 61, 60),
        ).alias("text"),
    )
    out = cu.remove_boilerplate_lines(synth, min_docs=5)
    return out.select(
        "doc_id", F.md5("clean_text").alias("clean_md5"),
        "n_lines", "n_removed",
    )


def _t_canonical_urls(spark, sf):  # url canonicalization, all branches
    # the Spark side runs the generic pinned algebra; the oracle derives
    # each branch's canonical form ANALYTICALLY (never runs the regexes)
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    k = (d % 7).cast("string")
    ds = d.cast("string")
    raw = (
        F.when(d % 8 == 0, F.concat(
            F.lit("HTTPS://Site"), k, F.lit(".Example:443/p/"), ds,
            F.lit("?utm_source=x&id="), ds, F.lit("#f")))
        .when(d % 8 == 1, F.concat(F.lit("http://site"), k, F.lit(".example:80")))
        .when(d % 8 == 2, F.concat(
            F.lit("http://site"), k, F.lit(".example:8080/x?utm_campaign")))
        .when(d % 8 == 3, F.concat(F.lit("ftp://site"), k, F.lit(".example/x")))
        .when(d % 8 == 4, F.concat(
            F.lit("https://site"), k, F.lit(".example/x?gclid=1&z="), ds))
        .when(d % 8 == 5, F.concat(
            F.lit("  https://site"), k, F.lit(".example/A/B?a=1&b=2  ")))
        .when(d % 8 == 6, F.concat(
            F.lit("https://site"), k, F.lit(".example/x?utm_a=1&utm_b=2")))
        .otherwise(F.lit("relative/path"))
    )
    return docs.select(
        "doc_id", gr.canonical_url_col(raw).alias("canonical")
    )


def _t_domain_profile(spark, sf):  # per-host curation dashboard rollup
    docs = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://Site"), (d % 7).cast("string"),
        F.lit(".Example/p/"), d.cast("string"),
    )
    return cu.domain_profile(docs.withColumn("url", url))


def _j5_asof_latest_order(spark, sf):  # as-of join: event -> latest order
    # union+window as-of (operators/asof.py) vs DuckDB's NATIVE ASOF LEFT
    # JOIN — a fully independent engine implementation as the oracle
    from chunksilo_spark.operators.asof import asof_join, dedup_right_latest

    events = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    orders = dedup_right_latest(
        _t(spark, sf, "orders").select(
            "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
        ),
        on="o_custkey", ts="o_orderdate", tiebreak="o_orderkey",
    ).withColumnRenamed("o_custkey", "user_id")
    out = asof_join(
        events, orders, on="user_id", left_ts="ts", right_ts="o_orderdate"
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("o_orderkey").alias("last_order_key"),
        F.round("o_totalprice", 2).alias("last_order_price"),
    )


def _j6_bloom_prune(spark, sf):  # bloom-pruned semi-join (FP-superset)
    # width 256 vs ~60 nation-5 customer keys x 3 salts (~half the mask
    # set), so false positives are REAL (~12% of non-members) — the oracle
    # re-derives the identical bit algebra (true members AND FPs), making
    # a probabilistic pruning step hash-checkable
    from chunksilo_spark.operators.bloom import bloom_prune

    keys = _t(spark, sf, "customer").where(F.col("c_nationkey") == 5).select(
        F.col("c_custkey")
    )
    pruned = bloom_prune(
        _t(spark, sf, "orders"), keys, "o_custkey", key_col="c_custkey",
        width=256, depth=3,
    )
    return pruned.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def _kg_triple_snapshot(spark, sf):  # temporal KG state as of an instant
    # events as an observation log: (subj=user_id, pred=event_type,
    # obj=value) @ ts — latest-wins per key via one map-side-combinable
    # struct-max (operators/temporal.py), no window sort
    from chunksilo_spark.operators.temporal import triple_snapshot

    obs = _t(spark, sf, "events").select(
        F.col("user_id").alias("subj"),
        F.col("event_type").alias("pred"),
        F.round("value", 4).alias("obj_value"),
        "ts",
        F.col("event_id").alias("obs_id"),
    )
    return triple_snapshot(obs, "2024-01-20 00:00:00").select(
        "subj", "pred", "obj_value",
        F.col("ts").alias("observed_ts"),
        "obs_id",
    )


def _kg_triple_intervals(spark, sf):  # observation log -> validity ledger
    # each observation becomes [valid_from, valid_to) closed by the next
    # observation of the same (subj, pred); current belief stays open.
    # Result restricted to beliefs superseded within the crawl window so
    # the row set exercises the lead() closure, not just open intervals.
    from chunksilo_spark.operators.temporal import triple_intervals

    obs = _t(spark, sf, "events").select(
        F.col("user_id").alias("subj"),
        F.col("event_type").alias("pred"),
        F.round("value", 4).alias("obj_value"),
        "ts",
        F.col("event_id").alias("obs_id"),
    )
    iv = triple_intervals(obs)
    return iv.where(F.col("valid_to").isNotNull()).select(
        "subj", "pred", "obj_value", "obs_id",
        "valid_from", "valid_to",
        # belief lifetime: how long the KG carried this value. Exact
        # integer microseconds (unix_micros / epoch_us) — second-level
        # helpers truncate and would diverge across engines. Parquet
        # timestamps load as NTZ; the cast to TIMESTAMP is exact under
        # the session's pinned UTC zone (session.py).
        (
            F.unix_micros(F.col("valid_to").cast("timestamp"))
            - F.unix_micros(F.col("valid_from").cast("timestamp"))
        ).alias("lifetime_us"),
    )


def _kg_obs(spark, sf):  # shared observation log for support/conflicts:
    # objects quantized into value bands so claims repeat
    return _t(spark, sf, "events").select(
        F.col("user_id").alias("subj"),
        F.col("event_type").alias("pred"),
        F.floor(F.col("value") / 50).cast("long").alias("obj"),
        "ts",
        F.col("event_id").alias("obs_id"),
    )


def _kg_triple_support(spark, sf):  # evidence aggregation per claim
    from chunksilo_spark.operators.temporal import triple_support

    return triple_support(
        _kg_obs(spark, sf), "2024-02-01 00:00:00", half_life_days=7.0
    )


def _kg_functional_conflicts(spark, sf):  # single-valued-predicate breaks
    from chunksilo_spark.operators.temporal import functional_conflicts

    return functional_conflicts(_kg_obs(spark, sf))


def _kg_pred_profile(spark, sf):  # schema induction: per-predicate stats
    # functionality = distinct subjects per distinct claim (1.0 = the
    # predicate is single-valued) — the signal that routes predicates
    # into functional_conflicts review; one grouped pass, all
    # count-distincts expand map-side
    obs = _kg_obs(spark, sf)
    claims = obs.select("subj", "pred", "obj").distinct()
    return claims.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_claims"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
        F.round(
            F.countDistinct("subj") / F.count(F.lit(1)), 6
        ).alias("functionality"),
        F.round(
            F.countDistinct("obj") / F.count(F.lit(1)), 6
        ).alias("inv_functionality"),
    )


def _kg_type_propagation(spark, sf):  # semi-supervised entity typing
    # halving-graph fixture; typed seeds at multiples of 100 spread
    # toward the root by per-round in-neighbor majority (ties to the
    # greater label); 2 rounds so the oracle unrolls cleanly
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    halving = docs.where(d > 0).select(
        d.alias("src"), (d / 2).cast("long").alias("dst")
    )
    side = docs.where((d % 7 == 3) & (d > 0)).select(
        d.alias("src"), (d - 1).cast("long").alias("dst")
    )
    seeds = docs.where(d % 20 == 0).select(
        d.alias("node"),
        F.concat(
            F.lit("t"), ((d / 20).cast("long") % 3).cast("string")
        ).alias("label"),
    )
    return gr.propagate_labels(halving.union(side), seeds, iters=2)


def _g_bfs_depth(spark, sf):  # min-hop BFS from a seed set
    # structured sparse graph over doc ids: halving edge d -> d//2 for
    # every d>0, plus a side edge d -> d-1 when d%7==3 (bounded
    # branching, so the oracle's all-paths recursive CTE stays small
    # while multi-path minima and merging frontiers are exercised).
    # Oracle: DuckDB depth-bounded WITH RECURSIVE + min(depth) — an
    # independent all-paths enumeration vs this visited-pruned
    # level-synchronous expansion.
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    halving = docs.where(d > 0).select(
        d.alias("src"), (d / 2).cast("long").alias("dst")
    )
    side = docs.where((d % 7 == 3) & (d > 0)).select(
        d.alias("src"), (d - 1).cast("long").alias("dst")
    )
    seeds = docs.where((d % 40 == 0) & (d > 0)).select(d.alias("node"))
    return gr.bfs_depths(halving.union(side), seeds, max_depth=6)


def _g_closeness(spark, sf):  # Eppstein-Wang approximate closeness
    # same bounded-branching halving graph as g_bfs_depth; 4 hash-minimum
    # seeds, per-seed BFS to depth 6 — the oracle re-enumerates all paths
    # per seed with a recursive CTE + min(depth) and applies the same
    # inverse-mean-distance formula
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    halving = docs.where(d > 0).select(
        d.alias("src"), (d / 2).cast("long").alias("dst")
    )
    side = docs.where((d % 7 == 3) & (d > 0)).select(
        d.alias("src"), (d - 1).cast("long").alias("dst")
    )
    return gr.approx_closeness(
        halving.union(side), n_seeds=4, max_depth=6
    )


def _g_assortativity(spark, sf):  # degree-degree Pearson correlation
    # same halving graph; exact integer moment sums make the correlation
    # hash-checkable — the oracle evaluates the identical term order
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    halving = docs.where(d > 0).select(
        d.alias("src"), (d / 2).cast("long").alias("dst")
    )
    side = docs.where((d % 7 == 3) & (d > 0)).select(
        d.alias("src"), (d - 1).cast("long").alias("dst")
    )
    return gr.degree_assortativity(halving.union(side))


def _g_random_walks(spark, sf):  # deterministic hash-random walk corpus
    # same bounded-branching graph as g_bfs_depth; each step's choice is
    # argmax md5(walk_id|step|dst) so DuckDB re-derives every step with
    # row_number over the same digest (4 unrolled CTE hops)
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    halving = docs.where(d > 0).select(
        d.alias("src"), (d / 2).cast("long").alias("dst")
    )
    side = docs.where((d % 7 == 3) & (d > 0)).select(
        d.alias("src"), (d - 1).cast("long").alias("dst")
    )
    seeds = docs.where((d % 25 == 0) & (d > 0)).select(
        d.alias("walk_id"), d.alias("node")
    )
    return gr.random_walks(halving.union(side), seeds, length=4)


def _g_components(spark, sf):  # connected components via the package CC entry
    # structured graph with closed-form components: clusters of 4
    # consecutive ids (each id -> its cluster base) plus a bridge edge at
    # every multiple of 100 merging two adjacent clusters. The oracle is
    # the ANALYTIC component id — an independent derivation against which
    # the generic iterative operator is checked.
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    base = (d - d % 4).cast("long")
    cluster = docs.select(d.alias("src"), base.alias("dst"))
    bridge = docs.where((d % 100 == 0) & (d > 0)).select(
        d.alias("src"), (d - 1).cast("long").alias("dst")
    )
    comp = gr.weak_components(cluster.union(bridge))
    return comp.select("node", "component")


def _f6_issue_keys(spark, sf):  # F6 issue-key normalization (shared regex)
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    raw = F.concat(
        F.lit("deploy "),
        F.when(d % 4 == 0, F.concat(F.lit("AB "), (d % 1000).cast("string")))
        .when(d % 4 == 1, F.concat(F.lit("PROJ_"), (d % 100).cast("string")))
        .when(d % 4 == 2, F.concat(F.lit("CORE"), (d % 10000).cast("string")))
        .otherwise(F.concat(F.lit("ab "), (d % 50).cast("string"))),
        F.lit(" done"),
    )
    return docs.select(
        "doc_id",
        raw.alias("raw"),
        F.regexp_replace(raw, ISSUE_KEY_RE, r"$1-$2").alias("normalized"),
    )


# ---------------------------------------------------------------------------
# training-export queries (operators/export.py)


def _t_bigram_lm(spark, sf):  # bigram fluency proxy (token-order aware)
    return cu.bigram_logprob(_t(spark, sf, "documents"), lam=0.75)


def _t_dsir_weights(spark, sf):  # hashed-bigram importance log-ratios
    # target slice = English docs: weights rank every doc by how
    # English-profiled its hashed-bigram distribution is
    return cu.dsir_logratio(
        _t(spark, sf, "documents"), F.col("lang") == "en", buckets=256
    )


def _x_dsir_sample(spark, sf):  # importance RESAMPLING off DSIR weights
    # the composition the DSIR paper prescribes: weights -> Bernoulli
    # acceptance proportional to exp(w) — here with the deterministic
    # hash coin so the sampled subcorpus itself is oracle-checkable
    return cu.importance_sample(
        _t_dsir_weights(spark, sf), "dsir_logratio",
        temperature=2.0, scale=0.5,
    )


def _x_domain_mix(spark, sf):  # target-mixture domain rebalancing
    # en is over-represented in the corpus; the 50/25/25 targets make a
    # minority language the binding domain (p == 1) and thin the rest
    return cu.mix_to_target(
        _t(spark, sf, "documents"),
        "lang",
        {"en": 0.5, "de": 0.25, "fr": 0.25},
    ).select("doc_id", "lang", "accept_p")


def _t_bottomk_sample(spark, sf):  # deterministic per-group k-sample
    from chunksilo_spark.operators.sketches import bottomk_sample

    return bottomk_sample(
        _t(spark, sf, "events"), ["event_type"], "event_id", k=5
    )


# DSIR oracle body, shared by t_dsir_weights and x_dsir_sample
_DSIR_SQL = """
            WITH t AS (
                SELECT doc_id, lang,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), b AS (
                SELECT doc_id, lang,
                       (('0x' || substr(md5(toks[i] || ' ' || toks[i + 1]),
                                        1, 15))::UBIGINT % 256)::BIGINT AS f
                FROM t, unnest(range(1, len(toks))) AS r(i)
            ), stats AS (
                SELECT f, COUNT(*)::DOUBLE AS cr,
                       COUNT(*) FILTER (WHERE lang = 'en')::DOUBLE AS ct
                FROM b GROUP BY f
            ), tot AS (
                SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM stats
            )
            SELECT b.doc_id, COUNT(*) AS n_feats,
                   round(SUM(ln(
                       ((stats.ct + 1.0) / ((SELECT tt FROM tot) + 256))
                       / ((stats.cr + 1.0) / ((SELECT tr FROM tot) + 256))
                   )), 6) AS dsir_logratio
            FROM b JOIN stats USING (f)
            GROUP BY b.doc_id
        """


def _t_unigram_lm(spark, sf):  # LM quality proxy from corpus statistics
    # vocab_size=30 << corpus vocab so the OOV floor path is exercised
    return cu.unigram_logprob(
        _t(spark, sf, "documents"), vocab_size=30, floor_count=0.5
    )


def _x_train_order(spark, sf):  # deterministic seeded shuffle + shard
    return ex.train_order(_t(spark, sf, "documents"), shards=8, seed="s1")


def _x_pack_sequences(spark, sf):  # token-budget sequence packing
    return ex.pack_sequences(
        _t(spark, sf, "documents"), budget=2048, shards=4
    )


def _x_domain_cap(spark, sf):  # per-domain cap by quality
    return ex.domain_cap(_t(spark, sf, "documents"), cap=40)


def _x_kg_negatives(spark, sf):  # filtered corrupt-tail negative sampling
    claims = _kg_obs(spark, sf).select("subj", "pred", "obj").distinct()
    return ex.kg_negative_samples(claims, m=2)


def _x_adjacency(spark, sf):  # grouped adjacency export of the link graph
    return ex.adjacency_lists(_derived_edges(spark, sf))


# ---------------------------------------------------------------------------
# graph-structure queries (round 4: SCC / bow-tie / shortest paths /
# clustering) and sketch/keyword queries


def _scc_edges(spark, sf):
    # ring-of-4 fixture with a closed-form SCC structure: within each
    # block of 4 consecutive doc ids a successor ring. The wrap edge is
    # DROPPED for blocks whose base is a multiple of 100 (those blocks
    # are paths -> singleton SCCs via cascading trim; block 0 is one of
    # them, so the inter-edge targets below dangle and trim too), and
    # partial tail blocks decay the same way. Every block base >0 also
    # points one DAG edge into block 1 (a full ring), so block 1 is
    # colored by a foreign max and must survive to a SECOND
    # color/peel round. Ring size 4 keeps the fixpoint chains short —
    # the same machinery at a fraction of the per-iteration job count.
    # Both endpoint sets are semi-joined against the doc ids, so no
    # contiguity assumption leaks into the fixture.
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    g = (d - d % 4).cast("long")
    ring = docs.where(~((d % 4 == 3) & (g % 100 == 0))).select(
        d.alias("src"),
        (g + F.pmod(d - g + 1, F.lit(4))).cast("long").alias("dst"),
    )
    inter = docs.where((d % 4 == 0) & (d > 0)).select(
        d.alias("src"),
        (F.lit(4) + (d / 4).cast("long") % 4).cast("long").alias("dst"),
    )
    ids = docs.select(d.alias("dst"))
    return (
        ring.join(ids, "dst", "left_semi")
        .unionByName(inter.join(ids, "dst", "left_semi"))
    )


def _g_scc(spark, sf):  # strongly connected components (trim+color+reach)
    # oracle is the ANALYTIC component id: block base for full blocks of
    # 8, the node itself otherwise — the generic trim/coloring/backward-
    # reach operator is checked against a closed form it never sees
    return gr.strongly_connected_components(_scc_edges(spark, sf))


def _g_bowtie(spark, sf):  # Broder bow-tie decomposition (core/in/out/other)
    # mod-10 fixture with every role populated: an 8-member core ring
    # over multiples of 10 below 80; ids ≡1 point INTO the core ('in');
    # the core points at ids ≡2 ('out'); ids ≡3 hang off in-nodes
    # (tendrils -> 'other'); ids ≡5/6 form disconnected pairs ('other').
    # Oracle: the analytic role by id class (SCC correctness itself is
    # pinned by g_scc + the Tarjan pytest).
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    core = docs.where((d % 10 == 0) & (d < 80)).select(
        d.alias("src"),
        F.when(d + 10 < 80, d + 10).otherwise(F.lit(0)).cast("long").alias("dst"),
    )
    into = docs.where(d % 10 == 1).select(
        d.alias("src"), F.pmod(d - 1, F.lit(80)).cast("long").alias("dst")
    )
    outof = docs.where(d % 10 == 2).select(
        F.pmod(d - 2, F.lit(80)).cast("long").alias("src"), d.alias("dst")
    )
    tendril = docs.where(d % 10 == 3).select(
        (d - 2).cast("long").alias("src"), d.alias("dst")
    )
    disc = docs.where(d % 10 == 5).select(
        d.alias("src"), (d + 1).cast("long").alias("dst")
    )
    ids_s = docs.select(d.alias("src"))
    ids_d = docs.select(d.alias("dst"))
    edges = (
        core.unionByName(into)
        .unionByName(outof)
        .unionByName(tendril)
        .unionByName(disc)
        .join(ids_s, "src", "left_semi")
        .join(ids_d, "dst", "left_semi")
    )
    return gr.bowtie_roles(edges)


def _g_shortest_paths(spark, sf):  # weighted SSSP, changed-only frontier
    # the bounded-branching halving graph of g_bfs_depth with integer
    # weights 1 + src%3; oracle = depth-bounded all-paths recursive CTE
    # + min(dist) — exact long arithmetic in both engines
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    halving = docs.where(d > 0).select(
        d.alias("src"), (d / 2).cast("long").alias("dst")
    )
    side = docs.where((d % 7 == 3) & (d > 0)).select(
        d.alias("src"), (d - 1).cast("long").alias("dst")
    )
    edges = halving.union(side).withColumn(
        "weight", (F.lit(1) + F.pmod(F.col("src"), F.lit(3))).cast("long")
    )
    seeds = docs.where((d % 40 == 0) & (d > 0)).select(d.alias("node"))
    return gr.shortest_paths(edges, seeds, max_hops=6)


def _g_clustering(spark, sf):  # local clustering coefficients
    # oracle re-derives triangles with the INDEPENDENT non-oriented
    # chained a<b<c joins (same independence as g_triangles) plus the
    # degree aggregation and the 2T/(d(d-1)) formula
    return gr.clustering_coefficients(_derived_edges(spark, sf))


def _t_kmv_cardinality(spark, sf):  # KMV distinct sketch, exact-SQL algebra
    # hash integer cents, not the raw double: double->string rendering is
    # the one step the two engines could disagree on, so it never enters
    # the hash
    from chunksilo_spark.operators.sketches import kmv_distinct

    ev = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return kmv_distinct(ev, ["event_type"], "cents", k=32)


def _t_kmv_partial(spark, sf):  # PRODUCTION KMV path: bounded-heap partials
    # same estimator, same oracle as t_kmv_cardinality — but computed via
    # the per-Arrow-batch heap + sketch-sized shuffle (method='partial').
    # A green driver row proves the production plan against DuckDB, not
    # just against the window path's parity test.
    from chunksilo_spark.operators.sketches import kmv_distinct

    ev = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return kmv_distinct(ev, ["event_type"], "cents", k=32, method="partial")


def _t_bottomk_partial(spark, sf):  # production bottom-k sampler path
    from chunksilo_spark.operators.sketches import bottomk_sample

    return bottomk_sample(
        _t(spark, sf, "events"), ["event_type"], "event_id", k=5,
        method="partial",
    )


def _t_weighted_sample(spark, sf):  # A-ES weighted per-group sample
    # weight = abs(cents)/100 + 1 > 0; the hash coin makes the "random"
    # keys deterministic, so the weighted sample is oracle-checkable
    from chunksilo_spark.operators.sketches import weighted_sample

    ev = _t(spark, sf, "events").select(
        "event_type",
        "event_id",
        (F.abs(F.col("value")) + F.lit(1.0)).alias("w"),
    )  # weight = abs(value) + 1 > 0
    return weighted_sample(ev, ["event_type"], "event_id", "w", k=8)


def _t_kmv_overlap(spark, sf):  # snapshot overlap from mergeable states
    # two overlapping value shards sketched independently; the overlap
    # estimator then runs on sketch-sized state only — the oracle
    # re-derives both states AND the estimator in SQL
    from chunksilo_spark.operators.sketches import kmv_overlap, kmv_state

    ev = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    a = kmv_state(
        ev.where(F.col("cents") % 3 != 0), ["event_type"], "cents", k=32
    )
    b = kmv_state(
        ev.where(F.col("cents") % 2 == 0), ["event_type"], "cents", k=32
    )
    return kmv_overlap(a, b, ["event_type"], k=32)


def _t_kmv_merge(spark, sf):  # mergeable KMV: sharded states roll up
    # the corpus split into two overlapping-value shards; merging their
    # bounded states must land EXACTLY on the global sketch (the
    # bottom-k composability identity) — the oracle is the global KMV
    # SQL verbatim
    from chunksilo_spark.operators.sketches import kmv_merge, kmv_state

    ev = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        "event_id",
    )
    shards = [ev.where(F.col("event_id") % 2 == i) for i in (0, 1)]
    return kmv_merge(
        [kmv_state(s, ["event_type"], "cents", k=32) for s in shards],
        ["event_type"],
        k=32,
    )


def _t_hll_cardinality(spark, sf):  # HyperLogLog distinct sketch
    # same hash-integer-cents domain as t_kmv_cardinality; the oracle
    # re-derives bucket/rank/register/estimate in SQL (bitlength via
    # length(bin(w)) — exact integers, no float log2)
    from chunksilo_spark.operators.sketches import hll_cardinality

    ev = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return hll_cardinality(ev, ["event_type"], "cents", b=8)


def _t_hll_merge(spark, sf):  # mergeable HLL: register-wise max rollup
    # two event-id shards sketched independently; merging the register
    # states must land EXACTLY on the global sketch (register-wise max
    # IS union) — the oracle is the global HLL SQL verbatim
    from chunksilo_spark.operators.sketches import hll_merge, hll_state

    ev = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        "event_id",
    )
    shards = [ev.where(F.col("event_id") % 2 == i) for i in (0, 1)]
    return hll_merge(
        [hll_state(s, ["event_type"], "cents", b=8) for s in shards],
        ["event_type"],
        b=8,
    )


def _g_components_starstar(spark, sf):  # O(log n)-round CC (Kiveris et al.)
    # chain-heavy graph (the regime label propagation is worst at):
    # blocks of 32 consecutive ids chained, a bridge at every multiple of
    # 640 merging two adjacent blocks. The oracle is the ANALYTIC
    # component id.
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    chain = docs.where(d % 32 != 0).select(
        d.alias("src"), (d - 1).cast("long").alias("dst")
    )
    bridge = docs.where((d % 640 == 0) & (d > 0)).select(
        d.alias("src"), (d - 1).cast("long").alias("dst")
    )
    comp = gr.components_starstar(chain.union(bridge))
    return comp.select("node", "component")


def _w_warc_roundtrip(spark, sf):  # WARC parse, end-to-end hash-checked
    # synthesize REAL WARC/1.0 bytes in-plan from the documents table
    # (HTTP envelopes; every 5th record chunked-transfer-framed; every
    # 7th a 404 the status gate must drop; every 11th preceded by a
    # request record the type filter must skip), parse them back through
    # the production mapInPandas path, and emit a full-body fingerprint —
    # the oracle derives the expected records DIRECTLY from documents,
    # so a green row hash-checks the parser itself.
    from chunksilo_spark.sources.readers import warc_pages_from_blobs

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    url = F.concat(
        F.lit("https://h"), (d % 40).cast("string"),
        F.lit(".example/p/"), d.cast("string"),
    )
    html = F.concat(
        F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")
    )
    status_line = F.when(
        d % 7 == 3, F.lit("HTTP/1.1 404 Not Found")
    ).otherwise(F.lit("HTTP/1.1 200 OK"))
    chunked = d % 5 == 0
    body = F.when(
        chunked,
        F.concat(
            F.hex(F.octet_length(html)), F.lit("\r\n"), html,
            F.lit("\r\n0\r\n\r\n"),
        ),
    ).otherwise(html)
    payload = F.concat(
        status_line,
        F.lit("\r\nContent-Type: text/html\r\n"),
        F.when(chunked, F.lit("Transfer-Encoding: chunked\r\n")).otherwise(
            F.lit("")
        ),
        F.lit("\r\n"),
        body,
    )
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), url,
        F.lit("\r\nWARC-Date: 2025-06-01T12:00:00Z\r\nWARC-Record-ID: "
              "<urn:md5:"),
        F.md5(d.cast("string")),
        F.lit(">\r\nContent-Length: "),
        F.octet_length(payload).cast("string"),
        F.lit("\r\n\r\n"), payload, F.lit("\r\n\r\n"),
    )
    req_payload = F.lit("GET / HTTP/1.1\r\nHost: x\r\n\r\n")
    req = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: "), url,
        F.lit("\r\nWARC-Date: 2025-06-01T12:00:00Z\r\nContent-Length: "),
        F.octet_length(req_payload).cast("string"),
        F.lit("\r\n\r\n"), req_payload, F.lit("\r\n\r\n"),
    )
    unit = F.when(d % 11 == 0, F.concat(req, rec)).otherwise(rec)
    blobs = (
        docs.select(
            (d % 16).alias("blob"),
            F.struct(d.alias("doc_id"), unit.alias("rec")).alias("s"),
        )
        .groupBy("blob")
        .agg(F.array_sort(F.collect_list("s")).alias("arr"))
        .select(
            F.concat(
                F.lit("mem://blob-"), F.col("blob").cast("string"),
                F.lit(".warc"),
            ).alias("path"),
            F.encode(
                F.expr("array_join(transform(arr, x -> x.rec), '')"),
                "utf-8",
            ).alias("content"),
        )
    )
    pages = warc_pages_from_blobs(blobs)
    return pages.select(
        "url",
        F.element_at("extras", "http_status").alias("status"),
        F.length(F.col("html")).cast("long").alias("n_bytes"),
        F.unix_timestamp(F.col("warc_ts")).cast("long").alias("ts_epoch"),
        F.md5(F.col("html")).alias("html_md5"),
    )


def _c_robots_filter(spark, sf):  # RFC 9309 robots.txt frontier gate
    # per-host robots corpus synthesized in-plan (even-parity hosts have
    # only a '*' group; odd-parity hosts add a multi-agent silobot/altbot
    # group that must OVERRIDE the '*' group for agent 'silobot'); the
    # frontier exercises longest-match, the '$' anchor, '*' wildcards,
    # and the no-rules default. The oracle is the ANALYTIC allow/deny
    # table — an independent derivation the matcher never sees.
    from chunksilo_spark.operators.frontier import (
        parse_robots,
        robots_filter,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id")
    host = F.concat(F.lit("h"), (d % 7).cast("string"), F.lit(".example"))
    base_txt = (
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n"
        "Disallow: /*.tmp$\n"
    )
    bot_txt = (
        "\nUser-agent: silobot\nUser-agent: altbot\nDisallow: /drafts/\n"
        "Allow: /drafts/pub*\n# crawl window\nDisallow:\n"
    )
    robots = (
        docs.select(host.alias("host"), (d % 7 % 2).alias("_odd"))
        .distinct()
        .select(
            "host",
            F.when(
                F.col("_odd") == 1, F.lit(base_txt + bot_txt)
            ).otherwise(F.lit(base_txt)).alias("robots_txt"),
        )
    )
    path = F.concat(
        F.when(d % 6 == 0, F.lit("/public/p"))
        .when(d % 6 == 1, F.lit("/private/p"))
        .when(d % 6 == 2, F.lit("/private/ok/p"))
        .when(d % 6 == 3, F.lit("/drafts/d"))
        .when(d % 6 == 4, F.lit("/drafts/pub"))
        .otherwise(F.lit("/cache/f")),
        d.cast("string"),
        F.when(d % 6 == 5, F.lit(".tmp")).otherwise(F.lit("")),
    )
    frontier = docs.select("doc_id", host.alias("host"), path.alias("path"))
    return robots_filter(frontier, parse_robots(robots), "silobot")


def _c_recrawl_priority(spark, sf):  # change-rate recrawl scheduling
    # fetch history synthesized from events: url per user, content
    # version = cents div 2000 (so consecutive fetches sometimes repeat)
    # hashed as the stored fingerprint; now pinned to 2024-07-01 UTC.
    # The oracle replays the lag/count/epoch algebra — all exact bigints.
    from chunksilo_spark.operators.frontier import recrawl_priority

    ev = (
        _t(spark, sf, "events")
        .select(
            F.concat(
                F.lit("u"), F.col("user_id").cast("string")
            ).alias("url"),
            F.col("ts").alias("fetch_ts"),
            F.round(F.col("value") * 100, 0).cast("long").alias("_cents"),
        )
        .select(
            "url",
            "fetch_ts",
            F.md5(
                F.expr("cast(_cents div 2000 as string)")
            ).alias("content_hash"),
        )
    )
    return recrawl_priority(ev, now_epoch=1719792000)


def _w_cdx_index(spark, sf):  # SURT + CDX archive index, hash-checked
    # WARC bytes synthesized in-plan with COSMETICALLY-VARIED urls
    # (case, www/www2 labels, default + non-default ports, userinfo,
    # unsorted query params) plus a second 13:00 fetch for every
    # doc_id % 13 == 0 — parse through the production path, index with
    # cdx_records. The oracle derives urlkey/digest/bytes DIRECTLY from
    # documents and replays only the revisit window, so the SURT column
    # algebra and the digest-dedup signal are hash-checked end-to-end.
    from chunksilo_spark.sources.readers import (
        cdx_records,
        warc_pages_from_blobs,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    k = (d % 10).cast("string")
    pid = d.cast("string")
    url = (
        F.when(d % 4 == 0, F.concat(
            F.lit("https://h"), k, F.lit(".example/p/"), pid))
        .when(d % 4 == 1, F.concat(
            F.lit("https://WWW.h"), k, F.lit(".EXAMPLE:443/P/"), pid,
            F.lit("?b=2&a=1")))
        .when(d % 4 == 2, F.concat(
            F.lit("http://user:pw@h"), k, F.lit(".example:8080/p/"), pid))
        .otherwise(F.concat(
            F.lit("https://www2.h"), k, F.lit(".example/p/"), pid))
    )
    html = F.concat(
        F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")
    )
    payload = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), html
    )

    def warc_rec(date: str, salt: str):
        return F.concat(
            F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
            url,
            F.lit(f"\r\nWARC-Date: {date}\r\nWARC-Record-ID: <urn:md5:"),
            F.md5(F.concat(pid, F.lit(salt))),
            F.lit(">\r\nContent-Length: "),
            F.octet_length(payload).cast("string"),
            F.lit("\r\n\r\n"), payload, F.lit("\r\n\r\n"),
        )

    unit = F.when(
        d % 13 == 0,
        F.concat(
            warc_rec("2025-06-01T12:00:00Z", ""),
            warc_rec("2025-06-01T13:00:00Z", "b"),
        ),
    ).otherwise(warc_rec("2025-06-01T12:00:00Z", ""))
    blobs = (
        docs.select(
            (d % 16).alias("blob"),
            F.struct(d.alias("doc_id"), unit.alias("rec")).alias("s"),
        )
        .groupBy("blob")
        .agg(F.array_sort(F.collect_list("s")).alias("arr"))
        .select(
            F.concat(
                F.lit("mem://cdx-"), F.col("blob").cast("string"),
                F.lit(".warc"),
            ).alias("path"),
            F.encode(
                F.expr("array_join(transform(arr, x -> x.rec), '')"),
                "utf-8",
            ).alias("content"),
        )
    )
    return cdx_records(warc_pages_from_blobs(blobs))


def _c_crawl_delay(spark, sf):  # Crawl-delay extraction per host
    # four synthesized robots shapes: star-only delay, exact-agent
    # decimal overriding a star 99 (truncates), malformed value (no
    # row), exact group without a delay falling back to star. Oracle
    # is the closed-form CASE over distinct host parities.
    from chunksilo_spark.operators.frontier import crawl_delays

    k = F.col("k")
    txt = (
        F.when(k % 4 == 0, F.concat(
            F.lit("User-agent: *\nCrawl-delay: "),
            (k + 2).cast("string"), F.lit("\nDisallow: /private/\n")))
        .when(k % 4 == 1, F.concat(
            F.lit("User-agent: silobot\nCrawl-delay: "),
            k.cast("string"),
            F.lit(".75\nAllow: /\n\nUser-agent: *\nCrawl-delay: 99\n")))
        .when(k % 4 == 2, F.lit(
            "User-agent: *\nCrawl-delay: soonish\n"))
        .otherwise(F.lit(
            "User-agent: silobot\nDisallow: /x\n\n"
            "User-agent: *\nCrawl-delay: 4\n"))
    )
    robots = (
        _t(spark, sf, "documents")
        .select((F.col("doc_id") % 12).cast("long").alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("h"), k.cast("string"),
                     F.lit(".example")).alias("host"),
            txt.alias("robots_txt"),
        )
    )
    return crawl_delays(robots, "SiloBot")


def _c_fetch_sessions(spark, sf):  # gap-based sessionization of events
    # one-hour gap sessions per user over the events log; oracle
    # replays the identical lag/cumsum/rollup window algebra in SQL —
    # all outputs exact bigints.
    from chunksilo_spark.operators.temporal import sessionize

    return sessionize(
        _t(spark, sf, "events").select("user_id", "ts"), gap_s=3600
    )


def _w_charset_sniff(spark, sf):  # BOM/meta encoding sniff on binary
    # six byte-level variants synthesized in-plan (three BOMs, two
    # declaration spellings, one bare); oracle is the closed-form CASE.
    from chunksilo_spark.sources.readers import sniff_charset_col

    d = F.col("doc_id")
    base = F.encode(
        F.concat(F.lit("<html><body>"), F.col("text"),
                 F.lit("</body></html>")),
        "utf-8",
    )
    blob = (
        F.when(d % 6 == 0, F.concat(F.unhex(F.lit("EFBBBF")), base))
        .when(d % 6 == 1, F.concat(F.unhex(F.lit("FFFE")), base))
        .when(d % 6 == 2, F.concat(F.unhex(F.lit("FEFF")), base))
        .when(d % 6 == 3, F.concat(
            F.encode(F.lit('<head><meta charset="Windows-1251">'),
                     "utf-8"), base))
        .when(d % 6 == 4, F.concat(
            F.encode(F.lit("<meta http-equiv='Content-Type' "
                           "content='text/html; charset=UTF8'>"),
                     "utf-8"), base))
        .otherwise(base)
    )
    return (
        _t(spark, sf, "documents")
        .select(d.alias("doc_id"), blob.alias("html"))
        .select("doc_id", sniff_charset_col(F.col("html")).alias("charset"))
    )


def _g_nf_curve(spark, sf):  # HyperANF neighborhood function curve
    # forward balls on the halving graph, radius 0..3, b=8; emission is
    # the tie-free bigint sum of per-node round(est x 10^4) — integer
    # addition is order-independent, unlike a float sum over nodes.
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    halving = docs.where(d > 0).select(
        d.alias("src"), (d / 2).cast("long").alias("dst")
    )
    side = docs.where((d % 7 == 3) & (d > 0)).select(
        d.alias("src"), (d - 1).cast("long").alias("dst")
    )
    return gr.hyperball_nf(halving.union(side), max_radius=3, b=8)


def _t_kmv_compare(spark, sf):  # snapshot diff from mergeable states
    # the same two overlapping shards as t_kmv_overlap, full comparison
    # surface: common/only-a/only-b counts and their union-share
    # estimates — the "what did today's crawl add/lose" question at
    # synopsis cost. Oracle re-derives both states AND the estimator.
    from chunksilo_spark.operators.sketches import kmv_compare, kmv_state

    ev = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    a = kmv_state(
        ev.where(F.col("cents") % 3 != 0), ["event_type"], "cents", k=32
    )
    b = kmv_state(
        ev.where(F.col("cents") % 2 == 0), ["event_type"], "cents", k=32
    )
    return kmv_compare(a, b, ["event_type"], k=32)


def _t_registered_domain(spark, sf):  # PSL pay-level-domain extraction
    # five host shapes off documents exercise every PSL branch: plain
    # TLD rule, multi-label rule, wildcard, exception-beats-wildcard,
    # unknown TLD (implicit *). Oracle is the closed-form CASE.
    from chunksilo_spark.operators.curation import registered_domains

    d = F.col("doc_id")
    k = (d % 10).cast("string")
    host = (
        F.when(d % 5 == 0, F.concat(F.lit("www.h"), k, F.lit(".test")))
        .when(d % 5 == 1, F.concat(F.lit("a.h"), k, F.lit(".co.test")))
        .when(d % 5 == 2,
              F.concat(F.lit("deep.x.h"), k, F.lit(".wild.test")))
        .when(d % 5 == 3, F.lit("sub.ok.wild.test"))
        .otherwise(F.concat(F.lit("h"), k, F.lit(".zz")))
    )
    df = _t(spark, sf, "documents").select(
        d.alias("doc_id"), host.alias("host")
    )
    rules = spark.createDataFrame(
        [("test",), ("co.test",), ("*.wild.test",), ("!ok.wild.test",)],
        "rule string",
    )
    return registered_domains(df, rules)


def _g_harmonic(spark, sf):  # HyperBall harmonic centrality
    # same halving graph; reversed balls (v's centrality as a TARGET),
    # max_radius 2, b=8. Only harmonic_scaled is emitted: the 4dp
    # double lands on rounding ties ~half the time (sum of 4dp-deltas
    # over r), while h * 10^4 * lcm(1..R) is integer in exact
    # arithmetic — nearest-integer rounding is tie-free both engines.
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    halving = docs.where(d > 0).select(
        d.alias("src"), (d / 2).cast("long").alias("dst")
    )
    side = docs.where((d % 7 == 3) & (d > 0)).select(
        d.alias("src"), (d - 1).cast("long").alias("dst")
    )
    return gr.hyperball_harmonic(
        halving.union(side), max_radius=2, b=8
    ).select("node", "harmonic_scaled")


def _c_sitemap_ingest(spark, sf):  # sitemaps.org parse, hash-checked
    # synthesize a per-host sitemap corpus (20 urlsets + 1 sitemapindex)
    # from documents IN-PLAN — entity-escaped locs, all three lastmod
    # shapes (absent / date / datetime with Z or +02:00), valid +
    # invalid changefreq, the priority default — parse it back with
    # parse_sitemaps; the oracle derives the expected rows DIRECTLY
    # from documents (no parse), so the parser itself is hash-checked.
    from chunksilo_spark.operators.frontier import parse_sitemaps

    d = F.col("doc_id")
    hn = (d % 20).cast("string")
    host = F.concat(F.lit("h"), hn, F.lit(".example"))
    lm_date = F.concat(
        F.lit("2024-03-"),
        F.lpad(((d % 28) + 1).cast("string"), 2, "0"),
    )
    lm_dt = F.concat(
        F.lit("2024-03-05T"),
        F.lpad((d % 24).cast("string"), 2, "0"),
        F.lit(":15:30"),
        F.when(d % 2 == 0, F.lit("Z")).otherwise(F.lit("+02:00")),
    )
    lastmod = (
        F.when(d % 3 == 1, F.concat(F.lit("<lastmod>"), lm_date,
                                    F.lit("</lastmod>")))
        .when(d % 3 == 2, F.concat(F.lit("<lastmod>"), lm_dt,
                                   F.lit("</lastmod>")))
        .otherwise(F.lit(""))
    )
    changefreq = (
        F.when(d % 4 == 0, F.lit("<changefreq>daily</changefreq>"))
        .when(d % 4 == 1, F.lit("<changefreq>Weekly</changefreq>"))
        .when(d % 4 == 2, F.lit("<changefreq>sometimes</changefreq>"))
        .otherwise(F.lit(""))
    )
    priority = (
        F.when(d % 5 == 1, F.lit("<priority>0.8</priority>"))
        .when(d % 5 == 2, F.lit("<priority>1.0</priority>"))
        .when(d % 5 == 3, F.lit("<priority>0.25</priority>"))
        .when(d % 5 == 4, F.lit("<priority>0</priority>"))
        .otherwise(F.lit(""))
    )
    block = F.concat(
        F.lit("<url><loc>https://"), host, F.lit("/p/"),
        d.cast("string"), F.lit("?a=1&amp;b=2</loc>"),
        lastmod, changefreq, priority, F.lit("</url>"),
    )
    urlsets = (
        _t(spark, sf, "documents")
        .select(host.alias("host"), d.alias("doc_id"), block.alias("_b"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0" encoding="UTF-8"?><urlset '
                      'xmlns="http://www.sitemaps.org/schemas/'
                      'sitemap/0.9">'),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "_b"))
                        ),
                        lambda s: s["_b"],
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    index = (
        _t(spark, sf, "documents")
        .select((d % 20).cast("long").alias("hn"))
        .distinct()
        .groupBy()
        .agg(
            F.concat(
                F.lit("<sitemapindex>"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("hn")),
                        lambda h: F.concat(
                            F.lit("<sitemap><loc>https://h"),
                            h.cast("string"),
                            F.lit(".example/sitemap.xml</loc>"
                                  "<lastmod>2024-02-"),
                            F.lpad((h + 1).cast("string"), 2, "0"),
                            F.lit("</lastmod></sitemap>"),
                        ),
                    ),
                    "",
                ),
                F.lit("</sitemapindex>"),
            ).alias("xml")
        )
        .select(F.lit("hindex.example").alias("host"), "xml")
    )
    return parse_sitemaps(urlsets.unionByName(index))


def _c_crawl_budget(spark, sf):  # Hamilton largest-remainder quotas
    # hosts = doc_id % 37, weight = per-host char mass; apportion a
    # 9973-fetch budget. Oracle replays floor/rem/leftover-seat algebra
    # with a straight global rank — the banded path must land on it.
    from chunksilo_spark.operators.frontier import crawl_budget

    hosts = (
        _t(spark, sf, "documents")
        .groupBy(
            F.concat(
                F.lit("h"), (F.col("doc_id") % 37).cast("string")
            ).alias("host")
        )
        .agg(F.sum("n_chars").cast("long").alias("weight"))
    )
    return crawl_budget(hosts, 9973)


def _g_hyperball(spark, sf):  # HyperBall approximate neighborhood fn
    # the bounded-branching halving graph (same as g_bfs_depth), radius
    # 2, b=8: per-node ball-size estimates whose register algebra the
    # oracle replays over the TRUE balls from a recursive CTE — the
    # exact-integer estimator inputs (n_zero, sum_scaled) make every
    # row hash-checkable.
    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    halving = docs.where(d > 0).select(
        d.alias("src"), (d / 2).cast("long").alias("dst")
    )
    side = docs.where((d % 7 == 3) & (d > 0)).select(
        d.alias("src"), (d - 1).cast("long").alias("dst")
    )
    return gr.hyperball(halving.union(side), radius=2, b=8)


def _c_frontier_schedule(spark, sf):  # politeness-interleaved fetch order
    # synthetic frontier off documents: 7 hosts, priority = n_chars;
    # first scheduling wave of 60
    from chunksilo_spark.operators.frontier import schedule_frontier

    d = F.col("doc_id")
    frontier = _t(spark, sf, "documents").select(
        F.concat(F.lit("h"), (d % 7).cast("string"), F.lit(".example"))
        .alias("host"),
        F.concat(
            F.lit("https://h"), (d % 7).cast("string"),
            F.lit(".example/p"), d.cast("string"),
        ).alias("url"),
        F.col("n_chars").cast("double").alias("priority"),
    )
    return schedule_frontier(frontier, limit=60)


def _t_cm_heavy_hitters(spark, sf):  # Count-Min frequency sketch top-k
    # width 64 << the ~150 distinct users at sf0.01, so collisions are
    # REAL and the min-over-depth estimate differs from exact counts —
    # the oracle re-derives the identical sketch algebra, not the truth
    from chunksilo_spark.operators.sketches import cm_heavy_hitters

    return cm_heavy_hitters(
        _t(spark, sf, "events"), "user_id", k=10, width=64, depth=3
    )


def _t_quantile_sketch(spark, sf):  # histogram quantile sketch
    # 32 bins over a ~[0, 1000) value range: the estimates genuinely
    # interpolate (not exact percentiles) and the oracle re-derives the
    # identical bin/cumulative/interpolation algebra
    from chunksilo_spark.operators.sketches import histogram_quantiles

    return histogram_quantiles(
        _t(spark, sf, "events"), ["event_type"], "value",
        quantiles=[0.5, 0.9, 0.99], n_bins=32,
    )


def _t_bpe_pairs(spark, sf):  # BPE round-1 pair statistics
    from chunksilo_spark.operators.tokenizer import initial_pair_counts

    pc = initial_pair_counts(_t(spark, sf, "documents"))
    top = pc.orderBy(F.desc("cnt"), F.asc("left"), F.asc("right")).limit(20)
    w = Window.orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def _t_bpe_merges(spark, sf):  # full 6-round BPE tokenizer training
    # the ITERATIVE trainer is oracle-checked end-to-end: the SQL twin
    # replays all 6 rounds with the identical bracket-replace algebra
    # (see _bpe_oracle)
    from chunksilo_spark.operators.tokenizer import bpe_train

    return bpe_train(_t(spark, sf, "documents"), n_merges=6)


def _bpe_oracle(n_merges: int = 6) -> str:
    """DuckDB twin of _t_bpe_merges: word-frequency relation, bracketed
    char sequences, then per round — pair counts via 1-based list
    indexing, top-1 by (cnt desc, left, right), one literal replace.
    ``replace`` is left-to-right non-overlapping in both engines, which
    with per-symbol brackets IS greedy BPE."""
    head = """
        WITH toks AS (
            SELECT unnest(list_filter(
                string_split_regex(trim(lower(text)), '\\s+'),
                x -> x <> '')) AS word
            FROM documents
        ), wf AS (
            SELECT word, COUNT(*) AS c FROM toks
            WHERE word NOT LIKE '%' || chr(1) || '%'
              AND word NOT LIKE '%' || chr(2) || '%'
            GROUP BY word
        ), s0 AS (
            SELECT word, c, chr(1) || array_to_string(string_split(word, ''),
                       chr(2) || chr(1)) || chr(2) AS seq
            FROM wf
        )"""
    rounds = []
    for r in range(1, n_merges + 1):
        rounds.append(
            """, p{r} AS (
            SELECT "left", "right", SUM(c) AS cnt FROM (
                SELECT c, syms[i] AS "left", syms[i + 1] AS "right" FROM (
                    SELECT c, syms, unnest(range(1, len(syms))) AS i
                    FROM (
                        SELECT c, string_split(
                            substr(seq, 2, length(seq) - 2),
                            chr(2) || chr(1)) AS syms
                        FROM s{p}
                    )
                )
            ) GROUP BY "left", "right"
        ), b{r} AS (
            SELECT "left", "right", cnt FROM p{r}
            ORDER BY cnt DESC, "left" ASC, "right" ASC LIMIT 1
        ), s{r} AS (
            SELECT s.word, s.c, replace(s.seq,
                chr(1) || b."left" || chr(2) || chr(1) || b."right"
                    || chr(2),
                chr(1) || b."left" || b."right" || chr(2)) AS seq
            FROM s{p} s, b{r} b
        )""".format(r=r, p=r - 1)
        )
    tail = " UNION ALL ".join(
        'SELECT CAST({r} AS INT) AS merge_rank, "left", "right", '
        "CAST(cnt AS BIGINT) AS pair_count FROM b{r}".format(r=r)
        for r in range(1, n_merges + 1)
    )
    return head + "".join(rounds) + " " + tail


def _t_bpe_token_counts(spark, sf):  # corpus token budget under BPE
    # train-then-count: the pre-training question "how many tokens is
    # this corpus under our tokenizer" — segmentation runs on the
    # distinct-word relation only, per-word SIZE joins back to the
    # exploded corpus
    from chunksilo_spark.operators.tokenizer import bpe_token_counts, bpe_train

    docs = _t(spark, sf, "documents")
    rules = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=6).orderBy("merge_rank").collect()
    ]
    return bpe_token_counts(docs, rules)


def _x_bpe_vocab(spark, sf):  # token-id table from the trained merges
    from chunksilo_spark.operators.tokenizer import bpe_train, bpe_vocab

    docs = _t(spark, sf, "documents")
    rules = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=6).orderBy("merge_rank").collect()
    ]
    return bpe_vocab(docs, rules)


def _bpe_vocab_oracle(n_merges: int = 6) -> str:
    """DuckDB twin of _x_bpe_vocab: the training rounds, then ids —
    binary-sorted base characters 0..C-1, merged symbols C+rank-1,
    duplicates keep the smallest id."""
    trained = _bpe_oracle(n_merges)
    head = trained[: trained.rindex(" SELECT CAST(1 AS INT)")]
    merged = " UNION ALL ".join(
        'SELECT "left" || "right" AS token, '
        "(SELECT n FROM nc) + {i} AS token_id FROM b{r}".format(i=r - 1, r=r)
        for r in range(1, n_merges + 1)
    )
    return (
        head
        + """ , chars AS (
            SELECT DISTINCT unnest(string_split(word, '')) AS token FROM wf
        ), cid AS (
            SELECT token,
                   CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT)
                       AS token_id
            FROM chars
        ), nc AS (
            SELECT COUNT(*) AS n FROM chars
        ), allv AS (
            SELECT token, token_id FROM cid
            UNION ALL """
        + merged
        + """
        )
        SELECT token, CAST(MIN(token_id) AS BIGINT) AS token_id
        FROM allv GROUP BY token"""
    )


def _bpe_counts_oracle(n_merges: int = 6) -> str:
    """DuckDB twin of _t_bpe_token_counts: the _bpe_oracle training
    rounds (word carried through every round), then per-word token
    counts off the final round's sequences joined back to the exploded
    corpus."""
    trained = _bpe_oracle(n_merges)
    head = trained[: trained.rindex(" SELECT CAST(1 AS INT)")]
    return (
        head
        + """ , segd AS (
            SELECT word, len(string_split(substr(seq, 2, length(seq) - 2),
                             chr(2) || chr(1))) AS n
            FROM s{n}
        ), docw AS (
            SELECT doc_id, unnest(list_filter(
                string_split_regex(trim(lower(text)), '\\s+'),
                x -> x <> '')) AS word
            FROM documents
        )
        SELECT doc_id, COUNT(*) AS n_words,
               CAST(SUM(n) AS BIGINT) AS n_tokens
        FROM docw JOIN segd USING (word)
        GROUP BY doc_id""".format(n=n_merges)
    )


def _t_tfidf_terms(spark, sf):  # per-doc TF-IDF keyword extraction
    return cu.tfidf_top_terms(_t(spark, sf, "documents"), k=3)


def _kg_forward_chain(spark, sf):  # semi-naive Datalog materialization
    # halving ancestry base (d -anc-> d//2) + a transitive rule (the
    # delta path length doubles per round, so the ~9-deep chain closes
    # in ~4 rounds) + a second rule consuming DERIVED triples
    # (reaches_root). Oracle: recursive-CTE closure — a one-hop-at-a-
    # time derivation vs the semi-naive doubling engine.
    from chunksilo_spark.operators.infer import forward_chain

    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    base = docs.where(d > 0).select(
        d.alias("subj"),
        F.lit("anc").alias("pred"),
        (d / 2).cast("long").alias("obj"),
    )
    rules = [
        ([("?a", "anc", "?b"), ("?b", "anc", "?c")], ("?a", "anc", "?c")),
        ([("?a", "anc", 0)], ("?a", "reaches_root", 0)),
    ]
    return forward_chain(base, rules, max_rounds=8, strict=True)


def _g_condensation(spark, sf):  # SCC condensation DAG
    # same ring-of-4 fixture as g_scc; oracle maps each endpoint through
    # the ANALYTIC component id and distinct-collapses component edges
    return gr.condensation(_scc_edges(spark, sf))


def _kg_chain_incremental(spark, sf):  # incremental inference fixpoint
    # materialize the closure of the low half of the halving ancestry,
    # then extend with the high half's base edges: the result must be
    # the FULL closure (oracle = the same recursive CTE over all edges),
    # proving delta chaining re-derives nothing yet misses nothing
    from chunksilo_spark.operators.infer import extend_chain, forward_chain

    docs = _t(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    base = docs.where(d > 0).select(
        d.alias("subj"),
        F.lit("anc").alias("pred"),
        (d / 2).cast("long").alias("obj"),
    )
    rules = [
        ([("?a", "anc", "?b"), ("?b", "anc", "?c")], ("?a", "anc", "?c")),
    ]
    lo = forward_chain(
        base.where(F.col("subj") % 2 == 0), rules, max_rounds=8, strict=True
    )
    return extend_chain(
        lo, base.where(F.col("subj") % 2 == 1), rules,
        max_rounds=8, strict=True,
    )


def _kg_bgp_agg(spark, sf):  # SPARQL GROUP BY/HAVING over BGP solutions
    # "per purchase band: how many distinct purchasers also clicked that
    # band, and how many click-cooccurrences total" — aggregation is
    # plain DataFrame groupBy over the bag-semantics solution relation
    from chunksilo_spark.operators.bgp import bgp_match

    claims = _kg_obs(spark, sf).select("subj", "pred", "obj").distinct()
    sols = bgp_match(
        claims,
        [("?a", "purchase", "?v"), ("?a", "click", "?w")],
        select=["a", "v", "w"],
    )
    return (
        sols.groupBy("v")
        .agg(
            F.countDistinct("a").alias("n_users"),
            F.count(F.lit(1)).alias("n_solutions"),
        )
        .where(F.col("n_users") >= 3)
    )


def _kg_bgp_filter(spark, sf):  # SPARQL VALUES + FILTER over the BGP core
    # "users who purchased in one of THESE bands and clicked a different
    # band" — the inline VALUES table prunes the join tree (broadcast),
    # the FILTER applies across two variables
    from chunksilo_spark.operators.bgp import bgp_match

    claims = _kg_obs(spark, sf).select("subj", "pred", "obj").distinct()
    return bgp_match(
        claims,
        [("?a", "purchase", "?v"), ("?a", "click", "?w")],
        select=["a", "v", "w"],
        filters=[F.col("v") != F.col("w")],
        values=(["?v"], [(0,), (1,), (2,)]),
        distinct=True,
        input_distinct=True,  # claims distinct'd; select covers all vars
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering matters: the driver's CORRECTNESS gate checks the first 50
    # entries in insertion order.  The 13 queries registered last in round 3
    # (graph / export / unigram-LM / f6 / incr_apply / kg_*) never landed in
    # the driver window, so they go FIRST; 13 cheap scalar-function rows that
    # were driver-green for three consecutive rounds rotate to the tail.
    # Every query — windowed or not — is still covered by the full local
    # oracle gate (scripts/check_oracles.py, run in pytest via
    # tests/test_oracle_gate.py).
    return {
        # -- round-5 window: the 31 queries with no green driver row in
        #    any of rounds 1-4 (the r4 driver window capped at 50; these
        #    landed past it) go FIRST, t_domain_profile leading with its
        #    now-exact integer algebra --
        "t_domain_profile": _t_domain_profile,
        "g_scc": _g_scc,
        "g_shortest_paths": _g_shortest_paths,
        "kg_bgp_filter": _kg_bgp_filter,
        "kg_forward_chain": _kg_forward_chain,
        "kg_chain_incremental": _kg_chain_incremental,
        "g_condensation": _g_condensation,
        "kg_bgp_agg": _kg_bgp_agg,
        "g_bowtie": _g_bowtie,
        "g_clustering": _g_clustering,
        "t_kmv_cardinality": _t_kmv_cardinality,
        "t_kmv_merge": _t_kmv_merge,
        "c_frontier_schedule": _c_frontier_schedule,
        "t_cm_heavy_hitters": _t_cm_heavy_hitters,
        "t_quantile_sketch": _t_quantile_sketch,
        "t_bpe_pairs": _t_bpe_pairs,
        "t_bpe_merges": _t_bpe_merges,
        "x_bpe_token_counts": _t_bpe_token_counts,
        "x_bpe_vocab": _x_bpe_vocab,
        "x_dsir_sample": _x_dsir_sample,
        "x_domain_mix": _x_domain_mix,
        "t_bottomk_sample": _t_bottomk_sample,
        "t_tfidf_terms": _t_tfidf_terms,
        "d_dup_spans": _d_dup_spans,
        "d_semdedup": _d_semdedup,
        "d_semdedup_kmeans": _d_semdedup_kmeans,
        "t_quality_model": _t_quality_model,
        "t_url_filter": _t_url_filter,
        "s_kmeans": _s_kmeans,
        "d_neardup_incremental": _d_neardup_incremental,
        "d_dedup_clusters": _d_dedup_clusters,
        # -- new round-5 queries (never driver-checked) --
        "t_kmv_partial": _t_kmv_partial,
        "t_bottomk_partial": _t_bottomk_partial,
        "t_weighted_sample": _t_weighted_sample,
        "t_kmv_overlap": _t_kmv_overlap,
        "t_hll_cardinality": _t_hll_cardinality,
        "t_hll_merge": _t_hll_merge,
        "g_components_starstar": _g_components_starstar,
        "w_warc_roundtrip": _w_warc_roundtrip,
        "c_robots_filter": _c_robots_filter,
        "c_recrawl_priority": _c_recrawl_priority,
        "g_hyperball": _g_hyperball,
        "c_crawl_budget": _c_crawl_budget,
        "c_sitemap_ingest": _c_sitemap_ingest,
        "w_cdx_index": _w_cdx_index,
        "g_harmonic": _g_harmonic,
        "t_registered_domain": _t_registered_domain,
        "w_charset_sniff": _w_charset_sniff,
        "c_fetch_sessions": _c_fetch_sessions,
        "c_crawl_delay": _c_crawl_delay,
        # g_nf_curve sits just past the 50-row driver window (its
        # register machinery is already driver-checked twice via
        # g_hyperball + g_harmonic); the full local gate covers it
        # every pytest like everything below
        "g_nf_curve": _g_nf_curve,
        "t_kmv_compare": _t_kmv_compare,
        # -- previously driver-green rows fill the remaining window
        #    slots, then the three-plus-rounds-green tail; every query
        #    stays covered by the full local oracle gate every pytest --
        "kg_pipeline_mini": _kg_pipeline_mini,
        "kg_vector_search": _kg_vector_search,
        "incr_apply": _incr_apply,
        "g_outlinks": _g_outlinks,
        "g_degree_topk": _g_degree_topk,
        "g_triangles": _g_triangles,
        "g_pagerank": _g_pagerank,
        "g_hits": _g_hits,
        "g_anchor_aliases": _g_anchor_aliases,
        "kg_cooccur_pmi": _kg_cooccur_pmi,
        "t_boilerplate": _t_boilerplate,
        "t_canonical_urls": _t_canonical_urls,
        "j5_asof_latest_order": _j5_asof_latest_order,
        "j6_bloom_prune": _j6_bloom_prune,
        "g_components": _g_components,
        "g_two_hop": _g_two_hop,
        "f6_issue_keys": _f6_issue_keys,
        "t_unigram_lm": _t_unigram_lm,
        "x_train_order": _x_train_order,
        "x_pack_sequences": _x_pack_sequences,
        "x_domain_cap": _x_domain_cap,
        "x_kg_negatives": _x_kg_negatives,
        "x_adjacency": _x_adjacency,
        "kg_triple_snapshot": _kg_triple_snapshot,
        "kg_triple_intervals": _kg_triple_intervals,
        "kg_triple_support": _kg_triple_support,
        "kg_functional_conflicts": _kg_functional_conflicts,
        "kg_type_propagation": _kg_type_propagation,
        "kg_pred_profile": _kg_pred_profile,
        "kg_bgp_match": _kg_bgp_match,
        "kg_bgp_optional": _kg_bgp_optional,
        "kg_mention_contexts": _kg_mention_contexts,
        "kg_isa_closure": _kg_isa_closure,
        "kg_inverse_preds": _kg_inverse_preds,
        "kg_path_rules": _kg_path_rules,
        "kg_snapshot_diff": _kg_snapshot_diff,
        "g_link_predict": _g_link_predict,
        "g_degree_profile": _g_degree_profile,
        "kg_entity_embedding": _kg_entity_embedding,
        "g_lpa": _g_lpa,
        "g_kcore": _g_kcore,
        "g_pagerank_weighted": _g_pagerank_weighted,
        "g_ppr": _g_ppr,
        "g_bfs_depth": _g_bfs_depth,
        "g_closeness": _g_closeness,
        "g_assortativity": _g_assortativity,
        "g_random_walks": _g_random_walks,
        "t_bigram_lm": _t_bigram_lm,
        "t_dsir_weights": _t_dsir_weights,
        "d_contamination": _d_contamination,
        "a1_rollup": _a1_rollup,
        "u5_bm25": _u5_bm25,
        "flagship_search": _flagship_search,
        "w2_rerank_topk": _w2_rerank_topk,
        "f14_extras": _f14_extras,
        "d_exact": _d_exact,
        "d_minhash_lsh": _d_minhash_lsh,
        "d_neardup_verified": _d_neardup_verified,
        "t_stratified_sample": _t_stratified_sample,
        "s_knn_bruteforce": _s_knn_bruteforce,
        "s_knn_lsh": _s_knn_lsh,
        "s_knn_ivf": _s_knn_ivf,
        "m_binary_meta": _m_binary_meta,
        "j1_new_keys": _j1_new_keys,
        "incr_change_detect": _incr_change_detect,
        "t_repetition": _t_repetition,
        "q1_pricing_summary": _q1_pricing_summary,
        "w1_topk_per_type": _w1_topk_per_type,
        "q5_local_supplier": _q5_local_supplier,
        "t_pii_scrub": _t_pii_scrub,
        "t_winnow": _t_winnow,
        "d_simhash": _d_simhash,
        "d_embedding_neardup": _d_embedding_neardup,
        "o1_recency_boost": _o1_recency_boost,
        "d_token_jaccard": _d_token_jaccard,
        "e_sessionize": _e_sessionize,
        "q3_shipping_priority": _q3_shipping_priority,
        "m_decode_features": _m_decode_features,
        "a6_rollup_sets": _a6_rollup_sets,
        "w4_candidate_cap": _w4_candidate_cap,
        "p3_date_filter": _p3_date_filter,
        "p5_phrase_filter": _p5_phrase_filter,
        "s3_glob_filter": _s3_glob_filter,
        "j3_union_dedup": _j3_union_dedup,
        "f1_tokenize": _f1_tokenize,
        "f2_line_stats": _f2_line_stats,
        "f5_stopword_filter": _f5_stopword_filter,
        "f8_date_strings": _f8_date_strings,
        "f13_json_props": _f13_json_props,
        "t_lang_id": _t_lang_id,
        "t_token_counts": _t_token_counts,
        "t_quality": _t_quality,
        "t_fingerprints": _t_fingerprints,
        "t_corpus_filter": _t_corpus_filter,
        "w5_first_match_line": _w5_first_match_line,
        "a2_first_per_key": _a2_first_per_key,
        "o3_except_users": _o3_except_users,
        "w7_percentiles": _w7_percentiles,
        "j2_deleted_keys": _j2_deleted_keys,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles


def _sw_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


def _lang_case() -> str:
    langs = sorted(STOPWORDS)
    votes = {
        lang: (
            "len(list_intersect(string_split_regex(lower(text), '\\s+'), "
            + _sw_list(lang)
            + "))"
        )
        for lang in langs
    }
    branches = []
    for lang in langs:
        conds = " AND ".join(
            f"{votes[lang]} >= {votes[o]}" for o in langs if o != lang
        )
        branches.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


def _s3_glob_oracle_sql() -> str:
    """The oracle uses the SAME compiled regexes as the Spark plan."""
    from chunksilo_spark.functions.globmatch import compile_rules

    inc, exc = compile_rules(_GLOB_INCLUDE, _GLOB_EXCLUDE, case_sensitive=False)
    conds = [f"NOT regexp_matches(p, '{r}')" for r in exc]
    conds.append("(" + " OR ".join(f"regexp_matches(p, '{r}')" for r in inc) + ")")
    return f"""
        SELECT doc_id, path FROM (
            SELECT doc_id,
                   source || '/' || lang || '/doc-' || doc_id || '.txt' AS path,
                   lower(source || '/' || lang || '/doc-' || doc_id || '.txt') AS p
            FROM documents
        ) WHERE {" AND ".join(conds)}
    """


# the derived web graph re-derived in SQL (exact twin of _derived_edges):
# two md5-salted targets per doc (mod #docs, so every target is a real
# doc_id and no node dangles) + a hub edge from every 5th doc
_GRAPH_EDGES_SQL = """
        WITH raw AS (
            SELECT doc_id AS src,
                   (('0x' || substr(md5('e1:' || doc_id::VARCHAR), 1, 15))::UBIGINT
                    % (SELECT COUNT(*) FROM documents))::BIGINT AS dst
            FROM documents
            UNION ALL
            SELECT doc_id,
                   (('0x' || substr(md5('e2:' || doc_id::VARCHAR), 1, 15))::UBIGINT
                    % (SELECT COUNT(*) FROM documents))::BIGINT
            FROM documents
            UNION ALL
            SELECT doc_id, 0 FROM documents WHERE doc_id % 5 = 0
        ),
        edges AS (SELECT DISTINCT src, dst FROM raw)
"""


def _oracle_sql_body() -> dict[str, str]:
    sw = _sw_list("en")
    q_tokens = "['spark', 'join', 'window', 'table', 'scan']"
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "j1_new_keys": """
            SELECT o_orderkey FROM orders
            WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
        """,
        "j2_deleted_keys": """
            SELECT o_orderkey, o_orderstatus FROM orders
            WHERE o_orderkey NOT IN
                (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
        """,
        "incr_change_detect": """
            WITH state AS (
                SELECT o_orderkey AS url,
                       md5(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)) AS h
                FROM orders WHERE o_orderkey % 10 <> 0
            ), snap AS (
                SELECT o_orderkey AS url,
                       md5(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                           + CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS VARCHAR)) AS h
                FROM orders WHERE o_orderkey % 7 <> 0
            ), classified AS (
                SELECT 'new' AS change FROM snap
                WHERE url NOT IN (SELECT url FROM state)
                UNION ALL
                SELECT 'modified' FROM snap JOIN state USING (url)
                WHERE snap.h <> state.h
                UNION ALL
                SELECT 'unchanged' FROM snap JOIN state USING (url)
                WHERE snap.h = state.h
                UNION ALL
                SELECT 'deleted' FROM state
                WHERE url NOT IN (SELECT url FROM snap)
            )
            SELECT change, count(*) AS n FROM classified GROUP BY change
        """,
        "q3_shipping_priority": """
            SELECT o_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING'
              AND c_custkey = o_custkey AND o_orderkey = l_orderkey
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1996-01-01'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "q5_local_supplier": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM region, nation, customer, orders, lineitem, supplier
            WHERE r_regionkey = n_regionkey AND n_nationkey = c_nationkey
              AND c_custkey = o_custkey AND o_orderkey = l_orderkey
              AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "e_sessionize": """
            -- floor(epoch(ts)) aligns with Spark's cast(ts AS LONG), which is
            -- floorDiv(micros, 1e6) — DuckDB's bare epoch(ts) is fractional;
            -- CAST(... AS BIGINT) because DuckDB's windowed sum is HUGEINT,
            -- which the driver canonicalizes as float (hash mismatch vs
            -- Spark's bigint)
            WITH g AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER
                                (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                                > 1800
                            OR lag(ts) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) IS NULL
                       THEN 1 ELSE 0 END AS new_s
                FROM events
            ), s AS (
                SELECT user_id,
                       sum(new_s) OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS session_id
                FROM g
            )
            SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM s GROUP BY user_id
        """,
        "a1_rollup": """
            SELECT o_custkey,
                   array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys_csv,
                   count(*) AS n_orders
            FROM orders GROUP BY o_custkey
        """,
        "a2_first_per_key": """
            SELECT user_id, event_id, event_type
            FROM (SELECT user_id, event_id, event_type,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY ts ASC, event_id ASC) AS rn
                  FROM events) WHERE rn = 1
        """,
        "o1_recency_boost": f"""
            SELECT event_id,
                   round(value * (1 + 0.5 * exp(-{LN2 / 30.0!r} *
                       date_diff('day', ts, TIMESTAMP '{NOW}'))), 6) AS boosted
            FROM events
            ORDER BY boosted DESC, event_id ASC LIMIT 100
        """,
        "w1_topk_per_type": """
            SELECT event_type, event_id, round(value, 6) AS value, rank
            FROM (SELECT event_type, event_id, value,
                         row_number() OVER (PARTITION BY event_type
                                            ORDER BY value DESC, event_id ASC) AS rank
                  FROM events) WHERE rank <= 3
        """,
        "w4_candidate_cap": """
            SELECT event_id, event_type FROM events
            ORDER BY ts DESC, event_id ASC LIMIT 100
        """,
        "p3_date_filter": """
            SELECT event_id, user_id FROM events
            WHERE (ts IS NULL OR ts >= TIMESTAMP '2024-01-10')
              AND (ts IS NULL OR ts <= TIMESTAMP '2024-01-20')
        """,
        "p5_phrase_filter": """
            SELECT doc_id, n_chars FROM documents
            WHERE contains(lower(text), 'spark') AND contains(lower(text), 'join')
        """,
        "s3_glob_filter": _s3_glob_oracle_sql(),
        "o3_except_users": """
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-03'
            EXCEPT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-03'
        """,
        "j3_union_dedup": """
            WITH u AS (
                SELECT user_id, event_id, 1 AS priority FROM events
                WHERE event_type = 'purchase'
                UNION ALL
                SELECT user_id, event_id, 2 AS priority FROM events
                WHERE event_type = 'signup'
            )
            SELECT user_id, event_id, priority
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                       ORDER BY priority ASC, event_id ASC) AS rn FROM u)
            WHERE rn = 1
        """,
        "f1_tokenize": """
            SELECT token, count(*) AS n FROM (
                SELECT unnest(string_split_regex(lower(p_name), '[\\s_\\-.]+')) AS token
                FROM part
            ) WHERE token <> '' GROUP BY token
        """,
        "f2_line_stats": """
            SELECT doc_id,
                   length(text) - length(replace(text, chr(10), '')) + 1 AS n_lines,
                   length(text) AS len_chars
            FROM documents
        """,
        "f5_stopword_filter": f"""
            SELECT doc_id,
                   len(list_filter(list_distinct(string_split_regex(lower(text), '\\s+')),
                       x -> NOT list_contains({sw}, x))) AS n_content_tokens
            FROM documents
        """,
        "w5_first_match_line": """
            SELECT doc_id, pos,
                   length(prefix) - length(replace(prefix, chr(10), '')) + 1 AS line_no
            FROM (SELECT doc_id, strpos(lower(text), 'spark') AS pos,
                         substring(text, 1, strpos(lower(text), 'spark') - 1) AS prefix
                  FROM documents)
            WHERE pos > 0
        """,
        "u5_bm25": """
            WITH d AS (
                SELECT doc_id,
                       len(string_split_regex(lower(text), '\\s+')) AS dl,
                       len(list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x = 'spark')) AS tf_spark,
                       len(list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x = 'join')) AS tf_join
                FROM documents
            ), s AS (
                SELECT count(*) AS n_docs, avg(dl) AS avgdl,
                       sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
                       sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join
                FROM d
            )
            SELECT doc_id,
                   round(
                     ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
                       * (tf_spark * 2.2 / (tf_spark + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                   + ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0)
                       * (tf_join * 2.2 / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                   , 4) AS bm25
            FROM d, s
            ORDER BY bm25 DESC, doc_id ASC LIMIT 20
        """,
        "flagship_search": f"""
            SELECT doc_id, lang, source, score FROM (
                SELECT doc_id, lang, source,
                       round(len(list_intersect(string_split_regex(lower(text), '\\s+'),
                           {q_tokens})) / 5.0, 6) AS score
                FROM documents
            ) WHERE score >= 0.1
            ORDER BY score DESC, doc_id ASC LIMIT 20
        """,
        # the full two-stage funnel in SQL: token-overlap candidates
        # (flagship semantics, top-100) -> the deterministic overlap
        # reranker (models.OverlapReranker: sum of per-term frequencies /
        # token count * 100) -> top-5. Same float op order as the python
        # kernel so the rounded scores agree bit-for-bit.
        "w2_rerank_topk": """
            WITH cands AS (
                SELECT doc_id, text FROM (
                    SELECT doc_id, text,
                           round(len(list_intersect(
                               string_split_regex(lower(text), '\\s+'),
                               ['spark', 'join', 'window', 'table', 'scan'])) / 5.0,
                               6) AS score
                    FROM documents
                ) WHERE score >= 0.1
                ORDER BY score DESC, doc_id ASC LIMIT 100
            ), toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '') AS t
                FROM cands
            ), scored AS (
                SELECT doc_id,
                       round(((len(list_filter(t, x -> x = 'spark'))
                             + len(list_filter(t, x -> x = 'join'))
                             + len(list_filter(t, x -> x = 'window'))
                             + len(list_filter(t, x -> x = 'table'))
                             + len(list_filter(t, x -> x = 'scan')))::DOUBLE
                            / greatest(len(t), 1)) * 100.0, 6) AS rerank_score
                FROM toks
            )
            SELECT doc_id, rerank_score FROM scored
            ORDER BY rerank_score DESC, doc_id ASC LIMIT 5
        """,
        "f13_json_props": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
            FROM events
        """,
        "f14_extras": """
            SELECT doc_id,
                   source AS x_source,
                   CASE WHEN n_chars > 400 THEN 'y' END AS x_big,
                   ((source IS NOT NULL)::INT + (lang IS NOT NULL)::INT
                    + (n_chars > 400)::INT) AS n_extras
            FROM documents
        """,
        "t_repetition": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), g AS (
                SELECT doc_id,
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                            ELSE [] END AS grams
                FROM t
            )
            SELECT doc_id,
                   len(grams)::INT AS n_grams,
                   len(list_distinct(grams))::INT AS n_distinct,
                   round(CASE WHEN len(grams) > 0
                              THEN 1.0 - len(list_distinct(grams))::DOUBLE / len(grams)
                              ELSE 0.0 END, 6) AS dup_frac
            FROM g
        """,
        # DuckDB regexp_replace needs the 'g' option to match Spark's
        # replace-all; the scrub order (emails first) is mirrored
        "t_pii_scrub": """
            WITH salted AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN text || ' contact bob@example.com or 555-123-4567 now'
                            ELSE text END AS text
                FROM documents
            ), s1 AS (
                SELECT doc_id,
                       len(regexp_extract_all(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INT
                           AS n_emails,
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g') AS no_email
                FROM salted
            )
            SELECT doc_id, n_emails,
                   len(regexp_extract_all(no_email,
                       '\\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}'))::INT AS n_phones,
                   md5(regexp_replace(no_email,
                       '\\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}',
                       '<PHONE>', 'g')) AS clean_md5
            FROM s1
        """,
        "d_contamination": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), g AS (
                SELECT doc_id, unnest(list_distinct(
                       CASE WHEN len(toks) >= 8
                            THEN list_transform(range(1, len(toks) - 6),
                                 i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||
                                      toks[i+3]||' '||toks[i+4]||' '||toks[i+5]||' '||
                                      toks[i+6]||' '||toks[i+7])
                            ELSE [] END)) AS gram
                FROM t
            ), e AS (
                SELECT DISTINCT doc_id AS eval_id, gram FROM g WHERE doc_id % 7 = 0
            )
            SELECT g.doc_id AS doc_id, e.eval_id AS eval_id,
                   count(*) AS n_shared
            FROM g JOIN e USING (gram)
            WHERE g.doc_id <> e.eval_id
            GROUP BY 1, 2
        """,
        # the sample is a pure deterministic function of doc_id (md5 bucket
        # under a per-stratum rate) — same rows on every engine and rerun
        "t_stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE (lang = 'en' AND
                   ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT % 100 < 37)
               OR (lang = 'de' AND
                   ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT % 100 < 11)
        """,
        "f8_date_strings": """
            SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS day,
                   CAST(year(o_orderdate) AS INTEGER) AS yr
            FROM orders
        """,
        "t_corpus_filter": f"""
            WITH scored AS (
                SELECT doc_id, lang, text,
                       round(
                         0.4 * least(len(string_split_regex(lower(text), '\\s+')) / 100.0, 1.0)
                       + 0.3 * greatest(0.0, 1.0 - 5.0 * len(regexp_extract_all(text, '[^\\w\\s]'))
                                            / length(text))
                       + 0.3 * (len(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> list_contains({sw}, x)))
                                / len(string_split_regex(lower(text), '\\s+')))
                       , 4) AS quality,
                       row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS dup_rank
                FROM documents
            )
            SELECT doc_id, quality,
                   (lang = 'en' AND quality >= 0.2 AND dup_rank = 1
                    AND length(text) >= 50) AS keep
            FROM scored
        """,
        "t_lang_id": f"SELECT doc_id, {_lang_case()} AS lang_pred FROM documents",
        "t_token_counts": """
            SELECT doc_id,
                   len(string_split_regex(text, '\\s+')) AS ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS bpeish_tokens
            FROM documents
        """,
        "t_quality": f"""
            SELECT doc_id, round(
                0.4 * least(len(string_split_regex(lower(text), '\\s+')) / 100.0, 1.0)
              + 0.3 * greatest(0.0, 1.0 - 5.0 * len(regexp_extract_all(text, '[^\\w\\s]'))
                                   / length(text))
              + 0.3 * (len(list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> list_contains({sw}, x)))
                       / len(string_split_regex(lower(text), '\\s+')))
            , 4) AS quality FROM documents
        """,
        "t_fingerprints": """
            SELECT doc_id, md5(trim(lower(text))) AS fp FROM documents
        """,
        "d_exact": """
            SELECT md5(text) AS text_md5, count(*) AS n_docs,
                   min(doc_id) AS keep_doc_id
            FROM documents GROUP BY md5(text)
        """,
        "d_token_jaccard": """
            WITH t AS (
                SELECT doc_id, source, n_chars,
                       list_distinct(list_filter(
                           string_split_regex(
                               lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')),
                               '\\s+'),
                           x -> x <> '')) AS sh
                FROM documents
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / greatest(len(a.sh) + len(b.sh)
                                    - len(list_intersect(a.sh, b.sh)), 1), 6) AS jaccard
            FROM t a JOIN t b
              ON a.source = b.source AND a.n_chars = b.n_chars
             AND a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / greatest(len(a.sh) + len(b.sh)
                             - len(list_intersect(a.sh, b.sh)), 1) >= 0.2
        """,
        # exact brute-force counterpart of the LSH funnel: word-3-gram
        # distinct-shingle Jaccard over ALL pairs of exact-dup representatives
        # (min doc_id per md5(text) group — mirrors the operator's pre-collapse).
        # DuckDB's 1-based list indexing: shingle i = w[i..i+2], i in
        # range(1, len(w)-1) == len(w)-2 shingles, same as word_shingles(t, 3).
        "d_neardup_incremental": """
            WITH corp AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
            newd AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
            crep AS (
                SELECT md5(text) AS h, min(doc_id) AS match_id,
                       min(text) AS text
                FROM corp GROUP BY md5(text)
            ), exact AS (
                SELECT n.doc_id, c.match_id, 1.0 AS jaccard, 'exact' AS kind
                FROM newd n JOIN crep c ON md5(n.text) = c.h
            ), nrest AS (
                SELECT n.doc_id, n.text FROM newd n
                LEFT JOIN crep c ON md5(n.text) = c.h WHERE c.h IS NULL
            ), nt AS (
                SELECT doc_id, list_distinct(
                    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                         ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                    END) AS sh
                FROM (SELECT doc_id,
                             list_filter(
                                 string_split_regex(
                                     regexp_replace(text, '^\\s+|\\s+$', '', 'g'),
                                     '\\s+'),
                                 x -> x <> '') AS w
                      FROM nrest)
            ), ct AS (
                SELECT match_id, list_distinct(
                    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                         ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                    END) AS sh
                FROM (SELECT match_id,
                             list_filter(
                                 string_split_regex(
                                     regexp_replace(text, '^\\s+|\\s+$', '', 'g'),
                                     '\\s+'),
                                 x -> x <> '') AS w
                      FROM crep)
            ), near AS (
                SELECT a.doc_id, b.match_id,
                       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                             / greatest(len(a.sh) + len(b.sh)
                                        - len(list_intersect(a.sh, b.sh)), 1),
                             6) AS jaccard,
                       'near' AS kind
                FROM nt a CROSS JOIN ct b
                WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                      / greatest(len(a.sh) + len(b.sh)
                                 - len(list_intersect(a.sh, b.sh)), 1) >= 0.5
            )
            SELECT * FROM exact UNION ALL SELECT * FROM near
        """,
        "d_dedup_clusters": """
            WITH RECURSIVE reps AS (
                SELECT md5(text) AS h, min(doc_id) AS rep, min(text) AS text
                FROM documents GROUP BY md5(text)
            ), tok AS (
                SELECT rep AS doc_id,
                       list_filter(
                           string_split_regex(
                               regexp_replace(text, '^\\s+|\\s+$', '', 'g'),
                               '\\s+'),
                           x -> x <> '') AS w
                FROM reps
            ), t AS (
                SELECT doc_id, list_distinct(
                    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                         ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                    END) AS sh
                FROM tok
            ), pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM t a JOIN t b ON a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                      / greatest(len(a.sh) + len(b.sh)
                                 - len(list_intersect(a.sh, b.sh)), 1) >= 0.5
            ), edges AS (
                SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs
            ), reach(node, label) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.b, r.label FROM edges e JOIN reach r ON e.a = r.node
            ), labels AS (
                SELECT node, min(label) AS cluster_id FROM reach GROUP BY node
            ), doc_rep AS (
                SELECT d.doc_id, r.rep
                FROM documents d JOIN reps r ON md5(d.text) = r.h
            )
            SELECT dr.doc_id,
                   coalesce(l.cluster_id, dr.rep) AS cluster_id,
                   (dr.doc_id = coalesce(l.cluster_id, dr.rep)) AS is_survivor
            FROM doc_rep dr LEFT JOIN labels l ON dr.rep = l.node
        """,
        "d_neardup_verified": """
            WITH reps AS (
                SELECT min(doc_id) AS doc_id, min(text) AS text
                FROM documents GROUP BY md5(text)
            ), tok AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(
                               regexp_replace(text, '^\\s+|\\s+$', '', 'g'),
                               '\\s+'),
                           x -> x <> '') AS w
                FROM reps
            ), t AS (
                SELECT doc_id, list_distinct(
                    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                         ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                    END) AS sh
                FROM tok
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / greatest(len(a.sh) + len(b.sh)
                                    - len(list_intersect(a.sh, b.sh)), 1), 6)
                       AS jaccard
            FROM t a JOIN t b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / greatest(len(a.sh) + len(b.sh)
                             - len(list_intersect(a.sh, b.sh)), 1) >= 0.5
        """,
        "d_minhash_lsh": """
            WITH reps AS (
                SELECT min(doc_id) AS doc_id, min(text) AS text
                FROM documents GROUP BY md5(text)
            ), tok AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(
                               regexp_replace(text, '^\\s+|\\s+$', '', 'g'),
                               '\\s+'),
                           x -> x <> '') AS w
                FROM reps
            ), t AS (
                SELECT doc_id, list_distinct(
                    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                         ELSE list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                    END) AS sh
                FROM tok
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM t a JOIN t b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / greatest(len(a.sh) + len(b.sh)
                             - len(list_intersect(a.sh, b.sh)), 1) >= 0.5
        """,
        "s_knn_bruteforce": """
            SELECT query_id, neighbor_id, cosine, rank FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                       round(list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 4) AS cosine,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 4) DESC,
                                    v.vec_id ASC) AS rank
                FROM embeddings q JOIN embeddings v ON q.vec_id <> v.vec_id
                WHERE q.vec_id < 10
            ) WHERE rank <= 5
        """,
        # the full iterative Lloyd's fit, unrolled: seed -> E/M -> E/M ->
        # final assignment, every float op pinned by the round-6 algebra
        "s_kmeans": _kmeans_oracle(k=4, iters=2),
        # both sublinear ANN paths (banded LSH and IVF probe) must reproduce
        # the exact brute-force top-5 on the clustered derivation
        # (spike +8.0 at 1-based index label+1)
        "s_knn_ivf": """
            WITH c AS (
                SELECT vec_id,
                       list_transform(range(1, 65),
                           i -> CAST(embedding[i] AS DOUBLE)
                                + CASE WHEN i - 1 = label THEN 8.0 ELSE 0.0 END)
                           AS embedding
                FROM embeddings
            )
            SELECT query_id, neighbor_id, cosine, rank FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                       round(list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 4) AS cosine,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 4) DESC,
                                    v.vec_id ASC) AS rank
                FROM c q JOIN c v ON q.vec_id <> v.vec_id
                WHERE q.vec_id < 10
            ) WHERE rank <= 5
        """,
        "s_knn_lsh": """
            WITH c AS (
                SELECT vec_id,
                       list_transform(range(1, 65),
                           i -> CAST(embedding[i] AS DOUBLE)
                                + CASE WHEN i - 1 = label THEN 8.0 ELSE 0.0 END)
                           AS embedding
                FROM embeddings
            )
            SELECT query_id, neighbor_id, cosine, rank FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                       round(list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 4) AS cosine,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 4) DESC,
                                    v.vec_id ASC) AS rank
                FROM c q JOIN c v ON q.vec_id <> v.vec_id
                WHERE q.vec_id < 10
            ) WHERE rank <= 5
        """,
        # simhash re-derived in SQL: token hash = first 8 md5 bytes as
        # uint64 (matching functions/minhash.simhash64_batch); bit i of the
        # fingerprint is 1 iff more token hashes have bit i set than not;
        # signed simhash = h - 2^63, bucket16 = h >> 48
        "d_simhash": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           x -> x <> '')) AS tok
                FROM documents
            ),
            bitacc AS (
                SELECT doc_id, b.bit AS bit,
                       SUM(CASE WHEN ((('0x' || substr(md5(tok), 1, 16))::UBIGINT
                                       >> b.bit) & 1::UBIGINT) = 1
                                THEN 1 ELSE -1 END) AS acc
                FROM toks, (SELECT unnest(range(64)) AS bit) b
                GROUP BY doc_id, b.bit
            ),
            fp AS (
                SELECT doc_id,
                       SUM(CASE WHEN acc > 0
                                THEN (1::UBIGINT << bit)::HUGEINT
                                ELSE 0 END) AS h
                FROM bitacc GROUP BY doc_id
            )
            SELECT d.doc_id AS doc_id,
                   CAST(COALESCE(f.h, 0) - 9223372036854775808 AS BIGINT)
                       AS simhash,
                   CAST(COALESCE(f.h, 0) // 281474976710656 AS INTEGER)
                       AS bucket16
            FROM documents d LEFT JOIN fp f USING (doc_id)
        """,
        # duplicated word-8-gram spans: positioned grams -> corpus-frequency
        # filter -> per-doc interval merge, all re-derived in SQL
        "d_dup_spans": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), g AS (
                SELECT doc_id, len(toks) AS n_toks, i - 1 AS pos,
                       md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS gh
                FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
                WHERE len(toks) >= 8
            ), dup AS (
                SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2
            ), hits AS (
                SELECT doc_id, n_toks, pos FROM g
                WHERE gh IN (SELECT gh FROM dup)
            ), marked AS (
                SELECT doc_id, n_toks, pos,
                       CASE WHEN max(pos + 8) OVER (
                                PARTITION BY doc_id ORDER BY pos ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) IS NULL
                             OR pos >= max(pos + 8) OVER (
                                PARTITION BY doc_id ORDER BY pos ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING)
                       THEN 1 ELSE 0 END AS new_span
                FROM hits
            ), runs AS (
                SELECT doc_id, n_toks, pos, new_span,
                       sum(new_span) OVER (PARTITION BY doc_id
                           ORDER BY pos ASC ROWS UNBOUNDED PRECEDING) AS span_id
                FROM marked
            ), spans AS (
                SELECT doc_id, n_toks, span_id, count(*) AS g_in_span,
                       min(pos) AS s, max(pos) + 8 AS e
                FROM runs GROUP BY doc_id, n_toks, span_id
            )
            SELECT doc_id,
                   CAST(sum(g_in_span) AS BIGINT) AS n_dup_grams,
                   count(*) AS n_spans,
                   CAST(sum(e - s) AS BIGINT) AS dup_tokens,
                   n_toks,
                   round(CAST(sum(e - s) AS DOUBLE) / greatest(n_toks, 1), 6)
                       AS dup_frac
            FROM spans GROUP BY doc_id, n_toks
        """,
        # SemDeDup: sign-bucket clusters + within-cluster cosine prune,
        # min-id survivor; clusters and cosines re-derived in SQL
        "d_semdedup": """
            WITH v AS (
                SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ), c AS (
                SELECT vec_id, e,
                       (CASE WHEN e[1] >= 0 THEN 1 ELSE 0 END)
                     + (CASE WHEN e[2] >= 0 THEN 2 ELSE 0 END)
                     + (CASE WHEN e[3] >= 0 THEN 4 ELSE 0 END)
                     + (CASE WHEN e[4] >= 0 THEN 8 ELSE 0 END)
                     + (CASE WHEN e[5] >= 0 THEN 16 ELSE 0 END)
                     + (CASE WHEN e[6] >= 0 THEN 32 ELSE 0 END) AS cluster_id
                FROM v
            ), p AS (
                SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
                FROM c a JOIN c b
                  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.e, b.e) >= 0.25
                GROUP BY b.vec_id
            )
            SELECT c.vec_id, c.cluster_id, p.dup_of,
                   p.dup_of IS NULL AS keep
            FROM c LEFT JOIN p USING (vec_id)
        """,
        # the k-means fit replayed as a CTE (the s_kmeans oracle verbatim),
        # then the identical within-cluster min-id cosine prune
        "d_semdedup_kmeans": """
            WITH base AS ({km}
            ), v AS (
                SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ), c AS (
                SELECT v.vec_id, v.e, base.cluster_id
                FROM v JOIN base USING (vec_id)
            ), p AS (
                SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
                FROM c a JOIN c b
                  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.e, b.e) >= 0.25
                GROUP BY b.vec_id
            )
            SELECT c.vec_id, c.cluster_id, p.dup_of,
                   p.dup_of IS NULL AS keep
            FROM c LEFT JOIN p USING (vec_id)
        """.format(km=_kmeans_oracle(k=4, iters=2)),
        # URL curation verdicts: construction mirrored, verdicts derived
        # independently (LIKE-suffix disjunction vs suffix-explode)
        "t_url_filter": """
            WITH p AS (
                SELECT doc_id,
                    CASE WHEN doc_id % 89 = 0
                             THEN 'ftp://files.example/f' || doc_id::VARCHAR
                         WHEN doc_id % 83 = 0
                             THEN 'https://long.example/' || repeat('x', 600)
                         WHEN doc_id % 13 = 0
                             THEN 'https://ads.tracker.example/p' || doc_id::VARCHAR
                         WHEN doc_id % 17 = 0
                             THEN 'https://site.example/p' || doc_id::VARCHAR
                                  || '?utm_source=feed'
                         WHEN doc_id % 19 = 0
                             THEN 'https://deep.example/a/b/c/d/e/f/g/'
                                  || doc_id::VARCHAR || '.html'
                         ELSE 'https://site' || (doc_id % 7)::VARCHAR
                              || '.example/dir' || (doc_id % 3)::VARCHAR
                              || '/page' || doc_id::VARCHAR || '.html'
                    END AS url
                FROM documents
            ), a AS (
                SELECT doc_id, url,
                       lower(regexp_extract(url, '^https?://([^/:?#]+)', 1))
                           AS host,
                       len(string_split(regexp_replace(url,
                           '^[a-z][a-z0-9+.\\-]*://[^/]*', ''), '/')) - 1
                           AS path_depth
                FROM p
            )
            SELECT doc_id, url, host, path_depth,
                   CASE WHEN NOT regexp_matches(url, '^https?://')
                            THEN 'scheme'
                        WHEN length(url) > 512 THEN 'url_too_long'
                        WHEN host = 'tracker.example'
                          OR host LIKE '%.tracker.example'
                          OR host = 'spam.example'
                          OR host LIKE '%.spam.example' THEN 'blocked_host'
                        WHEN regexp_matches(url, '[?&]utm_')
                            THEN 'blocked_pattern'
                        WHEN path_depth > 6 THEN 'path_too_deep'
                   END AS reject_reason
            FROM a
        """,
        # hashed-linear quality classifier: token -> md5 bucket -> md5-seeded
        # weight -> mean -> sigmoid, all re-derived in SQL
        "t_quality_model": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), s AS (
                SELECT doc_id, len(toks) AS n_toks,
                       COALESCE(list_sum(list_transform(toks, tok ->
                           (CAST(('0x' || substr(md5('qw:' || CAST(
                                ('0x' || substr(md5(tok), 1, 15))::UBIGINT
                                    % 1024 AS VARCHAR)), 1, 15))::UBIGINT
                                % 2001 AS DOUBLE) - 1000) / 1000.0
                       )), 0.0) AS sum_w
                FROM t
            ), sc AS (
                SELECT doc_id, n_toks,
                       round(1.0 / (1.0 + exp(-(sum_w / greatest(n_toks, 1)))),
                             6) AS score
                FROM s
            )
            SELECT doc_id, n_toks, score, score >= 0.5 AS keep FROM sc
        """,
        # winnowing re-derived in SQL: every 8-char window's md5 prefix,
        # keep the 4 lexicographically smallest, md5 the concatenation
        # (text is ASCII, so char windows == byte windows)
        "t_winnow": """
            SELECT doc_id,
                   md5(array_to_string(
                       list_sort(list_transform(
                           CASE WHEN length(text) < 8 THEN [text]
                                ELSE list_transform(range(1, length(text) - 6),
                                     i -> substr(text, i, 8))
                           END,
                           w -> substr(md5(w), 1, 8)))[1:4], '')) AS winnow_fp
            FROM documents
        """,
        "d_embedding_neardup": """
            SELECT query_id, neighbor_id, cosine, rank FROM (
                SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                       round(list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 4) AS cosine,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 4) DESC,
                                    v.vec_id ASC) AS rank
                FROM embeddings q JOIN embeddings v ON q.vec_id <> v.vec_id
                WHERE q.vec_id < 50
            ) WHERE rank <= 1 AND cosine >= 0.2
        """,
        "a6_rollup_sets": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n, round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "w7_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "m_binary_meta": """
            SELECT doc_id AS asset_id,
                   octet_length(encode(text)) AS n_bytes,
                   md5(text) AS content_md5
            FROM documents
        """,
        # reads the from-scratch rebuild the Spark query materialized into the
        # scratch dir — equality == "incremental apply reproduces a full run"
        "incr_apply": f"""
            SELECT 'documents' AS tbl, url AS k, content_md5 AS v
            FROM read_parquet('{_INCR_SCRATCH_DIR}/documents/*.parquet')
            UNION ALL
            SELECT 'edges' AS tbl,
                   subj_canon || '|' || pred || '|' || obj_canon AS k,
                   CAST(support AS VARCHAR) AS v
            FROM read_parquet('{_INCR_SCRATCH_DIR}/edges/*.parquet')
        """,
        # reads the chunk index the Spark query materialized (the driver runs
        # the Spark side first); scores with the same float32 query literal
        "kg_vector_search": f"""
            WITH s AS (
                SELECT url, chunk_id, char_start,
                       CASE WHEN list_dot_product(embedding, embedding) > 0
                            THEN list_dot_product(
                                     embedding,
                                     {_kg_query_vec()!r}::DOUBLE[])
                                 / sqrt(list_dot_product(embedding, embedding))
                            ELSE 0.0 END AS raw_score
                FROM read_parquet('{_KG_CHUNKS_PATH}/*.parquet')
            )
            SELECT url, chunk_id, char_start, round(raw_score, 6) AS score
            FROM s
            ORDER BY round(raw_score, 6) DESC, url ASC, chunk_id ASC
            LIMIT 10
        """,
        # the md5-stripe fake decoder re-derived in SQL: stripe i of the
        # payload -> first 32 bits of md5 -> mod 1e4 / 1e4. The payload is
        # encode(text) and the testdata text is pure ASCII (verified: no doc
        # has octet_length(encode(text)) <> length(text)), so char stripes
        # equal byte stripes and VARCHAR md5 matches the Python bytes md5.
        "m_decode_features": """
            WITH d AS (
                SELECT doc_id AS asset_id, text,
                       octet_length(encode(text)) AS n_bytes,
                       greatest(1, length(text) // 8) AS stripe
                FROM documents
            )
            SELECT asset_id, n_bytes, 'fake-md5/v1' AS codec,
        """ + ",\n".join(
            f"""round((CAST(concat('0x', substr(md5(substr(text,
                {i} * stripe + 1, stripe)), 1, 8)) AS BIGINT)
                % 10000) / 10000.0, 4) AS f{i}"""
            for i in range(8)
        ) + """
            FROM d
        """,
        # derived web graph (same exact function of doc_id as
        # _derived_edges) + PageRank unrolled for 3 iterations: the
        # independent re-derivation of the iterative-join operator. The
        # graph has no dangling nodes by construction (doc_ids contiguous,
        # targets mod n), so the dangling term is structurally zero. Float
        # op ORDER mirrors the operator: (1.0-0.85)/n first, then + 0.85*c.
        "g_pagerank": _GRAPH_EDGES_SQL + """,
        deg AS (SELECT src, COUNT(*)::DOUBLE AS d FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst FROM edges)),
        nn AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
        r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)
        """ + "".join(
            f""",
        c{i} AS (SELECT e.dst AS node, SUM(r.rank / deg.d) AS c
                 FROM edges e
                 JOIN deg ON e.src = deg.src
                 JOIN r{i - 1} r ON r.node = e.src
                 GROUP BY e.dst),
        r{i} AS (SELECT nd.node,
                        (1.0 - 0.85) / (SELECT n FROM nn)
                        + 0.85 * COALESCE(c{i}.c, 0.0) AS rank
                 FROM nodes nd LEFT JOIN c{i} ON nd.node = c{i}.node)"""
            for i in (1, 2, 3)
        ) + """
        SELECT node, round(rank, 6) AS rank FROM r3
        ORDER BY round(rank, 6) DESC, node ASC LIMIT 50
        """,
        # weighted walk unrolled: contribution = rank * (w / W_src); the
        # deterministic per-edge weight 1 + (src+dst) % 5 re-derived
        "g_pagerank_weighted": _GRAPH_EDGES_SQL + """,
        we AS (SELECT src, dst,
                      (1 + (src + dst) % 5)::DOUBLE AS w FROM edges),
        wdeg AS (SELECT src, SUM(w) AS d FROM we GROUP BY src),
        nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM we
            UNION ALL SELECT dst FROM we)),
        nn AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
        r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)
        """ + "".join(
            f""",
        c{i} AS (SELECT e.dst AS node,
                        SUM(r.rank * (e.w / wdeg.d)) AS c
                 FROM we e
                 JOIN wdeg ON e.src = wdeg.src
                 JOIN r{i - 1} r ON r.node = e.src
                 GROUP BY e.dst),
        r{i} AS (SELECT nd.node,
                        (1.0 - 0.85) / (SELECT n FROM nn)
                        + 0.85 * COALESCE(c{i}.c, 0.0) AS rank
                 FROM nodes nd LEFT JOIN c{i} ON nd.node = c{i}.node)"""
            for i in (1, 2, 3)
        ) + """
        SELECT node, round(rank, 6) AS rank FROM r3
        ORDER BY round(rank, 6) DESC, node ASC LIMIT 50
        """,
        # HITS unrolled for 2 iterations, L1-normalized per half-step —
        # the independent SQL re-derivation of the iterative operator.
        # Same derived edge set; hub_0 uniform 1/N.
        "g_hits": _GRAPH_EDGES_SQL + """,
        nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst FROM edges)),
        nn AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
        h0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS hub FROM nodes)
        """ + "".join(
            f""",
        ar{i} AS (SELECT e.dst AS node, SUM(h.hub) AS raw
                  FROM edges e JOIN h{i - 1} h ON h.node = e.src
                  GROUP BY e.dst),
        a{i} AS (SELECT nd.node,
                        COALESCE(ar{i}.raw, 0.0)
                        / (SELECT SUM(raw) FROM ar{i}) AS auth
                 FROM nodes nd LEFT JOIN ar{i} ON nd.node = ar{i}.node),
        hr{i} AS (SELECT e.src AS node, SUM(a.auth) AS raw
                  FROM edges e JOIN a{i} a ON a.node = e.dst
                  GROUP BY e.src),
        h{i} AS (SELECT nd.node,
                        COALESCE(hr{i}.raw, 0.0)
                        / (SELECT SUM(raw) FROM hr{i}) AS hub
                 FROM nodes nd LEFT JOIN hr{i} ON nd.node = hr{i}.node)"""
            for i in (1, 2)
        ) + """
        SELECT a2.node, round(h2.hub, 6) AS hub, round(a2.auth, 6) AS auth
        FROM a2 JOIN h2 ON a2.node = h2.node
        ORDER BY round(a2.auth, 6) DESC, a2.node ASC LIMIT 50
        """,
        # the identical bloom bit algebra: member bits = md5-salted
        # positions of nation-5 custkeys; an order survives iff ALL 3 of
        # its salted positions are set — true members AND false positives
        # reproduce exactly
        "j6_bloom_prune": """
            WITH keys AS (
                SELECT DISTINCT c_custkey AS k FROM customer
                WHERE c_nationkey = 5
            ), salts AS (
                SELECT unnest(['bf0:', 'bf1:', 'bf2:']) AS salt
            ), bits AS (
                SELECT DISTINCT
                       (('0x' || substr(md5(s.salt || CAST(k AS VARCHAR)),
                                        1, 15))::UBIGINT)::BIGINT % 256 AS b
                FROM keys CROSS JOIN salts s
            ), probe AS (
                SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, s.salt,
                       (('0x' || substr(md5(s.salt ||
                                            CAST(o.o_custkey AS VARCHAR)),
                                        1, 15))::UBIGINT)::BIGINT % 256 AS b
                FROM orders o CROSS JOIN salts s
            ), hits AS (
                SELECT o_orderkey, o_custkey, any_value(o_totalprice) AS price
                FROM probe JOIN bits USING (b)
                GROUP BY o_orderkey, o_custkey
                HAVING COUNT(*) = 3
            )
            SELECT o_custkey, COUNT(*) AS n_orders,
                   round(SUM(price), 2) AS sum_price
            FROM hits GROUP BY o_custkey
        """,
        # as-of: DuckDB's native ASOF LEFT JOIN — a different engine's
        # built-in implementation of the same pinned semantics (right side
        # pre-deduped per (key, ts) by max orderkey in both engines)
        "j5_asof_latest_order": """
            WITH r AS (
                SELECT o_custkey AS user_id, o_orderdate,
                       max(o_orderkey) AS o_orderkey,
                       arg_max(o_totalprice, o_orderkey) AS o_totalprice
                FROM orders GROUP BY o_custkey, o_orderdate
            )
            SELECT e.event_id, e.user_id, e.ts,
                   r.o_orderkey AS last_order_key,
                   round(r.o_totalprice, 2) AS last_order_price
            FROM events e
            ASOF LEFT JOIN r
              ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
        """,
        # temporal KG snapshot: oracle picks latest-wins per (subj, pred)
        # via row_number DESC — an independent derivation of the Spark
        # side's struct-max aggregation (no window) with the same
        # (ts, obs_id) tie order
        "kg_triple_snapshot": """
            SELECT subj, pred, obj_value, observed_ts, obs_id FROM (
                SELECT user_id AS subj, event_type AS pred,
                       round(value, 4) AS obj_value,
                       ts AS observed_ts, event_id AS obs_id,
                       row_number() OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC
                       ) AS rn
                FROM events
                WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'
            ) WHERE rn = 1
        """,
        # evidence aggregation per claim: one grouped pass; confidence =
        # recency-weighted support with pinned op order
        # (micros-diff -> /86400e6 -> /half_life -> pow), rounded 6dp
        "kg_triple_support": """
            SELECT user_id AS subj, event_type AS pred,
                   floor(value / 50)::BIGINT AS obj,
                   COUNT(*) AS n_obs,
                   min(ts) AS first_seen, max(ts) AS last_seen,
                   round(SUM(pow(0.5,
                       ((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
                         - epoch_us(ts)) / 86400000000.0) / 7.0
                   )), 6) AS confidence
            FROM events GROUP BY 1, 2, 3
        """,
        # functional-predicate conflicts: top value by (n_obs, obj),
        # latest value by (ts, event_id) — both re-derived via
        # row_number instead of the Spark side's struct-max aggregates
        "kg_functional_conflicts": """
            WITH base AS (
                SELECT user_id AS subj, event_type AS pred,
                       floor(value / 50)::BIGINT AS obj, ts, event_id
                FROM events
            ), pv AS (
                SELECT subj, pred, obj, COUNT(*) AS n_obs
                FROM base GROUP BY 1, 2, 3
            ), top AS (
                SELECT subj, pred, obj AS top_obj, n_obs AS top_n_obs
                FROM (
                    SELECT pv.*, row_number() OVER (
                        PARTITION BY subj, pred
                        ORDER BY n_obs DESC, obj DESC) AS rn
                    FROM pv
                ) WHERE rn = 1
            ), latest AS (
                SELECT subj, pred, obj AS latest_obj FROM (
                    SELECT base.*, row_number() OVER (
                        PARTITION BY subj, pred
                        ORDER BY ts DESC, event_id DESC) AS rn
                    FROM base
                ) WHERE rn = 1
            ), agg AS (
                SELECT subj, pred, COUNT(*) AS n_values
                FROM pv GROUP BY 1, 2
            )
            SELECT a.subj, a.pred, a.n_values,
                   t.top_obj, t.top_n_obs, l.latest_obj
            FROM agg a
            JOIN top t USING (subj, pred)
            JOIN latest l USING (subj, pred)
            WHERE a.n_values >= 2
        """,
        # validity-interval ledger: lead(ts) closes each belief; only
        # superseded beliefs returned; lifetime in exact integer
        # microseconds (epoch_us both engines)
        "kg_triple_intervals": """
            SELECT subj, pred, obj_value, obs_id, valid_from, valid_to,
                   epoch_us(valid_to) - epoch_us(valid_from) AS lifetime_us
            FROM (
                SELECT user_id AS subj, event_type AS pred,
                       round(value, 4) AS obj_value, event_id AS obs_id,
                       ts AS valid_from,
                       lead(ts) OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY ts ASC, event_id ASC
                       ) AS valid_to
                FROM events
            ) WHERE valid_to IS NOT NULL
        """,
        # per-host rollup: same analytic host function of doc_id; corpus-
        # wide exact-dup flags via a count window over md5(text)
        "t_domain_profile": """
            WITH rws AS (
                SELECT 'site' || (doc_id % 7)::VARCHAR || '.example' AS host,
                       md5(text) AS sig, length(text) AS len, lang
                FROM documents
            ), flagged AS (
                SELECT host, len, lang,
                       CASE WHEN COUNT(*) OVER (PARTITION BY sig) > 1
                            THEN 1 ELSE 0 END AS dup
                FROM rws
            )
            SELECT host, COUNT(*) AS n_docs,
                   CAST(SUM(dup) AS BIGINT) AS n_dup_docs,
                   CAST((SUM(dup) * 1000000) // COUNT(*) AS BIGINT)
                       AS dup_ppm,
                   CAST(SUM(len) AS BIGINT) AS sum_chars,
                   COUNT(DISTINCT lang) AS n_langs
            FROM flagged GROUP BY host
        """,
        # canonical-url algebra: analytic per-branch derivation (the Spark
        # side runs the generic trim/fragment/case/port/tracking algebra)
        "t_canonical_urls": """
            SELECT doc_id,
                   CASE doc_id % 8
                     WHEN 0 THEN 'https://site' || (doc_id % 7)::VARCHAR
                                 || '.example/p/' || doc_id::VARCHAR
                                 || '?id=' || doc_id::VARCHAR
                     WHEN 1 THEN 'http://site' || (doc_id % 7)::VARCHAR
                                 || '.example/'
                     WHEN 2 THEN 'http://site' || (doc_id % 7)::VARCHAR
                                 || '.example:8080/x'
                     WHEN 3 THEN NULL
                     WHEN 4 THEN 'https://site' || (doc_id % 7)::VARCHAR
                                 || '.example/x?z=' || doc_id::VARCHAR
                     WHEN 5 THEN 'https://site' || (doc_id % 7)::VARCHAR
                                 || '.example/A/B?a=1&b=2'
                     WHEN 6 THEN 'https://site' || (doc_id % 7)::VARCHAR
                                 || '.example/x'
                     ELSE NULL
                   END AS canonical
            FROM documents
        """,
        # line-level boilerplate removal re-implemented in SQL end-to-end
        # (split -> normalize -> distinct-doc df -> anti-filter -> ordered
        # string_agg rebuild) over the same synthesized multi-line text
        "t_boilerplate": """
            WITH synth AS (
                SELECT doc_id,
                       substr(text, 1, 60) || chr(10)
                       || '  Copyright   2024 ExampleCorp  ' || chr(10)
                       || 'nav menu ' || (doc_id % 4)::VARCHAR
                       || chr(10) || chr(10)
                       || substr(text, 61, 60) AS text
                FROM documents
            ), lns AS (
                SELECT doc_id, i AS pos, arr[i] AS line,
                       lower(trim(regexp_replace(arr[i],
                           '[ \t\n\r\f\x0b]+', ' ', 'g')))
                           AS norm
                FROM (SELECT doc_id, string_split(text, chr(10)) AS arr
                      FROM synth),
                     unnest(generate_series(1, len(arr))) AS u(i)
            ), dfreq AS (
                SELECT norm, COUNT(DISTINCT doc_id) AS df
                FROM lns WHERE norm <> '' GROUP BY norm
            ), kept AS (
                SELECT l.doc_id, l.pos, l.line
                FROM lns l LEFT JOIN dfreq f ON l.norm = f.norm
                WHERE l.norm = '' OR f.df < 5
            ), rebuilt AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                       COUNT(*) AS n_kept
                FROM kept GROUP BY doc_id
            ), totals AS (
                SELECT doc_id, COUNT(*) AS n_lines FROM lns GROUP BY doc_id
            )
            SELECT t.doc_id,
                   md5(COALESCE(r.clean_text, '')) AS clean_md5,
                   t.n_lines,
                   t.n_lines - COALESCE(r.n_kept, 0) AS n_removed
            FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        """,
        # co-occurrence PMI: mentions re-derived from doc_id (same analytic
        # function as _derived_mentions), then the pinned count->ratio->ln
        # formula; npmi NULL when the pair spans every context
        "kg_cooccur_pmi": """
            WITH raw AS (
                SELECT doc_id AS ctx, (doc_id % 40)::BIGINT AS e FROM documents
                UNION ALL
                SELECT doc_id, ((doc_id // 3) % 40)::BIGINT FROM documents
                UNION ALL
                SELECT doc_id, 40 FROM documents WHERE doc_id % 5 = 0
                UNION ALL
                SELECT doc_id, (doc_id % 40)::BIGINT FROM documents
                WHERE doc_id % 7 = 0
            ),
            m AS (SELECT DISTINCT ctx, e FROM raw),
            nn AS (SELECT COUNT(DISTINCT ctx)::DOUBLE AS n FROM raw),
            marg AS (SELECT e, COUNT(*) AS n_e FROM m GROUP BY e),
            pairs AS (
                SELECT l.e AS a, r.e AS b, COUNT(*) AS n_pair
                FROM m l JOIN m r ON l.ctx = r.ctx AND l.e < r.e
                GROUP BY l.e, r.e
            )
            SELECT a, b, n_pair, ma.n_e AS n_a, mb.n_e AS n_b,
                   round(ln((n_pair / (SELECT n FROM nn))
                            / ((ma.n_e / (SELECT n FROM nn))
                               * (mb.n_e / (SELECT n FROM nn)))), 6) AS pmi,
                   CASE WHEN n_pair / (SELECT n FROM nn) = 1.0 THEN NULL
                        ELSE round(
                            ln((n_pair / (SELECT n FROM nn))
                               / ((ma.n_e / (SELECT n FROM nn))
                                  * (mb.n_e / (SELECT n FROM nn))))
                            / -ln(n_pair / (SELECT n FROM nn)), 6)
                   END AS npmi
            FROM pairs
            JOIN marg ma ON pairs.a = ma.e
            JOIN marg mb ON pairs.b = mb.e
        """,
        # anchor-alias rollup: each branch's CLEANED anchor is derived
        # analytically per doc_id (the Spark side runs the generic regex
        # extraction + tag-strip + collapse + lowercase algebra)
        "g_anchor_aliases": """
            WITH pairs AS (
                SELECT 'https://site' || (doc_id % 7)::VARCHAR
                       || '.example/p/' || doc_id::VARCHAR || '.html' AS src,
                       'https://kb.example/e/' || (doc_id % 50)::VARCHAR AS dst,
                       CASE WHEN doc_id % 3 = 2
                            THEN 'the entity ' || (doc_id % 50)::VARCHAR
                            ELSE 'entity ' || (doc_id % 50)::VARCHAR
                       END AS anchor
                FROM documents
            ), counts AS (
                SELECT dst, anchor, COUNT(*) AS n_refs,
                       COUNT(DISTINCT src) AS n_srcs
                FROM pairs GROUP BY dst, anchor
            ), ranked AS (
                SELECT dst, anchor, n_refs, n_srcs,
                       ROW_NUMBER() OVER (
                           PARTITION BY dst
                           ORDER BY n_refs DESC, anchor ASC) AS rank
                FROM counts
            )
            SELECT dst, anchor, n_refs, n_srcs, rank
            FROM ranked WHERE rank <= 2
        """,
        "g_degree_topk": _GRAPH_EDGES_SQL + """
        SELECT dst AS node, COUNT(*) AS degree FROM edges
        GROUP BY dst ORDER BY degree DESC, node ASC LIMIT 20
        """,
        # per-node triangle counts, derived WITHOUT the Spark side's
        # degree orientation: canonical a<b undirected edges, chained
        # a<b<c joins, corners unioned
        "g_triangles": _GRAPH_EDGES_SQL + """
        , und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM edges WHERE src <> dst
        ), tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ), corners AS (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        )
        SELECT node, count(*) AS n_triangles FROM corners GROUP BY node
        """,
        # independent ANALYTIC resolution of each href branch (the Spark
        # side runs the generic resolve_href_col algebra; the oracle derives
        # what that algebra must produce per branch — a stronger check than
        # re-running the same regexes)
        "g_outlinks": """
            SELECT doc_id,
                   CASE doc_id % 6
                     WHEN 0 THEN 'https://other.example/abs.html'
                     WHEN 1 THEN NULL
                     WHEN 2 THEN 'https://cdn.example/assets/app.js'
                     WHEN 3 THEN 'https://site' || (doc_id % 7)::VARCHAR
                                 || '.example/rooted/r.html'
                     WHEN 4 THEN 'https://site' || (doc_id % 7)::VARCHAR
                                 || '.example/dir' || (doc_id % 3)::VARCHAR
                                 || '/up/one.html'
                     ELSE 'https://site' || (doc_id % 7)::VARCHAR
                          || '.example/dir' || (doc_id % 3)::VARCHAR
                          || '/sub/same/dir.html'
                   END AS resolved
            FROM documents
        """,
        "g_two_hop": _GRAPH_EDGES_SQL + """
        SELECT e1.src AS node, COUNT(DISTINCT e2.dst) AS n_two_hop
        FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
        WHERE e1.src < 20
        GROUP BY e1.src
        """,
        # OPTIONAL as LEFT JOIN, MINUS as NOT EXISTS over shared vars
        "kg_bgp_optional": """
            WITH claims AS (
                SELECT DISTINCT user_id AS subj, event_type AS pred,
                       floor(value / 50)::BIGINT AS obj
                FROM events
            ),
            req AS (SELECT subj AS a, obj AS v FROM claims
                    WHERE pred = 'purchase'),
            opt AS (SELECT subj AS b, obj AS v FROM claims
                    WHERE pred = 'view')
            SELECT DISTINCT req.a, req.v, opt.b
            FROM req LEFT JOIN opt ON req.v = opt.v
            WHERE NOT EXISTS (SELECT 1 FROM claims m
                              WHERE m.pred = 'error'
                                AND m.subj = req.a AND m.obj = req.v)
        """,
        # first-occurrence context windows: strpos/substr twins of
        # locate/substring (both 1-based, both clamp out-of-range)
        "kg_mention_contexts": """
            WITH aliases AS (
                SELECT * FROM (VALUES ('spark'), ('merge'), ('vector'),
                               ('customer')) AS t(alias)
            ),
            hit AS (
                SELECT d.doc_id, a.alias,
                       strpos(d.text, a.alias)::BIGINT AS pos, d.text
                FROM documents d CROSS JOIN aliases a
                WHERE strpos(d.text, a.alias) > 0
            )
            SELECT doc_id, alias, pos,
                   substr(text, greatest(1, pos - 24)::INT,
                          (pos - greatest(1, pos - 24))::INT) AS left_ctx,
                   substr(text, (pos + length(alias))::INT, 24) AS right_ctx
            FROM hit
        """,
        # inverse/symmetric predicate mining over distinct claims —
        # swapped-pair self-join + per-predicate totals
        "kg_inverse_preds": """
            WITH claims AS (
                SELECT DISTINCT user_id AS subj, event_type AS pred,
                       floor(value / 50)::BIGINT AS obj
                FROM events
            ),
            totals AS (SELECT pred, COUNT(*) AS n_pred
                       FROM claims GROUP BY pred),
            matched AS (
                SELECT l.pred, r.pred AS inv_pred, COUNT(*) AS n_matched
                FROM claims l JOIN claims r
                  ON l.subj = r.obj AND l.obj = r.subj
                GROUP BY l.pred, r.pred
            )
            SELECT m.pred, m.inv_pred, t.n_pred, m.n_matched,
                   round(m.n_matched::DOUBLE / t.n_pred, 6)
                       AS inv_confidence
            FROM matched m JOIN totals t ON m.pred = t.pred
        """,
        # AMIE-style closed path rules: distinct chain pairs (bridge
        # projected out), CWA confidence
        "kg_path_rules": """
            WITH claims AS (
                SELECT DISTINCT user_id AS subj, event_type AS pred,
                       floor(value / 50)::BIGINT AS obj
                FROM events
            ),
            chains AS (
                SELECT DISTINCT l.subj AS a, l.pred AS pred_p,
                       r.pred AS pred_q, r.obj AS c
                FROM claims l JOIN claims r ON l.obj = r.subj
            ),
            body AS (SELECT pred_p, pred_q, COUNT(*) AS n_body
                     FROM chains GROUP BY pred_p, pred_q),
            heads AS (
                SELECT ch.pred_p, ch.pred_q, cl.pred AS pred_r,
                       COUNT(*) AS support
                FROM chains ch
                JOIN claims cl ON ch.a = cl.subj AND ch.c = cl.obj
                GROUP BY ch.pred_p, ch.pred_q, cl.pred
                HAVING COUNT(*) >= 5
            ),
            pca AS (
                SELECT ch.pred_p, ch.pred_q, sp.pred AS pred_r,
                       COUNT(*) AS n_pca_body
                FROM chains ch
                JOIN (SELECT DISTINCT subj, pred FROM claims) sp
                  ON ch.a = sp.subj
                GROUP BY ch.pred_p, ch.pred_q, sp.pred
            )
            SELECT h.pred_p, h.pred_q, h.pred_r, b.n_body, h.support,
                   round(h.support::DOUBLE / b.n_body, 6) AS confidence,
                   p.n_pca_body,
                   round(h.support::DOUBLE / p.n_pca_body, 6)
                       AS pca_confidence
            FROM heads h
            JOIN body b ON h.pred_p = b.pred_p AND h.pred_q = b.pred_q
            JOIN pca p ON h.pred_p = p.pred_p AND h.pred_q = p.pred_q
                      AND h.pred_r = p.pred_r
        """,
        # snapshot delta re-derived from TWO independent row_number
        # snapshots + a full outer join (vs the operator's single-scan
        # conditional struct-max)
        "kg_snapshot_diff": """
            WITH obs AS (
                SELECT user_id AS subj, event_type AS pred,
                       floor(value / 50)::BIGINT AS obj, ts,
                       event_id AS obs_id
                FROM events
            ),
            s1 AS (SELECT subj, pred, obj FROM (
                       SELECT subj, pred, obj, row_number() OVER (
                           PARTITION BY subj, pred
                           ORDER BY ts DESC, obs_id DESC) AS rn
                       FROM obs
                       WHERE ts <= TIMESTAMP '2024-01-10 00:00:00')
                   WHERE rn = 1),
            s2 AS (SELECT subj, pred, obj FROM (
                       SELECT subj, pred, obj, row_number() OVER (
                           PARTITION BY subj, pred
                           ORDER BY ts DESC, obs_id DESC) AS rn
                       FROM obs
                       WHERE ts <= TIMESTAMP '2024-01-25 00:00:00')
                   WHERE rn = 1)
            SELECT * FROM (
                SELECT COALESCE(s1.subj, s2.subj) AS subj,
                       COALESCE(s1.pred, s2.pred) AS pred,
                       CASE WHEN s1.subj IS NULL THEN 'added'
                            WHEN s2.subj IS NULL THEN 'removed'
                            WHEN s1.obj <> s2.obj THEN 'changed'
                       END AS change,
                       s1.obj AS obj_before, s2.obj AS obj_after
                FROM s1 FULL OUTER JOIN s2
                  ON s1.subj = s2.subj AND s1.pred = s2.pred
            ) WHERE change IS NOT NULL
        """,
        # min-hop bounded closure via a recursive CTE (path enumeration
        # + MIN — independent of the operator's iterated squaring)
        "kg_isa_closure": """
            WITH RECURSIVE isa AS (
                SELECT doc_id AS src, (doc_id // 2) AS dst
                FROM documents WHERE doc_id > 0
            ),
            paths(src, dst, dist) AS (
                SELECT src, dst, 1::BIGINT FROM isa
                UNION ALL
                SELECT p.src, e.dst, p.dist + 1
                FROM paths p JOIN isa e ON p.dst = e.src
                WHERE p.dist < 4
            )
            SELECT src, dst, MIN(dist) AS dist
            FROM paths GROUP BY src, dst
        """,
        # degree histogram: per-direction counts then log2 bucket rollup
        "g_degree_profile": _GRAPH_EDGES_SQL + """,
        outd AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
        ind AS (SELECT dst AS node, COUNT(*) AS deg FROM edges GROUP BY dst),
        sides AS (SELECT 'out' AS side, deg FROM outd
                  UNION ALL SELECT 'in' AS side, deg FROM ind)
        SELECT side, floor(log2(deg))::BIGINT AS bucket,
               COUNT(*) AS n_nodes, MIN(deg) AS min_deg, MAX(deg) AS max_deg
        FROM sides GROUP BY side, bucket
        """,
        # mean-pooled entity embeddings: unnest + subscripts lockstep
        # expansion; float32 widened to double in BOTH engines before avg
        "kg_entity_embedding": """
            SELECT entity, dim, round(avg(v), 6) AS mean_val FROM (
                SELECT vec_id % 50 AS entity,
                       (generate_subscripts(embedding, 1) - 1)::BIGINT AS dim,
                       unnest(embedding)::DOUBLE AS v
                FROM embeddings
            ) GROUP BY entity, dim
        """,
        # synchronous LPA unrolled 2 rounds: per round distinct-neighbor
        # majority vote, ties to the SMALLER label (row_number rank —
        # independent of the operator's struct-max argmax)
        "g_lpa": _GRAPH_EDGES_SQL + """,
        und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM edges WHERE src <> dst),
        sym AS (SELECT a AS node, b AS nbr FROM und
                UNION ALL SELECT b AS node, a AS nbr FROM und),
        l0 AS (SELECT DISTINCT node, node AS label FROM sym)
        """ + "".join(
            f""",
        v{i} AS (SELECT s.node, l.label, COUNT(*) AS c
                 FROM sym s JOIN l{i - 1} l ON s.nbr = l.node
                 GROUP BY s.node, l.label),
        l{i} AS (SELECT node, label FROM (
                     SELECT node, label,
                            ROW_NUMBER() OVER (PARTITION BY node
                                ORDER BY c DESC, label ASC) AS rn
                     FROM v{i}) WHERE rn = 1)"""
            for i in (1, 2)
        ) + """
        SELECT node, label AS community FROM l2
        """,
        # 2-round k=3 peel unrolled: induced degrees per round via IN
        # subqueries — survivors keep their induced degree (0 visible)
        "g_kcore": _GRAPH_EDGES_SQL + """,
        und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM edges WHERE src <> dst),
        d1 AS (SELECT node, COUNT(*) AS d FROM (
                   SELECT a AS node FROM und UNION ALL SELECT b FROM und)
               GROUP BY node),
        a1 AS (SELECT node FROM d1 WHERE d >= 3),
        e1 AS (SELECT a, b FROM und
               WHERE a IN (SELECT node FROM a1)
                 AND b IN (SELECT node FROM a1)),
        d2 AS (SELECT node, COUNT(*) AS d FROM (
                   SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1)
               GROUP BY node),
        a2 AS (SELECT node FROM d2 WHERE d >= 3),
        e2 AS (SELECT a, b FROM e1
               WHERE a IN (SELECT node FROM a2)
                 AND b IN (SELECT node FROM a2)),
        dfin AS (SELECT node, COUNT(*) AS d FROM (
                    SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2)
                 GROUP BY node)
        SELECT a2.node, COALESCE(dfin.d, 0) AS core_deg
        FROM a2 LEFT JOIN dfin ON a2.node = dfin.node
        """,
        # common-neighbor link prediction re-derived: symmetric adjacency
        # wedge join + NOT-EXISTS adjacency filter; aa term order pinned
        # (1.0/ln(deg) per center, summed, rounded after)
        "g_link_predict": _GRAPH_EDGES_SQL + """,
        und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM edges WHERE src <> dst),
        sym AS (SELECT a AS node, b AS nbr FROM und
                UNION ALL SELECT b AS node, a AS nbr FROM und),
        deg AS (SELECT node, COUNT(*) AS d FROM sym GROUP BY node),
        wedge AS (
            SELECT s1.node AS pa, s2.node AS pb, s1.nbr AS c
            FROM sym s1 JOIN sym s2 ON s1.nbr = s2.nbr AND s1.node < s2.node
        ),
        cand AS (
            SELECT w.pa, w.pb, COUNT(*) AS cn, SUM(1.0 / ln(dc.d)) AS aa
            FROM wedge w JOIN deg dc ON w.c = dc.node
            GROUP BY w.pa, w.pb
        ),
        fresh AS (
            SELECT * FROM cand
            WHERE NOT EXISTS (SELECT 1 FROM und
                              WHERE und.a = cand.pa AND und.b = cand.pb)
        )
        SELECT f.pa AS a, f.pb AS b, f.cn,
               round(f.aa, 6) AS aa,
               round(f.cn::DOUBLE / (da.d + db.d - f.cn), 6) AS jaccard
        FROM fresh f
        JOIN deg da ON f.pa = da.node
        JOIN deg db ON f.pb = db.node
        ORDER BY round(f.aa, 6) DESC, a ASC, b ASC
        LIMIT 50
        """,
        # personalized PageRank unrolled 2 iterations: reset = seed
        # weight normalized over in-graph seeds; term order pinned
        # (1-d)*reset + d*contrib (no dangling in this fixture — every
        # node has out-edges); (1.0 - 0.85) left as the op, not 0.15,
        # to match Spark's computed literal bit-for-bit
        "g_ppr": _GRAPH_EDGES_SQL + """,
        deg AS (SELECT src, COUNT(*)::DOUBLE AS d FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst FROM edges)),
        sd AS (SELECT doc_id AS node, (1 + doc_id % 3)::DOUBLE AS w
               FROM documents
               WHERE doc_id % 50 = 0
                 AND doc_id IN (SELECT node FROM nodes)),
        wt AS (SELECT SUM(w) AS tot FROM sd),
        rs AS (SELECT n.node,
                      COALESCE(sd.w / (SELECT tot FROM wt), 0.0) AS reset
               FROM nodes n LEFT JOIN sd ON n.node = sd.node),
        r0 AS (SELECT node, reset, reset AS rank FROM rs)
        """ + "".join(
            f""",
        c{i} AS (SELECT e.dst AS node, SUM(r.rank / deg.d) AS c
                 FROM edges e
                 JOIN deg ON e.src = deg.src
                 JOIN r{i - 1} r ON r.node = e.src
                 GROUP BY e.dst),
        r{i} AS (SELECT rs.node, rs.reset,
                        (1.0 - 0.85) * rs.reset
                        + 0.85 * COALESCE(c{i}.c, 0.0) AS rank
                 FROM rs LEFT JOIN c{i} ON rs.node = c{i}.node)"""
            for i in (1, 2)
        ) + """
        SELECT node, round(rank, 6) AS rank FROM r2
        ORDER BY round(rank, 6) DESC, node ASC LIMIT 50
        """,
        # BGP star+chain re-derived as explicit per-pattern CTE joins —
        # independent of the operator's greedy join-order machinery
        "kg_bgp_match": """
            WITH claims AS (
                SELECT DISTINCT user_id AS subj, event_type AS pred,
                       floor(value / 50)::BIGINT AS obj
                FROM events
            ),
            p1 AS (SELECT subj AS a, obj AS v FROM claims
                   WHERE pred = 'purchase'),
            p2 AS (SELECT subj AS b, obj AS v FROM claims
                   WHERE pred = 'purchase'),
            p3 AS (SELECT subj AS a, obj AS v FROM claims
                   WHERE pred = 'click')
            SELECT DISTINCT p1.a, p2.b, p1.v
            FROM p1
            JOIN p2 ON p1.v = p2.v
            JOIN p3 ON p3.a = p1.a AND p3.v = p1.v
            WHERE p1.a < p2.b
        """,
        # per-predicate schema profile over distinct claims
        "kg_pred_profile": """
            WITH claims AS (
                SELECT DISTINCT user_id AS subj, event_type AS pred,
                       floor(value / 50)::BIGINT AS obj
                FROM events
            )
            SELECT pred, COUNT(*) AS n_claims,
                   COUNT(DISTINCT subj) AS n_subj,
                   COUNT(DISTINCT obj) AS n_obj,
                   round(COUNT(DISTINCT subj)::DOUBLE / COUNT(*), 6)
                       AS functionality,
                   round(COUNT(DISTINCT obj)::DOUBLE / COUNT(*), 6)
                       AS inv_functionality
            FROM claims GROUP BY pred
        """,
        # label propagation unrolled 2 rounds: per-round majority vote
        # re-derived via row_number over (votes DESC, label DESC);
        # seeds overlay inferred labels each round
        "kg_type_propagation": """
            WITH e AS (
                SELECT doc_id AS src, doc_id // 2 AS dst
                FROM documents WHERE doc_id > 0
                UNION ALL
                SELECT doc_id, doc_id - 1
                FROM documents WHERE doc_id % 7 = 3 AND doc_id > 0
            ), seeds AS (
                SELECT doc_id AS node,
                       't' || ((doc_id // 20) % 3)::VARCHAR AS label
                FROM documents WHERE doc_id % 20 = 0
            ), l0 AS (SELECT node, label FROM seeds
            ), p1 AS (
                SELECT dst AS node, label FROM (
                    SELECT e.dst, l0.label, COUNT(*) AS n,
                           row_number() OVER (
                               PARTITION BY e.dst
                               ORDER BY COUNT(*) DESC, l0.label DESC
                           ) AS rn
                    FROM e JOIN l0 ON e.src = l0.node
                    GROUP BY e.dst, l0.label
                ) WHERE rn = 1
            ), l1 AS (
                SELECT node, label FROM seeds
                UNION ALL
                SELECT node, label FROM p1
                WHERE node NOT IN (SELECT node FROM seeds)
            ), p2 AS (
                SELECT dst AS node, label FROM (
                    SELECT e.dst, l1.label, COUNT(*) AS n,
                           row_number() OVER (
                               PARTITION BY e.dst
                               ORDER BY COUNT(*) DESC, l1.label DESC
                           ) AS rn
                    FROM e JOIN l1 ON e.src = l1.node
                    GROUP BY e.dst, l1.label
                ) WHERE rn = 1
            )
            SELECT node, label FROM seeds
            UNION ALL
            SELECT node, label FROM p2
            WHERE node NOT IN (SELECT node FROM seeds)
        """,
        # hash-random walks: every hop re-derived with row_number over
        # the identical md5(walk_id|step|dst) digest (desc, dst desc) —
        # 4 unrolled hops, walks ending early at out-degree-0 nodes
        "g_random_walks": """
            WITH e AS (
                SELECT doc_id AS src, doc_id // 2 AS dst
                FROM documents WHERE doc_id > 0
                UNION ALL
                SELECT doc_id, doc_id - 1
                FROM documents WHERE doc_id % 7 = 3 AND doc_id > 0
            ), s0 AS (
                SELECT doc_id AS walk_id, doc_id AS node
                FROM documents WHERE doc_id % 25 = 0 AND doc_id > 0
            ), w1 AS (
                SELECT walk_id, dst AS node FROM (
                    SELECT s0.walk_id, e.dst, row_number() OVER (
                        PARTITION BY s0.walk_id
                        ORDER BY md5(s0.walk_id::VARCHAR || '|1|'
                                     || e.dst::VARCHAR) DESC, e.dst DESC
                    ) AS rn FROM s0 JOIN e ON s0.node = e.src
                ) WHERE rn = 1
            ), w2 AS (
                SELECT walk_id, dst AS node FROM (
                    SELECT w1.walk_id, e.dst, row_number() OVER (
                        PARTITION BY w1.walk_id
                        ORDER BY md5(w1.walk_id::VARCHAR || '|2|'
                                     || e.dst::VARCHAR) DESC, e.dst DESC
                    ) AS rn FROM w1 JOIN e ON w1.node = e.src
                ) WHERE rn = 1
            ), w3 AS (
                SELECT walk_id, dst AS node FROM (
                    SELECT w2.walk_id, e.dst, row_number() OVER (
                        PARTITION BY w2.walk_id
                        ORDER BY md5(w2.walk_id::VARCHAR || '|3|'
                                     || e.dst::VARCHAR) DESC, e.dst DESC
                    ) AS rn FROM w2 JOIN e ON w2.node = e.src
                ) WHERE rn = 1
            ), w4 AS (
                SELECT walk_id, dst AS node FROM (
                    SELECT w3.walk_id, e.dst, row_number() OVER (
                        PARTITION BY w3.walk_id
                        ORDER BY md5(w3.walk_id::VARCHAR || '|4|'
                                     || e.dst::VARCHAR) DESC, e.dst DESC
                    ) AS rn FROM w3 JOIN e ON w3.node = e.src
                ) WHERE rn = 1
            )
            SELECT walk_id, 0::BIGINT AS step, node FROM s0
            UNION ALL SELECT walk_id, 1::BIGINT, node FROM w1
            UNION ALL SELECT walk_id, 2::BIGINT, node FROM w2
            UNION ALL SELECT walk_id, 3::BIGINT, node FROM w3
            UNION ALL SELECT walk_id, 4::BIGINT, node FROM w4
        """,
        # depth-bounded all-paths recursive CTE + min(depth): independent
        # derivation of BFS min-hop distance (the Spark side never
        # enumerates paths — it prunes via the visited set)
        # exact integer moments over the same edge relation; the Pearson
        # formula evaluated in the identical double term order
        "g_assortativity": """
            WITH e AS (
                SELECT doc_id AS src, doc_id // 2 AS dst
                FROM documents WHERE doc_id > 0
                UNION ALL
                SELECT doc_id, doc_id - 1
                FROM documents WHERE doc_id % 7 = 3 AND doc_id > 0
            ), deg AS (
                SELECT node, COUNT(*) AS deg FROM (
                    SELECT src AS node FROM e UNION ALL SELECT dst FROM e
                ) GROUP BY node
            ), p AS (
                SELECT dx.deg AS x, dy.deg AS y
                FROM e
                JOIN deg dx ON dx.node = e.src
                JOIN deg dy ON dy.node = e.dst
            ), m AS (
                SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                       SUM(x * y) AS sxy, SUM(x * x) AS sxx,
                       SUM(y * y) AS syy
                FROM p
            )
            SELECT CAST(n AS BIGINT) AS n_edges,
                   CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                         AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                        THEN round(
                            (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                            / sqrt(
                                (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                   - CAST(sy AS DOUBLE)
                                     * CAST(sy AS DOUBLE))),
                            6)
                   END AS assortativity
            FROM m
        """,
        # per-seed all-paths recursive enumeration + min(depth), then the
        # identical inverse-mean-distance formula; seeds by the same
        # md5-minimum ordered take
        "g_closeness": """
            WITH RECURSIVE e AS (
                SELECT doc_id AS src, doc_id // 2 AS dst
                FROM documents WHERE doc_id > 0
                UNION ALL
                SELECT doc_id, doc_id - 1
                FROM documents WHERE doc_id % 7 = 3 AND doc_id > 0
            ), nodes AS (
                -- explicit DISTINCT: inside WITH RECURSIVE, DuckDB
                -- parses a bare UNION as the recursive union operator
                -- and does NOT dedup a non-recursive CTE's branches
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM e
                    UNION ALL SELECT dst FROM e
                )
            ), seeds AS (
                SELECT node AS seed FROM nodes
                ORDER BY (('0x' || substr(md5(node::VARCHAR), 1, 15))
                          ::UBIGINT)::BIGINT ASC, node ASC
                LIMIT 4
            ), bfs AS (
                SELECT seed, seed AS node, 0 AS depth FROM seeds
                UNION ALL
                SELECT bfs.seed, e.dst, bfs.depth + 1
                FROM bfs JOIN e ON bfs.node = e.src
                WHERE bfs.depth < 6
            ), md AS (
                SELECT seed, node, min(depth) AS depth
                FROM bfs GROUP BY seed, node
            )
            SELECT node, COUNT(*) AS reached,
                   CAST(SUM(depth) AS BIGINT) AS sum_depth,
                   CASE WHEN SUM(depth) > 0
                        THEN round(CAST(COUNT(*) AS DOUBLE)
                                   / CAST(SUM(depth) AS DOUBLE), 6)
                   END AS inv_avg_dist
            FROM md GROUP BY node
        """,
        "g_bfs_depth": """
            WITH RECURSIVE e AS (
                SELECT doc_id AS src, doc_id // 2 AS dst
                FROM documents WHERE doc_id > 0
                UNION ALL
                SELECT doc_id, doc_id - 1
                FROM documents WHERE doc_id % 7 = 3 AND doc_id > 0
            ), bfs AS (
                SELECT doc_id AS node, 0 AS depth FROM documents
                WHERE doc_id % 40 = 0 AND doc_id > 0
                UNION ALL
                SELECT e.dst, bfs.depth + 1
                FROM bfs JOIN e ON bfs.node = e.src
                WHERE bfs.depth < 6
            )
            SELECT node, CAST(min(depth) AS BIGINT) AS depth
            FROM bfs GROUP BY node
        """,
        # analytic component ids for the cluster+bridge graph: cluster base
        # b = doc_id - doc_id%4; a bridge at every multiple of 100 merges
        # [b-4, b+3] under min-id b-4
        "g_components": """
            SELECT doc_id AS node,
                   CASE WHEN (doc_id - doc_id % 4) % 100 = 0
                             AND (doc_id - doc_id % 4) > 0
                        THEN doc_id - doc_id % 4 - 4
                        ELSE doc_id - doc_id % 4
                   END AS component
            FROM documents
        """,
        "f6_issue_keys": """
            WITH t AS (
                SELECT doc_id,
                       'deploy ' || CASE doc_id % 4
                           WHEN 0 THEN 'AB ' || (doc_id % 1000)::VARCHAR
                           WHEN 1 THEN 'PROJ_' || (doc_id % 100)::VARCHAR
                           WHEN 2 THEN 'CORE' || (doc_id % 10000)::VARCHAR
                           ELSE 'ab ' || (doc_id % 50)::VARCHAR
                       END || ' done' AS raw
                FROM documents
            )
            SELECT doc_id, raw,
                   regexp_replace(
                       raw, '\\b([A-Z]{2,10})[\\s_]?(\\d{1,6})\\b',
                       '\\1-\\2', 'g') AS normalized
            FROM t
        """,
        # corpus-unigram LM proxy: same op order as the operator
        # (ln(coalesce(cnt, 0.5) / total), averaged per doc); ln() because
        # DuckDB's log() is base 10. Deterministic vocab cutoff (cnt desc,
        # tok asc) keeps the top-30 set identical across engines.
        # DSIR importance weights: hashed-bigram (md5-substr-UBIGINT %
        # 256, the exact _md5_bucket algebra) target-vs-raw smoothed
        # log-ratio summed per doc; the bigram STRING is space-joined
        # before hashing, matching _word_grams' array_join
        "t_dsir_weights": _DSIR_SQL,
        # the DSIR weights relation (same SQL), then the identical
        # deterministic acceptance algebra: u(id) = md5-60bit / 2^60,
        # keep iff u < min(1, 0.5 * exp(w / 2)) — the weights are rounded
        # to 6dp in BOTH engines before exp, so the coin flip compares
        # identical doubles
        "x_dsir_sample": """
            WITH base AS ({dsir})
            SELECT doc_id, n_feats, dsir_logratio,
                   round(least(1.0, 0.5 * exp(dsir_logratio / 2.0)), 6)
                       AS accept_p
            FROM base
            WHERE (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))
                   ::UBIGINT)::DOUBLE / 1152921504606846976.0
                  < least(1.0, 0.5 * exp(dsir_logratio / 2.0))
        """.format(dsir=_DSIR_SQL),
        # bigram JM-interpolated fluency: same clean-token pin as the
        # unigram oracle; bigram relation built positionally via
        # range(1, len) lateral unnest; float op order lam*(c12/c1) then
        # (1-lam)*(c2/T), rounded 6dp after the avg
        "t_bigram_lm": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), b AS (
                SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
                FROM t, unnest(range(1, len(toks))) AS r(i)
            ), c12 AS (
                SELECT w1, w2, COUNT(*)::DOUBLE AS c12
                FROM b GROUP BY w1, w2
            ), c1 AS (
                SELECT w1, COUNT(*)::DOUBLE AS c1 FROM b GROUP BY w1
            ), c2 AS (
                SELECT w2, COUNT(*)::DOUBLE AS c2 FROM b GROUP BY w2
            ), tot AS (SELECT COUNT(*)::DOUBLE AS t FROM b)
            SELECT b.doc_id, COUNT(*) AS n_bigrams,
                   round(AVG(ln(
                       0.75 * (c12.c12 / c1.c1)
                       + 0.25 * (c2.c2 / (SELECT t FROM tot))
                   )), 6) AS mean_logprob
            FROM b
            JOIN c12 USING (w1, w2) JOIN c1 USING (w1) JOIN c2 USING (w2)
            GROUP BY b.doc_id
        """,
        "t_unigram_lm": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(trim(text), '\\s+'),
                           x -> x <> '')) AS tok
                FROM documents
            ), counts AS (
                SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
                ORDER BY cnt DESC, tok ASC LIMIT 30
            ), total AS (SELECT COUNT(*)::DOUBLE AS t FROM toks)
            SELECT toks.doc_id, COUNT(*) AS n_tokens,
                   round(AVG(ln(
                       COALESCE(counts.cnt::DOUBLE, 0.5)
                       / (SELECT t FROM total)
                   )), 6) AS mean_logprob
            FROM toks LEFT JOIN counts ON toks.tok = counts.tok
            GROUP BY toks.doc_id
        """,
        "x_train_order": """
            WITH keyed AS (
                SELECT doc_id, md5('s1:' || doc_id::VARCHAR) AS k
                FROM documents
            ), sharded AS (
                SELECT doc_id, k,
                       (('0x' || substr(md5(k), 1, 15))::UBIGINT % 8)::BIGINT
                           AS shard
                FROM keyed
            )
            SELECT doc_id, shard,
                   row_number() OVER (PARTITION BY shard
                                      ORDER BY k ASC, doc_id ASC) AS pos
            FROM sharded
        """,
        "x_pack_sequences": """
            WITH base AS (
                SELECT doc_id,
                       (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT
                        % 4)::BIGINT AS shard,
                       len(string_split_regex(text, '\\s+')) AS n_tokens
                FROM documents
            )
            SELECT doc_id, shard, n_tokens,
                   CAST(floor(COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) / 2048) AS BIGINT) AS seq_id
            FROM base
        """,
        # filtered corrupt-tail negatives fully re-derived: per-pred pool
        # index by ascending obj, md5-long draw, NOT-EXISTS filter
        "x_kg_negatives": """
            WITH claims AS (
                SELECT DISTINCT user_id AS subj, event_type AS pred,
                       floor(value / 50)::BIGINT AS obj
                FROM events
            ),
            pool AS (SELECT DISTINCT pred, obj FROM claims),
            pool_ix AS (
                SELECT pred, obj AS neg_obj,
                       (ROW_NUMBER() OVER (PARTITION BY pred
                           ORDER BY obj ASC) - 1)::BIGINT AS ix
                FROM pool
            ),
            pool_n AS (SELECT pred, COUNT(*) AS n FROM pool GROUP BY pred),
            drawn AS (
                SELECT c.subj, c.pred, c.obj, i.i::BIGINT AS neg_ix,
                       (('0x' || substr(md5(
                            'neg-v1:' || c.subj::VARCHAR || ':' || c.pred
                            || ':' || c.obj::VARCHAR || ':' || i.i::VARCHAR
                        ), 1, 15))::UBIGINT % pn.n)::BIGINT AS ix
                FROM claims c
                JOIN pool_n pn ON c.pred = pn.pred
                CROSS JOIN (SELECT unnest(range(2)) AS i) i
            )
            SELECT d.subj, d.pred, d.obj, d.neg_ix, p.neg_obj
            FROM drawn d
            JOIN pool_ix p ON d.pred = p.pred AND d.ix = p.ix
            WHERE NOT EXISTS (SELECT 1 FROM claims t
                              WHERE t.subj = d.subj AND t.pred = d.pred
                                AND t.obj = p.neg_obj)
        """,
        # adjacency export: numeric-ordered string_agg twin
        "x_adjacency": _GRAPH_EDGES_SQL + """
        SELECT src AS node, COUNT(*) AS n_out,
               string_agg(dst::VARCHAR, ',' ORDER BY dst) AS out_csv
        FROM edges GROUP BY src
        """,
        "x_domain_cap": """
            SELECT doc_id, source, domain_rank FROM (
                SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY n_chars DESC, doc_id ASC)
                           AS domain_rank
                FROM documents
            ) WHERE domain_rank <= 40
        """,
        # ANALYTIC closed form of the ring-of-4 fixture: full blocks with
        # an intact wrap edge (base not a multiple of 100) are 4-cycles
        # (component = block base); everything else — wrap-dropped path
        # blocks, partial tail blocks, inter-block DAG edges — decays to
        # singleton SCCs. The trim/color/backward-reach operator never
        # sees this formula.
        "g_scc": """
            WITH docs AS (SELECT doc_id AS d FROM documents),
            ring AS (
                SELECT d AS src, (d - d % 4) + ((d % 4 + 1) % 4) AS dst
                FROM docs
                WHERE NOT (d % 4 = 3 AND (d - d % 4) % 100 = 0)
            ),
            inter AS (
                SELECT d AS src, 4 + ((d // 4) % 4) AS dst
                FROM docs WHERE d % 4 = 0 AND d > 0
            ),
            edges AS (
                SELECT src, dst FROM ring
                WHERE dst IN (SELECT d FROM docs)
                UNION
                SELECT src, dst FROM inter
                WHERE dst IN (SELECT d FROM docs)
            ),
            nodes AS (
                SELECT src AS node FROM edges
                UNION SELECT dst FROM edges
            ),
            fullb AS (
                SELECT d - d % 4 AS gb FROM docs
                GROUP BY 1 HAVING COUNT(*) = 4
            )
            SELECT node,
                   CASE WHEN (node - node % 4) IN (SELECT gb FROM fullb)
                             AND (node - node % 4) % 100 <> 0
                        THEN node - node % 4 ELSE node END AS component
            FROM nodes
        """,
        # analytic bow-tie roles of the mod-10 fixture (the SCC machinery
        # itself is pinned by g_scc and the Tarjan-oracle pytest)
        "g_bowtie": """
            WITH docs AS (SELECT doc_id AS d FROM documents),
            raw AS (
                SELECT d AS src,
                       CASE WHEN d + 10 < 80 THEN d + 10 ELSE 0 END AS dst
                FROM docs WHERE d % 10 = 0 AND d < 80
                UNION ALL
                SELECT d, (d - 1) % 80 FROM docs WHERE d % 10 = 1
                UNION ALL
                SELECT (d - 2) % 80, d FROM docs WHERE d % 10 = 2
                UNION ALL
                SELECT d - 2, d FROM docs WHERE d % 10 = 3
                UNION ALL
                SELECT d, d + 1 FROM docs WHERE d % 10 = 5
            ),
            edges AS (
                SELECT src, dst FROM raw
                WHERE src IN (SELECT d FROM docs)
                  AND dst IN (SELECT d FROM docs)
            ),
            nodes AS (
                SELECT src AS node FROM edges
                UNION SELECT dst FROM edges
            )
            SELECT node,
                   CASE node % 10
                        WHEN 0 THEN 'core'
                        WHEN 1 THEN 'in'
                        WHEN 2 THEN 'out'
                        ELSE 'other'
                   END AS role
            FROM nodes
        """,
        # hop-bounded all-paths enumeration + min(dist): independent of
        # the Spark side's changed-only Bellman-Ford relaxation
        "g_shortest_paths": """
            WITH RECURSIVE e AS (
                SELECT doc_id AS src, doc_id // 2 AS dst,
                       1 + (doc_id % 3) AS w
                FROM documents WHERE doc_id > 0
                UNION ALL
                SELECT doc_id, doc_id - 1, 1 + (doc_id % 3)
                FROM documents WHERE doc_id % 7 = 3 AND doc_id > 0
            ), sp AS (
                SELECT doc_id AS node, CAST(0 AS BIGINT) AS dist, 0 AS hops
                FROM documents WHERE doc_id % 40 = 0 AND doc_id > 0
                UNION ALL
                SELECT e.dst, sp.dist + e.w, sp.hops + 1
                FROM sp JOIN e ON sp.node = e.src
                WHERE sp.hops < 6
            )
            SELECT node, CAST(min(dist) AS BIGINT) AS dist
            FROM sp GROUP BY node
        """,
        # independent non-oriented triangle derivation (chained a<b<c
        # joins, same independence as g_triangles) + the degree agg and
        # the 2T/(d(d-1)) formula
        "g_clustering": _GRAPH_EDGES_SQL + """
        , und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM edges WHERE src <> dst
        ), deg AS (
            SELECT node, COUNT(*) AS degree FROM (
                SELECT a AS node FROM und
                UNION ALL SELECT b FROM und
            ) GROUP BY node
        ), tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ), tcnt AS (
            SELECT node, COUNT(*) AS n_triangles FROM (
                SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            ) GROUP BY node
        )
        SELECT deg.node, deg.degree,
               CAST(COALESCE(tcnt.n_triangles, 0) AS BIGINT) AS n_triangles,
               CASE WHEN deg.degree < 2 THEN 0.0
                    ELSE round(2.0 * COALESCE(tcnt.n_triangles, 0)
                               / (deg.degree * (deg.degree - 1)), 6)
               END AS lcc
        FROM deg LEFT JOIN tcnt ON deg.node = tcnt.node
        """,
        # the identical KMV algebra: md5-15-hex 60-bit hash over distinct
        # integer-cent values, row_number window for the k-th minimum,
        # (k-1) * 2^60 / h_k in IEEE double
        # HyperLogLog, full re-derivation: 60-bit md5 hash -> bucket
        # j = h % 256 / suffix w = h // 256; rank = 52 - bitlength(w) + 1
        # (53 for w = 0) with bitlength via length(bin(w)) — exact
        # integers in both engines; registers = max rank per bucket;
        # sum_scaled = sum(2^(53 - r)) over all 256 registers as BIGINT
        # (empty register contributes 2^53). The only floats: the raw
        # estimate alpha*m^2*2^53 / sum_scaled (one literal division;
        # the numerator is the same python-repr'd literal in both
        # engines) and the small-range linear-counting branch
        # m * ln(m / n_zero), each rounded once to 4dp.
        "t_hll_cardinality": """
            WITH dv AS (
                SELECT DISTINCT event_type,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM events
            ), h AS (
                SELECT event_type,
                       (('0x' || substr(md5(cents::VARCHAR), 1, 15))
                        ::UBIGINT)::BIGINT AS h
                FROM dv
            ), r AS (
                SELECT event_type, (h % 256)::BIGINT AS j,
                       CASE WHEN (h // 256) = 0 THEN 53
                            ELSE 52 - length(bin(h // 256)) + 1
                       END AS rho
                FROM h
            ), regs AS (
                SELECT event_type, j, max(rho) AS r
                FROM r GROUP BY event_type, j
            ), agg AS (
                SELECT event_type, count(*) AS n_present,
                       sum((1::BIGINT << (53 - r))::BIGINT)::BIGINT
                           AS s_present
                FROM regs GROUP BY event_type
            ), stats AS (
                SELECT event_type, 256::BIGINT AS m,
                       (256 - n_present)::BIGINT AS n_zero,
                       (s_present
                        + (256 - n_present) * (1::BIGINT << 53))::BIGINT
                           AS sum_scaled
                FROM agg
            )
            SELECT event_type, m, n_zero, sum_scaled,
                   round(CASE WHEN (4.2399330249068963e+20
                                    / sum_scaled::DOUBLE) <= 640.0
                                   AND n_zero > 0
                              THEN 256.0 * ln(256.0 / n_zero::DOUBLE)
                              ELSE 4.2399330249068963e+20
                                   / sum_scaled::DOUBLE
                         END, 4) AS est_distinct
            FROM stats
        """,
        # analytic component ids for the 32-chain + 640-bridge graph
        # (the chain-heavy shape star-star CC exists for)
        "g_components_starstar": """
            SELECT doc_id AS node,
                   CASE WHEN (doc_id - doc_id % 32) % 640 = 0
                             AND (doc_id - doc_id % 32) > 0
                        THEN doc_id - doc_id % 32 - 32
                        ELSE doc_id - doc_id % 32
                   END AS component
            FROM documents
        """,
        # the WARC round-trip expectation, derived DIRECTLY from
        # documents (no parse): 404s (doc_id % 7 = 3) are dropped by the
        # status gate; chunked framing and request-record noise must be
        # invisible in the output; md5 fingerprints the FULL body
        "w_warc_roundtrip": """
            SELECT 'https://h' || (doc_id % 40)::VARCHAR
                       || '.example/p/' || doc_id::VARCHAR AS url,
                   '200' AS status,
                   octet_length(encode('<html><body><p>' || text
                       || '</p></body></html>'))::BIGINT AS n_bytes,
                   epoch('2025-06-01 12:00:00'::TIMESTAMP)::BIGINT
                       AS ts_epoch,
                   md5('<html><body><p>' || text
                       || '</p></body></html>') AS html_md5
            FROM documents
            WHERE doc_id % 7 != 3
        """,
        # analytic RFC-9309 allow/deny table for the synthesized robots
        # corpus: even-parity hosts gate on the '*' group (deny /private/
        # except /private/ok/, deny *.tmp$), odd-parity hosts gate agent
        # silobot on its exact group ONLY (deny /drafts/ except
        # /drafts/pub*) — the matcher's group-override, longest-match,
        # anchor and wildcard semantics all land in this closed form
        "c_robots_filter": """
            SELECT doc_id,
                   'h' || (doc_id % 7)::VARCHAR || '.example' AS host,
                   CASE doc_id % 6
                       WHEN 0 THEN '/public/p' || doc_id::VARCHAR
                       WHEN 1 THEN '/private/p' || doc_id::VARCHAR
                       WHEN 2 THEN '/private/ok/p' || doc_id::VARCHAR
                       WHEN 3 THEN '/drafts/d' || doc_id::VARCHAR
                       WHEN 4 THEN '/drafts/pub' || doc_id::VARCHAR
                       ELSE '/cache/f' || doc_id::VARCHAR || '.tmp'
                   END AS path,
                   CASE WHEN (doc_id % 7) % 2 = 0
                        THEN CASE WHEN doc_id % 6 IN (1, 5)
                                  THEN 0 ELSE 1 END
                        ELSE CASE WHEN doc_id % 6 = 3 THEN 0 ELSE 1 END
                   END AS allowed,
                   CASE WHEN (doc_id % 7) % 2 = 0
                        THEN CASE doc_id % 6
                                 WHEN 1 THEN '/private/'
                                 WHEN 2 THEN '/private/ok/'
                                 WHEN 5 THEN '/*.tmp$'
                             END
                        ELSE CASE doc_id % 6
                                 WHEN 3 THEN '/drafts/'
                                 WHEN 4 THEN '/drafts/pub*'
                             END
                   END AS rule_path
            FROM documents
        """,
        # recrawl scheduling: the identical lag/count/epoch algebra —
        # change = hash differs from the previous fetch (ORDER BY full
        # timestamp, hash tiebreak); epochs via floor(epoch(ts)) to
        # match Spark's truncating unix_timestamp; all outputs exact
        # bigints (ppm via integer division)
        "c_recrawl_priority": """
            WITH h AS (
                SELECT 'u' || user_id::VARCHAR AS url,
                       ts,
                       floor(epoch(ts))::BIGINT AS ep,
                       md5((CAST(round(value * 100) AS BIGINT)
                            // 2000)::VARCHAR) AS ch
                FROM events
            ), m AS (
                SELECT url, ep, ch,
                       COALESCE((ch <> lag(ch) OVER (
                           PARTITION BY url ORDER BY ts, ch))::INT, 0)
                           AS chg
                FROM h
            ), agg AS (
                SELECT url,
                       count(*)::BIGINT AS n_fetches,
                       sum(chg)::BIGINT AS n_changes,
                       min(ep) AS first_ep,
                       max(ep) AS last_ep
                FROM m GROUP BY url
            )
            SELECT url, n_fetches, n_changes,
                   last_ep AS last_epoch,
                   (last_ep - first_ep)::BIGINT AS span_s,
                   (1719792000 - last_ep)::BIGINT AS age_s,
                   ((n_changes * 86400000000)
                    // greatest(last_ep - first_ep, 1))::BIGINT
                       AS rate_ppm_day,
                   ((n_changes * (1719792000 - last_ep) * 1000000)
                    // greatest(last_ep - first_ep, 1))::BIGINT
                       AS priority_ppm
            FROM agg
        """,
        # Crawl-delay: closed-form per host parity; k%4==2 (malformed)
        # emits no row
        "c_crawl_delay": """
            WITH ks AS (
                SELECT DISTINCT (doc_id % 12)::BIGINT AS k FROM documents
            )
            SELECT 'h' || k::VARCHAR || '.example' AS host,
                   CASE k % 4
                       WHEN 0 THEN k + 2
                       WHEN 1 THEN k
                       WHEN 3 THEN 4
                   END::BIGINT AS delay_s
            FROM ks WHERE k % 4 <> 2
        """,
        # gap sessionization: the identical lag/cumsum/rollup algebra —
        # tie runs can't open sessions (zero gap), so the intra-tie lag
        # order ambiguity never reaches the output
        "c_fetch_sessions": """
            WITH e AS (
                SELECT user_id, floor(epoch(ts))::BIGINT AS ep
                FROM events
            ), m AS (
                SELECT user_id, ep,
                       CASE WHEN ep - lag(ep) OVER (
                                PARTITION BY user_id ORDER BY ep
                            ) > 3600 THEN 1 ELSE 0 END AS new_s
                FROM e
            ), s AS (
                SELECT user_id, ep,
                       (sum(new_s) OVER (
                            PARTITION BY user_id ORDER BY ep
                            ROWS UNBOUNDED PRECEDING) + 1)::BIGINT
                           AS session_idx
                FROM m
            )
            SELECT user_id, session_idx,
                   count(*)::BIGINT AS n_events,
                   min(ep) AS start_ep,
                   max(ep) AS end_ep,
                   (max(ep) - min(ep))::BIGINT AS duration_s
            FROM s GROUP BY user_id, session_idx
        """,
        # charset sniff: closed-form expectation per byte-level variant
        "w_charset_sniff": """
            SELECT doc_id,
                   CASE doc_id % 6
                       WHEN 0 THEN 'utf-8'
                       WHEN 1 THEN 'utf-16le'
                       WHEN 2 THEN 'utf-16be'
                       WHEN 3 THEN 'windows-1251'
                       WHEN 4 THEN 'utf-8'
                   END AS charset
            FROM documents
        """,
        # HyperANF NF curve: forward-ball min-depths once, the register
        # estimator replayed per radius, then count + the tie-free
        # bigint sum of round(est x 10^4) per radius
        "g_nf_curve": """
            WITH RECURSIVE ed AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT doc_id AS src, doc_id // 2 AS dst
                    FROM documents WHERE doc_id > 0
                    UNION ALL
                    SELECT doc_id, doc_id - 1
                    FROM documents WHERE doc_id % 7 = 3 AND doc_id > 0
                ) WHERE src <> dst
            ), nodes AS (
                SELECT src AS node FROM ed
                UNION
                SELECT dst FROM ed
            ), reach(node, member, depth) AS (
                SELECT node, node, 0 FROM nodes
                UNION
                SELECT r.node, ed.dst, r.depth + 1
                FROM reach r JOIN ed ON ed.src = r.member
                WHERE r.depth < 3
            ), ball AS (
                SELECT node, member, min(depth) AS md
                FROM reach GROUP BY node, member
            ), hb AS (
                SELECT node, md,
                       (('0x' || substr(md5(member::VARCHAR), 1, 15))
                        ::UBIGINT)::BIGINT AS h
                FROM ball
            ), radii AS (
                SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(radius)
            ), regs AS (
                SELECT radii.radius, hb.node, (h % 256)::BIGINT AS j,
                       max(CASE WHEN (h // 256) = 0 THEN 53
                            ELSE 52 - length(bin(h // 256)) + 1
                           END) AS r
                FROM hb JOIN radii ON hb.md <= radii.radius
                GROUP BY radii.radius, hb.node, h % 256
            ), stats AS (
                SELECT radius, node,
                       (256 - count(*))::BIGINT AS n_zero,
                       (sum((1::BIGINT << (53 - r))::BIGINT)
                        + (256 - count(*)) * (1::BIGINT << 53)
                       )::BIGINT AS sum_scaled
                FROM regs GROUP BY radius, node
            ), est AS (
                SELECT radius, node,
                       round(CASE WHEN (4.2399330249068963e+20
                                 / sum_scaled::DOUBLE) <= 640.0
                                 AND n_zero > 0
                            THEN 256.0 * ln(256.0 / n_zero::DOUBLE)
                            ELSE 4.2399330249068963e+20
                                 / sum_scaled::DOUBLE END, 4) AS e
                FROM stats
            )
            SELECT radius::BIGINT AS radius,
                   count(*)::BIGINT AS n_nodes,
                   sum(CAST(round(e * 10000.0) AS BIGINT))::BIGINT
                       AS nf_x10000
            FROM est GROUP BY radius
        """,
        # PSL registered-domain extraction: closed-form per host shape
        "t_registered_domain": """
            SELECT doc_id,
                   CASE doc_id % 5
                       WHEN 0 THEN 'www.h' || (doc_id % 10)::VARCHAR
                           || '.test'
                       WHEN 1 THEN 'a.h' || (doc_id % 10)::VARCHAR
                           || '.co.test'
                       WHEN 2 THEN 'deep.x.h' || (doc_id % 10)::VARCHAR
                           || '.wild.test'
                       WHEN 3 THEN 'sub.ok.wild.test'
                       ELSE 'h' || (doc_id % 10)::VARCHAR || '.zz'
                   END AS host,
                   CASE doc_id % 5
                       WHEN 0 THEN 'test'
                       WHEN 1 THEN 'co.test'
                       WHEN 2 THEN 'h' || (doc_id % 10)::VARCHAR
                           || '.wild.test'
                       WHEN 3 THEN 'wild.test'
                       ELSE 'zz'
                   END AS public_suffix,
                   CASE doc_id % 5
                       WHEN 0 THEN 'h' || (doc_id % 10)::VARCHAR
                           || '.test'
                       WHEN 1 THEN 'h' || (doc_id % 10)::VARCHAR
                           || '.co.test'
                       WHEN 2 THEN 'x.h' || (doc_id % 10)::VARCHAR
                           || '.wild.test'
                       WHEN 3 THEN 'ok.wild.test'
                       ELSE 'h' || (doc_id % 10)::VARCHAR || '.zz'
                   END AS registered_domain
            FROM documents
        """,
        # HyperBall harmonic centrality: enumerate reversed-ball
        # min-depths once, replay the register/estimator algebra at
        # each radius (md <= r), then the fixed-order IEEE harmonic sum
        # times 20000 rounded to the nearest integer — tie-free because
        # the exact value IS an integer (the 4dp double twin is
        # deliberately NOT emitted: it ties across engines)
        "g_harmonic": """
            WITH RECURSIVE ed AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT doc_id // 2 AS src, doc_id AS dst
                    FROM documents WHERE doc_id > 0
                    UNION ALL
                    SELECT doc_id - 1, doc_id
                    FROM documents WHERE doc_id % 7 = 3 AND doc_id > 0
                ) WHERE src <> dst
            ), nodes AS (
                SELECT src AS node FROM ed
                UNION
                SELECT dst FROM ed
            ), reach(node, member, depth) AS (
                SELECT node, node, 0 FROM nodes
                UNION
                SELECT r.node, ed.dst, r.depth + 1
                FROM reach r JOIN ed ON ed.src = r.member
                WHERE r.depth < 2
            ), ball AS (
                SELECT node, member, min(depth) AS md
                FROM reach GROUP BY node, member
            ), hb AS (
                SELECT node, md,
                       (('0x' || substr(md5(member::VARCHAR), 1, 15))
                        ::UBIGINT)::BIGINT AS h
                FROM ball
            ), est0 AS (
                SELECT node, round(CASE WHEN (4.2399330249068963e+20
                             / sum_scaled::DOUBLE) <= 640.0 AND n_zero > 0
                        THEN 256.0 * ln(256.0 / n_zero::DOUBLE)
                        ELSE 4.2399330249068963e+20
                             / sum_scaled::DOUBLE END, 4) AS e0
                FROM (
                    SELECT node,
                           (256 - count(*))::BIGINT AS n_zero,
                           (sum((1::BIGINT << (53 - r))::BIGINT)
                            + (256 - count(*)) * (1::BIGINT << 53)
                           )::BIGINT AS sum_scaled
                    FROM (
                        SELECT node, (h % 256)::BIGINT AS j,
                               max(CASE WHEN (h // 256) = 0 THEN 53
                                    ELSE 52 - length(bin(h // 256)) + 1
                                   END) AS r
                        FROM hb WHERE md <= 0 GROUP BY node, h % 256
                    ) GROUP BY node
                )
            ), est1 AS (
                SELECT node, round(CASE WHEN (4.2399330249068963e+20
                             / sum_scaled::DOUBLE) <= 640.0 AND n_zero > 0
                        THEN 256.0 * ln(256.0 / n_zero::DOUBLE)
                        ELSE 4.2399330249068963e+20
                             / sum_scaled::DOUBLE END, 4) AS e1
                FROM (
                    SELECT node,
                           (256 - count(*))::BIGINT AS n_zero,
                           (sum((1::BIGINT << (53 - r))::BIGINT)
                            + (256 - count(*)) * (1::BIGINT << 53)
                           )::BIGINT AS sum_scaled
                    FROM (
                        SELECT node, (h % 256)::BIGINT AS j,
                               max(CASE WHEN (h // 256) = 0 THEN 53
                                    ELSE 52 - length(bin(h // 256)) + 1
                                   END) AS r
                        FROM hb WHERE md <= 1 GROUP BY node, h % 256
                    ) GROUP BY node
                )
            ), est2 AS (
                SELECT node, round(CASE WHEN (4.2399330249068963e+20
                             / sum_scaled::DOUBLE) <= 640.0 AND n_zero > 0
                        THEN 256.0 * ln(256.0 / n_zero::DOUBLE)
                        ELSE 4.2399330249068963e+20
                             / sum_scaled::DOUBLE END, 4) AS e2
                FROM (
                    SELECT node,
                           (256 - count(*))::BIGINT AS n_zero,
                           (sum((1::BIGINT << (53 - r))::BIGINT)
                            + (256 - count(*)) * (1::BIGINT << 53)
                           )::BIGINT AS sum_scaled
                    FROM (
                        SELECT node, (h % 256)::BIGINT AS j,
                               max(CASE WHEN (h // 256) = 0 THEN 53
                                    ELSE 52 - length(bin(h // 256)) + 1
                                   END) AS r
                        FROM hb WHERE md <= 2 GROUP BY node, h % 256
                    ) GROUP BY node
                )
            )
            SELECT node,
                   CAST(round((0.0 + (e1 - e0) / 1.0 + (e2 - e1) / 2.0)
                              * 20000.0) AS BIGINT) AS harmonic_scaled
            FROM est0 JOIN est1 USING (node) JOIN est2 USING (node)
        """,
        # CDX archive index: urlkey (SURT), digest and byte length
        # derived DIRECTLY from documents (no WARC, no parse); only the
        # revisit flag replays the pinned digest-window — cross-doc
        # duplicate texts share digests, so the tiebreak (ts, url,
        # warc_file) matters and is replayed identically
        "w_cdx_index": """
            WITH recs AS (
                SELECT doc_id,
                       CASE doc_id % 4
                           WHEN 0 THEN 'https://h' || (doc_id % 10)::VARCHAR
                               || '.example/p/' || doc_id::VARCHAR
                           WHEN 1 THEN 'https://WWW.h' || (doc_id % 10)::VARCHAR
                               || '.EXAMPLE:443/P/' || doc_id::VARCHAR
                               || '?b=2&a=1'
                           WHEN 2 THEN 'http://user:pw@h'
                               || (doc_id % 10)::VARCHAR
                               || '.example:8080/p/' || doc_id::VARCHAR
                           ELSE 'https://www2.h' || (doc_id % 10)::VARCHAR
                               || '.example/p/' || doc_id::VARCHAR
                       END AS url,
                       CASE doc_id % 4
                           WHEN 1 THEN 'example,h' || (doc_id % 10)::VARCHAR
                               || ')/p/' || doc_id::VARCHAR || '?a=1&b=2'
                           WHEN 2 THEN 'example,h' || (doc_id % 10)::VARCHAR
                               || ':8080)/p/' || doc_id::VARCHAR
                           ELSE 'example,h' || (doc_id % 10)::VARCHAR
                               || ')/p/' || doc_id::VARCHAR
                       END AS urlkey,
                       md5('<html><body><p>' || text
                           || '</p></body></html>') AS digest,
                       octet_length(encode('<html><body><p>' || text
                           || '</p></body></html>'))::BIGINT AS n_bytes,
                       'mem://cdx-' || (doc_id % 16)::VARCHAR || '.warc'
                           AS warc_file
                FROM documents
            ), fetches AS (
                SELECT urlkey, '20250601120000' AS cdx_ts, url, digest,
                       n_bytes, warc_file
                FROM recs
                UNION ALL
                SELECT urlkey, '20250601130000', url, digest, n_bytes,
                       warc_file
                FROM recs WHERE doc_id % 13 = 0
            )
            SELECT urlkey, cdx_ts, url, digest, n_bytes, warc_file,
                   (row_number() OVER (
                        PARTITION BY digest
                        ORDER BY cdx_ts, url, warc_file) > 1)
                       AS is_revisit
            FROM fetches
        """,
        # sitemap ingest: the expected entry relation derived DIRECTLY
        # from documents (no XML in sight) — 20 urlset hosts with
        # entity-decoded locs, the three lastmod shapes as exact epoch
        # arithmetic, the changefreq gate, the 0.5 priority default,
        # plus the sitemapindex host's 20 child-sitemap rows
        "c_sitemap_ingest": """
            WITH url_rows AS (
                SELECT 'h' || (doc_id % 20)::VARCHAR || '.example'
                           AS host,
                       'url' AS kind,
                       'https://h' || (doc_id % 20)::VARCHAR
                           || '.example/p/' || doc_id::VARCHAR
                           || '?a=1&b=2' AS loc,
                       CASE
                           WHEN doc_id % 3 = 1 THEN '2024-03-'
                               || lpad(((doc_id % 28) + 1)::VARCHAR,
                                       2, '0')
                           WHEN doc_id % 3 = 2 THEN '2024-03-05T'
                               || lpad((doc_id % 24)::VARCHAR, 2, '0')
                               || ':15:30'
                               || CASE WHEN doc_id % 2 = 0
                                       THEN 'Z' ELSE '+02:00' END
                       END AS lastmod,
                       CASE
                           WHEN doc_id % 3 = 1 THEN
                               epoch(DATE '2024-03-01')::BIGINT
                               + (doc_id % 28) * 86400
                           WHEN doc_id % 3 = 2 THEN
                               epoch(DATE '2024-03-05')::BIGINT
                               + (doc_id % 24) * 3600 + 15 * 60 + 30
                               - CASE WHEN doc_id % 2 = 0
                                      THEN 0 ELSE 7200 END
                       END AS lastmod_epoch,
                       CASE WHEN doc_id % 4 = 0 THEN 'daily'
                            WHEN doc_id % 4 = 1 THEN 'weekly'
                       END AS changefreq,
                       CASE doc_id % 5
                           WHEN 0 THEN 500000
                           WHEN 1 THEN 800000
                           WHEN 2 THEN 1000000
                           WHEN 3 THEN 250000
                           WHEN 4 THEN 0
                       END::BIGINT AS priority_ppm,
                       TRUE AS same_host
                FROM documents
            ), idx_rows AS (
                SELECT 'hindex.example' AS host,
                       'sitemap' AS kind,
                       'https://h' || hn::VARCHAR
                           || '.example/sitemap.xml' AS loc,
                       '2024-02-' || lpad((hn + 1)::VARCHAR, 2, '0')
                           AS lastmod,
                       (epoch(DATE '2024-02-01')::BIGINT
                        + hn * 86400)::BIGINT AS lastmod_epoch,
                       NULL::VARCHAR AS changefreq,
                       500000::BIGINT AS priority_ppm,
                       FALSE AS same_host
                FROM (SELECT DISTINCT (doc_id % 20)::BIGINT AS hn
                      FROM documents)
            )
            SELECT * FROM url_rows
            UNION ALL
            SELECT * FROM idx_rows
        """,
        # Hamilton largest-remainder apportionment: floor/rem via exact
        # integer division, the R leftover seats to the R largest
        # remainders (host asc ties) — the oracle ranks remainders with
        # a plain global window; Spark's banded rank must agree exactly
        "c_crawl_budget": """
            WITH hosts AS (
                SELECT 'h' || (doc_id % 37)::VARCHAR AS host,
                       sum(n_chars)::BIGINT AS weight
                FROM documents GROUP BY 1
            ), tot AS (
                SELECT greatest(sum(weight), 1)::BIGINT AS w_sum
                FROM hosts
            ), q AS (
                SELECT host, weight,
                       (9973 * weight) // w_sum AS fl,
                       (9973 * weight) % w_sum AS rem
                FROM hosts, tot
            ), seats AS (
                SELECT (9973 - sum(fl))::BIGINT AS r FROM q
            ), ranked AS (
                SELECT host, weight, fl,
                       row_number() OVER (
                           ORDER BY rem DESC, host ASC
                       ) AS rk
                FROM q
            )
            SELECT host, weight,
                   (fl + CASE WHEN rk <= r THEN 1 ELSE 0 END)::BIGINT
                       AS quota
            FROM ranked, seats
        """,
        # HyperBall: enumerate the TRUE radius-2 balls with a recursive
        # CTE, then replay the pinned HLL register algebra (b=8: bucket
        # = h mod 256, rank via length(bin()), exact-bigint
        # n_zero/sum_scaled, raw + linear-counting estimator) — the
        # Spark register ITERATION must land on the same rows
        "g_hyperball": """
            WITH RECURSIVE ed AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT doc_id AS src, doc_id // 2 AS dst
                    FROM documents WHERE doc_id > 0
                    UNION ALL
                    SELECT doc_id, doc_id - 1
                    FROM documents WHERE doc_id % 7 = 3 AND doc_id > 0
                ) WHERE src <> dst
            ), nodes AS (
                SELECT src AS node FROM ed
                UNION
                SELECT dst FROM ed
            ), reach(node, member, depth) AS (
                SELECT node, node, 0 FROM nodes
                UNION
                SELECT r.node, ed.dst, r.depth + 1
                FROM reach r JOIN ed ON ed.src = r.member
                WHERE r.depth < 2
            ), ball AS (
                SELECT DISTINCT node, member FROM reach
            ), h AS (
                SELECT node,
                       (('0x' || substr(md5(member::VARCHAR), 1, 15))
                        ::UBIGINT)::BIGINT AS h
                FROM ball
            ), rr AS (
                SELECT node, (h % 256)::BIGINT AS j,
                       CASE WHEN (h // 256) = 0 THEN 53
                            ELSE 52 - length(bin(h // 256)) + 1
                       END AS rho
                FROM h
            ), regs AS (
                SELECT node, j, max(rho) AS r FROM rr GROUP BY node, j
            ), agg AS (
                SELECT node, count(*) AS n_present,
                       sum((1::BIGINT << (53 - r))::BIGINT)::BIGINT
                           AS s_present
                FROM regs GROUP BY node
            ), stats AS (
                SELECT node, 256::BIGINT AS m,
                       (256 - n_present)::BIGINT AS n_zero,
                       (s_present
                        + (256 - n_present) * (1::BIGINT << 53))::BIGINT
                           AS sum_scaled
                FROM agg
            )
            SELECT node, m, n_zero, sum_scaled,
                   round(CASE WHEN (4.2399330249068963e+20
                                    / sum_scaled::DOUBLE) <= 640.0
                                   AND n_zero > 0
                              THEN 256.0 * ln(256.0 / n_zero::DOUBLE)
                              ELSE 4.2399330249068963e+20
                                   / sum_scaled::DOUBLE
                         END, 4) AS est_ball
            FROM stats
        """,
        "t_kmv_cardinality": """
            WITH dv AS (
                SELECT DISTINCT event_type,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM events
            ), hashed AS (
                SELECT event_type,
                       (('0x' || substr(md5(cents::VARCHAR), 1, 15))
                        ::UBIGINT)::BIGINT AS h
                FROM dv
            ), ranked AS (
                SELECT event_type, h,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY h ASC) AS rn
                FROM hashed
            ), pg AS (
                SELECT event_type, COUNT(*) AS n,
                       min(CASE WHEN rn = 32 THEN h END) AS hk
                FROM ranked GROUP BY event_type
            )
            SELECT event_type,
                   CAST(CASE WHEN n >= 32 THEN 32 ELSE n END AS BIGINT)
                       AS n_kept,
                   round(CASE WHEN n >= 32
                              THEN 31.0 * 1152921504606846976.0 / hk
                              ELSE CAST(n AS DOUBLE) END, 4)
                       AS est_distinct
            FROM pg
        """,
        # A-ES weighted sampling: u = (h60 + 1)/2^60 in (0,1], rank
        # ASC on -ln(u)/w (== rank DESC on the A-ES key u^(1/w)), ties
        # by id — the full hash/score derivation replayed in SQL
        "t_weighted_sample": """
            WITH ev AS (
                SELECT event_type, event_id,
                       abs(value) + 1.0 AS w
                FROM events
            ), scored AS (
                SELECT event_type, event_id, w,
                       -ln(((('0x' || substr(md5(event_id::VARCHAR), 1, 15))
                             ::UBIGINT)::DOUBLE + 1.0)
                           / 1152921504606846976.0) / w AS ns
                FROM ev
            )
            SELECT event_type, event_id, w AS weight,
                   CAST(rn AS BIGINT) AS pos
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY event_type ORDER BY ns ASC, event_id ASC
                ) AS rn FROM scored
            ) WHERE rn <= 8
        """,
        # KMV set-overlap: re-derive BOTH shard states, merge to the
        # bottom-32 of the union, exact-integer jaccard_ppm + the
        # estimator's double algebra nested exactly as Spark computes it
        "t_kmv_overlap": """
            WITH dv AS (
                SELECT DISTINCT event_type,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM events
            ), hashed AS (
                SELECT event_type, cents,
                       (('0x' || substr(md5(cents::VARCHAR), 1, 15))
                        ::UBIGINT)::BIGINT AS h
                FROM dv
            ), sa AS (
                SELECT event_type, h FROM (
                    SELECT event_type, h, row_number() OVER (
                        PARTITION BY event_type ORDER BY h ASC) AS rn
                    FROM hashed WHERE cents % 3 <> 0
                ) WHERE rn <= 32
            ), sb AS (
                SELECT event_type, h FROM (
                    SELECT event_type, h, row_number() OVER (
                        PARTITION BY event_type ORDER BY h ASC) AS rn
                    FROM hashed WHERE cents % 2 = 0
                ) WHERE rn <= 32
            ), j AS (
                SELECT coalesce(sa.event_type, sb.event_type)
                           AS event_type,
                       coalesce(sa.h, sb.h) AS h,
                       CASE WHEN sa.h IS NULL THEN 0 ELSE 1 END AS a,
                       CASE WHEN sb.h IS NULL THEN 0 ELSE 1 END AS b
                FROM sa FULL JOIN sb
                  ON sa.event_type = sb.event_type AND sa.h = sb.h
            ), s AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY event_type ORDER BY h ASC) AS rn
                    FROM j
                ) WHERE rn <= 32
            ), agg AS (
                SELECT event_type,
                       COUNT(*) AS n_union_sketch,
                       CAST(SUM(a * b) AS BIGINT) AS n_common,
                       min(CASE WHEN rn = 32 THEN h END) AS hk
                FROM s GROUP BY event_type
            ), est AS (
                SELECT event_type, n_common, n_union_sketch,
                       round(CASE WHEN n_union_sketch >= 32
                                  THEN 31.0 * 1152921504606846976.0 / hk
                                  ELSE CAST(n_union_sketch AS DOUBLE)
                             END, 4) AS est_union
                FROM agg
            )
            SELECT event_type, n_common,
                   CAST(n_union_sketch AS BIGINT) AS n_union_sketch,
                   CAST((n_common * 1000000) // n_union_sketch AS BIGINT)
                       AS jaccard_ppm,
                   est_union,
                   round(est_union * CAST(n_common AS DOUBLE)
                         / CAST(n_union_sketch AS DOUBLE), 4)
                       AS est_intersection
            FROM est
        """,
        # KMV snapshot-compare: overlap oracle extended with the
        # difference counters and their union-share estimates
        "t_kmv_compare": """
            WITH dv AS (
                SELECT DISTINCT event_type,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM events
            ), hashed AS (
                SELECT event_type, cents,
                       (('0x' || substr(md5(cents::VARCHAR), 1, 15))
                        ::UBIGINT)::BIGINT AS h
                FROM dv
            ), sa AS (
                SELECT event_type, h FROM (
                    SELECT event_type, h, row_number() OVER (
                        PARTITION BY event_type ORDER BY h ASC) AS rn
                    FROM hashed WHERE cents % 3 <> 0
                ) WHERE rn <= 32
            ), sb AS (
                SELECT event_type, h FROM (
                    SELECT event_type, h, row_number() OVER (
                        PARTITION BY event_type ORDER BY h ASC) AS rn
                    FROM hashed WHERE cents % 2 = 0
                ) WHERE rn <= 32
            ), j AS (
                SELECT coalesce(sa.event_type, sb.event_type)
                           AS event_type,
                       coalesce(sa.h, sb.h) AS h,
                       CASE WHEN sa.h IS NULL THEN 0 ELSE 1 END AS a,
                       CASE WHEN sb.h IS NULL THEN 0 ELSE 1 END AS b
                FROM sa FULL JOIN sb
                  ON sa.event_type = sb.event_type AND sa.h = sb.h
            ), s AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY event_type ORDER BY h ASC) AS rn
                    FROM j
                ) WHERE rn <= 32
            ), agg AS (
                SELECT event_type,
                       COUNT(*) AS n_union_sketch,
                       CAST(SUM(a * b) AS BIGINT) AS n_common,
                       CAST(SUM(a * (1 - b)) AS BIGINT) AS n_only_a,
                       CAST(SUM((1 - a) * b) AS BIGINT) AS n_only_b,
                       min(CASE WHEN rn = 32 THEN h END) AS hk
                FROM s GROUP BY event_type
            ), est AS (
                SELECT event_type, n_common, n_only_a, n_only_b, n_union_sketch,
                       round(CASE WHEN n_union_sketch >= 32
                                  THEN 31.0 * 1152921504606846976.0 / hk
                                  ELSE CAST(n_union_sketch AS DOUBLE)
                             END, 4) AS est_union
                FROM agg
            )
            SELECT event_type, n_common, n_only_a, n_only_b,
                   CAST(n_union_sketch AS BIGINT) AS n_union_sketch,
                   CAST((n_common * 1000000) // n_union_sketch AS BIGINT)
                       AS jaccard_ppm,
                   est_union,
                   round(est_union * CAST(n_common AS DOUBLE)
                         / CAST(n_union_sketch AS DOUBLE), 4)
                       AS est_intersection,
                   round(est_union * CAST(n_only_a AS DOUBLE)
                         / CAST(n_union_sketch AS DOUBLE), 4)
                       AS est_only_a,
                   round(est_union * CAST(n_only_b AS DOUBLE)
                         / CAST(n_union_sketch AS DOUBLE), 4)
                       AS est_only_b
            FROM est
        """,
        # the identical interleave algebra: per-host row_number by
        # (priority desc, url), global order (pos, priority desc, url),
        # first wave of 60
        "c_frontier_schedule": """
            WITH f AS (
                SELECT 'h' || (doc_id % 7)::VARCHAR || '.example' AS host,
                       'https://h' || (doc_id % 7)::VARCHAR
                           || '.example/p' || doc_id::VARCHAR AS url,
                       CAST(n_chars AS DOUBLE) AS priority
                FROM documents
            ), ranked AS (
                SELECT host, url, priority,
                       CAST(row_number() OVER (PARTITION BY host
                            ORDER BY priority DESC, url ASC) AS BIGINT)
                           AS pos
                FROM f
            )
            SELECT host, url, priority, pos,
                   CAST(row_number() OVER (
                       ORDER BY pos ASC, priority DESC, url ASC) AS BIGINT)
                       AS sched_rank
            FROM ranked
            ORDER BY pos ASC, priority DESC, url ASC
            LIMIT 60
        """,
        # the identical Count-Min algebra: per-salt md5 bucket, counter =
        # rows per (salt, bucket), estimate = min over the 3 salted rows,
        # top-10 on (est_count desc, value asc)
        "t_cm_heavy_hitters": """
            WITH v AS (
                SELECT CAST(user_id AS VARCHAR) AS v FROM events
            ), salts AS (
                SELECT unnest(['cm0:', 'cm1:', 'cm2:']) AS salt
            ), pairs AS (
                SELECT s.salt,
                       (('0x' || substr(md5(s.salt || v.v), 1, 15))
                        ::UBIGINT)::BIGINT % 64 AS b
                FROM v CROSS JOIN salts s
            ), sketch AS (
                SELECT salt, b, COUNT(*) AS c
                FROM pairs GROUP BY salt, b
            ), cand AS (
                SELECT DISTINCT v FROM v
            ), est AS (
                SELECT cand.v AS value, MIN(sk.c) AS est_count
                FROM cand CROSS JOIN salts s
                JOIN sketch sk
                  ON sk.salt = s.salt
                 AND sk.b = (('0x' || substr(md5(s.salt || cand.v), 1, 15))
                             ::UBIGINT)::BIGINT % 64
                GROUP BY cand.v
            )
            SELECT value, est_count,
                   CAST(row_number() OVER (
                       ORDER BY est_count DESC, value ASC) AS BIGINT) AS rank
            FROM est
            ORDER BY est_count DESC, value ASC
            LIMIT 10
        """,
        # the identical mixture math: T = min(count/target) over target
        # domains, p = target * T / count, keep iff u(id) < p — float op
        # order pinned term by term
        "x_domain_mix": """
            WITH tgt AS (
                SELECT * FROM (VALUES
                    ('en', CAST(0.5 AS DOUBLE)),
                    ('de', CAST(0.25 AS DOUBLE)),
                    ('fr', CAST(0.25 AS DOUBLE))) AS v(lang, tfrac)
            ), counts AS (
                SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
            ), r AS (
                SELECT c.lang, c.n, tgt.tfrac
                FROM counts c JOIN tgt USING (lang)
            ), tt AS (
                SELECT MIN(CAST(n AS DOUBLE) / tfrac) AS tot FROM r
            ), p AS (
                SELECT r.lang,
                       r.tfrac * (SELECT tot FROM tt) / CAST(r.n AS DOUBLE)
                           AS p
                FROM r
            )
            SELECT d.doc_id, d.lang, round(p.p, 6) AS accept_p
            FROM documents d JOIN p USING (lang)
            WHERE (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))
                   ::UBIGINT)::DOUBLE / 1152921504606846976.0 < p.p
        """,
        # the identical bottom-k algebra: 60-bit md5 of the id, per-group
        # row_number over (hash, id), keep pos <= 5
        "t_bottomk_sample": """
            SELECT event_type, event_id, pos FROM (
                SELECT event_type, event_id,
                       row_number() OVER (
                           PARTITION BY event_type
                           ORDER BY (('0x' || substr(md5(event_id::VARCHAR),
                                                     1, 15))::UBIGINT)::BIGINT
                                    ASC, event_id ASC) AS pos
                FROM events
            ) WHERE pos <= 5
        """,
        # character-bigram statistics: same word-frequency + bracket-
        # sequence derivation as the trainer, pairs via 1-based indexing
        "t_bpe_pairs": """
            WITH toks AS (
                SELECT unnest(list_filter(
                    string_split_regex(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS word
                FROM documents
            ), wf AS (
                SELECT word, COUNT(*) AS c FROM toks
                WHERE word NOT LIKE '%' || chr(1) || '%'
                  AND word NOT LIKE '%' || chr(2) || '%'
                GROUP BY word
            ), pairs AS (
                SELECT "left", "right", SUM(c) AS cnt FROM (
                    SELECT c, syms[i] AS "left", syms[i + 1] AS "right" FROM (
                        SELECT c, syms, unnest(range(1, len(syms))) AS i
                        FROM (SELECT c, string_split(word, '') AS syms
                              FROM wf)
                    )
                ) GROUP BY "left", "right"
            )
            SELECT "left", "right", CAST(cnt AS BIGINT) AS cnt,
                   CAST(row_number() OVER (
                       ORDER BY cnt DESC, "left" ASC, "right" ASC) AS BIGINT)
                       AS rank
            FROM pairs
            ORDER BY cnt DESC, "left" ASC, "right" ASC
            LIMIT 20
        """,
        # the full 6-round BPE training loop, unrolled round by round
        "t_bpe_merges": _bpe_oracle(n_merges=6),
        # training rounds + segmentation sizes + corpus join — the whole
        # train-then-count funnel replayed
        "x_bpe_token_counts": _bpe_counts_oracle(n_merges=6),
        # training rounds + the id algebra (binary-sorted chars, merges
        # by rank, min-id dedup)
        "x_bpe_vocab": _bpe_vocab_oracle(n_merges=6),
        # the identical histogram-quantile algebra: fixed-width bins off
        # per-group min/max, cumulative over bin order, first bin reaching
        # target = q*n, linear interpolation inside it — every float op in
        # the same order as the Spark expression tree
        "t_quantile_sketch": """
            WITH stats AS (
                SELECT event_type, min(value) AS gmin, max(value) AS gmax,
                       COUNT(value) AS n
                FROM events GROUP BY event_type
            ), binned AS (
                SELECT e.event_type,
                       CASE WHEN s.gmax = s.gmin THEN 0
                            ELSE CAST(least(floor(
                                (e.value - s.gmin) /
                                ((s.gmax - s.gmin) / CAST(32 AS DOUBLE))),
                                31) AS INT) END AS b
                FROM events e JOIN stats s USING (event_type)
                WHERE e.value IS NOT NULL
            ), hist AS (
                SELECT event_type, b, COUNT(*) AS c
                FROM binned GROUP BY event_type, b
            ), cum AS (
                SELECT event_type, b, c,
                       SUM(c) OVER (PARTITION BY event_type ORDER BY b
                                    ROWS UNBOUNDED PRECEDING) AS cum
                FROM hist
            ), qs AS (
                SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                               CAST(0.99 AS DOUBLE)]) AS quantile
            ), tgt AS (
                SELECT s.event_type, q.quantile, s.gmin, s.gmax, s.n,
                       q.quantile * CAST(s.n AS DOUBLE) AS target
                FROM stats s CROSS JOIN qs q
            ), joined AS (
                SELECT t.event_type, t.quantile, t.gmin, t.gmax, t.n,
                       t.target, c.b, c.c, c.cum,
                       row_number() OVER (
                           PARTITION BY t.event_type, t.quantile
                           ORDER BY c.b) AS rn
                FROM tgt t JOIN cum c USING (event_type)
                WHERE CAST(c.cum AS DOUBLE) >= t.target
            )
            SELECT event_type, quantile, CAST(n AS BIGINT) AS n,
                   round(CASE WHEN gmax = gmin THEN gmin
                         ELSE gmin + (CAST(b AS DOUBLE) +
                              (target - CAST(cum - c AS DOUBLE))
                              / CAST(c AS DOUBLE))
                              * ((gmax - gmin) / CAST(32 AS DOUBLE)) END,
                         6) AS est_q
            FROM joined WHERE rn = 1
        """,
        # one tokenization pass reused for tf AND df, ratio formed before
        # the log (the Spark float-order pin), total order on
        # (tfidf desc, term asc)
        "t_tfidf_terms": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '')) AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, COUNT(*) AS tf
                FROM toks GROUP BY doc_id, term
            ), dfr AS (
                SELECT term, COUNT(*) AS df FROM tf GROUP BY term
            ), n AS (
                SELECT COUNT(DISTINCT doc_id) AS n FROM documents
            ), scored AS (
                SELECT tf.doc_id, tf.term, tf.tf, dfr.df,
                       round(tf.tf * ln((SELECT n FROM n) / dfr.df), 6)
                           AS tfidf
                FROM tf JOIN dfr USING (term)
            )
            SELECT doc_id, term, tf, df, tfidf, CAST(rank AS BIGINT) AS rank
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
                ) AS rank FROM scored
            ) WHERE rank <= 3
        """,
        # VALUES = an inline relation inner-joined on the bound variable;
        # FILTER = a cross-variable predicate
        "kg_bgp_filter": """
            WITH claims AS (
                SELECT DISTINCT user_id AS subj, event_type AS pred,
                       CAST(floor(value / 50) AS BIGINT) AS obj
                FROM events
            )
            SELECT DISTINCT p.subj AS a, p.obj AS v, c.obj AS w
            FROM claims p
            JOIN claims c ON c.subj = p.subj
            JOIN (VALUES (0), (1), (2)) AS bands(v) ON bands.v = p.obj
            WHERE p.pred = 'purchase' AND c.pred = 'click'
              AND p.obj <> c.obj
        """,
        # SPARQL aggregation: GROUP BY over the bag-semantics solution
        # relation, HAVING as a post-agg filter
        "kg_bgp_agg": """
            WITH claims AS (
                SELECT DISTINCT user_id AS subj, event_type AS pred,
                       CAST(floor(value / 50) AS BIGINT) AS obj
                FROM events
            ), sols AS (
                SELECT p.subj AS a, p.obj AS v, c.obj AS w
                FROM claims p
                JOIN claims c ON c.subj = p.subj
                WHERE p.pred = 'purchase' AND c.pred = 'click'
            )
            SELECT v, COUNT(DISTINCT a) AS n_users,
                   COUNT(*) AS n_solutions
            FROM sols GROUP BY v
            HAVING COUNT(DISTINCT a) >= 3
        """,
        # one-hop-at-a-time recursive closure vs the semi-naive doubling
        # engine; the second rule fires on DERIVED triples in both
        "kg_forward_chain": """
            WITH RECURSIVE base AS (
                SELECT doc_id AS s, doc_id // 2 AS o
                FROM documents WHERE doc_id > 0
            ), closure AS (
                SELECT s, o FROM base
                UNION
                SELECT c.s, b.o FROM closure c JOIN base b ON c.o = b.s
            )
            SELECT s AS subj, 'anc' AS pred, o AS obj FROM closure
            UNION ALL
            SELECT DISTINCT s, 'reaches_root', 0 FROM closure WHERE o = 0
        """,
        # incremental == from-scratch: the oracle is the FULL closure —
        # the delta-extended materialization must land exactly on it
        "kg_chain_incremental": """
            WITH RECURSIVE base AS (
                SELECT doc_id AS s, doc_id // 2 AS o
                FROM documents WHERE doc_id > 0
            ), closure AS (
                SELECT s, o FROM base
                UNION
                SELECT c.s, b.o FROM closure c JOIN base b ON c.o = b.s
            )
            SELECT s AS subj, 'anc' AS pred, o AS obj FROM closure
        """,
        # endpoints mapped through the analytic SCC id of the ring-of-4
        # fixture, then distinct component edges
        "g_condensation": """
            WITH docs AS (SELECT doc_id AS d FROM documents),
            ring AS (
                SELECT d AS src, (d - d % 4) + ((d % 4 + 1) % 4) AS dst
                FROM docs
                WHERE NOT (d % 4 = 3 AND (d - d % 4) % 100 = 0)
            ),
            inter AS (
                SELECT d AS src, 4 + ((d // 4) % 4) AS dst
                FROM docs WHERE d % 4 = 0 AND d > 0
            ),
            edges AS (
                SELECT src, dst FROM ring
                WHERE dst IN (SELECT d FROM docs)
                UNION
                SELECT src, dst FROM inter
                WHERE dst IN (SELECT d FROM docs)
            ),
            fullb AS (
                SELECT d - d % 4 AS gb FROM docs
                GROUP BY 1 HAVING COUNT(*) = 4
            ),
            lbl AS (
                SELECT d AS node,
                       CASE WHEN (d - d % 4) IN (SELECT gb FROM fullb)
                                 AND (d - d % 4) % 100 <> 0
                            THEN d - d % 4 ELSE d END AS component
                FROM docs
            )
            SELECT DISTINCT ls.component AS src_comp,
                            ld.component AS dst_comp
            FROM edges
            JOIN lbl ls ON ls.node = edges.src
            JOIN lbl ld ON ld.node = edges.dst
            WHERE ls.component <> ld.component
        """,
    }


def oracle_sql() -> dict[str, str]:
    out = _oracle_sql_body()
    # merge-of-shard-states == the global sketch is the algebraic
    # identity t_kmv_merge tests, so its oracle IS the global KMV SQL
    out["t_kmv_merge"] = out["t_kmv_cardinality"]
    # the partial (bounded-heap, production-plan) paths are output-
    # identical to the window paths by construction, so they share the
    # same independent DuckDB derivations — a green driver row then
    # value-checks the mapInPandas partial-aggregate plan itself
    out["t_kmv_partial"] = out["t_kmv_cardinality"]
    out["t_bottomk_partial"] = out["t_bottomk_sample"]
    # merge identity: shard-state rollup must land exactly on the global
    # sketch, so the merged query's oracle IS the global HLL SQL
    out["t_hll_merge"] = out["t_hll_cardinality"]
    return out
