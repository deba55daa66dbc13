"""Operator-level Spark tests: canon, dedup, similarity, incremental,
multimodal, search funnel, streaming ingest, generation determinism."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from chunksilo_spark.operators import dedup as dd
from chunksilo_spark.operators import incremental as incr
from chunksilo_spark.operators import multimodal as mm
from chunksilo_spark.operators import search as srch
from chunksilo_spark.operators import similarity as sim
from chunksilo_spark.operators.canon import canon_map
from chunksilo_spark.sources.corpus import pages_df


class TestCanon:
    def test_variants_cluster_cross_entities_dont(self, spark):
        surfaces = spark.createDataFrame(
            [
                ("acme corp",), ("acme corp inc",), ("acme corp ltd",),
                ("vertex collective",), ("apex collective",),
            ],
            schema="norm string",
        )
        got = {r["norm"]: r["canon_surface"] for r in canon_map(surfaces).collect()}
        assert got["acme corp"] == got["acme corp inc"] == got["acme corp ltd"]
        assert got["vertex collective"] != got["apex collective"]
        assert got["vertex collective"] == "vertex collective"

    def test_distributed_path_equals_local_path(self, spark):
        """The distributed LSH+CC path (used at dictionary scale) must agree
        exactly with the driver union-find fast path on the full alias pool."""
        from chunksilo_spark.functions.triples import normalize_surface
        from chunksilo_spark.sources.corpus import build_entity_pool

        norms = sorted(
            {
                normalize_surface(a)
                for al in build_entity_pool()
                for a in al
            }
        )
        surfaces = spark.createDataFrame([(n,) for n in norms], "norm string")
        dist = {
            r["norm"]: (r["canon_id"], r["canon_surface"])
            for r in canon_map(surfaces, auto_local=False).collect()
        }
        local = {
            r["norm"]: (r["canon_id"], r["canon_surface"])
            for r in canon_map(surfaces, auto_local=True).collect()
        }
        assert dist == local and len(dist) == len(norms)


class TestDedup:
    def test_exact_dedup_groups(self, spark):
        docs = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "other")],
            schema="doc_id long, text string",
        )
        rows = {r["keep_doc_id"]: r["n_docs"] for r in dd.exact_dedup(docs).collect()}
        assert rows == {1: 2, 3: 1}

    def test_minhash_lsh_finds_near_dup(self, spark):
        base = "the quick brown fox jumps over the lazy dog " * 8
        docs = spark.createDataFrame(
            [(1, base), (2, base + "extra tail words here"),
             (3, "完全 different content " + "unrelated words " * 10)],
            schema="doc_id long, text string",
        )
        pairs = {(r["doc_a"], r["doc_b"]) for r in dd.minhash_lsh_pairs(docs).collect()}
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_simhash_near_dup_closer(self, spark):
        from chunksilo_spark.functions.minhash import hamming64

        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta"),
             (2, "alpha beta gamma delta epsilon zeta eta iota"),
             (3, "one two three four five six seven eight")],
            schema="doc_id long, text string",
        )
        fp = {r["doc_id"]: r["simhash"] + (1 << 63) for r in
              dd.simhash_fingerprints(docs).collect()}
        assert hamming64(fp[1], fp[2]) < hamming64(fp[1], fp[3])

    def test_minhash_skew_identical_docs_linear(self, spark):
        # 1000 byte-identical docs + one near-dup of the group text: the
        # exact-dup collapse must band ONE representative per group, so the
        # band self-join emits the single rep-level pair — not the O(k^2)
        # blow-up banding raw docs would produce (the hot-bucket quadratic).
        base = "boilerplate footer text repeated on every page " * 6
        rows = [(i, base) for i in range(1000)]
        rows.append((5000, base + "tiny extra suffix appended"))
        rows.append((6000, "entirely different words " * 12))
        docs = spark.createDataFrame(rows, schema="doc_id long, text string")
        pairs = dd.minhash_lsh_pairs(docs).collect()
        assert len(pairs) == 1
        assert (pairs[0]["doc_a"], pairs[0]["doc_b"]) == (0, 5000)
        # band rows are per-group, not per-doc
        reps = dd.exact_dup_representatives(docs)
        assert dd.minhash_bands(reps).count() == 3 * 32
        # the k-way duplicate cluster itself is exact_dedup's (linear) output
        groups = {r["keep_doc_id"]: r["n_docs"] for r in dd.exact_dedup(docs).collect()}
        assert groups[0] == 1000

    def test_neardup_verified_est_vs_exact(self, spark):
        base = "the quick brown fox jumps over the lazy dog " * 8
        docs = spark.createDataFrame(
            [(1, base), (2, base + "extra tail words here"),
             (3, "unrelated content entirely " + "other words " * 10)],
            schema="doc_id long, text string",
        )
        verified = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dd.neardup_verified(docs, threshold=0.5).collect()
        }
        assert set(verified) == {(1, 2)}
        est = {
            (r["doc_a"], r["doc_b"]): r["est_jaccard"]
            for r in dd.minhash_lsh_pairs(docs).collect()
        }
        # MinHash estimate tracks the exact 3-gram Jaccard on found pairs
        assert abs(est[(1, 2)] - verified[(1, 2)]) <= 0.25

    def test_dedup_clusters_end_to_end(self, spark):
        """doc -> cluster_id -> is_survivor vs a plain-python union-find
        over the same exact-dup groups + verified pairs: a chain of
        near-dups must land in ONE cluster (transitivity), exact dups ride
        their representative, untouched docs are singleton survivors."""
        base = "the quick brown fox jumps over the lazy dog " * 8
        rows = [
            (1, base),
            (2, base),                                  # exact dup of 1
            (3, base + "extra tail words here"),        # near-dup of 1
            (4, base + "extra tail words here indeed"), # near-dup of 3 (chain)
            (5, "unrelated content entirely " + "other words " * 10),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        # python oracle: union-find over exact groups + verified pairs
        parent = {i: i for i, _ in rows}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        by_text = {}
        for i, t in rows:
            by_text.setdefault(t, []).append(i)
        for ids in by_text.values():
            for j in ids[1:]:
                union(ids[0], j)
        for r in dd.neardup_verified(docs, threshold=0.5).collect():
            union(r["doc_a"], r["doc_b"])
        want = {i: find(i) for i, _ in rows}

        got = {
            r["doc_id"]: (r["cluster_id"], r["is_survivor"])
            for r in dd.dedup_clusters(docs, threshold=0.5).collect()
        }
        assert {i: c for i, (c, _s) in got.items()} == want
        assert {i for i, (_c, s) in got.items() if s} == set(want.values())
        # the chain 1-2-3-4 collapsed into one cluster rooted at 1
        assert want[4] == 1 and len(set(want.values())) == 2

    def test_neardup_against_corpus(self, spark):
        """Delta-vs-corpus dedup: exact matches ride the md5 fast path
        (jaccard pinned 1.0), near matches verify against corpus
        REPRESENTATIVES only, clean docs match nothing — and the corpus is
        never self-joined."""
        base = "the quick brown fox jumps over the lazy dog " * 8
        corpus = spark.createDataFrame(
            [(10, base), (11, base),              # exact-dup group, rep=10
             (12, "totally different corpus words " + "filler " * 10)],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(100, base),                          # exact match -> 10
             (101, base + "extra tail words here"),  # near match -> 10
             (102, "fresh unique content " + "never seen " * 10)],
            "doc_id long, text string",
        )
        got = {
            (r["doc_id"], r["match_id"]): (r["kind"], r["jaccard"])
            for r in dd.neardup_against(new, corpus, threshold=0.5).collect()
        }
        assert got[(100, 10)] == ("exact", 1.0)
        kind, jac = got[(101, 10)]
        assert kind == "near" and 0.5 <= jac < 1.0
        assert len(got) == 2  # doc 102 matches nothing; 11 never a match_id

    def test_new_ops_on_empty_inputs(self, spark):
        empty = spark.createDataFrame([], "doc_id long, text string")
        docs = spark.createDataFrame(
            [(1, "some words here " * 5)], "doc_id long, text string"
        )
        assert dd.dedup_clusters(empty).count() == 0
        assert dd.neardup_against(empty, docs).count() == 0
        assert dd.neardup_against(docs, empty).count() == 0
        # a corpus with no dups: everyone is their own survivor
        row = dd.dedup_clusters(docs).collect()[0]
        assert (row["cluster_id"], row["is_survivor"]) == (1, True)

    def test_dup_ngram_spans_python_oracle(self, spark):
        # two docs share one 8-gram ("a..h"); docs 1 and 4 are exact dups
        # (every gram duplicated, one maximal span covering everything);
        # doc 5 repeats an 8-gram WITHIN itself (min_count counts total
        # occurrences, not distinct docs); doc 3 has no dup grams (absent
        # from the result); doc 6 is too short to carry any 8-gram.
        rows = [
            (1, "a b c d e f g h i j k l"),
            (2, "a b c d e f g h X Y Z W"),
            (3, "totally unique words in this row and beyond them"),
            (4, "a b c d e f g h i j k l"),
            (5, "p q r s t u v w GAP p q r s t u v w"),
            (6, "too short"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (
                r["n_dup_grams"],
                r["n_spans"],
                r["dup_tokens"],
                r["n_toks"],
            )
            for r in dd.dup_ngram_spans(df, n=8).collect()
        }
        assert got == {
            # docs 1/4: 5 grams, merged into [0, 12) — the whole doc
            1: (5, 1, 12, 12),
            4: (5, 1, 12, 12),
            # doc 2: only the pos-0 gram is shared -> span [0, 8)
            2: (1, 1, 8, 12),
            # doc 5: "p..w" occurs at pos 0 and pos 9 -> two spans of 8,
            # separated by GAP (17 toks, gap at pos 8)
            5: (2, 2, 16, 17),
        }

    def test_dup_ngram_spans_empty_and_no_dups(self, spark):
        empty = spark.createDataFrame([], "doc_id long, text string")
        assert dd.dup_ngram_spans(empty).count() == 0
        uniq = spark.createDataFrame(
            [(i, "w%d " % i * 9) for i in range(3)],
            "doc_id long, text string",
        )
        # each doc is 9 copies of ITS OWN token: its 8-grams repeat within
        # the doc (2 occurrences) -> every doc fully covered
        out = {r["doc_id"]: r["dup_frac"] for r in dd.dup_ngram_spans(uniq).collect()}
        assert out == {0: 1.0, 1: 1.0, 2: 1.0}

    def test_semdedup_known_geometry(self, spark):
        # four vectors in the all-positive sign bucket: 1 is a copy of 0,
        # 2 is a scaled copy of 0 (cosine 1.0 — semantic dup, different
        # norm), 3 is near-orthogonal to all; 4 sits in a different sign
        # bucket but parallel to 0 — clusters must isolate it (no pair).
        rows = [
            (0, [1.0, 1.0, 0.0, 0.0]),
            (1, [1.0, 1.0, 0.0, 0.0]),
            (2, [2.0, 2.0, 0.0, 0.0]),
            (3, [1.0, 0.01, 0.0, 0.0]),
            (4, [-1.0, -1.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {
            r["vec_id"]: (r["dup_of"], r["keep"])
            for r in dd.semdedup(df, threshold=0.9, n_sign_bits=2).collect()
        }
        assert got == {
            0: (None, True),
            1: (0, False),
            2: (0, False),
            3: (None, True),
            4: (None, True),
        }

    def test_semdedup_cluster_col_seam(self, spark):
        # an externally-supplied assignment (e.g. k-means list ids)
        # replaces the sign buckets: parallel vectors in DIFFERENT
        # supplied clusters must not pair
        rows = [
            (0, [1.0, 0.0], 7),
            (1, [1.0, 0.0], 7),
            (2, [1.0, 0.0], 8),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, list_id int"
        )
        got = {
            r["vec_id"]: r["keep"]
            for r in dd.semdedup(df, threshold=0.9, cluster_col="list_id").collect()
        }
        assert got == {0: True, 1: False, 2: True}

    def test_semdedup_empty(self, spark):
        empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
        assert dd.semdedup(empty).count() == 0

    def test_minhash_batch_matches_single(self):
        from chunksilo_spark.functions.minhash import (
            minhash_signature,
            minhash_signatures_batch,
            word_shingles,
        )

        texts = [
            "alpha beta gamma delta epsilon zeta",
            "",
            "one two",
            "alpha beta gamma delta epsilon zeta eta " * 40,
        ]
        lists = [word_shingles(t, 3) for t in texts]
        batch = minhash_signatures_batch(lists, max_chunk=16)  # force chunking
        for sig, sh in zip(batch, lists):
            assert (sig == minhash_signature(sh)).all()

    def test_simhash_batch_matches_reference_def(self):
        import hashlib

        import numpy as np
        from chunksilo_spark.functions.minhash import simhash64, simhash64_batch

        def ref(tokens):  # the per-token definition (md5-derived token hash,
            # chosen so the fingerprint is re-derivable in the SQL oracle)
            if not tokens:
                return 0
            acc = np.zeros(64, dtype=np.int64)
            for tok in tokens:
                h = np.uint64(
                    int.from_bytes(
                        hashlib.md5(tok.encode("utf-8")).digest()[:8], "big"
                    )
                )
                bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
                acc += np.where(bits == 1, 1, -1)
            return sum(1 << i for i in range(64) if acc[i] > 0)

        cases = [[], ["a"], ["alpha", "beta", "alpha"], list("abcdefgh") * 3]
        assert simhash64_batch(cases) == [ref(c) for c in cases]
        assert simhash64(["alpha", "beta"]) == ref(["alpha", "beta"])

    def test_embedding_neardup(self, spark):
        docs = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0]), (2, [0.99, 0.1, 0.0]), (3, [0.0, 1.0, 0.0])],
            schema="vec_id long, embedding array<float>",
        )
        out = dd.embedding_neardup(docs, docs.where("vec_id = 1"), threshold=0.9)
        rows = out.collect()
        assert len(rows) == 1 and rows[0]["neighbor_id"] == 2


class TestSimilarity:
    def test_bruteforce_topk_exact(self, spark):
        import numpy as np

        rng = np.random.default_rng(7)
        vecs = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(50)]
        df = spark.createDataFrame(vecs, schema="vec_id long, embedding array<float>")
        out = sim.brute_force_topk(df, df.where("vec_id < 3"), k=4).collect()
        assert len(out) == 12
        # verify against numpy
        mat = np.array([v for _, v in vecs])
        matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = matn @ matn.T
        for q in range(3):
            order = [i for i in np.argsort(-sims[q]) if i != q][:4]
            got = [r["neighbor_id"] for r in out if r["query_id"] == q]
            assert got == order

    def test_lsh_topk_subset_of_corpus(self, spark):
        import numpy as np

        rng = np.random.default_rng(11)
        vecs = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(80)]
        df = spark.createDataFrame(vecs, schema="vec_id long, embedding array<float>")
        out = sim.lsh_topk(df, df.where("vec_id < 3"), dim=16, k=3).collect()
        assert out  # banding must produce candidates
        for r in out:
            assert r["neighbor_id"] != r["query_id"]

    def test_lsh_topk_clustered_recall_exact(self, spark):
        # clustered regime (what LSH is for): 8 clusters of 10 vectors, each
        # = unit center + small noise -> banded LSH must recover the exact
        # brute-force top-5 (recall 1.0). On isotropic noise the recall
        # floor is near zero by design — any sublinear ANN degenerates there;
        # the driver query (s_knn_lsh) uses a clustered derivation for the
        # same reason.
        import numpy as np

        rng = np.random.default_rng(3)
        centers = rng.standard_normal((8, 32))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        vecs = []
        for i in range(80):
            v = centers[i % 8] + 0.05 * rng.standard_normal(32)
            vecs.append((i, [float(x) for x in v]))
        df = spark.createDataFrame(vecs, schema="vec_id long, embedding array<float>")
        q = df.where("vec_id < 6")
        bf = {(r["query_id"], r["rank"]): r["neighbor_id"]
              for r in sim.brute_force_topk(df, q, k=5).collect()}
        lsh = {(r["query_id"], r["rank"]): r["neighbor_id"]
               for r in sim.lsh_topk(df, q, dim=32, k=5).collect()}
        assert lsh == bf

    def test_ivf_topk_clustered_recall_exact(self, spark):
        # IVF: seeded spherical k-means recovers the 8 planted clusters and
        # probing 2 lists returns the exact brute-force top-5
        import numpy as np

        rng = np.random.default_rng(5)
        centers = rng.standard_normal((8, 32))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        vecs = []
        for i in range(80):
            v = centers[i % 8] + 0.05 * rng.standard_normal(32)
            vecs.append((i, [float(x) for x in v]))
        df = spark.createDataFrame(vecs, schema="vec_id long, embedding array<float>")
        q = df.where("vec_id < 6")
        bf = {(r["query_id"], r["rank"]): r["neighbor_id"]
              for r in sim.brute_force_topk(df, q, k=5).collect()}
        ivf = {(r["query_id"], r["rank"]): r["neighbor_id"]
               for r in sim.ivf_topk(df, q, k=5, n_centroids=8, n_probe=2).collect()}
        assert ivf == bf

    def test_ivf_deterministic_under_reversed_partitioning(self, spark):
        """The coarse-quantizer sample is an ordered take, so reversing the
        input's partition layout must not change any (query, rank) ->
        (neighbor, cosine) result (VERDICT r2 'What's wrong' #1)."""
        import numpy as np

        rng = np.random.default_rng(5)
        centers = rng.standard_normal((8, 32))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        vecs = []
        for i in range(80):
            v = centers[i % 8] + 0.05 * rng.standard_normal(32)
            vecs.append((i, [float(x) for x in v]))
        fwd = spark.createDataFrame(
            vecs, schema="vec_id long, embedding array<float>"
        ).repartition(4)
        rev = spark.createDataFrame(
            list(reversed(vecs)), schema="vec_id long, embedding array<float>"
        ).repartitionByRange(7, "vec_id")
        q = fwd.where("vec_id < 6")
        a = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
             for r in sim.ivf_topk(fwd, q, k=5, n_centroids=8, n_probe=2,
                                   sample_rows=40).collect()}
        b = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
             for r in sim.ivf_topk(rev, q, k=5, n_centroids=8, n_probe=2,
                                   sample_rows=40).collect()}
        assert a == b

    def test_ivf_empty_corpus_returns_empty(self, spark):
        empty = spark.createDataFrame(
            [], schema="vec_id long, embedding array<float>"
        )
        q = spark.createDataFrame(
            [(0, [1.0] * 8)], schema="vec_id long, embedding array<float>"
        )
        assert sim.ivf_topk(empty, q, k=3).count() == 0

    def test_bruteforce_small_corpus_excludes_self(self, spark):
        """Corpus with fewer than k non-self rows: the masked self row
        (-inf) must not leak into the results (ADVICE r2)."""
        df = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
            schema="vec_id long, embedding array<float>",
        )
        out = sim.brute_force_topk(df, df.where("vec_id = 0"), k=5).collect()
        ids = [r["neighbor_id"] for r in out]
        assert 0 not in ids and sorted(ids) == [1, 2]
        assert all(np.isfinite(r["cosine"]) for r in out)


class TestIncremental:
    def test_classify_changes(self, spark):
        state = spark.createDataFrame(
            [("u1", "h1"), ("u2", "h2"), ("u3", "h3")],
            schema="url string, content_md5 string",
        )
        snap = spark.createDataFrame(
            [("u1", "h1"), ("u2", "HX"), ("u4", "h4")],
            schema="url string, content_md5 string",
        )
        ch = incr.classify_changes(snap, state)
        assert {r["url"] for r in ch["new"].collect()} == {"u4"}
        assert {r["url"] for r in ch["modified"].collect()} == {"u2"}
        assert {r["url"] for r in ch["unchanged"].collect()} == {"u1"}
        assert {r["url"] for r in ch["deleted"].collect()} == {"u3"}

    def test_incremental_plan_frontier(self, spark):
        pages = spark.createDataFrame(
            [("u1", bytearray(b"aaa")), ("u2", bytearray(b"bbb"))],
            schema="url string, html binary",
        )
        state = incr.with_content_hash(pages.where("url = 'u1'")).select(
            "url", "content_md5"
        )
        frontier = incr.incremental_plan(pages, state)
        assert {r["url"] for r in frontier.collect()} == {"u2"}


class TestMultimodal:
    def test_binary_metadata(self, spark):
        assets = spark.createDataFrame(
            [(1, bytearray(b"RIFFxxxx")), (2, bytearray(b"\x89PNGdata"))],
            schema="asset_id long, payload binary",
        )
        rows = {r["asset_id"]: r for r in mm.binary_metadata(assets).collect()}
        assert rows[1]["n_bytes"] == 8
        assert bytes(rows[1]["magic"]) == b"RIFF"

    def test_decode_features_deterministic(self, spark):
        assets = spark.createDataFrame(
            [(1, bytearray(b"payload-bytes-here"))],
            schema="asset_id long, payload binary",
        )
        a = mm.decode_features(assets).collect()[0]
        b = mm.decode_features(assets).collect()[0]
        assert a["features"] == b["features"]
        assert len(a["features"]) == mm.FEATURE_DIM

    def test_real_decoder_is_marked_stub(self, spark):
        assets = spark.createDataFrame(
            [(1, bytearray(b"x"))], schema="asset_id long, payload binary"
        )
        with pytest.raises(NotImplementedError):
            mm.decode_features(assets, real=True)
        with pytest.raises(NotImplementedError):
            mm.resize_assets(assets, real=True)

    def test_resize_shape_and_determinism(self, spark):
        # 200-byte payload -> fake 14x14 source, resized to 8x4 = 32 bytes
        assets = spark.createDataFrame(
            [(1, bytearray(bytes(range(200)))), (2, bytearray(b"tiny"))],
            schema="asset_id long, payload binary",
        )
        rows = {
            r["asset_id"]: r
            for r in mm.resize_assets(assets, dst_w=8, dst_h=4).collect()
        }
        r1 = rows[1]
        assert (r1["src_w"], r1["src_h"]) == (14, 14)
        assert (r1["dst_w"], r1["dst_h"]) == (8, 4)
        assert len(bytes(r1["resized"])) == 8 * 4
        again = {
            r["asset_id"]: r["resized_md5"]
            for r in mm.resize_assets(assets, dst_w=8, dst_h=4).collect()
        }
        assert again[1] == r1["resized_md5"] and again[2] == rows[2]["resized_md5"]
        # 4-byte payload: 2x2 source still resizes to the full target grid
        assert len(bytes(rows[2]["resized"])) == 8 * 4


class TestSearchFunnel:
    def test_date_filter_null_passes(self, spark):
        df = spark.createDataFrame(
            [(1, "2024-01-05"), (2, None), (3, "2025-01-01")],
            schema="id long, d string",
        ).withColumn("ts", F.col("d").cast("timestamp"))
        out = srch.date_range_filter(df, "ts", "2024-01-01", "2024-12-31")
        assert {r["id"] for r in out.collect()} == {1, 2}

    def test_phrase_filter_all_required(self, spark):
        df = spark.createDataFrame(
            [(1, "Spark and JOIN here"), (2, "only spark")],
            schema="doc_id long, text string",
        )
        out = srch.phrase_post_filter(df, "text", ["spark", "join"])
        assert [r["doc_id"] for r in out.collect()] == [1]


class TestFusedLinker:
    def test_fused_equals_two_stage(self, spark):
        from chunksilo_spark.operators import stage1_extract as s1
        from chunksilo_spark.operators import stage2_link as s2
        from chunksilo_spark.sources.corpus import aliases_df

        docs = s1.extract_documents(pages_df(spark, 80, partitions=4), partitions=4)
        bc = s2.build_alias_broadcast(spark, aliases_df(spark))
        two_stage = s2.link_mentions(s2.detect_mentions(docs), bc)
        fused = s2.detect_and_link(docs, bc)
        key = lambda r: (r["url"], r["m_start"], r["surface"], r["alias_id"])  # noqa: E731
        assert sorted(map(key, two_stage.collect())) == sorted(
            map(key, fused.collect())
        )


class TestGenerationDeterminism:
    def test_pages_df_partition_independent(self, spark):
        a = pages_df(spark, 50, partitions=2).select("url", "html", "lang")
        b = pages_df(spark, 50, partitions=7).select("url", "html", "lang")
        ra = sorted((r["url"], bytes(r["html"])) for r in a.collect())
        rb = sorted((r["url"], bytes(r["html"])) for r in b.collect())
        assert ra == rb


class TestStreamingWindowed:
    def test_stream_agg_matches_batch(self, spark, tmp_path):
        from chunksilo_spark.streaming.windowed import crawl_rate_per_site

        pages = pages_df(spark, 120, partitions=3)
        src = str(tmp_path / "pages_w")
        pages.write.mode("overwrite").parquet(src)

        batch = crawl_rate_per_site(spark.read.parquet(src))
        want = sorted(
            (str(r["window"]), r["site"], r["n_pages"], r["n_bytes"])
            for r in batch.collect()
        )

        stream = (
            spark.readStream.schema(
                "url string, warc_ts timestamp, html binary, "
                "text string, lang string"
            ).parquet(src)
        )
        out = str(tmp_path / "agg_out")
        q = (
            crawl_rate_per_site(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt_w"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            (str(r["window"]), r["site"], r["n_pages"], r["n_bytes"])
            for r in spark.read.parquet(out).collect()
        )
        # append mode emits only watermark-CLOSED windows: everything except
        # the window holding the max warc_ts (which the watermark never
        # passes without later data) — correct late-data semantics
        max_ts = pages.agg(F.max("warc_ts")).collect()[0][0]
        still_open = {
            (str(r["window"]), r["site"], r["n_pages"], r["n_bytes"])
            for r in batch.collect()
            if r["window"]["end"] > max_ts
        }
        assert sorted(set(want) - still_open) == got
        assert len(still_open) >= 1


class TestStatefulChangeDetection:
    def test_state_dedups_across_microbatches(self, spark, tmp_path):
        """Two micro-batches (maxFilesPerTrigger=1): unchanged urls in batch
        2 are suppressed by the per-url hash state; changed + new ones emit."""
        from chunksilo_spark.streaming.stateful import changed_pages_stream

        src = str(tmp_path / "pages_state")
        schema = (
            "url string, warc_ts timestamp, html binary, "
            "text string, lang string"
        )
        import datetime as dt

        def row(url, secs, payload):
            return (
                url,
                dt.datetime(2024, 1, 1) + dt.timedelta(seconds=secs),
                bytearray(payload),
                None,
                "en",
            )

        batch1 = spark.createDataFrame(
            [row("u1", 0, b"aaa"), row("u2", 1, b"bbb"), row("u3", 2, b"ccc")],
            schema,
        )
        batch2 = spark.createDataFrame(
            [row("u1", 10, b"aaa"),      # unchanged -> suppressed
             row("u2", 11, b"BBB2"),     # modified  -> emitted
             row("u4", 12, b"ddd")],     # new       -> emitted
            schema,
        )
        batch1.coalesce(1).write.mode("overwrite").parquet(src)
        batch2.coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = str(tmp_path / "changes_out")
        q = (
            changed_pages_stream(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt_state"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {(r["url"], r["content_md5"]) for r in spark.read.parquet(out).collect()}
        import hashlib

        md5 = lambda b: hashlib.md5(b).hexdigest()  # noqa: E731
        # u1 emitted once (batch1), u2 twice (changed), u3 once, u4 once
        assert got == {
            ("u1", md5(b"aaa")), ("u2", md5(b"bbb")), ("u2", md5(b"BBB2")),
            ("u3", md5(b"ccc")), ("u4", md5(b"ddd")),
        }


class TestStreamingIngest:
    def test_stream_matches_batch(self, spark, tmp_path):
        from chunksilo_spark.streaming.ingest import start_ingest
        from chunksilo_spark.operators.stage1_extract import extract_documents

        pages = pages_df(spark, 60, partitions=3)
        src = str(tmp_path / "pages_src")
        out = str(tmp_path / "stream_out")
        ckpt = str(tmp_path / "ckpt")
        pages.write.mode("overwrite").parquet(src)

        q = start_ingest(spark, src, out, ckpt, available_now=True)
        q.awaitTermination(120)

        stream_docs = spark.read.parquet(f"{out}/documents")
        batch_docs = extract_documents(spark.read.parquet(src), partitions=4)
        got = sorted(
            (r["url"], r["text"]) for r in stream_docs.where("ok").collect()
        )
        want = sorted(
            (r["url"], r["text"]) for r in batch_docs.where("ok").collect()
        )
        assert got == want

        # one lineage file per batch, from the footers of the batch's files
        lineage = spark.read.parquet(f"{out}/lineage")
        per_batch = {
            r["batch_id"]: r["n"]
            for r in stream_docs.groupBy("batch_id").count()
            .withColumnRenamed("count", "n").collect()
        }
        assert {
            r["batch_id"]: (r["stage"], r["n"])
            for r in lineage.groupBy("batch_id", "stage")
            .agg(F.sum("n_rows").alias("n")).collect()
        } == {b: (f"stream_batch_{b}", n) for b, n in per_batch.items()}

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        """foreachBatch is at-least-once: re-delivering the same batches
        (fresh checkpoint, same source and sink) must OVERWRITE the
        batch_id partitions, not append duplicates."""
        from chunksilo_spark.streaming.ingest import start_ingest

        pages = pages_df(spark, 30, partitions=2)
        src = str(tmp_path / "pages_src")
        out = str(tmp_path / "stream_out")
        pages.write.mode("overwrite").parquet(src)

        q = start_ingest(spark, src, out, str(tmp_path / "c1"),
                         available_now=True)
        q.awaitTermination(120)
        n1 = spark.read.parquet(f"{out}/documents").count()

        # replay: new checkpoint -> batch ids restart -> same partitions
        q = start_ingest(spark, src, out, str(tmp_path / "c2"),
                         available_now=True)
        q.awaitTermination(120)
        n2 = spark.read.parquet(f"{out}/documents").count()
        assert n1 == n2 == 30
        lineage = spark.read.parquet(f"{out}/lineage")
        assert lineage.agg(F.sum("n_rows")).first()[0] == 30


class TestRerank:
    def test_rerank_matches_python_oracle(self, spark):
        """w2's stub rerank kernel (sanctioned MockReranker analog) scores
        and orders exactly like the plain-python definition: per-term
        frequency-weighted overlap, desc score then id asc, cap k."""
        from chunksilo_spark.operators.search import rerank

        rows = [
            (1, "spark joins tables with spark speed"),
            (2, "window functions over tables"),
            (3, "spark spark spark joins joins"),
            (4, "nothing relevant here at all"),
            (5, "join table scan spark window"),
        ]
        q = "spark join window"
        df = spark.createDataFrame(rows, schema="doc_id long, text string")
        got = [
            (r["doc_id"], r["rerank_score"])
            for r in rerank(df, q, k=3).collect()
        ]

        def oracle(text):
            toks = text.lower().split()
            qt = q.lower().split()
            return round(sum(toks.count(t) for t in qt) / max(len(toks), 1) * 100.0, 6)

        want = sorted(
            ((d, oracle(t)) for d, t in rows),
            key=lambda x: (-x[1], x[0]),
        )[:3]
        assert got == want


class TestReviewRegressions:
    def test_lsh_topk_honors_id_col(self, spark, sf_dir):
        import chunksilo_spark.operators.similarity as sim

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.where("vec_id < 3")
        base = {
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in sim.lsh_topk(emb, q, dim=64, k=3).collect()
        }
        renamed = emb.withColumnRenamed("vec_id", "emb_id")
        got = {
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in sim.lsh_topk(
                renamed, renamed.where("emb_id < 3"), dim=64, k=3,
                id_col="emb_id",
            ).collect()
        }
        assert got == base and len(got) > 0

    def test_empty_alias_dictionary_yields_zero_links(self, spark):
        from chunksilo_spark.operators import stage1_extract as s1
        from chunksilo_spark.operators import stage2_link as s2
        from chunksilo_spark.operators.fused import fused_linked_triples
        from chunksilo_spark.sources.corpus import pages_df

        empty = spark.createDataFrame(
            [], "entity_id long, alias string, embedding array<float>"
        )
        bc = s2.build_alias_broadcast(spark, empty)
        pages = pages_df(spark, 10, partitions=2)
        assert fused_linked_triples(pages, bc).count() == 0
        docs = s1.extract_documents(pages, partitions=2)
        assert s2.link_mentions(s2.detect_mentions(docs), bc).count() == 0
        assert s2.detect_and_link(docs, bc).count() == 0


class TestMeanPooledEmbeddings:
    def test_matches_python_oracle(self, spark):
        from chunksilo_spark.operators.similarity import mean_pooled_embeddings

        rows = [
            (1, [1.0, 2.0, 3.0]),
            (1, [3.0, 2.0, 1.0]),
            (2, [0.5, -0.5, 4.0]),
        ]
        df = spark.createDataFrame(rows, "entity long, embedding array<float>")
        got = {
            (r["entity"], r["dim"]): r["mean_val"]
            for r in mean_pooled_embeddings(df, "entity").collect()
        }
        assert got == {
            (1, 0): 2.0, (1, 1): 2.0, (1, 2): 2.0,
            (2, 0): 0.5, (2, 1): -0.5, (2, 2): 4.0,
        }

    def test_partitioning_invariance(self, spark):
        from chunksilo_spark.operators.similarity import mean_pooled_embeddings

        rows = [(i % 5, [float(i), float(i * 2)]) for i in range(40)]
        df = spark.createDataFrame(rows, "entity long, embedding array<float>")
        a = sorted(tuple(r) for r in mean_pooled_embeddings(df, "entity").collect())
        b = sorted(
            tuple(r)
            for r in mean_pooled_embeddings(df.repartition(7), "entity").collect()
        )
        assert a == b
