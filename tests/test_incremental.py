"""Incremental ingest semantics (reference test_incremental_ingest.py
analog): a second pages snapshot with new/modified/deleted rows must be
classified exactly, and only the changed frontier may reach the expensive
stage-1 UDF."""

import pyspark.sql.functions as F

from chunksilo_spark.operators import incremental as incr
from chunksilo_spark.operators import stage1_extract as s1
from chunksilo_spark.sources.corpus import pages_df


ROW_LEVEL_AND_GLOBAL = (
    "documents", "chunks", "quarantine", "mentions", "linked_mentions",
    "raw_triples", "canon_map", "triples", "nodes", "edges",
)


def _assert_lineage_is_current(spark, out_dir):
    """After a refresh each table's lineage file describes the refreshed
    table: its rows are stage ``incr_<table>`` and their n_rows sum to the
    table's row count."""
    import pyarrow.parquet as pq

    from chunksilo_spark.sources.storage import TableStore

    store = TableStore(out_dir)
    for table in ROW_LEVEL_AND_GLOBAL:
        lin = pq.read_table(f"{out_dir}/lineage/{table}.parquet").to_pylist()
        assert {r["stage"] for r in lin} <= {f"incr_{table}"}, table
        n = sum(r["n_rows"] for r in lin)
        assert n == store.read(spark, table).count(), table


def _snapshots(spark):
    """snapshot1 = pages 0..199; snapshot2 = drop 3% (deleted), modify 5%
    (html perturbed), add 5% new (ids 200..209)."""
    p1 = pages_df(spark, 200, partitions=4)
    p2_base = pages_df(spark, 210, partitions=4)  # ids 0..209 (200.. are new)
    # deterministic classes keyed on a stable hash of url
    h = F.abs(F.xxhash64("url")) % 100
    deleted = (h < 3) & ~F.col("url").rlike("-20[0-9]$")
    modified = (h >= 3) & (h < 8) & ~F.col("url").rlike("-20[0-9]$")
    p2 = (
        p2_base.where(~deleted)
        .withColumn(
            "html",
            F.when(
                modified, F.concat(F.col("html"), F.lit(b"<p>edit</p>"))
            ).otherwise(F.col("html")),
        )
    )
    return p1, p2


class TestChangeClassification:
    def test_classes_are_exact(self, spark):
        p1, p2 = _snapshots(spark)
        state = incr.with_content_hash(p1).select("url", "content_md5")
        snap = incr.with_content_hash(p2).select("url", "content_md5")
        ch = incr.classify_changes(snap, state)

        new = {r["url"] for r in ch["new"].collect()}
        modified = {r["url"] for r in ch["modified"].collect()}
        deleted = {r["url"] for r in ch["deleted"].collect()}
        unchanged = {r["url"] for r in ch["unchanged"].collect()}

        p1_urls = {r["url"] for r in p1.select("url").collect()}
        p2_urls = {r["url"] for r in p2.select("url").collect()}

        assert new == p2_urls - p1_urls and len(new) == 10
        assert deleted == p1_urls - p2_urls and len(deleted) > 0
        assert modified and modified <= (p1_urls & p2_urls)
        # partition is exact: every snapshot url in exactly one class
        assert new | modified | unchanged == p2_urls
        assert not (new & modified) and not (modified & unchanged)

    def test_frontier_only_reaches_stage1(self, spark):
        p1, p2 = _snapshots(spark)
        state = incr.with_content_hash(p1).select("url", "content_md5")
        frontier = incr.incremental_plan(p2, state)
        n_frontier = frontier.count()
        ch = incr.classify_changes(
            incr.with_content_hash(p2).select("url", "content_md5"), state
        )
        assert n_frontier == ch["new"].count() + ch["modified"].count()
        # and the frontier is processable by stage 1 end-to-end
        docs = s1.extract_documents(frontier, partitions=4)
        assert docs.count() == n_frontier

    def test_incremental_equals_full_rebuild(self, spark):
        """Old docs minus deleted/modified, plus re-extracted frontier ==
        full extraction of snapshot 2 (the reference's invariant)."""
        p1, p2 = _snapshots(spark)
        docs1 = s1.extract_documents(p1, partitions=4)
        state = incr.with_content_hash(p1).select("url", "content_md5")
        snap_hashed = incr.with_content_hash(p2)
        ch = incr.classify_changes(
            snap_hashed.select("url", "content_md5"), state
        )
        keep = docs1.join(
            ch["deleted"].select("url").unionByName(ch["modified"].select("url")),
            "url",
            "left_anti",
        )
        frontier_docs = s1.extract_documents(
            incr.incremental_plan(p2, state), partitions=4
        ).drop("content_md5")
        merged = {
            (r["url"], r["text"])
            for r in keep.select("url", "text")
            .unionByName(frontier_docs.select("url", "text"))
            .collect()
        }
        full = {
            (r["url"], r["text"])
            for r in s1.extract_documents(p2, partitions=4)
            .select("url", "text")
            .collect()
        }
        assert merged == full


class TestApplyIncrement:
    def test_apply_equals_from_scratch(self, spark, tmp_path):
        """Reference index.py:1491-1585 end-to-end: build state from
        snapshot 1, apply snapshot 2 incrementally (delete vanished urls,
        re-ingest changed, rebuild global tables) -> every final table equals
        a from-scratch pipeline run on snapshot 2, row for row."""
        from chunksilo_spark.plans.pipeline import apply_increment, run_pipeline
        from chunksilo_spark.sources.corpus import aliases_df

        p1, p2 = _snapshots(spark)
        aliases = aliases_df(spark)
        incr_dir = str(tmp_path / "incr")
        scratch_dir = str(tmp_path / "scratch")

        run_pipeline(spark, p1, aliases, incr_dir, fingerprint="v1")
        got = apply_increment(spark, p2, aliases, incr_dir, fingerprint="v2")
        want = run_pipeline(spark, p2, aliases, scratch_dir, fingerprint="v2")

        def rows(df, cols):
            return sorted(
                (tuple(r) for r in df.select(*cols).collect()), key=repr
            )

        checks = {
            "documents": ["url", "content_md5", "text", "n_chars", "ok"],
            "chunks": ["url", "chunk_id", "text", "char_start", "char_end"],
            "quarantine": ["url", "error"],
            "linked": None,
            "raw_triples": None,
            "canon_map": None,
            "triples": None,
            "nodes": None,
            "edges": None,
        }
        for table, cols in checks.items():
            c = cols or sorted(want[table].columns)
            assert rows(got[table], c) == rows(want[table], c), table
        _assert_lineage_is_current(spark, incr_dir)

    def test_apply_after_kill_is_rerunnable(self, spark, tmp_path):
        """Re-applying a snapshot that a completed refresh already applied
        (same pages, new fingerprint) finds an empty frontier and still
        leaves every table equal to the from-scratch build. Nothing is
        killed here: both apply_increment calls run to completion. A
        refresh killed between two row-level replaces is ROADMAP item
        2 (a), which still needs its own test."""
        from chunksilo_spark.plans.pipeline import apply_increment, run_pipeline
        from chunksilo_spark.sources.corpus import aliases_df

        p1, p2 = _snapshots(spark)
        aliases = aliases_df(spark)
        incr_dir = str(tmp_path / "incr")
        scratch_dir = str(tmp_path / "scratch")
        run_pipeline(spark, p1, aliases, incr_dir, fingerprint="v1")

        # apply, then re-apply the SAME snapshot: the second pass sees an
        # all-unchanged frontier and must still rebuild the global tables
        # consistently
        apply_increment(spark, p2, aliases, incr_dir, fingerprint="v2")
        got = apply_increment(spark, p2, aliases, incr_dir, fingerprint="v2b")
        want = run_pipeline(spark, p2, aliases, scratch_dir, fingerprint="v2")

        for table in ("documents", "triples", "nodes", "edges"):
            a = sorted((tuple(r) for r in got[table].collect()), key=repr)
            b = sorted((tuple(r) for r in want[table].collect()), key=repr)
            assert a == b, table

    def test_refresh_detects_mentions_once(self, spark, tmp_path, monkeypatch):
        """The fresh mentions feed both the mentions table and the linker:
        the Python mention detector must run over the frontier once, not
        once per consumer. A pass-through mapInPandas after the detector
        counts every row it emits."""
        from chunksilo_spark.operators import stage2_link as s2
        from chunksilo_spark.plans.pipeline import apply_increment, run_pipeline
        from chunksilo_spark.sources.corpus import aliases_df

        aliases = aliases_df(spark)
        state = str(tmp_path / "s")
        run_pipeline(
            spark, pages_df(spark, 40, partitions=2), aliases, state,
            fingerprint="v1",
        )
        before = spark.read.parquet(f"{state}/mentions").count()

        seen = spark.sparkContext.accumulator(0)
        detect = s2.detect_mentions

        def counting(documents):
            def count(batches):
                for b in batches:
                    seen.add(len(b))
                    yield b

            out = detect(documents)
            return out.mapInPandas(count, out.schema)

        monkeypatch.setattr(s2, "detect_mentions", counting)
        got = apply_increment(
            spark, pages_df(spark, 60, partitions=2), aliases, state,
            fingerprint="v2",
        )
        added = got["mentions"].count() - before
        assert added > 0
        assert seen.value == added


class TestExtractGuards:
    def test_oversized_html_quarantined(self, spark):
        """Payloads over the size guard land in quarantine with a reason —
        bounded work per row, the reference per-file-timeout analog."""
        import chunksilo_spark.operators.stage1_extract as s1mod

        pages = spark.createDataFrame(
            [
                ("u-small", None, b"<p>tiny page</p>", None, "en"),
                ("u-big", None, b"<p>" + b"x" * 5000 + b"</p>", None, "en"),
            ],
            schema="url string, warc_ts timestamp, html binary, text string, lang string",
        )
        docs = s1mod.extract_documents(pages, partitions=2, max_html_bytes=1000)
        q = {r["url"]: r["error"] for r in s1mod.quarantine(docs).collect()}
        assert set(q) == {"u-big"} and "too large" in q["u-big"]
        ok = {r["url"] for r in docs.where("ok").collect()}
        assert ok == {"u-small"}

    def test_hung_row_hits_wall_clock_quarantine(self, spark):
        """A NON-throwing hang (pathological entity-dense markup driving the
        pure-Python parser loop for seconds) breaches the per-row wall-clock
        deadline and lands in quarantine with error='timeout: ...' while the
        rest of the batch completes (reference 300 s/file kill,
        index.py:584-602 / cfgload.py:76-79)."""
        import time

        import chunksilo_spark.operators.stage1_extract as s1mod

        slow = ("<p>" + "&amp; word " * 1_500_000 + "</p>").encode()
        pages = spark.createDataFrame(
            [
                ("u-slow", None, slow, None, "en"),
                ("u-fast", None, b"<p>quick page</p>", None, "en"),
            ],
            schema=(
                "url string, warc_ts timestamp, html binary, "
                "text string, lang string"
            ),
        )
        t0 = time.time()
        docs = s1mod.extract_documents(
            pages, partitions=1, max_html_bytes=100_000_000, row_timeout_s=0.1
        )
        q = {r["url"]: r["error"] for r in s1mod.quarantine(docs).collect()}
        wall = time.time() - t0
        assert set(q) == {"u-slow"} and q["u-slow"].startswith("timeout:")
        ok = {r["url"] for r in docs.where("ok").collect()}
        assert ok == {"u-fast"}
        # the guard fired promptly; without it this page parses for seconds
        assert wall < 30.0


class TestStreamingMaintenance:
    def test_streamed_deltas_equal_batch_rebuild(self, spark, tmp_path):
        """Two streamed micro-batches (new pages + re-crawled modified
        pages) maintained via apply_increment in delta mode produce the
        same final tables as one batch pipeline over the merged corpus."""
        import pyspark.sql.functions as F

        from chunksilo_spark.plans.pipeline import run_pipeline
        from chunksilo_spark.sources.corpus import aliases_df
        from chunksilo_spark.streaming.ingest import (
            start_incremental_maintenance,
        )

        aliases = aliases_df(spark)
        tables_dir = str(tmp_path / "tables")
        scratch_dir = str(tmp_path / "scratch")
        stream_dir = str(tmp_path / "incoming")
        ckpt = str(tmp_path / "ckpt")

        base = pages_df(spark, 40, partitions=2)
        run_pipeline(spark, base, aliases, tables_dir, fingerprint="v1")

        # delta 1: pages 40..59 (new) + 3 re-crawled pages with edits
        all60 = pages_df(spark, 60, partitions=2)
        recrawl = base.where(F.abs(F.xxhash64("url")) % 13 == 0).withColumn(
            "html", F.concat(F.col("html"), F.lit(b"<p>recrawled</p>"))
        )
        d1 = all60.where(F.col("url").rlike("-[45][0-9]$")).unionByName(recrawl)
        d1.coalesce(1).write.mode("append").parquet(stream_dir)
        # delta 2: pages 60..79 (new)
        all80 = pages_df(spark, 80, partitions=2)
        d2 = all80.where(F.col("url").rlike("-[67][0-9]$"))
        d2.coalesce(1).write.mode("append").parquet(stream_dir)

        q = start_incremental_maintenance(
            spark, stream_dir, tables_dir, ckpt, aliases, available_now=True
        )
        q.awaitTermination(600)

        # batch reference: merged corpus = all80 with the recrawled edits
        merged = all80.join(
            recrawl.select("url"), "url", "left_anti"
        ).unionByName(recrawl)
        want = run_pipeline(spark, merged, aliases, scratch_dir, fingerprint="m")

        from chunksilo_spark.sources.storage import TableStore

        store = TableStore(tables_dir)
        for table in ("documents", "triples", "nodes", "edges"):
            a = sorted(
                (tuple(r) for r in store.read(spark, table).collect()), key=repr
            )
            b = sorted((tuple(r) for r in want[table].collect()), key=repr)
            assert a == b, table
        _assert_lineage_is_current(spark, tables_dir)
