"""End-to-end pipeline tests: byte-identity, P/R vs oracle, resume, skew.

The BASELINE invariants:
  * per-url byte-identical extracted text vs the reference oracle function;
  * triple set P/R >= 0.95 vs the single-node oracle run (expected 1.0);
  * killed-then-resumed run produces identical final tables;
  * hub-entity skew does not produce a straggler partition.
"""

import json

import pytest

from chunksilo_spark.plans.oracle import precision_recall, run_oracle
from chunksilo_spark.plans.pipeline import run_pipeline
from chunksilo_spark.sources.corpus import aliases_df, pages_df

N_PAGES = 300


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg"))
    pages = pages_df(spark, N_PAGES)
    aliases = aliases_df(spark)
    tables = run_pipeline(spark, pages, aliases, out, fingerprint="t1")
    return out, tables


@pytest.fixture(scope="module")
def oracle():
    return run_oracle(N_PAGES)


class TestByteIdentity:
    def test_extracted_text_byte_identical_per_url(self, pipeline_out, oracle):
        _, tables = pipeline_out
        got = {
            r["url"]: r["text"]
            for r in tables["documents"].select("url", "text").where("ok").collect()
        }
        want = {u: t for u, (t, _l) in oracle["documents"].items()}
        assert set(got) == set(want)
        mismatches = [u for u in want if got[u] != want[u]]
        assert mismatches == [], f"text differs for {mismatches[:3]}"

    def test_quarantine_matches_oracle(self, pipeline_out, oracle):
        _, tables = pipeline_out
        got = {r["url"] for r in tables["quarantine"].collect()}
        assert got == set(oracle["quarantine"])
        assert len(got) > 0  # fixture guarantees some bad-utf8 rows


class TestTriplePR:
    def test_precision_recall_ge_095(self, pipeline_out, oracle):
        _, tables = pipeline_out
        got = {
            (r["url"], r["subj_canon"], r["pred"], r["obj_canon"])
            for r in tables["triples"].collect()
        }
        p, r = precision_recall(got, oracle["triples"])
        assert len(oracle["triples"]) > 100  # fixture is non-trivial
        assert p >= 0.95 and r >= 0.95, f"P={p:.4f} R={r:.4f}"
        # we expect exact reproduction — flag silently-degraded kernels
        assert p == 1.0 and r == 1.0, f"P={p:.4f} R={r:.4f}"

    def test_nodes_edges_consistent(self, pipeline_out):
        _, tables = pipeline_out
        n_nodes = tables["nodes"].count()
        n_edges = tables["edges"].count()
        assert n_nodes > 0 and n_edges > 0
        # every edge endpoint is a node
        nodes = {r["canon_id"] for r in tables["nodes"].collect()}
        for r in tables["edges"].select("subj_canon_id", "obj_canon_id").collect():
            assert r["subj_canon_id"] in nodes and r["obj_canon_id"] in nodes


class TestResume:
    def test_resume_skips_and_reproduces(self, spark, pipeline_out, tmp_path):
        out, tables = pipeline_out
        # simulate a killed run: manifest says stage1-2 complete, stage3+ not
        with open(f"{out}/_manifest.json") as f:
            manifest = json.load(f)
        for stage in list(manifest["stages"]):
            if stage.startswith("stage3") or stage.startswith("stage4"):
                del manifest["stages"][stage]
        with open(f"{out}/_manifest.json", "w") as f:
            json.dump(manifest, f)

        before = {
            (r["url"], r["subj_canon"], r["pred"], r["obj_canon"])
            for r in tables["triples"].collect()
        }
        resumed = run_pipeline(
            spark, pages_df(spark, N_PAGES), aliases_df(spark), out,
            fingerprint="t1",
        )
        after = {
            (r["url"], r["subj_canon"], r["pred"], r["obj_canon"])
            for r in resumed["triples"].collect()
        }
        assert before == after

    def test_fingerprint_mismatch_recomputes(self, spark, pipeline_out):
        out, _ = pipeline_out
        from chunksilo_spark.sources.storage import TableStore

        store = TableStore(out)
        assert store.stage_complete("stage1_extract", "t1")
        assert not store.stage_complete("stage1_extract", "other-input")


class TestLineageAndSkew:
    def test_lineage_rows_cover_stages(self, spark, pipeline_out):
        _, tables = pipeline_out
        stages = {r["stage"] for r in tables["lineage"].select("stage").distinct().collect()}
        assert {"stage1_extract", "stage2_linked", "stage3_triples",
                "stage4_nodes", "stage4_edges"} <= stages

    def test_no_straggler_partition(self, spark, pipeline_out):
        """Hub entity (30% of docs) must not skew stage-1 partitions > 4x median
        (SURVEY §5.2 item 6) — url-hash repartitioning guarantees this."""
        _, tables = pipeline_out
        rows = [
            r["n_rows"]
            for r in tables["lineage"].where("stage = 'stage1_extract'").collect()
            if r["n_rows"] > 0
        ]
        assert rows
        rows.sort()
        median = rows[len(rows) // 2]
        assert max(rows) <= max(4 * median, 64), (max(rows), median)


def test_replace_crash_window_heals(spark, tmp_path):
    """A crash between the two renames inside TableStore.replace leaves the
    table displaced to .__old; the next read/exists must restore it."""
    import os
    import shutil

    from chunksilo_spark.sources.storage import TableStore

    store = TableStore(str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    store.write(df, "t")
    # simulate the crash window: final renamed away, staging lost
    final = store.path("t")
    os.replace(final, final + ".__old")
    assert not os.path.exists(final)
    assert store.exists("t")  # heals
    got = sorted(tuple(r) for r in store.read(spark, "t").collect())
    assert got == [(1, "a"), (2, "b")]
    # replace still works afterwards
    store.replace(store.read(spark, "t").where("id = 1"), "t")
    assert store.read(spark, "t").count() == 1
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_swap_lock_respected_and_stale_lock_healed(spark, tmp_path):
    """_heal must not rename .__old back while another process HOLDS the
    swap flock (a live writer is mid-swap); a lock file with no holder is
    a crashed writer (flocks die with the process) and healing proceeds
    immediately — and the lock file itself is never unlinked."""
    import fcntl
    import os
    import shutil
    import threading
    import time

    from chunksilo_spark.sources.storage import TableStore

    store = TableStore(str(tmp_path))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    store.write(df, "t")
    final = store.path("t")
    lock = final + ".__swap_lock"

    # live writer: a thread holds the flock for 0.4 s mid-"swap";
    # _heal must block on the same flock, then heal after release
    os.replace(final, final + ".__old")
    acquired = threading.Event()

    def hold():
        with open(lock, "w") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            acquired.set()
            time.sleep(0.4)

    t = threading.Thread(target=hold)
    t.start()
    assert acquired.wait(5)
    t0 = time.time()
    assert store.exists("t")  # blocks until the writer releases, then heals
    assert time.time() - t0 >= 0.25  # it actually waited on the flock
    t.join()
    assert os.path.exists(final)

    # crashed writer: the lock FILE exists but nobody holds the flock
    # (the OS released it at process death) -> heal immediately; the lock
    # file is deliberately left in place (unlinking would split the lock)
    os.replace(final, final + ".__old")
    with open(lock, "w") as f:
        f.write("99999")
    t0 = time.time()
    assert store.exists("t")
    assert time.time() - t0 < 0.2
    assert os.path.exists(final) and os.path.exists(lock)
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_exists_requires_success_marker_and_materialize_recomputes(
    spark, tmp_path
):
    """A marked-complete stage whose table was dropped must NOT resume from
    the missing table: exists() is format-checked and _materialize rebuilds
    (VERDICT r2 item 5 — no unconditional True left)."""
    import shutil

    from chunksilo_spark.plans.pipeline import _materialize
    from chunksilo_spark.sources.storage import TableStore

    store = TableStore(str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    builds = []

    def build():
        builds.append(1)
        return df

    out1 = _materialize(store, spark, "s1", "t", "fp", build, "id")
    assert out1.count() == 2 and builds == [1]
    # resume: marked + present -> no rebuild
    _materialize(store, spark, "s1", "t", "fp", build, "id")
    assert builds == [1]
    # drop the table but keep the manifest mark -> must rebuild
    shutil.rmtree(store.path("t"))
    assert not store.exists("t", spark)
    out3 = _materialize(store, spark, "s1", "t", "fp", build, "id")
    assert builds == [1, 1]
    assert out3.count() == 2
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_iceberg_exists_consults_catalog(spark, tmp_path):
    """The iceberg branch of exists() asks the session catalog instead of
    returning an unconditional True (format-agnostic logic; no iceberg jars
    needed for a negative lookup)."""
    from chunksilo_spark.sources.storage import TableStore

    store = TableStore(str(tmp_path), table_format="iceberg")
    assert store.exists("definitely_not_a_table_xyz", spark) is False
    assert store.exists("definitely_not_a_table_xyz") is False  # active session


# -- bookkeeping without Spark jobs: footer schema and footer lineage --------

STAGE_TABLES = {
    "stage1_extract": "documents",
    "stage1_chunk": "chunks",
    "stage1_quarantine": "quarantine",
    "stage2_mentions": "mentions",
    "stage2_linked": "linked",
    "stage3_raw_triples": "raw_triples",
    "stage3_canon": "canon_map",
    "stage3_triples": "triples",
    "stage4_nodes": "nodes",
    "stage4_edges": "edges",
}


def _last_job_id(spark) -> int:
    """Highest job id the status tracker has seen, after the listener bus
    has delivered every event posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(), default=-1)


def _oracle_lineage(spark, path: str, key: str) -> list[tuple]:
    """(part_id, n_rows, key_min, key_max) per file by a Spark aggregate:
    count and typed min/max cast to string, grouped by input file."""
    import re

    import pyspark.sql.functions as F

    rows = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(key).cast("string").alias("lo"),
            F.max(key).cast("string").alias("hi"),
        )
        .collect()
    )
    return sorted(
        (int(re.search(r"part-(\d+)", r["f"]).group(1)), r["n"], r["lo"],
         r["hi"])
        for r in rows
    )


def _lineage_case(spark, case: str):
    import pyspark.sql.functions as F

    if case == "string":
        df = spark.range(0, 300, numPartitions=3).select(
            F.concat(F.lit("https://x/"), F.col("id").cast("string"))
            .alias("url"),
            F.col("id"),
        )
        return df, "url"
    if case == "long":
        # partition 0 holds 8..18: typed max 18, string max "9"
        return spark.range(8, 31, numPartitions=2), "id"
    # two files: ids 0..27 and 28..55
    ids = spark.range(0, 56, numPartitions=2)
    if case == "long_string":
        # over parquet-java's 4,096-byte limit: the second file keeps no
        # min/max for the key
        url = F.when(F.col("id") == 55, F.lit("z" * 5000))
    else:  # the key is null in every row of the first file
        url = F.when(F.col("id") < 28, F.lit(None).cast("string"))
    url = url.otherwise(F.format_string("k%03d", F.col("id")))
    return ids.select(url.alias("url"), "id"), "url"


@pytest.mark.parametrize("case", ["string", "long", "long_string", "null_key"])
def test_footer_lineage_equals_spark_oracle(spark, tmp_path, case):
    """Lineage from the footers (no Spark job) equals a Spark aggregate per written
    file, for string and long keys, and for keys the footer has no stats
    for (a value over 4,096 bytes, an all-null file)."""
    import pyarrow.parquet as pq

    from chunksilo_spark.plans.lineage import record_lineage
    from chunksilo_spark.sources.storage import TableStore, part_files

    df, key = _lineage_case(spark, case)
    store = TableStore(str(tmp_path))
    store.write(df, "t")
    path = store.path("t")

    j0 = _last_job_id(spark)
    record_lineage(path, store.path("lineage"), "t", "s", key)
    assert _last_job_id(spark) == j0
    got = pq.read_table(store.path("lineage/t.parquet")).to_pylist()
    assert {r["stage"] for r in got} == {"s"}
    got = sorted(
        (r["part_id"], r["n_rows"], r["key_min"], r["key_max"]) for r in got
    )
    want = _oracle_lineage(spark, path, key)
    assert got == want
    assert len(want) == (3 if case == "string" else 2)

    def has_stats(f):
        meta = pq.read_metadata(f)
        col = meta.schema.names.index(key)
        return all(
            meta.row_group(g).column(col).statistics.has_min_max
            for g in range(meta.num_row_groups)
        )

    if case == "long":
        assert (0, 11, "8", "18") in got  # not the string order "10".."9"
    if case in ("long_string", "null_key"):
        # the fallback path ran: some file's footer has no min/max
        assert not all(has_stats(f) for f in part_files(path))


def test_table_store_read_uses_footer_schema(spark, pipeline_out, tmp_path):
    """TableStore.read plans every pipeline table, and an empty one, without
    a Spark job, with the schema Spark's own inference gives. A directory
    pyarrow wrote has no Spark schema in its footer and falls back to
    inference (which does run a job)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from chunksilo_spark.sources.storage import TableStore

    out, _ = pipeline_out
    store = TableStore(out)
    other = TableStore(str(tmp_path))
    other.write(
        spark.createDataFrame([], "id long, v string, xs array<double>"),
        "empty",
    )
    os.makedirs(other.path("arrow"))
    pq.write_table(
        pa.table({"id": [1, 2], "v": ["a", None]}),
        os.path.join(other.path("arrow"), "part-0.parquet"),
    )
    names = [t if t != "linked" else "linked_mentions"
             for t in STAGE_TABLES.values()]
    cases = [(store, t) for t in names] + [(other, "empty"), (other, "arrow")]
    for st, table in cases:
        j0 = _last_job_id(spark)
        schema = st.read(spark, table).schema
        jobs = _last_job_id(spark) - j0
        assert schema == spark.read.parquet(st.path(table)).schema, table
        assert jobs == (1 if table == "arrow" else 0), (table, jobs)
    assert other.read(spark, "empty").count() == 0
    assert sorted(tuple(r) for r in other.read(spark, "arrow").collect()) == [
        (1, "a"), (2, None)
    ]


def test_lineage_schema_matches_spark_read(spark, pipeline_out):
    """The pyarrow-written lineage files carry LINEAGE_SCHEMA's columns and
    types, so a schema-less Spark read of the directory infers exactly it."""
    from pyspark.sql.types import StructType

    from chunksilo_spark.plans.lineage import LINEAGE_SCHEMA

    out, tables = pipeline_out
    inferred = spark.read.parquet(f"{out}/lineage").schema
    assert inferred == StructType.fromDDL(LINEAGE_SCHEMA)
    assert tables["lineage"].schema == inferred


def test_rebuild_replaces_lineage(spark, tmp_path):
    """Rerunning the pipeline on the same directory with a new fingerprint
    rebuilds every stage; each table's lineage is replaced, not appended
    to, so the row count per stage is unchanged and each stage's n_rows
    sums to its table's row count."""
    import pyspark.sql.functions as F

    pages = pages_df(spark, 40, partitions=2)
    aliases = aliases_df(spark)
    out = str(tmp_path / "kg")

    def per_stage(lineage):
        return {
            r["stage"]: (r["parts"], r["rows"])
            for r in lineage.groupBy("stage")
            .agg(F.count(F.lit(1)).alias("parts"),
                 F.sum("n_rows").alias("rows"))
            .collect()
        }

    first = per_stage(
        run_pipeline(spark, pages, aliases, out, fingerprint="a")["lineage"]
    )
    tables = run_pipeline(spark, pages, aliases, out, fingerprint="b")
    second = per_stage(tables["lineage"])
    assert first == second
    for stage, table in STAGE_TABLES.items():
        assert second.get(stage, (0, 0))[1] == tables[table].count(), stage


@pytest.mark.parametrize("entry", ["run_pipeline", "apply_increment"])
def test_legacy_lineage_directory_is_converted(spark, tmp_path, entry):
    """A state directory whose lineage Spark appended (``part-*`` files,
    ``_SUCCESS``, ``.crc``; here with every row set twice, as a rebuild
    left it) is converted on the next resume or refresh: the old files are
    gone and each table's lineage sums to its row count, under the stage
    that last wrote it."""
    import os

    import pyspark.sql.functions as F

    from chunksilo_spark.plans.lineage import LINEAGE_SCHEMA
    from chunksilo_spark.plans.pipeline import apply_increment
    from chunksilo_spark.sources.storage import TableStore

    pages = pages_df(spark, 40, partitions=2)
    aliases = aliases_df(spark)
    out = str(tmp_path / "kg")
    tables = run_pipeline(spark, pages, aliases, out, fingerprint="a")
    lineage_dir = os.path.join(out, "lineage")
    want = sorted(
        tuple(r) for r in tables["lineage"].drop("written_at").collect()
    )
    old = spark.read.parquet(lineage_dir).collect()
    for name in os.listdir(lineage_dir):
        os.remove(os.path.join(lineage_dir, name))
    for _ in range(2):
        spark.createDataFrame(old, LINEAGE_SCHEMA).write.mode(
            "append"
        ).parquet(lineage_dir)
    assert any(n.startswith("part-") for n in os.listdir(lineage_dir))

    if entry == "run_pipeline":
        tables = run_pipeline(spark, pages, aliases, out, fingerprint="a")
        got = sorted(
            tuple(r) for r in tables["lineage"].drop("written_at").collect()
        )
        assert got == want
    else:
        apply_increment(spark, pages, aliases, out, fingerprint="b")
    names = os.listdir(lineage_dir)
    assert not [n for n in names if "part-" in n or "_SUCCESS" in n], names
    lineage = spark.read.parquet(lineage_dir)
    store = TableStore(out)
    for stage, table in STAGE_TABLES.items():
        table = "linked_mentions" if table == "linked" else table
        if entry == "apply_increment":
            stage = f"incr_{table}"
        n = lineage.where(F.col("stage") == stage).agg(F.sum("n_rows"))
        assert (n.first()[0] or 0) == store.read(spark, table).count(), stage
