#!/usr/bin/env python3
"""Benchmark for the KG pipeline: fused build, build/refresh/serve, and
distributed canonicalization, each on seeded inputs, on ``local[nproc]``.

    python3 kgbench/run.py --workload build_scale --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (spans the benchmark
puts around calls into each layer, plus Spark's event log). Every output is
checked against a computation made apart from the program (see check.py);
a wrong output makes ``correct`` false and the exit code 1.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import check  # noqa: E402
from spans import (  # noqa: E402
    ENGINE_FIELDS, Tracer, become_subreaper, engine_metrics, tree_cpu_s,
    tree_pids, uncovered_share, worker_hwm_mb,
)

# -- sizes -------------------------------------------------------------------
FUSED_PAGES = 8_000         # ~4 s of fused job on local[4]
KG_PAGES = 400              # staged build is per-stage-overhead bound
CANON_SURFACES = 5_000
SETUP_REPS = 2              # set-ups per run; setup_s is their median
WARM_PAGES = 100            # warm-up slice for the Python kernels
DRIVER_MEM = "3g"           # JVM heap: fits a 15 GB host beside 4 workers
QUERY_MIX = dict(n_lookup=6, n_bgp=5, n_path=1, n_related=1, n_search=1)
SLOW_QUERIES = ("related_entities", "run_search")  # 2-4 s each
PATH_DEPTH = 4
RELATED_K = 10


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- input staging (the program receives only these tables) -----------------

def write_pages(path: str, pages: list[dict], files: int = 16) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for k in range(files):
        sl = pages[k::files]
        pq.write_table(pa.table({
            "url": pa.array([p["url"] for p in sl], pa.string()),
            "warc_ts": pa.array([p["ts"] * 1_000_000 for p in sl],
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array([p["html"] for p in sl], pa.binary()),
            "text": pa.array([None] * len(sl), pa.string()),
            "lang": pa.array([p["lang"] for p in sl], pa.string()),
        }), os.path.join(path, f"part-{k:03d}.parquet"))


def write_aliases(path: str, pool) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen.alias_rows(pool)
    os.makedirs(path)
    pq.write_table(pa.table({
        "entity_id": pa.array([r[0] for r in rows], pa.int64()),
        "alias": pa.array([r[1] for r in rows], pa.string()),
        "embedding": pa.array([r[2] for r in rows], pa.list_(pa.float32())),
    }), os.path.join(path, "part-000.parquet"))


# -- the run context -----------------------------------------------------------

class Run:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.cores = nproc()
        self.spark = None
        self.tracer = Tracer(enabled=bool(args.trace))
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}
        self.excl_wall = self.excl_cpu = 0.0
        self.env: dict = {}

    def session(self):
        from chunksilo_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
            self.spark = self.tracer.spark = None
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"kgbench_{self.args.workload}", cores=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark
        if not self.env:
            self.env = environment(self.spark)
        return self.spark

    def setup(self, load, warm) -> float:
        """SETUP_REPS times: fresh session -> inputs loaded -> warm-ups;
        the first repetition also pays the JVM launch. -> median wall."""
        walls = []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.session()
            self.inputs = load(self.spark)
            warm(self.spark, self.inputs)
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls)

    def op(self, name: str, fn, *a, **kw):
        """One attempted operation: a call into the program, timed."""
        self.attempted += 1
        with self.tracer.span(name) as rec:
            try:
                return fn(*a, **kw)
            except Exception:  # a failed operation is counted, not fatal
                self.failed += 1
                rec["failed"] = True
                print(f"operation {name} failed:", file=sys.stderr)
                traceback.print_exc()
                return None

    def expect(self, errs: list[str]) -> None:
        self.errors.extend(errs)

    def excluded(self, fn, *a, **kw):
        """Run benchmark-side work (output checks, untimed warm-ups) inside a
        round without charging its wall or CPU to the round."""
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            with self.tracer.span(f"bench.{getattr(fn, '__name__', 'check')}"):
                return fn(*a, **kw)
        finally:
            self.excl_wall += time.perf_counter() - t0
            self.excl_cpu += tree_cpu_s() - c0


def rounds(run: Run, seconds: float, body) -> list[dict]:
    """Whole rounds until ``seconds`` of measuring have passed (at least
    one); each round records its wall and process-tree CPU."""
    out, t_end = [], time.perf_counter() + seconds
    while not out or time.perf_counter() < t_end:
        run.excl_wall = run.excl_cpu = 0.0
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with run.tracer.span("round"):
            info = body(len(out)) or {}
        info.update(wall=time.perf_counter() - t0 - run.excl_wall,
                    cpu=tree_cpu_s() - c0 - run.excl_cpu, rss=worker_hwm_mb())
        out.append(info)
    return out


def e2e(setup_s, items, rs: list[dict], calls_ms: list[float]) -> dict:
    med = statistics.median
    return {
        "setup_s": (setup_s, "s"),
        "items_per_s": (items / med([r["build"] for r in rs]), "items/s"),
        "round_s": (med([r["wall"] for r in rs]), "s"),
        "call_p50_ms": (med(calls_ms), "ms"),
        "cpu_s": (med([r["cpu"] for r in rs]), "s"),
        "worker_rss_mb": (max(r["rss"] for r in rs), "MB"),
    }


# -- the fused job ---------------------------------------------------------------

def fused_job(spark, pages, alias_df, cores, tr=None):
    """bench.py's ``_pipeline_job`` composition: fused extract -> link ->
    triples, distinct norms -> canon_map (local path at dictionary size),
    broadcast rewrite to canonical ids. With a tracer, each layer is
    forced and timed on its own."""
    from pyspark import StorageLevel

    from chunksilo_spark.operators import fused as fz
    from chunksilo_spark.operators import stage2_link as s2
    from chunksilo_spark.operators.canon import canon_map, normalize_column

    def span(name):
        return tr.span(name) if tr else contextlib.nullcontext()

    with span("stage2_link.build_alias_broadcast"):
        bc = s2.build_alias_broadcast(spark, alias_df)
    fused = fz.fused_linked_triples(pages, bc).persist(StorageLevel.MEMORY_AND_DISK)
    rows = None
    if tr:
        with span("fused.fused_linked_triples"):
            rows = fused.count()
    surfaces = fz.distinct_norms(fused).unionByName(
        normalize_column(alias_df, "alias")).distinct()
    if tr:
        with span("fused.distinct_norms"):
            surfaces = spark.createDataFrame(surfaces.toPandas(), "norm string")
    with span("canon.canon_map"):
        canon = canon_map(surfaces, partitions=max(8, cores // 2))
        if tr:
            canon = canon.localCheckpoint()
    with span("fused.canonical_from_fused"):
        out = fz.canonical_from_fused(fused, canon).select(
            "url", "subj_canon_id", "subj_canon", "pred", "obj_canon_id",
            "obj_canon").toPandas()
    fused.unpersist()
    return out, rows


# -- workload: kg_lifecycle ----------------------------------------------------

ROW_LEVEL = ("documents", "chunks", "quarantine", "mentions", "linked_mentions",
             "raw_triples")


def _duck(state: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"create view {t} as select * from read_parquet("
                    f"'{os.path.join(state, t)}/*.parquet')")
    return con


def check_state(run: Run, state: str, pages, pool) -> None:
    con = _duck(state, ("documents", "triples", "edges"))
    try:
        q = con.execute
        run.expect(check.check_urls([r[0] for r in q("select url from documents").fetchall()], pages))
        run.expect(check.check_triples(q(
            "select url, subj_canon_id, subj_canon, pred, obj_canon_id, obj_canon "
            "from triples").fetchall(), pages, pool))
        run.expect(check.check_edges(q(
            "select subj_canon, pred, obj_canon, support, n_urls from edges").fetchall(),
            pages, pool))
    finally:
        con.close()


def kg_lifecycle(run: Run) -> dict:
    from chunksilo_spark.operators import incremental as incr
    from chunksilo_spark.operators import stage1_extract as s1
    from chunksilo_spark.plans import kg_api, search_api
    from chunksilo_spark.plans.pipeline import apply_increment, run_pipeline

    seed, tr = run.args.seed, run.tracer
    pool = gen.entity_pool(seed)
    pages1 = gen.snapshot(seed, list(range(KG_PAGES)), pool)
    ids2, versions = gen.delta(seed, KG_PAGES)
    pages2 = gen.snapshot(seed, ids2, pool, versions, universe=KG_PAGES)
    for name, pg in (("pages1", pages1), ("pages2", pages2)):
        write_pages(os.path.join(run.work, name), pg, files=8)
    write_aliases(os.path.join(run.work, "aliases"), pool)
    qs = gen.queries(seed, pool, **QUERY_MIX)
    state = os.path.join(run.work, "state")

    def load(spark):
        return tuple(spark.read.parquet(os.path.join(run.work, n))
                     for n in ("pages1", "pages2", "aliases"))

    def warm(spark, inp):
        # one Python pass: starts the workers and the extract kernel
        s1.extract_documents(inp[0].limit(WARM_PAGES)).write.format(
            "noop").mode("overwrite").save()

    setup_s = run.setup(load, warm)
    p1, p2, al = run.inputs
    spark = run.spark
    calls: list[float] = []  # query latencies, ms
    per_type: dict[str, list[float]] = {}

    def query(kind, prm, nodes, edges, docs, chunks, ids_of):
        if kind == "lookup_neighborhood":
            look = kg_api.entity_lookup(nodes, prm["surface"]).collect()
            ids = [r["canon_id"] for r in look[:1]]
            return look, kg_api.neighborhood(edges, ids).collect()
        if kind == "answer_bgp":
            return kg_api.answer_bgp(
                edges, [("?a", prm["p1"], "?b"), ("?b", prm["p2"], "?c")],
                select=["a", "b", "c"]).collect()
        if kind == "property_path":
            return kg_api.property_path(edges, prm["pred"], max_depth=PATH_DEPTH).collect()
        if kind == "related_entities":
            return kg_api.related_entities(edges, ids_of(prm["surface"]), k=RELATED_K).collect()
        return search_api.run_search(docs, chunks, prm["query"])

    def body(_i):
        shutil.rmtree(state, ignore_errors=True)
        t0 = time.perf_counter()
        tabs = run.op("pipeline.run_pipeline", run_pipeline, spark, p1, al, state,
                      fingerprint="s1")
        build = time.perf_counter() - t0
        if tabs is None:
            return {"build": build}
        run.excluded(check_state, run, state, pages1, pool)
        if run.args.trace:
            run.excluded(_build_layers, run, state, pages1, pages2)
            with tr.span("incremental.change_log"):
                log = incr.change_log(
                    incr.with_content_hash(p2).select("url", "content_md5"),
                    spark.read.parquet(os.path.join(state, "documents"))
                    .select("url", "content_md5")).groupBy("change").count().collect()
            classes = {r["change"]: r["count"] for r in log}
            run.layer["incremental.frontier_pages"] = classes.get("new", 0) + classes.get("modified", 0)
        t1 = time.perf_counter()
        tabs = run.op("pipeline.apply_increment", apply_increment, spark, p2, al,
                      state, "s2")
        refresh = time.perf_counter() - t1
        if tabs is None:
            return {"build": build}
        run.excluded(check_state, run, state, pages2, pool)
        if run.args.trace:
            run.excluded(_refresh_layers, run, state)
        nodes, edges = tabs["nodes"], tabs["edges"]
        docs, chunks = tabs["documents"], tabs["chunks"]
        con = _duck(state, ("nodes", "edges", "chunks", "documents"))
        seeds = {}

        def ids_of(surface):
            if surface not in seeds:
                seeds[surface] = [r[0] for r in check.expect_lookup(con, surface)[:1]]
            return seeds[surface]

        fast = [(kind, prm) for kind, prm in qs if kind not in SLOW_QUERIES]

        def warm_queries():
            for kind, prm in qs:
                if kind == "related_entities":
                    ids_of(prm["surface"])
            # the sub-second queries only: a warm-up of the 2-4 s PPR and
            # search calls would cost as much as timing them
            for kind, prm in fast:
                query(kind, prm, nodes, edges, docs, chunks, ids_of)

        run.excluded(warm_queries)
        results = []
        # the whole mix once, then the sub-second queries again: their
        # latencies hold the median, and more of them steady it
        for kind, prm in qs + fast:
            t = time.perf_counter()
            res = run.op(f"query.{kind}", query, kind, prm, nodes, edges, docs, chunks, ids_of)
            ms = (time.perf_counter() - t) * 1e3
            calls.append(ms)
            per_type.setdefault(kind, []).append(ms)
            results.append((kind, prm, res))
        for kind, prm, res in results:
            if res is not None:
                run.excluded(lambda: run.expect(check_query(con, kind, prm, res, ids_of)))
        con.close()
        return {"build": build, "refresh": refresh}

    rs = rounds(run, 0 if run.args.trace else run.args.seconds, body)
    if run.args.trace:
        run.layer["pipeline.run_pipeline_s"] = rs[0]["build"]
        run.layer["pipeline.apply_increment_s"] = rs[0].get("refresh", 0.0)
        names = {"lookup_neighborhood": "kg_api.lookup_neighborhood",
                 "answer_bgp": "kg_api.answer_bgp", "property_path": "kg_api.property_path",
                 "related_entities": "kg_api.related_entities",
                 "run_search": "search_api.run_search"}
        for kind, xs in per_type.items():
            run.layer[f"{names[kind]}_ms"] = statistics.median(xs)
        _storage_layers(run, state, len(pages2))
        run.layer["trace.whole_round_s"] = rs[0]["wall"]
        return {}
    return e2e(setup_s, KG_PAGES, rs, calls)


def _url_rows(con, urls) -> int:
    import pyarrow as pa

    con.register("sel", pa.table({"url": pa.array(sorted(urls), pa.string())}))
    return sum(con.execute(f"select count(*) from {t} semi join sel using (url)")
               .fetchone()[0] for t in ROW_LEVEL)


def _build_layers(run: Run, state: str, pages1, pages2) -> None:
    """Per-stage walls from the program's manifest, the linker's useful
    ratio, and the row-level rows of urls the delta removes or rewrites."""
    with open(os.path.join(state, "_manifest.json")) as f:
        for st, ent in json.load(f)["stages"].items():
            run.layer[f"pipeline.{st}_s"] = ent.get("wall_s", 0.0)
    con = _duck(state, ROW_LEVEL)
    try:
        m = con.execute("select count(*) from mentions").fetchone()[0]
        lk = con.execute("select count(*) from linked_mentions").fetchone()[0]
        run.layer["stage2_link.linked_per_mention"] = lk / m if m else 0.0
        new = {p["url"]: p["html"] for p in pages2}
        old = {p["url"]: p["html"] for p in pages1}
        run.fresh_urls = {u for u, h in new.items() if old.get(u) != h}
        run.gone_rows = _url_rows(con, {u for u, h in old.items() if new.get(u) != h})
    finally:
        con.close()


def _refresh_layers(run: Run, state: str) -> None:
    """Rows written into the row-level tables (each is rewritten in full)
    per row the delta changed (rows removed plus rows added)."""
    con = _duck(state, ROW_LEVEL)
    try:
        written = sum(con.execute(f"select count(*) from {t}").fetchone()[0]
                      for t in ROW_LEVEL)
        changed = run.gone_rows + _url_rows(con, run.fresh_urls)
    finally:
        con.close()
    run.layer["pipeline.rows_rewritten_per_changed_row"] = written / changed if changed else 0.0


def _storage_layers(run: Run, state: str, n_pages: int) -> None:
    size = files = 0
    for d, _dirs, fs in os.walk(state):
        for f in fs:
            size += os.path.getsize(os.path.join(d, f))
            files += 1
    run.layer["storage.state_bytes"] = size
    run.layer["storage.files"] = files
    run.layer["storage.state_bytes_per_page"] = size / n_pages
    con = _duck(state, ("lineage",))
    run.layer["lineage.rows"] = con.execute("select count(*) from lineage").fetchone()[0]
    con.close()


def check_query(con, kind, prm, res, ids_of) -> list[str]:
    bad = [f"query {kind} {prm} differs from DuckDB"]
    if kind == "lookup_neighborhood":
        look, nb = res
        want = check.expect_lookup(con, prm["surface"])
        got = [(r["canon_id"], r["canon_surface"], r["n_mentions"], r["n_urls"]) for r in look]
        ids = [r[0] for r in want[:1]]
        gn = sorted((r["subj_canon_id"], r["pred"], r["obj_canon_id"], r["support"], r["role"])
                    for r in nb)
        return [] if got == want and gn == sorted(check.expect_neighborhood(con, ids)) else bad
    if kind == "answer_bgp":
        got = sorted(tuple(r) for r in res)
        return [] if got == sorted(check.expect_bgp(con, prm["p1"], prm["p2"])) else bad
    if kind == "property_path":
        got = sorted((r["src"], r["dst"], r["dist"]) for r in res)
        return [] if got == sorted(check.expect_path(con, prm["pred"], PATH_DEPTH)) else bad
    if kind == "related_entities":
        got = [(r["node"], r["rank"]) for r in res]
        want = check.expect_ppr(con, ids_of(prm["surface"]), RELATED_K)
        return [] if check.same_ranking(got, want) else bad
    # run_search: every returned chunk is a stored chunk of its url, scores
    # descend, matched files are crawled urls
    scores = [c["score"] for c in res["chunks"]]
    ok = scores == sorted(scores, reverse=True)
    for c in res["chunks"]:
        ok &= con.execute("select count(*) from chunks where url = ? and text = ?",
                          [c["location"]["uri"], c["text"]]).fetchone()[0] > 0
    for m in res["matched_files"]:
        ok &= con.execute("select count(*) from documents where url = ?",
                          [m["uri"]]).fetchone()[0] > 0
    return [] if ok else bad


# -- workload: build_scale ---------------------------------------------------------

def canon_layered(spark, surfaces, tr) -> dict:
    """canon_map's distributed composition, each layer forced and timed."""
    from pyspark.sql import functions as F

    from chunksilo_spark.checkpointing import cut_lineage
    from chunksilo_spark.operators import canon as c

    out = {}
    with tr.span("canon.lsh_bands"):
        bands = cut_lineage(c.lsh_bands(surfaces, "norm").repartition(16, "band_key"))
        out["canon.band_rows"] = bands.count()
    verts = cut_lineage(bands.select("nid", "norm").distinct())
    with tr.span("canon.candidate_pairs"):
        pairs = cut_lineage(c.candidate_pairs(bands))
        out["canon.candidate_pairs"] = pairs.count()
    with tr.span("canon.verify_pairs"):
        edges = cut_lineage(c.verify_pairs(pairs))
        out["canon.verified_edges"] = edges.count()
    with tr.span("canon.connected_components"):
        labels = c.connected_components(verts.select("nid"), edges, 20, 16)
        labels.count()
    with tr.span("canon.join_back"):
        wc = verts.join(labels, "nid")
        reps = wc.groupBy("component").agg(F.min("norm").alias("canon_surface"))
        wc.join(reps, "component").select(
            "norm", F.col("component").alias("canon_id"), "canon_surface").toPandas()
    cand = out["canon.candidate_pairs"]
    out["canon.verified_per_candidate"] = out["canon.verified_edges"] / cand if cand else 0.0
    return out


def build_scale(run: Run) -> dict:
    """Two build phases per round: the fused job over the staged pages
    (Python-kernel throughput; canon takes its local path), then
    distributed canonicalization of the alias-surface set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chunksilo_spark.operators import stage1_extract as s1
    from chunksilo_spark.operators.canon import canon_map

    seed = run.args.seed
    pool = gen.entity_pool(seed)
    pages = gen.snapshot(seed, list(range(FUSED_PAGES)), pool)
    write_pages(os.path.join(run.work, "pages"), pages)
    write_aliases(os.path.join(run.work, "aliases"), pool)
    norms, label = gen.canon_surfaces(seed, CANON_SURFACES)
    for name, vals in (("surfaces", norms),
                       # warm-up on the hub cluster: a star, CC converges fast
                       ("hub", [n for n, c in zip(norms, label) if c == 0][:50])):
        os.makedirs(os.path.join(run.work, name))
        pq.write_table(pa.table({"norm": pa.array(vals, pa.string())}),
                       os.path.join(run.work, name, "part-000.parquet"))
    expected = check.union_find_components(norms)

    def load(spark):
        return tuple(spark.read.parquet(os.path.join(run.work, n))
                     for n in ("pages", "aliases", "surfaces", "hub"))

    def warm(spark, inp):
        # one Python pass: starts the workers and the extract kernel
        s1.extract_documents(inp[0].limit(WARM_PAGES)).write.format(
            "noop").mode("overwrite").save()

    setup_s = run.setup(load, warm)
    pg, al, surfaces, hub = run.inputs
    # the plan-shape warm-ups run once, after the timed set-ups: their many
    # small jobs would double the cost of every set-up repetition
    fused_job(run.spark, pg.limit(WARM_PAGES), al, run.cores)
    canon_map(hub, auto_local=False).write.format("noop").mode("overwrite").save()
    calls: list[float] = []

    def canon_call():
        return canon_map(surfaces, auto_local=False).select(
            "norm", "canon_id", "canon_surface").toPandas()

    def body(_i):
        t0 = time.perf_counter()
        res = run.op("fused_build", fused_job, run.spark, pg, al, run.cores)
        build = time.perf_counter() - t0
        t1 = time.perf_counter()
        cm = run.op("canon.canon_map_distributed", canon_call)
        calls.extend([build * 1e3, (time.perf_counter() - t1) * 1e3])
        if res is not None:
            run.excluded(lambda: run.expect(check.check_triples(
                res[0].itertuples(index=False, name=None), pages, pool)))
        if cm is not None:
            run.excluded(lambda: run.expect(check.check_canon(
                list(cm.itertuples(index=False, name=None)), expected)))
        return {"build": build}

    if run.args.trace:
        rs = rounds(run, 0, body)
        t = run.tracer
        with t.span("round.layered") as rec:
            res = run.op("fused_build.layered", fused_job, run.spark, pg, al,
                         run.cores, t)
            lay = run.op("canon.layered", canon_layered, run.spark, surfaces, t)
        run.layer["fused.fused_linked_triples_rows"] = res[1] if res else 0
        run.layer.update(lay or {})
        run.layer["trace.whole_round_s"] = rs[0]["wall"]
        run.layer["trace.layered_round_s"] = rec["end"] - rec["start"]
        return {}
    rs = rounds(run, run.args.seconds, body)
    return e2e(setup_s, FUSED_PAGES, rs, calls)


WORKLOADS = {"build_scale": build_scale, "kg_lifecycle": kg_lifecycle}

# span name -> per-layer metric name
LAYER_SPANS = {
    "session.get_spark": "session.get_spark_s",
    "stage2_link.build_alias_broadcast": "stage2_link.build_alias_broadcast_s",
    "fused.fused_linked_triples": "fused.fused_linked_triples_s",
    "fused.distinct_norms": "fused.distinct_norms_s",
    "fused.canonical_from_fused": "fused.canonical_from_fused_s",
    "canon.canon_map": "canon.canon_map_s",
    "canon.canon_map_distributed": "canon.canon_map_distributed_s",
    "incremental.change_log": "incremental.change_log_s",
    "canon.lsh_bands": "canon.lsh_bands_s",
    "canon.candidate_pairs": "canon.candidate_pairs_s",
    "canon.verify_pairs": "canon.verify_pairs_s",
    "canon.connected_components": "canon.connected_components_s",
    "canon.join_back": "canon.join_back_s",
}


def phase_of(span: str) -> str | None:
    """Engine-metric phase of a span: the refresh, the query loop, or the
    build work; set-up and the benchmark's own warm-ups and checks are
    left out."""
    if span.startswith("query."):
        return "serve"
    if span in ("pipeline.apply_increment", "incremental.change_log"):
        return "refresh"
    if span == "session.get_spark" or span.startswith("bench."):
        return None
    return "build"


def layer_report(run: Run, log_dir: str | None) -> dict:
    t = run.tracer
    for span, metric in LAYER_SPANS.items():
        walls = t.walls(span)
        if span == "session.get_spark":
            run.layer[metric] = statistics.median(walls)
        else:
            run.layer[metric] = walls[-1] if walls else 0.0
    if log_dir:
        eng = engine_metrics(log_dir)
        for phase in ("build", "refresh", "serve"):
            ms = [m for sp, m in eng.items() if phase_of(sp) == phase]
            for k in ENGINE_FIELDS:
                vals = [m[k] for m in ms]
                run.layer[f"spark.{phase}.{k}"] = (
                    max(vals, default=0.0) if k == "task_skew" else sum(vals))
        for kind in ("lookup_neighborhood", "answer_bgp", "property_path",
                     "related_entities", "run_search"):
            run.layer[f"query.{kind}.jobs"] = eng.get(f"query.{kind}", {}).get("jobs", 0)
        run.layer["canon.cc_jobs"] = eng.get("canon.connected_components", {}).get("jobs", 0)
    # benchmark-side spans count as covered: the timed wall excludes them
    layers = set(LAYER_SPANS) - {"session.get_spark"} | {
        s["name"] for s in t.spans
        if s["name"].startswith(("query.", "pipeline.", "bench."))}
    outer = "round.layered" if any(s["name"] == "round.layered" for s in t.spans) else "round"
    run.layer["trace.uncovered_share"] = uncovered_share(t.spans, outer, layers)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        catalog = json.load(f)["per_layer"]
    out = {}
    for spec in catalog:
        out[spec["name"]] = {"value": float(run.layer.get(spec["name"], 0.0)),
                             "unit": spec["unit"]}
    return out


def environment(spark) -> dict:
    """Host and version facts recorded with every run."""
    import pyspark

    with open("/proc/meminfo") as f:
        mem = next(int(x.split()[1]) // 1024 for x in f if x.startswith("MemTotal:"))
    return {"nproc": nproc(), "mem_total_mb": mem, "loadavg_1m": os.getloadavg()[0],
            "spark": pyspark.__version__, "python": platform.python_version(),
            "java": spark.sparkContext._jvm.System.getProperty("java.version")}


# -- the processes a run starts ------------------------------------------------

def stop_processes(grace: float = 20.0) -> None:
    """Stop the JVM and wait until every process this run started has ended.

    The gateway JVM exits when its stdin closes; after ``grace`` seconds the
    descendants still alive get SIGTERM, after twice that SIGKILL."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        with contextlib.suppress(Exception):
            gc.collect()  # release Java objects while the JVM still answers
            gw.shutdown()  # later releases then fail quietly in Python
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None and proc.stdin is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
    t0 = time.monotonic()
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        left = [p for p in tree_pids() if p != os.getpid()]
        waited = time.monotonic() - t0
        if not left or waited > 3 * grace:
            if left:
                print(f"processes still running: {left}", file=sys.stderr)
            return
        if waited > grace:
            sig = signal.SIGKILL if waited > 2 * grace else signal.SIGTERM
            for p in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, sig)
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import chunksilo_spark.session  # noqa: F401  (fails outside a checkout)

    become_subreaper()
    terminated = []

    def on_term(*_):
        # unwind through the finally below, which stops the JVM; the py4j
        # call this interrupts leaves the gateway unusable for spark.stop()
        terminated.append(True)
        sys.exit(143)

    signal.signal(signal.SIGTERM, on_term)

    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work}/tmp",
        f"spark.sql.warehouse.dir={work}/warehouse",
    ]
    if log_dir:
        os.makedirs(log_dir)
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
                 "spark.eventLog.compress=false"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in conf) + " pyspark-shell",
    })
    run = Run(args, work)
    try:
        metrics = WORKLOADS[args.workload](run)
        if args.trace:
            if run.spark is not None:
                run.spark.stop()
                run.spark = None
            out = layer_report(run, log_dir)
        else:
            out = {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        try:
            if run.spark is not None and not terminated:
                run.spark.stop()
        finally:
            stop_processes()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run is using it
    for e in run.errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    spans: dict[str, list] = {}
    for sp in run.tracer.spans:
        agg = spans.setdefault(sp["name"], [0, 0.0])
        agg[0] += 1
        agg[1] = round(agg[1] + sp["end"] - sp["start"], 4)
    print(json.dumps({"env": run.env, "operations": run.attempted,
                      "failed_operations": run.failed,
                      "spans": spans}), file=sys.stderr)
    print(json.dumps({"correct": not run.errors, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}))
    return 0 if not run.errors else 1


if __name__ == "__main__":
    sys.exit(main())
