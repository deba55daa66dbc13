"""Approximate-nearest-neighbor search over an embedding column.

Two strategies (SURVEY training-data ops):

  * brute_force_topk — exact cosine top-k via broadcast query side + window
    (the baseline; same shape as dedup.embedding_knn but query-vector input);
  * lsh_topk         — random-hyperplane LSH: 16-bit sign sketch per vector,
    candidates = rows sharing a multi-probe bucket, exact re-rank inside
    buckets. At 10^12 rows the bucket join replaces the full scan; planes
    are a fixed seeded matrix so results are deterministic.

Both keep vectors as array<float> (Arrow-friendly; no Spark-ML VectorUDT in
the hot path — SURVEY §1.3).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame

_PLANES_SEED = 42
N_PLANES = 16


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(c):
    return F.sqrt(
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query id (queries = small DataFrame of the same
    schema — collected to the driver and closed over, the broadcast-dim
    pattern; the corpus side streams once).

    Scoring is one float64 numpy matmul per Arrow batch (10-100x the JVM
    higher-order-function fold at embedding dims); each batch emits only its
    local top-k PER QUERY (keeping rounded-cosine ties), so the shuffle into
    the global top-k window carries O(n_batches * q * k) rows, not n * q."""
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = [int(r[0]) for r in q_rows]
    q_mat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0.0] = 1.0  # zero-norm query scores 0 vs everything

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(v, axis=1)
            vn[vn == 0.0] = 1.0
            sims = np.round((v @ q_mat.T) / (vn[:, None] * q_norm[None, :]), 4)
            ids = pdf[id_col].to_numpy()
            out_q, out_n, out_c = [], [], []
            for j, qid in enumerate(q_ids):
                col = sims[:, j].copy()
                col[ids == qid] = -np.inf  # exclude self
                if len(col) > k:
                    kth = np.partition(col, len(col) - k)[len(col) - k]
                else:
                    kth = -np.inf
                # ties kept for the window; isfinite drops the masked self
                # row even when the batch has <= k rows (kth == -inf)
                keep = np.flatnonzero((col >= kth) & np.isfinite(col))
                out_q.extend([qid] * len(keep))
                out_n.extend(ids[keep].tolist())
                out_c.extend(col[keep].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    scored = vectors.select(id_col, vec_col).mapInPandas(
        run, schema="query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    sample_rows: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer -> per-list probe
    -> exact re-rank, the classic FAISS-IVF shape distributed:

      1. train centroids DRIVER-SIDE on a bounded sample (seeded numpy
         k-means on cosine/unit sphere — the coarse quantizer is
         dictionary-sized state, like the alias matrix);
      2. assign every corpus vector to its nearest centroid inside a numpy
         mapInPandas batch (broadcast centroids; one corpus pass — at scale
         the assignment column is materialized once and reused);
      3. each query probes its ``n_probe`` nearest lists; candidates =
         corpus rows in those lists (an equi-join on list id, never
         all-pairs);
      4. exact cosine re-rank of candidates only (numpy matmul batches).

    Deterministic: fixed seed, fixed iteration count, ties broken by index,
    and the training sample is the ``sample_rows`` LOWEST ids (an ordered
    take, not an unordered ``limit`` — partition arrival order on a real
    cluster would otherwise shift the centroids run to run).
    """
    import numpy as np  # noqa: F811 (local alias keeps the closure light)

    # --- 1. train the coarse quantizer on a driver-side sample ------------
    sample_rows_data = (
        vectors.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_rows)
        .collect()
    )
    if not sample_rows_data:  # empty corpus -> empty result, same schema
        return local_frame(
            vectors.sparkSession, [],
            "query_id long, neighbor_id long, cosine double, rank int",
        )
    sample = np.array(
        [list(r[1]) for r in sample_rows_data],
        dtype=np.float64,
    )
    norms = np.linalg.norm(sample, axis=1)
    norms[norms == 0.0] = 1.0
    sample = sample / norms[:, None]
    rng = np.random.default_rng(_PLANES_SEED)
    n_centroids = min(n_centroids, len(sample))
    cents = sample[rng.choice(len(sample), size=n_centroids, replace=False)]
    for _ in range(10):  # fixed-iteration spherical k-means
        assign = np.argmax(sample @ cents.T, axis=1)
        for c in range(n_centroids):
            members = sample[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    cents_t = cents.T.copy()

    # --- 2. assign corpus rows to lists (broadcast centroids) -------------
    def assign_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(v, axis=1)
            vn[vn == 0.0] = 1.0
            lists = np.argmax((v / vn[:, None]) @ cents_t, axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "list_id": lists.astype(np.int32)}
            )

    assigned = vectors.select(id_col, vec_col).mapInPandas(
        assign_batch, schema=f"{id_col} long, list_id int"
    )

    # --- 3. queries probe their n_probe nearest lists ----------------------
    q_rows = queries.select(id_col, vec_col).collect()
    q_probe = []
    for r in q_rows:
        qv = np.array(list(r[1]), dtype=np.float64)
        n = np.linalg.norm(qv)
        if n > 0:
            qv = qv / n
        order = np.argsort(-(cents @ qv))[:n_probe]
        for lid in order:
            q_probe.append((int(r[0]), int(lid)))
    probes = local_frame(
        vectors.sparkSession, q_probe, "query_id long, list_id int"
    )
    cand_ids = (
        assigned.join(F.broadcast(probes), "list_id")
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
    )

    # --- 4. exact re-rank of candidates only -------------------------------
    q_mat = {int(r[0]): np.array(list(r[1]), dtype=np.float64) for r in q_rows}

    def rerank_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(v, axis=1)
            vn[vn == 0.0] = 1.0
            out_c = np.empty(len(pdf))
            for j, qid in enumerate(pdf["query_id"]):
                qv = q_mat[int(qid)]
                qn = np.linalg.norm(qv)
                out_c[j] = float(v[j] @ qv) / (vn[j] * (qn if qn > 0 else 1.0))
            res = pdf[["query_id", id_col]].copy()
            res["cosine"] = np.round(out_c, 4)
            yield res

    scored = cand_ids.join(vectors.select(id_col, vec_col), id_col).mapInPandas(
        rerank_batch, schema=f"query_id long, {id_col} long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cosine", "rank")
    )


N_BANDS = 4  # 4 bands x 4 bits: candidates share at least one band
BITS_PER_BAND = N_PLANES // N_BANDS


def _sign_sketch_batch(dim: int, vec_col: str, id_col: str = "vec_id"):
    rng = np.random.default_rng(_PLANES_SEED)
    planes = rng.standard_normal((dim, N_PLANES)).astype(np.float32)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float32)
            signs = (mat @ planes) > 0  # (n, N_PLANES)
            sketch = np.zeros(len(pdf), dtype=np.int64)
            for i in range(N_PLANES):
                sketch |= signs[:, i].astype(np.int64) << i
            out = pdf[[id_col]].copy()
            out["sketch"] = sketch
            yield out

    return run


def add_lsh_sketch(
    vectors: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, sketch) — 16-bit random-hyperplane sign sketch."""
    return vectors.select(id_col, vec_col).mapInPandas(
        _sign_sketch_batch(dim, vec_col, id_col),
        schema=f"{id_col} long, sketch long",
    )


def _band_cols(sketch_col):
    """Split the 16-bit sketch into N_BANDS band values."""
    mask = (1 << BITS_PER_BAND) - 1
    return [
        F.shiftright(sketch_col, i * BITS_PER_BAND).bitwiseAND(F.lit(mask))
        for i in range(N_BANDS)
    ]


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: banded random-hyperplane LSH + exact re-rank in buckets.

    Candidates = rows sharing >= 1 of 4 sketch bands with the query (classic
    banding: recall ~ 1-(1-s^r)^b); exact cosine re-ranks candidates only.
    Scale shape: the corpus is sketched once (cacheable); the expensive
    cosine runs on the candidate subset instead of the full corpus, and the
    band join is an equi-join on (band_idx, band_val) — AQE-splittable."""
    sketches = add_lsh_sketch(vectors, dim, vec_col, id_col=id_col)
    bands = sketches.select(
        id_col,
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(i) for i in range(N_BANDS)]).alias("band_idx"),
                F.array(*_band_cols(F.col("sketch"))).alias("band_val"),
            )
        ).alias("bz"),
    ).select(id_col, F.col("bz.band_idx"), F.col("bz.band_val"))

    q_bands = (
        add_lsh_sketch(queries, dim, vec_col, id_col=id_col)
        .withColumnRenamed(id_col, "query_id")
        .select(
            "query_id",
            F.explode(
                F.arrays_zip(
                    F.array(*[F.lit(i) for i in range(N_BANDS)]).alias("band_idx"),
                    F.array(*_band_cols(F.col("sketch"))).alias("band_val"),
                )
            ).alias("bz"),
        )
        .select("query_id", F.col("bz.band_idx"), F.col("bz.band_val"))
    )
    cand_ids = (
        bands.join(F.broadcast(q_bands), ["band_idx", "band_val"])
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
        .distinct()
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    )
    scored = (
        cand_ids.join(vectors, id_col)
        .withColumn("_v", F.col(vec_col).cast("array<double>"))
        .join(F.broadcast(q_vecs), "query_id")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("q_vec"), F.col("_v"))
                / (_norm(F.col("q_vec")) * _norm(F.col("_v"))),
                4,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cosine", "rank")
    )


def mean_pooled_embeddings(
    vectors: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean embedding in LONG FORM -> (group, dim, mean_val):
    the entity-embedding constructor — an entity's vector is the mean of
    its mention/chunk vectors (the standard aggregation the linker's
    alias dictionary and the ANN index are built from). Long form so the
    result is engine-portable and SQL-checkable; ``F.array_agg`` it back
    per group when a caller needs array shape (dims are small and
    per-group).

    Pinned: values cast to double BEFORE averaging; mean rounded to 6dp
    (the repo float pin). Ragged vectors are the caller's bug — dims
    beyond a short vector are simply absent from its groups' rows.

    100 TB shape: ``posexplode`` is map-side (xDIM rows inside the
    scan stage), then ONE map-side-combinable groupBy on (group, dim) —
    the partial sums reduce each group's traffic to DIM doubles per
    partition, exactly the combiner shape a mean wants. No collect_list
    of vectors, no per-group array in executor memory.
    """
    g = F.col(group_col).alias("grp")
    exploded = vectors.select(
        g, F.posexplode(F.col(vec_col)).alias("dim", "_v")
    )
    return (
        exploded.groupBy("grp", "dim")
        .agg(F.round(F.avg(F.col("_v").cast("double")), 6).alias("mean_val"))
        .select(
            F.col("grp").alias(group_col),
            F.col("dim").cast("long").alias("dim"),
            "mean_val",
        )
    )
