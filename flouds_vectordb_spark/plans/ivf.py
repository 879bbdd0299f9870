"""IVF-style physical layout: centroid-partitioned storage + nprobe pruning.

The Spark analogue of Milvus's IVF_FLAT index (reference
app/milvus/base_milvus.py:1266-1284: nlist k-means cells at build, nprobe
cells probed at query; nprobe clamp <=256 app/milvus/vector_store.py:495).
IVF_SQ8 and IVF_PQ compose with this layout as REAL quantized execution
(plans/sq8.py, plans/pq.py: coded tables carry centroid_id, so probes are
partition-pruned scans of 1-byte codes). HNSW requests execute as real
graph ANN since r5 (plans/hnsw.py — neighbor-graph tables + beam search).

Design (SURVEY.md §4.1 / Phase 3):
- BUILD: train k-means centroids on a deterministic sample driver-side
  (numpy, fixed seed — exactly how FAISS trains its coarse quantizer: the
  sample fits in driver memory even at 100 TB corpus scale, e.g. 256k
  vectors), assign every row its nearest-centroid id with a vectorized
  Pandas UDF (Arrow-batched, build-path only), write the table PARTITIONED
  BY centroid_id.
- QUERY: compute query->centroid distances on the driver (nlist <= 65536
  floats — trivial), shortlist the nprobe nearest cells, then scan with
  `centroid_id IN (...)`: ordinary parquet partition pruning — Catalyst
  reads only the probed directories. The pruned DataFrame feeds the exact
  dense_search operator unchanged.
- COSINE trains/probes on L2-normalized vectors (cosine NN == euclidean NN
  on the unit sphere); L2 probes raw euclidean cells; IP assigns AND probes
  by max inner product (the coarse quantizer must use the search metric,
  as FAISS IVF-IP does — L2 cells would strand large-norm vectors in cells
  the query never probes).

Determinism: the training sample is a hash-stride filter
(pmod(hash(vector), ceil(n/cap)) = 0 — one column-pruned scan, NO global
sort) whose survivors are put in a canonical row order driver-side before
k-means; k-means uses a seeded RNG with k-means++ init, and ties in cell
shortlists break by centroid index — the same build inputs always produce
the same layout regardless of partitioning, so oracle-checked IVF queries
are reproducible.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest, dense_search
from flouds_vectordb_spark.sources.tables import read_parquet

NPROBE_MAX = 256  # reference vector_store.py:495
SAMPLE_CAP = 262144  # driver-side training sample bound (FAISS-style)


def _pairwise_d2(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(n, k) squared distances via ||a||^2 - 2ab + ||b||^2 — NEVER the
    (n, k, d) broadcast intermediate: at the documented scale (sample
    262144 x nlist 1024 x dim 768) that 3-D array is ~1.6 PB and OOMs the
    driver; this stays at n*k*8 bytes (~2 GB worst case)."""
    return (
        (x * x).sum(axis=1)[:, None]
        - 2.0 * x @ c.T
        + (c * c).sum(axis=1)[None, :]
    )


def _kmeans(x: np.ndarray, k: int, iters: int = 25, seed: int = 42) -> np.ndarray:
    """Deterministic k-means (k-means++ init, fixed seed). x: (n, d) f64."""
    if x.ndim != 2 or x.shape[0] == 0:
        raise ValueError("cannot build an IVF index on an empty collection")
    rng = np.random.RandomState(seed)
    n = x.shape[0]
    k = min(k, n)
    # k-means++ seeding
    centroids = np.empty((k, x.shape[1]), dtype=np.float64)
    centroids[0] = x[rng.randint(n)]
    d2 = np.sum((x - centroids[0]) ** 2, axis=1)
    for i in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centroids[i] = x[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, np.sum((x - centroids[i]) ** 2, axis=1))
    for _ in range(iters):
        assign = _pairwise_d2(x, centroids).argmin(axis=1)
        # update; empty cluster keeps its previous centroid
        for c in range(k):
            members = x[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def _normalize_rows(x: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return x / norms


def _assign_udf(centroids: np.ndarray, metric: str):
    """Vectorized best-centroid assignment (Arrow-batched; build/append
    path only — never in the query path). COSINE assigns by L2 on
    normalized vectors; L2 by L2; IP by MAX INNER PRODUCT — the coarse
    quantizer must use the search metric (as FAISS's IVF-IP does), else
    large-norm vectors land in cells the query never probes."""
    metric = metric.upper()

    @F.pandas_udf("int")
    def assign_cell(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        if metric == "IP":
            best = (m @ centroids.T).argmax(axis=1)
        else:
            if metric == "COSINE":
                m = _normalize_rows(m)
            best = _pairwise_d2(m, centroids).argmin(axis=1)
        return pd.Series(best.astype("int32"))

    return assign_cell


class IvfIndex:
    """A built IVF layout: centroid-partitioned parquet + driver centroids."""

    def __init__(self, path: str, centroids: np.ndarray, metric: str):
        self.path = path
        self.centroids = centroids
        self.metric = metric.upper()

    @property
    def nlist(self) -> int:
        return len(self.centroids)

    def probe_cells(self, query_vector: list[float], nprobe: int) -> list[int]:
        """Driver-side shortlist of the nprobe best cells — by the SEARCH
        metric (max inner product for IP, euclidean otherwise), matching
        how rows were assigned."""
        nprobe = max(1, min(int(nprobe), NPROBE_MAX, self.nlist))
        q = np.asarray(query_vector, dtype=np.float64)
        if self.metric == "IP":
            key = -(self.centroids @ q)  # ascending sort on -IP = best first
        else:
            if self.metric == "COSINE":
                n = np.linalg.norm(q)
                q = q / n if n > 0 else q
            key = np.sum((self.centroids - q) ** 2, axis=1)
        order = np.lexsort((np.arange(self.nlist), key))  # ties -> lower cell id
        return [int(c) for c in order[:nprobe]]

    def probe_cells_many(self, queries: np.ndarray, nprobe: int) -> np.ndarray:
        """Vectorized per-query cell shortlists for a (nq, dim) query block
        — ONE numpy pass for the whole batch (the driver-side half of
        operators/batch_search.py). Same metric rules and lower-cell-id tie
        break as probe_cells; returns an (nq, nprobe) int array."""
        nprobe = max(1, min(int(nprobe), NPROBE_MAX, self.nlist))
        q = np.asarray(queries, dtype=np.float64)
        if q.ndim != 2:
            raise ValueError("queries must be a (nq, dim) array")
        if self.metric == "IP":
            key = -(q @ self.centroids.T)
        else:
            if self.metric == "COSINE":
                q = _normalize_rows(q)
            key = _pairwise_d2(q, self.centroids)
        # per-row (key, cell-id) lexsort: argsort over cell id first, then a
        # stable argsort by key keeps lower cell ids on ties
        order = np.argsort(key, axis=1, kind="stable")[:, :nprobe]
        return order.astype("int64")

    def base_scan(self, spark: SparkSession) -> DataFrame:
        """The full-layout DataFrame, reused while the layout is unchanged
        (sources/tables.py read_parquet) — measured r13: half the
        q1_ivf_search_many plan-build wall was reading the same layout
        twice per query. Build and append change the fingerprint."""
        return read_parquet(spark, self.path)

    def scan(self, spark: SparkSession, nprobe_cells: list[int]) -> DataFrame:
        """Partition-pruned scan of the probed cells only."""
        return self.base_scan(spark).filter(F.col("centroid_id").isin(nprobe_cells))

    def search(self, spark: SparkSession, req: DenseSearchRequest,
               nprobe: int | None = None, **dense_kwargs) -> DataFrame:
        """IVF-pruned exact search: probe cells, then the unchanged exact
        dense_search over the pruned scan. nprobe defaults to the request's
        (search_request.py:63-68)."""
        cells = self.probe_cells(req.query_vector,
                                 req.nprobe if nprobe is None else nprobe)
        return dense_search(self.scan(spark, cells), req, **dense_kwargs)

    def assign(self, batch: DataFrame, vector_col: str = "vector") -> DataFrame:
        """Batch rows + their `centroid_id` under the EXISTING centroids —
        identical assignments to what a full rebuild with these centroids
        would produce (unit-tested). Shared by append and the quantized
        append paths (which need the cell id to land codes in the right
        partition)."""
        return batch.withColumn(
            "centroid_id",
            _assign_udf(self.centroids, self.metric)(F.col(vector_col)),
        )

    def append(self, batch: DataFrame, vector_col: str = "vector") -> None:
        """Incremental maintenance — the standard IVF add path (FAISS add /
        Milvus growing segment): assign ONLY the new rows to the EXISTING
        centroids and append into their partitions. O(batch) work: no
        retrain, no table rewrite. UPDATED keys leave their stale rows in
        place (the Milvus delete+compact contract); readers that must be
        update-safe resolve latest-wins by the rows' batch_ts
        (CollectionWriter.search does). Repartitioned by cell like
        build_ivf: one new file per touched cell, not one per input
        partition and cell."""
        self.assign(batch, vector_col).repartition(F.col("centroid_id")) \
            .write.mode("append").partitionBy("centroid_id").parquet(self.path)


def build_ivf(
    df: DataFrame,
    path: str,
    nlist: int,
    metric: str = "COSINE",
    vector_col: str = "vector",
    seed: int = 42,
) -> IvfIndex:
    """Train centroids on a deterministic sample, assign cells, write the
    centroid-partitioned table. Persists centroids next to the data so a
    later session can reopen the index without retraining."""
    metric = metric.upper()
    # Deterministic hash-stride sample: ONE column-pruned scan, no sort.
    # (The previous orderBy(vector.cast("string")).limit(cap) was a
    # corpus-wide TakeOrdered over stringified vectors — a scale wart at
    # 100 TB.) Expected survivors n/stride <= cap; the canonical driver-side
    # row sort below makes the k-means input order independent of
    # partitioning, preserving build determinism.
    n = df.count()
    if n == 0:
        raise ValueError("cannot build an IVF index on an empty collection")
    stride = max(1, -(-n // SAMPLE_CAP))
    sample = (
        df.select(F.col(vector_col))
        .filter(F.pmod(F.hash(F.col(vector_col)), F.lit(stride)) == 0)
        .collect()
    )
    if not sample:
        # degenerate corpora (e.g. dominated by one duplicate vector) can
        # land every hash off-stride — equal vectors survive or die
        # together. Fall back to a plain bounded scan so a non-empty
        # collection always trains; the lexsort below keeps the k-means
        # input canonical regardless of scan order.
        sample = df.select(F.col(vector_col)).limit(SAMPLE_CAP).collect()
    x = np.array([r[0] for r in sample], dtype=np.float64)
    if x.shape[0] > 1:
        x = x[np.lexsort(x.T[::-1])][:SAMPLE_CAP]
    if metric == "COSINE":
        x = _normalize_rows(x)
    centroids = _kmeans(x, nlist, seed=seed)

    # repartition by cell before the write: ONE file per cell instead of
    # (input partitions x cells) fragments — at nlist=64 on 32 input
    # partitions the old layout was up to 2048 tiny files, and the probe
    # scan's listing/footer cost tracked file count, not data. At larger
    # scale, salt the repartition key (hash(vector) % k) for k files per
    # cell so a hot cell's write doesn't serialize through one task.
    (
        df.withColumn("centroid_id",
                      _assign_udf(centroids, metric)(F.col(vector_col)))
        .repartition(F.col("centroid_id"))
        .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    )
    with open(os.path.join(path, "_centroids.json"), "w") as f:
        json.dump({"metric": metric, "nlist_requested": int(nlist),
                   "centroids": centroids.tolist()}, f)
    return IvfIndex(path, centroids, metric)


def open_ivf(path: str) -> IvfIndex:
    with open(os.path.join(path, "_centroids.json")) as f:
        meta = json.load(f)
    return IvfIndex(path, np.array(meta["centroids"], dtype=np.float64), meta["metric"])


def get_or_build_ivf(df, path: str, nlist: int, metric: str = "COSINE",
                     vector_col: str = "vector") -> IvfIndex:
    """Reuse the cached index only when it was built for the SAME requested
    nlist and metric (trained cells can be fewer than requested when the
    corpus is small — that is fine; a DIFFERENT request is not).

    `df` may be a DataFrame OR a zero-arg callable returning one: fixture
    plans can cost ~0.2 s of py4j construction (r13 q1_ivf_search_many
    audit), all wasted on the cache-hit path — pass a thunk and the plan
    is only built when the index actually needs building."""
    meta_p = os.path.join(path, "_centroids.json")
    if os.path.exists(meta_p):
        with open(meta_p) as f:
            meta = json.load(f)
        if (meta.get("nlist_requested") == int(nlist)
                and meta["metric"] == metric.upper()):
            return IvfIndex(path, np.array(meta["centroids"], dtype=np.float64),
                            meta["metric"])
    if callable(df):
        df = df()
    return build_ivf(df, path, nlist, metric, vector_col)
