"""Graph-ANN physical plan: REAL execution for index_type=HNSW.

The reference accepts HNSW (app/models/generate_schema_request.py:129) but
its index-build call forwards only nlist (app/milvus/base_milvus.py:1141-1167
-> 1266-1284), i.e. Milvus-side defaults decide the graph shape. An
in-memory hierarchical pointer graph has no faithful Spark analogue
(latency-bound pointer chasing over shared memory); the Spark-honest
equivalent — replacing the earlier accepted-as-IVF_FLAT divergence — is a
*navigable neighbor graph stored as tables* (the DiskANN/Vamana family:
single-layer graph + good entry points), executed as:

- BUILD: candidate generation by coarse k-means cells (reusing the IVF
  trainer — the standard partitioned graph-build used by DiskANN/SPANN at
  scale). Every node is exploded into its 2 nearest cells (the spill copy
  creates cross-cell bridge edges), each cell computes its intra-cell
  top-M adjacency inside one Arrow batch (``applyInPandas`` — the pairwise
  n_g x n_g expansion never enters a shuffle), and per-src lists are merged
  across the two cells, symmetrized (union of reverse edges — HNSW's
  bidirectional link step), and re-capped at Mmax = 2M (HNSW's level-0
  Mmax0 rule). All shuffled rows are (src, dst, score) scalars.
- ENTRY POINTS: the per-cell medoid (row nearest its centroid) — the flat
  analogue of HNSW's upper layers: a query starts from the medoids, whose
  cells cover the space, so the beam starts near the query and rounds stay
  O(local diameter).
- QUERY: driver-coordinated best-first beam search (width ef): each round
  expands every not-yet-expanded beam member, scores the newly reachable
  ids, and keeps the best ef. Per round the cluster does exactly two
  id-pruned scans — edges by ``src IN (frontier)`` and nodes by
  ``id IN (new candidates)`` — both written range-partitioned and sorted so
  the IN-list pushdown skips row groups; the driver holds only (id, score)
  pairs (never vectors), bounded by ef + ef*Mmax.
- APPEND: O(batch) — new rows are assigned to their 2 nearest EXISTING
  cells, edged against the EXISTING nodes of those cells (one pruned scan
  per batch), and appended to nodes+edges with reverse edges, the standard
  graph-insert contract. No rebuild, no table rewrite.

Determinism: seeded k-means (shared with plans/ivf.py), float64 scoring,
and every top-list ordered by (score desc, id asc) — the same build inputs
and query always produce the same graph and the same beam, so the
clustered-fixture gate (queries.py) holds the result to the EXACT top-k
oracle.

Scale notes (100 TB): ncells tracks ceil(n/cell_target) with NO upper
clip (the r5 4096-cell cap silently degraded the build to O(n^2/4096)
pairwise work beyond ~4M rows). Driver training cost stays bounded two
ways: (a) above KMEANS_FLAT_MAX centroids the trainer goes hierarchical
(sqrt-split two-level k-means, the SPANN/ScaNN coarse-quantizer shape), so
cost is O(sample*(k1+max_k2)*iters) not O(sample*k*iters); (b) cell-size
balance is enforced, not assumed — a driver-side pass splits any cell
whose sample-estimated population exceeds SPLIT_FACTOR*cell_target, then
ONE distributed count verifies true sizes and a bounded per-cell-sample
refinement round splits anything the estimate missed (test-asserted on a
skewed corpus). The build's pairwise step is therefore O(n*cell_bound)
distance evaluations spread over all executors; edges are ~n*(2M) rows of
3 scalars; the query's driver state and per-round scan sizes are
independent of corpus size. At cluster scale nodes/edges would be bucketed
by id/src — locally they are range-partitioned + sorted, which gives the
same row-group skipping under Spark's parquet IN-pushdown. Driver memory
for centroids is ncells*dim f64 (~0.4 GB at 60M rows / dim 768) — the
same envelope FAISS/SPANN coarse quantizers accept.
"""

from __future__ import annotations

import json
import os
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flouds_vectordb_spark.catalog import latest_wins
from flouds_vectordb_spark.functions.local import local_df
from flouds_vectordb_spark.lifecycle import tracked_persist
from flouds_vectordb_spark.functions.vector import metric_score, metric_score_q
from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest, dense_search
from flouds_vectordb_spark.plans.ivf import SAMPLE_CAP, _kmeans, _normalize_rows, _pairwise_d2

DEFAULT_M = 16          # HNSW default M (Milvus/hnswlib default)
DEFAULT_EF = 64         # HNSW default search beam (Milvus default ef)
CELL_TARGET = 1024      # build-time candidate cell size target
MAX_ROUNDS = 32         # beam-round backstop; convergence is the normal exit
BUILD_REV = 3           # bumped when the build ALGORITHM changes semantics
                        # (r8: heuristic-selection refinement; r10: rev 3
                        # invalidates caches that MAY have been flat-trained
                        # with 512 < k <= 4096 before KMEANS_FLAT_MAX dropped
                        # to 512 — those graphs no longer match a fresh
                        # build, see ADVICE r9) so cached graphs from older
                        # revisions rebuild instead of silently serving the
                        # old edge policy
BEAM_BLOCK_CAP = 256    # max queries per batched-beam chunk (driver state
                        # is block x ef x M; bigger blocks auto-chunk)
LITERAL_QUERY_MAX = 4   # blocks up to this embed query vectors as literal
                        # CASE branches in the beam's scoring expressions;
                        # larger blocks join the broadcast query block
SPLIT_FACTOR = 4        # a cell is oversized above SPLIT_FACTOR * cell_target
KMEANS_FLAT_MAX = 512   # above this k, centroid training goes hierarchical.
                        # Flat k-means is O(sample*k*iters) ON THE DRIVER:
                        # profiled at 200k vectors / k=782, it was 198 s of a
                        # 227 s build (87%) while every distributed phase
                        # scaled linearly. The sqrt-split two-level trainer
                        # is O(sample*(k1+max_k2)*iters) ~ 14x less here and
                        # bounds driver cost at any corpus size. Builds with
                        # k <= 512 (every gate-scale collection) are
                        # bit-identical; BUILD_REV=3 still invalidates old
                        # caches because 512 < k <= 4096 builds are NOT.
PER_CELL_SAMPLE = 8192  # bounded per-cell sample for the refinement split


def _sample_assign(x: np.ndarray, centroids: np.ndarray, metric: str) -> np.ndarray:
    """Driver-side best-cell assignment with the SAME metric rule as
    _cells_udf (IP by max inner product; COSINE callers pass x already
    normalized), so sample-based size estimates match the real layout."""
    if metric == "IP":
        return (x @ centroids.T).argmax(axis=1)
    return _pairwise_d2(x, centroids).argmin(axis=1)


def _train_centroids(x: np.ndarray, k: int, metric: str, seed: int = 42) -> np.ndarray:
    """k centroids from the driver sample. Flat k-means up to
    KMEANS_FLAT_MAX; beyond that, hierarchical sqrt-split (train ~sqrt(k)
    top cells, then per-cell k-means sized by membership share — the
    SPANN/ScaNN two-level coarse quantizer), keeping driver cost
    O(sample*(k1+max_k2)*iters) instead of O(sample*k*iters)."""
    k = max(1, min(int(k), len(x)))
    if k <= KMEANS_FLAT_MAX:
        return _kmeans(x, k, seed=seed)
    k1 = int(np.ceil(np.sqrt(k)))
    top = _kmeans(x, k1, seed=seed)
    assign = _sample_assign(x, top, metric)
    parts = []
    for c in range(k1):
        members = x[assign == c]
        if len(members) == 0:
            continue
        kc = min(len(members), max(1, int(round(k * len(members) / len(x)))))
        parts.append(_kmeans(members, kc, seed=seed + c + 1))
    return np.vstack(parts)


def _split_oversized_sample(x: np.ndarray, centroids: np.ndarray, n: int,
                            cell_target: int, metric: str, seed: int = 42,
                            rounds: int = 8) -> np.ndarray:
    """Driver-side balance pass on the TRAINING SAMPLE: estimate each
    cell's true population as count_in_sample * (n/|sample|), split any
    cell whose estimate exceeds SPLIT_FACTOR*cell_target into
    ceil(est/cell_target) sub-centroids trained on its sample members;
    iterate to a fixpoint. Deterministic: seeded sub-k-means, split order
    by cell index."""
    bound = SPLIT_FACTOR * cell_target
    scale = n / max(1, len(x))
    for _ in range(rounds):
        if len(centroids) > TWO_LEVEL_MIN_CELLS:
            # same two-level routing the executor assignment uses — keeps
            # the estimate consistent with the real layout AND drops the
            # sample x ncells GEMM from the driver's split rounds
            assign = _routed_argmin(x, centroids, metric,
                                    _two_level_router(centroids, metric))
        else:
            assign = _sample_assign(x, centroids, metric)
        counts = np.bincount(assign, minlength=len(centroids))
        est = counts * scale
        bad = [int(c) for c in np.where(est > bound)[0] if counts[c] >= 2]
        if not bad:
            break
        bad_set = set(bad)
        parts = [centroids[[c for c in range(len(centroids))
                            if c not in bad_set]]]
        for c in bad:
            members = x[assign == c]
            kc = min(len(members),
                     max(2, int(np.ceil(est[c] / cell_target))))
            parts.append(_kmeans(members, kc, seed=seed + 17 * (c + 1)))
        centroids = np.vstack(parts)
    return centroids


def _dist_block(m: np.ndarray, cents: np.ndarray, metric: str) -> np.ndarray:
    """Row-to-centroid 'distance' under the coarse-quantizer metric rule
    (IP = negated inner product so argmin works uniformly; callers pass m
    already normalized for COSINE)."""
    if metric == "IP":
        return -(m @ cents.T)
    return _pairwise_d2(m, cents)


# Above this many cells the per-row assignment goes TWO-LEVEL
# (SPANN/ScaNN routing): cluster the centroids into ~sqrt(ncells) coarse
# groups, route each row to its TWO_LEVEL_PROBES nearest groups, and only
# score those groups' children. Cuts the n x ncells GEMM to
# n x (sqrt(ncells) + probes * avg_children) — the difference between
# hours and seconds at 60M rows (PLANS.md round-7 budget). Dormant at
# every test/gate scale (they build < 2048 cells), exercised by its unit
# test and the 600k stress profile.
TWO_LEVEL_MIN_CELLS = 2048
TWO_LEVEL_PROBES = 8


def _two_level_router(centroids: np.ndarray, metric: str, seed: int = 42):
    """(coarse_centroids, children) — children[c] = global centroid ids
    routed under coarse group c. Deterministic: seeded k-means over the
    centroid set, ties in parent assignment resolved by stable argmin."""
    k1 = int(np.ceil(np.sqrt(len(centroids))))
    coarse = _kmeans(centroids, k1, seed=seed)
    parent = _dist_block(centroids, coarse, metric).argmin(axis=1)
    children = [np.where(parent == c)[0] for c in range(len(coarse))]
    # drop empty coarse groups WITH their centroids (alignment preserved)
    keep = [i for i, ch in enumerate(children) if len(ch)]
    return coarse[keep], [children[i] for i in keep]


def _routed_argmin(m: np.ndarray, centroids: np.ndarray, metric: str,
                   router) -> np.ndarray:
    """Top-1 cell per row through the two-level router (driver-side use:
    the split/verify sample estimates). Ties resolve to the lowest global
    centroid index, matching the flat stable argmin."""
    coarse, children = router
    probes = min(TWO_LEVEL_PROBES, len(children))
    dc = _dist_block(m, coarse, metric)
    top = np.argsort(dc, axis=1, kind="stable")[:, :probes]
    best_d = np.full(len(m), np.inf)
    best_i = np.full(len(m), np.iinfo(np.int64).max, dtype=np.int64)
    for c in range(len(children)):
        rows = np.nonzero((top == c).any(axis=1))[0]
        if not len(rows):
            continue
        gids = children[c]  # ascending (np.where), so stable argmin
        db = _dist_block(m[rows], centroids[gids], metric)
        pos = np.argmin(db, axis=1)
        dmin = db[np.arange(len(rows)), pos]
        gmin = gids[pos]
        upd = (dmin < best_d[rows]) | ((dmin == best_d[rows])
                                      & (gmin < best_i[rows]))
        ridx = rows[upd]
        best_d[ridx] = dmin[upd]
        best_i[ridx] = gmin[upd]
    return best_i


def _cells_udf(centroids: np.ndarray, metric: str, spill: int = 2):
    """Vectorized 2-nearest-cell assignment + distance-to-primary (build
    path only). COSINE assigns on normalized vectors, IP by max inner
    product — the same coarse-quantizer-metric rule as plans/ivf.py.
    Above TWO_LEVEL_MIN_CELLS centroids, assignment routes through the
    two-level index (approximate: a row whose true best cell hides under
    an unprobed coarse group lands in its best PROBED group's cell — the
    standard SPANN trade; cell layout is candidate generation, exactness
    comes from the query-time re-rank). Deterministic either way: stable
    orderings with global-centroid-index tie-breaks."""
    metric = metric.upper()
    k = min(spill, len(centroids))
    router = (_two_level_router(centroids, metric)
              if len(centroids) > TWO_LEVEL_MIN_CELLS else None)

    @F.pandas_udf("struct<cells: array<int>, d0: double>")
    def assign(vecs: pd.Series) -> pd.DataFrame:
        m = np.array(vecs.tolist(), dtype=np.float64)
        if metric == "COSINE":
            m = _normalize_rows(m)
        n = len(m)
        if router is None:
            d = _dist_block(m, centroids, metric)
            order = np.argsort(d, axis=1, kind="stable")[:, :k]
            return pd.DataFrame({
                "cells": [row.astype("int32").tolist() for row in order],
                "d0": d[np.arange(n), order[:, 0]],
            })
        coarse, children = router
        probes = min(TWO_LEVEL_PROBES, len(children))
        dc = _dist_block(m, coarse, metric)
        top = np.argsort(dc, axis=1, kind="stable")[:, :probes]
        # running best-k per row, merged group by group; tie-break on the
        # GLOBAL centroid index (matches the flat path's stable argsort)
        best_d = np.full((n, k), np.inf)
        best_i = np.full((n, k), np.iinfo(np.int64).max, dtype=np.int64)
        for c in range(len(children)):
            rows = np.nonzero((top == c).any(axis=1))[0]
            if not len(rows):
                continue
            gids = children[c]
            db = _dist_block(m[rows], centroids[gids], metric)
            cand_d = np.concatenate([best_d[rows], db], axis=1)
            cand_i = np.concatenate(
                [best_i[rows], np.broadcast_to(gids, db.shape)], axis=1)
            sel = np.lexsort((cand_i, cand_d), axis=1)[:, :k]
            rr = np.arange(len(rows))[:, None]
            best_d[rows] = cand_d[rr, sel]
            best_i[rows] = cand_i[rr, sel]
        return pd.DataFrame({
            "cells": [row.astype("int32").tolist() for row in best_i],
            "d0": best_d[:, 0],
        })

    return assign


class _BlockScorer:
    """Per-(row, query) exact scoring for a beam query block.

    Small blocks (<= LITERAL_QUERY_MAX) embed each query vector as a
    literal CASE branch — `when(qid == k, metric_score_q(..., qv_k))` —
    which keeps every beam action a single query stage. The alternative
    (broadcast-joining a (qid, _qv, _qn) block) was measured at ~+0.5 s
    PER ACTION on the local job floor (the AQE broadcast stage, not data):
    on a beam that runs 2-4 sequential actions per query block, that join
    was most of the search's wall time. Large blocks still take the join —
    a 256-branch CASE of 64-element array folds would blow up codegen.
    Float math is identical either way: metric_score_q and
    batch_search._pair_score share the same fold order and the same
    driver-computed literal query norm. Frontier pairs stay on that SQL
    fold, not on batch_search's mapInArrow kernel: each qid scores its
    own frontier rows, not a block x scan cross product, and the
    kernel's bits equal the fold's anyway (vector.fold_scores)."""

    def __init__(self, spark: SparkSession, queries, metric: str):
        self.spark = spark
        self.queries = [(int(q), [float(x) for x in v]) for q, v in queries]
        self.metric = metric
        self.literal = len(self.queries) <= LITERAL_QUERY_MAX
        self._qb = None

    @property
    def qb(self) -> DataFrame:
        if self._qb is None:
            from flouds_vectordb_spark.operators.batch_search import query_block
            self._qb = query_block(self.spark, self.queries)
        return self._qb

    def score(self, df: DataFrame, vector_col: str) -> DataFrame:
        """df must carry a `qid` column and `vector_col`; returns df with
        an `_s` exact-score column (broadcast join only in big-block
        mode)."""
        if self.literal:
            expr = None
            for q, v in self.queries:
                br = metric_score_q(self.metric, vector_col, v)
                expr = (F.when(F.col("qid") == q, br) if expr is None
                        else expr.when(F.col("qid") == q, br))
            return df.withColumn("_s", expr)
        from flouds_vectordb_spark.operators.batch_search import _pair_score
        return df.join(F.broadcast(self.qb), "qid").withColumn(
            "_s", _pair_score(self.metric, vector_col))


class HnswIndex:
    """A built navigable-graph index: nodes + edges tables on disk, entry
    medoid ids and build params as driver metadata."""

    # append() auto-compacts when un-recapped append edges exceed this
    # fraction of the last compacted base edge count (see _needs_compact)
    compact_growth_fraction = 0.5
    auto_compact = True

    def __init__(self, path: str, meta: dict):
        self.path = path
        self.meta = meta
        self.metric = meta["metric"].upper()
        self.id_col = meta["id_col"]
        self.vector_col = meta["vector_col"]

    # ---- storage views ------------------------------------------------------
    # handles are cached per index object: the beam loop touches each table
    # once per round and re-deriving the reader (schema + file listing) per
    # round is pure driver overhead
    def nodes(self, spark: SparkSession) -> DataFrame:
        if getattr(self, "_nodes_df", None) is None:
            self._nodes_df = spark.read.parquet(os.path.join(self.path, "nodes"))
        return self._nodes_df

    def edges(self, spark: SparkSession) -> DataFrame:
        if getattr(self, "_edges_df", None) is None:
            self._edges_df = spark.read.parquet(os.path.join(self.path, "edges"))
        return self._edges_df

    # ---- query --------------------------------------------------------------
    @property
    def _versions_possible(self) -> bool:
        """Multiple rows per id can exist in `nodes` only after an append
        (build writes the unique-key snapshot; compaction re-caps EDGES but
        never rewrites nodes). The appends counter lets never-appended
        indexes skip the per-round dedup aggregation entirely — a shuffle
        per beam round on the search hot path. An index whose meta
        PREDATES the counter is treated conservatively (versions assumed
        possible)."""
        return int(self.meta.get("appends", 1)) > 0

    # below this corpus size a beam round runs as ONE fused action (tiny
    # frontier broadcast into a whole-graph hash join, candidates scored in
    # the same plan); above it, two id-pruned scans per round (the 100 TB
    # shape: each scan reads only matching row groups). The fused round
    # schedules as many Spark jobs as the two scans (its candidate
    # broadcast and score shuffle are jobs of their own): it saves wall —
    # one driver round trip and one plan build per round — not jobs
    # (PLANS.md, "Regimes per operator", has the measurement)
    SMALL_CORPUS_ROWS = 1_000_000

    def beam_search(self, spark: SparkSession, query_vector: list[float],
                    ef: int = DEFAULT_EF,
                    max_rounds: int = MAX_ROUNDS) -> list:
        """Best-first beam over the stored graph; returns the final beam's
        ids, best first. Since r8 this IS the batched beam with a block of
        one query — one implementation, one set of measured plans (the
        single-query helpers it replaced ran the same jobs per round)."""
        return self.beam_search_many(
            spark, [(0, [float(x) for x in query_vector])],
            ef=ef, max_rounds=max_rounds)[0]

    # ---- batched multi-query beam (r6) --------------------------------------
    # The single-query beam costs 1-2 driver jobs PER ROUND PER QUERY; a
    # retrieval pipeline issues queries in blocks, so the batched beam runs
    # the WHOLE block's expansion in 2 jobs per round (one adjacency scan
    # for the union frontier, one (qid, id) pair-scoring scan), amortizing
    # the job floor across the block exactly as batch_search.py does for
    # the IVF paths. Driver state: (qid -> {id: score}) scalars.

    # above this many distinct ids, skip the isin() pushdown literal (the
    # broadcast join already restricts rows; a 100k-element IN list costs
    # more to plan than it prunes)
    ISIN_PUSHDOWN_CAP = 8192

    def _ids_pruned(self, df: DataFrame, col: str, ids: list) -> DataFrame:
        if len(ids) <= self.ISIN_PUSHDOWN_CAP:
            return df.filter(F.col(col).isin(ids))
        return df

    # per-query probed cells for beam SEEDING (r8): instead of scoring all
    # ncells medoids and walking the graph toward the query (O(graph
    # diameter) sequential rounds, each priced at the driver job floor),
    # score every node of the query's SEED_PROBE_CELLS nearest cells —
    # the SPANN query shape. The beam starts inside the query's own
    # region, so rounds only need to cover the LOCAL neighborhood plus
    # any cross-cell escape the graded navigability gate demands. Scoring
    # a superset of the old medoid seed never hurts correctness (exact
    # scores, idempotent merges, same exit rule); it removes the descent
    # rounds entirely. The seed scan is `_cell IN (...)` — partition/
    # row-group-pruned, the honest 100 TB shape.
    SEED_PROBE_CELLS = 2
    # up to this many cells the ALL-medoids seed (the pre-r8 shape) is
    # unioned into the same action as cheap global insurance: on small
    # indexes ef is comparable to ncells, so the beam can afford a
    # presence in every cell and local-only seeding measurably loses the
    # odd cross-cell neighbor when refinement re-caps long-range edges
    # (test_nn_descent_refinement_improves_graph). Above the bound the
    # medoid block (ncells x |block| pairs) would itself be the seed
    # cost, and big-graph recall rides the probed cells + edges — the
    # SPANN trade.
    MEDOID_SEED_MAX_CELLS = 1024

    def _probe_cells_many(self, qmat: np.ndarray, nprobe: int) -> np.ndarray:
        """Per-query nearest build cells, driver-side (centroids live in
        meta) — same metric rules and lower-cell-id tie break as
        plans/ivf.py probe_cells_many."""
        cents = np.array(self.meta["centroids"], dtype=np.float64)
        nprobe = max(1, min(int(nprobe), len(cents)))
        q = np.asarray(qmat, dtype=np.float64)
        if self.metric == "IP":
            key = -(q @ cents.T)
        else:
            if self.metric == "COSINE":
                q = _normalize_rows(q)
            key = _pairwise_d2(q, cents)
        return np.argsort(key, axis=1, kind="stable")[:, :nprobe].astype("int64")

    def _seed_rows(self, spark: SparkSession, queries: list,
                   scorer: _BlockScorer) -> tuple[list, dict]:
        """(rows, forced): rows are (qid, id, score) seeds — every
        latest-version node of each query's probed cells, ONE cell-pruned
        scan; forced maps qid -> entry-point ids that MUST be expanded in
        round 1 even when stronger local seeds push them out of the
        top-ef (an entry point that is scored but never expanded
        contributes nothing — classic multi-entry HNSW expands every
        entry). Falls back to the all-medoids pair scoring when the
        layout predates the _cell column or carries no centroids."""
        nodes = self.nodes(spark)
        qids = [int(q) for q, _ in queries]
        if "_cell" not in nodes.columns or not self.meta.get("centroids"):
            rows = self._score_pairs_many(
                spark, [(q, e) for q in qids
                        for e in self.meta["entry_ids"]], scorer)
            return rows, {q: set(self.meta["entry_ids"]) for q in qids}
        qmat = np.array([[float(x) for x in v] for _, v in queries],
                        dtype=np.float64)
        cells = self._probe_cells_many(qmat, self.SEED_PROBE_CELLS)
        union_cells = sorted({int(c) for row in cells for c in row})
        qcells = local_df(
            spark, [(q, int(c)) for q, row in zip(qids, cells) for c in row],
            "qid bigint, _pc bigint")
        has_ts = "batch_ts" in nodes.columns
        ts_cols = ["batch_ts"] if has_ts else []
        entry = self.meta.get("entry_ids", [])
        with_medoids = 0 < len(entry) <= self.MEDOID_SEED_MAX_CELLS
        scan_filter = F.col("_cell").isin(union_cells)
        if with_medoids:
            scan_filter = scan_filter | F.col(self.id_col).isin(entry)
        proj = nodes.filter(scan_filter).select(
            F.col(self.id_col).alias("_i"), self.vector_col,
            F.col("_cell").cast("bigint").alias("_pc"), *ts_cols)
        pairs = proj.join(F.broadcast(qcells), "_pc")
        if with_medoids:
            qdf = local_df(spark, [(q,) for q in qids], "qid bigint")
            med = proj.filter(F.col("_i").isin(entry)).crossJoin(
                F.broadcast(qdf))
            pairs = pairs.select("qid", "_i", self.vector_col, *ts_cols) \
                .unionByName(med.select("qid", "_i", self.vector_col,
                                        *ts_cols))
        scored = scorer.score(pairs, self.vector_col).select(
            "qid", "_i", "_s", *ts_cols)
        rows = self._collect_score_block(scored, has_ts)
        forced = ({q: set(entry) for q in qids} if with_medoids
                  else {q: set() for q in qids})
        # a query whose probed cells are all empty (possible after heavy
        # deletes/compaction of a cell) must still enter the graph: score
        # the global medoids for just those queries
        missing = set(qids) - {q for q, _, _ in rows}
        if missing:
            rows += self._score_pairs_many(
                spark, [(q, e) for q in sorted(missing)
                        for e in self.meta["entry_ids"]], scorer)
            for q in missing:
                forced[q] = set(self.meta["entry_ids"])
        return rows, forced

    def _score_pairs_many(self, spark: SparkSession, pairs: list,
                          scorer: _BlockScorer) -> list[tuple]:
        """(qid, id, score) for explicit (qid, id) pairs — ONE job;
        scores are JVM-side exact pair scores (literal CASE for small
        blocks, broadcast query-block join for large ones) with
        latest-version-per-id resolution (append-upserts may leave stale
        rows in `nodes` until compaction)."""
        ids = sorted({i for _, i in pairs}, key=lambda v: (str(type(v)), v))
        id_t = dict(self.nodes(spark).dtypes)[self.id_col]
        pdf = local_df(
            spark, [(int(q), i) for q, i in pairs], f"qid bigint, _i {id_t}")
        nodes = self._ids_pruned(self.nodes(spark), self.id_col, ids)
        has_ts = "batch_ts" in nodes.columns
        proj = nodes.select(
            F.col(self.id_col).alias("_i"), self.vector_col,
            *(["batch_ts"] if has_ts else []))
        scored = scorer.score(
            proj.join(F.broadcast(pdf), "_i"), self.vector_col
        ).select("qid", "_i", "_s", *(["batch_ts"] if has_ts else []))
        return self._collect_score_block(scored, has_ts)

    def _collect_score_block(self, scored: DataFrame,
                             has_ts: bool) -> list[tuple]:
        """Latest-version resolution + collect shared by the pair-scoring
        and fused expand-scoring jobs (append-upserts may leave stale rows
        in `nodes` until compaction; never-appended indexes skip the keyed
        shuffle entirely)."""
        if not self._versions_possible:
            agg = scored.select("qid", "_i", "_s")  # unique by build invariant
        elif has_ts:
            agg = scored.groupBy("qid", "_i").agg(
                F.max_by("_s", F.col("batch_ts")).alias("_s"))
        else:
            agg = scored.groupBy("qid", "_i").agg(F.max("_s").alias("_s"))
        return [(r["qid"], r["_i"], r["_s"]) for r in agg.collect()
                if r["_s"] is not None]

    def _expand_score_many(self, spark: SparkSession, frontiers: dict,
                           scorer: _BlockScorer) -> list[tuple]:
        """ONE fused action per batched-beam round for small corpora: the
        (qid, frontier) block broadcasts into the frontier-pruned edge
        scan, the reachable (qid, dst) candidates broadcast into the node
        table, and every candidate scores against its query in the same
        action. The candidate broadcast and the score aggregation still
        run as jobs of their own, so a fused round schedules as many jobs
        as the two-scan round; what it saves is the driver round trip
        (collect the adjacency, build the pair block, plan again).
        Candidates a query already scored rescore to the identical value
        (the driver merge is idempotent), so results match the two-scan
        path exactly; the extra compute is bounded by frontier x Mmax
        rows. Above SMALL_CORPUS_ROWS the two id-pruned scans win
        back their row-group skipping and this path is not used.
        (r8 note: a 2-hop lookahead variant was measured here and LOST —
        the second hop cannot prune its edge scan, so each round paid a
        full edge-table join that cost more than the rounds it saved;
        round count is attacked at the seed instead, see _seed_rows.)"""
        id_t = dict(self.nodes(spark).dtypes)[self.id_col]
        fdf = local_df(
            spark, [(int(q), m) for q, fr in frontiers.items() for m in fr],
            f"qid bigint, _src {id_t}")
        union_fr = sorted({m for fr in frontiers.values() for m in fr},
                          key=lambda v: (str(type(v)), v))
        e = self._ids_pruned(self.edges(spark), "src", union_fr)
        cand = (e.join(F.broadcast(fdf), F.col("src") == F.col("_src"))
                .select("qid", F.col("dst").alias("_i")))
        nodes = self.nodes(spark)
        has_ts = "batch_ts" in nodes.columns
        proj = nodes.select(
            F.col(self.id_col).alias("_i"), self.vector_col,
            *(["batch_ts"] if has_ts else []))
        scored = scorer.score(
            proj.join(F.broadcast(cand), "_i"), self.vector_col
        ).select("qid", "_i", "_s", *(["batch_ts"] if has_ts else []))
        return self._collect_score_block(scored, has_ts)

    # DRIVER beam (r13 optimization): at or below this corpus size the
    # graph is collected ONCE per index object (its in-RAM form — the
    # same class of artifact as the cached nodes/edges reader handles,
    # invalidated by append/compact) and every beam round runs as numpy
    # over the collected scalars instead of a scheduled Spark job. The
    # recall gate's 16-query beam paid ~25 driver jobs per call at gate
    # scale — all scheduling. Scores are bit-identical: the sequential
    # float64 fold is replicated by per-dimension vectorized
    # accumulation (each numpy elementwise op is the same IEEE add/mul
    # the Column fold performs, in the same order), query norms come
    # from the same query_norm fold, and try_divide's /0 -> NULL becomes
    # an excluded candidate. Control flow (seeding, forced expansion,
    # per-query exit, tie-breaks) is the identical algorithm; a parity
    # test pins driver == Spark beams. Above the bound — or for layouts
    # the driver cannot resolve (versioned nodes without batch_ts,
    # ragged vectors) — the Spark beam runs unchanged.
    DRIVER_BEAM_MAX_ROWS = 200_000

    def _driver_graph(self, spark: SparkSession):
        g = getattr(self, "_graph_ram", None)
        if g is not None:
            return g if g is not False else None
        self._graph_ram = False  # sticky ineligibility until invalidated
        if int(self.meta.get("n", 1 << 62)) > self.DRIVER_BEAM_MAX_ROWS:
            return None
        if self._versions_possible:
            # APPENDED indexes are driver-ineligible (r14, ADVICE): the
            # Spark seed scan buckets EVERY node row by its own _cell and
            # resolves latest-by-ts only among the rows the cell filter
            # kept, so an id whose stale row sits in a probed cell seeds
            # the Spark beam (at the stale row's score) while a
            # latest-version-only driver graph would miss it — and
            # replicating per-version cells/scores here is not worth the
            # rare small-appended-index case. The Spark beam (whose
            # per-round version dedup owns these layouts) runs unchanged.
            return None
        nodes = self.nodes(spark)
        has_cell = "_cell" in nodes.columns
        cols = [F.col(self.id_col).alias("_i"),
                F.col(self.vector_col).alias("_v")]
        if has_cell:
            cols.append(F.col("_cell").cast("bigint").alias("_c"))
        vec: dict = {}
        cell_of: dict = {}
        for r in nodes.select(*cols).collect():
            i = r["_i"]
            vec[i] = r["_v"]
            if has_cell:
                cell_of[i] = int(r["_c"]) if r["_c"] is not None else None
        ids = sorted(vec, key=lambda v: (str(type(v)), v))
        dims = {len(vec[i]) for i in ids}
        if len(dims) != 1:
            return None
        dim = dims.pop()
        vmat = np.array([[float(x) for x in vec[i]] for i in ids],
                        dtype=np.float64)
        # exact sequential fold per row: norm and squared-norm columns
        acc = np.zeros(len(ids), dtype=np.float64)
        for j in range(dim):
            acc = acc + vmat[:, j] * vmat[:, j]
        vnorm = np.sqrt(acc)
        adj: dict = {}
        seen: set = set()
        for r in self.edges(spark).select("src", "dst").collect():
            p = (r["src"], r["dst"])
            if p in seen:
                continue
            seen.add(p)
            adj.setdefault(p[0], []).append(p[1])
        cells: dict = {}
        for i in ids:
            c = cell_of.get(i)
            if c is not None:
                cells.setdefault(c, []).append(i)
        self._graph_ram = {
            "idx": {i: k for k, i in enumerate(ids)}, "vmat": vmat,
            "vnorm": vnorm, "adj": adj, "cells": cells, "dim": dim,
            "has_cell": has_cell,
        }
        return self._graph_ram

    def _np_score(self, g: dict, cand_ids: list, qv: list, qn: float):
        """(id, score) for candidates vs one query — the numpy twin of
        _BlockScorer.score + _collect_score_block: same fold order, same
        /0 -> dropped rule. Unknown ids (dangling edges) drop exactly as
        the node join would drop them."""
        idx = g["idx"]
        known = [i for i in cand_ids if i in idx]
        if not known:
            return []
        rows = [idx[i] for i in known]
        sub = g["vmat"][rows]
        q = np.asarray(qv, dtype=np.float64)
        m = self.metric
        if m == "L2":
            acc = np.zeros(len(rows), dtype=np.float64)
            for j in range(g["dim"]):
                d = sub[:, j] - q[j]
                acc = acc + d * d
            s = -acc
            return list(zip(known, s.tolist()))
        acc = np.zeros(len(rows), dtype=np.float64)
        for j in range(g["dim"]):
            acc = acc + sub[:, j] * q[j]
        if m == "IP":
            return list(zip(known, acc.tolist()))
        den = g["vnorm"][rows] * qn
        out = []
        for i, dot, dn in zip(known, acc.tolist(), den.tolist()):
            if dn != 0.0:
                out.append((i, dot / dn))
        return out

    def _driver_seed_rows(self, g: dict, queries: list) -> tuple[list, dict]:
        """Driver twin of _seed_rows over the collected graph."""
        from flouds_vectordb_spark.functions.vector import query_norm

        qids = [int(q) for q, _ in queries]
        qn = {int(q): query_norm(v) for q, v in queries}
        qv = {int(q): v for q, v in queries}
        entry = self.meta.get("entry_ids", [])
        if not g["has_cell"] or not self.meta.get("centroids"):
            rows = [(q, i, s) for q in qids
                    for i, s in self._np_score(g, entry, qv[q], qn[q])]
            return rows, {q: set(entry) for q in qids}
        qmat = np.array([[float(x) for x in v] for _, v in queries],
                        dtype=np.float64)
        cells = self._probe_cells_many(qmat, self.SEED_PROBE_CELLS)
        with_medoids = 0 < len(entry) <= self.MEDOID_SEED_MAX_CELLS
        rows: list = []
        for q, crow in zip(qids, cells):
            seed_ids: set = set()
            for c in crow:
                seed_ids.update(g["cells"].get(int(c), ()))
            if with_medoids:
                seed_ids.update(i for i in entry if i in g["idx"])
            ordered = sorted(seed_ids, key=lambda v: (str(type(v)), v))
            rows.extend((q, i, s) for i, s in
                        self._np_score(g, ordered, qv[q], qn[q]))
        forced = ({q: set(entry) for q in qids} if with_medoids
                  else {q: set() for q in qids})
        missing = set(qids) - {q for q, _, _ in rows}
        for q in sorted(missing):
            rows.extend((q, i, s) for i, s in
                        self._np_score(g, entry, qv[q], qn[q]))
            forced[q] = set(entry)
        return rows, forced

    def beam_search_many(self, spark: SparkSession, queries,
                         ef: int = DEFAULT_EF,
                         max_rounds: int = MAX_ROUNDS) -> dict:
        """Batched best-first beam: queries is a (qid, vector) sequence;
        returns {qid: [ids, best first]}."""
        return {q: [i for i, _ in pairs] for q, pairs in
                self.beam_search_many_scored(
                    spark, queries, ef=ef, max_rounds=max_rounds).items()}

    def beam_search_many_scored(self, spark: SparkSession, queries,
                                ef: int = DEFAULT_EF,
                                max_rounds: int = MAX_ROUNDS) -> dict:
        """Batched best-first beam returning {qid: [(id, exact_score),
        best first]} — the scores are the beam's own exact pair scores
        (latest version per id), so a same-metric caller needs NO re-rank
        scan. Per-query exit criterion: no unexpanded member left in the
        top-ef; converged queries drop out of subsequent rounds, so the
        block finishes when the SLOWEST query does.

        Blocks larger than BEAM_BLOCK_CAP are transparently split and the
        per-qid results unioned (chunking is semantics-free: every query's
        beam is independent). The cap bounds the driver-side beam state —
        scored/expanded dicts and the per-round frontier pairs grow as
        block x ef x M, kilobytes at 64 queries but unbounded without a
        cap (ADVICE r6: a 100k-query block would OOM the driver)."""
        queries = list(queries)
        if len(queries) > BEAM_BLOCK_CAP:
            out: dict = {}
            for s in range(0, len(queries), BEAM_BLOCK_CAP):
                out.update(self.beam_search_many_scored(
                    spark, queries[s:s + BEAM_BLOCK_CAP], ef=ef,
                    max_rounds=max_rounds))
            return out
        queries = [(int(q), [float(x) for x in v]) for q, v in queries]
        g = self._driver_graph(spark)
        if g is not None and all(len(v) == g["dim"] for _, v in queries):
            return self._driver_beam_many_scored(g, queries, ef, max_rounds)
        scorer = _BlockScorer(spark, queries, self.metric)
        ef = max(1, int(ef))
        qids = [int(q) for q, _ in queries]
        scored = {q: {} for q in qids}
        expanded = {q: set() for q in qids}
        seed_rows, forced = self._seed_rows(spark, queries, scorer)
        for q, i, s in seed_rows:
            scored[q][i] = s

        def beam(q) -> list:
            d = scored[q]
            return sorted(d, key=lambda i: (-d[i], i))[:ef]

        active = list(qids)
        for _ in range(max_rounds):
            frontiers = {}
            for q in active:
                # round 1 force-expands every entry point (forced[q]
                # drains after this); later rounds are pure top-ef
                fr = sorted(forced.pop(q, set()) & set(scored[q]) |
                            {i for i in beam(q) if i not in expanded[q]},
                            key=lambda v: (str(type(v)), v))
                if fr:
                    frontiers[q] = fr
            active = list(frontiers)
            if not active:
                break
            if int(self.meta.get("n", 0)) <= self.SMALL_CORPUS_ROWS:
                # ONE fused action per round (see _expand_score_many) —
                # the same job count as the two-scan round, one driver
                # round trip fewer, where the full-table hash join is
                # cheaper than that round trip
                for q, fr in frontiers.items():
                    expanded[q].update(fr)
                for q, i, sc in self._expand_score_many(spark, frontiers,
                                                        scorer):
                    scored[q][i] = sc
                continue
            union_fr = sorted({i for fr in frontiers.values() for i in fr},
                              key=lambda v: (str(type(v)), v))
            e = self.edges(spark)
            if len(union_fr) <= self.ISIN_PUSHDOWN_CAP:
                e = e.filter(F.col("src").isin(union_fr))
            else:
                id_t = dict(e.dtypes)["src"]
                fdf = local_df(spark, [(i,) for i in union_fr],
                               f"src {id_t}")
                e = e.join(F.broadcast(fdf), "src")
            # dedupe DRIVER-side: a .distinct() here costs a full shuffle
            # stage per beam round, and the collected volume is already
            # bounded by |frontier| x Mmax scalar pairs (r7 — removing it
            # cut one exchange per round off every batched beam)
            adj_rows = e.select("src", "dst").collect()
            adj: dict = {}
            seen_pairs: set = set()
            for r in adj_rows:
                p = (r["src"], r["dst"])
                if p not in seen_pairs:
                    seen_pairs.add(p)
                    adj.setdefault(r["src"], []).append(r["dst"])
            pairs = []
            for q, fr in frontiers.items():
                expanded[q].update(fr)
                known = scored[q]
                seen = set()
                for s in fr:
                    for d in adj.get(s, ()):
                        if d not in known and d not in seen:
                            seen.add(d)
                            pairs.append((q, d))
            if pairs:
                for q, i, s in self._score_pairs_many(spark, pairs, scorer):
                    scored[q][i] = s
        else:
            warnings.warn(
                f"hnsw batched beam hit the {max_rounds}-round backstop "
                "before every query converged; results may be "
                "under-explored", stacklevel=2)
        return {q: [(i, scored[q][i]) for i in beam(q)] for q in qids}

    def _driver_beam_many_scored(self, g: dict, queries: list, ef: int,
                                 max_rounds: int) -> dict:
        """The batched best-first beam over the collected graph — the
        SAME control flow as the Spark loop below (seeding, forced
        round-1 expansion, per-query top-ef exit, tie-breaks), with each
        round's expand+score as numpy instead of a scheduled job.

        Plan-cache veto: a zero-job beam means a caller can embed these
        RESULTS in a lazy plan; caching such a plan would skip the search
        on re-collect (result caching, not plan caching) — so any build
        that ran a driver beam is marked ineligible and every bench pass
        re-runs the live search."""
        from flouds_vectordb_spark.functions.vector import query_norm
        from flouds_vectordb_spark.lifecycle import veto_plan_cache

        veto_plan_cache()

        ef = max(1, int(ef))
        qids = [int(q) for q, _ in queries]
        qn = {int(q): query_norm(v) for q, v in queries}
        qv = {int(q): v for q, v in queries}
        scored = {q: {} for q in qids}
        expanded = {q: set() for q in qids}
        seed_rows, forced = self._driver_seed_rows(g, queries)
        for q, i, s in seed_rows:
            scored[q][i] = s

        def beam(q) -> list:
            d = scored[q]
            return sorted(d, key=lambda i: (-d[i], i))[:ef]

        adj = g["adj"]
        active = list(qids)
        for _ in range(max_rounds):
            frontiers = {}
            for q in active:
                fr = sorted(forced.pop(q, set()) & set(scored[q]) |
                            {i for i in beam(q) if i not in expanded[q]},
                            key=lambda v: (str(type(v)), v))
                if fr:
                    frontiers[q] = fr
            active = list(frontiers)
            if not active:
                break
            for q, fr in frontiers.items():
                expanded[q].update(fr)
                known = scored[q]
                seen: set = set()
                cand = []
                for s in fr:
                    for d in adj.get(s, ()):
                        if d not in known and d not in seen:
                            seen.add(d)
                            cand.append(d)
                for i, sc in self._np_score(g, cand, qv[q], qn[q]):
                    known[i] = sc
        else:
            warnings.warn(
                f"hnsw batched beam hit the {max_rounds}-round backstop "
                "before every query converged; results may be "
                "under-explored", stacklevel=2)
        return {q: [(i, scored[q][i]) for i in beam(q)] for q in qids}

    def search_many(self, spark: SparkSession, queries,
                    req: DenseSearchRequest, ef: int | None = None,
                    payload_df: DataFrame | None = None,
                    **dense_kwargs) -> DataFrame:
        """Batched graph-ANN search composed with the batched exact request
        pipeline (batch_search._ranked_pipeline): the per-qid beam
        shortlists feed the full per-qid post-filter chain. Returns
        (qid, id, rank, score[, ...]).

        r8 (VERDICT r7 ask #2): when the request metric IS the index
        metric, the beam's own pair scores are already the exact scores of
        every shortlist member (latest version per id, scored JVM-side
        during the beam) — so the candidate table is built straight from
        the driver-held (qid, id, score) scalars and the old re-rank scan
        disappears. A cross-metric request (search COSINE on an L2 graph)
        still takes the re-scoring scan."""
        from flouds_vectordb_spark.operators.batch_search import (
            _pair_score,
            _ranked_pipeline,
            query_block,
        )

        queries = list(queries)
        want = req.limit + req.offset + (
            req.increase_limit_for_text_search if req.text_filter else 0)
        ef = max(DEFAULT_EF if ef is None else int(ef), want)
        beams = self.beam_search_many_scored(spark, queries, ef=ef)
        members = [(q, i) for q, pairs in beams.items() for i, _ in pairs]
        union_ids = sorted({i for _, i in members},
                           key=lambda v: (str(type(v)), v))
        id_col = dense_kwargs.pop("id_col", self.id_col)
        vector_col = dense_kwargs.pop("vector_col", self.vector_col)
        id_t = dict(self.nodes(spark).dtypes)[self.id_col]
        shortlist = self._ids_pruned(self.nodes(spark), self.id_col,
                                     union_ids).drop("_cell")
        if "batch_ts" in shortlist.columns:
            shortlist = latest_wins(shortlist, self.id_col)
        if req.metric.upper() == self.metric:
            # coalesce(1): LocalTableScan executes with min(rows, cores)
            # partitions — at ef x |block| rows the shortlist block fanned
            # 32 near-empty map tasks into the ranking shuffle (r14)
            cand = local_df(
                spark, [(int(q), i, float(s)) for q, pairs in beams.items()
                        for i, s in pairs],
                f"qid bigint, _id {id_t}, _score double").coalesce(1)
        else:
            mdf = local_df(
                spark, [(int(q), i) for q, i in members],
                f"qid bigint, _mid {id_t}")
            qb = query_block(spark, queries)
            cand = (
                shortlist.select(F.col(id_col).alias("_id"), F.col(vector_col))
                .join(F.broadcast(mdf), F.col("_id") == F.col("_mid"))
                .join(F.broadcast(qb), "qid")
                .select("qid", "_id",
                        _pair_score(req.metric, vector_col).alias("_score"))
            )
        payload = payload_df if payload_df is not None else shortlist
        return _ranked_pipeline(
            cand, payload, req, id_col,
            dense_kwargs.pop("chunk_col", None),
            dense_kwargs.pop("meta_col", None),
            dense_kwargs.pop("extra_cols", ()))

    def search(self, spark: SparkSession, req: DenseSearchRequest,
               ef: int | None = None, **dense_kwargs) -> DataFrame:
        """Graph-ANN search composed with the UNCHANGED exact request
        pipeline: the beam shortlist (ef ids) feeds dense_search, which
        re-scores exactly and applies the full Q5-Q13 post-filter chain.
        ef >= the over-fetched limit so post-filters keep head-room."""
        want = req.limit + req.offset + (
            req.increase_limit_for_text_search if req.text_filter else 0)
        ef = max(DEFAULT_EF if ef is None else int(ef), want)
        ids = self.beam_search(spark, req.query_vector, ef=ef)
        shortlist = self.nodes(spark).filter(F.col(self.id_col).isin(ids)).drop("_cell")
        if "batch_ts" in shortlist.columns:
            # append-upserts may leave several versions of an id in `nodes`
            # until compaction; the exact re-rank must see only the latest
            shortlist = latest_wins(shortlist, self.id_col)
        dense_kwargs.setdefault("id_col", self.id_col)
        dense_kwargs.setdefault("vector_col", self.vector_col)
        return dense_search(shortlist, req, **dense_kwargs)

    # ---- incremental maintenance -------------------------------------------
    def append(self, batch: DataFrame) -> None:
        """O(batch) graph insert: assign new rows to their 2 nearest
        EXISTING cells, edge them against the EXISTING members of those
        cells (one cell-pruned pairwise pass), append nodes + forward +
        reverse edges. Reverse edges append un-recapped (Mmax enforcement
        is a compaction concern, as in DiskANN's insert path); search
        correctness is unaffected — extra edges only widen exploration."""
        centroids = np.array(self.meta["centroids"], dtype=np.float64)
        spark = batch.sparkSession
        assigned = (
            batch.withColumn("_a", _cells_udf(centroids, self.metric)(F.col(self.vector_col)))
            .withColumn("_cell", F.col("_a.cells")[0])
            .transform(tracked_persist)
        )
        try:
            touched = [r[0] for r in assigned.select(
                F.explode("_a.cells").alias("c")).distinct().collect()]
            new_x = (
                assigned.select(self.id_col, self.vector_col,
                                F.col("_a.cells").alias("_cells"))
            )
            old = (
                self.nodes(spark)
                .filter(F.col("_cell").isin(touched))
                .select(F.col(self.id_col).alias("_oid"),
                        F.col(self.vector_col).alias("_ovec"), "_cell")
            )
            exploded = new_x.select(
                self.id_col, self.vector_col,
                F.explode("_cells").alias("_cell"))
            m = int(self.meta["M"])
            metric = self.metric
            id_col, vector_col = self.id_col, self.vector_col

            def edge_batch(pdf: pd.DataFrame) -> pd.DataFrame:
                if pdf.empty:
                    return pd.DataFrame({"src": [], "dst": [], "score": []})
                # rows arrive grouped by cell, one (new src, cell member)
                # pair per row — score all pairs in one vectorized pass
                sv = np.array(pdf[vector_col].tolist(), dtype=np.float64)
                dv = np.array(pdf["_ovec"].tolist(), dtype=np.float64)
                if metric == "IP":
                    sc = np.einsum("ij,ij->i", sv, dv)
                elif metric == "L2":
                    sc = -np.einsum("ij,ij->i", sv - dv, sv - dv)
                else:
                    with np.errstate(divide="ignore", invalid="ignore"):
                        sc = np.einsum("ij,ij->i", sv, dv) / (
                            np.linalg.norm(sv, axis=1) * np.linalg.norm(dv, axis=1))
                    sc[~np.isfinite(sc)] = -np.inf
                return pd.DataFrame({"src": pdf[id_col].to_numpy(),
                                     "dst": pdf["_oid"].to_numpy(),
                                     "score": sc})

            pair = exploded.join(old, "_cell")
            id_t = dict(batch.dtypes).get(self.id_col, "bigint")
            scored = pair.groupBy("_cell").applyInPandas(
                edge_batch, schema=f"src {id_t}, dst {id_t}, score double")
            w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
            fwd = (
                scored.groupBy("src", "dst").agg(F.max("score").alias("score"))
                .withColumn("_r", F.row_number().over(w))
                .filter(F.col("_r") <= m).drop("_r")
            ).transform(tracked_persist)
            try:
                n_fwd = fwd.count()
                rev = fwd.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst"), "score")
                fwd.unionByName(rev).write.mode("append").parquet(
                    os.path.join(self.path, "edges"))
            finally:
                fwd.unpersist()
            assigned.drop("_a").write.mode("append").parquet(
                os.path.join(self.path, "nodes"))
            self.meta["n"] = int(self.meta.get("n", 0)) + assigned.count()
            self.meta["appends"] = int(self.meta.get("appends", 0)) + 1
            self.meta["edges_appended"] = (
                int(self.meta.get("edges_appended", 0)) + 2 * n_fwd)
            with open(os.path.join(self.path, "_hnsw_meta.json"), "w") as f:
                json.dump(self.meta, f)
            # invalidate cached readers — the tables just grew
            self._nodes_df = self._edges_df = None
            self._graph_ram = None
        finally:
            assigned.unpersist()
        # Milvus growing-segment parity: appends leave reverse edges
        # un-recapped, inflating per-node degree and beam scan width; once
        # the un-compacted growth passes the threshold fraction of the last
        # compacted base, fold it in (DiskANN's periodic cleanup, scheduled
        # rather than manual). Degree bound after compaction: Mmax = 2M.
        if self.auto_compact and self._needs_compact():
            compact_hnsw(self, spark)

    def _needs_compact(self) -> bool:
        base = int(self.meta.get("edges_base", 0))
        appended = int(self.meta.get("edges_appended", 0))
        return appended > self.compact_growth_fraction * max(base, 1)


def _nn_descent_round(edges: DataFrame, nodes_iv: DataFrame, m: int,
                      metric: str) -> DataFrame:
    """One NN-descent refinement round (Dong et al., WWW'11 — the standard
    distributed k-NN-graph improver): propose neighbors-of-neighbors, score
    the NEW pairs, merge into the adjacency, re-cap with HNSW heuristic
    neighbor selection (_heuristic_cap — r8: a plain top-by-score cap
    measurably REGRESSED beam recall by evicting the long-range edges).
    The proposal join is (src, dst) scalars; vectors attach to score the
    deduplicated new pairs and again inside the heuristic caps (refinement
    is the only build phase that shuffles vectors, as every NN-descent
    must). Cost per round: O(n·(2M)²) candidate pairs.
    nodes_iv: (id, vector) only."""
    e2 = edges.select(F.col("src").alias("_mid"), F.col("dst").alias("_dst"))
    cand = (
        edges.select("src", F.col("dst").alias("_mid"))
        .join(e2, "_mid")
        .select("src", F.col("_dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .join(edges.select("src", "dst"), ["src", "dst"], "left_anti")
    )
    sv = nodes_iv.select(F.col("id").alias("src"), F.col("vector").alias("_sv"))
    dv = nodes_iv.select(F.col("id").alias("dst"), F.col("vector").alias("_dv"))
    scored = (
        cand.join(sv, "src").join(dv, "dst")
        .select("src", "dst",
                metric_score(metric, F.col("_sv"), F.col("_dv")).alias("score"))
        .filter(F.col("score").isNotNull())
    )
    fwd = _heuristic_cap(
        edges.unionByName(scored)
        .groupBy("src", "dst").agg(F.max("score").alias("score")),
        nodes_iv, m, metric).transform(tracked_persist)
    # persist BEFORE the symmetrize union: its two branches would
    # otherwise each re-evaluate the fwd selection AND the whole
    # proposal-scoring chain behind it (measured: 42.6 s -> 17.4 s for
    # the sf0.1 recall-index build). The round returns an EAGER local
    # checkpoint so the cache can drop immediately.
    sym = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "score"))
    out = _heuristic_cap(
        sym.groupBy("src", "dst").agg(F.max("score").alias("score")),
        nodes_iv, 2 * m, metric).localCheckpoint(eager=True)
    fwd.unpersist()
    return out


def _heuristic_cap(edges: DataFrame, nodes_iv: DataFrame, cap: int,
                   metric: str) -> DataFrame:
    """HNSW heuristic neighbor selection (Malkov & Yashunin 2018,
    Algorithm 4) as a distributed per-src pass — the refinement's re-cap
    rule since r8. Candidates are taken best-score-first; candidate d is
    redundant for src s when an already-kept neighbor t scores HIGHER
    against d than s does (sim(t,d) > sim(s,d)): greedy routing
    s -> t -> d still reaches d, so dropping the direct edge preserves
    reachability — the property a plain top-by-score cap destroys (it
    evicts exactly the long-range edges beam escape depends on, measured
    as a recall REGRESSION under refinement on uniform data before r8).
    Pruned candidates back-fill remaining slots by score
    (keepPrunedConnections), so degree stays at cap and near-neighbor
    quality never drops below the plain cap's.

    Scale shape: ONE vector-attach broadcast-free join + ONE keyed
    shuffle to group each src's <= (2M + proposals) candidate rows;
    the Arrow-batched per-group selection is O(cap * k * dim) — the same
    order as scoring the pairs at all. Only refinement pays this
    (refine_rounds=0 builds never call it)."""
    from pyspark.sql.types import StructType

    out_schema = StructType([edges.schema["src"], edges.schema["dst"],
                             edges.schema["score"]])
    dv = nodes_iv.select(F.col("id").alias("dst"), F.col("vector").alias("_dv"))
    g = edges.join(dv, "dst")
    mt = metric.upper()

    def select(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["score", "dst"], ascending=[False, True],
                              kind="mergesort").reset_index(drop=True)
        vecs = np.array(pdf["_dv"].tolist(), dtype=np.float64)
        if mt == "COSINE":
            n = np.linalg.norm(vecs, axis=1, keepdims=True)
            n[n == 0.0] = 1.0
            vecs = vecs / n
        scores = pdf["score"].to_numpy()
        k = len(pdf)
        # one BLAS pass precomputes all candidate-candidate sims (k is
        # bounded by 2M + the round's proposals, ~1k at M=16; the per-pair
        # numpy-call version of this loop was 6x slower end-to-end)
        g = vecs @ vecs.T
        if mt == "L2":
            sq = np.einsum("ij,ij->i", vecs, vecs)
            g = -(sq[:, None] + sq[None, :] - 2.0 * g)
        kept: list[int] = []
        pruned: list[int] = []
        for i in range(k):
            if len(kept) >= cap:
                break
            if kept and bool((g[i, kept] > scores[i]).any()):
                pruned.append(i)
            else:
                kept.append(i)
        for i in pruned:
            if len(kept) >= cap:
                break
            kept.append(i)
        return pdf.iloc[sorted(kept)][["src", "dst", "score"]]

    return g.groupBy("src").applyInPandas(select, out_schema)


def compact_hnsw(index: HnswIndex, spark: SparkSession) -> None:
    """Re-cap appended edges at Mmax=2M (append leaves reverse edges
    un-recapped — correct but degree-inflating; this is the DiskANN-style
    periodic cleanup). r8: the cap is the same heuristic neighbor
    selection refinement uses (_heuristic_cap) — a plain top-by-score cap
    on the append path evicts long-range edges exactly as it did in
    refinement, and compaction is the one moment the append path decides
    which edges survive. Cost: compaction (a periodic maintenance job,
    not a query) shuffles latest-version dst vectors into per-src Arrow
    groups — O(edges) rows once per compact, amortized over the appends
    that triggered it. Crash-safe rewrite: the live `edges` dir is
    RENAMED aside (edges__old) before the built replacement swaps in, so
    at every instant either the old or the new table is openable — a
    crash between the two steps leaves edges__old, which open_hnsw
    recovers (never a window with no edges table, the failure mode of the
    earlier rmtree-then-replace order)."""
    import shutil

    edges_path = os.path.join(index.path, "edges")
    cap = 2 * int(index.meta["M"])
    tmp = edges_path + "__compacting"
    old = edges_path + "__old"
    nodes = index.nodes(spark)
    nodes_iv = nodes.select(F.col(index.id_col).alias("id"),
                            F.col(index.vector_col).alias("vector"),
                            *(["batch_ts"] if "batch_ts" in nodes.columns
                              else []))
    if "batch_ts" in nodes_iv.columns:
        nodes_iv = latest_wins(nodes_iv).drop("batch_ts")
    (
        _heuristic_cap(
            spark.read.parquet(edges_path)
            .groupBy("src", "dst").agg(F.max("score").alias("score")),
            nodes_iv, cap, index.metric)
        .repartitionByRange(8, F.col("src"))
        .sortWithinPartitions("src", "dst")
        .write.mode("overwrite").parquet(tmp)
    )
    if os.path.exists(old):       # leftover from an earlier crashed compact
        shutil.rmtree(old)
    os.replace(edges_path, old)   # step 1: old table aside (atomic rename)
    os.replace(tmp, edges_path)   # step 2: new table live (atomic rename)
    shutil.rmtree(old)            # step 3: drop the superseded copy
    index._edges_df = None
    index._graph_ram = None
    # reset the growth accounting: the capped table is the new base for
    # append()'s auto-compact scheduling. Count rides parquet row-group
    # metadata (count-star over a fresh scan, no data columns read).
    index.meta["edges_base"] = spark.read.parquet(edges_path).count()
    index.meta["edges_appended"] = 0
    index.meta["compactions"] = int(index.meta.get("compactions", 0)) + 1
    with open(os.path.join(index.path, "_hnsw_meta.json"), "w") as f:
        json.dump(index.meta, f)


def _recover_edges(path: str) -> None:
    """Crash recovery for compact_hnsw's rename pair: if `edges` is
    missing but `edges__old` exists (crash between step 1 and step 2),
    restore the old table; a stale `edges__compacting` alongside a live
    `edges` is an aborted build output and is removed.

    Three rules keep recovery from racing live work:
    - A healthy index (edges present) is returned untouched — readers do
      NOT clean cosmetic leftovers (a stale __compacting beside a live
      table), because taking the writer lock from the read path would make
      a concurrent writer's fail-fast insert raise spuriously; the next
      compaction's own leftover handling removes them.
    - When edges IS missing, recovery runs under the collection writer
      lock so it can only repair a CRASHED compaction, never interleave
      with a live one (restoring edges__old between a live compactor's two
      renames would break its step-2 replace).
    - If THIS process already holds the writer lock (open_hnsw called from
      the locked ingest path — a fresh WriterLock instance cannot see the
      holder's reentrancy depth), recovery proceeds without re-acquiring:
      the on-disk crash state predates our lock, and we ARE the writer."""
    import json as _json
    import shutil
    import socket

    edges_path = os.path.join(path, "edges")
    old = edges_path + "__old"
    tmp = edges_path + "__compacting"
    if os.path.exists(edges_path) or not os.path.exists(old):
        return  # healthy (or nothing restorable): never touched from reads
    from flouds_vectordb_spark.locks import ConcurrentWriteError, WriterLock

    # the index lives at <collection>__hnsw; the ingest lock one level up
    base = path[:-len("__hnsw")] if path.endswith("__hnsw") else path
    lock = WriterLock(base.rstrip("/") + "__writer.lock")
    held_by_me = False
    try:
        with open(lock.lock_path) as f:
            owner = _json.load(f)
        held_by_me = (owner.get("pid") == os.getpid()
                      and owner.get("host") == socket.gethostname())
    except (OSError, ValueError):
        pass
    if not held_by_me:
        try:
            lock.acquire()
        except ConcurrentWriteError:
            return  # live writer mid-compaction: its state, its cleanup
    try:
        if not os.path.exists(edges_path) and os.path.exists(old):
            os.replace(old, edges_path)
        if os.path.exists(edges_path) and os.path.exists(tmp):
            shutil.rmtree(tmp)
    finally:
        if not held_by_me:
            lock.release()


def build_hnsw(
    df: DataFrame,
    path: str,
    m: int = DEFAULT_M,
    metric: str = "COSINE",
    id_col: str = "id",
    vector_col: str = "vector",
    cell_target: int = CELL_TARGET,
    seed: int = 42,
    refine_rounds: int = 0,
) -> HnswIndex:
    """Build the graph: coarse cells -> intra-cell top-M adjacency ->
    cross-cell merge -> symmetrize+cap -> entry medoids. Writes
    path/{nodes,edges} (range-partitioned, sorted for IN-pushdown skipping)
    and path/_hnsw_meta.json."""
    metric = metric.upper()
    spark = df.sparkSession
    n = df.count()
    if n == 0:
        raise ValueError("cannot build a graph index on an empty collection")
    ncells = max(1, -(-n // cell_target))  # tracks n — no upper clip

    # centroid training: same deterministic hash-stride sample as plans/ivf.py
    stride = max(1, -(-n // SAMPLE_CAP))
    sample = (
        df.select(F.col(vector_col))
        .filter(F.pmod(F.hash(F.col(vector_col)), F.lit(stride)) == 0)
        .collect()
    )
    if not sample:
        sample = df.select(F.col(vector_col)).limit(SAMPLE_CAP).collect()
    x = np.array([r[0] for r in sample], dtype=np.float64)
    if x.shape[0] > 1:
        x = x[np.lexsort(x.T[::-1])][:SAMPLE_CAP]
    if metric == "COSINE":
        x = _normalize_rows(x)
    centroids = _train_centroids(x, ncells, metric, seed=seed)
    centroids = _split_oversized_sample(x, centroids, n, cell_target, metric,
                                        seed=seed)

    def _assign(cents: np.ndarray) -> DataFrame:
        return (
            df.withColumn("_a", _cells_udf(cents, metric)(F.col(vector_col)))
            .withColumn("_cell", F.col("_a.cells")[0])
            .withColumn("_d0", F.col("_a.d0"))
            .transform(tracked_persist)
        )

    assigned = _assign(centroids)
    # distributed verification: the sample estimate can miss skew the
    # sample under-covers, so check TRUE cell sizes (one agg over the
    # persisted assignment) and split what remains from bounded,
    # deterministically-ordered per-cell samples. Normally zero extra
    # passes; at most 2 refinement rounds, then a warning.
    bound = SPLIT_FACTOR * cell_target
    refined = 0
    while True:
        counts = {
            int(r["_cell"]): int(r["cnt"])
            for r in assigned.groupBy("_cell").agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") > bound).collect()
        }
        if not counts:
            break
        if refined >= 2:
            warnings.warn(
                f"{len(counts)} graph-build cells remain above {bound} rows "
                "after refinement (degenerate/duplicate-heavy region); build "
                "proceeds with oversized pairwise batches", stacklevel=2)
            break
        strides = spark.createDataFrame(
            [(c, max(1, -(-cnt // PER_CELL_SAMPLE)))
             for c, cnt in sorted(counts.items())], "c int, _stride int")
        rows = (
            assigned.join(F.broadcast(strides),
                          assigned["_cell"] == strides["c"])
            .filter(F.pmod(F.hash(F.col(vector_col)), F.col("_stride")) == 0)
            .select("c", vector_col).collect()
        )
        groups: dict = {}
        for r in rows:
            groups.setdefault(int(r["c"]), []).append(r[vector_col])
        split_set = set(counts)
        parts = [centroids[[i for i in range(len(centroids))
                            if i not in split_set]]]
        for c in sorted(split_set):
            mem = np.array(groups.get(c, []), dtype=np.float64)
            if mem.ndim != 2 or len(mem) < 2:
                parts.append(centroids[[c]])
                continue
            # canonical row order before the seeded k-means: collect order
            # is partition-dependent, the sub-split must not be
            mem = mem[np.lexsort(mem.T[::-1])][:PER_CELL_SAMPLE]
            if metric == "COSINE":
                mem = _normalize_rows(mem)
            kc = min(len(mem), max(2, -(-counts[c] // cell_target)))
            parts.append(_kmeans(mem, kc, seed=seed + 31 * (c + 1)))
        centroids = np.vstack(parts)
        assigned.unpersist()
        assigned = _assign(centroids)
        refined += 1
    ncells = len(centroids)
    try:
        # nodes: full rows + primary cell, laid out for id IN-pushdown
        (
            assigned.drop("_a", "_d0")
            .repartitionByRange(8, F.col(id_col))
            .sortWithinPartitions(id_col)
            .write.mode("overwrite").parquet(os.path.join(path, "nodes"))
        )

        # intra-cell adjacency: pairwise INSIDE one Arrow batch per cell
        exploded = assigned.select(
            id_col, vector_col, F.explode("_a.cells").alias("_cell"))
        id_t = dict(df.dtypes)[id_col]

        def cell_topm(pdf: pd.DataFrame) -> pd.DataFrame:
            g = len(pdf)
            if g < 2:
                return pd.DataFrame({"src": [], "dst": [], "score": []}).astype(
                    {"score": "float64"})
            ids = pdf[id_col].to_numpy()
            vecs = np.array(pdf[vector_col].tolist(), dtype=np.float64)
            if metric == "IP":
                s = vecs @ vecs.T
            elif metric == "L2":
                s = -_pairwise_d2(vecs, vecs)
            else:
                nv = _normalize_rows(vecs)
                s = np.clip(nv @ nv.T, -1.0, 1.0)
            np.fill_diagonal(s, -np.inf)
            k = min(m, g - 1)
            # deterministic top-k per row: sort by (-score, id), fully
            # vectorized (r7 — the per-row Python loop dominated the 600k
            # build profile): reorder columns by id once, then one stable
            # axis-1 argsort keeps id order on score ties for EVERY row
            ordid = np.argsort(ids, kind="stable")
            so = s[:, ordid]
            top = np.argsort(-so, axis=1, kind="stable")[:, :k]
            return pd.DataFrame({
                "src": np.repeat(ids, k),
                "dst": ids[ordid[top]].ravel(),
                "score": np.take_along_axis(so, top, axis=1).ravel(),
            })

        intra = exploded.groupBy("_cell").applyInPandas(
            cell_topm, schema=f"src {id_t}, dst {id_t}, score double")

        # merge across the 2 cells, cap M; symmetrize, cap Mmax=2M
        w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
        fwd = (
            intra.groupBy("src", "dst").agg(F.max("score").alias("score"))
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= m).drop("_r")
        )
        sym = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                       "score"))
        edges = (
            sym.groupBy("src", "dst").agg(F.max("score").alias("score"))
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= 2 * m).drop("_r")
        )
        # optional NN-descent refinement: cell-local candidate generation
        # misses long-range neighbors on weakly clustered corpora;
        # neighbor-of-neighbor rounds recover them (checkpoint per round —
        # the iterative-plan lineage discipline, as in dedup_components)
        if refine_rounds:
            nodes_iv = assigned.select(F.col(id_col).alias("id"),
                                       F.col(vector_col).alias("vector"))
            for _ in range(int(refine_rounds)):
                # the round returns an eager local checkpoint (it manages
                # its own intra-round persist lifetime)
                edges = _nn_descent_round(edges, nodes_iv, m, metric)
        (
            edges.repartitionByRange(8, F.col("src"))
            .sortWithinPartitions("src", "dst")
            .write.mode("overwrite").parquet(os.path.join(path, "edges"))
        )

        # entry points: per-cell medoid (nearest row to the cell centroid)
        medoids = (
            assigned.groupBy("_cell")
            .agg(F.min_by(F.col(id_col), F.struct("_d0", id_col)).alias("_m"))
            .select("_m").collect()
        )
        entry_ids = sorted([r[0] for r in medoids],
                           key=lambda v: (str(type(v)), v))
    finally:
        assigned.unpersist()

    meta = {
        "metric": metric, "M": int(m), "ncells": int(ncells), "n": int(n),
        "build_rev": BUILD_REV,
        "refine_rounds": int(refine_rounds), "cell_target": int(cell_target),
        "id_col": id_col, "vector_col": vector_col,
        "entry_ids": entry_ids, "centroids": centroids.tolist(),
        # growth accounting for append()'s auto-compact scheduling; the
        # appends counter also gates the beam's per-round version dedup
        "edges_base": df.sparkSession.read.parquet(
            os.path.join(path, "edges")).count(),
        "edges_appended": 0,
        "appends": 0,
    }
    with open(os.path.join(path, "_hnsw_meta.json"), "w") as f:
        json.dump(meta, f)
    return HnswIndex(path, meta)


def open_hnsw(path: str) -> HnswIndex:
    _recover_edges(path)
    with open(os.path.join(path, "_hnsw_meta.json")) as f:
        return HnswIndex(path, json.load(f))


# get_or_build_hnsw validates the cached graph against the input row count
# (a cheap corpus fingerprint, r5 advice). That count is a Spark JOB; paying
# it on EVERY call turns a cache hit into cache-hit-plus-count (measured
# ~0.4-1.4 s per search on the sf0.1 gate — the whole r6 q1_hnsw_topk
# regression). A path validated once per PROCESS stays validated: only an
# out-of-process corpus swap could invalidate it mid-run, the same exposure
# every process-cached flow artifact already accepts (queries.py _flow_once).
# r8: the memo holds (params, HnswIndex) so repeat opens reuse the SAME
# index object — its nodes/edges reader handles survive across calls,
# saving two parquet file-listing jobs per search on the hot gates.
_VALIDATED_PATHS: dict[str, tuple] = {}


def invalidate_hnsw_cache(path: str | None = None) -> None:
    """Drop the process-level validation memo (one path, or all). Call
    after changing the corpus a cached graph was built from WITHIN this
    process — the next get_or_build_hnsw re-runs the row-count
    fingerprint and rebuilds on mismatch."""
    if path is None:
        _VALIDATED_PATHS.clear()
    else:
        _VALIDATED_PATHS.pop(path, None)


def get_or_build_hnsw(df: DataFrame, path: str, m: int = DEFAULT_M,
                      metric: str = "COSINE", id_col: str = "id",
                      vector_col: str = "vector",
                      cell_target: int = CELL_TARGET,
                      refine_rounds: int = 0,
                      force_rebuild: bool = False) -> HnswIndex:
    """Reuse the cached graph only when built with the SAME params AND the
    same input cardinality — cell_target and the row count are part of the
    key, so changing the build knob or the underlying df (grown/shrunk
    corpus) rebuilds instead of silently reusing a stale graph. (Row count
    is a cheap fingerprint, not a content hash: an equal-size content swap
    still requires an explicit rebuild, documented limitation. The count
    job runs once per (process, path, params); later calls in the same
    process skip straight to open. Consequence, ADVICE r6: an IN-PROCESS
    corpus change after the first validated call is NOT detected — call
    invalidate_hnsw_cache(path) after mutating the source, or pass
    force_rebuild=True to bypass the cache entirely.)"""
    params = (metric.upper(), int(m), int(refine_rounds), int(cell_target),
              id_col, vector_col)
    meta_p = os.path.join(path, "_hnsw_meta.json")
    if force_rebuild:
        _VALIDATED_PATHS.pop(path, None)
    if not force_rebuild and os.path.exists(meta_p):
        with open(meta_p) as f:
            meta = json.load(f)
        memo = _VALIDATED_PATHS.get(path)
        if (meta["metric"] == metric.upper() and meta["M"] == int(m)
                and meta.get("build_rev", 1) == BUILD_REV
                and meta.get("refine_rounds", 0) == int(refine_rounds)
                and meta.get("cell_target") == int(cell_target)
                and meta["id_col"] == id_col and meta["vector_col"] == vector_col
                and ((memo is not None and memo[0] == params)
                     or meta.get("n") == df.count())):
            if memo is not None and memo[0] == params:
                return memo[1]
            _recover_edges(path)
            idx = HnswIndex(path, meta)
            _VALIDATED_PATHS[path] = (params, idx)
            return idx
    idx = build_hnsw(df, path, m=m, metric=metric, id_col=id_col,
                     vector_col=vector_col, cell_target=cell_target,
                     refine_rounds=refine_rounds)
    _VALIDATED_PATHS[path] = (params, idx)
    return idx
