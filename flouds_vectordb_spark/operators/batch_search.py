"""Batched multi-query dense search — amortizing the per-query job floor.

Every single-query index path (plans/ivf.py `IvfIndex.search`, the SQ8/PQ
decode paths in operators/upsert.py `CollectionWriter.search`) costs at
least one driver-coordinated Spark job per query — the reference has the
same one-request shape (app/routers/vector.py:130-164 /
app/milvus/vector_store.py:464-517), but a 100 TB training pipeline issues
retrieval queries by the million (distillation retrieval, corpus-vs-corpus
dedup), where a per-query job floor of ~0.2-0.5 s is the real bottleneck.

This module is the set-of-queries shape:

- a block of (qid, vector) queries is held driver-side (queries are the
  small side; the corpus never moves),
- ONE scan scores every query: one mapInArrow kernel (`_block_scores`)
  closes over the query matrix and scores each Arrow batch of the scan
  against the whole block in numpy; the IVF path prunes the scan to the
  UNION of probed cells and the kernel scores each row only against the
  queries that probed its cell,
- the k-cut is ONE per-qid window over (qid, id, score) scalars — the
  shuffle carries no vectors and no payload (late materialization: payload
  joins back for the <= nq*fetch survivors only),
- the full single-query post-filter pipeline (score_threshold, empty-chunk
  drop, text filter, meta_required, meta_filter, projection — the
  vector_store.py:519-582 chain) applies unchanged; the request TEMPLATE is
  shared by all queries (the batch-retrieval shape: one search config, many
  vectors).

Scoring determinism matches functions/vector.py's oracle contract: the
kernel runs vector.fold_scores, the per-pair sequential float64 left-fold
of score_expr element by element, so every score has the bits the SQL
fold (and DuckDB) computes. The per-query norms (COSINE) are computed
ONCE driver-side with the same fold (the literal the DuckDB twin splices
in); the document norm is folded once per row of a batch. The kernel
emits no pair the SQL fold scores NULL: a NULL or wrong-length vector, a
NULL element, a COSINE zero denominator. Why not SQL: the block used to
be a broadcast nested-loop join scored by `aggregate(zip_with(...))`,
and Spark runs both higher-order functions interpreted; a 64-query block
over 2,000 dim-64 rows spent ~1-2 s in that fold on one core.

Memory: the kernel scores QUERY_CHUNK queries at a time, so its working
set is batch rows x QUERY_CHUNK doubles per array at any block size.

Scale notes (100 TB): the query block ships inside the kernel's closure;
candidate volume is sum_q(nprobe * cell_rows) pairs of 3 scalars; the
per-qid window compiles to one hash-partitioned sort over those scalars.
At 1000 executors the probed scan parallelizes over cells and the window
over qids — no driver loop, no per-query job.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from flouds_vectordb_spark.functions import vector as V
from flouds_vectordb_spark.functions.local import json_df
from flouds_vectordb_spark.functions.text import text_filter_predicate, text_filter_sql
from flouds_vectordb_spark.operators.dense_search import (
    RANK_DECIMALS,
    DenseSearchRequest,
    meta_filter_predicate,
    meta_kv_column,
)

QueryBatch = Sequence[tuple[int, Sequence[float]]]


def _check_batch(queries: QueryBatch) -> int:
    if not queries:
        raise ValueError("search_many requires at least one (qid, vector) query")
    dims = {len(v) for _, v in queries}
    if len(dims) != 1:
        raise ValueError(f"all query vectors must share one dimension, got {sorted(dims)}")
    qids = [int(q) for q, _ in queries]
    if len(set(qids)) != len(qids):
        raise ValueError("duplicate qids in query batch")
    return dims.pop()


def query_block(spark: SparkSession, queries: QueryBatch) -> DataFrame:
    """The broadcastable query block: (qid, _qv, _qn). _qn is the
    driver-side sequential-fold L2 norm (functions/vector.py:query_norm) —
    the SAME literal both engines divide by for COSINE."""
    queries = list(queries)
    _check_batch(queries)
    return json_df(spark, [(q, v, V.query_norm(list(v))) for q, v in queries],
                   "qid bigint, _qv array<double>, _qn double")


def _vec_ref(vector_col: str) -> str:
    ref = V.column_ref(vector_col)
    if ref is None:
        raise ValueError(f"vector_col must be a plain column name, got {vector_col!r}")
    return ref


def _pair_score(metric: str, vector_col: str) -> Column:
    """Per-(row, query) score against the block's _qv/_qn columns; the same
    larger-is-better convention and fold order as metric_score_q. For
    pairs that are not a cross product (the HNSW frontier); blocks score
    through _block_scores."""
    return F.expr(V.score_expr(metric, _vec_ref(vector_col), "_qv", "_qn"))


# Queries one kernel pass scores against a batch: bounds the working set
# to batch rows x QUERY_CHUNK doubles per array, whatever the block size.
QUERY_CHUNK = 64


def _vectors(vec: pa.ListArray, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(rows, x): the rows of an Arrow batch whose vector the SQL fold
    scores against a dim-long query — non-NULL, exactly dim elements,
    none NULL (zip_with pads a wrong length with NULL, and a NULL
    product makes the fold NULL) — and their vectors as an (n, dim)
    float64 matrix, the CAST(x AS DOUBLE) of each element."""
    lens = vec.value_lengths().fill_null(-1).to_numpy()
    rows = np.flatnonzero(lens == dim)
    at = vec.offsets.to_numpy()[rows, None] + np.arange(dim)
    vals = vec.values
    if vals.null_count:
        ok = ~vals.is_null().to_numpy(zero_copy_only=False)[at].any(axis=1)
        rows, at = rows[ok], at[ok]
    x = vals.to_numpy(zero_copy_only=False)[at]
    return rows, np.asfortranarray(x, dtype=np.float64)


def _block_kernel(queries: list, metric: str, cells=None):
    """The mapInArrow function of a block scan: (_id, _v[, _cell])
    batches in, (qid, _id, _score) batches out. Closes over the query
    matrix and the driver-side query norms. With cells (per query, its
    probed cell ids) a row is scored only against the queries that
    probed its cell, as the old (qid, cell) equi-join did."""
    m = metric.upper()
    qids = np.array([int(q) for q, _ in queries], dtype=np.int64)
    qm = np.array([[float(x) for x in v] for _, v in queries],
                  dtype=np.float64).reshape(len(queries), -1)
    qn = np.array([V.query_norm(list(v)) for _, v in queries], dtype=np.float64)
    dim = qm.shape[1]
    everyone = np.arange(len(queries))
    probed: dict[int, list[int]] = {}
    for qi, row in enumerate(() if cells is None else cells):
        for c in row:
            probed.setdefault(int(c), []).append(qi)
    probers = {c: np.array(qis) for c, qis in probed.items()}

    def kernel(batches):
        for b in batches:
            rows, x = _vectors(b.column(1), dim)
            if cells is None:
                groups = [(rows, x, everyone)]
            else:
                cell = b.column(2).fill_null(-1).to_numpy()[rows]
                groups = [(rows[cell == c], x[cell == c], probers[int(c)])
                          for c in np.unique(cell) if int(c) in probers]
            for grows, gx, qsel in groups:
                if not len(grows):
                    continue
                dn = V.fold_norms(gx) if m == "COSINE" else None
                for c0 in range(0, len(qsel), QUERY_CHUNK):
                    qi = qsel[c0:c0 + QUERY_CHUNK]
                    score, keep = V.fold_scores(m, gx, qm[qi], qn[qi], dn)
                    r, k = np.nonzero(keep)
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(qids[qi][k]), b.column(0).take(grows[r]),
                         pa.array(score[r, k])],
                        names=["qid", "_id", "_score"])

    return kernel


def _block_scores(df: DataFrame, queries: QueryBatch, metric: str,
                  id_col: str, vector_col: str, cells=None) -> DataFrame:
    """(qid, _id, _score) for every (row, query) pair of df the SQL fold
    scores non-NULL, in one mapInArrow pass over df. cells: per query
    (in batch order) its probed cell ids; df then carries `centroid_id`
    and a row pairs only with the queries that probed its cell."""
    queries = list(queries)
    _check_batch(queries)
    if metric.upper() not in ("COSINE", "L2", "IP"):
        raise ValueError(f"unsupported metric {metric!r} (expected COSINE, L2, IP)")
    cols = [F.col(id_col).alias("_id"), F.col(vector_col).alias("_v")]
    if cells is not None:
        cols.append(F.col("centroid_id").alias("_cell"))
    src = df.select(*cols)
    if not isinstance(src.schema["_v"].dataType, ArrayType):
        raise ValueError(f"vector_col {vector_col!r} is not an array column")
    schema = StructType([StructField("qid", LongType()), src.schema["_id"],
                         StructField("_score", DoubleType())])
    return src.mapInArrow(_block_kernel(queries, metric, cells), schema)


def _ranked_pipeline(
    cand: DataFrame,
    payload_df: DataFrame | None,
    req: DenseSearchRequest,
    id_col: str,
    chunk_col: str | None,
    meta_col: str | None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shared tail of every search_many variant. cand: (qid, _id, _score)
    candidate pairs (scalars only). Mirrors dense_search's phases with
    every window PARTITIONED BY qid."""
    if req.effective_text_filter is not None and chunk_col is None:
        raise ValueError("text_filter requires chunk_col")
    if (req.meta_filter or req.meta_required) and meta_col is None:
        raise ValueError("meta_filter/meta_required require meta_col")

    slim = (
        cand.filter(F.col("_score").isNotNull())
        .withColumn("_score_r", F.round(F.col("_score"), RANK_DECIMALS))
    )
    lo, hi = req.score_bounds()
    if lo is not None:
        slim = slim.filter(F.col("_score") > F.lit(lo))
    if hi is not None:
        slim = slim.filter(F.col("_score") <= F.lit(hi))

    fetch = req.fetch + req.offset
    w = Window.partitionBy("qid").orderBy(F.col("_score_r").desc(), F.col("_id").asc())
    topk = (
        slim.withColumn("_pre", F.row_number().over(w))
        .filter((F.col("_pre") > req.offset) & (F.col("_pre") <= fetch))
        .drop("_pre")
    )

    # late materialization: payload joins back for the <= nq*fetch survivors
    meta_out = meta_col is not None and "meta" in req.effective_output_fields
    need_meta = bool(req.meta_filter or req.meta_required) or meta_out
    payload = [c for c in (chunk_col, meta_col if need_meta else None, *extra_cols) if c]
    if payload:
        if payload_df is None:
            raise ValueError("payload columns requested but no payload_df given")
        keep = list(dict.fromkeys([id_col, *payload]))
        out = (
            payload_df.select(*keep)
            .join(F.broadcast(topk), F.col(id_col) == F.col("_id"), "inner")
            .drop("_id")
        )
    else:
        out = topk.withColumnRenamed("_id", id_col)

    # post-filter chain — identical predicates to dense_search phase 3
    if req.score_threshold is not None:
        milvus_score = -F.col("_score") if req.metric.upper() == "L2" else F.col("_score")
        out = out.filter(
            F.round(milvus_score, req.threshold_decimals)
            >= F.lit(float(req.score_threshold)))
    if chunk_col is not None:
        out = out.filter(F.col(chunk_col).isNotNull() & (F.col(chunk_col) != ""))
    if req.effective_text_filter is not None:
        out = out.filter(text_filter_predicate(
            F.col(chunk_col), req.effective_text_filter,
            req.minimum_words_match, req.include_stop_words))
    if req.meta_required:
        out = out.filter(F.size(F.col(meta_col)) > 0)
    if req.meta_filter:
        out = out.filter(meta_filter_predicate(F.col(meta_col), req.meta_filter))

    wf = Window.partitionBy("qid").orderBy(F.col("_score_r").desc(), F.col(id_col).asc())
    out = (out.withColumn("rank", F.row_number().over(wf))
           .filter(F.col("rank") <= req.effective_limit))

    rd = req.effective_round_decimal
    dec = rd if rd > 0 else RANK_DECIMALS
    cols = [F.col("qid"), F.col(id_col), F.col("rank"),
            F.round(F.col("_score"), dec).alias("score")]
    if chunk_col and "chunk" in req.effective_output_fields:
        cols.append(F.col(chunk_col))
    if meta_out:
        cols.append(meta_kv_column(meta_col))
    cols += [F.col(c) for c in extra_cols]
    return out.select(*cols)


def dense_search_many(
    df: DataFrame,
    queries: QueryBatch,
    req: DenseSearchRequest,
    id_col: str = "id",
    vector_col: str = "vector",
    chunk_col: str | None = None,
    meta_col: str | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact batched search: ONE corpus scan scores every query (the
    _block_scores kernel), one per-qid window k-cut.
    Returns (qid, id, rank, score [, chunk, meta_kv, extra...]) with rank
    1-based per qid. req.query_vector is IGNORED — the batch supplies the
    vectors; every other request knob applies to all queries."""
    cand = _block_scores(df, queries, req.metric, id_col, vector_col)
    return _ranked_pipeline(cand, df, req, id_col, chunk_col, meta_col, extra_cols)


def ivf_search_many(
    idx,
    spark: SparkSession,
    queries: QueryBatch,
    req: DenseSearchRequest,
    scan_df: DataFrame | None = None,
    payload_df: DataFrame | None = None,
    nprobe: int | None = None,
    id_col: str = "id",
    vector_col: str = "vector",
    chunk_col: str | None = None,
    meta_col: str | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """IVF-pruned batched search over a built IvfIndex (plans/ivf.py):
    per-query probe cells are computed driver-side in one vectorized numpy
    pass, the scan is pruned to the UNION of probed cells, and the
    kernel scores each scanned row against exactly the queries that
    probed its cell. scan_df overrides the raw IVF layout with an
    already-pruned-and-decoded table (the SQ8/PQ paths); it must carry
    `centroid_id`. payload_df supplies chunk/meta/extra columns when the
    request needs them (defaults to scan_df/the raw scan)."""
    queries = list(queries)
    _check_batch(queries)
    qmat = np.array([[float(x) for x in v] for _, v in queries], dtype=np.float64)
    cells = idx.probe_cells_many(qmat, req.nprobe if nprobe is None else nprobe)
    union_cells = sorted({int(c) for row in cells for c in row})

    scan = scan_df if scan_df is not None else idx.scan(spark, union_cells)
    cand = _block_scores(scan, queries, req.metric, id_col, vector_col, cells)
    if payload_df is None:
        payload_df = scan  # same pruned plan — never a second footer trip
    return _ranked_pipeline(cand, payload_df, req, id_col, chunk_col, meta_col,
                            extra_cols)


# --- DuckDB oracle twin ------------------------------------------------------

def queries_values_sql(queries: QueryBatch) -> str:
    """The query block as a FROM-able VALUES subquery (qid, qv, qn) — qn is
    the SAME driver-computed literal the Spark side broadcasts."""
    queries = list(queries)
    _check_batch(queries)
    rows = ", ".join(
        f"({int(q)}::BIGINT, {V.query_sql_literal(list(v))}, "
        f"({V.query_norm(list(v))!r}::DOUBLE))"
        for q, v in queries)
    return f"(SELECT * FROM (VALUES {rows}) AS _qv(qid, qv, qn))"


def _pair_score_sql(metric: str, vec_expr: str, dim: int) -> str:
    """DuckDB twin of _pair_score against the q.qv/q.qn block columns, with
    the ragged-vector guard (Spark's zip_with NULL-pads -> NULL score;
    DuckDB's list_sum would silently skip)."""
    m = metric.upper()
    if m == "IP":
        score = V.dot_sql(vec_expr, "q.qv")
    elif m == "L2":
        score = V.l2_sql(vec_expr, "q.qv")
    elif m == "COSINE":
        score = f"({V.dot_sql(vec_expr, 'q.qv')} / nullif({V.norm_sql(vec_expr)} * q.qn, 0))"
    else:
        raise ValueError(f"unsupported metric {metric!r}")
    return f"(CASE WHEN len({vec_expr}) = {dim} THEN {score} ELSE NULL END)"


def dense_search_many_sql(
    req: DenseSearchRequest,
    queries: QueryBatch,
    table_sql: str,
    id_expr: str,
    vector_expr: str,
    chunk_expr: str | None = None,
    meta_exprs: dict[str, str] | None = None,
    meta_size_expr: str | None = None,
    meta_kv_expr: str | None = None,
) -> str:
    """Oracle twin of dense_search_many / ivf_search_many: the EXACT
    batched search (full scan — an index whose fixture is recall-safe must
    match it). Window partitioning and tie-breaks mirror the engine."""
    dim = _check_batch(queries)
    if req.effective_text_filter is not None and chunk_expr is None:
        raise ValueError("text_filter requires chunk_expr")
    score = _pair_score_sql(req.metric, vector_expr, dim)

    where = ["_score IS NOT NULL"]
    lo, hi = req.score_bounds()
    if lo is not None:
        where.append(f"_score > ({lo!r}::DOUBLE)")
    if hi is not None:
        where.append(f"_score <= ({hi!r}::DOUBLE)")
    fetch = req.fetch + req.offset

    post = ["TRUE"]
    if req.score_threshold is not None:
        ms = "(-_score)" if req.metric.upper() == "L2" else "_score"
        post.append(
            f"round({ms}, {req.threshold_decimals}) >= ({float(req.score_threshold)!r}::DOUBLE)")
    if chunk_expr is not None:
        post.append("(chunk IS NOT NULL AND chunk <> '')")
    if req.effective_text_filter is not None:
        post.append(text_filter_sql("chunk", req.effective_text_filter,
                                    req.minimum_words_match, req.include_stop_words))
    if req.meta_required:
        post.append("_meta_n > 0")
    meta_sel = ""
    for i, (k, v) in enumerate((req.meta_filter or {}).items()):
        e = (meta_exprs or {})[k]
        meta_sel += f", {e} AS _meta_{i}"
        vv = v.lower().replace("'", "''")
        post.append(f"(_meta_{i} IS NOT NULL AND instr(lower(_meta_{i}), '{vv}') > 0)")

    rd = req.effective_round_decimal
    dec = rd if rd > 0 else RANK_DECIMALS
    with_chunk = chunk_expr is not None and "chunk" in req.effective_output_fields
    with_meta = meta_kv_expr is not None and "meta" in req.effective_output_fields
    chunk_sel = f", {chunk_expr} AS chunk" if chunk_expr else ""
    meta_sel_out = f", {meta_kv_expr} AS meta_kv" if with_meta else ""
    chunk_out = ", chunk" if with_chunk else ""
    meta_out = ", meta_kv" if with_meta else ""
    return f"""
WITH scored AS (
  SELECT q.qid AS qid, {id_expr} AS id, {score} AS _score
         {chunk_sel}{meta_sel_out}{meta_sel},
         {meta_size_expr if meta_size_expr is not None else '0'} AS _meta_n
  FROM {table_sql} AS _t CROSS JOIN {queries_values_sql(queries)} AS q
),
topk AS (
  SELECT * FROM (
    SELECT *, round(_score, {RANK_DECIMALS}) AS _score_r,
           row_number() OVER (PARTITION BY qid
                              ORDER BY round(_score, {RANK_DECIMALS}) DESC, id ASC) AS _pre
    FROM scored WHERE {' AND '.join(where)}
  ) WHERE _pre > {req.offset} AND _pre <= {fetch}
),
filtered AS (
  SELECT * FROM topk WHERE {' AND '.join(post)}
)
SELECT qid, id, rank, score{chunk_out}{meta_out} FROM (
  SELECT qid, id,
         row_number() OVER (PARTITION BY qid ORDER BY _score_r DESC, id ASC) AS rank,
         round(_score, {dec}) AS score{chunk_out}{meta_out}
  FROM filtered
) WHERE rank <= {req.effective_limit}
"""
