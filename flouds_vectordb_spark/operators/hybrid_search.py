"""Hybrid dense+sparse search with Reciprocal Rank Fusion (Q4 + Q14).

Reference behavior reproduced (citations into /root/reference):
- `hybrid_search_store` (app/milvus/vector_store.py:594-670): per-branch
  limit = min(limit, 50) (:609); dense branch runs the request's metric;
  sparse branch runs ONLY when text_filter is non-empty — in hybrid mode
  text_filter is the sparse QUERY, not a keyword post-filter.
- `_combine_hybrid_results` (:694-795): 1-based ranks per branch; keys
  unioned (dedup across branches = Q14); RRF(d) = Σ 1/(60 + rank)
  (`_calculate_rrf_scores` :797-822, k=60); sort by RRF desc.
- Post pipeline on the fused order: score_threshold compares the ORIGINAL
  dense score — sparse-only hits bypass it (:766-770); empty-chunk drop;
  meta_required / meta_filter; trim to the ORIGINAL limit (:791-795).
- Tie-break: the reference relies on Python's stable sort (branch insertion
  order); we use deterministic id-ascending instead — documented divergence
  (SURVEY.md §4.3.6) required for cross-engine hash parity.

Scale notes: each branch is an independent bounded top-k (<=50 rows); the
fusion is one hash aggregation over the union of two <=50-row tables —
trivially cheap. Payload (chunk/meta) joins back late, only for the fused
survivors, so hybrid costs ~2 corpus scans (one per branch) regardless of
payload width. A single request and a batched block differ only in their
branch top-k plans; everything after the branches is one tail
(_fuse_rank), partitioned by qid for a block.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flouds_vectordb_spark.functions import vector as V
from flouds_vectordb_spark.operators.dense_search import (
    DenseSearchRequest,
    join_payload,
    payload_columns,
    payload_select_sql,
    post_filter,
    post_filter_sql,
    rank_project,
    ranked_select_sql,
    threshold_predicate,
    threshold_sql,
)
from flouds_vectordb_spark.operators.sparse_search import (
    SparseSearchRequest,
    sparse_scores_sql,
    sparse_search,
    sparse_search_direct,
)

RRF_K = 60  # reference vector_store.py:797-822
HYBRID_BRANCH_LIMIT = 50  # reference vector_store.py:609
RANK_DECIMALS = 6


@dataclass
class HybridSearchRequest:
    """The hybrid surface of SearchEmbeddedRequest."""

    query_vector: list[float]
    text_filter: str
    metric: str = "COSINE"
    limit: int = 10
    # reference passes request.offset into BOTH branch searches via
    # _build_base_search_params (vector_store.py:458): each branch skips
    # its first `offset` hits before rank assignment
    offset: int = 0
    round_decimal: int = -1
    # reference Field(0.0) — never None; see DenseSearchRequest
    score_threshold: float | None = 0.0
    meta_filter: dict[str, str] = field(default_factory=dict)
    meta_required: bool = False
    # Q12 projection, mirrored from the dense surface (search_request.py:82-85)
    output_fields: tuple[str, ...] = ("chunk", "meta")
    k1: float = 1.5
    b: float = 0.75
    # OPTIONAL_SEARCH_KEYS pass-throughs (vector_store.py:63-71), accepted
    # and validated then ignored — see DenseSearchRequest for the rationale
    partition_names: tuple[str, ...] | None = None
    timeout: float | None = None
    async_: bool = False
    callback: object | None = None
    guarantee_timestamp: int | None = None
    graceful_time: int | None = None
    travel_timestamp: int | None = None

    def __post_init__(self) -> None:
        DenseSearchRequest._validate_optional_search_keys(self)

    @property
    def branch_limit(self) -> int:
        return min(self.limit, HYBRID_BRANCH_LIMIT)

    @property
    def effective_output_fields(self) -> tuple[str, ...]:
        """`request.output_fields or ["chunk", "meta"]` (vector_store.py:460):
        a falsy/empty list collapses to the full default payload. Strip the
        payload with a non-empty list without chunk/meta, e.g. ("id",)."""
        return tuple(self.output_fields) or ("chunk", "meta")

    @property
    def effective_round_decimal(self) -> int:
        """`round_decimal or -1` (vector_store.py:459): 0 collapses to -1."""
        return self.round_decimal if self.round_decimal > 0 else -1

    @property
    def score_decimals(self) -> int:
        """Decimals of the reported score, and of the threshold compare:
        round_decimal, or RANK_DECIMALS when unset."""
        rd = self.effective_round_decimal
        return rd if rd > 0 else RANK_DECIMALS

    def sparse_request(self) -> SparseSearchRequest:
        return SparseSearchRequest(
            query_text=self.text_filter,
            limit=self.branch_limit,
            offset=self.offset,
            round_decimal=self.round_decimal,
            k1=self.k1,
            b=self.b,
        )


def _dense_branch(df: DataFrame, req: HybridSearchRequest, id_col: str,
                  vector_col: str) -> DataFrame:
    """(id, dense_rank_, dense_score) — bounded top-branch_limit; the first
    `offset` hits are skipped BEFORE rank assignment (rank 1 = hit
    offset+1), as Milvus does when offset rides the branch params."""
    score = V.metric_score_q(req.metric, vector_col, req.query_vector)
    slim = (
        df.select(F.col(id_col).alias("id"), score.alias("_ds"))
        .filter(F.col("_ds").isNotNull())
        .withColumn("_ds_r", F.round(F.col("_ds"), RANK_DECIMALS))
    )
    topk = (
        slim.orderBy(F.col("_ds_r").desc(), F.col("id").asc())
        .limit(req.branch_limit + req.offset)
    )
    w = Window.orderBy(F.col("_ds_r").desc(), F.col("id").asc())
    ranked = topk.withColumn("_pre", F.row_number().over(w))
    if req.offset:
        ranked = ranked.filter(F.col("_pre") > req.offset)
    return ranked.select(
        "id", (F.col("_pre") - F.lit(req.offset)).alias("dense_rank_"),
        F.col("_ds").alias("dense_score")
    )


def _fuse_rank(
    dense: DataFrame,
    sparse: DataFrame,
    df: DataFrame,
    req: HybridSearchRequest,
    keys: tuple[str, ...],
    id_col: str,
    out_id: str,
    chunk_col: str | None,
    meta_col: str | None,
) -> DataFrame:
    """The fuse-and-rank tail shared by the single request (keys=()) and
    the batched block (keys=("qid",)). dense: (*keys, id, dense_rank_,
    dense_score); sparse: (*keys, id, sparse_rank_). Returns (*keys,
    out_id, rank, rrf_score [, chunk, meta_kv]).

    Fusion is union+groupBy, not a full-outer join (r11): the two branch
    tables are bounded (<= 50 rows per query each) but a full-outer join
    can't broadcast, so it planned a two-sided sort-merge — two exchanges
    + sorts. The union form is ONE hash aggregation; max() over the
    one-non-null-per-key columns reproduces the outer join's row merge
    exactly (each key appears at most once per branch). A block
    repartitions by qid ALONE before the merge agg (r12): hash(qid)
    satisfies both the groupBy(qid, id) clustering requirement (subset
    rule) and the final rank window's partitionBy(qid), so the agg and
    the window share ONE exchange instead of (qid,id)-agg + qid-window.
    Scale-safe unconditionally: both branch tables are already
    rank-limited to <= nq*branch_limit rows, so qid-only partitions stay
    bounded at any corpus size."""
    fused = (
        dense.withColumn("sparse_rank_", F.lit(None).cast("int"))
        .unionByName(
            sparse.withColumn("dense_rank_", F.lit(None).cast("int"))
            .withColumn("dense_score", F.lit(None).cast("double")))
    )
    if keys:
        fused = fused.repartition(*keys)
    fused = (
        fused.groupBy(*keys, "id")
        .agg(F.max("dense_rank_").alias("dense_rank_"),
             F.max("dense_score").alias("dense_score"),
             F.max("sparse_rank_").alias("sparse_rank_"))
    )
    kf = float(RRF_K)
    rrf = (
        F.coalesce(F.lit(1.0) / (F.lit(kf) + F.col("dense_rank_").cast("double")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(kf) + F.col("sparse_rank_").cast("double")), F.lit(0.0))
    )
    fused = fused.withColumn("_rrf", rrf).withColumn("_rrf_r", F.round(F.col("_rrf"), RANK_DECIMALS))

    # late materialization for the fused survivors (<= 100 rows per query)
    payload = payload_columns(req, chunk_col, meta_col)
    if payload:
        out = join_payload(fused.withColumnRenamed("id", "_fid"), "_fid",
                           df, id_col, payload)
        name = id_col
    else:
        out, name = fused, "id"
    if name != out_id:
        out = out.withColumnRenamed(name, out_id)

    # score_threshold on the ORIGINAL dense score; sparse-only hits bypass
    # (vector_store.py:766-770)
    threshold = (F.col("dense_rank_").isNull() | threshold_predicate(req, "dense_score")
                 if req.score_threshold is not None else None)
    out = post_filter(out, req, threshold, chunk_col, meta_col)
    return rank_project(out, req, keys, out_id, "_rrf_r", "_rrf", "rrf_score",
                        req.limit, chunk_col, meta_col)


def hybrid_search(
    df: DataFrame,
    postings: DataFrame | None,
    req: HybridSearchRequest,
    id_col: str = "id",
    vector_col: str = "vector",
    chunk_col: str | None = None,
    meta_col: str | None = None,
    sparse_chunk_col: str = "chunk",
) -> DataFrame:
    """Returns (id, rank, rrf_score [, chunk, meta_kv]) fused across both
    branches. With postings=None the sparse branch scores directly off the
    collection (sparse_search_direct) — bit-identical results, no posting
    build. Each branch is a bounded JVM top-k (orderBy().limit()); the
    fusion, payload join, post-filters and rank are _fuse_rank, shared
    with hybrid_search_many.

    Projection contract (mirrors the reference: requested output_fields
    that the collection doesn't materialize are silently omitted, like
    Milvus returning only existing fields): `chunk`/`meta_kv` appear in the
    output iff BOTH the field is in req.effective_output_fields AND chunk_col /
    meta_col is provided. When pairing with hybrid_search_sql for oracle
    checks, pass chunk_expr/meta_kv_expr symmetrically — one side gating on
    a column the other doesn't have shows up as a column-set mismatch."""
    if (req.meta_filter or req.meta_required) and meta_col is None:
        raise ValueError("meta_filter/meta_required require meta_col")
    dense = _dense_branch(df, req, id_col, vector_col)
    if postings is None:
        sbranch = sparse_search_direct(df, req.sparse_request(),
                                       id_col=id_col, chunk_col=sparse_chunk_col)
    else:
        sbranch = sparse_search(postings, req.sparse_request())
    sparse = sbranch.select(F.col("id"), F.col("rank").alias("sparse_rank_"))
    return _fuse_rank(dense, sparse, df, req, (), id_col, id_col, chunk_col, meta_col)


def _fuse_tail_sql(
    req: HybridSearchRequest,
    keys: tuple[str, ...],
    table_sql: str,
    id_expr: str,
    chunk_expr: str | None,
    meta_exprs: dict[str, str] | None,
    meta_size_expr: str | None,
    meta_kv_expr: str | None,
) -> str:
    """SQL twin of _fuse_rank after the fusion: the `_hydrated` payload
    join onto the `_fused` CTE, the `_filtered` post-filters and the
    final rank, shared by both hybrid twins."""
    threshold = (f"(dense_rank_ IS NULL OR {threshold_sql(req, 'dense_score')})"
                 if req.score_threshold is not None else None)
    post, meta_join_sel = post_filter_sql(req, threshold, chunk_expr, meta_exprs)
    chunk_sel, meta_kv_sel, outs = payload_select_sql(req, chunk_expr, meta_kv_expr)
    with_meta = bool(meta_kv_sel)
    need_payload = bool(chunk_expr or meta_join_sel or req.meta_required or with_meta)
    payload_join = (
        f"JOIN (SELECT {id_expr} AS _pid {chunk_sel}{meta_kv_sel}{meta_join_sel}, "
        f"{meta_size_expr if meta_size_expr is not None else '0'} AS _meta_n "
        f"FROM {table_sql}) p ON f.id = p._pid"
        if need_payload
        else ""
    )
    return f"""_hydrated AS (
  SELECT f.*, round(f._rrf, {RANK_DECIMALS}) AS _rrf_r{', p.chunk' if chunk_expr else ''}{', p.meta_kv' if with_meta else ''}
         {"".join(f', p._meta_{i}' for i in range(len(req.meta_filter or {})))}
         {', p._meta_n' if need_payload else ', 0 AS _meta_n'}
  FROM _fused f {payload_join}
),
_filtered AS (
  SELECT * FROM _hydrated WHERE {post}
)
""" + ranked_select_sql(keys, "_filtered", "_rrf_r", "_rrf", "rrf_score",
                        req.score_decimals, outs, req.limit)


def hybrid_search_sql(
    req: HybridSearchRequest,
    table_sql: str,
    postings_sql: str,
    id_expr: str,
    vector_expr: str,
    chunk_expr: str | None = None,
    meta_exprs: dict[str, str] | None = None,
    meta_size_expr: str | None = None,
    meta_kv_expr: str | None = None,
) -> str:
    """DuckDB oracle twin of hybrid_search."""
    score = V.metric_sql_q(req.metric, vector_expr, req.query_vector)
    sparse_scores = sparse_scores_sql(req.sparse_request(), postings_sql)
    return f"""
WITH _dense_scored AS (
  SELECT {id_expr} AS id, {score} AS _ds FROM {table_sql}
),
_dense_topk AS (
  SELECT id, _ds, round(_ds, {RANK_DECIMALS}) AS _ds_r FROM _dense_scored
  WHERE _ds IS NOT NULL
  ORDER BY _ds_r DESC, id ASC LIMIT {req.branch_limit} OFFSET {req.offset}
),
_dense AS (
  SELECT id, row_number() OVER (ORDER BY _ds_r DESC, id ASC) AS dense_rank_,
         _ds AS dense_score
  FROM _dense_topk
),
_sparse_scored AS (
  SELECT id, _score, round(_score, {RANK_DECIMALS}) AS _score_r
  FROM ({sparse_scores})
),
_sparse_topk AS (
  SELECT * FROM _sparse_scored ORDER BY _score_r DESC, id ASC
  LIMIT {req.branch_limit} OFFSET {req.offset}
),
_sparse AS (
  SELECT id, row_number() OVER (ORDER BY _score_r DESC, id ASC) AS sparse_rank_
  FROM _sparse_topk
),
_fused AS (
  SELECT coalesce(d.id, s.id) AS id, d.dense_rank_, d.dense_score, s.sparse_rank_,
         coalesce(1.0 / ({RRF_K}.0 + d.dense_rank_::DOUBLE), 0.0)
         + coalesce(1.0 / ({RRF_K}.0 + s.sparse_rank_::DOUBLE), 0.0) AS _rrf
  FROM _dense d FULL OUTER JOIN _sparse s ON d.id = s.id
),
""" + _fuse_tail_sql(req, (), table_sql, id_expr, chunk_expr, meta_exprs,
                     meta_size_expr, meta_kv_expr)


# --- batched multi-query hybrid search (r6) ----------------------------------

def hybrid_search_many(
    df: DataFrame,
    postings: DataFrame | None,
    queries,
    req: HybridSearchRequest,
    id_col: str = "id",
    vector_col: str = "vector",
    chunk_col: str | None = None,
    meta_col: str | None = None,
    sparse_chunk_col: str = "chunk",
) -> DataFrame:
    """Batched RRF hybrid: queries is a (qid, vector, text) sequence;
    returns (qid, id, rank, rrf_score [, chunk, meta_kv]) with rank
    1-based per qid. req.query_vector/req.text_filter are IGNORED — the
    batch supplies them; every other knob applies to all queries.

    Plan: ONE dense scan scores the whole block (the mapInArrow kernel
    of batch_search.dense_search_many) with a per-qid branch-limit
    window; ONE term-pruned posting scan serves every sparse branch
    (sparse_search_many); the fusion of the two <= nq*50-row scalar
    tables, payload join, post-filters and rank are _fuse_rank, shared
    with hybrid_search (keys=("qid",)). With postings=None the posting table is
    built from df once for the WHOLE block (bit-identical weights to the
    direct scorer; measured r11 — the batched direct scorer loses, see
    the inline note). Results are bit-identical to looping hybrid_search
    per query."""
    from flouds_vectordb_spark.operators.batch_search import _block_scores
    from flouds_vectordb_spark.operators.sparse_search import (
        sparse_search_many,
    )

    if (req.meta_filter or req.meta_required) and meta_col is None:
        raise ValueError("meta_filter/meta_required require meta_col")
    queries = list(queries)  # generators are iterated twice below
    dense_q = [(qid, vec) for qid, vec, _ in queries]
    sparse_q = [(qid, text) for qid, _, text in queries]

    # dense branch, per qid
    slim = (
        _block_scores(df, dense_q, req.metric, id_col, vector_col)
        .select("qid", F.col("_id").alias("id"), F.col("_score").alias("_ds"))
        .withColumn("_ds_r", F.round(F.col("_ds"), RANK_DECIMALS))
    )
    wd = Window.partitionBy("qid").orderBy(F.col("_ds_r").desc(), F.col("id").asc())
    dense = (
        slim.withColumn("_pre", F.row_number().over(wd))
        .filter((F.col("_pre") > req.offset)
                & (F.col("_pre") <= req.branch_limit + req.offset))
        .select("qid", "id",
                (F.col("_pre") - F.lit(req.offset)).alias("dense_rank_"),
                F.col("_ds").alias("dense_score"))
    )

    if postings is None:
        # no stored index: build the (term-prunable) posting table from
        # df for the whole block. Measured r11: the batched direct
        # scorer (sparse_search_many_direct) LOSES here — its 20-odd
        # interpreted HOF tf filters over every token array cost more
        # than the pruned explode/groupBy chain's exchanges (1.61 s vs
        # 0.92 s at sf0.1) — so the one-time build stays the block plan.
        from flouds_vectordb_spark.operators.sparse_search import bm25_postings

        postings = bm25_postings(df, id_col=id_col, chunk_col=sparse_chunk_col)
    sparse = (
        sparse_search_many(postings, sparse_q, req.sparse_request())
        .select("qid", "id", F.col("rank").alias("sparse_rank_"))
    )

    return _fuse_rank(dense, sparse, df, req, ("qid",), id_col, "id",
                      chunk_col, meta_col)


def hybrid_search_many_sql(
    req: HybridSearchRequest,
    queries,
    table_sql: str,
    postings_sql: str,
    id_expr: str,
    vector_expr: str,
    chunk_expr: str | None = None,
    meta_exprs: dict[str, str] | None = None,
    meta_size_expr: str | None = None,
    meta_kv_expr: str | None = None,
) -> str:
    """DuckDB oracle twin of hybrid_search_many."""
    from flouds_vectordb_spark.operators.batch_search import (
        _pair_score_sql,
        queries_values_sql,
    )
    from flouds_vectordb_spark.operators.sparse_search import (
        sparse_search_many_sql,
    )

    queries = list(queries)
    dense_q = [(qid, vec) for qid, vec, _ in queries]
    sparse_q = [(qid, text) for qid, _, text in queries]
    dim = len(dense_q[0][1])
    qvals = queries_values_sql(dense_q)
    score = _pair_score_sql(req.metric, vector_expr, dim)
    sreq = req.sparse_request()
    # the sparse twin already applies branch_limit/offset per qid and
    # returns 1-based ranks — exactly the branch table the fuse needs
    sparse_branch = sparse_search_many_sql(sreq, sparse_q, postings_sql)

    fetch = req.branch_limit + req.offset
    return f"""
WITH _dense_scored AS (
  SELECT q.qid, {id_expr} AS id, {score} AS _ds
  FROM {table_sql} CROSS JOIN {qvals} q
),
_dense_ranked AS (
  SELECT qid, id, _ds,
         row_number() OVER (PARTITION BY qid
                            ORDER BY round(_ds, {RANK_DECIMALS}) DESC, id ASC) AS _pre
  FROM _dense_scored WHERE _ds IS NOT NULL
),
_dense AS (
  SELECT qid, id, (_pre - {req.offset}) AS dense_rank_, _ds AS dense_score
  FROM _dense_ranked WHERE _pre > {req.offset} AND _pre <= {fetch}
),
_sparse AS (
  SELECT qid, id, rank AS sparse_rank_ FROM ({sparse_branch})
),
_fused AS (
  SELECT coalesce(d.qid, s.qid) AS qid, coalesce(d.id, s.id) AS id,
         d.dense_rank_, d.dense_score, s.sparse_rank_,
         coalesce(1.0 / ({RRF_K}.0 + d.dense_rank_::DOUBLE), 0.0)
         + coalesce(1.0 / ({RRF_K}.0 + s.sparse_rank_::DOUBLE), 0.0) AS _rrf
  FROM _dense d FULL OUTER JOIN _sparse s ON d.qid = s.qid AND d.id = s.id
),
""" + _fuse_tail_sql(req, ("qid",), table_sql, id_expr, chunk_expr, meta_exprs,
                     meta_size_expr, meta_kv_expr)
