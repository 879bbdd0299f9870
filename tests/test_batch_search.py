"""Batched multi-query search: per-qid equivalence to the single-query
operator, IVF-pruned vs exact on a recall-safe fixture, the catalog
search_many dispatch, input validation, and the block-scoring kernel's
bit parity with the SQL fold and its plan shape."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from flouds_vectordb_spark.operators.batch_search import (
    dense_search_many,
    ivf_search_many,
    query_block,
)
from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest, dense_search
from flouds_vectordb_spark.plans.ivf import build_ivf

DIM = 8
NQ = 5


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.RandomState(7)
    rows = [
        (i, [float(x) for x in rng.standard_normal(DIM)],
         f"spark vector scan {i}" if i % 3 else "", {"lang": "en" if i % 2 else "fr"})
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "id long, vector array<double>, chunk string, meta map<string,string>")
    df.persist().count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def qbatch():
    rng = np.random.RandomState(11)
    return [(t, [float(x) for x in rng.standard_normal(DIM)]) for t in range(NQ)]


def _rows(df, id_col="id"):
    return sorted(
        (int(r["qid"]), r[id_col], int(r["rank"]), round(float(r["score"]), 6))
        for r in df.collect())


def test_many_equals_single_loop(spark, corpus, qbatch):
    """dense_search_many == one dense_search per query, per qid."""
    req = DenseSearchRequest(query_vector=qbatch[0][1], metric="COSINE",
                             limit=7, score_threshold=None)
    batched = _rows(dense_search_many(corpus, qbatch, req))
    singles = []
    for qid, v in qbatch:
        r1 = DenseSearchRequest(query_vector=list(v), metric="COSINE",
                                limit=7, score_threshold=None)
        for row in dense_search(corpus, r1).collect():
            singles.append((qid, row["id"], int(row["rank"]),
                            round(float(row["score"]), 6)))
    assert batched == sorted(singles)


@pytest.mark.parametrize("metric", ["COSINE", "L2", "IP"])
def test_many_metrics_match_single(spark, corpus, qbatch, metric):
    req = DenseSearchRequest(query_vector=qbatch[0][1], metric=metric,
                             limit=5, score_threshold=None)
    batched = _rows(dense_search_many(corpus, qbatch[:2], req))
    singles = []
    for qid, v in qbatch[:2]:
        r1 = DenseSearchRequest(query_vector=list(v), metric=metric,
                                limit=5, score_threshold=None)
        for row in dense_search(corpus, r1).collect():
            singles.append((qid, row["id"], int(row["rank"]),
                            round(float(row["score"]), 6)))
    assert batched == sorted(singles)


_POSTFILTER_BASE = dict(metric="COSINE", limit=10, offset=3, score_threshold=None,
                        text_filter="vector scan", minimum_words_match=2,
                        meta_filter={"lang": "en"}, output_fields=("chunk", "meta"))
# (request overrides, extra_cols): every knob of the shared tail
_POSTFILTER_CASES = {
    "text_meta_offset": ({}, ()),
    "cosine_threshold": (dict(score_threshold=0.1, text_filter=None), ()),
    "l2_threshold": (dict(metric="L2", score_threshold=0.5, text_filter=None), ()),
    "cosine_range": (dict(radius=-0.2, range_filter=0.6, text_filter=None), ()),
    "l2_range": (dict(metric="L2", radius=20.0, range_filter=5.0,
                      text_filter=None), ()),
    "meta_required": (dict(meta_required=True, meta_filter={},
                           text_filter=None), ()),
    "round_extra": (dict(round_decimal=3, text_filter=None), ("vector",)),
}


def test_many_postfilters_match_single(spark, corpus, qbatch):
    """The shared tail (threshold, range bounds, text + meta filters,
    offset, rounding, projection) applies per qid exactly as the
    single-query pipeline does."""
    for case, (over, extra) in _POSTFILTER_CASES.items():
        kw = {**_POSTFILTER_BASE, **over}
        req = DenseSearchRequest(query_vector=qbatch[0][1], **kw)
        batched = dense_search_many(corpus, qbatch, req, chunk_col="chunk",
                                    meta_col="meta", extra_cols=extra)
        cols = ["id", "rank", "score", "chunk", "meta_kv", *extra]
        assert batched.columns == ["qid", *cols], case
        got = sorted((int(r["qid"]), *(r[c] for c in cols))
                     for r in batched.collect())
        singles = []
        for qid, v in qbatch:
            r1 = DenseSearchRequest(query_vector=list(v), **kw)
            for row in dense_search(corpus, r1, chunk_col="chunk", meta_col="meta",
                                    extra_cols=extra).collect():
                singles.append((qid, *(row[c] for c in cols)))
        assert got and got == sorted(singles), case


def test_ivf_many_matches_exact_on_clustered(spark, qbatch, tmp_path_factory):
    """Per-query cluster fixture: each query's true top-k lives in its own
    probed cells, so IVF-pruned batched search == exact batched search."""
    rng = np.random.RandomState(23)
    background = [(i, [float(x) for x in rng.standard_normal(DIM)])
                  for i in range(400)]
    clustered = []
    for qid, v in qbatch:
        for i in range(8):
            clustered.append((10_000 + qid * 100 + i,
                              [x + ((i * 31 + j * 17) % 11 - 5) / 1000.0
                               for j, x in enumerate(v)]))
    df = spark.createDataFrame(background + clustered, "id long, vector array<double>")
    path = str(tmp_path_factory.mktemp("ivfmany") / "idx")
    idx = build_ivf(df, path, nlist=16, metric="COSINE")
    req = DenseSearchRequest(query_vector=qbatch[0][1], metric="COSINE",
                             limit=5, nprobe=4, score_threshold=None)
    pruned = _rows(ivf_search_many(idx, spark, qbatch, req))
    exact = _rows(dense_search_many(df, qbatch, req))
    assert pruned == exact
    assert len(pruned) == NQ * 5


def test_catalog_search_many_matches_loop(spark, tmp_path_factory):
    """CollectionWriter.search_many (IVF_FLAT) == a loop of .search. (The
    HNSW dispatch has its own batched-vs-single equivalence tests in
    test_hnsw.py.)"""
    from flouds_vectordb_spark.catalog import Catalog, CollectionSpec
    from flouds_vectordb_spark.operators.upsert import CollectionWriter

    wh = str(tmp_path_factory.mktemp("mq_wh"))
    cat = Catalog(spark, wh)
    cat.set_vector_store("t1")
    cat.generate_schema(CollectionSpec("t1", "m", dimension=DIM,
                                       metric_type="COSINE", nlist=4))
    w = CollectionWriter(cat, "t1", "m")
    rng = np.random.RandomState(5)
    rows = [(str(i), [float(x) for x in rng.standard_normal(DIM)], f"c{i}")
            for i in range(150)]
    batch = spark.createDataFrame(rows, "id string, vector array<double>, chunk string")
    w.insert_data(batch, batch_ts=1, force_flush=True)
    w.build_index()
    # grow after build: updated key + new key must resolve latest-wins
    upd = spark.createDataFrame(
        [("3", [float(x) for x in rng.standard_normal(DIM)], "c3-v2"),
         ("999", [float(x) for x in rng.standard_normal(DIM)], "c999")],
        "id string, vector array<double>, chunk string")
    w.insert_data(upd, batch_ts=2, force_flush=False)

    qs = [(t, [float(x) for x in rng.standard_normal(DIM)]) for t in range(3)]
    req = DenseSearchRequest(query_vector=qs[0][1], metric="COSINE", limit=6,
                             nprobe=4, score_threshold=None, output_fields=())
    batched = _rows(w.search_many(qs, req, use_index=True))
    singles = []
    for qid, v in qs:
        r1 = DenseSearchRequest(query_vector=list(v), metric="COSINE", limit=6,
                                nprobe=4, score_threshold=None, output_fields=())
        for row in w.search(r1, use_index=True).collect():
            singles.append((qid, row["id"], int(row["rank"]),
                            round(float(row["score"]), 6)))
    assert batched == sorted(singles)


def test_query_block_and_validation(spark):
    with pytest.raises(ValueError, match="at least one"):
        dense_search_many(spark.range(1), [], DenseSearchRequest([1.0]))
    with pytest.raises(ValueError, match="duplicate qids"):
        query_block(spark, [(1, [0.1, 0.2]), (1, [0.3, 0.4])])
    with pytest.raises(ValueError, match="one dimension"):
        query_block(spark, [(1, [0.1]), (2, [0.3, 0.4])])
    qb = query_block(spark, [(4, [3.0, 4.0])]).collect()
    assert qb[0]["qid"] == 4 and abs(qb[0]["_qn"] - 5.0) < 1e-12


# ---- batched sparse BM25 (sparse_search_many) --------------------------------

def test_sparse_search_many_matches_single_loop(spark, corpus):
    from flouds_vectordb_spark.operators.sparse_search import (
        SparseSearchRequest,
        bm25_postings,
        sparse_search,
        sparse_search_many,
    )

    posts = bm25_postings(corpus.filter(F.col("chunk") != ""))
    queries = [(0, "spark vector"), (1, "scan 7 scan"), (2, "zzz-nomatch")]
    req = SparseSearchRequest(query_text="", limit=6, offset=1)
    got = {}
    for r in sparse_search_many(posts, queries, req).collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["id"], r["score"]))
    for qid, text in queries:
        single = [(r["rank"], r["id"], r["score"]) for r in sparse_search(
            posts, SparseSearchRequest(query_text=text, limit=6, offset=1)).collect()]
        assert sorted(got.get(qid, [])) == single, qid


def test_sparse_search_many_wand_prune_identical(spark, corpus, monkeypatch):
    """The max-score floor prune (r10) is a safe prune: forcing it (and
    shrinking the floor sample so θ actually bites on the tiny fixture)
    must reproduce the plain plan's rows exactly — ranks, ids, scores —
    including offset handling and sub-fetch qids. Also pins the
    pivot-vs-fold plan equality by forcing the fold via the term cap."""
    import flouds_vectordb_spark.operators.sparse_search as ss
    from flouds_vectordb_spark.operators.sparse_search import (
        SparseSearchRequest,
        bm25_postings,
        sparse_search_many,
    )

    posts = bm25_postings(corpus.filter(F.col("chunk") != ""))
    posts.persist().count()
    queries = [(0, "spark vector"), (1, "scan 7 scan spark"),
               (2, "zzz-nomatch"), (3, "vector vector 11"),
               (4, "spark scan vector 3 7 11")]
    monkeypatch.setattr(ss, "_WAND_FLOOR_SAMPLE", 32)
    for req in (SparseSearchRequest(query_text="", limit=6, offset=1),
                SparseSearchRequest(query_text="", limit=4),
                SparseSearchRequest(query_text="", limit=250)):
        plain = sorted(map(tuple, sparse_search_many(
            posts, queries, req, prune=False).collect()))
        pruned = sorted(map(tuple, sparse_search_many(
            posts, queries, req, prune=True).collect()))
        assert pruned == plain and plain, req.limit
        # fold plan (forced via the pivot caps) must agree too — both
        # unpruned and with the fold-path floor prune forced (a forced
        # prune must never silently no-op on wide blocks)
        monkeypatch.setattr(ss, "_PIVOT_TERM_CAP", 0)
        fold = sorted(map(tuple, sparse_search_many(
            posts, queries, req, prune=False).collect()))
        fold_floor = sorted(map(tuple, sparse_search_many(
            posts, queries, req, prune=True).collect()))
        monkeypatch.setattr(ss, "_PIVOT_TERM_CAP", 64)
        assert fold == plain, req.limit
        assert fold_floor == plain, req.limit
    posts.unpersist()


def test_floor_prune_engages_above_small_bytes(spark, corpus, tmp_path,
                                               monkeypatch):
    """prune=None engages the floor prune exactly when the posting plan's
    leaf bytes exceed regime.SMALL_BYTES — on a bare parquet posting
    scan, the catalog's derived posting view and the catalog's hybrid
    block alike — and an engaged prune keeps the rows."""
    import flouds_vectordb_spark.operators.sparse_search as ss
    from flouds_vectordb_spark import regime
    from flouds_vectordb_spark.catalog import Catalog, CollectionSpec
    from flouds_vectordb_spark.operators.hybrid_search import HybridSearchRequest
    from flouds_vectordb_spark.operators.sparse_search import (
        SparseSearchRequest,
        bm25_postings,
        sparse_search_many,
    )
    from flouds_vectordb_spark.operators.upsert import CollectionWriter

    pq = str(tmp_path / "posts.parquet")
    bm25_postings(corpus.filter(F.col("chunk") != "")).write.parquet(pq)
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.set_vector_store("t0")
    cat.generate_schema(CollectionSpec("t0", "m4", dimension=4, nlist=2))
    w = CollectionWriter(cat, "t0", "m4")
    w.insert_data(spark.createDataFrame(
        [("a", "spark merge join", [1.0, 0.0, 0.0, 0.0]),
         ("b", "spark spark scan", [0.0, 1.0, 0.0, 0.0]),
         ("c", "hash join probe build", [0.7, 0.7, 0.0, 0.0])],
        "id string, chunk string, vector array<float>"),
        batch_ts=1, force_flush=True)
    w.build_sparse_index()
    sreq = SparseSearchRequest(query_text="", limit=2)
    hreq = HybridSearchRequest(query_vector=[1.0, 0.0, 0.0, 0.0],
                               text_filter="x", limit=2)
    cases = [
        (spark.read.parquet(pq), lambda: sparse_search_many(
            spark.read.parquet(pq), [(0, "spark vector"), (1, "scan 7")],
            sreq)),
        (w._stored_postings(), lambda: w.search_sparse_many(
            [(0, "spark join"), (1, "probe")], sreq)),
        (w._stored_postings(), lambda: w.search_hybrid_many(
            [(0, [1.0, 0.0, 0.0, 0.0], "spark join"),
             (1, [0.0, 1.0, 0.0, 0.0], "probe hash")], hreq)),
    ]
    calls = []
    real = ss._floor_filter
    monkeypatch.setattr(ss, "_floor_filter",
                        lambda *a: calls.append(1) or real(*a))
    for postings, search in cases:
        n = regime.input_bytes(postings)
        assert n, "the probe must see the posting files"
        rows = {}
        for bound, engaged in ((n, False), (n - 1, True)):
            monkeypatch.setattr(regime, "SMALL_BYTES", bound)
            calls.clear()
            rows[engaged] = sorted(map(tuple, search().collect()))
            assert len(calls) == int(engaged), (bound, n)
        assert rows[True] == rows[False] and rows[False]


def test_sparse_search_many_validation(spark, corpus):
    from flouds_vectordb_spark.operators.sparse_search import (
        SparseSearchRequest,
        bm25_postings,
        sparse_search_many,
    )

    posts = bm25_postings(corpus.filter(F.col("chunk") != ""))
    req = SparseSearchRequest(query_text="", limit=5)
    with pytest.raises(ValueError, match="duplicate qids"):
        sparse_search_many(posts, [(1, "a"), (1, "b")], req)
    # all-empty queries: zero rows, stable schema
    out = sparse_search_many(posts, [(0, ""), (1, "  ")], req)
    assert out.count() == 0


def test_sparse_search_many_huge_union_vocabulary(spark):
    """r7: the constant-width map-pivot plan removes the r6 1024-union-term
    cap — a >1024-term block goes through the public API unchanged and
    stays per-qid identical to the looped single-query scorer."""
    from flouds_vectordb_spark.operators.sparse_search import (
        SparseSearchRequest,
        _query_term_matrix,
        bm25_postings,
        sparse_search,
        sparse_search_many,
    )

    docs = [(i, " ".join(f"t{(i * 17 + j * 13) % 1500:04d}" for j in range(30)))
            for i in range(120)]
    corpus = spark.createDataFrame(docs, "id long, chunk string")
    posts = bm25_postings(corpus)
    queries = [(q, " ".join(f"t{(q * 61 + j * 7) % 1500:04d}" for j in range(60)))
               for q in range(25)]
    terms, _ = _query_term_matrix(queries)
    assert len(terms) > 1024, "fixture must exceed the old cap"
    req = SparseSearchRequest(query_text="", limit=5)
    got = {}
    for r in sparse_search_many(posts, queries, req).collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["id"], r["score"]))
    # spot-check exact equivalence on three queries; ranks contiguous on all
    for qid in (0, 12, 24):
        single = [(r["rank"], r["id"], r["score"]) for r in sparse_search(
            posts, SparseSearchRequest(query_text=queries[qid][1], limit=5)).collect()]
        assert sorted(got.get(qid, [])) == single, qid
    for qid, rows in got.items():
        assert sorted(r[0] for r in rows) == list(range(1, len(rows) + 1)), qid


# ---- batched hybrid RRF (hybrid_search_many) ---------------------------------

# request overrides of the shared fuse-and-rank tail; output_fields=()
# collapses to the full payload, as in the reference
_HYBRID_CASES = {
    "meta_filter": dict(meta_filter={"lang": "en"}, output_fields=("chunk", "meta")),
    "offset": dict(offset=2),
    "l2_threshold": dict(metric="L2", score_threshold=0.5),
    "meta_required": dict(meta_required=True),
    "no_output_fields": dict(output_fields=()),
}


def test_hybrid_search_many_matches_single_loop(spark, corpus):
    from flouds_vectordb_spark.operators.hybrid_search import (
        HybridSearchRequest,
        hybrid_search,
        hybrid_search_many,
    )
    from flouds_vectordb_spark.operators.sparse_search import bm25_postings

    rng = np.random.RandomState(11)
    queries = [(i, [float(x) for x in rng.standard_normal(DIM)],
                ["spark vector", "scan 7", "vector vector scan"][i])
               for i in range(3)]
    posts = bm25_postings(corpus)
    cols = ["rank", "id", "rrf_score", "chunk", "meta_kv"]
    for case, kw in _HYBRID_CASES.items():
        req = HybridSearchRequest(query_vector=queries[0][1], text_filter="x",
                                  limit=10, **kw)
        res = hybrid_search_many(corpus, posts, queries, req,
                                 chunk_col="chunk", meta_col="meta")
        assert res.columns == ["qid", "id", "rank", "rrf_score", "chunk",
                               "meta_kv"], case
        got = {}
        for r in res.collect():
            got.setdefault(r["qid"], []).append(tuple(r[c] for c in cols))
        assert got, case
        for qid, vec, text in queries:
            sreq = HybridSearchRequest(query_vector=vec, text_filter=text,
                                       limit=10, **kw)
            single = [tuple(r[c] for c in cols)
                      for r in hybrid_search(corpus, posts, sreq, chunk_col="chunk",
                                             meta_col="meta").collect()]
            assert sorted(got.get(qid, [])) == single, (case, qid)


def test_catalog_sparse_and_hybrid_many_dispatch(spark, tmp_path_factory):
    from flouds_vectordb_spark.catalog import Catalog, CollectionSpec
    from flouds_vectordb_spark.operators.hybrid_search import HybridSearchRequest
    from flouds_vectordb_spark.operators.sparse_search import SparseSearchRequest
    from flouds_vectordb_spark.operators.upsert import CollectionWriter

    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_mq")))
    cat.set_vector_store("t0")
    cat.generate_schema(CollectionSpec("t0", "m4", dimension=4, nlist=2))
    w = CollectionWriter(cat, "t0", "m4")
    batch = spark.createDataFrame(
        [("a", "spark merge join", [1.0, 0.0, 0.0, 0.0]),
         ("b", "spark spark scan", [0.0, 1.0, 0.0, 0.0]),
         ("c", "hash join probe build", [0.7, 0.7, 0.0, 0.0])],
        "id string, chunk string, vector array<float>")
    w.insert_data(batch, batch_ts=1, force_flush=True)
    with pytest.raises(ValueError, match="no sparse index"):
        w.search_sparse_many([(0, "spark")], SparseSearchRequest(query_text="", limit=3))
    w.build_sparse_index()
    sp_df = w.search_sparse_many([(0, "spark join"), (1, "probe")],
                                 SparseSearchRequest(query_text="", limit=3))
    # the block's union terms must reach the posting scan as a pushed
    # IN-filter (file skipping on the term-range-sorted index at scale)
    plan = sp_df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(term" in plan
    sp = sp_df.collect()
    assert {r["qid"] for r in sp} == {0, 1}
    hy = w.search_hybrid_many(
        [(0, [1.0, 0.0, 0.0, 0.0], "spark join"),
         (1, [0.0, 1.0, 0.0, 0.0], "probe hash")],
        HybridSearchRequest(query_vector=[1.0, 0.0, 0.0, 0.0],
                            text_filter="x", limit=3)).collect()
    assert {r["qid"] for r in hy} == {0, 1}
    # dim validation applies per batch entry
    with pytest.raises(ValueError, match="dimension"):
        w.search_hybrid_many([(0, [1.0, 0.0], "x")],
                             HybridSearchRequest(query_vector=[1.0, 0.0],
                                                 text_filter="x", limit=3))


def test_stale_version_in_probed_cell_never_surfaces(spark, tmp_path_factory):
    """A key UPDATED into an unprobed cell must not surface with its stale
    vector from a probed cell — staleness resolves against the GLOBAL
    latest view, identically for single and batched search (a per-scan
    latest-wins would keep the old vector whenever the update's cell is
    not probed, and batched results would depend on batch-mates)."""
    from flouds_vectordb_spark.catalog import Catalog, CollectionSpec
    from flouds_vectordb_spark.operators.upsert import CollectionWriter

    dim, nblobs = 8, 8
    rng = np.random.RandomState(13)
    rows = []
    for b in range(nblobs):
        for i in range(30):
            v = [0.0] * dim
            v[b] = 10.0
            v = [x + float(e) for x, e in zip(v, rng.uniform(-0.1, 0.1, dim))]
            rows.append((f"b{b}_{i}", v, f"blob{b}"))
    # the key under test starts in blob 0, nearest the query
    stale_v = [10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.01]
    rows.append(("moved", stale_v, "moved-v1"))
    cat = Catalog(spark, str(tmp_path_factory.mktemp("mq_stale")))
    cat.set_vector_store("t1")
    cat.generate_schema(CollectionSpec("t1", "m", dimension=dim,
                                       metric_type="COSINE", nlist=nblobs))
    w = CollectionWriter(cat, "t1", "m")
    w.insert_data(spark.createDataFrame(
        rows, "id string, vector array<double>, chunk string"),
        batch_ts=1, force_flush=True)
    w.build_index()
    # update "moved" into blob 7 — a cell the blob-0 query will not probe
    new_v = [0.0] * dim
    new_v[7] = 10.0
    w.insert_data(spark.createDataFrame(
        [("moved", new_v, "moved-v2")],
        "id string, vector array<double>, chunk string"),
        batch_ts=2, force_flush=False)

    qv = [10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    req = DenseSearchRequest(query_vector=qv, metric="COSINE", limit=31,
                             nprobe=4, score_threshold=None, output_fields=())
    single = {r["id"]: r["score"] for r in w.search(req, use_index=True).collect()}
    assert "moved" not in single, \
        "stale vector of an updated key surfaced from a probed cell"
    batched = {r["id"]: r["score"] for r in
               w.search_many([(0, qv)], req, use_index=True).collect()}
    assert batched == single


def test_sparse_search_many_plan_is_inverted_term_join(spark, corpus):
    """r8 (the VERDICT r7 #3 done-criterion): the batched sparse plan must
    be the inverted (qid, term) broadcast JOIN — candidate rows are true
    matches only — not the r7 doc x block cross product. The optimized
    plan therefore contains a broadcast hash join keyed on term and NO
    cartesian/cross join."""
    from flouds_vectordb_spark.operators.sparse_search import (
        SparseSearchRequest,
        bm25_postings,
        sparse_search_many,
    )

    posts = bm25_postings(corpus.filter(F.col("chunk") != ""))
    req = SparseSearchRequest(query_text="", limit=5)
    df = sparse_search_many(posts, [(0, "spark vector"), (1, "scan")], req)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the first broadcast join in the plan tree is keyed on term
    head = plan.split("BroadcastHashJoin", 1)[1][:120]
    assert "term" in head, head
    assert "CartesianProduct" not in plan
    # the ONLY nested-loop join allowed is the broadcast 1-ROW doc-stats
    # aggregate riding into the weight derivation (r11,
    # bm25_weights_stats_df) — never a doc x query-block product
    bnlj = plan.count("BroadcastNestedLoopJoin")
    assert bnlj <= 1, plan
    if bnlj:
        assert "_bm25_n" in plan


def test_catalog_many_with_zero_norm_doc_matches_single_loop(spark, tmp_path_factory):
    """The COSINE document norm is folded once per document below the
    block join; search_many (exact and IVF) and search_hybrid_many must
    still equal one single request per query when a zero-norm document
    (NULL cosine) sits in the collection and matches the text branch."""
    from flouds_vectordb_spark.catalog import Catalog, CollectionSpec
    from flouds_vectordb_spark.operators.hybrid_search import HybridSearchRequest
    from flouds_vectordb_spark.operators.upsert import CollectionWriter

    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_zero_norm")))
    cat.set_vector_store("tzn")
    cat.generate_schema(CollectionSpec("tzn", "m", dimension=DIM,
                                       metric_type="COSINE", nlist=4))
    w = CollectionWriter(cat, "tzn", "m")
    rng = np.random.RandomState(23)
    rows = [(str(i), [float(x) for x in rng.standard_normal(DIM)],
             f"spark vector {i % 5} scan") for i in range(120)]
    rows += [("zero", [0.0] * DIM, "spark vector zero"),
             ("negzero", [-0.0] * DIM, "spark scan zero")]
    w.insert_data(spark.createDataFrame(
        rows, "id string, vector array<double>, chunk string"),
        batch_ts=1, force_flush=True)
    w.build_index()
    w.build_sparse_index()

    qs = [(t, [float(x) for x in rng.standard_normal(DIM)]) for t in range(4)]
    texts = ["spark zero", "vector 3", "scan zero", "zero"]
    for use_index in (False, True):
        req = DenseSearchRequest(query_vector=qs[0][1], metric="COSINE", limit=8,
                                 nprobe=4, score_threshold=None, output_fields=())
        batched = _rows(w.search_many(qs, req, use_index=use_index))
        singles = []
        for qid, v in qs:
            r1 = DenseSearchRequest(query_vector=list(v), metric="COSINE", limit=8,
                                    nprobe=4, score_threshold=None, output_fields=())
            singles += [(qid, r["id"], int(r["rank"]), round(float(r["score"]), 6))
                        for r in w.search(r1, use_index=use_index).collect()]
        assert batched == sorted(singles), use_index
        assert not {r[1] for r in batched} & {"zero", "negzero"}

    hq = [(qid, v, t) for (qid, v), t in zip(qs, texts)]
    hreq = HybridSearchRequest(query_vector=qs[0][1], text_filter="x", limit=8,
                               output_fields=())
    got = sorted((r["qid"], int(r["rank"]), r["id"], r["rrf_score"])
                 for r in w.search_hybrid_many(hq, hreq).collect())
    want = []
    for qid, v, t in hq:
        sreq = HybridSearchRequest(query_vector=v, text_filter=t, limit=8,
                                   output_fields=())
        want += [(qid, int(r["rank"]), r["id"], r["rrf_score"])
                 for r in w.search_hybrid(sreq, use_index=True).collect()]
    assert got == sorted(want)
    assert {"zero", "negzero"} & {r[2] for r in got}  # via the BM25 branch


# ---- block-scoring kernel: bit parity with the SQL fold and plan shape ------

def _score_key(s):
    """A score's exact bits; every NaN is one key (payloads are not a score)."""
    return "nan" if math.isnan(s) else struct.pack(">d", s)


@pytest.fixture(scope="module")
def odd_frames(spark):
    """dim-4 rows the SQL fold scores NULL, NaN, ±Inf, signed zero or plainly,
    with a text column for the hybrid path and a cell id for the IVF path
    (one row without a cell), keyed by bigint and by string ids. Hashed on
    id % 3 into 8 partitions, so at least 5 reach the kernel empty."""
    rng = np.random.RandomState(29)
    nan, inf = float("nan"), float("inf")
    odd = [None, [0.5, 0.25, -1.0], [0.5, 0.25, -1.0, 2.0, 3.0], [1.0, None, 2.0, 3.0],
           [nan, 1.0, 2.0, 3.0], [inf, 1.0, 2.0, 3.0], [1.0, -inf, 2.0, 3.0],
           [inf, -inf, 0.0, 1.0], [-0.0, -0.0, -0.0, -0.0], [0.0, 0.0, 0.0, 0.0],
           [-0.0, 1.5, -0.0, -2.5], [], [1e300, 1e300, -1e300, 5e-324]]
    vecs = odd + [[float(x) for x in rng.standard_normal(4)] for _ in range(27)]
    rows = [(i, v, f"spark vector {i % 3} scan", None if i == 7 else i % 4)
            for i, v in enumerate(vecs)]
    base = spark.createDataFrame(
        rows, "id bigint, vector array<double>, chunk string, centroid_id int")
    spread = base.repartition(8, F.col("id") % 3)
    frames = {t: spread.withColumn("id", F.col("id").cast(t)).persist()
              for t in ("bigint", "string")}
    for f in frames.values():
        f.count()
    yield frames
    for f in frames.values():
        f.unpersist()


def _sql_fold_scores(df, queries, metric):
    """{(qid, id): (score bits, centroid_id)} of metric_score_q, one query at
    a time; NULL scores dropped."""
    from flouds_vectordb_spark.functions.vector import metric_score_q

    scores = F.array(*[metric_score_q(metric, "vector", v) for _, v in queries])
    return {(qid, r["id"]): (_score_key(s), r["centroid_id"])
            for r in df.select("id", "centroid_id", scores.alias("s")).collect()
            for (qid, _), s in zip(queries, r["s"]) if s is not None}


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_block_kernel_bit_equals_sql_fold(spark, odd_frames, monkeypatch, id_type,
                                          tmp_path_factory):
    """Every block path (exact, IVF, hybrid dense leg) scores each pair
    with the SQL fold's exact bits and drops exactly the pairs it scores
    NULL: NULL/short/long/empty vectors, NULL elements, and COSINE zero
    denominators, while NaN, ±Inf and signed zeros pass through. COSINE,
    L2 and IP; blocks of one query and of QUERY_CHUNK + 1 queries (one a
    zero vector); an empty input frame."""
    import flouds_vectordb_spark.operators.batch_search as bs
    from flouds_vectordb_spark.operators.hybrid_search import (
        HybridSearchRequest,
        hybrid_search_many,
    )

    seen = []
    real = bs._block_scores

    class Scored(Exception):
        """Stops the operator once its candidate frame exists."""

    def spy(*a, **kw):
        seen.append((real(*a, **kw), kw.get("cells", a[5] if len(a) > 5 else None)))
        raise Scored

    monkeypatch.setattr(bs, "_block_scores", spy)
    df = odd_frames[id_type]
    idx = build_ivf(df.filter(F.col("id").cast("int") >= 13),
                    str(tmp_path_factory.mktemp("kernel_ivf") / "idx"), nlist=4)
    rng = np.random.RandomState(31)
    block = [(t, [float(x) for x in rng.standard_normal(4)])
             for t in range(bs.QUERY_CHUNK + 1)]
    block[1] = (1, [0.0, -0.0, 0.0, 0.0])  # zero query: COSINE all NULL
    for metric in ("COSINE", "L2", "IP"):
        want_all = _sql_fold_scores(df, block, metric)
        for qs in (block[:1], block):
            req = DenseSearchRequest(query_vector=qs[0][1], metric=metric, limit=5,
                                     score_threshold=None, output_fields=())
            hreq = HybridSearchRequest(query_vector=qs[0][1], text_filter="x",
                                       metric=metric, limit=5, output_fields=())
            runs = {
                "exact": lambda f: dense_search_many(f, qs, req),
                "ivf": lambda f: ivf_search_many(idx, spark, qs, req, scan_df=f,
                                                 nprobe=2),
                "hybrid": lambda f: hybrid_search_many(
                    f, None, [(q, v, "spark scan") for q, v in qs], req=hreq),
            }
            for path, run in runs.items():
                for frame in (df, df.limit(0)) if len(qs) == 1 else (df,):
                    seen.clear()
                    with pytest.raises(Scored):
                        run(frame)
                    (cand, cells), = seen
                    rows = [(r["qid"], r["_id"], _score_key(r["_score"]))
                            for r in cand.collect()]
                    got = set(rows)
                    assert len(rows) == len(got), (metric, path)
                    want = set()
                    if frame is df:
                        probed = {qid: set(c) for (qid, _), c in zip(qs, cells)} \
                            if cells is not None else None
                        want = {(qid, i, bits)
                                for (qid, i), (bits, cell) in want_all.items()
                                if qid < len(qs)
                                and (probed is None or cell in probed[qid])}
                        assert want, (metric, path)
                    assert got == want, (metric, path, len(qs), got ^ want)


def test_block_operators_plan_one_arrow_kernel(spark, corpus, qbatch, tmp_path_factory):
    """The exact, IVF and hybrid block operators score through one Python
    map-in-Arrow node, never a nested-loop join of block x corpus (whose
    interpreted higher-order-function fold this kernel replaced)."""
    from flouds_vectordb_spark.operators.hybrid_search import (
        HybridSearchRequest,
        hybrid_search_many,
    )
    from flouds_vectordb_spark.operators.sparse_search import bm25_postings

    root = tmp_path_factory.mktemp("plan_shape")
    idx = build_ivf(corpus, str(root / "idx"), nlist=4, metric="COSINE")
    # stored postings, as a collection serves them: an inline posting
    # build plans its own 1-row doc-stats nested-loop join
    bm25_postings(corpus).write.parquet(str(root / "postings"))
    posts = spark.read.parquet(str(root / "postings"))
    req = DenseSearchRequest(query_vector=qbatch[0][1], metric="COSINE", limit=5,
                             nprobe=4, score_threshold=None)
    hreq = HybridSearchRequest(query_vector=qbatch[0][1], text_filter="x", limit=5)
    hq = [(q, v, "spark vector") for q, v in qbatch]
    for name, out in (
            ("exact", dense_search_many(corpus, qbatch, req)),
            ("ivf", ivf_search_many(idx, spark, qbatch, req)),
            ("hybrid", hybrid_search_many(corpus, posts, hq, hreq))):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
