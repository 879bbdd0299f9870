"""BM25 postings + sparse search semantics (Q3/I1)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from flouds_vectordb_spark.operators.sparse_search import (
    SparseSearchRequest,
    bm25_postings,
    sparse_search,
)

DOCS = [
    (1, "spark merge join"),
    (2, "spark spark scan"),
    (3, "hash join probe build"),
    (4, "scan scan scan scan"),
]


@pytest.fixture(scope="module")
def postings(spark):
    df = spark.createDataFrame(DOCS, "id long, chunk string")
    return bm25_postings(df).cache()


def _bm25_weight(tf, dl, df_t, n=4, avgdl=3.5, k1=1.5, b=0.75):
    idf = math.log(1 + (n - df_t + 0.5) / (df_t + 0.5))
    return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))


def test_posting_weights_match_manual_bm25(postings):
    rows = {(r["id"], r["term"]): r for r in postings.collect()}
    # 'spark' in doc2: tf=2, dl=3, df=2
    r = rows[(2, "spark")]
    assert r["tf"] == 2 and r["dl"] == 3 and r["df"] == 2
    assert r["weight"] == pytest.approx(_bm25_weight(2, 3, 2))
    # 'probe' in doc3: tf=1, dl=4, df=1
    r = rows[(3, "probe")]
    assert r["weight"] == pytest.approx(_bm25_weight(1, 4, 1))


def test_sparse_search_ranks_by_score(postings):
    out = sparse_search(postings, SparseSearchRequest(query_text="spark", limit=10)).collect()
    ids = [r["id"] for r in out]
    assert ids[0] == 2  # tf=2 beats tf=1
    assert set(ids) == {1, 2}


def test_query_term_counts_weighting(postings):
    # doubled query term doubles its contribution
    s1 = {r["id"]: r["score"] for r in
          sparse_search(postings, SparseSearchRequest(query_text="scan", limit=10)).collect()}
    s2 = {r["id"]: r["score"] for r in
          sparse_search(postings, SparseSearchRequest(query_text="scan scan", limit=10)).collect()}
    assert s2[4] == pytest.approx(2 * s1[4], abs=1e-6)


def test_empty_query_returns_nothing(postings):
    assert sparse_search(postings, SparseSearchRequest(query_text="   ", limit=10)).count() == 0


def test_unseen_term_contributes_nothing(postings):
    out = sparse_search(postings, SparseSearchRequest(query_text="zebra spark", limit=10))
    assert {r["id"] for r in out.collect()} == {1, 2}


def test_drop_ratio_build_prunes_smallest(spark):
    df = spark.createDataFrame(DOCS, "id long, chunk string")
    full = bm25_postings(df)
    pruned = bm25_postings(df, drop_ratio_build=0.25)
    nf, np_ = full.count(), pruned.count()
    assert np_ == nf - int(nf * 0.25)
    # pruned set is exactly the top weights
    kept_min = pruned.agg(F.min("weight")).first()[0]
    dropped = nf - np_
    lowest = [r["weight"] for r in full.orderBy("weight").limit(dropped).collect()]
    assert all(w <= kept_min + 1e-12 for w in lowest)


def test_drop_ratio_regimes_identical(spark, monkeypatch):
    """r11: the drop_ratio prune has two regimes — a lazy
    single-partition window below the input-size bound and the
    distributed range-partition rank above it. Same (weight, term, id)
    order, same floor cut: rows must match EXACTLY."""
    from flouds_vectordb_spark import regime

    df = spark.createDataFrame(DOCS, "id long, chunk string")
    small = {tuple(r) for r in bm25_postings(df, drop_ratio_build=0.25).collect()}
    monkeypatch.setattr(regime, "SMALL_BYTES", 0)  # force distributed
    large = {tuple(r) for r in
             bm25_postings(df, drop_ratio_build=0.25).collect()}
    assert small == large and small


def test_incremental_stats_merge_matches_full_build(spark):
    """The O(batch) incremental path (immutable tf rows + additive term-stat
    merge + weight derivation from merged stats) must produce EXACTLY the
    postings a full rebuild computes — including bit-identical weights."""
    from flouds_vectordb_spark.operators.sparse_search import (
        bm25_doc_stats,
        bm25_term_stats,
        bm25_tf,
        bm25_weights,
        merge_term_stats,
    )

    df = spark.createDataFrame(DOCS, "id long, chunk string")
    a = df.filter(F.col("id") <= 2)
    b = df.filter(F.col("id") > 2)

    tf_a, tf_b = bm25_tf(a), bm25_tf(b)
    stats = merge_term_stats(bm25_term_stats(tf_a), bm25_term_stats(tf_b))
    na, sa = bm25_doc_stats(a)
    nb, sb = bm25_doc_stats(b)
    merged = bm25_weights(tf_a.unionByName(tf_b), stats, na + nb, sa + sb)

    full = bm25_postings(df)
    key = lambda r: (r["id"], r["term"])
    got = {key(r): (r["tf"], r["dl"], r["df"], r["weight"]) for r in merged.collect()}
    want = {key(r): (r["tf"], r["dl"], r["df"], r["weight"]) for r in full.collect()}
    assert got == want  # exact equality, weights included


def test_incremental_stats_counts_empty_docs(spark):
    from flouds_vectordb_spark.operators.sparse_search import bm25_doc_stats

    df = spark.createDataFrame([(1, "a b"), (2, "")], "id long, chunk string")
    assert bm25_doc_stats(df) == (2, 2)
