"""ANN (brute force + LSH recall on clustered data), text stats, multimodal."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from flouds_vectordb_spark.operators.ann import ann_lsh_topk, ann_topk
from flouds_vectordb_spark.operators.multimodal import (
    extract_features,
    fake_feature_extractor,
    decode_media,
    with_binary_payload,
)
from flouds_vectordb_spark.operators.text_analysis import corpus_rollup, text_stats


def test_ann_topk_matches_numpy(spark):
    rng = np.random.RandomState(0)
    X = rng.standard_normal((50, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(50)], "id long, embedding array<double>")
    q = [float(x) for x in rng.standard_normal(8)]
    got = [r["id"] for r in ann_topk(df, q, "COSINE", 5).collect()]
    qn = np.array(q)
    cos = (X @ qn) / (np.linalg.norm(X, axis=1) * np.linalg.norm(qn))
    want = list(np.argsort(-np.round(cos, 6) + np.arange(50) * 1e-12)[:5])
    assert got == [int(w) for w in want]


def test_late_interaction_maxsim_matches_numpy(spark):
    from flouds_vectordb_spark.operators.ann import late_interaction_topk

    rng = np.random.RandomState(3)
    n_docs, n_tok, dim = 12, 4, 6
    X = rng.standard_normal((n_docs, n_tok, dim))
    docs = spark.createDataFrame(
        [(d, t, [float(x) for x in X[d, t]])
         for d in range(n_docs) for t in range(n_tok)],
        "doc_id long, pos long, vector array<double>")
    Q = rng.standard_normal((2, 3, dim))
    queries = spark.createDataFrame(
        [(q, t, [float(x) for x in Q[q, t]])
         for q in range(2) for t in range(3)],
        "qid long, pos long, vector array<double>")
    got = {(r["qid"], r["rank"]): (r["doc_id"], r["score_r"])
           for r in late_interaction_topk(docs, queries, k=5).collect()}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for q in range(2):
        scores = []
        for d in range(n_docs):
            s = sum(max(cos(Q[q, t], X[d, u]) for u in range(n_tok))
                    for t in range(3))
            scores.append((d, s))
        want = sorted(scores, key=lambda ds: (-ds[1], ds[0]))[:5]
        for rank, (d, s) in enumerate(want, start=1):
            gd, gs = got[(q, rank)]
            assert gd == d and abs(gs - s) < 1e-6, (q, rank, (gd, gs), (d, s))


def test_late_interaction_k_cut_and_empty_query_bag(spark):
    from flouds_vectordb_spark.operators.ann import late_interaction_topk

    rng = np.random.RandomState(5)
    X = rng.standard_normal((4, 3, 4))
    docs = spark.createDataFrame(
        [(d, t, [float(x) for x in X[d, t]])
         for d in range(4) for t in range(3)],
        "doc_id long, pos long, vector array<double>")
    q = spark.createDataFrame(
        [(0, 0, [float(x) for x in rng.standard_normal(4)])],
        "qid long, pos long, vector array<double>")
    # k larger than the corpus: every doc ranks, dense ranks 1..4
    top = late_interaction_topk(docs, q, k=10).collect()
    assert sorted(r["rank"] for r in top) == [1, 2, 3, 4]
    # empty query bag: no rows out, no error
    empty_q = q.filter(F.col("qid") < 0)
    assert late_interaction_topk(docs, empty_q, k=5).count() == 0


def test_late_interaction_empty_inputs_raise_clearly(spark, tmp_path):
    """ADVICE r11: dim=None + empty frames must raise ValueError, not
    TypeError from len(None[0])."""
    from flouds_vectordb_spark.operators.ann import (
        build_token_sig_index,
        late_interaction_topk_pruned,
    )

    empty = spark.createDataFrame(
        [], "doc_id long, pos long, vector array<double>")
    q_empty = empty.withColumnRenamed("doc_id", "qid")
    with pytest.raises(ValueError, match="pass dim explicitly"):
        late_interaction_topk_pruned(empty, q_empty, k=5)
    with pytest.raises(ValueError, match="pass dim explicitly"):
        build_token_sig_index(empty, str(tmp_path / "sig"))
    # with dim given, empty inputs short-circuit to an empty result
    assert late_interaction_topk_pruned(empty, q_empty, k=5, dim=4).count() == 0


def test_load_cache_invalidates_on_fixture_regeneration(spark, tmp_path):
    """ADVICE r11: regenerating a fixture parquet mid-session must serve
    the NEW file listing, not a cached plan over deleted files."""
    from flouds_vectordb_spark.sources import tables as T

    sf = str(tmp_path)
    spark.range(3).selectExpr("id AS doc_id", "'a' AS text") \
        .coalesce(1).write.parquet(f"{sf}/documents.parquet")
    assert T.load(spark, sf, "documents").count() == 3
    fired = []
    T._INVALIDATION_HOOKS.append(lambda: fired.append(1))
    try:
        import shutil
        shutil.rmtree(f"{sf}/documents.parquet")
        spark.range(5).selectExpr("id AS doc_id", "'b' AS text") \
            .coalesce(1).write.parquet(f"{sf}/documents.parquet")
        assert T.load(spark, sf, "documents").count() == 5
        assert fired  # downstream plan caches were told to clear
    finally:
        T._INVALIDATION_HOOKS.pop()


def test_late_interaction_pruned_matches_exact_on_clusters(spark):
    """r11 serving path: SRP candidate fetch + exact re-rank. On a
    clustered fixture (query bag = a stored doc's bag) the pruned top-k
    must (a) put the self-doc at rank 1 with score = |tokens| and
    (b) agree with the DuckDB twin hash-exactly on every row."""
    import duckdb as dd

    from flouds_vectordb_spark.operators.ann import (
        late_interaction_topk_pruned,
        late_interaction_topk_pruned_sql,
    )

    rng = np.random.RandomState(11)
    X = rng.standard_normal((10, 4, 8))
    rows = [(d, t, [round(float(x), 6) for x in X[d, t]])
            for d in range(10) for t in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, pos long, vector array<double>")
    queries = docs.filter(F.col("doc_id") == 4).withColumnRenamed(
        "doc_id", "qid")
    got = sorted(
        (r["qid"], r["doc_id"], r["rank"], r["score_r"])
        for r in late_interaction_topk_pruned(docs, queries, k=5,
                                              dim=8).collect())
    first = [g for g in got if g[2] == 1][0]
    assert first[1] == 4 and abs(first[3] - 4.0) < 1e-9

    con = dd.connect()
    con.execute("""CREATE TABLE toks (doc_id BIGINT, pos BIGINT,
                                      vector DOUBLE[])""")
    con.executemany("INSERT INTO toks VALUES (?, ?, ?)", rows)
    sql = late_interaction_topk_pruned_sql(
        "toks", "(SELECT doc_id AS qid, pos, vector FROM toks "
        "WHERE doc_id = 4)", k=5, dim=8)
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want


def test_late_interaction_indexed_matches_pruned(spark, tmp_path_factory):
    """The stored token-signature index (build_token_sig_index) must
    reproduce the pruned operator exactly — stored sigs ARE the computed
    sigs — and the meta pin must make the query side hash with the
    index's planes even when the caller would default differently."""
    from flouds_vectordb_spark.operators.ann import (
        build_token_sig_index,
        late_interaction_topk_indexed,
        late_interaction_topk_pruned,
    )

    rng = np.random.RandomState(17)
    X = rng.standard_normal((12, 4, 8))
    docs = spark.createDataFrame(
        [(d, t, [round(float(x), 6) for x in X[d, t]])
         for d in range(12) for t in range(4)],
        "doc_id long, pos long, vector array<double>")
    queries = docs.filter(F.col("doc_id") == 6).withColumnRenamed(
        "doc_id", "qid")
    path = str(tmp_path_factory.mktemp("sigidx") / "toks__sig")
    meta = build_token_sig_index(docs, path, bits=16, dim=8)
    assert meta == {"bits": 16, "dim": 8, "seed": 7}

    got = sorted(
        tuple(r) for r in late_interaction_topk_indexed(
            spark, path, docs, queries, k=5).collect())
    want = sorted(
        tuple(r) for r in late_interaction_topk_pruned(
            docs, queries, k=5, bits=16, dim=8).collect())
    assert got == want and got
    first = [g for g in got if g[2] == 1][0]
    assert first[1] == 6 and abs(first[3] - 4.0) < 1e-9


def test_srp_signature_expr_matches_column(spark):
    """The JVM-parsed SQL form of the SRP signature (r12, kills ~2.8 s of
    py4j expression building per serving-path call) must be bit-identical
    to the Column form on double AND float vectors."""
    from flouds_vectordb_spark.operators.ann import (
        srp_planes,
        srp_signature,
        srp_signature_expr,
    )

    rng = np.random.RandomState(13)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(16)])
         for i in range(300)], "id long, vector array<double>")
    planes = srp_planes(16, 20, 7)
    for d in (df, df.select("id", F.col("vector").cast("array<float>")
                            .alias("vector"))):
        bad = d.select(
            srp_signature(F.col("vector"), planes).alias("a"),
            srp_signature_expr("`vector`", planes).alias("b"),
        ).filter(F.col("a") != F.col("b")).count()
        assert bad == 0


def test_quote_ident_escapes_backticks(spark):
    """A column name containing a backtick must not break (or inject into)
    the parsed-SQL SRP path (r12 ADVICE low)."""
    from flouds_vectordb_spark.operators.ann import (
        quote_ident,
        srp_planes,
        srp_signature,
        srp_signature_expr,
    )

    assert quote_ident("v`x") == "`v``x`"
    planes = srp_planes(4, 8, 7)
    df = spark.createDataFrame([(1, [0.5, -0.2, 0.1, 0.9])],
                               "id long, `v``x` array<double>")
    row = df.select(
        srp_signature(F.col(quote_ident("v`x")), planes).alias("a"),
        srp_signature_expr(quote_ident("v`x"), planes).alias("b"),
    ).first()
    assert row["a"] == row["b"]


def test_srp_signature_batch_matches_expr(spark):
    """The Arrow cumsum signature (r13) must be bit-identical to the
    parsed-SQL HOF form — including NULL vectors, ragged lengths, NULL
    elements and NaN elements (all -> the HOF's null-fold semantics)."""
    from flouds_vectordb_spark.operators.ann import (
        srp_planes,
        srp_signature_batch,
        srp_signature_expr,
    )

    rng = np.random.RandomState(23)
    rows = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(400)]
    rows += [(1000, None), (1001, [1.0] * 7), (1002, [1.0] * 17),
             (1003, [1.0] * 8 + [None] + [1.0] * 7),
             (1004, [float("nan")] + [1.0] * 15), (1005, [0.0] * 16)]
    df = spark.createDataFrame(rows, "id long, vector array<double>")
    planes = srp_planes(16, 20, 7)
    got = df.select(
        "id", srp_signature_expr("`vector`", planes).alias("a"),
        srp_signature_batch(planes)(F.col("vector")).alias("b")).collect()
    assert got
    for r in got:
        a = r["a"] if r["a"] is not None else 0
        assert a == r["b"], (r["id"], r["a"], r["b"])


def _li_graded_recall(exact_df, fetched_df) -> float:
    """sum_q |exact_q ∩ fetched_q| / sum_q |exact_q| over two top-k
    operator outputs, graded driver-side."""
    exact, fetched = {}, {}
    for r in exact_df.collect():
        exact.setdefault(r["qid"], set()).add(r["doc_id"])
    for r in fetched_df.collect():
        fetched.setdefault(r["qid"], set()).add(r["doc_id"])
    hits = sum(len(exact[q] & fetched.get(q, set())) for q in exact)
    return hits / sum(len(v) for v in exact.values())


def _assert_recall_knife_edge(recall_df, recall: float, nq: int):
    """recall_df at min_recall == the graded recall reads True, and at
    the next double above it reads False."""
    import math

    assert 0.0 < recall, "a zero recall proves nothing"
    for thr, want in ((recall, True), (math.nextafter(recall, 2.0), False)):
        got = [tuple(r) for r in recall_df(thr).collect()]
        assert got == [(nq, want)], (recall, thr)


def test_li_recall_df_matches_operators(spark):
    """recall_df over the SRP candidate stage grades exactly what the two
    operators return (the restriction-of-M equivalence): it flips at the
    recall graded from late_interaction_topk vs topk_pruned."""
    from flouds_vectordb_spark.operators.ann import (
        late_interaction_recall_df,
        late_interaction_topk,
        late_interaction_topk_pruned,
    )

    rng = np.random.RandomState(31)
    X = rng.standard_normal((12, 4, 8))
    docs = spark.createDataFrame(
        [(d, t, [round(float(x), 6) for x in X[d, t]])
         for d in range(12) for t in range(4)],
        "doc_id long, pos long, vector array<double>")
    queries = docs.filter(F.col("doc_id").isin(4, 6)).withColumnRenamed(
        "doc_id", "qid")
    recall = _li_graded_recall(
        late_interaction_topk(docs, queries, k=5),
        late_interaction_topk_pruned(docs, queries, k=5, dim=8))
    _assert_recall_knife_edge(
        lambda thr: late_interaction_recall_df(docs, queries, k=5, dim=8,
                                               min_recall=thr),
        recall, 2)


def test_li_ivf_index_fresh_tracks_source_mtime(tmp_path):
    """r12 ADVICE low: the on-disk LI-IVF index must be considered stale
    when its SOURCE fixture is newer — path-existence alone kept serving
    centroids built from deleted data."""
    import os
    import time

    from flouds_vectordb_spark.operators.ann import li_ivf_index_fresh

    src = tmp_path / "embeddings.parquet"
    src.mkdir()
    (src / "part-0.parquet").write_bytes(b"x")
    idx = tmp_path / "idx"
    idx.mkdir()
    assert not li_ivf_index_fresh(str(idx), str(src))  # no centroids yet
    (idx / "_centroids.json").write_text("{}")
    assert li_ivf_index_fresh(str(idx), str(src))  # built after source
    t = time.time() + 100  # regenerate the fixture "later"
    os.utime(src / "part-0.parquet", (t, t))
    assert not li_ivf_index_fresh(str(idx), str(src))  # stale -> rebuild
    assert not li_ivf_index_fresh(str(idx), str(tmp_path / "gone"))


def test_late_interaction_ivf_recalls_exact_on_clusters(spark, tmp_path):
    """r12 VERDICT ask #6: stage 2 through the stored IVF token index —
    partition-pruned candidate fetch + the shared exact re-rank. On a
    clustered fixture (query bag = a stored doc's bag, plus near-copies)
    the self-doc must rank 1 with score = |tokens| and recall@5 vs the
    exact operator must be high; empty query bags short-circuit."""
    from flouds_vectordb_spark.operators.ann import (
        build_li_ivf_index,
        late_interaction_topk,
        late_interaction_topk_ivf,
    )

    rng = np.random.RandomState(23)
    base = rng.standard_normal((12, 4, 8))
    rows = [(d, t, [round(float(x), 6) for x in base[d, t]])
            for d in range(12) for t in range(4)]
    # 5 near-copies of doc 4's bag: true neighbors for the recall check
    for i in range(5):
        for t in range(4):
            rows.append((100 + i, t,
                         [round(float(x + 0.01 * ((i + t) % 3 - 1)), 6)
                          for x in base[4, t]]))
    docs = spark.createDataFrame(
        rows, "doc_id long, pos long, vector array<double>")
    path = str(tmp_path / "li_ivf")
    idx = build_li_ivf_index(docs, path, nlist=8)
    assert idx.nlist >= 1

    queries = docs.filter(F.col("doc_id") == 4).withColumnRenamed(
        "doc_id", "qid")
    got = late_interaction_topk_ivf(spark, path, docs, queries, k=5,
                                    nprobe=4).collect()
    by_rank = {r["rank"]: r for r in got}
    assert by_rank[1]["doc_id"] == 4
    assert abs(by_rank[1]["score_r"] - 4.0) < 1e-9
    exact = {r["doc_id"] for r in
             late_interaction_topk(docs, queries, k=5).collect()}
    assert len({r["doc_id"] for r in got} & exact) >= 4  # recall@5 >= 0.8
    empty_q = queries.filter(F.col("qid") < 0)
    assert late_interaction_topk_ivf(spark, path, docs, empty_q,
                                     k=5).count() == 0


def test_prepared_plan_cache_never_caches_eager_builders(spark, tmp_path):
    """The registry's plan cache must cache ONLY pure lazy builders: an
    entry that runs jobs at build time (here: a collect), registers a
    persist or runs an HNSW driver beam must rebuild every call —
    caching it would cache results. Once the graph is collected the
    driver beam runs no Spark job, so only its plan-cache veto keeps
    that builder out of the cache."""
    from flouds_vectordb_spark import queries as Q
    from flouds_vectordb_spark.lifecycle import tracked_persist
    from flouds_vectordb_spark.plans.hnsw import build_hnsw

    rng = np.random.RandomState(5)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.uniform(-1, 1, 4)]) for i in range(40)],
        "id bigint, vector array<double>")
    idx = build_hnsw(vecs, str(tmp_path / "hnsw"), m=4, cell_target=16)
    q = [0.1, 0.2, 0.3, 0.4]
    idx.beam_search_many_scored(spark, [(0, q)], ef=4)  # collects the graph
    assert idx._graph_ram not in (None, False)
    calls = {"pure": 0, "job": 0, "persist": 0, "beam": 0}

    def pure(sp, sf):
        calls["pure"] += 1
        return sp.range(3)

    def with_job(sp, sf):
        calls["job"] += 1
        sp.range(2).collect()  # a build-time action
        return sp.range(3)

    def with_persist(sp, sf):
        calls["persist"] += 1
        return tracked_persist(sp.range(3))

    def with_beam(sp, sf):
        calls["beam"] += 1
        ids = [i for i, _ in idx.beam_search_many_scored(
            sp, [(0, q)], ef=4)[0]]
        return sp.range(40).filter(F.col("id").isin(ids))

    wp, wj, wper, wb = (Q._memoized("t_pure", pure),
                        Q._memoized("t_job", with_job),
                        Q._memoized("t_persist", with_persist),
                        Q._memoized("t_beam", with_beam))
    for _ in range(3):
        wp(spark, "/tmp/x"); wj(spark, "/tmp/x"); wper(spark, "/tmp/x")
        wb(spark, "/tmp/x")
    assert calls == {"pure": 1, "job": 3, "persist": 3, "beam": 3}
    for k in list(Q._PLAN_CACHE):
        if k[2].startswith("t_"):
            del Q._PLAN_CACHE[k]


def test_ppjoin_length_filter_is_exact(spark):
    """_length_filtered may only drop pairs that provably fail the
    Jaccard threshold (min/max size ratio < θ); surviving pairs verify
    to the same result set as the unfiltered candidates."""
    from flouds_vectordb_spark.operators.dedup import (
        _jaccard_filtered,
        _length_filtered,
    )

    sets = spark.createDataFrame(
        [(1, ["a", "b", "c", "d"]), (2, ["a", "b", "c", "e"]),
         (3, ["a"]), (4, list("abcdefghij"))],
        "id long, vset array<string>")
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (3, 4)], "id_a long, id_b long")
    kept = {(r["id_a"], r["id_b"]) for r in
            _length_filtered(cand, sets, 0.5).collect()}
    # |1|=4,|2|=4 ratio 1.0 keep; |1|,|3| ratio .25 drop; |1|,|4| ratio .4
    # drop; |3|,|4| ratio .1 drop
    assert kept == {(1, 2)}

    def verify(c):
        pairs = (c.join(sets.select(F.col("id").alias("id_a"),
                                    F.col("vset").alias("sh_a")), "id_a")
                 .join(sets.select(F.col("id").alias("id_b"),
                                   F.col("vset").alias("sh_b")), "id_b"))
        return {(r["id_a"], r["id_b"]) for r in
                _jaccard_filtered(pairs, 0.5).collect()}

    assert verify(_length_filtered(cand, sets, 0.5)) == verify(cand)


def test_ppjoin_prefix_filter_is_exact_and_prunes_equal_lengths(spark):
    """r12 VERDICT ask #3: prefix_filtered (tests/reference_impls.py) must (a) drop only pairs that
    provably fail θ — surviving pairs verify to the same result set as
    unfiltered candidates, on a randomized corpus — and (b) prune
    EQUAL-LENGTH disjoint pairs the length-only test passes."""
    import itertools
    import random

    from reference_impls import prefix_filtered, prefix_probe

    from flouds_vectordb_spark.operators.dedup import _jaccard_filtered, _length_filtered

    rng = random.Random(7)
    vocab = [f"s{i}" for i in range(30)]
    rows = [(i, sorted(rng.sample(vocab, rng.randint(3, 12))))
            for i in range(1, 25)]
    sets = spark.createDataFrame(rows, "id long, vset array<string>")
    cand = spark.createDataFrame(
        [(a, b) for a, b in itertools.combinations(range(1, 25), 2)],
        "id_a long, id_b long")
    probe = prefix_probe(sets, 0.5)

    def verify(c):
        pairs = (c.join(sets.select(F.col("id").alias("id_a"),
                                    F.col("vset").alias("sh_a")), "id_a")
                 .join(sets.select(F.col("id").alias("id_b"),
                                   F.col("vset").alias("sh_b")), "id_b"))
        return {(r["id_a"], r["id_b"]) for r in
                _jaccard_filtered(pairs, 0.5).collect()}

    # exactness: zero false negatives vs the unfiltered verify
    assert verify(prefix_filtered(cand, probe, 0.5)) == verify(cand)
    # strictly stronger than length-only where lengths are equal:
    eq = spark.createDataFrame(
        [(101, ["a", "b", "c", "d"]), (102, ["e", "f", "g", "h"])],
        "id long, vset array<string>")
    eq_cand = spark.createDataFrame([(101, 102)], "id_a long, id_b long")
    assert _length_filtered(eq_cand, eq, 0.5).count() == 1  # ratio passes
    assert prefix_filtered(eq_cand, prefix_probe(eq, 0.5), 0.5).count() == 0


def test_late_interaction_self_query_is_top1(spark):
    from flouds_vectordb_spark.operators.ann import late_interaction_topk

    rng = np.random.RandomState(4)
    X = rng.standard_normal((6, 5, 4))
    docs = spark.createDataFrame(
        [(d, t, [float(x) for x in X[d, t]])
         for d in range(6) for t in range(5)],
        "doc_id long, pos long, vector array<double>")
    queries = docs.filter(F.col("doc_id") == 2).withColumnRenamed(
        "doc_id", "qid")
    top = late_interaction_topk(docs, queries, k=3).collect()
    first = [r for r in top if r["rank"] == 1][0]
    # every token's best match is itself at cosine 1.0 -> score = |tokens|
    assert first["doc_id"] == 2 and abs(first["score_r"] - 5.0) < 1e-9
    assert len(top) == 3


def test_ann_lsh_exact_recall_on_clustered_data(spark):
    # clustered fixture: query sits inside a tight cluster -> the Hamming
    # ball contains the true neighbors and LSH result == exact result
    rng = np.random.RandomState(1)
    center = rng.standard_normal(8) * 3
    cluster = [center + rng.standard_normal(8) * 0.05 for _ in range(10)]
    noise = [rng.standard_normal(8) for _ in range(100)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(cluster + noise)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    q = [float(x) for x in center]
    exact = [r["id"] for r in ann_topk(df, q, "COSINE", 5).collect()]
    approx = [r["id"] for r in ann_lsh_topk(df, q, "COSINE", 5, bits=10, radius=2).collect()]
    assert approx == exact


def test_text_stats_values(spark):
    df = spark.createDataFrame(
        [(1, "the the quick fox"), (2, "")], "id long, text string")
    out = {r["id"]: r for r in text_stats(df).collect()}
    r1 = out[1]
    assert r1["n_tokens"] == 4
    assert r1["stopword_ratio_r"] == 0.5  # 'the' x2 of 4
    assert r1["distinct_ratio_r"] == 0.75
    assert r1["lang_guess"] == "en"
    r2 = out[2]
    assert r2["n_tokens"] == 0 and r2["quality_r"] == pytest.approx(0.2)
    assert r2["lang_guess"] == "und"


def test_text_stats_lang_markers(spark):
    df = spark.createDataFrame(
        [(1, "der hund und die katze"), (2, "le chat et la maison")],
        "id long, text string")
    out = {r["id"]: r["lang_guess"] for r in text_stats(df).collect()}
    assert out[1] == "de" and out[2] == "fr"


def test_corpus_rollup_deterministic_mean(spark):
    df = spark.createDataFrame(
        [(1, "aaa bbb", "s1"), (2, "ccc ddd eee", "s1"), (3, "x", "s2")],
        "id long, text string, source string")
    stats = text_stats(df)
    out = {r["source"]: r for r in corpus_rollup(stats, df).collect()}
    assert out["s1"]["n_docs"] == 2 and out["s1"]["total_tokens"] == 5
    assert out["s2"]["n_docs"] == 1


def test_multimodal_features_deterministic(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "")], "id long, text string")
    feats = extract_features(with_binary_payload(df), id_col="id")
    rows = {r["id"]: r for r in feats.collect()}
    n, h, f = fake_feature_extractor(b"hello world")
    assert rows[1]["n_bytes"] == n == 11
    assert rows[1]["content_hash"] == h == hashlib.md5(b"hello world").hexdigest()
    assert rows[1]["feat"] == pytest.approx(f)
    assert rows[2]["n_bytes"] == 0
    assert rows[1]["media_type"] == "text/plain"


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG", "image/png")


def test_multimodal_custom_extractor_plugs_in(spark):
    df = spark.createDataFrame([(1, "abc")], "id long, text string")

    def ext(payload: bytes):
        return len(payload), "X", [1.0, 2.0, 3.0, 4.0]

    out = extract_features(with_binary_payload(df), extractor=ext).first()
    assert out["content_hash"] == "X" and out["feat"] == [1.0, 2.0, 3.0, 4.0]


def test_multimodal_resize_nearest_neighbor(spark):
    from flouds_vectordb_spark.operators.multimodal import fake_resize, resize_media

    text = "abcdefghij"  # 10 chars -> 4: indices 0,2,5,7 = a c f h
    assert fake_resize(text, 4) == "acfh"
    assert fake_resize("x", 3) == "xxx"  # upsample repeats nearest
    assert fake_resize("", 4) == ""

    df = spark.createDataFrame([(1, text)], "id long, text string")
    row = resize_media(with_binary_payload(df), out_len=4).first()
    assert row["out_len"] == 4
    assert row["resized_hash"] == hashlib.md5(b"acfh").hexdigest()


def test_multimodal_frame_sampling(spark):
    from flouds_vectordb_spark.operators.multimodal import sample_frames

    text = "A" * 64 + "B" * 64 + "C" * 30  # 3 chunks of 64 (last short)
    df = spark.createDataFrame([(1, text)], "id long, text string")
    rows = sorted(sample_frames(with_binary_payload(df), n_frames=4, frame_chars=64)
                  .collect(), key=lambda r: r["frame_idx"])
    # chunk index per frame j: (j*3)//4 -> 0,0,1,2
    assert [r["frame_idx"] for r in rows] == [0, 1, 2, 3]
    assert [r["frame_len"] for r in rows] == [64, 64, 64, 30]
    assert rows[0]["frame_hash"] == hashlib.md5(b"A" * 64).hexdigest()
    assert rows[2]["frame_hash"] == hashlib.md5(b"B" * 64).hexdigest()
    assert rows[3]["frame_hash"] == hashlib.md5(b"C" * 30).hexdigest()


# ---- repetition filters (r6) -------------------------------------------------

def test_repetition_stats_rules(spark):
    from flouds_vectordb_spark.operators.text_analysis import repetition_stats

    docs = [
        ("dup_lines", "hello world\nhello world\nhello world\nsomething else"),
        ("dup_gram", "buy now buy now buy now buy now"),
        ("clean", "a normal sentence about spark engines and scalars"),
        ("one_word", "one"),
        ("empty", ""),
    ]
    df = spark.createDataFrame(docs, "id string, text string")
    got = {r["id"]: r.asDict() for r in repetition_stats(df).collect()}
    assert got["dup_lines"]["dup_line_frac_r"] == 0.5  # 2 of 4 lines are copies
    assert got["dup_lines"]["repetitive"]
    # "buy now" occurs 4x: coverage 4*7 / 31 chars
    assert abs(got["dup_gram"]["top_2gram_char_frac_r"] - 28 / 31) < 1e-6
    assert got["dup_gram"]["repetitive"]
    # a clean sentence has NO repeated 2-gram: coverage is exactly 0,
    # not the longest singleton gram's share
    assert got["clean"]["top_2gram_char_frac_r"] == 0.0
    assert not got["clean"]["repetitive"]
    assert not got["one_word"]["repetitive"]
    assert got["empty"]["n_lines"] == 0 and not got["empty"]["repetitive"]


def test_scrub_pii_redacts_in_fixed_order(spark):
    from flouds_vectordb_spark.operators.text_analysis import scrub_pii

    docs = [
        ("a", "reach bob.smith+x@mail.example.org or 10.0.42.7, call +1 (415) 555-0100"),
        ("b", "clean text with digits 42 but no identifiers"),
        ("c", "double x@y.io z@w.co and 192.168.0.1"),
        ("d", ""),
    ]
    df = spark.createDataFrame(docs, "id string, text string")
    got = {r["id"]: r.asDict() for r in scrub_pii(df).collect()}
    assert got["a"]["text_scrubbed"] == "reach <EMAIL> or <IP>, call <PHONE>"
    assert (got["a"]["n_email"], got["a"]["n_ipv4"], got["a"]["n_phone"]) == (1, 1, 1)
    # the IP must NOT be double-counted by the looser phone pattern
    assert got["c"]["n_ipv4"] == 1 and got["c"]["n_phone"] == 0
    assert got["c"]["n_email"] == 2
    assert got["b"]["text_scrubbed"] == docs[1][1]
    assert got["d"]["text_scrubbed"] == ""


def test_scrub_pii_ssn_ccard_intl_phone(spark):
    """r7 classes: SSN, 16-digit payment card (plain + separated), and
    the international +CC grouped phone form."""
    from flouds_vectordb_spark.operators.text_analysis import scrub_pii

    docs = [
        ("ssn", "taxpayer 123-45-6789 on file"),
        ("cc1", "card 4111 1111 1111 1111 charged"),
        ("cc2", "card 4111111111111111 charged"),
        ("intl", "ring +44 20 7946 0958 today"),
        # an SSN-shaped string inside a longer digit run must NOT match
        ("run", "ref 123-45-67890 and 12345678901234"),
    ]
    df = spark.createDataFrame(docs, "id string, text string")
    got = {r["id"]: r.asDict() for r in scrub_pii(df).collect()}
    assert got["ssn"]["text_scrubbed"] == "taxpayer <SSN> on file"
    assert got["ssn"]["n_ssn"] == 1
    assert got["cc1"]["text_scrubbed"] == "card <CCARD> charged"
    assert got["cc2"]["text_scrubbed"] == "card <CCARD> charged"
    assert got["cc1"]["n_ccard"] == 1 and got["cc1"]["n_phone"] == 0
    assert got["intl"]["text_scrubbed"] == "ring <PHONE> today"
    assert got["intl"]["n_phone"] == 1
    assert got["run"]["text_scrubbed"] == docs[4][1]
    assert got["run"]["n_ssn"] == 0 and got["run"]["n_phone"] == 0


def test_scrub_pii_digit_boundaries_and_adjacency(spark):
    """ADVICE r6: a 10+-digit run must not lose a prefix to <PHONE>; the
    two-pass guarded replace must catch adjacent matches whose shared
    separator the first pass consumed."""
    from flouds_vectordb_spark.operators.text_analysis import scrub_pii

    docs = [
        ("epoch", "ts 12345678901234 order 99912345678"),
        ("adj2", "555-123-4567 555-123-4568"),
        ("adj3", "415.555.0100 415.555.0101 415.555.0102"),
        ("edge", "4155550100"),  # whole-string phone, ^/$ guards
    ]
    df = spark.createDataFrame(docs, "id string, text string")
    got = {r["id"]: r.asDict() for r in scrub_pii(df).collect()}
    assert got["epoch"]["text_scrubbed"] == docs[0][1]
    assert got["epoch"]["n_phone"] == 0
    assert got["adj2"]["text_scrubbed"] == "<PHONE> <PHONE>"
    assert got["adj2"]["n_phone"] == 2
    assert got["adj3"]["text_scrubbed"] == "<PHONE> <PHONE> <PHONE>"
    assert got["adj3"]["n_phone"] == 3
    assert got["edge"]["text_scrubbed"] == "<PHONE>" and got["edge"]["n_phone"] == 1


def test_scrub_pii_spares_benign_numbers(spark):
    """The structured phone pattern must not merge unrelated numbers
    (years, counts, adjacent numeric lines) into one redaction."""
    from flouds_vectordb_spark.operators.text_analysis import scrub_pii

    docs = [("y", "pages 1990 2005 of the report"),
            ("s", "items 42 12345 in stock"),
            ("l", "line1 1999\n2024 line2"),
            ("p", "dotted 415.555.0100 and bare 4155550100")]
    df = spark.createDataFrame(docs, "id string, text string")
    got = {r["id"]: r.asDict() for r in scrub_pii(df).collect()}
    for k in ("y", "s", "l"):
        assert got[k]["n_phone"] == 0 and "<PHONE>" not in got[k]["text_scrubbed"], k
    assert got["p"]["n_phone"] == 2


def test_scrub_pii_non_ascii_adjacent(spark):
    """ADVICE r11: re.ASCII matches the RE2/DuckDB oracle, NOT Java's
    Unicode-aware \\b — an IPv4 (or email) glued to a non-ASCII letter
    must be redacted (the old JVM Column chain left it alone; the oracle
    always redacted it, so this pins the parity-fix direction)."""
    from flouds_vectordb_spark.operators.text_analysis import scrub_pii

    docs = [("ip_acc", "café1.2.3.4é end"),
            ("em_acc", "señorx@y.comü tail"),
            ("plain", "plain 1.2.3.4 here")]
    df = spark.createDataFrame(docs, "id string, text string")
    got = {r["id"]: r.asDict() for r in scrub_pii(df).collect()}
    assert got["ip_acc"]["n_ipv4"] == 1
    assert "<IP>" in got["ip_acc"]["text_scrubbed"]
    assert got["em_acc"]["n_email"] == 1
    assert got["plain"]["n_ipv4"] == 1
    assert got["plain"]["text_scrubbed"] == "plain <IP> here"


def test_decode_media_nonimage_always_raises():
    from flouds_vectordb_spark.operators.multimodal import decode_media

    import pytest as _pytest
    with _pytest.raises(NotImplementedError, match="no decoder"):
        decode_media(b"RIFF....WAVE", "audio/wav")


def test_pil_image_extractor_real_decode(spark):
    """Runs only where Pillow is installed (not this container): a real
    PNG flows through the UNCHANGED mapInPandas pipeline with the real
    extractor — schema, batching, and partitioning identical to the
    fake-extractor path."""
    import pytest as _pytest
    _pytest.importorskip("PIL")
    import io

    from PIL import Image

    from flouds_vectordb_spark.operators.multimodal import (
        extract_features,
        pil_image_extractor,
    )

    buf = io.BytesIO()
    Image.new("RGB", (7, 3), (255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame([(1, bytearray(png), "image/png")],
                               "id long, payload binary, media_type string")
    row = extract_features(df, extractor=pil_image_extractor).collect()[0]
    assert row["n_bytes"] == len(png)
    assert row["feat"][:3] == [7.0, 3.0, 3.0]
    assert abs(row["feat"][3] - (255 / 3) / 255.0) < 1e-6  # mean luma of pure red


# ---- Gopher quality rules (r7) -----------------------------------------------

def test_gopher_quality_rules(spark):
    from flouds_vectordb_spark.operators.text_analysis import gopher_quality

    good = ("the quick brown fox jumps over that lazy dog and then runs away "
            "to have some rest with friends of his pack because it was a long "
            "day of running and jumping through fields and woods be sure "
            "to note that every word here has letters and the text keeps "
            "a natural mix of common function words") # > 50 words, clean
    docs = [
        ("good", good),
        ("short", "too few words to keep"),
        ("bullets", "\n".join("• item " + good for _ in range(10))),
        ("numeric", " ".join("12345" for _ in range(60))),   # no alpha words
        ("symbols", good + " " + "#" * 0 + " ".join("#tag" for _ in range(10))),
        ("nostop", " ".join(f"w{i}x" for i in range(60))),   # no function words
    ]
    df = spark.createDataFrame(docs, "id string, text string")
    got = {r["id"]: r.asDict() for r in gopher_quality(df).collect()}
    assert got["good"]["keep"]
    assert not got["short"]["keep"] and got["short"]["n_words"] < 50
    assert not got["numeric"]["keep"] and got["numeric"]["alpha_word_frac_r"] == 0.0
    assert not got["nostop"]["keep"] and got["nostop"]["n_stop_hits"] == 0
    # the bullet doc: every line bullet-led -> frac 1.0 > 0.9
    assert got["bullets"]["bullet_line_frac_r"] == 1.0
    assert not got["bullets"]["keep"]
    # symbol doc: 10 hashes over ~65 words > 0.1
    assert got["symbols"]["symbol_word_ratio_r"] > 0.1
    assert not got["symbols"]["keep"]


def test_repetition_full_ngram_family(spark):
    """r7: top-3/4-gram coverage and the exact duplicated-5/10-gram
    position union (overlaps counted once)."""
    from flouds_vectordb_spark.operators.text_analysis import repetition_stats_full

    E5 = "a b c d e"
    docs = [
        # "a b c d e" twice, separated: dup-5-gram covers 10 of 11 tokens
        ("dup5", f"{E5} x {E5}"),
        # overlapping repeats: "a b c d e a b c d e a b c d e" — dup 5-grams
        # at many consecutive starts; union = whole 15-token stream
        ("dup5_overlap", f"{E5} {E5} {E5}"),
        ("clean", "one two three four five six seven eight nine ten"),
        ("tiny", "x y"),
    ]
    df = spark.createDataFrame(docs, "id string, text string")
    got = {r["id"]: r.asDict() for r in repetition_stats_full(df).collect()}
    assert abs(got["dup5"]["dup_5gram_frac_r"] - 10 / 11) < 1e-6
    assert got["dup5"]["repetitive_ngram"]
    assert got["dup5_overlap"]["dup_5gram_frac_r"] == 1.0
    assert got["clean"]["dup_5gram_frac_r"] == 0.0
    assert got["clean"]["top_3gram_frac_r"] == 0.0
    assert not got["clean"]["repetitive_ngram"]
    assert got["tiny"]["dup_5gram_frac_r"] == 0.0  # shorter than n


def test_repetition_full_matches_duckdb(spark):
    """Cross-engine parity on the hand fixture (the sf gate covers the
    corpus; this pins the tricky union/sort logic on known inputs)."""
    import duckdb

    from flouds_vectordb_spark.operators.text_analysis import (
        repetition_stats_full,
        repetition_stats_full_sql,
    )

    docs = [("a", "p q r s t u p q r s t u"),
            ("b", "m m m m m m m m m m m m"),
            ("c", "one two three two three two three two three end")]
    df = spark.createDataFrame(docs, "id string, text string")
    spark_rows = {r["id"]: r.asDict() for r in repetition_stats_full(df).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", docs)
    sql = repetition_stats_full_sql("t")
    for row in con.execute(sql).fetchall():
        cols = [d[0] for d in con.description]
        duck = dict(zip(cols, row))
        sp = spark_rows[duck["id"]]
        for c in cols:
            assert sp[c] == duck[c], (duck["id"], c, sp[c], duck[c])


def test_c4_clean_rules(spark):
    from flouds_vectordb_spark.operators.text_analysis import c4_clean

    good_line = "This is a perfectly ordinary sentence with many words."
    docs = [
        ("keep", "\n".join([good_line] * 3)),
        ("shortline", "tiny line.\n" + good_line),          # <5 words dropped
        ("nopunct", "this line has plenty of words but no terminal mark\n"
                    + "\n".join([good_line] * 3)),
        ("js", "Please enable javascript to view this page.\n"
               + "\n".join([good_line] * 3)),
        ("lorem", "\n".join([good_line] * 3) + "\nLorem Ipsum dolor sit amet."),
        ("brace", "\n".join([good_line] * 3) + "\nfunction() { return 1; }"),
        ("fewsent", good_line + "\nno more full sentences here"),
    ]
    df = spark.createDataFrame(docs, "id string, text string")
    got = {r["id"]: r.asDict() for r in c4_clean(df).collect()}
    assert got["keep"]["keep_page"] and got["keep"]["n_lines_kept"] == 3
    assert got["shortline"]["n_lines_dropped"] == 1
    assert got["nopunct"]["n_lines_dropped"] == 1
    assert got["js"]["n_lines_dropped"] == 1  # javascript line removed
    assert got["js"]["keep_page"]             # page itself survives
    assert not got["lorem"]["keep_page"]
    assert not got["brace"]["keep_page"]
    assert not got["fewsent"]["keep_page"] and got["fewsent"]["n_sentences"] < 3
    # badword plug-in
    got2 = {r["id"]: r.asDict()
            for r in c4_clean(df, badwords=("ordinary",)).collect()}
    assert not got2["keep"]["keep_page"]


def test_decode_media_video_raises_without_av():
    import pytest as _pytest

    from flouds_vectordb_spark.operators.multimodal import decode_media

    try:
        import av  # noqa: F401
        _pytest.skip("av installed; hook active")
    except ImportError:
        pass
    with _pytest.raises(NotImplementedError, match="no decoder"):
        decode_media(b"\x00\x00\x00\x18ftypmp42", "video/mp4")


def test_soundfile_audio_extractor_real_decode(spark):
    """Runs only where soundfile is installed (not this container): a real
    WAV flows through the UNCHANGED mapInPandas pipeline with the real
    audio extractor — same contract as the Pillow test above."""
    import pytest as _pytest
    _pytest.importorskip("soundfile")
    import io

    import numpy as np
    import soundfile

    from flouds_vectordb_spark.operators.multimodal import (
        extract_features,
        soundfile_audio_extractor,
    )

    rate, freq, dur = 8000, 440.0, 0.1
    t = np.arange(int(rate * dur)) / rate
    samples = 0.5 * np.sin(2 * np.pi * freq * t)
    buf = io.BytesIO()
    soundfile.write(buf, samples, rate, format="WAV")
    wav = buf.getvalue()
    df = spark.createDataFrame([(1, bytearray(wav), "audio/wav")],
                               "id long, payload binary, media_type string")
    row = extract_features(df, extractor=soundfile_audio_extractor).collect()[0]
    assert row["n_bytes"] == len(wav)
    n_frames, srate, n_ch, rms = row["feat"]
    assert n_frames == len(samples) and srate == rate and n_ch == 1.0
    assert abs(rms - 0.5 / 2 ** 0.5) < 0.01  # sine RMS = amp/sqrt(2)


def test_av_video_extractor_importorskip(spark):
    """Runs only where av (PyAV) is installed (not this container): the
    extractor reads container metadata without decoding frames."""
    import pytest as _pytest
    av = _pytest.importorskip("av")
    import io

    import numpy as np

    from flouds_vectordb_spark.operators.multimodal import av_video_extractor

    buf = io.BytesIO()
    with av.open(buf, "w", format="mp4") as c:
        st = c.add_stream("h264", rate=4)
        st.width, st.height, st.pix_fmt = 64, 32, "yuv420p"
        for _ in range(8):
            frame = av.VideoFrame.from_ndarray(
                np.zeros((32, 64, 3), dtype=np.uint8), format="rgb24")
            for pkt in st.encode(frame):
                c.mux(pkt)
        for pkt in st.encode():
            c.mux(pkt)
    n_bytes, _md5, feat = av_video_extractor(buf.getvalue())
    dur, n_streams, w, h = feat
    assert n_streams == 1.0 and w == 64.0 and h == 32.0 and dur > 0.0


# ---- unigram LM cross-entropy (r8) -------------------------------------------

def test_unigram_logprob_self_and_reference_model(spark):
    import math

    from flouds_vectordb_spark.operators.text_analysis import unigram_logprob

    docs = [(1, "a a b"), (2, "a b c"), (3, "")]
    df = spark.createDataFrame(docs, "id bigint, text string")
    got = {r["id"]: r.asDict() for r in unigram_logprob(df).collect()}
    # model: N=6, V=3, denom = 6 + 1*(3+1) = 10; p(a)=4/10 p(b)=3/10 p(c)=2/10
    lp = {"a": math.log2(0.4), "b": math.log2(0.3), "c": math.log2(0.2)}
    exp1 = -(2 * lp["a"] + lp["b"]) / 3
    exp2 = -(lp["a"] + lp["b"] + lp["c"]) / 3
    assert abs(got[1]["bits_per_token_r"] - round(exp1, 4)) < 1e-9
    assert abs(got[2]["bits_per_token_r"] - round(exp2, 4)) < 1e-9
    assert got[3]["n_tokens"] == 0 and got[3]["bits_per_token_r"] is None

    # reference-model scoring: OOV terms take the smoothed floor
    model = spark.createDataFrame([(10, "x x y")], "id bigint, text string")
    ref = {r["id"]: r["bits_per_token_r"]
           for r in unigram_logprob(df, model_df=model).collect()}
    # model: N=3, V=2, denom = 3 + 3 = 6; every doc term is OOV -> p=1/6
    oov_bits = -math.log2(1 / 6)
    assert abs(ref[1] - round(oov_bits, 4)) < 1e-9
    assert abs(ref[2] - round(oov_bits, 4)) < 1e-9

    # boilerplate scores fewer bits/token than rare text under self-model
    mix = [(i, "common words repeated always common words repeated always")
           for i in range(5)] + [(99, "zq7 kxv very unusual tokens wplf")]
    mdf = spark.createDataFrame(mix, "id bigint, text string")
    sc = {r["id"]: r["bits_per_token_r"] for r in unigram_logprob(mdf).collect()}
    assert sc[0] < sc[99]


def test_bigram_logprob_interpolation(spark):
    import math

    import pytest as _pytest

    from flouds_vectordb_spark.operators.text_analysis import bigram_logprob

    # model corpus: "a b" always; doc 1 follows the pattern, doc 2 breaks it
    model = spark.createDataFrame([(10, "a b a b a b")], "id bigint, text string")
    df = spark.createDataFrame([(1, "a b"), (2, "b a"), (3, ""), (4, None)],
                               "id bigint, text string")
    got = {r["id"]: r.asDict()
           for r in bigram_logprob(df, model_df=model, lam=0.5).collect()}
    # model events: (<s>,a) (a,b) (b,a) (a,b) (b,a) (a,b)
    # histories: <s>:1, a:3, b:2 ; unigrams: a:3 b:3, N=6 V=2 denom=9
    pu_a, pu_b = 4 / 9, 4 / 9
    p_s_a = 0.5 * 1.0 + 0.5 * pu_a       # c(<s>,a)/c(<s>) = 1
    p_a_b = 0.5 * 1.0 + 0.5 * pu_b       # c(a,b)/c(a) = 3/3
    exp1 = -(math.log2(p_s_a) + math.log2(p_a_b)) / 2
    assert abs(got[1]["bits_per_token_r"] - round(exp1, 4)) < 1e-9
    # doc 2: (<s>,b) unseen -> ML 0; (b,a) = 2/2
    p_s_b = 0.5 * 0.0 + 0.5 * pu_b
    p_b_a = 0.5 * 1.0 + 0.5 * pu_a
    exp2 = -(math.log2(p_s_b) + math.log2(p_b_a)) / 2
    assert abs(got[2]["bits_per_token_r"] - round(exp2, 4)) < 1e-9
    assert got[3]["n_tokens"] == 0 and got[3]["bits_per_token_r"] is None
    # NULL text: no tokens, NULL bits (the r12 rule)
    assert got[4] == {"id": 4, "n_tokens": 0, "bits_per_token_r": None}
    # pattern-following text scores fewer bits than pattern-breaking
    assert got[1]["bits_per_token_r"] < got[2]["bits_per_token_r"]

    # self-scoring: events (<s>,a) (a,b) (<s>,b) (b,a); histories <s>:2
    # a:1 b:1; unigrams a:2 b:2, N=4 V=2 denom=7
    own = {r["id"]: r.asDict() for r in bigram_logprob(df, lam=0.5).collect()}
    pu = 3 / 7
    exp_own = -(math.log2(0.5 * 0.5 + 0.5 * pu)
                + math.log2(0.5 * 1.0 + 0.5 * pu)) / 2
    for i in (1, 2):  # (<s>,x) = 1/2 and (x,y) = 1/1 in both docs
        assert own[i]["n_tokens"] == 2
        assert abs(own[i]["bits_per_token_r"] - round(exp_own, 4)) < 1e-9
    assert own[3] == {"id": 3, "n_tokens": 0, "bits_per_token_r": None}
    assert own[4] == {"id": 4, "n_tokens": 0, "bits_per_token_r": None}

    with _pytest.raises(ValueError, match="lam"):
        bigram_logprob(df, lam=1.0)
    with _pytest.raises(ValueError, match="smoothing"):
        bigram_logprob(df, smoothing=0)


def test_perplexity_buckets_band_rule(spark):
    import pytest

    from flouds_vectordb_spark.operators.text_analysis import (
        perplexity_buckets,
    )

    # 7 scoreable docs + 1 empty: bands by rank with n=7, nb=3 ->
    # bucket sizes 3/2/2 (rank 1-3 -> 0, 4-5 -> 1, 6-7 -> 2)
    docs = [(i, "common words repeated always " * (i + 1)
             + "rare%d " % i * i) for i in range(7)] + [(99, "")]
    df = spark.createDataFrame(docs, "id bigint, text string")
    out = {r["id"]: r["ppl_bucket"] for r in perplexity_buckets(df).collect()}
    assert 99 not in out  # zero-token doc has no perplexity
    from collections import Counter
    assert sorted(Counter(out.values()).items()) == [(0, 3), (1, 2), (2, 2)]

    # head = lowest bits/token: the most repetitive docs land in bucket 0
    from flouds_vectordb_spark.operators.text_analysis import unigram_logprob
    bits = {r["id"]: r["bits_per_token_r"]
            for r in unigram_logprob(df).collect() if r["n_tokens"] > 0}
    ranked = sorted(bits, key=lambda i: (bits[i], i))
    assert [out[i] for i in ranked] == [0, 0, 0, 1, 1, 2, 2]

    # determinism under repartitioning (two-phase rank == global rank)
    re = {r["id"]: r["ppl_bucket"]
          for r in perplexity_buckets(df.repartition(5)).collect()}
    assert re == out

    with pytest.raises(ValueError, match="n_buckets"):
        perplexity_buckets(df, n_buckets=1)
    assert perplexity_buckets(
        spark.createDataFrame([(1, "")], "id bigint, text string")
    ).count() == 0


def test_ppl_small_vs_large_regime_identical(spark, monkeypatch, tmp_path):
    """The r12 broadcast-map fold (small-corpus regime) must be
    bit-identical to the distributed two-phase plan — same contributions,
    same ascending-term fold order, same band rule. The small side reads
    PARQUET (createDataFrame plans report unknown size and never engage
    the regime); the large side is forced via the regime switch."""
    from flouds_vectordb_spark import regime
    from flouds_vectordb_spark.operators.text_analysis import (
        perplexity_buckets,
        unigram_logprob,
    )

    # 97 = NULL text: both regimes must emit (n_tokens=0, bits NULL)
    # with keep_empty=True (r12 ADVICE medium)
    docs = [(i, f"common words w{i % 7} repeated rare{i} " * (1 + i % 4))
            for i in range(40)] + [(99, ""), (98, "solo"), (97, None)]
    spark.createDataFrame(docs, "id bigint, text string") \
        .write.parquet(str(tmp_path / "d.parquet"))
    df = spark.read.parquet(str(tmp_path / "d.parquet"))
    # parquet-backed: the regime engages
    assert regime.fits(df, regime.SMALL_BYTES)
    small_u = {r["id"]: r.asDict() for r in unigram_logprob(df).collect()}
    small_b = {r["id"]: r["ppl_bucket"]
               for r in perplexity_buckets(df, n_buckets=4).collect()}
    small_m = {r["id"]: r.asDict()
               for r in unigram_logprob(
                   df, model_df=df.filter(F.col("id") < 20)).collect()}
    monkeypatch.setattr(regime, "SMALL_BYTES", -1)
    large_u = {r["id"]: r.asDict() for r in unigram_logprob(df).collect()}
    large_b = {r["id"]: r["ppl_bucket"]
               for r in perplexity_buckets(df, n_buckets=4).collect()}
    large_m = {r["id"]: r.asDict()
               for r in unigram_logprob(
                   df, model_df=df.filter(F.col("id") < 20)).collect()}
    assert small_u == large_u  # exact — includes the rounded float bits
    assert small_b == large_b
    assert small_m == large_m  # reference-model scoring crosses regimes too
    assert small_u[97] == {"id": 97, "n_tokens": 0,
                           "bits_per_token_r": None}


def test_perplexity_buckets_per_stratum(spark):
    from collections import Counter

    from flouds_vectordb_spark.operators.text_analysis import (
        perplexity_buckets,
    )

    # two strata of different sizes: bands cut within each stratum
    rows = [(i, "la", "word common stuff " * (1 + i % 5)) for i in range(6)] \
        + [(100 + i, "lb", "other text here " * (1 + i % 7)) for i in range(9)]
    df = spark.createDataFrame(rows, "id bigint, lang string, text string")
    out = perplexity_buckets(df, id_col="id", text_col="text",
                             stratum_col="lang").collect()
    assert set(out[0].asDict()) == {"id", "lang", "n_tokens",
                                    "bits_per_token_r", "ppl_bucket"}
    sizes = Counter((r["lang"], r["ppl_bucket"]) for r in out)
    assert sizes[("la", 0)] + sizes[("la", 1)] + sizes[("la", 2)] == 6
    assert sizes[("lb", 0)] == 3 and sizes[("lb", 1)] == 3 \
        and sizes[("lb", 2)] == 3
    # each stratum's bands are balanced by the same rank rule
    assert sorted(sizes[("la", b)] for b in (0, 1, 2)) == [2, 2, 2]


def test_li_hnsw_stage2_recall_and_decode(spark, tmp_path):
    """r13 (VERDICT ask #3): the token-graph HNSW fetch must (a) decode
    node ids back to real documents, (b) achieve recall 1.0 on a
    clustered fixture where each query has exact near-copies, and (c)
    reject pos values that would collide in the encoded node id."""
    import pytest as _pytest

    from flouds_vectordb_spark.operators.ann import (
        _LI_TID_MULT,
        build_li_hnsw_index,
        late_interaction_topk,
        late_interaction_topk_hnsw,
    )

    rng = np.random.RandomState(41)
    # 3 clusters x 10 docs x 3 tokens, dim 8: docs within a cluster are
    # jittered copies, so exact top-k is dominated by the home cluster
    centers = rng.standard_normal((3, 3, 8)) * 4
    rows = []
    for d in range(30):
        c = d % 3
        for t in range(3):
            rows.append((d, t, [float(x) for x in
                                centers[c, t] + rng.standard_normal(8) * .05]))
    docs = spark.createDataFrame(rows,
                                 "doc_id long, pos long, vector array<double>")
    queries = docs.filter(F.col("doc_id").isin(0, 1)).withColumnRenamed(
        "doc_id", "qid")
    path = str(tmp_path / "li_hnsw")
    build_li_hnsw_index(docs, path, m=6)
    got = late_interaction_topk_hnsw(spark, path, docs, queries, k=5,
                                     ef=16).collect()
    want = late_interaction_topk(docs, queries, k=5).collect()
    g = {}
    for r in got:
        assert 0 <= r["doc_id"] < 30  # decoded to a real document
        g.setdefault(r["qid"], set()).add(r["doc_id"])
    w = {}
    for r in want:
        w.setdefault(r["qid"], set()).add(r["doc_id"])
    hits = sum(len(g.get(q, set()) & ids) for q, ids in w.items())
    total = sum(len(ids) for ids in w.values())
    assert hits / total >= 0.95, (g, w)

    bad = spark.createDataFrame([(1, _LI_TID_MULT, [1.0] * 8)],
                                "doc_id long, pos long, vector array<double>")
    with _pytest.raises(ValueError, match="collide"):
        build_li_hnsw_index(bad, str(tmp_path / "li_hnsw_bad"))


def test_li_local_query_block_matches_expr(spark):
    """r13: the driver-built query block (norms as a LocalRelation) must
    be bit-identical to the expression form, and must decline (return
    None) on a NULL vector."""
    from flouds_vectordb_spark.operators.ann import _li_local_query_block
    import flouds_vectordb_spark.functions.vector as V

    rng = np.random.RandomState(51)
    rows = [(q, t, [float(x) for x in rng.standard_normal(16)])
            for q in range(3) for t in range(4)]
    qdf = spark.createDataFrame(rows, "qid long, pos long, vector array<double>")
    qrows = qdf.select("qid", "pos", "vector").collect()
    blk = _li_local_query_block(spark, qdf, qrows, "qid", "pos", "vector")
    assert blk is not None
    got = {(r["qid"], r["_qpos"]): r["_qn"] for r in blk.collect()}
    want_rows = qdf.select(
        "qid", F.col("pos").alias("_qpos"),
        V.norm(F.col("vector")).alias("_qn")).collect()
    want = {(r["qid"], r["_qpos"]): r["_qn"] for r in want_rows}
    assert got == want  # exact float equality: same bits or bust

    bad = qdf.withColumn(
        "vector", F.when(F.col("qid") == 1, F.lit(None)).otherwise(
            F.col("vector")))
    assert _li_local_query_block(
        spark, bad, bad.select("qid", "pos", "vector").collect(),
        "qid", "pos", "vector") is None


def test_li_clustered_fixture_driver_side_identical(spark):
    """r13: the driver-side injected-clone fixture must be bit-identical
    to the original Catalyst crossJoin+transform formulation."""
    from reference_impls import li_clustered_tokens_catalyst

    from flouds_vectordb_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    a = sorted((int(r["doc_id"]), int(r["pos"]),
                tuple(float(x) for x in r["vector"]))
               for r in Q._li_clustered_tokens(spark, sf).collect())
    b = sorted((int(r["doc_id"]), int(r["pos"]),
                tuple(float(x) for x in r["vector"]))
               for r in li_clustered_tokens_catalyst(spark, sf).collect())
    assert a == b and a


def test_trigram_logprob_interpolation(spark):
    """r13: hand-computed JM trigram interpolation on a tiny model
    corpus and self-scoring; BOS padding, unseen-history zero-ML,
    empty-doc and NULL-text NULL."""
    import math

    import pytest as _pytest

    from flouds_vectordb_spark.operators.text_analysis import trigram_logprob

    model = spark.createDataFrame([(10, "a b a b")], "id bigint, text string")
    df = spark.createDataFrame([(1, "a b"), (2, "b b"), (3, ""), (4, None)],
                               "id bigint, text string")
    got = {r["id"]: r.asDict()
           for r in trigram_logprob(df, model_df=model, lam3=0.5,
                                    lam2=0.25).collect()}
    # model events (h2,h1,w): (<s>,<s>,a) (<s>,a,b) (a,b,a) (b,a,b)
    # h12: (<s>,<s>):1 (<s>,a):1 (a,b):1 (b,a):1
    # bg (h1,w): (<s>,a):1 (a,b):2 (b,a):1 ; h1: <s>:1 a:2 b:1
    # uni: a:2 b:2 N=4 V=2 denom=4+1*3=7
    pu = 3 / 7  # both words: (2+1)/7
    l3, l2, l1 = 0.5, 0.25, 0.25
    # doc 1 "a b": ev1 (<s>,<s>,a): tri 1/1, bg c(<s>,a)/c(<s>)=1
    p1 = l3 * 1.0 + l2 * 1.0 + l1 * pu
    # ev2 (<s>,a,b): tri 1/1, bg c(a,b)/c(a)=2/2
    p2 = l3 * 1.0 + l2 * 1.0 + l1 * pu
    exp1 = -(math.log2(p1) + math.log2(p2)) / 2
    assert abs(got[1]["bits_per_token_r"] - round(exp1, 4)) < 1e-9
    # doc 2 "b b": ev1 (<s>,<s>,b): tri 0, bg (<s>,b) unseen -> 0
    q1 = l1 * pu
    # ev2 (<s>,b,b): h12 (<s>,b) unseen -> 0; bg (b,b) unseen -> 0
    q2 = l1 * pu
    exp2 = -(math.log2(q1) + math.log2(q2)) / 2
    assert abs(got[2]["bits_per_token_r"] - round(exp2, 4)) < 1e-9
    assert got[3]["n_tokens"] == 0 and got[3]["bits_per_token_r"] is None
    assert got[4] == {"id": 4, "n_tokens": 0, "bits_per_token_r": None}
    assert got[1]["bits_per_token_r"] < got[2]["bits_per_token_r"]

    # self-scoring: events (<s>,<s>,a) (<s>,a,b) (<s>,<s>,b) (<s>,b,b);
    # h12 (<s>,<s>):2, others 1; bg each 1 with h1 <s>:2 a:1 b:1;
    # uni a:1 b:3, N=4 V=2 denom=7
    own = {r["id"]: r.asDict()
           for r in trigram_logprob(df, lam3=0.5, lam2=0.25).collect()}
    pa, pb = 2 / 7, 4 / 7
    own1 = -(math.log2(l3 * 0.5 + l2 * 0.5 + l1 * pa)
             + math.log2(l3 * 1.0 + l2 * 1.0 + l1 * pb)) / 2
    own2 = -(math.log2(l3 * 0.5 + l2 * 0.5 + l1 * pb)
             + math.log2(l3 * 1.0 + l2 * 1.0 + l1 * pb)) / 2
    assert abs(own[1]["bits_per_token_r"] - round(own1, 4)) < 1e-9
    assert abs(own[2]["bits_per_token_r"] - round(own2, 4)) < 1e-9
    assert own[1]["n_tokens"] == own[2]["n_tokens"] == 2
    assert own[3] == {"id": 3, "n_tokens": 0, "bits_per_token_r": None}
    assert own[4] == {"id": 4, "n_tokens": 0, "bits_per_token_r": None}

    with _pytest.raises(ValueError, match="lam"):
        trigram_logprob(df, lam3=0.8, lam2=0.2)
    with _pytest.raises(ValueError, match="smoothing"):
        trigram_logprob(df, smoothing=0)


def test_li_recall_df_candidate_override_matches_ivf(spark, tmp_path):
    """recall_df(candidates=ivf_pairs) grades exactly the exact operator
    against the IVF-fetched operator: the shared-MaxSim restriction
    argument holds for any external candidate set."""
    from flouds_vectordb_spark.operators.ann import (
        build_li_ivf_index,
        late_interaction_recall_df,
        late_interaction_topk,
        late_interaction_topk_ivf,
        li_ivf_candidates,
    )

    rng = np.random.RandomState(61)
    docs = spark.createDataFrame(
        [(d, t, [round(float(x), 6) for x in rng.standard_normal(8)])
         for d in range(15) for t in range(3)],
        "doc_id long, pos long, vector array<double>")
    queries = docs.filter(F.col("doc_id").isin(2, 9)).withColumnRenamed(
        "doc_id", "qid")
    path = str(tmp_path / "ivf_tok")
    build_li_ivf_index(docs, path, nlist=4)
    recall = _li_graded_recall(
        late_interaction_topk(docs, queries, k=5),
        late_interaction_topk_ivf(spark, path, docs, queries, k=5,
                                  nprobe=2))
    qrows = queries.select("qid", "pos", "vector").collect()
    cand = li_ivf_candidates(spark, path, qrows, nprobe=2)
    _assert_recall_knife_edge(
        lambda thr: late_interaction_recall_df(docs, queries, k=5, dim=8,
                                               candidates=cand,
                                               min_recall=thr),
        recall, 2)


def test_li_recall_df_matches_operator_grading(spark, tmp_path):
    """r13: the lazy recall_df scalar must equal grading the exact
    operator against the candidate-restricted operator driver-side —
    including a sub-threshold case (recall < min_recall -> False)."""
    from flouds_vectordb_spark.functions.local import local_df
    from flouds_vectordb_spark.operators.ann import (
        _li_rerank_candidates,
        late_interaction_recall_df,
        late_interaction_topk,
    )
    import flouds_vectordb_spark.functions.vector as V

    rng = np.random.RandomState(71)
    docs = spark.createDataFrame(
        [(d, t, [round(float(x), 6) for x in rng.standard_normal(8)])
         for d in range(20) for t in range(3)],
        "doc_id long, pos long, vector array<double>")
    queries = docs.filter(F.col("doc_id").isin(4, 11)).withColumnRenamed(
        "doc_id", "qid")
    # candidate set covering only HALF the docs: recall must be partial
    pairs = [(q, d) for q in (4, 11) for d in range(0, 20, 2)]
    cand = local_df(spark, pairs, "qid bigint, doc_id bigint")
    got = late_interaction_recall_df(docs, queries, k=5, dim=8,
                                     candidates=cand,
                                     min_recall=0.95).collect()
    assert len(got) == 1
    qt = F.broadcast(queries.select(
        F.col("qid"), F.col("pos").alias("_qpos"),
        F.col("vector").alias("_qv"), V.norm(F.col("vector")).alias("_qn")))
    recall = _li_graded_recall(
        late_interaction_topk(docs, queries, k=5),
        _li_rerank_candidates(docs, qt, cand, 5, "doc_id", "vector"))
    want = (2, recall >= 0.95)
    assert (got[0]["n_queries"], got[0]["recall_ge_095"]) == want
    # the half-coverage candidate set must actually be sub-threshold,
    # or this test proves nothing
    assert want[1] is False
