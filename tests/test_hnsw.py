"""Graph-ANN (index_type=HNSW) plan tests: build determinism, beam
exactness on separable data, metric variants, the big-corpus two-scan
round path, O(batch) append, and the catalog dispatch.

Reference parity: HNSW is an accepted index_type
(app/models/generate_schema_request.py:129) whose build call forwards only
nlist (app/milvus/base_milvus.py:1141-1167); plans/hnsw.py executes it as
a navigable neighbor graph + beam search instead of the pre-r5 IVF_FLAT
fallback."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from flouds_vectordb_spark.operators.dense_search import DenseSearchRequest, dense_search
from flouds_vectordb_spark.plans.hnsw import HnswIndex, build_hnsw, open_hnsw

DIM = 16


def _clustered_df(spark, n_bg=300, n_cl=20, seed=7):
    """Background noise + a tight cluster around a known query point."""
    rng = np.random.RandomState(seed)
    q = rng.uniform(-1, 1, DIM)
    rows = [(int(i), [float(x) for x in rng.uniform(-1, 1, DIM)])
            for i in range(n_bg)]
    rows += [(int(1000 + i), [float(x) for x in q + rng.uniform(-0.005, 0.005, DIM)])
             for i in range(n_cl)]
    df = spark.createDataFrame(rows, "id bigint, vector array<double>")
    return df, [float(x) for x in q]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    df, q = _clustered_df(spark)
    path = str(tmp_path_factory.mktemp("hnsw") / "idx")
    idx = build_hnsw(df, path, m=8, metric="COSINE", cell_target=64)
    return df, q, idx


def test_beam_finds_exact_topk(spark, built):
    df, q, idx = built
    req = DenseSearchRequest(query_vector=q, metric="COSINE", limit=10,
                             score_threshold=None, output_fields=())
    got = [r.asDict() for r in idx.search(spark, req).collect()]
    exact = [r.asDict() for r in
             dense_search(df, req, id_col="id", vector_col="vector").collect()]
    assert got == exact
    assert idx.meta["ncells"] > 1  # multi-cell: bridges + medoid entry exercised


def test_build_is_deterministic(spark, built, tmp_path_factory):
    df, _, idx = built
    path2 = str(tmp_path_factory.mktemp("hnsw_b") / "idx")
    idx2 = build_hnsw(df, path2, m=8, metric="COSINE", cell_target=64)
    assert idx2.meta["entry_ids"] == idx.meta["entry_ids"]
    e1 = sorted((r["src"], r["dst"]) for r in idx.edges(spark).collect())
    e2 = sorted((r["src"], r["dst"]) for r in idx2.edges(spark).collect())
    assert e1 == e2


def test_build_is_partitioning_invariant(spark, built, tmp_path_factory):
    """The same corpus under a different physical partitioning must produce
    the SAME graph: pair scores are order-independent (vectorized dot per
    pair), top-lists tie-break on (score, id), the k-means sample is
    canonically re-sorted driver-side, and medoids use min_by struct
    ordering — none of it may depend on row arrival order."""
    df, _, idx = built
    path3 = str(tmp_path_factory.mktemp("hnsw_p") / "idx")
    idx3 = build_hnsw(df.repartition(7), path3, m=8, metric="COSINE",
                      cell_target=64)
    assert idx3.meta["entry_ids"] == idx.meta["entry_ids"]
    e1 = sorted((r["src"], r["dst"]) for r in idx.edges(spark).collect())
    e3 = sorted((r["src"], r["dst"]) for r in idx3.edges(spark).collect())
    assert e1 == e3


def test_edge_caps_and_symmetry(spark, built):
    _, _, idx = built
    m = idx.meta["M"]
    deg = idx.edges(spark).groupBy("src").count().agg(F.max("count")).first()[0]
    assert deg <= 2 * m  # Mmax0 = 2M cap after symmetrization
    edges = {(r["src"], r["dst"]) for r in idx.edges(spark).collect()}
    # forward top-M edges survive the cap unless the reverse side was full;
    # at least the graph must be non-trivially bidirectional
    back = sum(1 for (s, d) in edges if (d, s) in edges)
    assert back >= len(edges) * 0.5


@pytest.mark.parametrize("metric", ["L2", "IP"])
def test_metric_variants_exact_on_cluster(spark, tmp_path_factory, metric):
    df, q = _clustered_df(spark, seed=11)
    if metric == "IP":
        # IP's top-k on centered data is norm-dominated; shift the cluster
        # out so it is the unambiguous max-inner-product set
        df = df.withColumn(
            "vector",
            F.when(F.col("id") >= 1000,
                   F.transform("vector", lambda x: x * F.lit(3.0)))
            .otherwise(F.col("vector")))
    path = str(tmp_path_factory.mktemp(f"hnsw_{metric}") / "idx")
    idx = build_hnsw(df, path, m=8, metric=metric, cell_target=64)
    req = DenseSearchRequest(query_vector=q, metric=metric, limit=5,
                             score_threshold=None, output_fields=())
    got = [r["id"] for r in idx.search(spark, req).collect()]
    exact = [r["id"] for r in
             dense_search(df, req, id_col="id", vector_col="vector").collect()]
    assert got == exact


def test_append_is_o_batch_and_searchable(spark, built, tmp_path_factory):
    df, q, idx0 = built
    # copy the index so the module-scoped fixture stays pristine
    import shutil

    path = str(tmp_path_factory.mktemp("hnsw_app") / "idx")
    shutil.copytree(idx0.path, path)
    idx = open_hnsw(path)
    n0 = idx.meta["n"]
    # a new batch sitting even closer to q than the existing cluster
    rng = np.random.RandomState(3)
    batch = spark.createDataFrame(
        [(int(5000 + i), [float(x) for x in np.array(q) + rng.uniform(-0.001, 0.001, DIM)])
         for i in range(5)], "id bigint, vector array<double>")
    idx.append(batch)
    assert idx.meta["n"] == n0 + 5
    req = DenseSearchRequest(query_vector=q, metric="COSINE", limit=5,
                             score_threshold=None, output_fields=())
    got = [r["id"] for r in idx.search(spark, req).collect()]
    exact = [r["id"] for r in dense_search(
        df.unionByName(batch), req, id_col="id", vector_col="vector").collect()]
    assert got == exact
    assert set(got) == {5000, 5001, 5002, 5003, 5004}


def test_compact_recaps_degree_and_preserves_results(spark, built, tmp_path_factory):
    from flouds_vectordb_spark.plans.hnsw import compact_hnsw

    import shutil

    df, q, idx0 = built
    path = str(tmp_path_factory.mktemp("hnsw_cp") / "idx")
    shutil.copytree(idx0.path, path)
    idx = open_hnsw(path)
    rng = np.random.RandomState(9)
    batch = spark.createDataFrame(
        [(int(6000 + i), [float(x) for x in np.array(q) + rng.uniform(-0.002, 0.002, DIM)])
         for i in range(12)], "id bigint, vector array<double>")
    idx.append(batch)
    compact_hnsw(idx, spark)
    cap = 2 * idx.meta["M"]
    deg = idx.edges(spark).groupBy("src").count().agg(F.max("count")).first()[0]
    assert deg <= cap
    req = DenseSearchRequest(query_vector=q, metric="COSINE", limit=10,
                             score_threshold=None, output_fields=())
    got = [r["id"] for r in idx.search(spark, req).collect()]
    exact = [r["id"] for r in dense_search(
        df.unionByName(batch), req, id_col="id", vector_col="vector").collect()]
    assert got == exact


def test_round_scans_push_the_in_list(spark, built):
    """The 100 TB contract: a beam round's edge and node scans carry the
    IN-list into the parquet scan (PushedFilters), so the sorted layout's
    row-group stats can skip — not a post-scan Filter over a full read."""
    _, _, idx = built
    some_ids = idx.meta["entry_ids"][:2]
    for df, col in ((idx.edges(spark), "src"), (idx.nodes(spark), "id")):
        scan = df.filter(F.col(col).isin(some_ids))
        plan = scan._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [In(" in plan.replace("`", ""), plan[:500]


def test_nonconvergence_warns(spark, built):
    _, q, idx = built
    with pytest.warns(UserWarning, match="backstop"):
        idx.beam_search(spark, q, ef=16, max_rounds=1)


def test_nn_descent_refinement_improves_graph(spark, tmp_path_factory):
    """NN-descent rounds may only improve each node's BEST neighbor (the
    merge always keeps the top-score candidate first — r8: the aggregate
    MEAN score is intentionally not monotone anymore, because heuristic
    selection trades mean edge score for reachability-preserving diverse
    edges) and must not hurt beam recall. Uniform-ish data with tiny
    cells is the case where cell-local candidate generation misses true
    neighbors AND where a plain score-cap used to strand them."""
    rng = np.random.RandomState(17)
    rows = [(int(i), [float(x) for x in rng.uniform(-1, 1, DIM)])
            for i in range(400)]
    df = spark.createDataFrame(rows, "id bigint, vector array<double>")
    q = [float(x) for x in rng.uniform(-1, 1, DIM)]
    req = DenseSearchRequest(query_vector=q, metric="COSINE", limit=10,
                             score_threshold=None, output_fields=())
    exact = {r["id"] for r in
             dense_search(df, req, id_col="id", vector_col="vector").collect()}

    def build(refine):
        path = str(tmp_path_factory.mktemp(f"hnsw_r{refine}") / "idx")
        idx = build_hnsw(df, path, m=8, metric="COSINE", cell_target=32,
                         refine_rounds=refine)
        best = {r["src"]: r["b"] for r in idx.edges(spark)
                .groupBy("src").agg(F.max("score").alias("b")).collect()}
        got = {r["id"] for r in idx.search(spark, req, ef=32).collect()}
        return best, len(got & exact) / len(exact)

    s0, r0 = build(0)
    s1, r1 = build(1)
    # per-src best neighbor is monotone under refinement (the one score
    # property heuristic selection preserves by construction)
    assert all(s1.get(src, float("-inf")) >= b - 1e-12
               for src, b in s0.items())
    assert r1 >= r0  # beam recall must not regress
    assert r1 >= 0.8  # and lands in a usable range on this fixture


def _skewed_df(spark, n_blob=3400, n_bg=600, seed=23):
    """85% of rows in one tight blob: k-means++ places ~1 centroid inside
    (post-seeding SSE there is tiny), so without splitting the blob lands
    in ONE cell of ~n_blob rows — the exact shape the r5 4096-cell clip
    degraded on."""
    rng = np.random.RandomState(seed)
    center = rng.uniform(-1, 1, DIM)
    rows = [(int(i), [float(x) for x in center + rng.uniform(-0.01, 0.01, DIM)])
            for i in range(n_blob)]
    rows += [(int(100000 + i), [float(x) for x in rng.uniform(-1, 1, DIM)])
             for i in range(n_bg)]
    df = spark.createDataFrame(rows, "id bigint, vector array<double>")
    return df, [float(x) for x in center]


def test_skewed_corpus_cells_are_bounded(spark, tmp_path_factory):
    """r6: ncells tracks n with no upper clip and oversized cells are
    split, so every cell stays under SPLIT_FACTOR*cell_target rows — the
    invariant that keeps the build's pairwise step O(n*cell_bound) at any
    corpus size."""
    from flouds_vectordb_spark.plans.hnsw import SPLIT_FACTOR

    df, q = _skewed_df(spark)
    path = str(tmp_path_factory.mktemp("hnsw_skew") / "idx")
    idx = build_hnsw(df, path, m=8, metric="COSINE", cell_target=64)
    max_cell = (idx.nodes(spark).groupBy("_cell").count()
                .agg(F.max("count")).first()[0])
    assert max_cell <= SPLIT_FACTOR * 64
    assert idx.meta["ncells"] >= 3400 // (SPLIT_FACTOR * 64)
    req = DenseSearchRequest(query_vector=q, metric="COSINE", limit=5,
                             score_threshold=None, output_fields=())
    got = [r["id"] for r in idx.search(spark, req).collect()]
    exact = [r["id"] for r in
             dense_search(df, req, id_col="id", vector_col="vector").collect()]
    assert got == exact


def test_distributed_refinement_splits_what_sample_missed(
        spark, tmp_path_factory, monkeypatch):
    """If the driver-side sample estimate misses the skew entirely (here:
    forced off), the distributed verification pass must catch it — true
    cell counts via one agg, bounded per-cell samples, sub-split,
    re-assign."""
    import flouds_vectordb_spark.plans.hnsw as H

    monkeypatch.setattr(H, "_split_oversized_sample",
                        lambda x, c, n, t, m, seed=42, rounds=8: c)
    df, _ = _skewed_df(spark, seed=29)
    path = str(tmp_path_factory.mktemp("hnsw_ref") / "idx")
    idx = H.build_hnsw(df, path, m=8, metric="COSINE", cell_target=64)
    max_cell = (idx.nodes(spark).groupBy("_cell").count()
                .agg(F.max("count")).first()[0])
    assert max_cell <= H.SPLIT_FACTOR * 64


def test_hierarchical_trainer_bounded_and_deterministic():
    from flouds_vectordb_spark.plans.hnsw import KMEANS_FLAT_MAX, _train_centroids

    rng = np.random.RandomState(1)
    x = rng.uniform(-1, 1, (9000, 4))
    k = KMEANS_FLAT_MAX + 500
    c = _train_centroids(x, k, "COSINE", seed=3)
    assert c.shape[1] == 4 and np.isfinite(c).all()
    assert 0.5 * k <= len(c) <= 1.2 * k
    assert np.array_equal(c, _train_centroids(x, k, "COSINE", seed=3))


def test_empty_build_raises(spark, tmp_path_factory):
    empty = spark.createDataFrame([], "id bigint, vector array<double>")
    with pytest.raises(ValueError, match="empty"):
        build_hnsw(empty, str(tmp_path_factory.mktemp("hnsw_e") / "idx"))


def test_catalog_hnsw_dispatch_and_growing_segment(spark, tmp_path_factory):
    """generate_schema(index_type=HNSW) builds the graph; rows inserted
    AFTER build_index are appended O(batch) and searchable; updated keys
    resolve latest-wins on the shortlist."""
    from flouds_vectordb_spark.catalog import Catalog, CollectionSpec
    from flouds_vectordb_spark.operators.upsert import CollectionWriter

    rng = np.random.RandomState(5)
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_hnsw")))
    cat.set_vector_store("th1")
    cat.generate_schema(CollectionSpec("th1", "m", dimension=DIM, nlist=4,
                                       metric_type="COSINE", index_type="HNSW"))
    w = CollectionWriter(cat, "th1", "m")
    rows = [(f"k{i}", f"chunk {i}", [float(x) for x in rng.uniform(-1, 1, DIM)])
            for i in range(120)]
    target = [float(x) for x in rng.uniform(-1, 1, DIM)]
    rows.append(("hit", "the needle", [t * 1.0 for t in target]))
    b = spark.createDataFrame(rows, "id string, chunk string, vector array<float>")
    w.insert_data(b, batch_ts=1, force_flush=True)
    w.build_index()
    req = DenseSearchRequest(query_vector=target, metric="COSINE", limit=3,
                             score_threshold=None)
    got = w.search(req, use_index=True, id_col="id", vector_col="vector",
                   chunk_col="chunk").collect()
    assert got[0]["id"] == "hit" and got[0]["chunk"] == "the needle"

    # growing segment: insert an even-better post-build row + update 'hit'
    # away from the query; both must be visible via the index path
    b2 = spark.createDataFrame(
        [("hit2", "closer", [t * 1.0 for t in target]),
         ("hit", "moved away", [-t for t in target])],
        "id string, chunk string, vector array<float>")
    r = w.insert_data(b2, batch_ts=2)
    assert r["dense_indexed"]
    got2 = w.search(req, use_index=True, id_col="id", vector_col="vector",
                    chunk_col="chunk").collect()
    ids2 = [x["id"] for x in got2]
    assert got2[0]["id"] == "hit2"
    assert "hit" not in ids2 or got2[[x["id"] for x in got2].index("hit")]["chunk"] == "moved away"


def test_append_auto_compacts_and_bounds_edge_growth(spark, built, tmp_path_factory):
    """Growing-segment contract: 10 append batches must NOT let the edge
    table grow unboundedly — append() schedules compact_hnsw once the
    un-recapped growth passes compact_growth_fraction of the compacted
    base, so the on-disk edge count stays within (1 + fraction) of the
    current base (asserted at 2x for slack) and per-src degree re-caps."""
    import shutil

    df, q, idx0 = built
    path = str(tmp_path_factory.mktemp("hnsw_ac") / "idx")
    shutil.copytree(idx0.path, path)
    idx = open_hnsw(path)
    assert idx.auto_compact and idx.meta.get("edges_base", 0) > 0
    rng = np.random.RandomState(17)
    all_batches = []
    for b in range(10):
        batch = spark.createDataFrame(
            [(int(10_000 + 100 * b + i),
              [float(x) for x in np.array(q) + rng.uniform(-0.01, 0.01, DIM)])
             for i in range(40)], "id bigint, vector array<double>")
        idx.append(batch)
        all_batches.append(batch)
    assert int(idx.meta.get("compactions", 0)) >= 1, \
        "10 batches of 40 rows must trip the auto-compact threshold"
    n_edges = idx.edges(spark).count()
    base = int(idx.meta["edges_base"])
    assert n_edges <= 2 * base, (n_edges, base)
    # appended-but-not-yet-compacted growth stays under the threshold + one batch
    assert int(idx.meta["edges_appended"]) <= \
        idx.compact_growth_fraction * base + 2 * 40 * idx.meta["M"]
    # search over the grown index is still the exact top-k
    grown = df
    for b in all_batches:
        grown = grown.unionByName(b)
    req = DenseSearchRequest(query_vector=q, metric="COSINE", limit=10,
                             score_threshold=None, output_fields=())
    got = [r["id"] for r in idx.search(spark, req).collect()]
    exact = [r["id"] for r in dense_search(
        grown, req, id_col="id", vector_col="vector").collect()]
    assert got == exact


@pytest.mark.parametrize("metric", ["L2", "IP"])
def test_beam_search_many_matches_single_other_metrics(spark, tmp_path_factory, metric):
    """Batched == single beam under L2 and IP too (the pair-score and the
    per-qid dedup both branch on metric)."""
    df, q = _clustered_df(spark, n_bg=150, n_cl=12)
    path = str(tmp_path_factory.mktemp(f"hnsw_m_{metric}") / "idx")
    idx = build_hnsw(df, path, m=8, metric=metric, cell_target=64)
    rng = np.random.RandomState(41)
    queries = [(i, [float(x) for x in np.array(q) + rng.uniform(-0.02, 0.02, DIM)])
               for i in range(4)]
    beams = idx.beam_search_many(spark, queries, ef=20)
    for qid, qv in queries:
        assert beams[qid] == idx.beam_search(spark, qv, ef=20), (metric, qid)


def test_beam_search_many_matches_single_query_beams(spark, built):
    """The batched beam must be RESULT-IDENTICAL to the per-query beam:
    same scores, same (-score, id) ordering, same exit criterion — only
    the job structure differs (2 jobs/round for the block vs 1-2 per
    query)."""
    df, q, idx = built
    rng = np.random.RandomState(31)
    queries = [(i, [float(x) for x in np.array(q) + rng.uniform(-0.02, 0.02, DIM)])
               for i in range(6)]
    beams = idx.beam_search_many(spark, queries, ef=24)
    for qid, qv in queries:
        assert beams[qid] == idx.beam_search(spark, qv, ef=24), qid


def test_search_many_matches_single_search(spark, built):
    df, q, idx = built
    rng = np.random.RandomState(37)
    queries = [(i, [float(x) for x in np.array(q) + rng.uniform(-0.02, 0.02, DIM)])
               for i in range(5)]
    req = DenseSearchRequest(query_vector=queries[0][1], metric="COSINE",
                             limit=5, output_fields=())
    got = {}
    for r in idx.search_many(spark, queries, req, ef=32).collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["id"], r["score"]))
    for qid, qv in queries:
        single = [(r["rank"], r["id"], r["score"]) for r in idx.search(
            spark, DenseSearchRequest(query_vector=qv, metric="COSINE",
                                      limit=5, output_fields=()),
            ef=32).collect()]
        assert sorted(got[qid]) == single, qid


def test_search_many_sees_appended_rows_latest_wins(spark, built, tmp_path_factory):
    """Batched search over a GROWN index: appended rows (including an
    update of an existing id) must win over stale versions in the beam
    shortlist and the exact re-rank."""
    import shutil

    df, q, idx0 = built
    path = str(tmp_path_factory.mktemp("hnsw_mq_app") / "idx")
    shutil.copytree(idx0.path, path)
    idx = open_hnsw(path)
    batch = spark.createDataFrame(
        [(int(7000 + i), [float(x) for x in np.array(q) * (1 - 1e-6 * (i + 1))])
         for i in range(3)], "id bigint, vector array<double>")
    idx.append(batch)
    req = DenseSearchRequest(query_vector=q, metric="COSINE", limit=3,
                             output_fields=())
    got = {r["id"] for r in idx.search_many(spark, [(0, q)], req, ef=32)
           .filter(F.col("qid") == 0).collect()}
    assert got == {7000, 7001, 7002}


def test_get_or_build_cache_key_and_process_memo(spark, tmp_path_factory):
    """Cache reuse requires matching params; the row-count fingerprint is
    verified on the FIRST call per process (one count job) and memoized
    after — param changes still force a rebuild."""
    from flouds_vectordb_spark.plans.hnsw import get_or_build_hnsw

    df, q = _clustered_df(spark, n_bg=100, n_cl=10)
    path = str(tmp_path_factory.mktemp("hnsw_cache") / "idx")
    i1 = get_or_build_hnsw(df, path, m=8, metric="COSINE", cell_target=64)
    # same params: reuse (memo hit — no count job, same meta object contents)
    i2 = get_or_build_hnsw(df, path, m=8, metric="COSINE", cell_target=64)
    assert i2.meta["ncells"] == i1.meta["ncells"]
    # different cell_target: rebuild, not silent reuse
    i3 = get_or_build_hnsw(df, path, m=8, metric="COSINE", cell_target=32)
    assert i3.meta["cell_target"] == 32
    # different metric: rebuild
    i4 = get_or_build_hnsw(df, path, m=8, metric="L2", cell_target=32)
    assert i4.meta["metric"] == "L2"


def test_get_or_build_invalidate_and_force_rebuild(spark, tmp_path_factory):
    """r7 (ADVICE r6): the process memo skips the row-count fingerprint, so
    an in-process corpus change needs invalidate_hnsw_cache(path) — after
    which the grown corpus rebuilds — and force_rebuild always rebuilds."""
    from flouds_vectordb_spark.plans.hnsw import (
        get_or_build_hnsw,
        invalidate_hnsw_cache,
    )

    df, q = _clustered_df(spark, n_bg=100, n_cl=10)
    path = str(tmp_path_factory.mktemp("hnsw_inval") / "idx")
    i1 = get_or_build_hnsw(df, path, m=8, metric="COSINE", cell_target=64)
    n1 = i1.meta["n"]
    grown = df.union(spark.createDataFrame(
        [(int(9100 + i), [float(x) for x in np.array(q) * (1 + i * 1e-3)])
         for i in range(5)], "id bigint, vector array<double>"))
    # memo hit: the grown corpus is NOT detected (documented exposure)
    i2 = get_or_build_hnsw(grown, path, m=8, metric="COSINE", cell_target=64)
    assert i2.meta["n"] == n1
    # explicit invalidation re-runs the fingerprint -> rebuild on mismatch
    invalidate_hnsw_cache(path)
    i3 = get_or_build_hnsw(grown, path, m=8, metric="COSINE", cell_target=64)
    assert i3.meta["n"] == n1 + 5
    # force_rebuild bypasses both memo and meta match
    i4 = get_or_build_hnsw(df, path, m=8, metric="COSINE", cell_target=64,
                           force_rebuild=True)
    assert i4.meta["n"] == n1


def test_beam_search_many_auto_chunks_large_blocks(spark, built, monkeypatch):
    """r7: blocks above BEAM_BLOCK_CAP split transparently and stay
    per-qid identical to an uncapped run. Run a 1000-query block through
    the public API with a lowered cap (chunking math is cap-independent),
    then equivalence-check a sample against the single-query beam."""
    import flouds_vectordb_spark.plans.hnsw as H

    df, q, idx = built
    rng = np.random.RandomState(53)
    queries = [(i, [float(x) for x in np.array(q) + rng.uniform(-0.05, 0.05, DIM)])
               for i in range(1000)]
    monkeypatch.setattr(H, "BEAM_BLOCK_CAP", 300)
    beams = idx.beam_search_many(spark, queries, ef=8)
    assert set(beams) == {qid for qid, _ in queries}
    for qid in (0, 299, 300, 777, 999):  # spans chunk boundaries
        assert beams[qid] == idx.beam_search(spark, queries[qid][1], ef=8), qid


# ---- two-level assignment routing (r7) ---------------------------------------

def test_two_level_routing_agrees_with_flat():
    """Above TWO_LEVEL_MIN_CELLS the assignment routes through coarse
    groups; on random data the routed primary cell must agree with the
    flat argmin for the overwhelming majority of rows and never return an
    invalid cell."""
    import flouds_vectordb_spark.plans.hnsw as H

    rng = np.random.RandomState(5)
    cents = rng.standard_normal((2200, 8))
    m = rng.standard_normal((400, 8))
    router = H._two_level_router(cents, "L2")
    routed = H._routed_argmin(m, cents, "L2", router)
    flat = H._dist_block(m, cents, "L2").argmin(axis=1)
    assert routed.min() >= 0 and routed.max() < len(cents)
    agree = float((routed == flat).mean())
    assert agree >= 0.9, agree
    # routed distance can never beat the true minimum
    d = H._dist_block(m, cents, "L2")
    assert (d[np.arange(len(m)), routed] >= d[np.arange(len(m)), flat] - 1e-12).all()


def test_two_level_build_deterministic_and_searchable(spark, tmp_path_factory):
    """A build with > TWO_LEVEL_MIN_CELLS cells (cell_target=2) runs the
    two-level executor assignment end to end: deterministic across builds
    and the beam still finds the planted cluster exactly."""
    import flouds_vectordb_spark.plans.hnsw as H

    df, q = _clustered_df(spark, n_bg=4300, n_cl=10)
    p1 = str(tmp_path_factory.mktemp("hnsw_2l_a") / "idx")
    p2 = str(tmp_path_factory.mktemp("hnsw_2l_b") / "idx")
    idx1 = build_hnsw(df, p1, m=8, metric="COSINE", cell_target=2)
    assert idx1.meta["ncells"] > H.TWO_LEVEL_MIN_CELLS
    idx2 = build_hnsw(df, p2, m=8, metric="COSINE", cell_target=2)
    e1 = sorted((r["src"], r["dst"]) for r in
                idx1.edges(spark).select("src", "dst").collect())
    e2 = sorted((r["src"], r["dst"]) for r in
                idx2.edges(spark).select("src", "dst").collect())
    assert e1 == e2
    got = idx1.beam_search(spark, q, ef=24)[:10]
    assert sorted(got) == list(range(1000, 1010))  # the planted cluster ids


@pytest.fixture(scope="module")
def covered(spark, tmp_path_factory):
    """The `built` corpus at the default cell_target: one cell, so every
    query's seed scan probes every cell (a covered graph)."""
    df, q = _clustered_df(spark)
    path = str(tmp_path_factory.mktemp("hnsw_cov") / "idx")
    idx = build_hnsw(df, path, m=8, metric="COSINE")
    assert 0 < idx.meta["ncells"] <= HnswIndex.SEED_PROBE_CELLS
    return df, q, idx


def _cells_index_centroids(spark, idx):
    """Every node row carries a non-NULL _cell that indexes the
    centroids: what makes a seed scan over every cell score every node."""
    bad = idx.nodes(spark).filter(
        F.col("_cell").isNull() | (F.col("_cell") < 0)
        | (F.col("_cell") >= len(idx.meta["centroids"])))
    assert bad.count() == 0


def _no_round(*_a, **_k):
    raise AssertionError("a covered graph ran a beam round")


def _three_steps(spark, path, queries, ef, monkeypatch):
    """The scored beams of the driver, fused and two-scan expand steps,
    each on a freshly opened index; on a covered graph no expand step
    may run."""
    out = []
    with monkeypatch.context() as mp:
        idx = open_hnsw(path)
        if 0 < idx.meta["ncells"] <= HnswIndex.SEED_PROBE_CELLS:
            mp.setattr(HnswIndex, "_expand_score_many", _no_round)
            mp.setattr(HnswIndex, "_frontier_edges", _no_round)
        out.append(idx.beam_search_many_scored(spark, queries, ef=ef))
        out.append(idx._graph_ram)
        mp.setattr(HnswIndex, "DRIVER_BEAM_MAX_ROWS", -1)
        out.append(open_hnsw(path).beam_search_many_scored(spark, queries,
                                                           ef=ef))
        mp.setattr(HnswIndex, "SMALL_CORPUS_ROWS", -1)
        out.append(open_hnsw(path).beam_search_many_scored(spark, queries,
                                                           ef=ef))
    return out


def _assert_three_steps_agree(spark, idx, queries, ef, monkeypatch):
    _cells_index_centroids(spark, idx)
    drv, graph, fused, twoscan = _three_steps(
        spark, idx.path, queries, ef, monkeypatch)
    assert graph not in (None, False)
    assert drv == fused == twoscan, (idx.meta["ncells"], ef)
    assert all(len(b) == ef for b in drv.values())


def test_big_corpus_two_scan_round_path_matches(spark, built, covered,
                                                monkeypatch):
    """Force the 100 TB round shape (two id-pruned scans, no broadcast of
    the whole-graph join): one query at ef 32 scores identically under
    the driver, fused and two-scan expand steps, on the ~5-cell `built`
    index and on the covered index, where no round runs."""
    for df, q, idx in (built, covered):
        _assert_three_steps_agree(spark, idx, [(0, q)], 32, monkeypatch)


def test_batched_big_corpus_two_scan_rounds_match(spark, built, covered,
                                                  monkeypatch):
    """The batched beam's 100 TB shape (two id-pruned scans per round)
    must be result-identical to the fused single-job round and the driver
    step: a 5-query block at ef 16, on both indexes."""
    rng = np.random.RandomState(61)
    for df, q, idx in (built, covered):
        block = [(i, [float(x) for x in
                      np.array(q) + rng.uniform(-0.03, 0.03, DIM)])
                 for i in range(5)]
        _assert_three_steps_agree(spark, idx, block, 16, monkeypatch)


def test_driver_beam_matches_spark_beam_paths(spark, built, covered,
                                              monkeypatch):
    """One beam loop, three expand steps: the driver step (numpy over
    the collected graph), the fused one-action round and the two-scan
    round must produce IDENTICAL scored beams — ids, exact float scores,
    order — for three mixed queries at ef 16, on the ~5-cell `built`
    index and on the covered default-cell_target index, where the seed
    scan scores every node and no round runs."""
    for df, q, idx in (built, covered):
        mixed = [(0, q), (1, [x * 1.01 for x in q]), (2, [-x for x in q])]
        _assert_three_steps_agree(spark, idx, mixed, 16, monkeypatch)


def test_driver_beam_ineligible_after_append(spark, tmp_path_factory,
                                             monkeypatch):
    """r14 (ADVICE): appended (multi-version-capable) indexes must NOT
    take the driver beam — the Spark seed scan buckets every node row by
    its own _cell and dedups latest-by-ts after the cell filter, which a
    latest-version-only driver graph cannot replicate. The Spark paths
    must still agree with each other on the appended index, including
    the covered one (default cell_target), where no round runs. A node
    vector with a NULL element declines the driver beam too: the Spark
    fold scores it NULL and drops the node, where numpy would score NaN."""
    df, q = _clustered_df(spark, seed=23)
    rng = np.random.RandomState(3)
    extra = spark.createDataFrame(
        [(int(5000 + i), [float(x) for x in rng.uniform(-1, 1, DIM)])
         for i in range(12)], "id bigint, vector array<double>")
    holed = df.withColumn("vector", F.when(
        F.col("id") == 1000,
        F.transform("vector", lambda x, i: F.when(i > 0, x)))
        .otherwise(F.col("vector")))
    queries = [(0, q), (1, [-x for x in q])]
    for corpus, cell_target, grow in ((df, 64, True), (df, 1024, True),
                                      (holed, 64, False)):
        path = str(tmp_path_factory.mktemp("hnsw_app") / "idx")
        idx = build_hnsw(corpus, path, m=8, metric="COSINE",
                         cell_target=cell_target)
        if grow:
            idx.append(extra)
        assert idx._versions_possible == grow
        _cells_index_centroids(spark, idx)
        drv_attempt, graph, fused, twoscan = _three_steps(
            spark, path, queries, 16, monkeypatch)
        assert graph is False  # driver declined
        assert drv_attempt == fused == twoscan, cell_target
        if not grow:  # the node with a NULL element is never scored
            assert 1000 not in [i for i, _ in fused[0]]
