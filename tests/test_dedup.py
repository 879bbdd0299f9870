"""Dedup operators: exact, MinHash-LSH, SimHash, embedding-cosine."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flouds_vectordb_spark import lifecycle, regime
from flouds_vectordb_spark.operators.ann import dedup_embedding_cosine
from flouds_vectordb_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash,
    dedup_ngram_jaccard,
    dedup_simhash,
    minhash_signatures,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The  Quick Brown   Fox jumps over the lazy dog"),  # exact dup modulo case/ws
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different content about spark engines here"),
        (5, "another unrelated document with its own words entirely"),
    ]
    return spark.createDataFrame(rows, "id long, text string")


def test_exact_dedup_normalizes_case_and_whitespace(docs):
    out = {r["id"]: r["keeper_id"] for r in dedup_exact(docs).collect()}
    assert out[2] == 1  # dup of 1 after normalization
    assert out[1] == 1 and out[3] == 3 and out[4] == 4


def test_exact_dedup_skew_safe_path_identical(docs):
    # the AQE-splittable groupBy+join plan must equal the one-window plan
    base = sorted(map(tuple, dedup_exact(docs).collect()))
    safe = sorted(map(tuple, dedup_exact(docs, skew_safe=True).collect()))
    assert base == safe


def test_minhash_finds_near_dup_pair(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard_r"]
             for r in dedup_minhash(docs, jaccard_threshold=0.3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical shingle sets
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert not any({4, 5} & {a, b} for a, b in pairs)


def test_exact_incremental_prefers_old_keepers(spark):
    from flouds_vectordb_spark.operators.dedup import dedup_exact_incremental

    old = spark.createDataFrame(
        [(1, "the same text"), (2, "only in old")], "id long, text string")
    new = spark.createDataFrame(
        [(10, "The  Same   TEXT"),   # normalizes to old 1's content
         (11, "fresh content"), (12, "fresh content"),  # new dup group
         (13, "unique new")], "id long, text string")
    out = {r["id"]: (r["keeper_id"], r["keeper_is_old"])
           for r in dedup_exact_incremental(new, old).collect()}
    assert out[10] == (1, True)     # old corpus is canonical
    assert out[11] == (11, False) and out[12] == (11, False)
    assert out[13] == (13, False)
    assert set(out) == {10, 11, 12, 13}  # old rows never re-emitted


def test_exact_incremental_null_text_rows_group_like_batch(spark):
    from flouds_vectordb_spark.operators.dedup import dedup_exact_incremental

    old = spark.createDataFrame([(1, None), (2, "real")],
                                "id long, text string")
    new = spark.createDataFrame([(10, None), (11, None), (12, "fresh")],
                                "id long, text string")
    out = {r["id"]: (r["keeper_id"], r["keeper_is_old"])
           for r in dedup_exact_incremental(new, old).collect()}
    # NULL-text rows are one content group (the batch window semantics):
    # the old NULL-text doc 1 is their canonical keeper
    assert set(out) == {10, 11, 12}  # no new row silently dropped
    assert out[10] == (1, True) and out[11] == (1, True)
    assert out[12] == (12, False)


def test_minhash_incremental_agrees_with_batch_on_new_pairs(docs):
    from flouds_vectordb_spark.operators.dedup import (
        dedup_minhash_incremental,
    )

    new = docs.filter("id IN (2, 3)")
    old = docs.filter("id NOT IN (2, 3)")
    got = {(r["id_a"], r["id_b"], r["b_is_old"]): r["jaccard_r"]
           for r in dedup_minhash_incremental(
               new, old, jaccard_threshold=0.3).collect()}
    batch = {(r["id_a"], r["id_b"]): r["jaccard_r"]
             for r in dedup_minhash(docs, jaccard_threshold=0.3).collect()}
    # batch finds (1,2)=1.0 and (1,3); incrementally those surface as
    # new-vs-old pairs keyed by the NEW id
    ref = {}
    for (a, b), j in batch.items():
        a_new, b_new = a in (2, 3), b in (2, 3)
        if a_new and b_new:
            ref[(a, b, False)] = j
        elif a_new:
            ref[(a, b, True)] = j
        elif b_new:
            ref[(b, a, True)] = j
    assert got == ref and any(k[2] for k in got)
    # old x old pairs never surface
    assert not any(a not in (2, 3) for a, _, _ in got)


def test_minhash_signature_is_order_insensitive_hash(spark):
    # same text -> same signatures regardless of row order / partitioning
    df1 = spark.createDataFrame([(1, "alpha beta gamma delta")], "id long, text string")
    df2 = spark.createDataFrame([(9, "alpha beta gamma delta")], "id long, text string")
    s1 = minhash_signatures(df1).drop("id", "shingles").first()
    s2 = minhash_signatures(df2).drop("id", "shingles").first()
    assert s1 == s2


def test_simhash_exact_dup_and_near_dup(docs):
    # banding guarantees candidates only for hamming <= 3 (pigeonhole over
    # 4 x 16-bit bands); pairs farther apart may legitimately be missed
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup_simhash(docs, max_hamming=10).collect()}
    assert pairs.get((1, 2)) == 0  # identical token stream
    assert all(h <= 10 for h in pairs.values())


def test_simhash_candidates_complete_for_low_hamming(docs):
    # pigeonhole: hamming<=3 pairs MUST be found (one of 4 16-bit bands equal)
    found = dedup_simhash(docs, max_hamming=3).collect()
    assert {(r["id_a"], r["id_b"]) for r in found} >= {(1, 2)}


def test_ngram_jaccard_exact_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard_r"]
             for r in dedup_ngram_jaccard(docs, jaccard_threshold=0.3).collect()}
    assert pairs.get((1, 2)) == 1.0  # identical shingle sets
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert not any({4, 5} & {a, b} for a, b in pairs)


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_ngram_jaccard_prefix_filter_has_no_false_negatives(spark, threshold):
    # the AllPairs prefix filter must find EXACTLY the brute-force all-pairs
    # result — zero false negatives at any threshold
    import itertools

    rows = [(i, " ".join(f"w{(i * 3 + k) % 17}" for k in range(12))) for i in range(1, 16)]
    df = spark.createDataFrame(rows, "id long, text string")

    def shingle_set(text, n=3):
        toks = text.lower().split()
        k = max(len(toks) - n + 1, 1)
        return {" ".join(toks[i:i + n]) for i in range(k)}

    expected = {}
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        sa, sb = shingle_set(ta), shingle_set(tb)
        j = len(sa & sb) / len(sa | sb)
        if round(j, 6) >= threshold:
            expected[(ia, ib)] = round(j, 6)

    got = {(r["id_a"], r["id_b"]): r["jaccard_r"]
           for r in dedup_ngram_jaccard(df, jaccard_threshold=threshold).collect()}
    assert got == expected


@pytest.mark.parametrize("t", [0.0, 0.25, 1 / 3, 0.5, 0.8, 1.0])
def test_ngram_driver_pairs_match_loop_reference(t):
    """The vectorized driver regime equals the plain-loop reference on
    random rows with duplicate ids, empty rows and exact rational
    thresholds (no Spark: both sides run on the same hash lists)."""
    import numpy as np
    from reference_impls import ngram_pairs_ref

    from flouds_vectordb_spark.operators.dedup import _driver_ngram_pairs

    rng = np.random.default_rng(11)
    for _ in range(200):
        n = int(rng.integers(1, 9))
        ids = rng.integers(0, 5, size=n).tolist()
        sets = [sorted(set(rng.integers(0, 10, size=int(rng.integers(0, 7)))
                           .tolist())) for _ in range(n)]
        offsets = np.cumsum([0] + [len(x) for x in sets]).astype(np.int64)
        values = np.array([h for x in sets for h in x], dtype=np.int64)
        got = _driver_ngram_pairs(ids, values, offsets, t, 0, False)
        assert got == ngram_pairs_ref(ids, sets, t), (ids, sets)


def test_ngram_jaccard_preflight_guard_aborts_on_quadratic_corpus(
        spark, monkeypatch, tmp_path):
    """r12 VERDICT ask #4: on a non-small corpus whose prefix inverted
    index would join past max_candidate_pairs rows, the operator must
    abort loudly BEFORE launching the pair stage (x1000 theta=0.8 died
    DISK-FULL with no warning), naming the estimate and the alternative.
    The estimate is exact: sum of c_h*(c_h-1)/2 over prefix-hash counts."""
    # clone-heavy: 12 copies of one text -> every prefix hash collides
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(12)]
    df = spark.createDataFrame(rows, "id long, text string")
    monkeypatch.setattr(regime, "SMALL_BYTES", -1)
    with pytest.raises(RuntimeError, match="dedup_minhash_components"):
        dedup_ngram_jaccard(df, jaccard_threshold=0.8,
                            max_candidate_pairs=10).collect()
    # <= 0 disables the guard; below-bound corpora pass through unchanged
    assert dedup_ngram_jaccard(df, jaccard_threshold=0.8,
                               max_candidate_pairs=0).count() == 66
    assert dedup_ngram_jaccard(df, jaccard_threshold=0.8,
                               max_candidate_pairs=10**6).count() == 66
    monkeypatch.undo()
    # small corpora never pay the pre-flight action. NB: createDataFrame
    # plans report UNKNOWN size (LogicalRDD sizeInBytes = Long.MaxValue),
    # so the small regime needs a parquet-backed frame to engage.
    calls = []
    real = regime.fits

    def spy(d, bound):
        calls.append((bound, real(d, bound)))
        return calls[-1][1]

    monkeypatch.setattr(regime, "fits", spy)
    pq = str(tmp_path / "docs.parquet")
    df.write.parquet(pq)
    small_df = spark.read.parquet(pq)
    assert dedup_ngram_jaccard(small_df, jaccard_threshold=0.8,
                               max_candidate_pairs=10).count() == 66
    # the regime check ran and judged the corpus small
    assert (regime.SMALL_BYTES, True) in calls


def test_ngram_jaccard_plan_keeps_arrays_out_of_candidate_shuffle(docs):
    """Scale guard: the inverted-index self-join must exchange only
    (id, n, h) scalars; the shingle-hash ARRAYS join back post-candidates.
    An hset column inside an Exchange means the corpus arrays are being
    duplicated x prefix_len through the shuffle."""
    plan = (dedup_ngram_jaccard(docs, jaccard_threshold=0.5)
            ._jdf.queryExecution().executedPlan().toString())
    for line in plan.splitlines():
        if "Exchange hashpartitioning(h#" in line:
            assert "hset" not in line, line


def test_embedding_cosine_dedup_finds_planted_dups(spark):
    base = [(i, [float((i * 7 + j * 13) % 11) - 5.0 for j in range(8)]) for i in range(1, 21)]
    dups = [(100 + i, v) for i, v in base[:3]]
    df = spark.createDataFrame(base + dups, "id long, embedding array<double>")
    pairs = {(r["id_a"], r["id_b"]): r["cosine_r"]
             for r in dedup_embedding_cosine(df, tau=0.999, bits=8).collect()}
    for i in (1, 2, 3):
        assert pairs.get((i, 100 + i)) == 1.0


def test_persist_scope_releases_operator_storage(spark):
    # the persist_scope contract: intermediates persisted by dedup operators
    # inside the block are unpersisted on exit — and ONLY those (a caller's
    # own persisted frame survives)
    from flouds_vectordb_spark.lifecycle import persist_scope

    docs = spark.createDataFrame(
        [(i, f"some shared text body number {i % 3} with words") for i in range(30)],
        "id long, text string")
    mine = spark.createDataFrame([(1,)], "x long").persist()
    mine.count()
    with persist_scope() as tracked:
        dedup_minhash(docs).collect()
        dedup_simhash(docs).collect()
        dedup_ngram_jaccard(docs).collect()
        assert len(tracked) >= 4  # minhash(2) + simhash(2) + ngram(1)
        assert all(df.storageLevel.useMemory or df.storageLevel.useDisk
                   for df in tracked)
    # released: storage level reset to NONE on every tracked frame
    assert all(not (df.storageLevel.useMemory or df.storageLevel.useDisk)
               for df in tracked)
    # the caller's own cache is untouched
    assert mine.storageLevel.useMemory
    mine.unpersist()


def test_persist_scope_is_per_thread(spark):
    # scope stacks live in threading.local: a scope opened on one thread
    # must not capture (or later unpersist) frames persisted on another
    import threading

    from flouds_vectordb_spark.lifecycle import persist_scope, tracked_persist

    other_df = spark.createDataFrame([(1,)], "x long")
    done = threading.Event()
    release = threading.Event()

    def worker():
        tracked_persist(other_df).count()
        done.set()
        release.wait(30)

    with persist_scope() as tracked:
        t = threading.Thread(target=worker)
        t.start()
        assert done.wait(30)
        # the worker's persist registered nowhere near this thread's scope
        assert other_df not in tracked
    release.set()
    t.join(30)
    # scope exit on the main thread left the worker's frame cached
    assert other_df.storageLevel.useMemory or other_df.storageLevel.useDisk
    other_df.unpersist()


def test_components_min_label_over_chains_and_cliques(spark):
    from flouds_vectordb_spark.operators.dedup import dedup_components

    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # clique 10-11-12, isolated pair (20, 21)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long")
    got = {r["id"]: r["component_id"] for r in dedup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_components_long_chain_converges(spark):
    from flouds_vectordb_spark.operators.dedup import dedup_components

    n = 12
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)],
                                  "id_a long, id_b long")
    got = {r["id"]: r["component_id"] for r in dedup_components(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_srp_bucket_shuffle_carries_scalars_only(spark):
    """Scale guard (mirrors the ngram-join guard): the SRP signature
    bucket self-join must exchange (id, sig) scalars — embeddings join
    back for candidates, never ride the bucket shuffle."""
    df = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(20)],
        "id long, embedding array<double>")
    plan = (dedup_embedding_cosine(df, tau=0.9, bits=8)
            ._jdf.queryExecution().executedPlan().toString())
    for line in plan.splitlines():
        if "Exchange hashpartitioning(sig#" in line:
            assert "embedding" not in line and ", v#" not in line, line


def test_components_raises_on_max_iter_nonconvergence(spark):
    """A long-diameter chain that cannot reach the min-label fixpoint in
    max_iter rounds must RAISE (partially propagated labels would silently
    keep extra duplicates), not return wrong component ids."""
    import pytest

    from flouds_vectordb_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(8)],
                                  "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(pairs, max_iter=2, driver_threshold=0)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(pairs, max_iter=3, pointer_jump=False, driver_threshold=0)


def test_components_empty_graph_converges_in_one_round(spark):
    """ADVICE r9: an empty pair set is already converged — the fused init
    round must confirm the fixpoint itself, so max_iter=1 on the
    distributed path returns (empty) instead of raising."""
    from flouds_vectordb_spark.operators.dedup import dedup_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = dedup_components(empty, max_iter=1, driver_threshold=0)
    assert out.count() == 0
    assert out.columns == ["id", "component_id"]


def test_components_pointer_jump_log_rounds_on_long_chain(spark):
    """pointer_jump doubles propagation distance per round: a 60-hop chain
    converges within ~log2 rounds where plain min-propagation (1 hop per
    round) cannot — and the labels are identical to the fixpoint."""
    import pytest

    from flouds_vectordb_spark.operators.dedup import dedup_components

    n = 60
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)],
                                  "id_a long, id_b long")
    # plain propagation needs ~n rounds; 12 is not enough
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(pairs, max_iter=12, pointer_jump=False,
                         driver_threshold=0)
    got = {r["id"]: r["component_id"]
           for r in dedup_components(pairs, max_iter=12, pointer_jump=True,
                                     driver_threshold=0).collect()}
    assert got == {i: 0 for i in range(n + 1)}
    # the r9 ADAPTIVE default detects the long chain (still unconverged
    # after _AUTO_JUMP_AFTER rounds) and jumps: same fixpoint, same
    # max_iter budget that plain propagation fails
    auto = {r["id"]: r["component_id"]
            for r in dedup_components(pairs, max_iter=12, driver_threshold=0).collect()}
    assert auto == {i: 0 for i in range(n + 1)}


# ---- train/test decontamination (r6) ----------------------------------------

def test_decontaminate_flags_overlap_and_spares_clean(spark):
    from flouds_vectordb_spark.operators.dedup import decontaminate

    test_set = spark.createDataFrame(
        [("t1", "the quick brown fox jumps over the lazy dog tonight"),
         ("t2", "pack my box with five dozen liquor jugs")],
        "id string, text string")
    train = spark.createDataFrame(
        [# exact copy of t1 -> every 5-gram matches
         ("a", "the quick brown fox jumps over the lazy dog tonight"),
         # contains one 5-gram window of t2 inside fresh text
         ("b", "we shall pack my box with five more things entirely new"),
         # shares only 4-word runs, never 5 -> clean at n=5
         ("c", "the quick brown fox sleeps under the lazy dog"),
         # completely unrelated
         ("d", "vector engines shuffle scalars across executors")],
        "id string, text string")
    got = {r["id"]: r["matched_ngrams"] for r in
           decontaminate(train, test_set, n=5, min_matches=1).collect()}
    assert set(got) == {"a", "b"}
    assert got["a"] == 6  # 10 tokens -> 6 distinct 5-grams, all matched
    assert got["b"] == 1  # exactly the "pack my box with five" window
    # raising the bar to 2 shared grams drops the single-window hit
    got2 = {r["id"] for r in
            decontaminate(train, test_set, n=5, min_matches=2).collect()}
    assert got2 == {"a"}


def test_minhash_empty_docs_never_pair(spark):
    """Zero-shingle docs (empty/whitespace text) must not band-collide:
    before the r10 fix every empty doc shared the constant hash64('')
    bucket and verified at jaccard 0/0 = NaN >= threshold (Spark orders
    NaN above any double), while the SQL twins' NULL band hashes never
    join — an engine divergence, reproduced then pinned here."""
    import duckdb as dd

    from flouds_vectordb_spark.operators.dedup import (
        decontaminate_neardup,
        dedup_minhash_sql,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, ""), (4, "real words in a document here "
                                           "with enough tokens to shingle")],
        "id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in
           dedup_minhash(df, jaccard_threshold=0.1).collect()}
    sql = dedup_minhash_sql(
        "(SELECT * FROM (VALUES (1, ''), (2, '   '), (3, ''), "
        "(4, 'real words in a document here with enough tokens to "
        "shingle')) AS _t(id, text))", jaccard_threshold=0.1)
    oracle = {(r[0], r[1]) for r in dd.connect().execute(sql).fetchall()}
    assert got == oracle == set()
    # bipartite variant: an empty train doc must not match an empty test doc
    test_set = spark.createDataFrame([(10, ""), (11, "held out")],
                                     "id long, text string")
    assert decontaminate_neardup(df, test_set,
                                 jaccard_threshold=0.1).count() == 0


def test_decontaminate_neardup_flags_fuzzy_copies(spark):
    from flouds_vectordb_spark.operators.dedup import decontaminate_neardup

    base = ("every evening the children read stories in the small library "
            "near the school and talk about their favourite characters "
            "before walking home together along the quiet river path")
    test_set = spark.createDataFrame(
        [("t1", base),
         ("t2", "pack my box with five dozen liquor jugs for the contest")],
        "id string, text string")
    train = spark.createDataFrame(
        [("exact", base),
         # light edit: three appended tokens, shingle Jaccard ~0.9
         ("edited", base + " extra tail tokens"),
         # topical overlap but mostly different words -> below 0.8
         ("related", "every evening the children play games in the big "
                     "gym near the school and then run home quickly"),
         ("clean", "vector engines shuffle scalars across executors")],
        "id string, text string")
    got = {r["id"]: r for r in
           decontaminate_neardup(train, test_set,
                                 jaccard_threshold=0.8).collect()}
    assert set(got) == {"exact", "edited"}, got
    assert got["exact"]["max_jaccard"] == 1.0
    assert 0.8 <= got["edited"]["max_jaccard"] < 1.0
    assert got["exact"]["n_test_hits"] == 1
    # bipartite contract: a train x train duplicate pair ("exact" vs
    # "edited") must NOT flag anything on its own — only test hits count
    clean_test = spark.createDataFrame(
        [("t3", "utterly disjoint held out content")], "id string, text string")
    assert decontaminate_neardup(train, clean_test,
                                 jaccard_threshold=0.8).count() == 0


def test_decontaminate_neardup_matches_incremental_cross_pairs(spark):
    """The bipartite op agrees with dedup_minhash_incremental's cross
    (b_is_old) pairs on the same inputs — same bands, same verify."""
    from flouds_vectordb_spark.operators.dedup import (
        decontaminate_neardup,
        dedup_minhash_incremental,
    )

    train = spark.createDataFrame(
        [(i, f"shared words run {i % 3} across documents here and "
             f"some filler tokens to make shingles " + "alpha " * (i % 5))
         for i in range(1, 9)], "id long, text string")
    test_set = spark.createDataFrame(
        [(100 + i, f"shared words run {i} across documents here and "
                   f"some filler tokens to make shingles ")
         for i in range(3)], "id long, text string")
    got = {(r["id"], r["max_jaccard"]) for r in
           decontaminate_neardup(train, test_set,
                                 jaccard_threshold=0.5).collect()}
    cross = (dedup_minhash_incremental(train, test_set,
                                       jaccard_threshold=0.5)
             .filter(F.col("b_is_old")))
    exp = {(r["id_a"], r["mj"]) for r in
           cross.groupBy("id_a").agg(F.max("jaccard_r").alias("mj")).collect()}
    assert got == exp and got, (got, exp)


def test_decontaminate_short_documents_whole_text_shingle(spark):
    """Docs shorter than n collapse to one whole-text shingle, so an exact
    short copy is caught while a subset is not."""
    from flouds_vectordb_spark.operators.dedup import decontaminate

    test_set = spark.createDataFrame([("t", "tiny secret answer")],
                                     "id string, text string")
    train = spark.createDataFrame(
        [("copy", "tiny secret answer"), ("sub", "tiny secret")],
        "id string, text string")
    got = {r["id"] for r in
           decontaminate(train, test_set, n=8, min_matches=1).collect()}
    assert got == {"copy"}


# ---- exact substring (span) dedup (r7) --------------------------------------

def _span_fixture(spark):
    D = " ".join(f"d{i}" for i in range(1, 13))         # 12 shared tokens
    E = " ".join(f"e{i}" for i in range(1, 7))          # 6 tokens, repeated
    docs = [
        ("a", f"a1 a2 a3 {D} a4 a5"),
        ("b", f"{D} b1"),
        ("c", "c1 c2"),                                  # shorter than k
        ("e", f"{E} {E}"),                               # within-doc repeat
        ("f", "f1 f2 f3 f4 f5 f6 f7 f8"),                # no duplication
    ]
    return spark.createDataFrame(docs, "id string, text string")


def test_exact_substring_spans_known_fixture(spark):
    from flouds_vectordb_spark.operators.dedup import exact_substring_spans

    df = _span_fixture(spark)
    got = {(r["id"], r["span_start"], r["span_end"], r["span_tokens"])
           for r in exact_substring_spans(df, k=5).collect()}
    assert got == {
        ("a", 4, 15, 12),   # the shared D region, exactly
        ("b", 1, 12, 12),
        ("e", 1, 12, 12),   # both copies of the repeated E merge
    }


def test_exact_substring_spans_two_disjoint_spans(spark):
    from flouds_vectordb_spark.operators.dedup import exact_substring_spans

    D1 = " ".join(f"p{i}" for i in range(1, 7))
    D2 = " ".join(f"q{i}" for i in range(1, 7))
    mid = " ".join(f"m{i}" for i in range(1, 9))         # 8-token separator
    docs = [("x", f"{D1} {mid} {D2}"),
            ("y", f"y0 {D1} y1 y2"), ("z", f"{D2} z1")]
    df = spark.createDataFrame(docs, "id string, text string")
    got = sorted((r["id"], r["span_start"], r["span_end"])
                 for r in exact_substring_spans(df, k=6).collect())
    # x: D1 at 1..6 and D2 at 15..20, separated by > k -> TWO spans
    assert got == [("x", 1, 6), ("x", 15, 20),
                   ("y", 2, 7), ("z", 1, 6)]


def test_remove_exact_substrings_cuts_spans(spark):
    from flouds_vectordb_spark.operators.dedup import (
        exact_substring_spans,
        remove_exact_substrings,
    )

    df = _span_fixture(spark)
    spans = exact_substring_spans(df, k=5)
    got = {r["id"]: (r["text_clean"], r["n_tokens_removed"])
           for r in remove_exact_substrings(df, spans).collect()}
    assert got["a"] == ("a1 a2 a3 a4 a5", 12)
    assert got["b"] == ("b1", 12)
    assert got["c"] == ("c1 c2", 0)
    assert got["e"] == ("", 12)
    assert got["f"][1] == 0


# ---- corpus-level common-line removal (r8) -----------------------------------

def test_remove_common_lines(spark):
    from flouds_vectordb_spark.operators.dedup import remove_common_lines

    footer = "all rights reserved"
    docs = [
        (1, f"unique one\n{footer}\nbody A"),
        (2, f"unique two\n{footer}"),
        (3, f"{footer}\nunique three\n{footer}"),   # in-doc repeat of a flagged line
        (4, "repeated inside\nrepeated inside\nrepeated inside"),  # one doc only
        (5, "\n\nonly blanks\n\n"),
        (6, ""),
    ]
    df = spark.createDataFrame(docs, "id bigint, text string")
    got = {r["id"]: (r["text_clean"], r["n_lines_removed"])
           for r in remove_common_lines(df, min_docs=3).collect()}
    # footer appears in 3 distinct docs -> every occurrence drops
    assert got[1] == ("unique one\nbody A", 1)
    assert got[2] == ("unique two", 1)
    assert got[3] == ("unique three", 2)
    # within-one-doc repetition never triggers (distinct-doc count = 1)
    assert got[4] == ("repeated inside\nrepeated inside\nrepeated inside", 0)
    # blank lines are never candidates
    assert got[5] == ("\n\nonly blanks\n\n", 0)
    assert got[6] == ("", 0)


def test_remove_common_lines_threshold(spark):
    from flouds_vectordb_spark.operators.dedup import remove_common_lines

    docs = [(i, "shared line\nbody %d" % i) for i in range(2)]
    df = spark.createDataFrame(docs, "id bigint, text string")
    # 2 docs < min_docs=3 -> nothing removed
    out = remove_common_lines(df, min_docs=3)
    assert all(r["n_lines_removed"] == 0 for r in out.collect())
    # min_docs=2 -> removed from both
    out2 = {r["id"]: r["text_clean"]
            for r in remove_common_lines(df, min_docs=2).collect()}
    assert out2 == {0: "body 0", 1: "body 1"}


def test_components_driver_and_distributed_paths_agree(spark):
    """r9: the driver union-find fast path and the distributed
    min-label loop are the same operator contract — identical output on
    the same graph (chains, cliques, singleton-free), and the driver
    path preserves the id type."""
    from flouds_vectordb_spark.operators.dedup import dedup_components

    edges = ([(i, i + 1) for i in range(10)]          # chain 0..10
             + [(100, 101), (101, 102), (100, 102)]   # triangle
             + [(200, 201)])                          # pair
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r["id"], r["component_id"])
            for r in dedup_components(pairs).collect()}
    dist = {(r["id"], r["component_id"])
            for r in dedup_components(pairs, driver_threshold=0).collect()}
    assert fast == dist
    assert {c for _, c in fast} == {0, 100, 200}
    spairs = spark.createDataFrame([("b", "a"), ("c", "b")],
                                   "id_a string, id_b string")
    got = {r["id"]: r["component_id"]
           for r in dedup_components(spairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a"}


def _clone_corpus(spark, seed=5, n_base=40):
    """Base docs + clone cliques + borderline variants: exercises both the
    star-pass fast path (clones) and the phase-2 fallback (pairs whose
    similarity to the bucket min is sub-threshold while member-member
    similarity is not)."""
    import random

    rnd = random.Random(seed)
    vocab = [f"tok{i}" for i in range(160)]
    rows = []
    for i in range(n_base):
        words = [vocab[rnd.randrange(len(vocab))] for _ in range(14)]
        rows.append((i, " ".join(words)))
        if i % 3 == 0:  # clone clique of 4 (exact shingle sets)
            for k in (1, 2, 3):
                rows.append((1000 * k + i, " ".join(words)))
        if i % 3 == 1:  # graded variants: some pairs straddle the
            for k in (1, 2, 3):  # threshold differently vs each other
                w = list(words)
                for _ in range(k * 2):
                    w[rnd.randrange(len(w))] = vocab[rnd.randrange(len(vocab))]
                rows.append((1000 * k + i, " ".join(w)))
    return spark.createDataFrame(rows, "id long, text string")


def test_minhash_components_equals_pair_mode_composition(spark):
    """dedup_minhash(output='components') must produce EXACTLY the labels
    of dedup_components(dedup_minhash(df)) — the star+phase-2 fusion is an
    execution strategy, not a semantics change. The in-memory corpus has
    no known size, so this runs the shuffle regime; the driver regime is
    pinned by test_minhash_driver_regime_equals_distributed."""
    from flouds_vectordb_spark.operators.dedup import (
        dedup_components,
        dedup_minhash,
    )

    corpus = _clone_corpus(spark)
    for thr in (0.35, 0.5, 0.8):
        want = sorted(
            map(tuple, dedup_components(
                dedup_minhash(corpus, jaccard_threshold=thr)).collect()))
        got = sorted(
            map(tuple, dedup_minhash(corpus, jaccard_threshold=thr,
                                     output="components").collect()))
        assert got == want and want, thr

    import pytest
    with pytest.raises(ValueError, match="output"):
        dedup_minhash(corpus, output="graphml")


# --- r13 driver regime: one-collect candidates/verify/union-find ------------

@pytest.fixture()
def parquet_docs(spark, tmp_path_factory):
    """Parquet-backed near-dup corpus: createDataFrame plans report UNKNOWN
    size, so engaging the size-gated driver regime needs a file scan."""
    rows = []
    for i in range(40):
        base = f"document number {i} talks about topic {i % 7} in detail"
        rows.append((i, base))
        if i % 4 == 0:  # near-dup clusters
            rows.append((1000 + i, base + " extra"))
            rows.append((2000 + i, base + " extra more"))
    rows.append((9000, ""))  # zero-shingle doc must not band or pair
    pq = str(tmp_path_factory.mktemp("drv") / "docs.parquet")
    spark.createDataFrame(rows, "id long, text string").write.parquet(pq)
    return spark.read.parquet(pq)


_BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
_NEAR = _BASE.replace("today", "tonight")
_FAR = _BASE.replace("quick brown", "slow red").replace("river", "lake")
# duplicate-id input: every row of an id is verified against every row
# of another id and never against a row of its own id. Ids 11 and 12
# each hold an empty row, so that candidate id pair has a 0/0 row pair.
_DUP_ID_ROWS = [
    (1, _BASE), (1, _NEAR), (1, _FAR), (2, _BASE), (2, _FAR), (3, _NEAR),
    (4, "other words entirely here"),
    (11, _BASE), (11, ""), (12, _BASE), (12, ""),
    (13, "alpha beta gamma delta"), (13, _BASE + " extra")]


@pytest.fixture()
def dup_id_docs(spark, tmp_path):
    """The duplicate-id input as a parquet frame (driver-regime sized)."""
    pq = str(tmp_path / "dup.parquet")
    spark.createDataFrame(_DUP_ID_ROWS, "id long, text string").write.parquet(pq)
    return spark.read.parquet(pq)


def _twin_rows(sql_fn, *frames, **kw):
    """Sorted rows of a DuckDB twin run over the parquet files behind
    each frame."""
    import duckdb

    srcs = ["read_parquet([" + ", ".join(
        f"'{f.removeprefix('file://')}'" for f in df.inputFiles()) + "])"
        for df in frames]
    return sorted(map(tuple, duckdb.connect().execute(
        sql_fn(*srcs, **kw)).fetchall()))


def _regime_rows(call, monkeypatch):
    """(driver rows, forced-distributed rows) of call(). The driver regime
    must serve its call with no persist: every distributed plan it
    replaces persists, so an unchanged persist_epoch proves no fallback."""
    epoch = lifecycle.persist_epoch()
    drv = sorted(map(tuple, call().collect()))
    assert lifecycle.persist_epoch() == epoch  # the driver regime served it
    with monkeypatch.context() as m:
        m.setattr(regime, "DRIVER_BYTES", -1)
        dist = sorted(map(tuple, call().collect()))
    return drv, dist


def test_minhash_driver_regime_equals_distributed(parquet_docs, dup_id_docs,
                                                  monkeypatch):
    """The r13 driver regime (one fetch + driver bucketing/verify) must be
    row-identical to the shuffle regime (forced by DRIVER_BYTES = -1) and
    to the SQL twin on pairs and on component labels, at multiple
    thresholds, duplicate ids included."""
    from flouds_vectordb_spark.operators.dedup import (
        dedup_minhash_components_sql,
        dedup_minhash_sql,
    )

    for docs in (parquet_docs, dup_id_docs):
        assert regime.fits(docs, regime.DRIVER_BYTES)  # engages it
        for thr in (0.3, 0.5, 0.8):
            for out, twin in (("pairs", dedup_minhash_sql),
                              ("components", dedup_minhash_components_sql)):
                drv, dist = _regime_rows(lambda: dedup_minhash(
                    docs, jaccard_threshold=thr, output=out), monkeypatch)
                want = _twin_rows(twin, docs, jaccard_threshold=thr)
                assert drv == dist == want and drv, (thr, out)


def test_joined_input_takes_the_driver_regime(spark, parquet_docs, tmp_path,
                                              monkeypatch):
    """A join's root size estimate multiplies its sides' sizes, so a guard
    on it sent any joined input to the distributed plans however small.
    The leaf-sum probe sees the files: the joined corpus takes the driver
    regime and returns the plain corpus's edges."""
    import flouds_vectordb_spark.operators.dedup as dd

    # one tag per doc plus 20k ids no doc has: the inner join keeps
    # exactly the plain corpus's rows, and the side table's file is big
    # enough that the product of the two sides passes every bound
    ids = [r[0] for r in parquet_docs.select("id").collect()]
    side = ([(i, f"tag{i % 3}") for i in ids]
            + [(100_000 + i, f"pad{i:06d}") for i in range(20_000)])
    pq = str(tmp_path / "side.parquet")
    spark.createDataFrame(side, "id long, tag string").write.parquet(pq)
    joined = parquet_docs.join(spark.read.parquet(pq), "id")
    assert regime.fits(joined, regime.DRIVER_BYTES)

    calls = []
    real = dd._driver_minhash_rows
    monkeypatch.setattr(dd, "_driver_minhash_rows",
                        lambda *a: calls.append(1) or real(*a))
    want = sorted(map(tuple, dedup_minhash(
        parquet_docs, jaccard_threshold=0.5).collect()))
    got = sorted(map(tuple, dedup_minhash(
        joined, jaccard_threshold=0.5).collect()))
    assert got == want and got
    assert len(calls) == 2  # both inputs took the driver regime


def test_minhash_driver_preflight_falls_back(parquet_docs, monkeypatch):
    """Above the candidate-pair bound the driver regime must hand off to
    the distributed plan, not enumerate."""
    import flouds_vectordb_spark.operators.dedup as dd

    want = sorted(map(tuple, dedup_minhash(parquet_docs).collect()))
    monkeypatch.setattr(dd, "_MINHASH_DRIVER_MAX_CAND_PAIRS", 0)
    got = sorted(map(tuple, dedup_minhash(parquet_docs).collect()))
    assert got == want and got


def test_ngram_driver_regime_equals_distributed(parquet_docs, dup_id_docs,
                                                monkeypatch):
    from flouds_vectordb_spark.operators.dedup import dedup_ngram_jaccard_sql

    for docs in (parquet_docs, dup_id_docs):
        for thr in (0.3, 0.5, 0.8):
            drv, dist = _regime_rows(lambda: dedup_ngram_jaccard(
                docs, jaccard_threshold=thr), monkeypatch)
            want = _twin_rows(dedup_ngram_jaccard_sql, docs,
                              jaccard_threshold=thr)
            assert drv == dist == want and drv, thr


def test_simhash_driver_regime_equals_distributed(parquet_docs, dup_id_docs,
                                                  monkeypatch):
    """One row per distinct (id_a, h_a, id_b, h_b) sharing a band, in
    both regimes and the twin; three distributed runs agree (keeping one
    arbitrary fingerprint pair per id pair made them differ)."""
    from flouds_vectordb_spark.operators.dedup import dedup_simhash_sql

    for docs in (parquet_docs, dup_id_docs):
        runs = [_regime_rows(lambda: dedup_simhash(docs, max_hamming=6),
                             monkeypatch) for _ in range(3)]
        want = _twin_rows(dedup_simhash_sql, docs, max_hamming=6)
        assert all(run == (want, want) for run in runs) and want


def test_decon_neardup_driver_regime_equals_distributed(spark, tmp_path,
                                                        monkeypatch):
    import flouds_vectordb_spark.operators.dedup as dd
    from flouds_vectordb_spark.operators.dedup import (
        decontaminate_neardup,
        decontaminate_neardup_sql,
    )

    def parquet(rows, name):
        path = str(tmp_path / name)
        spark.createDataFrame(rows, "id long, text string").write.parquet(path)
        return spark.read.parquet(path)

    tr_rows = [(i, f"train doc {i} about shared topic {i % 6} words")
               for i in range(50)]
    te_rows = [(100 + k, f"train doc {k * 6} about shared topic 0 words")
               for k in range(4)]
    te_rows.append((999, "nothing matching at all here"))
    tr = parquet(tr_rows, "tr.parquet")
    # duplicate ids on both sides: every verified row pair counts
    base = "one two three four five six seven eight nine ten eleven twelve"
    edit = base.replace("twelve", "dozen")
    dup_tr = parquet([(1, base), (1, edit), (2, "other words entirely")],
                     "dup_tr.parquet")
    dup_te = parquet([(10, base), (10, edit), (11, "unrelated held out")],
                     "dup_te.parquet")
    # a held-out side built in memory (unknown size) must not veto the
    # driver regime: only the train side's size gates it (no files, so
    # no twin run)
    in_memory = spark.createDataFrame(te_rows, "id long, text string")
    for train, te, thrs in ((tr, parquet(te_rows, "te.parquet"), (0.3, 0.8)),
                            (tr, in_memory, (0.3, 0.8)),
                            (dup_tr, dup_te, (0.6,))):
        for thr in thrs:
            calls = []
            real = dd._driver_decon_neardup
            monkeypatch.setattr(dd, "_driver_decon_neardup",
                                lambda *a: calls.append(1) or real(*a))
            drv, dist = _regime_rows(lambda: decontaminate_neardup(
                train, te, jaccard_threshold=thr), monkeypatch)
            monkeypatch.undo()
            assert calls == [1]  # the driver regime ran for drv only
            assert drv == dist and drv, thr
            if te.inputFiles():
                assert drv == _twin_rows(decontaminate_neardup_sql, train,
                                         te, jaccard_threshold=thr), thr


def test_decontaminate_driver_regime_equals_distributed(spark, tmp_path,
                                                        monkeypatch):
    from flouds_vectordb_spark.operators.dedup import decontaminate

    tr_rows = [(i, f"alpha beta gamma delta {i} epsilon zeta eta theta")
               for i in range(40)]
    te_rows = [(100, "alpha beta gamma delta 7 epsilon zeta eta theta"),
               (101, "nothing shared here at all today friends")]
    tr_pq, te_pq = str(tmp_path / "tr.parquet"), str(tmp_path / "te.parquet")
    spark.createDataFrame(tr_rows, "id long, text string").write.parquet(tr_pq)
    spark.createDataFrame(te_rows, "id long, text string").write.parquet(te_pq)
    tr, te = spark.read.parquet(tr_pq), spark.read.parquet(te_pq)
    drv = sorted(map(tuple, decontaminate(tr, te, n=5).collect()))
    monkeypatch.setattr(regime, "DRIVER_BYTES", -1)
    dist = sorted(map(tuple, decontaminate(tr, te, n=5).collect()))
    assert drv == dist and drv


_DECON_TRAIN = [(i, f"alpha beta gamma delta {i} epsilon zeta eta theta")
                for i in range(40)]
_DECON_HELD = [(100, "alpha beta gamma delta 7 epsilon zeta eta theta"),
               (101, "nothing shared here at all today friends")]
_KNIFE = "one two three four five six seven"  # 3 distinct 5-grams

# (train rows, held-out rows, held-out DDL schema, min_matches)
_DECON_CASES = {
    "plain": (_DECON_TRAIN, _DECON_HELD, "id long, text string", 1),
    "duplicate_train_ids": (
        _DECON_TRAIN + [(7, "alpha beta gamma delta 7 epsilon more words"),
                        (3, "nothing shared here at all today friends")],
        _DECON_HELD, "id long, text string", 1),
    "null_text_both_sides": (
        _DECON_TRAIN + [(50, None)],
        _DECON_HELD + [(102, None)], "id long, text string", 1),
    "shorter_than_n": (
        _DECON_TRAIN + [(60, "tiny secret"), (61, "tiny secret answer"),
                        (62, "tiny")],
        _DECON_HELD + [(103, "tiny secret")], "id long, text string", 1),
    "empty_held_out": (_DECON_TRAIN, [], "id long, text string", 1),
    "held_out_without_id": (
        _DECON_TRAIN, [(t,) for _, t in _DECON_HELD], "text string", 1),
    "string_held_out_ids": (
        _DECON_TRAIN, [(f"q{i}", t) for i, t in _DECON_HELD],
        "id string, text string", 1),
    "match_count_at_min_matches": (
        _DECON_TRAIN + [(70, f"zero {_KNIFE} eight"),
                        (71, "one two three four five six")],
        _DECON_HELD + [(104, _KNIFE)], "id long, text string", 3),
    # no train doc without a shared gram is flagged, whatever the bar
    "min_matches_zero": (_DECON_TRAIN, _DECON_HELD, "id long, text string", 0),
}


@pytest.mark.parametrize("case", sorted(_DECON_CASES))
def test_decontaminate_in_memory_held_out_takes_driver_regime(
        spark, tmp_path, monkeypatch, case):
    """A held-out set built with spark.createDataFrame (a LogicalRDD whose
    size Catalyst reports as unknown) must not veto the driver regime: the
    regime follows the train side alone. The driver rows must equal the
    forced-distributed rows on each adversarial input."""
    from flouds_vectordb_spark.functions import pyhash
    from flouds_vectordb_spark.operators.dedup import decontaminate

    tr_rows, te_rows, te_schema, mm = _DECON_CASES[case]
    pq = str(tmp_path / "tr.parquet")
    spark.createDataFrame(tr_rows, "id long, text string").write.parquet(pq)
    tr = spark.read.parquet(pq)
    te = spark.createDataFrame(te_rows, te_schema)
    assert regime.fits(tr, regime.DRIVER_BYTES)
    assert not regime.fits(te, regime.DRIVER_BYTES)

    fetched = []
    real = pyhash.fetch_lists
    monkeypatch.setattr(pyhash, "fetch_lists",
                        lambda *a: fetched.append(real(*a)) or fetched[-1])
    drv = sorted(map(tuple, decontaminate(tr, te, n=5,
                                          min_matches=mm).collect()))
    # two fetches: the held-out hashes (no key column), then the train ids
    assert [len(f) for f in fetched] == [3, 4]
    assert sorted(fetched[1][0]) == sorted(i for i, _ in tr_rows)
    monkeypatch.setattr(regime, "DRIVER_BYTES", -1)
    dist = sorted(map(tuple, decontaminate(tr, te, n=5,
                                           min_matches=mm).collect()))
    # the distributed regime fetches the held-out side only
    assert [len(f) for f in fetched] == [3, 4, 3]
    assert drv == dist
    assert bool(drv) == (case != "empty_held_out")
    if case == "duplicate_train_ids":
        assert (7, 5) in drv and (3, 3) in drv  # merged distinct gram sets
    if case == "match_count_at_min_matches":
        assert (70, 3) in drv and not any(r[0] == 71 for r in drv)


def test_substring_spans_driver_regime_equals_distributed(spark, tmp_path,
                                                          monkeypatch):
    from flouds_vectordb_spark.operators.dedup import exact_substring_spans

    boiler = " ".join(f"tok{j}" for j in range(25))
    rows = [(i, f"unique head {i} " + (boiler if i % 3 == 0 else
                                       f"own body {i} words here") +
             f" tail {i}") for i in range(30)]
    rows.append((99, boiler + " " + boiler))  # within-doc repeat
    # duplicate ids: the rows of one id stitch as one position list
    dup_rows = [(1, "a b c d e f g"), (1, "x a b c d y"), (2, "a b c d e z")]
    for i, (data, k) in enumerate(((rows, 20), (dup_rows, 3))):
        pq = str(tmp_path / f"docs{i}.parquet")
        spark.createDataFrame(data, "id long, text string").write.parquet(pq)
        df = spark.read.parquet(pq)
        drv = sorted(map(tuple, exact_substring_spans(df, k=k).collect()))
        monkeypatch.setattr(regime, "DRIVER_BYTES", -1)
        dist = sorted(map(tuple, exact_substring_spans(df, k=k).collect()))
        monkeypatch.undo()
        assert drv == dist and drv, k


def test_driver_regimes_fetch_once_per_side(spark, parquet_docs,
                                           monkeypatch):
    """Every hashing driver regime fetches through pyhash.fetch_lists,
    once per input side, and no module that fetches through it sets a
    spread width of its own: the width is pyhash.DRIVER_FETCH_SPREAD."""
    import ast
    import inspect

    import flouds_vectordb_spark.operators.dedup as dd
    import flouds_vectordb_spark.operators.importance as imp
    from flouds_vectordb_spark.functions import pyhash
    from flouds_vectordb_spark.operators.dedup import (
        decontaminate,
        decontaminate_neardup,
        exact_substring_spans,
    )
    from flouds_vectordb_spark.operators.importance import dsir_resample

    held = parquet_docs.filter(F.col("id") < 8)
    assert regime.fits(parquet_docs, regime.DRIVER_BYTES)
    assert regime.fits(held, regime.DRIVER_BYTES)
    calls = []
    real = pyhash.fetch_lists
    monkeypatch.setattr(pyhash, "fetch_lists",
                        lambda *a: calls.append(1) or real(*a))
    ops = {
        "dedup_minhash": (lambda: dedup_minhash(parquet_docs), 1),
        "components": (lambda: dedup_minhash(parquet_docs,
                                             output="components"), 1),
        "dedup_ngram_jaccard": (lambda: dedup_ngram_jaccard(parquet_docs), 1),
        "dedup_simhash": (lambda: dedup_simhash(parquet_docs), 1),
        "exact_substring_spans": (
            lambda: exact_substring_spans(parquet_docs, k=3), 1),
        "dsir_resample": (
            lambda: dsir_resample(parquet_docs, held, n_keep=5,
                                  n_buckets=64), 1),
        "decontaminate": (lambda: decontaminate(parquet_docs, held, n=3), 2),
        "decontaminate_neardup": (
            lambda: decontaminate_neardup(parquet_docs, held), 2),
    }
    for name, (run, want) in ops.items():
        calls.clear()
        assert run().collect(), name
        assert len(calls) == want, name

    for mod in (dd, imp, pyhash):
        spreads = [
            node for node in ast.walk(ast.parse(inspect.getsource(mod)))
            if isinstance(node, ast.Call)
            and getattr(node.func, "id", None) in ("_spread",
                                                   "spread_small_input")
            and any(kw.arg == "target" for kw in node.keywords)]
        assert len(spreads) == (mod is pyhash), mod.__name__


def test_remove_substrings_driver_regime_equals_distributed(spark, tmp_path,
                                                            monkeypatch):
    """r14: the remove-step driver regime (LocalRelation spans + one Arrow
    text fetch + py_tokens cut) must match the distributed join plan
    row-for-row, including docs with no spans and NULL-text docs."""
    from flouds_vectordb_spark.operators.dedup import (
        exact_substring_spans,
        remove_exact_substrings,
    )

    boiler = " ".join(f"tok{j}" for j in range(25))
    rows = [(i, f"unique head {i} " + (boiler if i % 3 == 0 else
                                       f"own body {i} words here") +
             f" tail {i}") for i in range(30)]
    rows.append((98, None))  # NULL text passes through as NULLs
    rows.append((99, boiler + " " + boiler))  # within-doc repeat
    pq = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "id long, text string").write.parquet(pq)
    df = spark.read.parquet(pq)
    spans = exact_substring_spans(df, k=20)
    drv = sorted(map(tuple, remove_exact_substrings(df, spans).collect()))
    monkeypatch.setattr(regime, "DRIVER_BYTES", -1)
    spans_dist = exact_substring_spans(df, k=20)
    dist = sorted(map(tuple,
                      remove_exact_substrings(df, spans_dist).collect()))
    assert drv == dist and drv
    assert any(r[2] and r[2] > 0 for r in drv)  # something was removed


def test_no_aqe_restores_an_unset_key_as_unset(spark):
    """ADVICE r14: no_aqe restored a previously-unset AQE key as an
    explicit "true"; an unset key must come back unset, a set one with
    its value."""
    from flouds_vectordb_spark.lifecycle import no_aqe

    key = "spark.sql.adaptive.enabled"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        with no_aqe(spark):
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key, None) is None
        spark.conf.set(key, "true")
        with no_aqe(spark):
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key, None) == "true"
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_within_group_pairs_empty_input():
    """ADVICE r14: the shared pair enumerator must accept empty input."""
    import numpy as np

    from flouds_vectordb_spark.operators.dedup import _within_group_pairs

    a, b = _within_group_pairs(np.zeros(0, dtype=np.int64), 0)
    assert a.size == 0 and b.size == 0
    a, b = _within_group_pairs(np.array([3, 3, 5, 5, 5]), 5)
    assert list(zip(a.tolist(), b.tolist())) == [(0, 1), (2, 3), (2, 4), (3, 4)]
