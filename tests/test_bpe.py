"""BPE training + encoding vs a pure-Python subword-nmt reference."""

from __future__ import annotations

from collections import Counter

import pytest

from flouds_vectordb_spark.operators.bpe import (
    EOW,
    bpe_encode,
    bpe_train,
    bpe_train_df,
)

_DOCS = [(1, "low low low low low"),
         (2, "lower lower widest widest widest"),
         (3, "newest newest newest newest newest newest")]


def _ref_train(docs, n_merges):
    words = Counter(w for _, t in docs for w in t.lower().split())
    vocab = {w: list(w) + [EOW] for w in words}
    merges = []
    for rank in range(1, n_merges + 1):
        pc = Counter()
        for w, c in words.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (l, r), c = sorted(pc.items(),
                           key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        merges.append((rank, l, r, c))
        for w in vocab:
            s, out, i = vocab[w], [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_train_matches_subword_nmt_reference(spark):
    df = spark.createDataFrame(_DOCS, "id bigint, text string")
    got = bpe_train(df, n_merges=8)
    ref, _ = _ref_train(_DOCS, 8)
    assert got == ref
    # partition invariance (deterministic tie-breaks)
    assert bpe_train(df.repartition(5), n_merges=8) == ref


def test_bpe_train_overlapping_pair_is_left_to_right(spark):
    # 'aaaa' -> pairs (a,a)x3 but greedy non-overlap merges 2: 'aa aa </w>'
    df = spark.createDataFrame([(1, "aaaa aaaa aaaa")], "id bigint, text string")
    merges = bpe_train(df, n_merges=2)
    assert merges[0][1:3] == ("a", "a")
    # pair COUNTS are positional (3 per word x 3 words) but the merge
    # APPLICATION is greedy non-overlap: 'aaaa' -> [aa, aa, </w>], so
    # round 2 ties (aa,aa) with (aa,</w>) at count 3 and the lexicographic
    # tie-break picks (aa, '</w>') ('<' sorts before 'a')
    assert merges[0][3] == 9
    assert merges[1][1:3] == ("aa", "</w>")


def test_bpe_encode_greedy_rank_order(spark):
    df = spark.createDataFrame(_DOCS, "id bigint, text string")
    merges = bpe_train(df, n_merges=8)
    _, vocab = _ref_train(_DOCS, 8)
    enc = {r["id"]: r["tokens"]
           for r in bpe_encode(df, merges).collect()}
    for i, text in _DOCS:
        ref_toks = [s for w in text.lower().split() for s in vocab[w]]
        assert enc[i] == ref_toks
    # unseen word: falls back to learned subword pieces / chars
    new = spark.createDataFrame([(9, "lowest")], "id bigint, text string")
    out = bpe_encode(new, merges).collect()[0]["tokens"]
    assert out[0] == "low" and out[-1] == f"est{EOW}"
    # empty / null text
    edge = spark.createDataFrame([(1, ""), (2, None)], "id bigint, text string")
    for r in bpe_encode(edge, merges).collect():
        assert r["tokens"] == []


def test_bpe_exhaustion_and_validation(spark):
    # a corpus that fully merges before n_merges rounds: train stops early
    df = spark.createDataFrame([(1, "ab ab")], "id bigint, text string")
    merges = bpe_train(df, n_merges=50)
    assert 0 < len(merges) < 50
    assert bpe_train_df(df, n_merges=50).count() == len(merges)
    with pytest.raises(ValueError, match="n_merges"):
        bpe_train(df, n_merges=0)
    with pytest.raises(ValueError, match="min_count"):
        bpe_train(df, min_count=0)


def test_bpe_driver_regime_equals_distributed(spark, tmp_path, monkeypatch):
    """r13: the collected incremental merge loop must produce the exact
    merge list (ranks, pairs, counts, tie-breaks) of the distributed
    per-round aggregation."""
    import flouds_vectordb_spark.operators.bpe as bp
    from flouds_vectordb_spark import regime

    rows = [(i, f"low lower lowest newer new wider wide word {i % 5}")
            for i in range(30)]
    rows.append((99, "aaa aaaa aa"))  # lhs == rhs overlap rule
    pq = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "id long, text string").write.parquet(pq)
    df = spark.read.parquet(pq)
    drv = bp.bpe_train(df, n_merges=12)
    monkeypatch.setattr(regime, "DRIVER_BYTES", -1)
    dist = bp.bpe_train(df, n_merges=12)
    assert drv == dist and len(drv) == 12
