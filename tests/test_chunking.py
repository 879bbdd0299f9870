"""Document chunking + sequence packing: window arithmetic, overlap,
tails, packing tiling invariants, edge cases."""

from __future__ import annotations

import pytest

from flouds_vectordb_spark.operators.chunking import (
    chunk_documents,
    pack_sequences,
)


def _chunks(spark, text, max_tokens, overlap):
    df = spark.createDataFrame([(1, text)], "id long, text string")
    rows = chunk_documents(df, max_tokens, overlap).collect()
    return [(r["chunk_idx"], r["chunk"], r["n_tokens"])
            for r in sorted(rows, key=lambda r: r["chunk_idx"])]


def test_chunk_windows_overlap_and_tail(spark):
    text = " ".join(f"w{i}" for i in range(10))
    got = _chunks(spark, text, max_tokens=4, overlap=2)
    # stride 2: windows start at tokens 0,2,4,6 — the last covers w6..w9
    assert got == [
        (0, "w0 w1 w2 w3", 4),
        (1, "w2 w3 w4 w5", 4),
        (2, "w4 w5 w6 w7", 4),
        (3, "w6 w7 w8 w9", 4),
    ]
    # every token appears in >= 1 chunk
    covered = {t for _, c, _ in got for t in c.split()}
    assert covered == set(text.split())


def test_chunk_short_doc_is_one_chunk(spark):
    got = _chunks(spark, "only three words", max_tokens=128, overlap=32)
    assert got == [(0, "only three words", 3)]


def test_chunk_tail_shorter_never_empty(spark):
    text = " ".join(f"w{i}" for i in range(7))
    got = _chunks(spark, text, max_tokens=4, overlap=1)
    # stride 3: starts 0,3 cover w0..w6? start 3 covers w3..w6 — yes, 2 chunks
    assert [g[0] for g in got] == [0, 1]
    assert got[-1][2] == 4 and got[-1][1].endswith("w6")
    got2 = _chunks(spark, " ".join(f"w{i}" for i in range(9)),
                   max_tokens=4, overlap=1)
    # starts 0,3,6: tail chunk w6 w7 w8 has 3 tokens (shorter, never empty)
    assert got2[-1] == (2, "w6 w7 w8", 3)


def test_chunk_empty_and_whitespace_docs_yield_nothing(spark):
    df = spark.createDataFrame([(1, ""), (2, "   "), (3, "real text")],
                               "id long, text string")
    rows = chunk_documents(df, 8, 2).collect()
    assert {r["id"] for r in rows} == {3}


def test_chunk_validation(spark):
    df = spark.createDataFrame([(1, "x")], "id long, text string")
    with pytest.raises(ValueError, match="max_tokens"):
        chunk_documents(df, 0, 0)
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, 4, 4)


# --- pack_sequences ---------------------------------------------------------------

def _mk_corpus(spark, sizes):
    rows = [(i, " ".join(f"t{i}_{j}" for j in range(n)))
            for i, n in enumerate(sizes)]
    return spark.createDataFrame(rows, "id long, text string")


def test_pack_tiles_documents_exactly(spark):
    sizes = [5, 17, 1, 64, 3, 130, 0, 9]
    out = pack_sequences(_mk_corpus(spark, sizes), seq_len=32).collect()
    # per document: spans tile [0, n_tokens) exactly, in doc_offset order
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append((r["doc_offset"], r["n_taken"]))
    assert 6 not in by_doc  # zero-token doc packs nothing
    for i, n in enumerate(sizes):
        if n == 0:
            continue
        spans = sorted(by_doc[i])
        assert spans[0][0] == 0
        pos = 0
        for off, take in spans:
            assert off == pos and take >= 1
            pos += take
        assert pos == n


def test_pack_full_sequences_and_tail(spark):
    sizes = [5, 17, 1, 64, 3, 130, 9]
    total = sum(sizes)
    out = pack_sequences(_mk_corpus(spark, sizes), seq_len=32).collect()
    per_seq: dict = {}
    for r in out:
        per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["n_taken"]
        assert 0 <= r["seq_offset"] < 32
    assert sorted(per_seq) == list(range(len(per_seq)))  # contiguous ids
    *full, tail = [per_seq[s] for s in sorted(per_seq)]
    assert all(v == 32 for v in full)
    assert tail == total % 32 or (tail == 32 and total % 32 == 0)


def test_pack_drop_tail_and_determinism(spark):
    df = _mk_corpus(spark, [5, 17, 1, 64, 3, 130, 9])
    kept = pack_sequences(df, seq_len=32, drop_tail=True)
    n_full = sum([5, 17, 1, 64, 3, 130, 9]) // 32
    per_seq = {r["seq_id"] for r in kept.collect()}
    assert per_seq == set(range(n_full))
    # repartitioning must not change the packing (content-hash order)
    a = sorted(map(tuple, pack_sequences(df, seq_len=32).collect()))
    b = sorted(map(tuple,
                   pack_sequences(df.repartition(7), seq_len=32).collect()))
    assert a == b


def test_pack_seed_changes_order_not_coverage(spark):
    df = _mk_corpus(spark, [5, 17, 8, 3])
    a = pack_sequences(df, seq_len=16, seed=0).collect()
    b = pack_sequences(df, seq_len=16, seed=1).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, b))
    for rows in (a, b):
        assert sum(r["n_taken"] for r in rows) == 33


def test_pack_drop_tail_edge_cases(spark):
    # exact multiple: nothing to drop, all sequences survive
    df = _mk_corpus(spark, [16, 16])
    full = pack_sequences(df, seq_len=16, drop_tail=True).collect()
    assert {r["seq_id"] for r in full} == {0, 1}
    assert sum(r["n_taken"] for r in full) == 32
    # corpus smaller than one sequence: drop_tail drops everything
    tiny = pack_sequences(_mk_corpus(spark, [3, 4]), seq_len=16,
                          drop_tail=True)
    assert tiny.count() == 0


def test_pack_validation_and_empty(spark):
    df = _mk_corpus(spark, [3])
    with pytest.raises(ValueError, match="seq_len"):
        pack_sequences(df, seq_len=0)
    empty = pack_sequences(_mk_corpus(spark, [0, 0]), seq_len=8)
    assert empty.count() == 0
    assert [f[0] for f in empty.dtypes] == [
        "seq_id", "id", "seq_offset", "doc_offset", "n_taken"]


def test_pack_sequences_regimes_identical(spark, monkeypatch):
    """r13: the small-corpus single-window regime must be bit-identical
    to the two-phase bucket plan — drop_tail both ways, plus an
    exact-multiple corpus (the drop_tail no-op edge)."""
    from flouds_vectordb_spark import regime

    for sizes in ([5, 17, 1, 64, 3, 130, 0, 9], [16, 16]):
        df = _mk_corpus(spark, sizes)
        for drop_tail in (False, True):
            want = sorted(map(tuple, pack_sequences(
                df, seq_len=32, seed=5, drop_tail=drop_tail).collect()))
            monkeypatch.setattr(regime, "fits", lambda _df, _bound: True)
            got = sorted(map(tuple, pack_sequences(
                df, seq_len=32, seed=5, drop_tail=drop_tail).collect()))
            monkeypatch.undo()
            assert got == want, (sizes, drop_tail)
