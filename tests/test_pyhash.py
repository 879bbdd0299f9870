"""pyhash twins == Column pipeline, bit for bit (the r14 Arrow-batched
hashing that feeds every dedup/DSIR driver regime's one collect job)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flouds_vectordb_spark.functions import pyhash as P
from flouds_vectordb_spark.functions.hashing import hash64, py_hash64, shingles
from flouds_vectordb_spark.functions.text import tokenize


@pytest.fixture(scope="module")
def spark():
    from flouds_vectordb_spark.session import get_spark

    return get_spark("test_pyhash", shuffle_partitions=4)


# the drift surface: Java regex \s is ASCII-only, Python str.lower vs
# UTF8String.toLowerCase, UTF-8 md5 bytes — exercise all of it
_NASTY = [
    (0, "plain ascii words here"),
    (1, "  leading and   trailing  spaces  "),
    (2, "tabs\tand\nnewlines\rand\x0bvtab\x0cformfeed split"),
    (3, "nbsp stays inside one token"),  # Java \s does NOT split NBSP
    (4, "ideographic　space also glued"),
    (5, "MIXED Case And UPPER"),
    (6, "turkish İstanbul DOTTED İ"),
    (7, "greek ΟΔΥΣΣΕΥΣ word ΤΕΛΟΣ"),  # final sigma context rule
    (8, "german STRASSE ß ẞ"),
    (9, "emoji 😀 and 中文字符 mixed in"),
    (10, "combining áccents étoile"),
    (11, "a"),  # single token: whole-text shingle
    (12, "two words"),
    (13, ""),
    (14, None),
    (15, "dup dup dup dup words words"),
    (16, "x " * 200),  # long doc
]

_SCHEMA = "id bigint, text string"


def _col_rows(spark, expr):
    df = spark.createDataFrame(_NASTY, _SCHEMA)
    return {r[0]: (None if r[1] is None else list(r[1]))
            for r in df.select("id", expr.alias("v")).collect()}


def _udf_rows(spark, udf):
    df = spark.createDataFrame(_NASTY, _SCHEMA)
    return {r[0]: (None if r[1] is None else list(r[1]))
            for r in df.select("id", udf(F.col("text")).alias("v")).collect()}


def test_shingle_hash_udf_matches_column(spark):
    for n in (2, 3, 5):
        col = F.transform(
            F.array_distinct(shingles(tokenize(F.col("text")), n=n)),
            lambda s: hash64(s))
        assert _udf_rows(spark, P.shingle_hash64_udf(n)) == \
            _col_rows(spark, col)


def test_sorted_shingle_hash_udf_matches_column(spark):
    col = F.array_sort(F.array_distinct(F.transform(
        shingles(tokenize(F.col("text")), n=3), lambda s: hash64(s))))
    assert _udf_rows(spark, P.sorted_shingle_hash64_udf(3)) == \
        _col_rows(spark, col)


def test_token_hash_udf_matches_column(spark):
    col = F.transform(tokenize(F.col("text")), lambda t: hash64(t))
    got = _udf_rows(spark, P.token_hash64_udf())
    want = _col_rows(spark, col)
    assert got == want
    assert got[14] is None  # NULL text -> NULL array (simhash keys on it)
    assert got[13] == []


def test_window_hash_udf_matches_column(spark):
    k = 3
    toks = tokenize(F.col("text"))
    n = F.size(toks)
    col = F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: hash64(F.array_join(F.slice(toks, i, k), " ")))) \
        .otherwise(F.array().cast("array<bigint>"))
    got = _udf_rows(spark, P.window_hash64_udf(k))
    want = {i: (v if v is not None else []) for i, v in
            _col_rows(spark, col).items()}
    # the Column form yields NULL for NULL text (when(NULL) -> otherwise
    # branch gives []) — pin [] on both sides
    assert got == want


def test_feature_bucket_udf_matches_column(spark):
    from flouds_vectordb_spark.operators.importance import _features

    B, seed = 256, 3
    col = F.transform(_features("text"),
                      lambda f: F.pmod(hash64(f, seed=seed), F.lit(B)))
    assert _udf_rows(spark, P.feature_bucket_udf(B, seed)) == \
        _col_rows(spark, col)


def test_md5_64_matches_py_hash64():
    for s in ("", "a", "hello world", "0|x", "中文", "emoji 😀"):
        assert P._md5_64(s.encode("utf-8")) == py_hash64(s)


def test_fetch_id_lists_flat_layout(spark):
    import numpy as np

    df = spark.createDataFrame(
        [(1, "a", [5, 6]), (2, "b", []), (3, "c", None), (4, "d", [7])],
        "id bigint, tag string, v array<bigint>")
    # the fetch spreads its input, so rows arrive in any order
    ids, tags, values, offsets, valid = P.fetch_lists(
        df, ["id", "tag"], F.col("v"))
    assert dict(zip(ids, tags)) == {1: "a", 2: "b", 3: "c", 4: "d"}
    assert offsets[0] == 0 and offsets[-1] == len(values) == 3
    rows = {i: values[offsets[k]:offsets[k + 1]].tolist()
            for k, i in enumerate(ids)}
    assert rows == {1: [5, 6], 2: [], 3: [], 4: [7]}
    assert valid is not None
    assert dict(zip(ids, valid.tolist())) == {1: True, 2: True, 3: False,
                                              4: True}
    assert values.dtype == np.int64
    # no key columns: the flat layout alone, valid None without NULLs
    values, offsets, valid = P.fetch_lists(df.filter("v IS NOT NULL"), [],
                                           F.col("v"))
    assert sorted(values.tolist()) == [5, 6, 7] and valid is None


# shingle-hash fetch edge cases: NULL, empty and whitespace-only text,
# text shorter than n, mixed scripts, and a lone surrogate (which the
# createDataFrame route hands to the JVM)
_EDGE = [
    (0, None),
    (1, ""),
    (2, " \t\n\x0b "),
    (3, "two words"),
    (4, "emoji 😀 中文字符 ΟΔΥΣΣΕΥΣ İstanbul STRASSE mixed"),
    (5, "lone \ud800 surrogate inside a longer text"),
    (6, "plain words long enough for several shingles here"),
]


@pytest.fixture(scope="module")
def edge_frames(spark, tmp_path_factory):
    """The _EDGE rows as a LogicalRDD, a LocalRelation and a parquet scan.
    The last two are built from the rows the JVM holds after the
    createDataFrame route."""
    from flouds_vectordb_spark import regime
    from flouds_vectordb_spark.functions.local import local_df

    rdd = spark.createDataFrame(_EDGE, _SCHEMA)
    pq = str(tmp_path_factory.mktemp("edge") / "edge.parquet")
    rdd.write.parquet(pq)
    local = local_df(spark, [tuple(r) for r in rdd.collect()], _SCHEMA)
    assert regime.is_local_relation(local)
    return {"logical_rdd": rdd, "local_relation": local,
            "parquet": spark.read.parquet(pq)}


@pytest.mark.parametrize("kind", ["logical_rdd", "local_relation", "parquet"])
@pytest.mark.parametrize("n", [3, 5])
def test_fetch_shingle_hashes_matches_column(edge_frames, kind, n):
    import numpy as np

    df = edge_frames[kind]
    col = F.transform(F.array_distinct(shingles(tokenize(F.col("text")), n=n)),
                      lambda s: hash64(s))
    want = {r[0]: list(r[1]) for r in
            df.select("id", col.alias("v")).collect()}
    udf = P.shingle_hash64_udf(n)(F.col("text"))
    ids, values, offsets, _ = P.fetch_lists(df, ["id"], udf)
    got = {i: values[offsets[k]:offsets[k + 1]].tolist()
           for k, i in enumerate(ids)}
    assert got == want
    assert got[0] == got[1] == got[2] == [] and len(got[3]) == 1
    held = np.unique(P.fetch_lists(df, [], udf)[0])
    assert held.dtype == np.int64
    assert held.tolist() == sorted({h for v in want.values() for h in v})


def _udf_rows_of(df, udf):
    return {r[0]: list(r[1]) for r in
            df.select("id", udf(F.col("text")).alias("v")).collect()}


def test_shingle_hits_udf_keeps_only_held_out_hashes(edge_frames):
    import numpy as np

    df = edge_frames["logical_rdd"]
    full = _udf_rows_of(df, P.shingle_hash64_udf(3))
    keys = np.unique([v[0] for v in full.values() if v] + [7, 11])
    got = _udf_rows_of(df, P.shingle_hits_udf(3, keys))
    assert got == {i: [h for h in v if h in set(keys.tolist())]
                   for i, v in full.items()}
    assert _udf_rows_of(df, P.shingle_hits_udf(3, keys[:0])) == \
        {i: [] for i in full}

