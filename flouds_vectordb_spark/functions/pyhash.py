"""Arrow-batched Python twins of the tokenize -> shingle -> md5 pipeline.

The r13 driver regimes' ONE collect job ran tokenize/shingle/hash64 as
interpreted higher-order Column lambdas (~1 µs/element in the JVM — guide
§4's interpreted-HOF cost) and then paid py4j row pickling to fetch the
hash arrays. This module moves that boundary work to where it is cheap
(guide §4.2/§4.3):

- the hashing runs inside a pandas UDF per batch — hashlib's md5 is native
  C code, and the Python tokenize/shingle loop is ~3x faster than the
  interpreted JVM lambda chain it replaces;
- the fetch goes through ``DataFrame.toArrow()`` (Arrow IPC, columnar) —
  measured 0.84 s -> 0.58 s per minhash-family collect at sf0.1 vs
  ``collect()``'s per-row pickling;
- the driver side receives the list column as ONE flat int64 numpy array
  plus offsets (zero-copy out of Arrow), which is exactly the layout the
  vectorized signature/verify halves consume — no per-element Python int
  conversion.

EXACTNESS (the driver == distributed regime contract): every function
here replicates its Column twin bit-for-bit —
- ``py_tokens`` mirrors ``text.tokenize()`` = ``filter(split(lower(s),
  '\\s+'), w != '')``: Java regex ``\\s`` is the ASCII class
  ``[ \\t\\n\\x0B\\f\\r]`` (NOT Python's Unicode-aware ``\\s``, which
  would also split on NBSP etc.), and ``str.lower()`` matches
  UTF8String.toLowerCase's Unicode default case mapping (pinned on a
  mixed-script corpus by test_pyhash_twins_match_columns);
- ``_md5_64`` mirrors ``hashing.hash64()``: md5 over the UTF-8 bytes,
  first 15 hex chars = first 60 bits of the digest;
- shingle construction mirrors ``hashing.shingles()`` including the
  "non-empty arrays shorter than n yield one whole-text shingle" rule and
  the NULL/zero-token pinning.
"""

from __future__ import annotations

import hashlib
import re
from itertools import chain

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

# java.util.regex \s — the exact class F.split(lower(col), r"\s+") splits
# on (ASCII-only; Python's \s would also match U+00A0, U+2028, ...)
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _md5_64(data: bytes) -> int:
    """First 60 bits of md5 — int(hexdigest[:15], 16) via the raw digest."""
    return int.from_bytes(hashlib.md5(data).digest()[:8], "big") >> 4


def py_tokens(text: str | None) -> list[str] | None:
    """Twin of functions.text.tokenize(): None -> None (split(NULL) is
    NULL), else lowercased non-empty whitespace-separated tokens."""
    if text is None:
        return None
    return [w for w in _JAVA_WS.split(text.lower()) if w]


def py_shingles(toks: list[str], n: int) -> list[str]:
    """Twin of hashing.shingles() over a token list: [] for zero tokens,
    one whole-text shingle for 0 < len < n, else the n-gram windows."""
    if not toks:
        return []
    k = len(toks) - (n - 1)
    if k < 1:
        k = 1
    return [" ".join(toks[i:i + n]) for i in range(k)]


def _hash_all(strs) -> list[int]:
    md5 = hashlib.md5
    return [int.from_bytes(md5(s.encode("utf-8")).digest()[:8], "big") >> 4
            for s in strs]


# pandas_udf objects are cached per parameterization: building one costs a
# py4j registration and each query build would otherwise re-pickle it
_UDF_CACHE: dict[tuple, object] = {}


def _cached(key, builder):
    u = _UDF_CACHE.get(key)
    if u is None:
        u = builder()
        _UDF_CACHE[key] = u
    return u


def _distinct_shingle_hashes(text: str | None, n: int) -> list[int]:
    toks = py_tokens(text)
    return _hash_all(dict.fromkeys(py_shingles(toks, n))) if toks else []


def shingle_hash64_udf(n: int):
    """text -> hash64 of each DISTINCT shingle in first-occurrence order —
    the twin of transform(array_distinct(shingles(tokenize(t), n)),
    hash64). NULL text -> [] (shingles() pins zero-token docs to [])."""
    def build():
        @F.pandas_udf(ArrayType(LongType()))
        def _f(texts: pd.Series) -> pd.Series:
            return pd.Series([_distinct_shingle_hashes(t, n) for t in texts])
        return _f
    return _cached(("shingle", n), build)


def shingle_hits_udf(n: int, keys):
    """text -> the shingle_hash64_udf values that are in `keys` (a sorted
    distinct int64 ndarray, e.g. a held-out set's hashes). Not cached:
    it closes over keys, and PySpark ships a pickled command over 1 MB as
    a broadcast, so a large key set costs one broadcast per query."""
    import numpy as np

    @F.pandas_udf(ArrayType(LongType()))
    def _f(texts: pd.Series) -> pd.Series:
        hs = [_distinct_shingle_hashes(t, n) for t in texts]
        lens = np.fromiter(map(len, hs), np.int64, len(hs))
        flat = np.fromiter(chain.from_iterable(hs), np.int64, int(lens.sum()))
        hit = np.isin(flat, keys)
        out = [[] for _ in hs]
        for d, h in zip(np.repeat(np.arange(len(hs)), lens)[hit].tolist(),
                        flat[hit].tolist()):
            out[d].append(h)
        return pd.Series(out)
    return _f


def sorted_shingle_hash64_udf(n: int):
    """text -> array_sort(array_distinct(transform(shingles(tokenize(t),
    n), hash64))) — dedup._shingle_hashes' twin (distinct over the HASH
    values, ascending). NULL text -> []."""
    def build():
        @F.pandas_udf(ArrayType(LongType()))
        def _f(texts: pd.Series) -> pd.Series:
            out = []
            for t in texts:
                toks = py_tokens(t)
                if not toks:
                    out.append([])
                    continue
                out.append(sorted(set(_hash_all(py_shingles(toks, n)))))
            return pd.Series(out)
        return _f
    return _cached(("sorted_shingle", n), build)


def token_hash64_udf():
    """text -> hash64 per token, duplicates kept — the twin of
    transform(tokenize(t), hash64). NULL text -> NULL (transform(NULL) is
    NULL — dedup_simhash's driver regime keys on that distinction)."""
    def build():
        @F.pandas_udf(ArrayType(LongType()))
        def _f(texts: pd.Series) -> pd.Series:
            out = []
            for t in texts:
                toks = py_tokens(t)
                out.append(None if toks is None else _hash_all(toks))
            return pd.Series(out)
        return _f
    return _cached(("token",), build)


def window_hash64_udf(k: int):
    """text -> hash64 of each k-token window joined by ' ', positioned
    1..len-k+1 — exact_substring_spans' gram twin. NULL or < k tokens
    -> [] (those docs emit no windows)."""
    def build():
        @F.pandas_udf(ArrayType(LongType()))
        def _f(texts: pd.Series) -> pd.Series:
            md5 = hashlib.md5
            out = []
            for t in texts:
                toks = py_tokens(t)
                if not toks or len(toks) < k:
                    out.append([])
                    continue
                out.append([
                    int.from_bytes(
                        md5(" ".join(toks[i:i + k]).encode("utf-8"))
                        .digest()[:8], "big") >> 4
                    for i in range(len(toks) - k + 1)])
            return pd.Series(out)
        return _f
    return _cached(("window", k), build)


def feature_bucket_udf(n_buckets: int, seed: int):
    """text -> pmod(hash64(seed|f), B) per unigram+bigram feature — the
    twin of transform(importance._features(t), pmod(hash64(f, seed), B)).
    NULL text -> NULL (concat(NULL, ...) is NULL); zero tokens -> []."""
    pre = f"{seed}|".encode("utf-8") if seed else b""

    def build():
        @F.pandas_udf(ArrayType(LongType()))
        def _f(texts: pd.Series) -> pd.Series:
            md5 = hashlib.md5
            out = []
            for t in texts:
                toks = py_tokens(t)
                if toks is None:
                    out.append(None)
                    continue
                feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
                out.append([
                    (int.from_bytes(md5(pre + f.encode("utf-8"))
                                    .digest()[:8], "big") >> 4) % n_buckets
                    for f in feats])
            return pd.Series(out)
        return _f
    return _cached(("feature", n_buckets, seed), build)


def _flatten_list_col(col):
    """(values int64 ndarray, offsets int64 ndarray, valid bool ndarray |
    None) from an Arrow list<int64> ChunkedArray. NULL entries contribute
    zero values (their offsets repeat); `valid` is None when no entry is
    NULL. pyarrow.compute handles chunk/slice offsets, so this is safe on
    any layout toArrow produces."""
    import numpy as np
    import pyarrow.compute as pc

    values = pc.list_flatten(col).to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False)
    lengths = pc.list_value_length(col)
    valid = None
    if lengths.null_count:
        valid = pc.is_valid(lengths).to_numpy(zero_copy_only=False)
        lengths = pc.fill_null(lengths, 0)
    ln = lengths.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    offsets = np.concatenate(([0], np.cumsum(ln)))
    return values, offsets, valid


def _to_arrow_no_aqe(df: DataFrame):
    """df.toArrow() with AQE disabled for just this action (see
    lifecycle.no_aqe: the fetch is a fixed tiny repartition + UDF/collect
    pair that AQE can only slow down with a stage-barrier job)."""
    from flouds_vectordb_spark.lifecycle import no_aqe

    with no_aqe(df.sparkSession):
        return df.toArrow()


# task width of the one hashing+fetch job every driver regime runs. The
# md5 shingle pass costs ~0.29 core-s per MB of text: 0.48-0.51 core-s
# for the 5,000-doc (1.72 MB) perfbench curate corpus, 3-grams, one
# core, three runs — ~4.8 core-s at the 16 MB driver bound. 8 tasks
# therefore give each task ~60 ms at curate scale (tasks stay >= 50 ms
# from ~1.4 MB up) and ~0.6 s at the bound, while full
# defaultParallelism width (32) pays more per-task overhead than it
# parallelizes at gate scale (guide §2.6; measured 0.55 s vs 0.58 s at
# sf0.1, and the narrower shuffle is cheaper). Near the bound a wider
# spread may win on a many-core box; that needs an interleaved A/B. The
# spread itself remains a no-op at scale (inputs arrive in >= cores
# splits), and spread_small_input caps at defaultParallelism for
# low-core sessions.
DRIVER_FETCH_SPREAD = 8


def fetch_lists(df: DataFrame, keys, values):
    """The driver regimes' one fetch: spread df to DRIVER_FETCH_SPREAD
    tasks, project the `keys` columns (names) plus `values` (an
    array<bigint> Column, usually one of the UDFs above) and fetch the
    result as Arrow IPC. The spread comes BEFORE the projection so the
    UDF's md5 pass runs at the spread width.

    Returns (*key_lists, values, offsets, valid): one Python list per key
    column, then the flat layout — `values[offsets[i]:offsets[i+1]]` is
    row i's array as one int64 ndarray (zero-copy out of Arrow, so no
    per-element Python int conversion), and `valid` is the bool ndarray
    of non-NULL arrays, or None when no array is NULL."""
    from flouds_vectordb_spark.sources.tables import spread_small_input

    tbl = _to_arrow_no_aqe(
        spread_small_input(df, target=DRIVER_FETCH_SPREAD)
        .select(*keys, values))
    cols = [tbl.column(i).to_pylist() for i in range(len(keys))]
    return (*cols, *_flatten_list_col(tbl.column(len(keys))))
