"""Document chunking and training-sequence packing.

Two sibling ingest-side stages:

1. `chunk_documents` — the stage between raw documents and the vector
   store's `chunk` unit (the reference embeds CHUNKS, not documents —
   every insert payload in its examples is a chunk): split each document
   into max_tokens-token windows advancing by (max_tokens - overlap), so
   consecutive chunks share `overlap` tokens of context — the standard
   RAG/retrieval chunking contract.

2. `pack_sequences` — the pretraining-side dual: concatenate the whole
   corpus token stream in a deterministic order and chop it into
   fixed-length training sequences (the GPT-2 / LLaMA "packing" step), so
   every training example is exactly seq_len tokens with documents
   crossing sequence boundaries. Emits the (sequence, document, span)
   assignment map rather than materialized token arrays — the map is what
   a tokenizer-sharding job consumes, and it keeps the operator
   payload-free (scalars only ever shuffle).

Semantics (deterministic, engine-portable):
- tokens are the pipeline-wide whitespace tokenization (functions/text),
  chunks re-join with single spaces (the token stream, as span removal
  already normalizes);
- a document with n <= max_tokens tokens yields exactly one chunk (the
  whole document); empty/whitespace documents yield NO chunks;
- the last window starts at the last stride boundary that still covers
  new tokens, so every token belongs to >= 1 chunk and the tail chunk may
  be shorter than max_tokens (never empty).

Scale shape: one stateless projection + one explode — no shuffle at all;
chunk rows inherit the scan's partitioning. The explode multiplies rows
by ~n/stride, the honest and unavoidable output volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flouds_vectordb_spark import regime
from flouds_vectordb_spark.functions.hashing import (
    RANGE_BUCKET_W as _BUCKET_W,
    RANGE_BUCKETS as _NB,
    hash64,
    hash64_sql,
)
from flouds_vectordb_spark.functions.text import tokenize, tokenize_sql


def _validate(max_tokens: int, overlap: int) -> int:
    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    if not (0 <= overlap < max_tokens):
        raise ValueError("overlap must satisfy 0 <= overlap < max_tokens")
    return max_tokens - overlap


def chunk_documents(df: DataFrame, max_tokens: int = 128, overlap: int = 32,
                    id_col: str = "id", text_col: str = "text") -> DataFrame:
    """(id, chunk_idx, chunk, n_tokens): overlapping token-window chunks,
    chunk_idx 0-based in document order."""
    stride = _validate(max_tokens, overlap)
    toks = tokenize(F.col(text_col))
    d = df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
    n = F.size("_toks")
    # windows = 1 + ceil((n - max_tokens) / stride) for n > max_tokens
    extra = F.greatest(n - F.lit(max_tokens), F.lit(0))
    k = F.lit(1) + F.ceil(extra.cast("double") / F.lit(stride)).cast("int")
    idx = F.when(n > 0, F.sequence(F.lit(0), k - 1)) \
        .otherwise(F.array().cast("array<int>"))
    exploded = d.select("id", "_toks", F.explode(idx).alias("chunk_idx"))
    window = F.slice(F.col("_toks"),
                     F.col("chunk_idx") * F.lit(stride) + 1, max_tokens)
    return exploded.select(
        "id", "chunk_idx",
        F.array_join(window, " ").alias("chunk"),
        F.size(window).alias("n_tokens"),
    )


def chunk_documents_sql(table_sql: str, max_tokens: int = 128,
                        overlap: int = 32, id_expr: str = "id",
                        text_expr: str = "text") -> str:
    """DuckDB oracle twin: same tokenization, same window arithmetic
    (DuckDB list_slice(l, a, b) is INCLUSIVE-bounds 1-based where Spark
    slice(l, start, length) takes a length — bounds converted here)."""
    stride = _validate(max_tokens, overlap)
    tok = tokenize_sql(text_expr)
    return f"""
WITH _docs AS (
  SELECT {id_expr} AS id, {tok} AS _toks FROM {table_sql}
),
_exp AS (
  SELECT id, _toks,
         unnest(generate_series(0,
             CASE WHEN len(_toks) > {max_tokens}
                  THEN ceil((len(_toks) - {max_tokens})::DOUBLE / {stride})::INT
                  ELSE 0 END)) AS chunk_idx
  FROM _docs WHERE len(_toks) > 0
)
SELECT id, chunk_idx,
       array_to_string(list_slice(_toks, chunk_idx * {stride} + 1,
                                  chunk_idx * {stride} + {max_tokens}), ' ') AS chunk,
       len(list_slice(_toks, chunk_idx * {stride} + 1,
                      chunk_idx * {stride} + {max_tokens})) AS n_tokens
FROM _exp
"""


# --- training-sequence packing (r8) ----------------------------------------------

def pack_sequences(df: DataFrame, seq_len: int = 2048, id_col: str = "id",
                   text_col: str = "text", seed: int = 0,
                   drop_tail: bool = False) -> DataFrame:
    """(seq_id, id, seq_offset, doc_offset, n_taken): GPT-style sequence
    packing. Documents are concatenated in deterministic (hash64(seed|key),
    key) order — the same content-derived shuffle order the sampling ops
    use, so the packing is a pure function of the data, reproducible
    across partitioning, cluster size, and engine — and the resulting
    token stream is chopped every seq_len tokens. A document spanning a
    boundary contributes one output row per sequence it touches:
    seq_offset = where its span starts inside the sequence, doc_offset =
    where the span starts inside the document, n_taken = span length.
    Zero-token documents pack nothing and emit no rows. With drop_tail,
    the final partial sequence (< seq_len tokens) is dropped — the "every
    training example is exactly seq_len" contract.

    Invariants (tested): sum(n_taken) per full sequence == seq_len; per
    document, spans tile [0, n_tokens) exactly; seq_offsets within a
    sequence are disjoint and gap-free.

    Scale shape (100 TB): the naive formulation is ONE running-sum window
    over the whole corpus — a single partition, the worst skew possible.
    Instead the same two-phase plan sample_token_budget uses: (1) one
    scalar projection (key, hash, n_tokens) range-buckets the hash space
    into _NB contiguous ranges and aggregates one token sum per bucket —
    map-side combinable, _NB rows to the driver; (2) the driver
    prefix-sums bucket totals in hash order into per-bucket base offsets
    (a broadcast-joined literal table); (3) each row's global start offset
    is its bucket base + an intra-bucket running sum — a window keyed by
    bucket, ~1/_NB of the corpus per partition. Span math is then a
    stateless projection + one bounded explode (a doc touches
    ceil(n/seq_len)+1 sequences at most). Bit-identical to the
    single-window definition the DuckDB twin uses.

    Small-corpus regime (r13, VERDICT ask #5): within the leaf-bytes bar
    (regime.fits(df, regime.SMALL_BYTES)) the two-phase plan's
    bucket-sums collect is a whole extra action — a full tokenize scan +
    groupBy + driver round trip — paid before the real job even starts.
    There the operator runs the oracle's own single-window formulation
    directly (one unpartitioned running-sum window — single partition by
    construction, exactly the deliberate small-regime pattern
    sparse_search documents), and the drop_tail total rides along as one
    more unbounded window instead of a driver scalar. Bit-identical:
    bucket-base + intra-bucket sum IS the global (hash, id)-ordered
    integer prefix sum, buckets being contiguous hash ranges (pinned by
    test_pack_sequences_regimes_identical); leaf-bytes falls back to the
    distributed two-phase shape at scale."""
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    from flouds_vectordb_spark.functions.local import local_df

    spark = df.sparkSession
    h = hash64(F.col(id_col).cast("string"), seed=seed)
    work = (
        df.select(F.col(id_col).alias("id"), h.alias("_h"),
                  F.size(tokenize(F.col(text_col))).alias("_nt"))
        .filter(F.col("_nt") > 0)
    )
    if regime.fits(df, regime.SMALL_BYTES):
        w = (Window.orderBy(F.col("_h").asc(), F.col("id").asc())
             .rowsBetween(Window.unboundedPreceding, -1))
        offs = (
            work.withColumn("_start",
                            F.coalesce(F.sum("_nt").over(w), F.lit(0)))
            .withColumn("_end", F.col("_start") + F.col("_nt"))
        )
        total_col = None
        if drop_tail:
            total_col = F.sum("_nt").over(Window.partitionBy())
        return _pack_spans(offs, seq_len, total_col)

    work = work.withColumn("_bk", F.floor(F.col("_h") / F.lit(_BUCKET_W)))
    sums = sorted(
        (int(r["_bk"]), int(r["_ts"]))
        for r in work.groupBy("_bk").agg(F.sum("_nt").alias("_ts")).collect())
    if not sums:
        return spark.createDataFrame(
            [], "seq_id bigint, id " + dict(df.dtypes)[id_col]
            + ", seq_offset int, doc_offset int, n_taken int")
    bases, cum = [], 0
    for bk, ts in sums:
        bases.append((bk, cum))
        cum += ts
    total = cum
    base = F.broadcast(local_df(spark, bases, "_bk bigint, _base bigint"))
    w = (Window.partitionBy("_bk").orderBy(F.col("_h").asc(), F.col("id").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    offs = (
        work.join(base, "_bk")
        .withColumn("_start",
                    F.col("_base") + F.coalesce(F.sum("_nt").over(w), F.lit(0)))
        .withColumn("_end", F.col("_start") + F.col("_nt"))
    )
    total_col = (F.lit(total) if drop_tail and total % seq_len != 0 else None)
    return _pack_spans(offs, seq_len, total_col)


def _pack_spans(offs: DataFrame, seq_len: int, total_col) -> DataFrame:
    """Shared span tail of both pack_sequences regimes: the bounded
    explode over touched sequences + the span projection. total_col (the
    corpus token total — a literal in the two-phase regime, an unbounded
    window in the small regime) enables the drop_tail cut, expressed as
    a predicate (`total % seq_len == 0 OR seq_id < total // seq_len`) so
    the windowed form needs no driver scalar."""
    carry = ["id", "_start", "_end"]
    if total_col is not None:
        offs = offs.withColumn("_tot", total_col)
        carry.append("_tot")
    spans = offs.select(
        *carry,
        F.explode(F.sequence(
            F.floor(F.col("_start") / F.lit(seq_len)),
            F.floor((F.col("_end") - 1) / F.lit(seq_len)))).alias("seq_id"))
    lo = F.greatest(F.col("_start"), F.col("seq_id") * F.lit(seq_len))
    hi = F.least(F.col("_end"), (F.col("seq_id") + 1) * F.lit(seq_len))
    out = spans.select(
        "seq_id", "id",
        (lo - F.col("seq_id") * F.lit(seq_len)).cast("int").alias("seq_offset"),
        (lo - F.col("_start")).cast("int").alias("doc_offset"),
        (hi - lo).cast("int").alias("n_taken"),
        *([F.col("_tot")] if total_col is not None else []),
    )
    if total_col is not None:
        # integer DIV, not floor(double /): exact at any corpus size
        out = out.filter(
            (F.col("_tot") % F.lit(seq_len) == 0)
            | (F.col("seq_id") < F.expr(f"_tot DIV {int(seq_len)}"))
        ).drop("_tot")
    return out


def pack_sequences_sql(table_sql: str, seq_len: int = 2048,
                       id_expr: str = "id", text_expr: str = "text",
                       seed: int = 0, drop_tail: bool = False) -> str:
    """DuckDB oracle twin: the single-window formulation — one running sum
    over (hash, key) order gives each document its global start offset;
    the two-phase Spark plan is an execution strategy, not a semantics
    change, so results must hash-match exactly."""
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    h = hash64_sql(f"({id_expr})::VARCHAR", seed=seed)
    tok = f"len({tokenize_sql(text_expr)})"
    tail = (f"WHERE seq_id < (SELECT sum(_nt)::BIGINT // {seq_len} FROM _docs)"
            if drop_tail else "")
    return f"""
WITH _docs AS (
  SELECT {id_expr} AS id, {h} AS _h, {tok} AS _nt FROM {table_sql}
  WHERE {tok} > 0
),
_off AS (
  -- sum(BIGINT) is HUGEINT in DuckDB; BIGINT keeps later // arithmetic
  -- (and generate_series) in the engines' shared integer type
  SELECT id, _nt,
         coalesce(sum(_nt) OVER (ORDER BY _h ASC, id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS _start
  FROM _docs
),
_spans AS (
  SELECT id, _start, _start + _nt AS _end,
         unnest(generate_series(_start // {seq_len},
                                (_start + _nt - 1) // {seq_len})) AS seq_id
  FROM _off
)
SELECT seq_id, id,
       (greatest(_start, seq_id * {seq_len}) - seq_id * {seq_len})::INT
         AS seq_offset,
       (greatest(_start, seq_id * {seq_len}) - _start)::INT AS doc_offset,
       (least(_end, (seq_id + 1) * {seq_len})
         - greatest(_start, seq_id * {seq_len}))::INT AS n_taken
FROM _spans
{tail}
"""
