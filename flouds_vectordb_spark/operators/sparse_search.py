"""Sparse BM25 search (Q3) + ingest-side BM25 document encoding (I1).

Reference behavior reproduced (citations into /root/reference):
- I1: on upsert the reference encodes chunks to sparse BM25 vectors via
  pymilvus's BM25EmbeddingFunction (app/milvus/vector_store.py:164-191),
  converted COO -> {col: weight} dicts (:148-162). Its corpus stats are
  fit-on-first-batch (process-local, ingest-order-biased, :180-182); ours
  are corpus-level and deterministic — a documented improvement
  (SURVEY.md §4.3.7): correctness tests assert ranking behavior, not
  weight equality with pymilvus.
- Q3: sparse search runs metric IP over the sparse vectors
  (vector_store.py:629-659); the query is encoded from `text_filter`
  (:672-692). score(q, d) = Σ_t q_tf(t) · w(d, t).
- Index params: SPARSE_INVERTED_INDEX with drop_ratio_build pruning
  (base_milvus.py:1286-1310): the smallest `drop_ratio_build` fraction of
  posting weights is dropped at build time.

BM25 model (k1=1.5, b=0.75 — pymilvus defaults):
  idf(t)    = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
  w(d, t)   = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  q_tf(t)   = term count in the tokenized query
Tokenization is the engine-wide lowercase-whitespace split (the reference
delegates to pymilvus's analyzer; divergence documented). Stop words are
KEPT — BM25's idf already downweights them.

Spark-first design (100 TB):
- The BUILD is the classic inverted-index job: explode -> tf per (doc,
  term) -> df per term -> weight; one shuffle on term for the df join. The
  posting-list table is the index; at scale it is written bucketed by term
  so query-time term lookups are pruned scans.
- The SEARCH never explodes the corpus: query terms are a driver-side
  constant (tiny), so matching postings are a pushed-down `term IN (...)`
  filter; scoring aggregates per-doc with ONE sum per query term (each
  summing at most one posting), then a fixed-order weighted add — fully
  deterministic float math, identical in DuckDB (oracle parity).
- Shuffle budget per query: one hash aggregation over the matched postings
  (a tiny fraction of the corpus), then a TakeOrderedAndProject k-cut.

Every builder has a *_sql twin emitting the equivalent DuckDB query.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flouds_vectordb_spark import regime
from flouds_vectordb_spark.functions.text import tokenize
from flouds_vectordb_spark.lifecycle import tracked_persist as _tracked_persist

MAX_LIMIT = 100  # reference vector_store.py:457
RANK_DECIMALS = 6

K1_DEFAULT = 1.5
B_DEFAULT = 0.75

@dataclass
class SparseSearchRequest:
    """The sparse-search surface: text_filter is the query
    (vector_store.py:629-692), limit/offset/round_decimal as dense."""

    query_text: str
    limit: int = 10
    offset: int = 0
    round_decimal: int = -1
    k1: float = K1_DEFAULT
    b: float = B_DEFAULT
    drop_ratio_build: float = 0.0

    @property
    def effective_limit(self) -> int:
        return min(self.limit, MAX_LIMIT)

    def query_term_counts(self) -> list[tuple[str, int]]:
        """Tokenized query term -> count, sorted by term for a deterministic
        fixed-order score summation in BOTH engines."""
        counts: dict[str, int] = {}
        for w in self.query_text.lower().split():
            if w:
                counts[w] = counts.get(w, 0) + 1
        return sorted(counts.items())


# --- I1: index build ---------------------------------------------------------

def bm25_postings(
    df: DataFrame,
    id_col: str = "id",
    chunk_col: str = "chunk",
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    drop_ratio_build: float = 0.0,
) -> DataFrame:
    """Posting-list table (id, term, tf, dl, df, weight) — the Spark analogue
    of Milvus's SPARSE_INVERTED_INDEX build. At scale, write this bucketed by
    term (SURVEY.md §4.1). The build IS the incremental path run once:
    immutable tf rows + term stats + weight derivation (bm25_tf /
    bm25_term_stats / bm25_weights below), so a full rebuild and a
    merge-of-batches are the same code — they cannot drift."""
    tf = bm25_tf(df, id_col, chunk_col)
    # df(t) folded in as a window count over the term partitioning (r11):
    # one exchange of the tf table on term, vs the groupBy(term) + join
    # pair (two boundaries, and the join shuffles tf on term anyway at
    # scale — vocab is too wide to broadcast). Same long count, same
    # weights bit-for-bit. A query-time `term IN (...)` prune pushes
    # through the window (predicate on the partition spec) and per-term
    # df counts are unaffected by dropping OTHER terms' rows.
    # (r12 note: folding the doc stats into this lineage as a window
    # over () was tried and LOSES — it drags the run-length entry arrays
    # through a single-partition exchange, vs the stats branch's partial
    # agg that moves two longs. The separate broadcast stats scan stays.)
    tfd = tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
    stats = bm25_doc_stats_df(df, id_col, chunk_col)
    post = bm25_weights_stats_df(tfd, None, stats, k1, b)

    if drop_ratio_build > 0.0:
        # Milvus drop_ratio_build: drop the smallest fraction of weights
        # at build (base_milvus.py:1286-1310), exact global rank over
        # (weight, term, id). TWO regimes on the input size
        # (regime.SMALL_BYTES):
        # SMALL: one single-partition window — fully LAZY (no persist, no
        # driver action), identical rank, bounded by the regime check.
        # floor(count*ratio) over a window matches the driver-side
        # int(total*ratio) and the SQL twin's floor(...) (positive
        # doubles).
        if regime.fits(df, regime.SMALL_BYTES):
            order = [F.col("weight").asc(), F.col("term").asc(),
                     F.col("id").asc()]
            w_all = Window.orderBy(*order)
            cut_c = F.floor(
                F.count("*").over(Window.partitionBy())
                * F.lit(float(drop_ratio_build))).cast("bigint")
            return (post.withColumn("_rn", F.row_number().over(w_all))
                    .withColumn("_cut", cut_c)
                    .filter(F.col("_rn") > F.col("_cut"))
                    .drop("_rn", "_cut"))
        # LARGE: range-partition on the sort key, count rows per
        # partition, broadcast the cumulative offsets, rank within
        # partitions — the distributed exact-rank pattern, parallel at
        # any scale. Tie handling matches the SQL twin's row_number
        # ORDER BY weight, term, id.
        # persist BEFORE the range partitioner (r11): its sampling pass
        # and the ranked read each materialize the posting pipeline —
        # unpersisted, the explode/agg chain ran three times per build.
        # The global total comes from the per-partition sizes (one
        # collect), not a separate count() action.
        post = _tracked_persist(post)
        order = [F.col("weight").asc(), F.col("term").asc(), F.col("id").asc()]
        ranged = post.repartitionByRange(max(post.sparkSession.sparkContext.defaultParallelism, 1), *order)
        # persist: the offsets below are valid only for THIS materialization's
        # partition boundaries (range sampling), so the final plan must read
        # the same partitions, not re-shuffle
        ranged = _tracked_persist(
            ranged.withColumn("_pid", F.spark_partition_id()))
        sizes = {r["_pid"]: r["n"] for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
        cut = int(sum(sizes.values()) * drop_ratio_build)
        offsets, acc = {}, 0
        for pid in sorted(sizes):
            offsets[pid] = acc
            acc += sizes[pid]
        off = F.create_map(*[x for pid in sorted(sizes)
                             for x in (F.lit(pid), F.lit(offsets[pid]))])
        w = Window.partitionBy("_pid").orderBy(*order)
        post = (
            ranged.withColumn("_rn", F.row_number().over(w) + off[F.col("_pid")])
            .filter(F.col("_rn") > cut)
            .drop("_rn", "_pid")
        )
    return post


# --- incremental index maintenance (SURVEY "hard parts" #3) ------------------
#
# BM25 weights depend on GLOBAL stats (idf, avgdl): any ingest changes every
# stored weight. The scale answer (Lucene/ES model) is to store only the
# IMMUTABLE per-document facts (tf, dl) in the index and keep the global
# stats additively mergeable — weights are derived from current stats, so an
# ingest is O(batch): append tf rows, merge term dfs, bump two counters.
# Nothing previously written is rewritten.

def bm25_tf(df: DataFrame, id_col: str = "id", chunk_col: str = "chunk") -> DataFrame:
    """Immutable per-batch index rows (id, term, tf, dl) — append-only.

    Two regimes, identical row set (same integer tf per (id, term)):

    SMALL (leaf bytes under the regime bound): tf is a WITHIN-document
    count, so it needs no shuffle — a map-side run-length fold over
    array_sort(tokens) (one aggregate() whose struct accumulator closes
    a (term, tf) entry when the next distinct term arrives) and an
    explode of the pre-counted entries. Kills the groupBy exchange AND
    its two AQE stage-jobs — the dominant cost at gate scale (measured:
    q3_sparse_bm25 0.52 s vs 0.7+ with the shuffle).

    LARGE: explode + groupBy(id, dl, term) — whole-stage-codegen count
    with map-side partial aggregation. The fold form LOSES here despite
    shuffling more: HOF aggregate() runs interpreted, measured 4.2 s vs
    2.2 s at x100 (500k docs) and ~2x on the x1000 hybrid build — the
    repo-wide interpreted-HOF gotcha (see memory: a staged .select does
    not protect you either). Shuffle -38% was real (850 vs 1363 MB) but
    CPU dominated.
    (No small-input rebalance here: tokenize is cheap enough that the
    extra shuffle LOSES — measured 0.9 s -> 1.5 s at sf0.1.)"""
    if regime.fits(df, regime.SMALL_BYTES):
        return _explode_tf_docs(_tf_docs(df, id_col, chunk_col))
    docs = (
        df.select(F.col(id_col).alias("id"),
                  tokenize(F.col(chunk_col)).alias("terms"))
        .withColumn("dl", F.size("terms"))
    )
    return (
        docs.select("id", "dl", F.explode("terms").alias("term"))
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )


def _tf_docs(df: DataFrame, id_col: str = "id",
             chunk_col: str = "chunk") -> DataFrame:
    """Doc-level (id, dl, _es) projection feeding bm25_tf — _es is the
    run-length (term, tf) entry array (see bm25_tf docstring). Exposed
    separately so bm25_postings' small-corpus path can attach doc-stats
    window columns BEFORE the explode (doc counts need the doc-level
    rows: zero-token docs vanish from the exploded table)."""
    toks = tokenize(F.col(chunk_col))
    acc0 = F.struct(
        F.array().cast("array<struct<term:string,tf:bigint>>").alias("es"),
        F.lit(None).cast("string").alias("p"),
        F.lit(0).cast("bigint").alias("c"))

    def _entry(term, cnt):
        return F.struct(term.alias("term"), cnt.alias("tf"))

    def _merge(acc, t):
        return (
            F.when(acc["c"] == 0,
                   F.struct(acc["es"].alias("es"), t.alias("p"),
                            F.lit(1).cast("bigint").alias("c")))
            .when(acc["p"] == t,
                  F.struct(acc["es"].alias("es"), acc["p"].alias("p"),
                           (acc["c"] + 1).alias("c")))
            .otherwise(F.struct(
                F.concat(acc["es"],
                         F.array(_entry(acc["p"], acc["c"]))).alias("es"),
                t.alias("p"), F.lit(1).cast("bigint").alias("c"))))

    def _finish(acc):
        return F.when(acc["c"] == 0, acc["es"]).otherwise(
            F.concat(acc["es"], F.array(_entry(acc["p"], acc["c"]))))

    return df.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("dl"),
        F.aggregate(F.array_sort(toks), acc0, _merge, _finish).alias("_es"))


def _explode_tf_docs(docs: DataFrame) -> DataFrame:
    """(id, dl, _es[, extra cols]) -> one row per (id, term) with tf;
    zero-token docs (empty _es) drop out, matching the old groupBy form."""
    extra = [c for c in docs.columns if c not in ("id", "dl", "_es")]
    return (
        docs.select("id", "dl", *extra, F.explode_outer("_es").alias("_e"))
        .filter(F.col("_e").isNotNull())
        .select("id", "dl", F.col("_e.term").alias("term"),
                F.col("_e.tf").alias("tf"), *extra)
    )


def bm25_doc_stats(df: DataFrame, id_col: str = "id",
                   chunk_col: str = "chunk") -> tuple[int, int]:
    """(n_docs, sum_dl) for a batch — includes empty documents, which the
    exploded tf table cannot see."""
    row = (
        df.select(tokenize(F.col(chunk_col)).alias("terms"))
        .agg(F.count("*").alias("n"), F.coalesce(F.sum(F.size("terms")), F.lit(0)).alias("s"))
        .first()
    )
    return int(row["n"]), int(row["s"])


def bm25_doc_stats_df(df: DataFrame, id_col: str = "id",
                      chunk_col: str = "chunk") -> DataFrame:
    """1-row (_bm25_n, _bm25_s) DataFrame — the DAG-resident form of
    bm25_doc_stats. Broadcasting this into the weight derivation (see
    bm25_weights_stats_df) folds the stats scan into the consumer's single
    action; the .first() form cost its own driver action — 3 AQE stage
    jobs plus a full extra corpus scan per query at gate scale (measured
    r11 on q4_hybrid_search_many)."""
    return (
        df.select(tokenize(F.col(chunk_col)).alias("terms"))
        .agg(F.count("*").alias("_bm25_n"),
             F.coalesce(F.sum(F.size("terms")), F.lit(0)).alias("_bm25_s"))
    )


def bm25_weights_stats_df(tf: DataFrame, term_stats: DataFrame | None,
                          stats_df: DataFrame | None, k1: float = K1_DEFAULT,
                          b: float = B_DEFAULT) -> DataFrame:
    """bm25_weights with (n_docs, sum_dl) riding in as a broadcast 1-row
    DataFrame instead of Python scalars. Bit-identical weights: the
    long->double casts produce the same IEEE doubles as float(n_docs) /
    float(sum_dl) literals, and the expression tree is otherwise the
    same fixed-order math. term_stats=None means tf already carries its
    `df` column (the window form in bm25_postings); stats_df=None means
    tf already carries _bm25_n/_bm25_s (the single-scan window form)."""
    post = tf if term_stats is None else tf.join(term_stats, "term")
    if stats_df is not None:
        post = post.join(F.broadcast(stats_df))
    n = F.col("_bm25_n").cast("double")
    dfc = F.col("df").cast("double")
    idf = F.log(F.lit(1.0) + (n - dfc + F.lit(0.5)) / (dfc + F.lit(0.5)))
    avgdl = F.col("_bm25_s").cast("double") / n
    tfd = F.col("tf").cast("double")
    tf_norm = (tfd * F.lit(k1 + 1.0)) / (
        tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl)
    )
    return post.select("id", "term", "tf", "dl", "df",
                       (idf * tf_norm).alias("weight"))


def bm25_doc_rows(df: DataFrame, id_col: str = "id",
                  chunk_col: str = "chunk") -> DataFrame:
    """(id, dl) per document — the doc registry rows. Includes zero-term
    docs (which the exploded tf table cannot see), with dl coalesced to 0
    so counter arithmetic matches bm25_doc_stats' null-skipping sum."""
    return df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.size(tokenize(F.col(chunk_col))), F.lit(0)).alias("dl"),
    )


def bm25_term_stats(tf: DataFrame) -> DataFrame:
    """(term, df) from a tf table; df is exact (tf rows are unique per
    (id, term))."""
    return tf.groupBy("term").agg(F.count("*").alias("df"))


def merge_term_stats(a: DataFrame, b: DataFrame) -> DataFrame:
    """Additive merge of term stats from DISJOINT doc sets — one shuffle on
    term, O(distinct terms)."""
    return a.unionByName(b).groupBy("term").agg(F.sum("df").alias("df"))


def bm25_weights(tf: DataFrame, term_stats: DataFrame, n_docs: int, sum_dl: int,
                 k1: float = K1_DEFAULT, b: float = B_DEFAULT) -> DataFrame:
    """Derive the posting weights from CURRENT global stats — the query-time
    (or view-time) step that makes the immutable tf rows a BM25 index.
    Bit-identical to bm25_postings when given the same corpus stats."""
    post = tf.join(term_stats, "term")
    n, dfc = F.lit(float(n_docs)), F.col("df").cast("double")
    idf = F.log(F.lit(1.0) + (n - dfc + F.lit(0.5)) / (dfc + F.lit(0.5)))
    avgdl = F.lit(float(sum_dl)) / F.lit(float(n_docs))
    tfd = F.col("tf").cast("double")
    tf_norm = (tfd * F.lit(k1 + 1.0)) / (
        tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl)
    )
    return post.select("id", "term", "tf", "dl", "df", (idf * tf_norm).alias("weight"))


def bm25_postings_sql(
    table_sql: str,
    id_expr: str = "id",
    chunk_expr: str = "chunk",
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    drop_ratio_build: float = 0.0,
) -> str:
    """DuckDB oracle twin of bm25_postings (same tokenizer, same math)."""
    base = f"""
WITH _docs AS (
  SELECT {id_expr} AS id,
         list_filter(string_split_regex(lower({chunk_expr}), '\\s+'), x -> x <> '') AS terms
  FROM {table_sql}
),
_docs2 AS (SELECT id, terms, len(terms) AS dl FROM _docs),
_stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM _docs2),
_tok AS (SELECT id, dl, unnest(terms) AS term FROM _docs2),
_tf AS (SELECT id, dl, term, count(*) AS tf FROM _tok GROUP BY id, dl, term),
_df AS (SELECT term, count(*) AS df FROM _tf GROUP BY term),
_post AS (
  SELECT _tf.id, _tf.term, _tf.tf, _tf.dl, _df.df,
         ln(1.0 + (n_docs::DOUBLE - _df.df::DOUBLE + 0.5) / (_df.df::DOUBLE + 0.5))
         * (_tf.tf::DOUBLE * {k1 + 1.0!r}) /
           (_tf.tf::DOUBLE + {k1!r} * ({1.0 - b!r} + {b!r} * _tf.dl::DOUBLE
              / (sum_dl::DOUBLE / n_docs::DOUBLE))) AS weight
  FROM _tf JOIN _df USING (term) CROSS JOIN _stats
)"""
    if drop_ratio_build > 0.0:
        return base + f""",
_cut AS (SELECT floor(count(*) * {drop_ratio_build!r})::BIGINT AS k FROM _post),
_pruned AS (
  SELECT id, term, tf, dl, df, weight FROM (
    SELECT *, row_number() OVER (ORDER BY weight ASC, term ASC, id ASC) AS _rn FROM _post
  ), _cut WHERE _rn > k
)
SELECT id, term, tf, dl, df, weight FROM _pruned"""
    return base + "\nSELECT id, term, tf, dl, df, weight FROM _post"


# --- Q3 (index-free query path): direct BM25 scoring -------------------------

def sparse_scores_direct(
    df: DataFrame,
    req: SparseSearchRequest,
    id_col: str = "id",
    chunk_col: str = "chunk",
) -> DataFrame:
    """(id, _score) computed straight off the collection — no explode, no
    posting shuffle. Query terms are a driver-side constant, so per-doc term
    frequencies are plain higher-order-function expressions and the corpus
    stats (N, Σdl, df per query term) are ONE tiny aggregate broadcast back.
    Produces bit-identical scores to the posting-list path (same fixed-order
    math); the posting-list build (bm25_postings) remains the I1/scale
    artifact — at 100 TB a term-bucketed posting table turns query-term
    lookup into a pruned scan, while this path is two cheap corpus scans."""
    qterms = req.query_term_counts()
    if not qterms:
        id_t = dict(df.dtypes).get(id_col, "bigint")
        return df.sparkSession.createDataFrame([], f"id {id_t}, _score double")

    toks = tokenize(F.col(chunk_col))
    base = df.select(F.col(id_col).alias("id"), toks.alias("_toks")).withColumn(
        "_dl", F.size("_toks")
    )
    def _tf(term: str):
        # factory, not a default-arg lambda: a 2-arg lambda would make
        # F.filter pass the element INDEX as the second argument
        return F.size(F.filter(F.col("_toks"), lambda t: t == F.lit(term)))

    tf_cols = [_tf(term).alias(f"_tf{i}") for i, (term, _) in enumerate(qterms)]
    per_doc = base.select("id", "_dl", *tf_cols)

    stats_aggs = [F.count("*").alias("n_docs"), F.sum("_dl").alias("sum_dl")]
    stats_aggs += [
        F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}") for i in range(len(qterms))
    ]
    stats = per_doc.agg(*stats_aggs)

    joined = per_doc.join(F.broadcast(stats))
    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    k1, b = req.k1, req.b
    score = F.lit(0.0)
    for i, (_, c) in enumerate(qterms):
        dfc = F.col(f"_df{i}").cast("double")
        idf = F.log(F.lit(1.0) + (n - dfc + F.lit(0.5)) / (dfc + F.lit(0.5)))
        tfd = F.col(f"_tf{i}").cast("double")
        tf_norm = (tfd * F.lit(k1 + 1.0)) / (
            tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl").cast("double") / avgdl)
        )
        # same shape as the posting path: coalesce(w_i, 0) * count — here
        # w_i is 0.0 (not NULL) when tf=0, summing identically
        score = score + (idf * tf_norm) * F.lit(float(c))
    matched = sum((F.col(f"_tf{i}") for i in range(len(qterms))), F.lit(0))
    return joined.filter(matched > 0).select("id", score.alias("_score"))


def sparse_search_direct(
    df: DataFrame,
    req: SparseSearchRequest,
    id_col: str = "id",
    chunk_col: str = "chunk",
) -> DataFrame:
    """Top-k over the direct scorer: (id, rank, score) — same result shape
    and values as sparse_search(bm25_postings(df), req)."""
    scored = sparse_scores_direct(df, req, id_col, chunk_col).withColumn(
        "_score_r", F.round(F.col("_score"), RANK_DECIMALS)
    )
    return _topk_ranked(scored, req)


def _topk_ranked(scored: DataFrame, req: SparseSearchRequest) -> DataFrame:
    fetch = req.effective_limit + req.offset
    topk = scored.orderBy(F.col("_score_r").desc(), F.col("id").asc()).limit(fetch)
    if req.offset:
        w = Window.orderBy(F.col("_score_r").desc(), F.col("id").asc())
        topk = (
            topk.withColumn("_pre_rank", F.row_number().over(w))
            .filter(F.col("_pre_rank") > req.offset)
            .drop("_pre_rank")
        )
    w = Window.orderBy(F.col("_score_r").desc(), F.col("id").asc())
    dec = req.round_decimal if req.round_decimal > 0 else RANK_DECIMALS
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("id", "rank", F.round(F.col("_score"), dec).alias("score"))
    )


# --- Q3: sparse search -------------------------------------------------------

def sparse_search(
    postings: DataFrame,
    req: SparseSearchRequest,
) -> DataFrame:
    """Top-k over the posting list: (id, rank, score). Empty query (no
    tokens) returns no rows — a BM25 query needs at least one term."""
    qterms = req.query_term_counts()
    if not qterms:
        id_t = dict(postings.dtypes).get("id", "bigint")
        return postings.sparkSession.createDataFrame(
            [], f"id {id_t}, rank int, score double")

    terms = [t for t, _ in qterms]
    per_doc = _pivot_per_doc(postings.filter(F.col("term").isin(terms)), terms)
    score = F.lit(0.0)
    for i, (_, c) in enumerate(qterms):
        score = score + F.coalesce(F.col(f"_w{i}"), F.lit(0.0)) * F.lit(float(c))
    scored = per_doc.select("id", score.alias("_score")).withColumn(
        "_score_r", F.round(F.col("_score"), RANK_DECIMALS)
    )
    return _topk_ranked(scored, req)


# --- batched multi-query sparse search (r6) ----------------------------------

# IN-list pruning cap for batched blocks: below this the posting scan gets
# a static `term IN (...)` row-group-prunable filter on top of the
# broadcast (qid, term) join; above it the join alone prunes dynamically
# (a 10k-element IN stops being pushed to the parquet reader and bloats
# the plan string anyway).
_ISIN_TERM_CAP = 512

# --- max-score (WAND-family) floor pruning for heavy batched blocks (r10) ----
# docs sampled (arbitrary membership — the floor from ANY k docs is
# valid, so the sample affects prune strength only, never results)
_WAND_FLOOR_SAMPLE = 8192

# The batched scorer has two plans. PIVOT (blocks up to these caps): one
# per-doc pivot aggregation over the sorted union terms — weights are
# query-independent, so scoring each query is a LITERAL codegen
# expression over the pivot columns, exploded per qid; no (posting x
# query) join explosion (measured 90.7M joined rows for 3.2M postings x
# 64 stopword-class queries at 500k docs), and the floor filter lands
# BEFORE the only remaining shuffle. FOLD (wider blocks): the r8
# broadcast (qid, term) join + term-sorted fold — constant plan width at
# any vocabulary size.
_PIVOT_TERM_CAP = 64
_PIVOT_QID_CAP = 256
# below this many queries the fold plan's (posting x query) join carries
# no meaningful multiplicity and the pivot's explode-then-filter overhead
# loses (interleaved A/B on the 4-query q3 gate: fold 1.05 s vs pivot
# 1.26 s) — small blocks keep the fold unless the floor prune engages
_PIVOT_MIN_QIDS = 16


def _query_term_matrix(queries) -> tuple[list[str], list[tuple[int, list[int]]]]:
    """(union term list sorted, [(qid, qtf aligned to union terms)]).
    queries: (qid, query_text) pairs; tokenization identical to
    SparseSearchRequest.query_term_counts."""
    queries = list(queries)
    per_q = []
    union: set[str] = set()
    for qid, text in queries:
        tc = dict(SparseSearchRequest(query_text=text).query_term_counts())
        per_q.append((int(qid), tc))
        union.update(tc)
    terms = sorted(union)
    if len({q for q, _ in per_q}) != len(per_q):
        raise ValueError("duplicate qids in sparse query batch")
    return terms, [(q, [tc.get(t, 0) for t in terms]) for q, tc in per_q]


def _contrib_rows(pruned: DataFrame, qt: DataFrame) -> DataFrame:
    """(qid, id, term, _wq): the TRUE per-query matched contributions —
    the broadcast (qid, term, qtf) block inner-joins the pruned postings."""
    return (
        pruned.join(F.broadcast(qt), "term")
        .select("qid", "id", "term",
                (F.col("weight") * F.col("_qtf").cast("double")).alias("_wq"))
    )


def _fold_scores(contrib: DataFrame) -> DataFrame:
    """(qid, id, _score, _score_r): per-doc term-sorted deterministic fold
    — identical float order to the per-query loop and the oracle twin."""
    return (
        contrib.groupBy("qid", "id")
        .agg(F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "_wq"))),
            F.lit(0.0), lambda acc, e: acc + e["_wq"]).alias("_score"))
        .withColumn("_score_r", F.round(F.col("_score"), RANK_DECIMALS))
    )


def _rank_cut_many(scored: DataFrame, req: SparseSearchRequest) -> DataFrame:
    """Per-qid (rank, score) cut — shared by the plain and pruned plans."""
    fetch = req.effective_limit + req.offset
    w = Window.partitionBy("qid").orderBy(F.col("_score_r").desc(),
                                          F.col("id").asc())
    dec = req.round_decimal if req.round_decimal > 0 else RANK_DECIMALS
    return (
        scored.withColumn("_pre", F.row_number().over(w))
        .filter((F.col("_pre") > req.offset) & (F.col("_pre") <= fetch))
        .select("qid", "id",
                (F.col("_pre") - F.lit(req.offset)).alias("rank"),
                F.round(F.col("_score"), dec).alias("score"))
    )


def _pivot_per_doc(pruned: DataFrame, terms: list) -> DataFrame:
    """(id, _w0.._wN): each doc's weight per term (one sum per term over
    <=1 posting each per doc, so deterministic). For a block this is the
    query-INDEPENDENT half of batched scoring, one codegen sum pivot over
    the term-pruned posting scan (weights don't depend on qid, so no
    (posting x query) join ever happens on this plan)."""
    aggs = [F.sum(F.when(F.col("term") == t, F.col("weight"))).alias(f"_w{i}")
            for i, t in enumerate(terms)]
    return pruned.groupBy("id").agg(*aggs)


def _pivot_scored(per_doc: DataFrame, terms: list, qtf_rows: list) -> DataFrame:
    """(qid, id, _score, _score_r): per-query scores as LITERAL expressions
    over the pivot columns, exploded per qid. Score math is the oracle
    twin's own formulation — coalesce(_wi, 0)·qtf added in sorted union
    term order (the terms a query lacks add literal 0.0, a bitwise no-op
    on the non-negative partial sums) — so values are bit-identical to
    the per-query loop and the fold plan."""
    structs = []
    for qid, row in qtf_rows:
        score = F.lit(0.0)
        matched = F.lit(False)
        for i, (t, c) in enumerate(zip(terms, row)):  # terms are sorted
            if c > 0:
                wi = F.col(f"_w{i}")
                score = score + F.coalesce(wi, F.lit(0.0)) * F.lit(float(c))
                matched = matched | wi.isNotNull()
        structs.append(F.struct(
            F.lit(int(qid)).cast("bigint").alias("qid"),
            score.alias("_score"), matched.alias("_m")))
    ex = per_doc.select("id", F.explode(F.array(*structs)).alias("_q"))
    return (
        ex.filter(F.col("_q._m"))
        .select(F.col("_q.qid").alias("qid"), "id",
                F.col("_q._score").alias("_score"))
        .withColumn("_score_r", F.round(F.col("_score"), RANK_DECIMALS))
    )


def _floor_filter(sample_scored: DataFrame, scored: DataFrame,
                  req: SparseSearchRequest) -> DataFrame:
    """Max-score floor prune (r9 VERDICT ask #3), EXACT by construction:
    from an already-EXACTLY-scored bounded sample, take each query's
    fetch-th best rounded score as a floor θ (any k docs' scores lower-
    bound the true k-th best), and filter the full scored stream to
    _score_r >= θ BEFORE the rank window — the true top-fetch rows all
    score >= θ, so the per-qid sort collapses from |matched docs| to
    ~fetch plus ties. Sample membership affects prune strength only,
    never results; qids with fewer than fetch sampled matches get no
    floor and pass through unpruned. Plan-agnostic: both the pivot and
    fold scorers feed it."""
    from flouds_vectordb_spark.functions.local import local_df

    fetch = req.effective_limit + req.offset
    w = Window.partitionBy("qid").orderBy(F.col("_score_r").desc(),
                                          F.col("id").asc())
    theta = sorted(
        (int(r["qid"]), float(r["_score_r"]))
        for r in sample_scored.withColumn("_pre", F.row_number().over(w))
        .filter(F.col("_pre") == fetch).select("qid", "_score_r").collect())
    if not theta:
        return scored
    th_df = local_df(scored.sparkSession, theta, "qid bigint, _th double")
    return (scored.join(F.broadcast(th_df), "qid", "left")
            .filter(F.col("_th").isNull()
                    | (F.col("_score_r") >= F.col("_th")))
            .drop("_th"))


def sparse_search_many(
    postings: DataFrame,
    queries,
    req: SparseSearchRequest,
    prune: bool | None = None,
) -> DataFrame:
    """Batched BM25 over the posting table: queries is a (qid, query_text)
    sequence; returns (qid, id, rank, score) with rank 1-based per qid.
    req.query_text is IGNORED — the batch supplies the texts; every other
    knob (limit/offset/round_decimal/k1/b) applies to all queries.

    Two plans, same bit-identical results (r10, VERDICT r9 ask #3):

    PIVOT (blocks within _PIVOT_TERM_CAP x _PIVOT_QID_CAP — every
    realistic serving block): posting weights are query-independent, so
    ONE codegen pivot aggregation builds each doc's per-union-term weight
    row, and every query's score is a LITERAL expression over those
    columns, exploded per qid. No (posting x query) join ever happens —
    the r8 join plan manufactured 90.7M joined rows from 3.2M matched
    postings on a 64-query stopword-class block at 500k docs, and the
    join+fold aggregation was ~the whole cost. Score math is the oracle
    twin's own fixed-union-order weighted add: coalesce(w_i, 0)·qtf in
    sorted term order, where the terms a query lacks add literal 0.0 — a
    bitwise no-op for IEEE doubles (BM25 weights are strictly positive,
    the partial sums never hit -0.0) — so results stay bit-identical to
    looping sparse_search per query.

    FOLD (wider blocks): the r8 shape — the per-qid (term, qtf) block
    explodes to a tiny broadcast table that inner-joins the term-pruned
    posting scan (TRUE matches only), and each (qid, doc) score is an
    F.aggregate fold over its matched contributions sorted by term.
    CONSTANT plan width at any vocabulary size.

    Scale notes (100 TB): small blocks prune the posting scan with a
    static `term IN (...)` filter (term-range-sorted posting files skip
    whole row groups); above _ISIN_TERM_CAP the broadcast join is the
    (dynamic) prune. Duplicate (id, term) posting rows — an I1-invariant
    violation — degrade to a deterministic summed score in both plans.

    prune: None (default) engages the max-score floor prune when the
    posting plan's leaf bytes exceed regime.SMALL_BYTES (the one size
    probe, which also gates the fold plan's qid repartition); True/False
    force it. The floor is EXACT (_floor_filter): a sampled fetch-th
    best score lower-bounds the true one, and filtering _score_r >= θ
    before the rank window drops only rows that provably cannot place."""
    terms, qtf_rows = _query_term_matrix(queries)
    spark = postings.sparkSession
    if not terms:
        # id type follows the posting table (string for VARCHAR-pk
        # collections) so downstream joins (hybrid fuse) keep their type
        id_t = dict(postings.dtypes).get("id", "bigint")
        return spark.createDataFrame(
            [], f"qid long, id {id_t}, rank int, score double")

    pruned = postings
    if len(terms) <= _ISIN_TERM_CAP:
        pruned = postings.filter(F.col("term").isin(terms))
    small = regime.fits(postings, regime.SMALL_BYTES)
    engage = not small if prune is None else bool(prune)
    use_pivot = (len(terms) <= _PIVOT_TERM_CAP
                 and len(qtf_rows) <= _PIVOT_QID_CAP
                 and (engage or len(qtf_rows) >= _PIVOT_MIN_QIDS))
    if not use_pivot:
        # FOLD plan: constant width at any block size, and the cheaper
        # shape for small blocks (no explode-then-filter overhead). The
        # floor prune still applies when engaged (wide heavy blocks are
        # rare-term-dominated, but a forced prune must not silently
        # no-op): the sample is a bounded posting-id semi-join, scored
        # exactly through the same fold.
        from flouds_vectordb_spark.functions.local import local_df

        qt = local_df(
            spark, [(q, t, int(c)) for q, row in qtf_rows
                    for t, c in zip(terms, row) if c > 0],
            "qid bigint, term string, _qtf int")
        contrib = _contrib_rows(pruned, qt)
        if small:
            # gate-scale: hash(qid) satisfies both the score agg's
            # (qid, id) clustering (subset rule) and the rank window's
            # partitionBy(qid) — one exchange serves both stages. Gated:
            # qid-only partitioning puts one query's whole contribution
            # set on one partition, unsafe on a large posting scan.
            contrib = contrib.repartition("qid")
        if engage:
            contrib = _tracked_persist(contrib)
            sample_ids = (pruned.select("id").limit(_WAND_FLOOR_SAMPLE)
                          .dropDuplicates())
            sample_scored = _fold_scores(
                contrib.join(F.broadcast(sample_ids), "id", "leftsemi"))
            scored = _floor_filter(sample_scored, _fold_scores(contrib), req)
        else:
            scored = _fold_scores(contrib)
        return _rank_cut_many(scored, req)
    per_doc = _pivot_per_doc(pruned, terms)
    if engage:
        # the pivot table feeds both the floor sample and the full
        # scoring — persist so the posting scan happens once
        per_doc = _tracked_persist(per_doc)
    scored = _pivot_scored(per_doc, terms, qtf_rows)
    if engage:
        sample_scored = _pivot_scored(per_doc.limit(_WAND_FLOOR_SAMPLE),
                                      terms, qtf_rows)
        scored = _floor_filter(sample_scored, scored, req)
    return _rank_cut_many(scored, req)


def sparse_search_many_sql(req: SparseSearchRequest, queries,
                           postings_sql: str) -> str:
    """DuckDB oracle twin of sparse_search_many: same union-term pivot,
    same fixed-order weighted add, same per-qid window."""
    terms, qtf_rows = _query_term_matrix(queries)
    if not terms:
        return ("SELECT NULL::BIGINT AS qid, NULL::BIGINT AS id, "
                "NULL::INT AS rank, NULL::DOUBLE AS score WHERE FALSE")
    esc = lambda t: t.replace("'", "''")  # noqa: E731
    in_list = ", ".join(f"'{esc(t)}'" for t in terms)
    sums = "".join(
        f", sum(CASE WHEN term = '{esc(t)}' THEN weight END) AS _w{i}"
        for i, t in enumerate(terms))
    vals = ", ".join(
        f"({q}::BIGINT, [{', '.join(str(int(c)) for c in row)}]::INT[])"
        for q, row in qtf_rows)
    score = "0.0"
    match_any = "FALSE"
    for i in range(len(terms)):
        score += f" + coalesce(_w{i}, 0.0) * ((_qtf)[{i + 1}])::DOUBLE"
        match_any += f" OR (_w{i} IS NOT NULL AND (_qtf)[{i + 1}] > 0)"
    fetch = req.effective_limit + req.offset
    dec = req.round_decimal if req.round_decimal > 0 else RANK_DECIMALS
    return f"""
WITH _per_doc AS (
  SELECT id{sums} FROM ({postings_sql}) WHERE term IN ({in_list}) GROUP BY id
),
_qtfs AS (SELECT * FROM (VALUES {vals}) AS _q(qid, _qtf)),
_scored AS (
  SELECT qid, id, ({score}) AS _score,
         round(({score}), {RANK_DECIMALS}) AS _score_r
  FROM _per_doc CROSS JOIN _qtfs
  WHERE {match_any}
),
_ranked AS (
  SELECT qid, id, _score,
         row_number() OVER (PARTITION BY qid ORDER BY _score_r DESC, id ASC) AS _pre
  FROM _scored
)
SELECT qid, id, (_pre - {req.offset}) AS rank, round(_score, {dec}) AS score
FROM _ranked WHERE _pre > {req.offset} AND _pre <= {fetch}
"""


def sparse_scores_sql(req: SparseSearchRequest, postings_sql: str) -> str:
    """(id, _score) over a posting-list subquery — shared by Q3 and hybrid."""
    qterms = req.query_term_counts()
    if not qterms:
        return "SELECT NULL::BIGINT AS id, NULL::DOUBLE AS _score WHERE FALSE"
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t, _ in qterms)
    sums = "".join(
        f", sum(CASE WHEN term = '{t.replace(chr(39), chr(39) * 2)}' THEN weight END) AS _w{i}"
        for i, (t, _) in enumerate(qterms)
    )
    score = "0.0"
    for i, (_, c) in enumerate(qterms):
        score += f" + coalesce(_w{i}, 0.0) * {float(c)!r}"
    return f"""
SELECT id, ({score}) AS _score FROM (
  SELECT id{sums} FROM ({postings_sql}) WHERE term IN ({in_list}) GROUP BY id
)"""


def sparse_search_sql(req: SparseSearchRequest, postings_sql: str) -> str:
    """DuckDB oracle twin of sparse_search."""
    dec = req.round_decimal if req.round_decimal > 0 else RANK_DECIMALS
    fetch = req.effective_limit + req.offset
    return f"""
WITH _scored AS (
  SELECT id, _score, round(_score, {RANK_DECIMALS}) AS _score_r
  FROM ({sparse_scores_sql(req, postings_sql)})
),
_topk AS (
  SELECT * FROM _scored
  ORDER BY _score_r DESC, id ASC LIMIT {fetch - req.offset} OFFSET {req.offset}
)
SELECT id, row_number() OVER (ORDER BY _score_r DESC, id ASC) AS rank,
       round(_score, {dec}) AS score
FROM _topk
"""
